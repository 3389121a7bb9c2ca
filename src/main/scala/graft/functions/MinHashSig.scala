package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, LongType}
import org.apache.spark.unsafe.types.UTF8String

/** The MinHash permutation family shared by the engine and its oracle:
  * one [[Hash60]] digest per shingle, then per permutation p the
  * universal-hash mix `(coefA(p) · h + coefB(p)) mod (2^61 − 1)` —
  * the classic (a·h + b) mod p family (Carter–Wegman; Broder, "On the
  * resemblance and containment of documents", 1997). The engine applies
  * it through [[MinHashMix]] inside [[graft.ops.Dedup.minhashSignatures]]'
  * explode + min-aggregate shape.
  *
  * Portability (the engine's oracle-lockstep discipline,
  * [[graft.ops.Portable]]): the mix is exact 61-bit integer math, which
  * DuckDB computes bit-identically in HUGEINT; the coefficient
  * constants derive from [[Hash60]] of ("minhash_a", p)/("minhash_b", p)
  * so both engines inline the very same literals (the oracle SQL is
  * generated from [[coefA]]/[[coefB]]). A spec pins the Mersenne-fold
  * fast path against BigInt reference arithmetic.
  */
object MinHashSig {

  /** The Mersenne prime 2^61 − 1 — the mix's modulus in BOTH engines. */
  val Prime: Long = (1L << 61) - 1

  // coefficient cache, grown on demand (NumPerms is 16 in the engine
  // config; specs occasionally ask for more) — deriving per row would
  // put the MD5s right back in the hot loop
  @volatile private var cachedA: Array[Long] = new Array[Long](0)
  @volatile private var cachedB: Array[Long] = new Array[Long](0)

  private def ensure(n: Int): Unit = if (cachedA.length < n) synchronized {
    if (cachedA.length < n) {
      val a = Array.tabulate(n) { p =>
        Hash60.compute(Array(UTF8String.fromString("minhash_a"),
          UTF8String.fromString(p.toString))) + 1L // in [1, 2^60]: never 0
      }
      val b = Array.tabulate(n) { p =>
        Hash60.compute(Array(UTF8String.fromString("minhash_b"),
          UTF8String.fromString(p.toString))) // in [0, 2^60)
      }
      cachedB = b
      cachedA = a // last: ensure() gates on cachedA.length
    }
  }

  /** Permutation p's multiplier — inlined as a literal into the DuckDB
    * oracle SQL so both engines run the identical mix. */
  def coefA(p: Int): Long = { ensure(p + 1); cachedA(p) }

  /** Permutation p's addend — same contract as [[coefA]]. */
  def coefB(p: Int): Long = { ensure(p + 1); cachedB(p) }

  /** `(a·h + b) mod (2^61 − 1)` in pure 64-bit arithmetic via Mersenne
    * folding (2^61 ≡ 1, so a 128-bit value hi·2^64 + lo reduces as
    * hi·8 + (lo & p) + (lo >>> 61)). Bounds: a ≤ 2^60 and h < 2^60 ⇒
    * the product < 2^120 ⇒ hi < 2^56 ⇒ every partial sum fits a signed
    * long. Spec-pinned against BigInt reference arithmetic. */
  def mix(h: Long, a: Long, b: Long): Long = {
    val hi = Math.multiplyHigh(a, h)
    val lo = a * h
    var r = (lo & Prime) + (lo >>> 61) + (hi << 3)
    r = (r & Prime) + (r >>> 61)
    if (r >= Prime) r -= Prime
    r += b
    r = (r & Prime) + (r >>> 61)
    if (r >= Prime) r -= Prime
    r
  }
}

/** Permutation p's mix of a pre-computed [[Hash60]] base —
  * `(coefA(p)·h + coefB(p)) mod (2^61 − 1)` as a scalar expression, so
  * the relational MinHash shape ([[graft.ops.Dedup.minhashSignatures]])
  * can pay ONE digest per shingle in its own projection column and
  * derive all permutations with these (codegen'd, ~ns) mixes. Null
  * propagates from the child. */
case class MinHashMix(child: Expression, perm: Int)
    extends UnaryExpression {

  override def dataType: DataType = LongType

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case LongType if perm >= 0 => TypeCheckResult.TypeCheckSuccess
    case LongType =>
      TypeCheckResult.TypeCheckFailure(s"perm must be >= 0, got $perm")
    case t => TypeCheckResult.TypeCheckFailure(
      s"minhash_mix expects bigint, got ${t.simpleString}")
  }

  override protected def nullSafeEval(h: Any): Any =
    MinHashSig.mix(h.asInstanceOf[Long],
      MinHashSig.coefA(perm), MinHashSig.coefB(perm))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val a = MinHashSig.coefA(perm)
    val b = MinHashSig.coefB(perm)
    defineCodeGen(ctx, ev,
      h => s"graft.functions.MinHashSig.mix($h, ${a}L, ${b}L)")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object MinHashMix {
  /** Column-API entry. */
  def apply(h: Column, perm: Int)(implicit d: DummyImplicit): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    ColumnBridge.column(MinHashMix(ColumnBridge.expression(h), perm))
  }
}

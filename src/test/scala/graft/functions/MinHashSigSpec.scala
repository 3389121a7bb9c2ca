package graft.functions

import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

class MinHashSigSpec extends AnyFunSuite {

  private val M = BigInt(MinHashSig.Prime)

  test("mix == (a*h + b) mod (2^61-1) in BigInt reference arithmetic") {
    // bound-stressing operands: coefA maxes at 2^60, Hash60 at 2^60-1
    val hs = Seq(0L, 1L, 7L, (1L << 59) - 3, (1L << 60) - 1)
    val coefs = Seq(
      (1L, 0L), (1L << 60, (1L << 60) - 1),
      (MinHashSig.coefA(0), MinHashSig.coefB(0)),
      (MinHashSig.coefA(15), MinHashSig.coefB(15)))
    for (h <- hs; (a, b) <- coefs) {
      val want = ((BigInt(a) * BigInt(h) + BigInt(b)) mod M).toLong
      assert(MinHashSig.mix(h, a, b) == want,
        s"mix($h, $a, $b): got ${MinHashSig.mix(h, a, b)}, want $want")
    }
  }

  test("coefficients derive from Hash60 and are deterministic") {
    val a0 = Hash60.compute(Array(UTF8String.fromString("minhash_a"),
      UTF8String.fromString("0"))) + 1L
    assert(MinHashSig.coefA(0) == a0)
    assert(MinHashSig.coefA(3) != MinHashSig.coefA(4))
    assert((0 until 32).forall(p =>
      MinHashSig.coefA(p) >= 1 && MinHashSig.coefA(p) <= (1L << 60)))
  }
}

package graft.functions

import com.ibm.icu.lang.UCharacter
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** [[graft.ops.Text.normalize]] in one expression: Spark's `lower`, then
  * the `[a-z0-9]+` runs joined by single spaces, folded in one pass over
  * the UTF-8 bytes. Byte-identical to
  * `trim(regexp_replace(regexp_replace(lower(s), "[^a-z0-9 ]", " "), " +", " "))`
  * (TextSpec pins it): every byte of a multi-byte character is ≥ 0x80,
  * so a non-ASCII character separates runs exactly as its one-space
  * replacement does. NULL in, NULL out.
  *
  * The lower-casing is done here, not by a `Lower` node, because the
  * first `Lower` evaluation in a JVM loads Spark's
  * `CollationAwareUTF8String`, whose static initializer asks ICU for the
  * title case of all 1,114,112 code points to fill a table `lower` never
  * reads (over a second of wall time in a fresh JVM, paid inside the
  * curation job's first stage). The mapping stays Spark's own, so the
  * output cannot drift from `lower`:
  *  - a row whose bytes are all below 0x80 folds `A`–`Z` to `a`–`z`
  *    (`UTF8String.toLowerCaseAscii`, the path `lower` takes for it);
  *  - any other row is lower-cased first, with
  *    `UCharacter.toLowerCase(s.toValidString)` when
  *    `spark.sql.icu.caseMappings.enabled` is true (the default) and
  *    `UTF8String.toLowerCase` otherwise — the two bodies `lower`'s
  *    UTF8_BINARY path calls — then folded.
  * The flag is read once per expression, lazily, as `Lower` reads it.
  * The input is a UTF8_BINARY string, as every caller's is. */
case class AsciiFold(child: Expression) extends UnaryExpression {

  private lazy val icuCaseMappings = ColumnBridge.icuCaseMappings

  override def dataType: DataType = StringType
  override def prettyName: String = "ascii_fold"

  override protected def nullSafeEval(s: Any): Any =
    AsciiFold.compute(s.asInstanceOf[UTF8String], icuCaseMappings)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      s => s"graft.functions.AsciiFold.compute($s, $icuCaseMappings)")

  override protected def withNewChildInternal(
      newChild: Expression): Expression = copy(child = newChild)
}

object AsciiFold {

  def compute(s: UTF8String, icuCaseMappings: Boolean): UTF8String =
    if (s.isFullAscii) fold(s)
    else if (icuCaseMappings)
      fold(UTF8String.fromString(UCharacter.toLowerCase(s.toValidString)))
    else fold(s.toLowerCase)

  /** The `[a-z0-9]+` runs of `s`, `A`–`Z` read as `a`–`z`: after either
    * lower-casing no `A`–`Z` is left, and on an ASCII row this is
    * `toLowerCaseAscii` fused into the fold. */
  private def fold(s: UTF8String): UTF8String = {
    val base = s.getBaseObject
    val off = s.getBaseOffset
    val n = s.numBytes
    val out = new Array[Byte](n)
    var o = 0
    var gap = false
    var i = 0
    while (i < n) {
      var b = Platform.getByte(base, off + i)
      if (b >= 'A' && b <= 'Z') b = (b + ('a' - 'A')).toByte
      if ((b >= 'a' && b <= 'z') || (b >= '0' && b <= '9')) {
        if (gap && o > 0) { out(o) = ' '; o += 1 }
        gap = false
        out(o) = b
        o += 1
      } else gap = true
      i += 1
    }
    UTF8String.fromBytes(out, 0, o)
  }

  /** Column form. */
  def col(s: Column): Column =
    ColumnBridge.column(AsciiFold(ColumnBridge.expression(s)))
}

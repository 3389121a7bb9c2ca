package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** The `[a-z0-9]+` runs of a string joined by single spaces, in one pass
  * over its UTF-8 bytes: [[graft.ops.Text.normalize]]'s tail after
  * `lower`. Byte-identical to
  * `trim(regexp_replace(regexp_replace(s, "[^a-z0-9 ]", " "), " +", " "))`
  * on valid UTF-8 (TextSpec pins it): every byte of a multi-byte
  * character is ≥ 0x80, so a non-ASCII character separates runs exactly
  * as its one-space replacement does. NULL in, NULL out. */
case class AsciiFold(child: Expression) extends UnaryExpression {

  override def dataType: DataType = StringType
  override def prettyName: String = "ascii_fold"

  override protected def nullSafeEval(s: Any): Any =
    AsciiFold.compute(s.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, s => s"graft.functions.AsciiFold.compute($s)")

  override protected def withNewChildInternal(
      newChild: Expression): Expression = copy(child = newChild)
}

object AsciiFold {

  def compute(s: UTF8String): UTF8String = {
    val base = s.getBaseObject
    val off = s.getBaseOffset
    val n = s.numBytes
    val out = new Array[Byte](n)
    var o = 0
    var gap = false
    var i = 0
    while (i < n) {
      val b = Platform.getByte(base, off + i)
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

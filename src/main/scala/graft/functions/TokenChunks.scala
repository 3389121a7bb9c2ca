package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, StringType, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** [[graft.ops.Text.chunk]]'s per-row fan-out as one native loop: the
  * token array cut into consecutive runs of `c` tokens, each as the
  * struct `(chunk, n_toks)` — the run joined by single spaces (NULL
  * tokens skipped, as `concat_ws` skips them) and its length. Equal to
  * the higher-order form
  * `transform(sequence(0, (n + c - 1) div c - 1), i -> struct(
  *   concat_ws(' ', slice(toks, i * c + 1, c)), size(slice(toks, i * c + 1, c))))`
  * with `n = size(toks)` (TextSpec keeps that form and pins equality),
  * which ran interpreted and built two slices per chunk.
  *
  * `size` is Spark's `size(toks)`, a child so that a NULL token array
  * follows the session's `size(NULL)`: NULL (ANSI) makes the result
  * NULL; −1 (legacy) makes the higher-order form's descending
  * `sequence(0, (c - 2) div c - 1)` of `("", −1)` structs, reproduced
  * here. `toks` is a `split` result, never an empty array. */
case class TokenChunks(toks: Expression, size: Expression, c: Int)
    extends BinaryExpression {

  require(c > 0, s"c must be > 0, got $c")

  override def left: Expression = toks
  override def right: Expression = size
  override def dataType: DataType =
    ArrayType(TokenChunks.Chunk, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "token_chunks"

  override def eval(input: InternalRow): Any = {
    val n = size.eval(input)
    if (n == null) null
    else TokenChunks.compute(toks.eval(input).asInstanceOf[ArrayData],
      n.asInstanceOf[Int], c)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val t = toks.genCode(ctx)
    val n = size.genCode(ctx)
    ev.copy(code = code"""
      |${t.code}
      |${n.code}
      |boolean ${ev.isNull} = ${n.isNull};
      |ArrayData ${ev.value} = null;
      |if (!${ev.isNull}) {
      |  ${ev.value} = graft.functions.TokenChunks.compute(
      |    ${t.isNull} ? null : ${t.value}, ${n.value}, $c);
      |}""".stripMargin)
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(toks = newLeft, size = newRight)
}

object TokenChunks {

  val Chunk: StructType = new StructType()
    .add("chunk", StringType, nullable = false)
    .add("n_toks", IntegerType, nullable = false)

  private val Space = UTF8String.fromString(" ")

  /** The chunk structs of `toks` (`n` = its size; see the class doc for
    * a NULL `toks`). */
  def compute(toks: ArrayData, n: Int, c: Int): ArrayData = {
    if (toks == null) {
      val last = (n + c - 1) / c - 1 // the `div` bound; negative here
      val empty = new GenericInternalRow(Array[Any](UTF8String.EMPTY_UTF8, n))
      return new GenericArrayData(
        Array.fill[Any](math.abs(last) + 1)(empty))
    }
    val out = new Array[Any]((n + c - 1) / c)
    var i = 0
    while (i < out.length) {
      val from = i * c
      val len = math.min(c, n - from)
      val parts = new Array[UTF8String](len)
      var j = 0
      while (j < len) {
        parts(j) = if (toks.isNullAt(from + j)) null
                   else toks.getUTF8String(from + j)
        j += 1
      }
      out(i) = new GenericInternalRow(
        Array[Any](UTF8String.concatWs(Space, parts: _*), len))
      i += 1
    }
    new GenericArrayData(out)
  }

  /** Column form over a token array. */
  def col(toks: Column, c: Int): Column =
    ColumnBridge.column(TokenChunks(ColumnBridge.expression(toks),
      ColumnBridge.expression(org.apache.spark.sql.functions.size(toks)), c))
}

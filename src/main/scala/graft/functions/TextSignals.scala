package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{DataType, LongType, StringType, StructType}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** Every per-row gate signal of the curation funnel from ONE pass over
  * a document's UTF-8 bytes: the struct
  * `(n_tokens, n_chars, n_alpha, n_digit, n_stop, lang)`, NULL for a
  * NULL document. On valid UTF-8 each field equals a declarative form
  * (TextSpec keeps those forms as the reference and pins equality):
  *
  *  - `n_tokens` = `size(split(t, " "))` — spaces + 1;
  *  - `n_chars` = `length(t)` — stepped exactly as `UTF8String.numChars`;
  *  - `n_alpha` = chars matching `[a-z A-Z]` (the class holds the space)
  *    and `n_digit` = chars matching `[0-9]`, i.e. `length(t)` minus the
  *    length after `regexp_replace` of the class;
  *  - `n_stop` = `split(t, " ")` segments equal to a
  *    [[graft.ops.Text.EnStopwords]] word;
  *  - `lang` = the [[graft.ops.Text.LangProfile]] language with the most
  *    segment hits, ties to the smaller language, `und` when no profile
  *    word occurs — [[graft.ops.Text.languageId]]'s argmax.
  *
  * Replaces one codegen'd regex scan per language plus a struct fold
  * whose tree doubled per language (62 scans for 5 languages), the
  * stopword scan and two `regexp_replace` copies; with them the gate
  * stage's generated method grew past HotSpot's 8,000-byte compile limit
  * and ran interpreted. Code-generated as one static call. */
case class TextSignals(child: Expression) extends UnaryExpression {

  override def dataType: DataType = TextSignals.Schema
  override def nullable: Boolean = true
  override def prettyName: String = "text_signals"

  override protected def nullSafeEval(t: Any): Any =
    TextSignals.compute(t.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, t => s"graft.functions.TextSignals.compute($t)")

  override protected def withNewChildInternal(
      newChild: Expression): Expression = copy(child = newChild)
}

object TextSignals {

  val Schema: StructType = new StructType()
    .add("n_tokens", LongType, nullable = false)
    .add("n_chars", LongType, nullable = false)
    .add("n_alpha", LongType, nullable = false)
    .add("n_digit", LongType, nullable = false)
    .add("n_stop", LongType, nullable = false)
    .add("lang", StringType, nullable = false)

  /** Profile languages in ascending order (the argmax tiebreak). */
  private val Langs: Array[String] =
    graft.ops.Text.LangProfile.map(_._1).distinct.sorted.toArray
  private val LangNames: Array[UTF8String] = Langs.map(UTF8String.fromString)
  private val Und = UTF8String.fromString("und")
  private val StopBit = 1 << Langs.length

  /** A segment of at most [[MaxKeyBytes]] bytes as one long: its bytes
    * big-endian in the low bytes, its length in the top byte. */
  private val MaxKeyBytes = 7
  private def key(bytes: Array[Byte]): Long =
    bytes.foldLeft(0L)((k, b) => (k << 8) | (b & 0xFF)) |
      (bytes.length.toLong << 56)

  /** The lexicon: word keys, sorted, and each word's language bits
    * and stopword bit. */
  private val Lexicon: Array[(Long, Int)] =
    (graft.ops.Text.LangProfile.map { case (l, w) => w -> (1 << Langs.indexOf(l)) } ++
      graft.ops.Text.EnStopwords.map(_ -> StopBit))
      .groupMapReduce { case (w, _) =>
        val b = w.getBytes(java.nio.charset.StandardCharsets.UTF_8)
        require(b.nonEmpty && b.length <= MaxKeyBytes && !b.contains(' '.toByte),
          s"lexicon word '$w' must be 1..$MaxKeyBytes bytes, space-free")
        key(b)
      }(_._2)(_ | _).toArray.sortBy(_._1)
  private val Keys: Array[Long] = Lexicon.map(_._1)
  private val Masks: Array[Int] = Lexicon.map(_._2)
  private val MaxWordBytes =
    (graft.ops.Text.LangProfile.map(_._2) ++ graft.ops.Text.EnStopwords)
      .map(_.getBytes(java.nio.charset.StandardCharsets.UTF_8).length).max

  /** One left-to-right pass; see the class doc for each field. */
  def compute(t: UTF8String): InternalRow = {
    val base = t.getBaseObject
    val off = t.getBaseOffset
    val n = t.numBytes
    val hits = new Array[Int](Langs.length)
    var tokens = 1L
    var chars = 0L
    var alpha = 0L
    var digit = 0L
    var stop = 0L
    var nextChar = 0
    var segStart = 0
    var segKey = 0L
    var i = 0
    while (i <= n) {
      val b: Byte = if (i < n) Platform.getByte(base, off + i) else ' '
      if (b == ' ') {
        val len = i - segStart
        if (len > 0 && len <= MaxWordBytes) {
          val k = java.util.Arrays.binarySearch(Keys, segKey | (len.toLong << 56))
          if (k >= 0) {
            val m = Masks(k)
            if ((m & StopBit) != 0) stop += 1
            var l = 0
            while (l < hits.length) {
              if ((m & (1 << l)) != 0) hits(l) += 1
              l += 1
            }
          }
        }
        segStart = i + 1
        segKey = 0L
        if (i < n) { tokens += 1; alpha += 1 }
      } else {
        if ((b >= 'a' && b <= 'z') || (b >= 'A' && b <= 'Z')) alpha += 1
        else if (b >= '0' && b <= '9') digit += 1
        segKey = (segKey << 8) | (b & 0xFF)
      }
      if (i == nextChar && i < n) {
        chars += 1
        nextChar = i + UTF8String.numBytesForFirstByte(b)
      }
      i += 1
    }
    var best = -1
    var bestHits = 0
    var l = 0
    while (l < hits.length) {
      if (hits(l) > bestHits) { best = l; bestHits = hits(l) }
      l += 1
    }
    new GenericInternalRow(Array[Any](tokens, chars, alpha, digit, stop,
      if (best < 0) Und else LangNames(best)))
  }

  /** Column form: the signals struct of a string column. */
  def col(text: Column): Column =
    ColumnBridge.column(TextSignals(ColumnBridge.expression(text)))
}

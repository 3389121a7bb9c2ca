package perfbench

import java.util.SplittableRandom
import java.io.File
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** Seeded input generator. Every table is a pure function of
  * (seed, size): the same seed gives the same rows. Sizes and planted
  * rates are constants here and are stated in README.md. */
object Gen {

  private def rng(seed: Long, salt: Long) = new SplittableRandom(seed * 1000003L + salt)

  /** Rank in 1..n with P(k) ~ 1/k (log-uniform), the Zipf popularity
    * shape of product and word frequencies. */
  private def zipf(r: SplittableRandom, n: Int): Int =
    math.min(n, math.exp(r.nextDouble() * math.log(n + 1.0)).toInt.max(1))

  // ---- prod2vec_train: lineitem / part shaped baskets ------------------

  val Baskets = 5000         // orders
  val Parts = 2000           // catalogue size, Zipf popularity
  val MaxBasket = 7          // lines per basket: uniform 1..7 (mean 4)

  /** `lineitem` (l_orderkey, l_partkey, l_linenumber, l_quantity) and a
    * six-column `part` (the pipeline's column-count gate), staged as
    * `<dir>/lineitem.parquet` and `<dir>/part.parquet`. */
  def baskets(spark: SparkSession, seed: Long, dir: String): Unit = {
    import spark.implicits._
    val r = rng(seed, 1)
    val lines = for {
      o <- 1 to Baskets
      n = 1 + r.nextInt(MaxBasket)
      l <- 1 to n
    } yield (o.toLong, zipf(r, Parts).toLong, l, 1.0 + r.nextInt(50))
    lines.toDF("l_orderkey", "l_partkey", "l_linenumber", "l_quantity")
      .repartition(4).write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val p = rng(seed, 2)
    (1 to Parts).map { k =>
      (k.toLong, s"part ${syllables(p, 3)}", s"Brand#${1 + p.nextInt(50)}",
        s"type ${p.nextInt(150)}", 1 + p.nextInt(50), 900.0 + p.nextInt(1100))
    }.toDF("p_partkey", "p_name", "p_brand", "p_type", "p_size", "p_retailprice")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/part.parquet")
  }

  // ---- corpus_curate: documents with planted duplicates ----------------

  val Docs = 2000
  val Vocab = 3000
  val ExactDupRate = 0.02    // verbatim copy of an earlier document
  val NearDupRate = 0.04     // copy with every 10th token redrawn
  val JunkRate = 0.05        // under 10 tokens: fails the quality gate
  private val LangMix = Seq("en" -> 0.5, "de" -> 0.65, "fr" -> 0.8, "es" -> 0.9, "zh" -> 1.0)
  private val Stop = Map(
    "en" -> Array("the", "a", "of", "and", "is", "to", "in"),
    "de" -> Array("der", "die", "und", "das", "ist"),
    "fr" -> Array("le", "la", "et", "les", "est"),
    "es" -> Array("el", "los", "que", "y", "es"),
    "zh" -> Array("的", "是", "了", "在", "不"))

  private def syllables(r: SplittableRandom, n: Int): String = {
    val cs = "bcdfghklmnprstvz"; val vs = "aeiou"
    (0 until n).map(_ => s"${cs.charAt(r.nextInt(cs.length))}${vs.charAt(r.nextInt(vs.length))}").mkString
  }

  /** `documents` (doc_id, text, lang, source). */
  def documents(spark: SparkSession, seed: Long): DataFrame = {
    import spark.implicits._
    val r = rng(seed, 3)
    val words = Array.fill(Vocab)(syllables(r, 2 + r.nextInt(3)))
    def token(lang: String): String =
      if (r.nextDouble() < 0.15) { val s = Stop(lang); s(r.nextInt(s.length)) }
      else words(zipf(r, Vocab) - 1)
    val texts = new Array[(String, String)](Docs)
    for (i <- 0 until Docs) {
      val u = r.nextDouble()
      texts(i) =
        if (i > 0 && u < ExactDupRate) texts(r.nextInt(i))
        else if (i > 0 && u < ExactDupRate + NearDupRate) {
          val (t, lang) = texts(r.nextInt(i))
          (t.split(" ").zipWithIndex.map { case (w, j) =>
            if (j % 10 == 9) token(lang) else w }.mkString(" "), lang)
        } else {
          val v = r.nextDouble()
          val lang = LangMix.find(v < _._2).get._1
          val n = if (r.nextDouble() < JunkRate) 2 + r.nextInt(7) else 12 + r.nextInt(110)
          (Seq.fill(n)(token(lang)).mkString(" "), lang)
        }
    }
    texts.toSeq.zipWithIndex.map { case ((t, lang), i) =>
      (i.toLong + 1, t, lang, s"src${i % 20}")
    }.toDF("doc_id", "text", "lang", "source")
  }

  // ---- event_stream: time-ordered click events -------------------------

  val Files = 20
  val EventsPerFile = 2500
  val Users = 5000
  val DayNs = 86400L * 1000000000L
  val T0Ns = 1700000000L * 1000000000L  // 2023-11-14T22:13:20Z

  /** `events` (event_id, ts epoch-ns, user_id, event_type, value) over
    * one day, staged as [[Files]] parquet files `slice-NNN.parquet`, one
    * time slice each, so landing them in name order keeps event time in
    * order and no event is late. Values are whole cents. */
  def events(spark: SparkSession, seed: Long, dir: String): Unit = {
    import spark.implicits._
    val r = rng(seed, 4)
    val sliceNs = DayNs / Files
    val types = Array("view", "cart", "buy", "search")
    val tmp = s"$dir.tmp"
    (0 until Files * EventsPerFile).map { i =>
      val f = i / EventsPerFile
      (f, i.toLong + 1, T0Ns + f * sliceNs + (r.nextDouble() * sliceNs).toLong,
        1L + zipf(r, Users), types(r.nextInt(types.length)), (1 + r.nextInt(10000)) / 100.0)
    }.toDF("slice", "event_id", "ts", "user_id", "event_type", "value")
      .repartition(col("slice")).write.mode("overwrite").partitionBy("slice").parquet(tmp)
    val out = new File(dir)
    Option(out.listFiles()).foreach(_.foreach(_.delete()))
    out.mkdirs()
    for (f <- 0 until Files) {
      val part = new File(s"$tmp/slice=$f").listFiles().filter(_.getName.endsWith(".parquet"))
      require(part.length == 1, s"slice $f staged as ${part.length} files")
      java.nio.file.Files.move(part.head.toPath, new File(out, f"slice-$f%03d.parquet").toPath)
    }
  }
}

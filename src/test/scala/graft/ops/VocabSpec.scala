package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Pins vocab semantics (`data_prep.py:47-105`): top-K with deterministic
  * tiebreak (SURVEY N2), UNK-at-0 reservation, OOV recode. */
class VocabSpec extends SparkSpec {
  import spark.implicits._

  // vocab_ties fixture: 30×3, {10,20}×2 (tie), {40,50}×1 (tie)
  private lazy val ties = Seq(
    30L, 30L, 30L, 20L, 20L, 10L, 10L, 50L, 40L
  ).map(Tuple1(_)).toDF("product_id")

  test("A2 topK: frequency order with (cnt DESC, id ASC) tiebreak") {
    val v = Vocab.topK(ties, "product_id", 5).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(v.toSeq === Seq((30L, 3L), (10L, 2L), (20L, 2L), (40L, 1L)))
  }

  test("A3 withIndex: dense indices 1..K-1, frequency-ranked") {
    val v = Vocab.withIndex(Vocab.topK(ties, "product_id", 5))
      .orderBy("idx").collect()
      .map(r => (r.getAs[Long]("product_id"), r.getAs[Int]("idx")))
    assert(v.toSeq === Seq((30L, 1), (10L, 2), (20L, 3), (40L, 4)))
  }

  test("J4 encode: in-vocab → dense idx, OOV → 0") {
    val vocab = Vocab.withIndex(Vocab.topK(ties, "product_id", 3))
    val enc = Vocab.encode(ties, "product_id", vocab)
    val got = enc.groupBy("product_id", "idx").count()
      .orderBy("product_id").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    assert(got.toSeq === Seq((10L, 2, 2L), (20L, 0, 2L), (30L, 1, 3L),
      (40L, 0, 1L), (50L, 0, 1L)))
  }

  test("vocab of fixture lineitem: idx dense, no gaps, UNK absent") {
    val li = Sources.table(spark, sf("sf0.001"), "lineitem")
    val v = Vocab.withIndex(Vocab.topK(li, "l_partkey", 50))
    val idxs = v.select("idx").as[Int].collect().sorted
    assert(idxs.toSeq === (1 to 49))
  }
}

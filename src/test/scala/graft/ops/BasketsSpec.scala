package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Pins basket semantics from the reference (`data_prep.py:17-44`):
  * group-collect, and Apriori triple mining. */
class BasketsSpec extends SparkSpec {
  import spark.implicits._

  // baskets_mini (FIXTURES.md §2): 1-item basket, long basket, dup items.
  private lazy val mini = Seq(
    (1L, 10L), // single-item basket
    (2L, 10L), (2L, 20L), (2L, 20L), (2L, 30L), // dup product within basket
    (3L, 1L), (3L, 2L), (3L, 3L), (3L, 4L), (3L, 5L), (3L, 6L), (3L, 7L)
  ).toDF("order_id", "product_id")

  test("A1 group-collect: one row per basket, multiset preserved") {
    val b = Baskets.sortedBaskets(mini, "order_id", "product_id")
      .orderBy("order_id").collect()
    assert(b.length === 3)
    assert(b(0).getAs[Seq[Long]]("basket") === Seq(10L))
    assert(b(1).getAs[Seq[Long]]("basket") === Seq(10L, 20L, 20L, 30L))
  }

  test("frequentTriples: exact support counting; Apriori prune is " +
      "loss-free; support monotone under the pair supports") {
    val bi = Seq(
      (1L, 1L), (1L, 2L), (1L, 3L),
      (2L, 1L), (2L, 2L), (2L, 3L), (2L, 4L),
      (3L, 1L), (3L, 2L), (3L, 4L),
      (4L, 5L) // lone item: never in a triple
    ).toDF("bk", "item")
    val r = Baskets.frequentTriples(bi, "bk", "item", 2L)
      .orderBy("item_a", "item_b", "item_c")
      .as[(Long, Long, Long, Long)].collect()
    assert(r.toSeq == Seq((1L, 2L, 3L, 2L), (1L, 2L, 4L, 2L)))
    // support 3: only the {1,2} pair reaches 3 baskets, no triple does
    assert(Baskets.frequentTriples(bi, "bk", "item", 3L).count() == 0L)
    // duplicate (basket, item) rows never double-count support
    val dup = bi.union(bi)
    val rd = Baskets.frequentTriples(dup, "bk", "item", 2L)
      .orderBy("item_a", "item_b", "item_c")
      .as[(Long, Long, Long, Long)].collect()
    assert(rd.toSeq == r.toSeq)
  }
}

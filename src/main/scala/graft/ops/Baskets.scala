package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Basket construction (SURVEY.md §2.4 A1). The reference's shuffle
  * and length cap (A6', P7) live in [[Pairs.orderedBaskets]].
  *
  * Reference: `pipeline/data_preprocessing/data_prep.py:17-44`
  * (`create_prod_lists` — pandas groupby → list-of-lists).
  *
  * Spark shape: one hash aggregation keyed on the basket id. At 100 TB this
  * is the pipeline's first shuffle; everything downstream that is keyed on
  * the same id (pair generation) reuses the partitioning, so the groupBy
  * here sets the layout for the whole stage.
  */
object Baskets {

  /** A1 canonical variant: items sorted ascending within the basket —
    * deterministic, oracle-friendly. */
  def sortedBaskets(df: DataFrame, basketCol: String, itemCol: String): DataFrame =
    df.groupBy(col(basketCol))
      .agg(sort_array(collect_list(col(itemCol))).as("basket"))

  /** Basket length distribution — the sanity profile a data team reads
    * before choosing a basket-length cap (q222): one row per distinct
    * size of the `basket` array column with the basket count. One
    * map-side-combined groupBy over sizes already in hand — no re-scan
    * of the item stream. */
  def lengthHistogram(baskets: DataFrame): DataFrame =
    baskets.select(size(col("basket")).cast("long").as("basket_len"))
      .groupBy("basket_len").agg(count(lit(1)).as("n_baskets"))

  /** Frequent item triples by the Apriori level-wise prune (Agrawal &
    * Srikant, VLDB'94): a triple can only reach `minSupport` baskets
    * if all three of its pairs do, so candidates are generated by
    * joining the FREQUENT-pair list with itself on the leading item
    * and semi-joining the third pair — the blowup control that makes
    * level-3 mining feasible where a naive 3-way basket self-join is
    * cubic in basket width. Items within a triple are ordered
    * (a < b < c), so each set is counted once.
    *
    * Shape: one distinct (basket, item) frame; frequent pairs from
    * the q14-style ordered self-join with an early count filter; the
    * candidate join and the counting joins are all equi-keyed on
    * basket/item ids; counts exact. Monotonicity (support(triple) ≤
    * min over its pairs) is the spec law. Returns
    * (item_a, item_b, item_c, support) for support ≥ `minSupport`. */
  def frequentTriples(pairs: DataFrame, basketCol: String,
                      itemCol: String, minSupport: Long): DataFrame = {
    require(minSupport >= 1, s"minSupport must be >= 1, got $minSupport")
    val bi = pairs.select(col(basketCol).as("b"), col(itemCol).as("i"))
      .distinct()
    val fp = Barrier.cut(bi.toDF("b", "ia")
      .join(bi.toDF("b", "ib"), Seq("b"))
      .filter(col("ia") < col("ib"))
      .groupBy(col("ia"), col("ib"))
      .agg(count(lit(1)).as("__s"))
      .filter(col("__s") >= minSupport)
      .select(col("ia"), col("ib")))
    // candidates (a<b<c): frequent (a,b) x frequent (a,c) with b<c,
    // kept only when (b,c) is also frequent — the Apriori prune
    val cand = fp.toDF("a", "b")
      .join(fp.toDF("a", "c"), Seq("a"))
      .filter(col("b") < col("c"))
      .join(fp.toDF("b", "c"), Seq("b", "c"), "left_semi")
    cand
      .join(bi.toDF("bk", "a"), Seq("a"))
      .join(bi.toDF("bk", "b"), Seq("bk", "b"), "left_semi")
      .join(bi.toDF("bk", "c"), Seq("bk", "c"), "left_semi")
      .groupBy(col("a").as("item_a"), col("b").as("item_b"),
        col("c").as("item_c"))
      .agg(count(lit(1)).as("support"))
      .filter(col("support") >= minSupport)
  }
}

package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Vocabulary build + integer encoding (SURVEY.md §2.4 A2-A4, §2.3 J4).
  *
  * Reference: `pipeline/data_preprocessing/data_prep.py:47-105`
  * (`create_data`): `Counter(prod_list).most_common(num_prods - 1)` with
  * `["UNK", -1]` prepended, dense indices assigned in descending-frequency
  * insertion order (UNK = 0), then every basket recoded through the dict
  * with out-of-vocabulary items mapped to 0 and counted.
  *
  * Deviations pinned deliberately (SURVEY.md N2): `most_common` breaks
  * count-ties by first-seen order, which is not reproducible under a
  * parallel scan — we pin the total order `(count DESC, product_id ASC)`.
  *
  * Scale posture: the vocab is top-K of a hash aggregation — partial
  * (map-side) + final agg then a `TakeOrderedAndProject` top-K, never a
  * full sort of the distinct-key set. The finished vocab is K rows
  * (≤ 35k in the reference) and is ALWAYS broadcast on the recode join —
  * the fact table side never shuffles for it.
  */
object Vocab {

  /** Reserved dense index for out-of-vocabulary items
    * (`data_prep.py:82-83`: `dictionary` seeded with `UNK → 0`). */
  val UnkIndex: Int = 0

  /** A2: frequency count + top-(K-1), tiebreak (count DESC, id ASC).
    * Output: (product_id, cnt) — the `count` list sans its UNK head row. */
  def topK(df: DataFrame, itemCol: String, numProds: Int): DataFrame =
    df.groupBy(col(itemCol).as("product_id"))
      .agg(count(lit(1)).as("cnt"))
      .orderBy(desc("cnt"), asc("product_id"))
      .limit(numProds - 1)

  /** A3: dense index assignment — row_number in (cnt DESC, id ASC) order,
    * UNK reserved at index 0 (so real items get 1..K-1).
    *
    * The window runs over the ≤K-row vocab only (single partition is fine
    * at K ≤ a few million); deliberately NOT `monotonically_increasing_id`
    * (non-dense) nor `StringIndexer` (no UNK-at-0 reservation).
    * Output: (product_id, cnt, idx).
    */
  def withIndex(vocabCounts: DataFrame): DataFrame =
    vocabCounts.withColumn("idx",
      row_number().over(Window.orderBy(desc("cnt"), asc("product_id"))))

  /** J4 + A4: integer-encode a fact table through the vocab with UNK → 0.
    *
    * The pandas per-element `dictionary[prod] if prod in dictionary else 0`
    * (`data_prep.py:91-103`) is a broadcast left-outer equi-join +
    * `coalesce(idx, 0)`. The fact side streams; no shuffle.
    * Appends column `idx` to `df`.
    */
  def encode(df: DataFrame, itemCol: String, vocab: DataFrame): DataFrame = {
    val dict = vocab.filter(col("idx") =!= UnkIndex)
      .select(col("product_id").as("__vk"), col("idx"))
    df.join(broadcast(dict), df(itemCol) === col("__vk"), "left")
      .withColumn("idx", coalesce(col("idx"), lit(UnkIndex)))
      .drop("__vk")
  }
}

package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Skip-gram training-pair generation (SURVEY.md §2.5 A8-A11) — the
  * semantic heart of the reference (`generate_training_data`,
  * `pipeline/data_preprocessing/data_prep.py:108-201`).
  *
  * Reference semantics per basket: shuffle → cap at `max_basket_length` →
  * `tf.keras.preprocessing.sequence.skipgrams(sequence, vocabulary_size,
  * sampling_table, window_size=W, negative_samples=0)` → for each positive
  * `(target, context)` pair draw `num_ns` log-uniform negatives
  * (`tf.random.log_uniform_candidate_sampler`). Keras `skipgrams` never
  * emits pairs where either side is index 0 (padding == our UNK) and
  * subsamples frequent *targets* via the Zipf sampling table.
  *
  * Spark shape — NO join, NO extra shuffle: pair generation is a per-row
  * array expansion over the already-grouped basket table. The only shuffle
  * in the whole pipeline is the basket groupBy (and the final co-occurrence
  * agg if requested); at 100 TB the pair stream never materializes on the
  * driver (the reference's global Python lists, `data_prep.py:147-148`).
  *
  * Every "random" decision is keyed off [[Portable]] hashes, so pair sets
  * are deterministic and DuckDB-oracle-able (SURVEY.md §7.5 risk 1).
  */
object Pairs {

  /** A8: Zipf-rank subsampling table — same construction as
    * `tf.keras.preprocessing.sequence.make_sampling_table` (word frequency
    * under Zipf approximated by `1 / (rank·(ln(rank)+γ) + 0.5 −
    * 1/(12·rank))`, keep-probability `min(1, sqrt(sampling_factor ·
    * inv_freq))`). Two deliberate deviations from Keras defaults: we use
    * the full Euler–Mascheroni constant γ = 0.5772156649015329 where Keras
    * hardcodes 0.577, and our default `samplingFactor` is 1e-3 (Keras:
    * 1e-5, tuned for 35k-word corpora — see
    * `Prod2VecQueries.SamplingFactor`), so keep probabilities differ
    * slightly from Keras output. Index 0 (UNK) gets keep probability
    * 0 — Keras never samples padding.
    *
    * Returns one row per idx in [0, size): (idx, keep_prob). Tiny table —
    * broadcast by construction.
    */
  def samplingTable(spark: SparkSession, size: Int,
                    samplingFactor: Double = 1e-3): DataFrame = {
    spark.range(0, size).toDF("idx")
      .withColumn("keep_prob", when(col("idx") === 0, lit(0.0)).otherwise(
        least(lit(1.0), sqrt(lit(samplingFactor) *
          (col("idx") * (log(col("idx")) + lit(0.5772156649015329)) +
            lit(0.5) - lit(1.0) / (lit(12.0) * col("idx")))))))
  }

  /** DuckDB SQL CTE producing the identical sampling table. */
  def samplingTableSql(size: Int, samplingFactor: Double = 1e-3): String =
    s"""SELECT idx, CASE WHEN idx = 0 THEN 0.0 ELSE
       |  least(1.0, sqrt($samplingFactor *
       |    (idx * (ln(idx) + 0.5772156649015329) + 0.5 - 1.0/(12.0*idx))))
       |  END AS keep_prob
       |FROM (SELECT unnest(generate_series(0, ${size - 1})) AS idx)""".stripMargin

  /** Positional item sequences: one row per (basket, pos, idx) with dense
    * 0-based positions in `orderCols` order, truncated at `maxLen` (P7).
    * Input must already carry the integer-encoded item in `idxCol`.
    *
    * This subsumes A6' (the reference's `random.shuffle`): pass a seeded
    * [[Portable.seededHash]] as the leading order column and positions ARE
    * a deterministic shuffle. `orderCols` must be a total order up to rows
    * with equal item value (ties between identical items permute identical
    * positions — pair set invariant).
    *
    * This is the relational (exploded) form of the basket sequence — the
    * shape both the Spark pair generator and the DuckDB oracle agree on. */
  def positions(encoded: DataFrame, basketCol: String, idxCol: String,
                orderCols: Seq[org.apache.spark.sql.Column],
                maxLen: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    encoded
      .withColumn("pos",
        row_number().over(
          Window.partitionBy(col(basketCol)).orderBy(orderCols: _*)) - 1)
      .filter(col("pos") < maxLen)
      .select(col(basketCol).as("order_id"), col("pos"),
        col(idxCol).cast("int").as("item"))
  }

  /** A6'+P7 array form: position-ordered, truncated basket arrays from an
    * integer-encoded fact table — ONE shuffle (the groupBy); the
    * deterministic shuffle A6' is the in-array sort by the seeded-hash
    * sort keys, and positions are array indices. Bit-identical positions
    * to [[positions]] with the same `sortKeys` (ties between equal sort
    * keys can only involve equal items when the keys include the item id,
    * so the sequence is well-defined).
    *
    * This is the 100 TB shape: [[positions]]' window + [[skipGramPairs]]'
    * self-join both re-shuffle and re-sort the fact table per reference;
    * here everything after the single groupBy is a per-row array
    * expression. Output: (order_id, basket: array<int>). */
  def orderedBaskets(encoded: DataFrame, basketCol: String, itemCol: String,
                     sortKeys: Seq[org.apache.spark.sql.Column],
                     maxLen: Int): DataFrame =
    encoded
      .groupBy(col(basketCol).as("order_id"))
      .agg(slice(array_sort(collect_list(
          struct(sortKeys :+ col(itemCol).cast("int").as("__item"): _*))),
        1, maxLen).as("__seq"))
      .select(col("order_id"),
        expr("transform(__seq, s -> s.__item)").as("basket"))

  /** A9: skip-gram positive pairs from positional sequences — all ordered
    * pairs (target, context) with `0 < |pos_t − pos_c| ≤ window` and
    * neither side UNK (Keras zero-index rule, SURVEY.md §7.5 risk 4).
    *
    * Implemented as a self-join banded on position. Spark co-partitions
    * both sides on order_id (one shuffle, reused from the upstream
    * row_number window); the band predicate keeps it near-linear:
    * ≤ 2W pairs per item.
    */
  def skipGramPairs(seq: DataFrame, window: Int): DataFrame = {
    val t = seq.select(col("order_id"), col("pos").as("pos_t"),
      col("item").as("target"))
    val c = seq.select(col("order_id"), col("pos").as("pos_c"),
      col("item").as("context"))
    t.join(c, Seq("order_id"))
      .filter(col("pos_t") =!= col("pos_c"))
      .filter(abs(col("pos_t") - col("pos_c")) <= window)
      .filter(col("target") =!= 0 && col("context") =!= 0)
      .select(col("order_id"), col("pos_t"), col("pos_c"),
        col("target"), col("context"))
  }

  /** A9 zero-shuffle variant: pair generation as a per-row array expansion
    * over the basket-array table (`order_id`, `basket: array<int>`).
    * Identical pair set to [[skipGramPairs]]; no join, no shuffle — the
    * form to prefer at scale. Baskets must already be truncated (P7). */
  def skipGramPairsFromBaskets(baskets: DataFrame, window: Int): DataFrame =
    baskets
      .select(col("order_id"),
        posexplode(col("basket")).as(Seq("pos_t", "target")),
        col("basket"))
      .filter(col("target") =!= 0)
      .select(col("order_id"), col("pos_t"), col("target"),
        explode(expr(
          s"""filter(
             |  transform(
             |    sequence(greatest(0, pos_t - $window),
             |             least(size(basket) - 1, pos_t + $window)),
             |    j -> struct(j AS pos_c, basket[j] AS context)),
             |  s -> s.pos_c != pos_t AND s.context != 0)""".stripMargin))
          .as("c"))
      .select(col("order_id"), col("pos_t"), col("c.pos_c").as("pos_c"),
        col("target"), col("c.context").as("context"))

  /** A8 applied: drop pairs whose *target* fails the subsampling draw —
    * keyed uniform `< keep_prob(target)` (reference:
    * `sampling_table[target]` gating inside Keras skipgrams). */
  def subsample(pairs: DataFrame, sampling: DataFrame): DataFrame =
    pairs
      .join(broadcast(sampling.withColumnRenamed("idx", "target")),
        Seq("target"))
      .filter(Portable.unif(col("order_id"), col("pos_t"), col("target"))
        < col("keep_prob"))
      .drop("keep_prob")

  /** A10: log-uniform ("Zipf") negative sampling —
    * `tf.random.log_uniform_candidate_sampler(..., num_sampled=numNs,
    * range_max=rangeMax)`: class k drawn with
    * `P(k) = (ln(k+2) − ln(k+1)) / ln(rangeMax+1)`, i.e.
    * `k = floor(exp(u · ln(rangeMax+1))) − 1` for uniform u.
    *
    * Deviations from TF, both deliberate: draws are keyed-hash
    * deterministic (reproducible across engines), and we draw exactly
    * `numNs` with replacement per pair rather than rejection-sampling to
    * uniqueness (`unique=True`) — accidental hits on the true context are
    * kept in both (TF does not reject them either).
    *
    * Appends `negatives: array<int>` (values in [0, rangeMax)).
    */
  def negatives(pairs: DataFrame, numNs: Int, rangeMax: Int): DataFrame = {
    val draws = (0 until numNs).map { k =>
      val u = Portable.unif(col("order_id"), col("pos_t"), col("pos_c"),
        lit(k))
      least(lit(rangeMax - 1),
        floor(exp(u * lit(math.log(rangeMax.toDouble + 1.0)))).cast("int")
          - lit(1))
    }
    pairs.withColumn("negatives", array(draws: _*))
  }

  /** Skew lever for the co-occurrence aggregation (SURVEY.md §7.4 "salt
    * skewed product_id hot keys"): two-stage salted count over arbitrary
    * key columns.
    *
    * Stage 1 aggregates on (keys…, salt) — a hot key's rows spread over
    * `salts` reducer partitions — stage 2 sums the partials on the keys
    * alone. Counts are algebraic, so the result is IDENTICAL to the
    * direct `groupBy(keys).count()` (PairsSpec proves it on the real
    * pair stream); the extra stage shuffles only partial rows (≤ `salts`
    * per key), never the raw stream.
    *
    * When to reach for it: Spark's partial (map-side) aggregation
    * already caps a hot key's shuffled rows at one partial per map
    * partition — fine for `count`/`sum` at moderate parallelism. Salting
    * matters when (a) the final-stage reducer owning the hot key still
    * concentrates too many partials (10k+ map partitions at 100 TB), or
    * (b) the aggregate is NOT map-side combinable (`collect_list`,
    * exact `count(DISTINCT)`), where every raw row of the hot key lands
    * on one reducer. AQE skew handling splits sort-merge-join
    * partitions, not aggregation hot keys — this is the
    * aggregation-side lever. The salt is a keyed [[Portable]] hash of
    * row-identity columns, so placement is deterministic and
    * reproducible across runs.
    */
  def saltedCounts(df: DataFrame, keyCols: Seq[String],
                   rowIdCols: Seq[org.apache.spark.sql.Column],
                   salts: Int): DataFrame = {
    require(salts >= 1, s"salts must be >= 1, got $salts")
    val keys = keyCols.map(col)
    df.withColumn("__salt",
        pmod(Portable.seededHash(rowIdCols: _*), lit(salts.toLong)))
      .groupBy(keys :+ col("__salt"): _*)
      .agg(count(lit(1)).as("__partial"))
      .groupBy(keys: _*)
      .agg(sum(col("__partial")).as("cnt"))
  }

  /** A11: context/label tensor assembly — one row per positive pair:
    * `contexts = [context, neg_1..neg_numNs]`,
    * `labels = [1, 0 × numNs]` (`data_prep.py:188-199`). */
  def assemble(pairsWithNegs: DataFrame, numNs: Int): DataFrame =
    pairsWithNegs
      .withColumn("contexts",
        concat(array(col("context")), col("negatives")))
      .withColumn("labels",
        array(lit(1) +: Seq.fill(numNs)(lit(0)): _*))
      .select(col("order_id"), col("pos_t"), col("pos_c"), col("target"),
        col("contexts"), col("labels"))

  /** Association-rule mining over transactions (Agrawal & Srikant,
    * VLDB'94's support/confidence plus lift) — the DIRECTIONAL
    * complement of the co-occurrence counts the skip-gram path
    * aggregates: `conf(a→b) = P(b|a)` is asymmetric (diapers→beer ≠
    * beer→diapers), and `lift > 1` separates genuine affinity from
    * two-popular-items coincidence. The retail-domain twin of
    * [[graft.ops.Text.pmiCollocations]] (PMI = ln lift), over BASKET
    * membership instead of adjacency.
    *
    * Per ordered pair (a→b) of items co-present in ≥ `minOrders`
    * transactions: transaction counts (n_orders, c_a, c_b, c_ab — all
    * exact, per-transaction DISTINCT so a twice-bought item counts
    * once), support = c_ab/N, confidence = c_ab/c_a, lift =
    * N·c_ab/(c_a·c_b) — each ONE pinned double chain over exact
    * BIGINTs, 9 dp.
    *
    * Shape: distinct (txn, item) → per-txn pair expansion (an equi
    * self-join on the txn key, fan-out basket², the skip-gram class —
    * cap baskets upstream like [[orderedBaskets]] if a degenerate txn
    * could be huge) → one (a,b) hash agg; item counts are a second agg
    * on the same distinct frame behind a [[Barrier]] (feeding both
    * endpoint joins without recompute); N broadcasts as a 1-row agg.
    * Returns (antecedent, consequent, n_orders, c_a, c_b, c_ab,
    * support, confidence, lift). */
  def associationRules(txns: DataFrame, txnCol: String, itemCol: String,
                       minOrders: Long): DataFrame = {
    require(minOrders >= 1, s"minOrders must be >= 1, got $minOrders")
    val ti = Barrier.cut(
      txns.select(col(txnCol).as("__t"), col(itemCol).as("__i")).distinct())
    val pairCnt = ti.toDF("__t", "a").join(ti.toDF("__t", "b"), Seq("__t"))
      .filter(col("a") =!= col("b"))
      .groupBy(col("a"), col("b")).agg(count(lit(1)).as("c_ab"))
      .filter(col("c_ab") >= minOrders)
    val itemCnt = ti.groupBy(col("__i")).agg(count(lit(1)).as("__c"))
    val n = ti.select(col("__t")).distinct().agg(count(lit(1)).as("n_orders"))
    pairCnt
      .join(itemCnt.select(col("__i").as("a"), col("__c").as("c_a")),
        Seq("a"))
      .join(itemCnt.select(col("__i").as("b"), col("__c").as("c_b")),
        Seq("b"))
      .crossJoin(broadcast(n))
      .select(col("a").as("antecedent"), col("b").as("consequent"),
        col("n_orders"), col("c_a"), col("c_b"), col("c_ab"),
        Portable.intRatio9(col("c_ab"), col("n_orders")).as("support"),
        Portable.intRatio9(col("c_ab"), col("c_a")).as("confidence"),
        Portable.intRatio9(
          col("n_orders").cast("decimal(38,0)") * col("c_ab"),
          col("c_a").cast("decimal(38,0)") * col("c_b")).as("lift"))
  }
}

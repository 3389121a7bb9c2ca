package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Offline recommender evaluation — the loop the reference never
  * closes: it trains and eyeballs a synonym report
  * (`tuning_analysis.py` plots), but nothing measures whether the
  * model would actually have predicted a held-out purchase. This is
  * the standard leave-last-out protocol: hold out each eval basket's
  * LAST item (in the same deterministic basket order the trainer
  * consumed), score every candidate by its co-occurrence mass with the
  * remaining context, and ask where the held-out item ranks.
  *
  * Leakage posture: the caller trains the co-occurrence model on the
  * TRAIN fold only (q169 splits orders by keyed hash), so an eval
  * basket's own pairs never inform its scores — the q95 leakage-free
  * discipline applied to model evaluation.
  *
  * Scale shape: context explode is ≤ maxLen rows per eval order; the
  * scoring join keys on the context item against the (target, context,
  * cnt) model — the model side is vocab², bounded and broadcastable;
  * ranking windows key on the eval order. Nothing corpus-sized crosses
  * an unkeyed boundary.
  */
object RecEval {

  /** Rank of each eval basket's held-out last item among co-occurrence
    * candidates. `baskets` = (order_id, basket: array<int>) in trainer
    * order; `cooc` = (target, context, cnt) from the TRAIN fold.
    * Candidates already in the context are excluded (recommending what
    * is in the cart is not a prediction); a held-out item the model
    * never co-scored simply has no rank row — it can never be a hit,
    * which is the honest accounting (UNK held-outs behave the same).
    * Returns (order_id, rnk). */
  def heldoutRanks(baskets: DataFrame, cooc: DataFrame): DataFrame = {
    val elig = eligible(baskets)
    val scored = elig
      .withColumn("c", explode(col("ctx")))
      .join(cooc.select(col("target").cast("long").as("c"),
        col("context").cast("long").as("cand"), col("cnt")), Seq("c"))
      .filter(!array_contains(col("ctx"), col("cand").cast("int")))
      .groupBy(col("order_id"), col("heldout"), col("cand"))
      .agg(sum(col("cnt")).as("score"))
    scored
      .withColumn("rnk", row_number().over(Window.partitionBy(col("order_id"))
        .orderBy(desc("score"), asc("cand"))))
      .filter(col("cand") === col("heldout"))
      .select(col("order_id"), col("rnk"))
  }

  /** The hit-rate@k curve for k = 1..maxK: of the eligible eval
    * baskets (≥ 2 items after the trainer's cap), how many had their
    * held-out item ranked within k. One pass over the rank frame.
    * Returns (k, n_orders, n_hits, hit_rate). */
  def hitRateCurve(baskets: DataFrame, cooc: DataFrame,
                   maxK: Int): DataFrame = {
    require(maxK >= 1, s"maxK must be >= 1, got $maxK")
    val ranks = heldoutRanks(baskets, cooc)
    val hits = ranks
      .withColumn("k", explode(sequence(lit(1L), lit(maxK.toLong))))
      .filter(col("rnk") <= col("k"))
      .groupBy(col("k")).agg(count(lit(1)).as("n_hits"))
    eligible(baskets).agg(count(lit(1)).as("n_orders"))
      .select(col("n_orders"),
        explode(sequence(lit(1L), lit(maxK.toLong))).as("k"))
      .join(hits, Seq("k"), "left")
      .select(col("k"), col("n_orders"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"))
      .withColumn("hit_rate",
        Portable.intRatio9(col("n_hits"), col("n_orders")))
  }

  /** Reciprocal-rank table for ranks 1..k, integerized at 1e9 — shared
    * between the engine and the oracle so both sum identical integers
    * (a float Σ1/r is order-sensitive; an integer one is not). */
  def rrTable(k: Int): Seq[Long] =
    (1 to k).map(r => math.floor(1e9 / r + 0.5).toLong)

  /** Single-relevant-item DCG discount table 1/log2(r+1), integerized
    * at 1e9. log runs ONCE, here, at plan-build time — the cross-engine
    * ln instability never reaches the data path because both engines
    * receive the same literal integers. */
  def dcgTable(k: Int): Seq[Long] =
    (1 to k).map(r =>
      math.floor(1e9 / (math.log(r + 1.0) / math.log(2.0)) + 0.5).toLong)

  /** Graded rank metrics at cutoff k over the same leave-last-out
    * protocol: MRR@k and NDCG@k (single relevant item ⇒ IDCG = 1, so
    * NDCG is the mean discount of the hit rank). Sums run in the exact
    * integer tables above; each metric leaves integer land with one
    * double division pair. Output: (k, n_orders, n_ranked, mrr, ndcg)
    * — n_ranked counts held-outs the model scored AT ALL (at any rank),
    * the coverage number hit_rate alone hides. */
  def rankMetrics(baskets: DataFrame, cooc: DataFrame, k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val ranks = heldoutRanks(baskets, cooc)
    val agg = ranks.agg(
      count(lit(1)).as("n_ranked"),
      coalesce(sum(when(col("rnk") <= k,
        element_at(typedLit(rrTable(k)), col("rnk").cast("int")))
        .otherwise(lit(0L))), lit(0L)).as("__rr"),
      coalesce(sum(when(col("rnk") <= k,
        element_at(typedLit(dcgTable(k)), col("rnk").cast("int")))
        .otherwise(lit(0L))), lit(0L)).as("__dcg"))
    eligible(baskets).agg(count(lit(1)).as("n_orders"))
      .crossJoin(agg)
      .select(lit(k.toLong).as("k"), col("n_orders"), col("n_ranked"),
        Portable.intRatio9(col("__rr"),
          col("n_orders").cast("decimal(38,0)") * lit(1000000000L))
          .as("mrr"),
        Portable.intRatio9(col("__dcg"),
          col("n_orders").cast("decimal(38,0)") * lit(1000000000L))
          .as("ndcg"))
  }

  /** Reciprocal-rank-fusion of ranked lists (Cormack, Clarke &
    * Büttcher, SIGIR'09) — the standard hybrid-retrieval combiner: a
    * document's fused score is Σ over lists of 1/(C + rank), C = 60
    * (the published constant), summed over every list that retrieved
    * it. RRF needs only RANKS, never the lists' incomparable raw
    * scores — which is exactly why it is the default way to merge a
    * lexical (BM25) and a semantic (embedding-cosine) ranking.
    *
    * Exactness: 1/(C + rank) is realized as the INTEGER
    * ⌊1e9 / (C + rank)⌋ — integer division both engines compute
    * bit-identically — and fused scores accumulate in LONG, so
    * summation order is immaterial. Fused ties rank by doc_id.
    *
    * `lists` rows are (query_id, doc_id, rnk); duplicate (query, doc)
    * rows WITHIN one list are a caller bug (scores would double-count)
    * and are not checked here — upstream top-k windows guarantee
    * uniqueness by construction.
    *
    * Shape: a union of already-top-k frames (≤ Σkᵢ rows per query —
    * tiny), one hash agg on (query_id, doc_id), one per-query window.
    * The expensive work happened upstream in the per-list retrievals;
    * fusion itself never touches the corpus. Returns (query_id,
    * rnk ≤ k, doc_id, n_lists, rrf_i, rrf). */
  def rrfFuse(lists: Seq[DataFrame], c: Int, k: Int): DataFrame = {
    require(lists.nonEmpty, "rrfFuse needs at least one ranked list")
    require(c >= 0, s"c must be >= 0, got $c")
    require(k >= 1, s"k must be >= 1, got $k")
    val unioned = lists
      .map(_.select(col("query_id"), col("doc_id"),
        col("rnk").cast("long").as("rnk")))
      .reduce(_.unionByName(_))
    unioned
      .withColumn("w", floor(lit(1000000000L) / (lit(c.toLong) + col("rnk")))
        .cast("long"))
      .groupBy(col("query_id"), col("doc_id"))
      .agg(count(lit(1)).as("n_lists"), sum(col("w")).as("rrf_i"))
      .withColumn("rnk", row_number().over(Window.partitionBy(col("query_id"))
        .orderBy(desc("rrf_i"), asc("doc_id"))).cast("long"))
      .filter(col("rnk") <= k)
      .select(col("query_id"), col("rnk"), col("doc_id"), col("n_lists"),
        col("rrf_i"),
        round(col("rrf_i").cast("double") / lit(1e9), 9).as("rrf"))
  }

  /** Eval baskets with a context and a held-out: the LAST item in
    * trainer order is held out, the rest are context (per-occurrence —
    * a duplicate context item weighs its co-occurrences twice, the
    * same bag semantics the trainer saw). */
  private def eligible(baskets: DataFrame): DataFrame =
    baskets.filter(size(col("basket")) >= 2)
      .select(col("order_id"),
        element_at(col("basket"), size(col("basket")))
          .cast("long").as("heldout"),
        slice(col("basket"), lit(1), size(col("basket")) - 1).as("ctx"))

  /** Per-weight-table entries for [[rboAtDepth]]: w(k) = (1−p)·p^(k−1)/k
    * integerized at 1e9, and the suffix sums W9(m) = Σ_{k=m..d} w9(k).
    * Exposed so the q208 oracle embeds the IDENTICAL integers
    * (the q170 NDCG recipe — log/pow tables computed once, both
    * engines consume literals). */
  def rboSuffixW9(depth: Int, p: Double): Seq[Long] = {
    val w9 = (1 to depth).map(k =>
      math.round((1 - p) * math.pow(p, k - 1) / k * 1e9))
    (1 to depth).map(m => w9.drop(m - 1).sum)
  }

  /** Rank-Biased Overlap at depth d (Webber, Moffat & Zobel, TOIS'10
    * — the standard top-weighted comparison of two rankings): for each
    * probe, RBO@d = Σ_{k=1..d} (1−p)p^(k−1) · |A_k ∩ B_k| / k, where
    * A_k/B_k are the two rankings' depth-k prefixes. Recall@k (q150)
    * only asks "did it show up"; RBO also charges for showing up LATE
    * — the metric that separates "same set, shuffled order" from
    * "same ranking".
    *
    * Exactness: a common item first counts at k = max(rank_A, rank_B),
    * so RBO@d = Σ_pairs W(max rank) with W the weight suffix sum —
    * the per-k prefix intersection never needs materializing. Weights
    * are integerized literals ([[rboSuffixW9]]); the per-probe sum is
    * exact LONG; two final divisions (mass, and normalization by W(1)
    * = the identical-rankings maximum).
    *
    * Shape: one hash join of the two (probe, id, rank≤d) frames keyed
    * on (probe, id), a literal-array lookup, one agg per probe; probes
    * with empty intersection are kept at rbo = 0 via the probe dim.
    * Returns (probe_id, n_common, rbo, rbo_norm) — identical depth-d
    * prefixes score rbo = 1−p^d = Σ_m W9(m)/1e9 (each rank-r pair
    * contributes W9(r)), and rbo_norm divides by that maximum so 1
    * means "ranked identically to depth d". */
  def rboAtDepth(a: DataFrame, b: DataFrame, probeCol: String,
                 idCol: String, rankCol: String, depth: Int,
                 p: Double): DataFrame = {
    require(depth >= 1 && depth <= 1000, s"depth in [1,1000], got $depth")
    require(p > 0 && p < 1, s"p in (0,1), got $p")
    val suf = rboSuffixW9(depth, p)
    val sufArr = array(suf.map(lit): _*)
    def side(df: DataFrame, r: String) = df
      .select(col(probeCol).as("__p"), col(idCol).as("__id"),
        col(rankCol).as(r))
      .filter(col(r) <= depth)
    val j = side(a, "__ra").join(side(b, "__rb"), Seq("__p", "__id"))
      .select(col("__p"),
        element_at(sufArr, greatest(col("__ra"), col("__rb")).cast("int"))
          .as("__w9"))
      .groupBy(col("__p"))
      .agg(count(lit(1)).as("n_common"), sum(col("__w9")).as("__r9"))
    a.select(col(probeCol).as("__p")).distinct()
      .join(j, Seq("__p"), "left")
      .select(col("__p").as(probeCol),
        coalesce(col("n_common"), lit(0L)).as("n_common"),
        round(coalesce(col("__r9"), lit(0L)).cast("double") / lit(1e9), 9)
          .as("rbo"),
        Portable.intRatio9(coalesce(col("__r9"), lit(0L)),
          lit(suf.sum)).as("rbo_norm"))
  }
}

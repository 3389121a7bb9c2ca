package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus-sampling operators for training-data pipelines: domain
  * mixing (per-source Bernoulli rates) and per-source token budgets —
  * the "data mixture" step that turns a curated corpus into the
  * weighted blend a pre-training run actually consumes.
  *
  * Both draw every decision from [[Portable]] keyed hashing, not RNG
  * state: which documents survive is a pure function of (id, salt), so
  * a mixture is bit-reproducible across runs, partitionings and
  * engines (DuckDB oracles hash-match), and re-running with a new salt
  * yields an independent draw. Generalizes the reference's
  * deterministic subsampling table (`data_prep.py:150-151` → keyed
  * hash draws, SURVEY.md §2.4 A8) from token frequency to corpus
  * composition.
  */
object Sampling {

  /** Domain-mixing sample: keep a row iff its keyed uniform draw
    * `unif(idCol, salt)` falls under its source's rate. `rates` is a
    * (sourceCol, rate) frame — the mixture spec; sources absent from
    * it are dropped (rate 0), which makes the mixture EXPLICIT: a new
    * upstream source cannot silently leak into the blend.
    *
    * Scale shape: the rates table is mixture-spec-sized, so it
    * broadcasts; the corpus streams through a map-side hash join and a
    * scalar filter — no shuffle, no corpus movement. Expected kept
    * tokens per source = rate × source volume; for an exact cap use
    * [[tokenBudget]]. */
  def domainMix(df: DataFrame, idCol: String, sourceCol: String,
                rates: DataFrame, salt: String): DataFrame = {
    val outCols = df.columns.toSeq.map(col)
    df.join(broadcast(rates), Seq(sourceCol))
      .filter(Portable.unif(col(idCol), lit(salt)) < col("rate"))
      .select(outCols: _*)
  }

  /** Per-source epoch factors — the "epochs per dataset" table of a
    * LLaMA-style mixture: given target mixture `weights` (relative,
    * normalized by `wsum` = their Scala-side sum, inlined identically
    * into the oracle) and a total token `budget`, each source's
    * available tokens, normalized target share, target token count
    * (floor(x + 0.5) — the cross-engine round-half-up used throughout)
    * and the sampling factor target/available: factor < 1 means
    * downsample, > 1 means the source repeats for multiple epochs.
    * Sources absent from `weights` get weight 0 — explicit mixtures
    * only, as [[domainMix]]. This is the PLANNING table; feed the
    * factors to [[domainMix]]/[[tokenBudget]] (downsampling) or a
    * repeat-and-remainder union (upsampling) to apply it.
    *
    * Shape: one source-keyed token-count agg with map-side partials
    * over a two-column pruned scan; the weight lookup is a literal map
    * (`element_at`), no join. Output one row per source present in
    * the corpus, ordered by nothing (order at the edge). */
  def epochFactors(df: DataFrame, sourceCol: String, textCol: String,
                   weights: Map[String, Double],
                   budget: Long): DataFrame = {
    require(budget >= 1, s"budget must be >= 1, got $budget")
    require(weights.nonEmpty, "weights must not be empty")
    val wsum = weights.values.sum
    val w = coalesce(
      element_at(typedLit(weights), col(sourceCol)), lit(0.0))
    df.select(col(sourceCol),
        size(Text.tokens(col(textCol))).cast("long").as("__t"))
      .groupBy(col(sourceCol))
      .agg(sum("__t").as("n_tokens"))
      .withColumn("weight", w)
      .withColumn("share", Portable.ratio9(col("weight") / lit(wsum)))
      .withColumn("target_tokens",
        floor(col("weight") / lit(wsum) * lit(budget.toDouble) + lit(0.5))
          .cast("long"))
      .withColumn("factor",
        Portable.intRatio9(col("target_tokens"), col("n_tokens")))
  }

  /** REALIZE an epoch-factor plan ([[epochFactors]]) as an actual
    * repeated-document corpus: a source with factor 2.3 emits every
    * document twice plus a deterministic 30% Bernoulli third copy
    * (keyed-hash draw — the standard up-sampling semantics: integer
    * epochs for everyone, the fractional epoch as an unbiased
    * per-document lottery). Output is the input columns plus
    * `epoch_copy` (1..n per document); factor < 1 down-samples the
    * same way (no integer copy, Bernoulli(factor) single copy), factor
    * 0 (or a source absent from the plan) drops the source. The
    * expected emitted token mass per source is factor · n_tokens =
    * the plan's target, and because the draw keys on the document id
    * the realized corpus is bit-stable across runs, partitionings and
    * engines.
    *
    * Shape: the plan is mixture-spec-sized and broadcasts; the copy
    * fan-out is an in-partition `explode(sequence(...))` — no shuffle
    * anywhere, the whole realization is map-side. Feed the result to
    * [[pack]]/[[graft.ops.Text.chunk]]; the repeats land in training
    * batches independently because packing re-keys by (id, copy). */
  def applyEpochFactors(df: DataFrame, idCol: String, sourceCol: String,
                        factors: DataFrame, salt: String): DataFrame = {
    val f = broadcast(factors.select(col(sourceCol), col("factor")))
    val whole = floor(col("factor"))
    val frac = col("factor") - whole
    df.join(f, Seq(sourceCol))
      .withColumn("__n", (whole +
        when(Portable.unif(col(idCol), lit(salt)) < frac, 1).otherwise(0))
        .cast("long"))
      .filter(col("__n") >= 1)
      .withColumn("epoch_copy",
        explode(sequence(lit(1L), col("__n"))))
      .drop("factor", "__n")
  }

  /** Neyman-optimal stratified sample allocation (Neyman 1934 — the
    * survey-sampling standard): given a per-row score and a stratum
    * column, allocate a total sample `budget` across strata as
    * n_h ∝ N_h·σ_h — high-variance strata earn more of the budget than
    * proportional allocation gives them, which minimizes the variance
    * of the stratified mean estimator. This is the PLANNING table for
    * an eval/labeling budget ("which sources deserve the annotation
    * dollars"); realize it with [[tokenBudget]]-style keyed-hash draws
    * per stratum.
    *
    * Cross-engine determinism: per-stratum moments are exact integer
    * sums of 1e9-integerized scores (Σx₉, Σx₉² in DECIMAL(38,0));
    * σ_h = sqrt((N·Σx² − (Σx)²)/N²) is ONE pinned double chain (IEEE
    * sqrt — portable); the allocation share and count integerize via
    * the floor(·+½) recipe, so both engines land the same integers.
    * All-constant strata (σ=0) get 0 — the estimator needs no sample
    * to know a constant; callers wanting a floor add one.
    *
    * Shape: one stratum-keyed agg (map-side combined), one 1-row
    * total broadcast back — no data movement beyond the agg. Returns
    * (stratum, n_rows, sigma, alloc_share, alloc_n). */
  def neymanAllocation(df: DataFrame, stratumCol: String,
                       scoreCol: String, budget: Long): DataFrame = {
    require(budget >= 1, s"budget must be >= 1, got $budget")
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val x9 = floor(round(col(scoreCol).cast("double"), 9) * lit(1e9) +
      lit(0.5)).cast("long")
    val per = df.select(col(stratumCol).as("stratum"), x9.as("__x"))
      .groupBy(col("stratum"))
      .agg(count(lit(1)).as("n_rows"),
        sum(col("__x").cast(dec)).as("__s"),
        sum(col("__x").cast(dec) * col("__x").cast(dec)).as("__ss"))
    // σ_h in score units: sqrt(max(0, N·Σx² − S²)) / (N · 1e9) — the
    // max(0,·) guards the exact-zero variance case against DECIMAL→
    // double widening dust
    val sigma = sqrt(greatest(lit(0.0),
      (col("n_rows").cast(dec) * col("__ss") - col("__s") * col("__s"))
        .cast("double"))) / col("n_rows").cast("double") / lit(1e9)
    // N_h·σ_h integerizes at 1e9 per stratum and sums in exact LONG —
    // a raw double sum across strata would be accumulation-order-
    // dependent (partitioning-sensitive AND engine-sensitive)
    val scored = per.withColumn("__nsig9",
      floor(round(col("n_rows").cast("double") * sigma, 9) * lit(1e9) +
        lit(0.5)).cast("long"))
    val tot = scored.agg(sum(col("__nsig9")).as("__tot9"))
    scored.crossJoin(broadcast(tot))
      .select(col("stratum"), col("n_rows"),
        Portable.ratio9(sigma).as("sigma"),
        when(col("__tot9") > 0L,
          Portable.intRatio9(col("__nsig9"), col("__tot9")))
          .otherwise(lit(0.0)).as("alloc_share"),
        when(col("__tot9") > 0L,
          Portable.intRatioScaled(
            col("__nsig9").cast("decimal(38,0)") * lit(budget),
            col("__tot9"), 0)).otherwise(lit(0L)).as("alloc_n"))
  }

  /** Kish effective sample size per group (Kish '65; the standard
    * importance-weight health check for DSIR-style reweighted
    * corpora): ESS = (Σw)²/Σw² — how many EQUALLY-weighted rows the
    * weighted set is worth. ess_ratio = ESS/n near 1 means weights
    * are flat; near 1/n means one row dominates and the reweighted
    * estimate is resting on a handful of documents.
    *
    * Cross-engine determinism: weights integerize at 1e9; Σw and Σw²
    * are exact DECIMAL(38,0) sums (w ≤ ~10 ⇒ Σw² ≤ 10²⁰·n — fine to
    * n ~ 10¹⁷ rows per group); ONE pinned double chain forms
    * s·s/ss (the 1e18 scales cancel exactly) and ·/n for the ratio.
    *
    * Shape: one group-keyed agg, map-side combined — nothing else
    * moves. Returns (group, n_rows, ess, ess_ratio). */
  def effectiveSampleSize(df: DataFrame, groupCol: String,
                          weightCol: String): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val w9 = floor(round(col(weightCol).cast("double"), 9) * lit(1e9) +
      lit(0.5)).cast("long")
    df.select(col(groupCol).as("group"), w9.as("__w"))
      .groupBy(col("group"))
      .agg(count(lit(1)).as("n_rows"),
        sum(col("__w").cast(dec)).as("__s"),
        sum(col("__w").cast(dec) * col("__w").cast(dec)).as("__ss"))
      .select(col("group"), col("n_rows"),
        when(col("__ss") > 0, Portable.intRatio9(
          col("__s") * col("__s"), col("__ss"))).as("ess"),
        when(col("__ss") > 0, Portable.intRatio9(
          col("__s") * col("__s"),
          col("__ss") * col("n_rows"))).as("ess_ratio"))
  }

  /** Weighted sampling WITHOUT replacement via the Gumbel-top-k trick
    * (Efraimidis & Spirakis '06 / Vieira '14): each row draws
    * key = ln(w) + Gumbel(u) from a KEYED-hash uniform and the top-k
    * keys are exactly a w-proportional WOR sample — one scan, one
    * distributed top-k (`TakeOrderedAndProject`), no sequential draw
    * state, bit-reproducible across runs, partitionings and engines.
    * The w-proportional complement of [[tokenBudget]]'s uniform draw:
    * big documents should win labeling slots in proportion to their
    * token mass.
    *
    * Determinism: u = (h + ½)/2⁶⁰ is strictly inside (0,1) (no ±∞
    * through the double log chain — an ANSI cast of ∞ throws); the
    * key integerizes at 1e9 through ONE pinned chain and ranking is
    * (key9 DESC, id) — exact integers, deterministic ties. Zero or
    * negative weights drop (ln undefined — and they'd never be
    * sampled). Returns the k sampled rows:
    * (id, weight, draw_key). */
  def weightedSampleWor(df: DataFrame, idCol: String, weightCol: String,
                        k: Int, salt: String): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val h = Portable.seededHash(lit(salt), col(idCol))
    val u = (h.cast("double") + lit(0.5)) / lit(Portable.TwoPow60)
    val key = log(col(weightCol).cast("double")) - log(-log(u))
    val key9 = floor(round(key, 9) * lit(1e9) + lit(0.5)).cast("long")
    df.filter(col(weightCol) > 0)
      .select(col(idCol), col(weightCol).cast("long").as("weight"),
        key9.as("__k9"))
      .orderBy(col("__k9").desc, col(idCol))
      .limit(k)
      .select(col(idCol), col("weight"),
        round(col("__k9").cast("double") / lit(1e9), 9).as("draw_key"))
  }

  /** Per-source token budget: documents are ranked by an independent
    * keyed-hash draw (id tiebreak — a deterministic uniform shuffle,
    * so the kept set is an unbiased sample of the source) and kept
    * while the running token total stays within `budget`. Returns the
    * input columns plus (n_tokens, cum_tokens) — the audit trail of
    * the cap. The cap is a PREFIX property: a document is kept iff it
    * fits entirely (no mid-document truncation; chunk afterwards with
    * [[Text.chunk]] if sub-document granularity is wanted).
    *
    * Scale caveat (the sessionize-shaped bound): one window partition
    * per source — a source's whole document list sorts on one task.
    * Fine for mixture-sized source counts with bounded per-source
    * volume; for a 100 TB source use [[tokenBudgetBucketed]] — same
    * results for ANY bucket count (law-spec'd), per-task work bounded
    * by bucket size. */
  def tokenBudget(df: DataFrame, idCol: String, sourceCol: String,
                  textCol: String, budget: Long, salt: String): DataFrame = {
    require(budget >= 1, s"budget must be >= 1, got $budget")
    val w = Window.partitionBy(col(sourceCol))
      .orderBy(Portable.seededHash(col(idCol), lit(salt)), col(idCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.withColumn("n_tokens", size(Text.tokens(col(textCol))).cast("long"))
      .withColumn("cum_tokens", sum(col("n_tokens")).over(w))
      .filter(col("cum_tokens") <= budget)
  }

  /** Per-source RELATIVE quality gate: keep each source's top
    * `keepFrac` fraction of rows by `scoreCol` (percent_rank ≤
    * keepFrac over score DESC, id tiebreak — fully deterministic).
    * The absolute-threshold gate ([[graft.app.CorpusPipeline]]'s
    * `minQuality`) prunes uniformly; this one prunes RELATIVE to each
    * source's own distribution — a clean source keeps more, a noisy
    * source loses more, and the blend's per-source proportions are
    * controlled instead of emergent. Output: the input columns plus
    * `rank_pct`.
    *
    * Scale: the rank window sorts a NARROW (id, source, score)
    * projection — a source's full documents never pile onto its one
    * sort task; the kept ids then join back keyed on id (uniform).
    * The input is read twice (projection + join side) — persist it if
    * it is itself an expensive derivation. */
  def topFraction(df: DataFrame, idCol: String, sourceCol: String,
                  scoreCol: String, keepFrac: Double): DataFrame = {
    require(keepFrac > 0 && keepFrac <= 1,
      s"keepFrac must be in (0, 1], got $keepFrac")
    val w = Window.partitionBy(col(sourceCol))
      .orderBy(desc(scoreCol), col(idCol))
    val wAll = Window.partitionBy(col(sourceCol))
    // percent_rank re-derived as ONE exact integral division
    // (rank−1)/(n−1) — the (score DESC, id) order is tie-free, so
    // row_number IS rank; round(percent_rank(), 9) of the raw double
    // quotient is the q218/q219 driver-version-sensitivity class
    val kept = df.select(col(idCol), col(sourceCol), col(scoreCol))
      .withColumn("__rk", row_number().over(w).cast("long"))
      .withColumn("__n", count(lit(1)).over(wAll))
      .withColumn("rank_pct", when(col("__n") > 1,
        Portable.intRatio9(col("__rk") - 1L, col("__n") - 1L))
        .otherwise(lit(0.0)))
      .filter(col("rank_pct") <= keepFrac)
      .select(col(idCol), col("rank_pct"))
    df.join(kept, Seq(idCol))
  }

  /** Exact-N stratified sample: keep exactly `min(n, |source|)` rows
    * per source, chosen by an independent keyed-hash draw (id
    * tiebreak) — the absolute-count twin of [[topFraction]]'s relative
    * gate and the deterministic replacement for `df.sampleBy` (whose
    * Bernoulli draws neither hit exact counts nor survive re-runs).
    * Output: the input columns plus `sample_rank` (1-based within the
    * source). A new salt yields an independent draw.
    *
    * Scale shape: the rank window sorts a NARROW (id, source, hash)
    * projection, never the payload; kept ids join back keyed on id.
    * The per-source sort-task bound applies (a source's ids sort on
    * one task) — for billion-row sources rank within hash buckets
    * first, as [[tokenBudgetBucketed]] does for budgets. */
  def sampleN(df: DataFrame, idCol: String, sourceCol: String,
              n: Int, salt: String): DataFrame = {
    require(n >= 1, s"n must be >= 1, got $n")
    val w = Window.partitionBy(col(sourceCol))
      .orderBy(Portable.seededHash(col(idCol), lit(salt)), col(idCol))
    val kept = df.select(col(idCol), col(sourceCol))
      .withColumn("sample_rank", row_number().over(w).cast("long"))
      .filter(col("sample_rank") <= n)
      .select(col(idCol), col("sample_rank"))
    df.join(kept, Seq(idCol))
  }

  /** Weighted exact-N stratified sample WITHOUT replacement —
    * Efraimidis–Spirakis A-ES (IPL 2006), deterministic: each row
    * draws key = −ln(1 − u) / w (an exponential draw with rate w,
    * u the engine-portable keyed-hash uniform), and per source the n
    * SMALLEST keys win, which realizes weight-proportional inclusion
    * through the whole without-replacement process. The key rounds to
    * 9 dp with an id tiebreak so both engines rank identically (the
    * house float-boundary contract). Rows with non-positive weight
    * never sample; sources with fewer than n positive-weight rows
    * return them all.
    *
    * This is the SELECTION twin of loss-side reweighting: feed it
    * [[graft.ops.Dedup.softDedupWeights]] (w = 1/|near-dup cluster|)
    * and each cluster contributes ~one expected unit of training mass
    * by sampling; feed it token counts and sampling approximates
    * token-uniform over documents.
    *
    * Shape: same as [[sampleN]] — the rank runs over a NARROW
    * (id, source, weight) projection (one per-source sort, the
    * documented bound), the payload joins back by id. */
  def sampleNWeighted(df: DataFrame, idCol: String, sourceCol: String,
                      weightCol: String, n: Int, salt: String): DataFrame = {
    require(n >= 1, s"n must be >= 1, got $n")
    val key = Portable.ratio9(
      -log(lit(1.0) - Portable.unif(col(idCol), lit(salt)))
        / col(weightCol))
    val w = Window.partitionBy(col(sourceCol)).orderBy(key, col(idCol))
    val kept = df.select(col(idCol), col(sourceCol), col(weightCol))
      .filter(col(weightCol) > 0)
      .withColumn("sample_rank", row_number().over(w).cast("long"))
      .filter(col("sample_rank") <= n)
      .select(col(idCol), col("sample_rank"))
    df.join(kept, Seq(idCol))
  }

  /** Mixture-rate spec from TARGET token counts — the knob users
    * actually reason in ("200M tokens of s0, 50M of s1"): per source,
    * rate = min(1, target / current tokens). The result is a
    * [[domainMix]]-shaped (sourceCol, rate) frame, mixture-spec-sized
    * and lazy (the per-source token agg only runs when the mix
    * evaluates); expected sampled volume per source ≈ its target
    * (exact caps: [[tokenBudget]]). Sources absent from `targets`
    * drop out of the rate spec — and therefore out of the mix. */
  /** Temperature-scaled mixture rates (the mT5/XLM-R multilingual
    * sampling recipe): source i's sampling probability is
    * pᵢ ∝ nᵢ^α over per-source token counts — α = 1 is natural
    * (proportional) sampling, α < 1 flattens the distribution so
    * low-resource sources are upsampled relative to their size.
    * The probabilities convert to per-source Bernoulli keep-rates for
    * a `totalTokens` target: rateᵢ = min(1, totalTokens·pᵢ / nᵢ),
    * ready for [[domainMix]]. Returns (sourceCol, n_tokens, p, rate)
    * with p and rate rounded to 9 dp (the rate is computed FROM the
    * rounded p, so both engines gate documents on bit-identical
    * thresholds).
    *
    * Shape: one map-only corpus scan into a per-source agg; the
    * weight normalization is a window sum over the mixture-spec-sized
    * source frame (a deliberate single-partition window — sources
    * number in the dozens, never corpus-scale). */
  def ratesForTemperature(df: DataFrame, sourceCol: String, textCol: String,
                          alpha: Double, totalTokens: Long): DataFrame = {
    require(alpha > 0 && alpha <= 1, s"alpha in (0,1], got $alpha")
    require(totalTokens >= 1, s"totalTokens must be >= 1, got $totalTokens")
    df.groupBy(col(sourceCol))
      .agg(sum(size(Text.tokens(col(textCol))).cast("long")).as("n_tokens"))
      .withColumn("__w", pow(col("n_tokens").cast("double"), lit(alpha)))
      .withColumn("p", Portable.ratio9(
        col("__w") / sum(col("__w")).over(Window.partitionBy())))
      .select(col(sourceCol), col("n_tokens"), col("p"),
        Portable.ratio9(least(lit(1.0),
          lit(totalTokens.toDouble) * col("p") / col("n_tokens")))
          .as("rate"))
  }

  /** Token-stream packing (the GPT-2-style pre-training layout):
    * concatenate every document's tokens into one stream and cut it
    * into fixed `seqTokens`-token training sequences, documents
    * spanning sequence boundaries — zero padding waste, every
    * sequence except a shard's final partial is exactly full. The
    * stream is sharded by a keyed hash of the document id so packing
    * parallelizes: within a shard documents concatenate in id order
    * (deterministic — the hash already randomized the shard
    * assignment, so within-shard order adds no bias).
    *
    * Relational shape: one window cumsum per shard gives each
    * document its stream offset; a document spanning sequences
    * [start/L .. (end−1)/L] explodes into per-sequence slices
    * (in-partition fan-out, each token emitted exactly once); one
    * (shard, seq) groupBy reassembles slices in offset order. Output:
    * (shard, seq_idx, n_tokens, seq).
    *
    * Scale: parallelism ∝ `shards` — a shard's stream orders on one
    * task (the tokenBudget caveat, with the lever built in): size
    * `shards` so corpus/shards fits a task. All shuffles are
    * shard-keyed; nothing is corpus-sized. */
  def pack(df: DataFrame, idCol: String, textCol: String,
           seqTokens: Int, shards: Int, salt: String): DataFrame =
    packPieces(df, idCol, textCol, seqTokens, shards, salt)
      .withColumn("__part", slice(col("__t"),
        (col("__ps") - col("__start") + 1).cast("int"),
        (col("__pe") - col("__ps")).cast("int")))
      .groupBy(col("shard"), col("seq_idx"))
      .agg(sum(col("__pe") - col("__ps")).as("n_tokens"),
        sort_array(collect_list(struct(col("__ps").as("o"),
          col("__part").as("p")))).as("__sp"))
      .select(col("shard"), col("seq_idx"), col("n_tokens"),
        concat_ws(" ", flatten(transform(col("__sp"), x => x.getField("p"))))
          .as("seq"))

  /** The shared [[pack]] fan-out: per (document, touched sequence) one
    * row carrying the piece's token span [__ps, __pe) and the document's
    * token array/offset — [[pack]] slices and reassembles text from it,
    * [[packAudit]] only counts it. */
  private def packPieces(df: DataFrame, idCol: String, textCol: String,
                         seqTokens: Int, shards: Int,
                         salt: String): DataFrame = {
    require(seqTokens >= 1, s"seqTokens must be >= 1, got $seqTokens")
    require(shards >= 1, s"shards must be >= 1, got $shards")
    val L = seqTokens.toLong
    val w = Window.partitionBy(col("shard")).orderBy(col(idCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.select(col(idCol),
        pmod(Portable.seededHash(col(idCol), lit(salt)), lit(shards.toLong))
          .as("shard"),
        Text.tokens(col(textCol)).as("__t"))
      .withColumn("__n", size(col("__t")).cast("long"))
      .withColumn("__cum", sum(col("__n")).over(w))
      .withColumn("__start", col("__cum") - col("__n"))
      // the sequences this document's token span [start, cum) touches
      .withColumn("seq_idx", explode(sequence(
        expr(s"__start div $L"), expr(s"(__cum - 1) div $L"))))
      .withColumn("__ps", greatest(col("__start"), col("seq_idx") * L))
      .withColumn("__pe", least(col("__cum"), (col("seq_idx") + 1) * L))
  }

  /** Deterministic mixture-order interleave — the data-loader schedule
    * realized as a table: given per-source mixture weights, emit every
    * document with its position in the training stream such that
    * sources appear in weight proportion THROUGHOUT the stream (stride
    * scheduling: the i-th document of source s runs at virtual time
    * i / weight_s; the stream is the vt order). Epoch-deterministic and
    * engine-reproducible — the order is a pure function of (ids, salt),
    * unlike an RNG-shuffled loader. [[domainMix]]/[[tokenBudget]] decide
    * WHAT is in the mix; this decides WHEN each row is consumed.
    *
    * Sharded like [[pack]]: documents hash-assign to `shards` streams
    * and positions are per-shard — a loader reads shards in parallel,
    * and within a shard the weight proportions still hold (the hash is
    * source-blind). Within a source, consumption order is the keyed-hash
    * order (deterministic shuffle), then (vt, source, id) breaks all
    * ties totally.
    *
    * Shape: broadcast weight join → one source-keyed window (per-source
    * rank) → one shard-keyed window (stream position). Parallelism ∝
    * shards on the second sort — size shards so a shard fits a task
    * (the [[pack]] caveat, lever built in).
    *
    * `weights` must be positive: a zero/negative weight makes `vt`
    * infinite or order-inverting, so the op raises at evaluation time
    * (runtime guard — no extra job) rather than emit a silently broken
    * schedule. Sources absent from `weights` DROP (inner join) — the
    * mixture-spec semantics shared with [[domainMix]]: the weights
    * frame IS the mixture; an unlisted source has weight "not in the
    * mix", not weight 1. */
  def interleave(df: DataFrame, idCol: String, sourceCol: String,
                 weights: DataFrame, shards: Int, salt: String): DataFrame = {
    require(shards >= 1, s"shards must be >= 1, got $shards")
    val ws = Window.partitionBy(col(sourceCol))
      .orderBy(col("__h"), col(idCol))
    val wp = Window.partitionBy(col("shard"))
      .orderBy(col("vt"), col(sourceCol), col(idCol))
    df.select(col(idCol), col(sourceCol),
        Portable.seededHash(col(idCol), lit(salt)).as("__h"),
        pmod(Portable.seededHash(col(idCol), lit(salt), lit("shard")),
          lit(shards.toLong)).as("shard"))
      .join(broadcast(weights), Seq(sourceCol))
      .withColumn("__i", row_number().over(ws).cast("long"))
      .withColumn("__w", when(col("weight") > 0d, col("weight"))
        .otherwise(raise_error(concat(
          lit("interleave: non-positive weight for source "),
          col(sourceCol)))))
      .withColumn("vt", col("__i").cast("double") / col("__w"))
      .select(col("shard"), col(idCol), col(sourceCol),
        row_number().over(wp).cast("long").as("pos"),
        round(col("vt"), 9).as("vt"))
  }

  /** Attention-bleed audit of [[pack]]'s layout — per shard, how much
    * cross-document contamination the packed sequences carry: without
    * attention masking at document boundaries, a model trained on packed
    * sequences attends across the documents sharing a sequence, and this
    * report is the number a data team reads before choosing sequence
    * length / masking strategy. Returns one row per shard:
    * (shard, n_seqs, full_seqs, multi_doc_seqs, doc_boundaries = Σ per
    * sequence (docs − 1) i.e. the count of intra-sequence document
    * joins, max_docs_per_seq).
    *
    * Same fan-out as [[pack]] minus the text: the audit never slices or
    * reassembles token arrays, so it is strictly cheaper than the
    * packing it audits — per-(shard, seq) counts with map-side combine,
    * then a shard-keyed rollup of the compact per-seq frame. */
  def packAudit(df: DataFrame, idCol: String, textCol: String,
                seqTokens: Int, shards: Int, salt: String): DataFrame =
    packPieces(df, idCol, textCol, seqTokens, shards, salt)
      .groupBy(col("shard"), col("seq_idx"))
      .agg(count(lit(1)).as("__docs"),
        sum(col("__pe") - col("__ps")).as("__tok"))
      .groupBy(col("shard"))
      .agg(count(lit(1)).as("n_seqs"),
        sum(when(col("__tok") === seqTokens.toLong, 1L).otherwise(0L))
          .as("full_seqs"),
        sum(when(col("__docs") > 1, 1L).otherwise(0L)).as("multi_doc_seqs"),
        sum(col("__docs") - 1).as("doc_boundaries"),
        max(col("__docs")).as("max_docs_per_seq"))

  /** NO-SPLIT greedy packing — the document-integrity alternative to
    * [[pack]]: documents fill fixed-capacity bins first-fit in keyed-
    * hash order, and a document is never cut across bins. [[pack]]
    * (GPT-2 concat style) wastes zero tokens but lets a sequence open
    * mid-document — attention then trains across unrelated context
    * unless the loader masks it; this form trades padding waste for
    * whole documents per bin, the shape instruction-tuning and
    * long-context curricula want. A document longer than `capTokens`
    * gets a bin of its own (callers chunk upstream — [[Text.chunk]] —
    * if overflow bins are unacceptable; the audit column is `n_tokens`
    * vs the cap).
    *
    * Output: (shard, bin_idx, pos_in_bin, doc_id, n_tokens) — the
    * assignment table a loader joins back to fetch text.
    *
    * Greedy fill is inherently sequential (bin of doc k depends on all
    * docs before it), so this is the library's one honest
    * `flatMapSortedGroups` operator: parallelism ∝ `shards` exactly
    * like [[pack]]'s documented caveat — size shards so a shard's DOC
    * COUNT fits a task (only (id, n) pairs stream through the group
    * iterator, never text, so a shard of millions of docs is a few MB).
    * Shuffle: one shard-keyed exchange carrying ~24 bytes/doc.
    * Determinism: shard and order are both [[Portable]] keyed hashes of
    * the id, so the packing is bit-stable across runs, partitionings
    * and engines (the DuckDB oracle replays the greedy scan as a
    * recursive CTE). */
  def packWhole(df: DataFrame, idCol: String, textCol: String,
                capTokens: Long, shards: Int, salt: String): DataFrame = {
    require(capTokens >= 1, s"capTokens must be >= 1, got $capTokens")
    require(shards >= 1, s"shards must be >= 1, got $shards")
    val spark = df.sparkSession
    import spark.implicits._
    val base = df.select(
      col(idCol).cast("long").as("id"),
      pmod(Portable.seededHash(col(idCol), lit(salt)), lit(shards.toLong))
        .as("shard"),
      Portable.seededHash(lit(salt + "|pr"), col(idCol)).as("pr"),
      size(Text.tokens(col(textCol))).cast("long").as("n"))
    base.as[(Long, Long, Long, Long)]
      .groupByKey(_._2)
      .flatMapSortedGroups(col("pr"), col("id")) { (shard, it) =>
        var bin = 0L; var fill = 0L; var pos = 0L; var first = true
        it.map { case (id, _, _, n) =>
          if (first) { first = false; bin = 0L; fill = n; pos = 0L }
          else if (fill + n <= capTokens) { fill += n; pos += 1 }
          else { bin += 1; fill = n; pos = 0 }
          (shard, bin, pos, id, n)
        }
      }
      .toDF("shard", "bin_idx", "pos_in_bin", "doc_id", "n_tokens")
  }

  /** [[tokenBudget]] with the per-source sort bound removed — the
    * [[Events.asofJoinBucketed]] trick applied to a running total.
    * Documents bucket by the TOP bits of the priority hash (monotone
    * in the hash, so bucket order IS priority order and hash ties
    * never straddle buckets; `buckets` must be a power of two for the
    * exact shift):
    *
    *  1. per (source, bucket) token sums — a summary table of
    *     |sources| × buckets rows regardless of corpus size;
    *  2. carry-in per bucket = running total of strictly-earlier
    *     buckets — a window over the SUMMARY;
    *  3. per (source, bucket) window resolves the cap exactly, offset
    *     by the carry — each task sorts one bucket's rows only.
    *
    * Result-identical to [[tokenBudget]] for any bucket count
    * (SamplingSpec proves the law); parallelism ∝ source × bucket. */
  def tokenBudgetBucketed(df: DataFrame, idCol: String, sourceCol: String,
                          textCol: String, budget: Long, salt: String,
                          buckets: Int): DataFrame = {
    require(budget >= 1, s"budget must be >= 1, got $budget")
    require(buckets >= 1 && (buckets & (buckets - 1)) == 0,
      s"buckets must be a power of two, got $buckets")
    val shift = 60 - java.lang.Integer.numberOfTrailingZeros(buckets)
    val withB = df
      .withColumn("__h", Portable.seededHash(col(idCol), lit(salt)))
      .withColumn("__b", shiftright(col("__h"), shift))
      .withColumn("n_tokens", size(Text.tokens(col(textCol))).cast("long"))
    val perBucket = withB.groupBy(col(sourceCol), col("__b"))
      .agg(sum(col("n_tokens")).as("__bt"))
    val cw = Window.partitionBy(col(sourceCol)).orderBy(col("__b"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val carry = perBucket
      .withColumn("__carry", sum(col("__bt")).over(cw) - col("__bt"))
      .select(col(sourceCol), col("__b"), col("__carry"))
    val w = Window.partitionBy(col(sourceCol), col("__b"))
      .orderBy(col("__h"), col(idCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    withB.join(carry, Seq(sourceCol, "__b"))
      .withColumn("cum_tokens", col("__carry") + sum(col("n_tokens")).over(w))
      .filter(col("cum_tokens") <= budget)
      .drop("__h", "__b", "__carry")
  }

  /** Hashed-n-gram occurrences of a document frame, bucketed — the DSIR
    * feature extractor: every gram occurrence maps to
    * `hash(gram) mod buckets`. Keyed hashing via [[Portable]], so the
    * bucketing is engine-portable and run-stable. */
  private def gramBuckets(df: DataFrame, idCol: String, textCol: String,
                          buckets: Int, n: Int): DataFrame =
    df.select(col(idCol), Text.tokens(col(textCol)).as("__t"))
      .select(col(idCol),
        explode_outer(Text.shinglesAll(col("__t"), n)).as("__g"))
      .filter(col("__g").isNotNull)
      .select(col(idCol),
        pmod(Portable.seededHash(col("__g")), lit(buckets.toLong))
          .as("bucket"))

  /** DSIR importance weights (Xie et al. 2023, arXiv:2302.03169):
    * per hashed-n-gram bucket, `w = ln p_target(b) − ln p_raw(b)` with
    * Laplace smoothing `p(b) = (count_b + 1) / (total + buckets)`.
    * Returns the FULL bucket spine (bucket, ct, cr, w) — buckets unseen
    * in either corpus get the smoothed floor, so any document can be
    * scored. Weights rounded to 9 dp (engine parity).
    *
    * Shape: each corpus is scanned once; gram occurrences collapse to
    * `buckets` rows via a map-side-combinable hash agg (the shuffle
    * carries ≤ buckets rows per task, never the gram stream); the
    * totals are window sums over the bucket-spine frame — `buckets`
    * rows on one task, a constant, with a literal partition key so the
    * plan states the intent. Everything downstream of the two count
    * aggs is spine-sized. */
  def dsirWeights(raw: DataFrame, target: DataFrame, idCol: String,
                  textCol: String, buckets: Int, n: Int): DataFrame = {
    require(buckets >= 2, s"buckets must be >= 2, got $buckets")
    require(n >= 1, s"n must be >= 1, got $n")
    val spine = raw.sparkSession.range(buckets)
      .select(col("id").as("bucket"))
    def counts(d: DataFrame, as: String) =
      gramBuckets(d, idCol, textCol, buckets, n)
        .groupBy(col("bucket")).agg(count(lit(1)).as(as))
    val all = Window.partitionBy(lit(0))
    def p(c: String, tot: String) =
      (col(c) + lit(1L)).cast("double") / (col(tot) + lit(buckets.toDouble))
    spine
      .join(counts(target, "ct"), Seq("bucket"), "left")
      .join(counts(raw, "cr"), Seq("bucket"), "left")
      .withColumn("ct", coalesce(col("ct"), lit(0L)))
      .withColumn("cr", coalesce(col("cr"), lit(0L)))
      .withColumn("__tt", sum(col("ct")).over(all).cast("double"))
      .withColumn("__tr", sum(col("cr")).over(all).cast("double"))
      .select(col("bucket"), col("ct"), col("cr"),
        Portable.ratio9(log(p("ct", "__tt")) - log(p("cr", "__tr")))
          .as("w"))
  }

  /** DSIR importance score per document: the sum of bucket weights over
    * the document's hashed-n-gram occurrences — the log importance
    * weight `ln Π p_t/p_r` whose exponential DSIR resamples by. Gram-less
    * documents (fewer than n tokens) score 0 (the empty product). Output:
    * (idCol, n_grams, dsir_score), score rounded to 9 dp; select on it
    * with [[topFraction]] (relative cut) or threshold directly.
    *
    * Shape: the weight table is `buckets` rows → broadcast; the corpus
    * meets it map-side and collapses straight to one row per doc (doc-
    * keyed agg, the only data-sized shuffle). The raw corpus is scanned
    * twice end-to-end (once inside [[dsirWeights]]' count, once here) —
    * both passes map-only before their aggs; a persisted `weights`
    * frame amortizes the first across many scoring batches. */
  def dsirScores(df: DataFrame, idCol: String, textCol: String,
                 target: DataFrame, buckets: Int, n: Int): DataFrame = {
    val w = dsirWeights(df, target, idCol, textCol, buckets, n)
    val per = gramBuckets(df, idCol, textCol, buckets, n)
      .join(broadcast(w.select(col("bucket"), col("w"))), Seq("bucket"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_grams"),
        // w is exactly k/1e9: per-row integerize is lossless and the
        // sum exact — a float sum of non-dyadic weights is
        // association-order-sensitive
        sum(floor(col("w") * lit(1e9) + lit(0.5)).cast("long"))
          .as("__s9"))
    df.select(col(idCol)).join(per, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        Portable.intRatioSigned9(coalesce(col("__s9"), lit(0L)),
          lit(1000000000L)).as("dsir_score"))
  }

  /** Cluster-balanced exact-N sample: assign every vector to its
    * nearest centroid ([[Dedup.semanticAssign]] — argmax cosine,
    * deterministic tie-break), then keep the n hash-priority winners
    * PER CLUSTER — the diversity-preserving subsample (uniform over
    * semantic regions rather than over documents, so a corpus that is
    * 90% one topic no longer yields a 90%-one-topic sample; the
    * embedding-space twin of [[sampleN]]'s per-source stratification).
    * Dense clusters are downsampled hard, sparse ones survive whole —
    * the same rebalancing SemDeDup achieves by deletion, here achieved
    * by selection with an exact per-cluster budget.
    *
    * Returns the input columns plus (cluster, cos_centroid,
    * sample_rank ≤ n). Deterministic: the draw is a keyed hash of
    * (id, salt), so the sample is a pure function of the inputs.
    *
    * Shape: one broadcast-centroid assignment pass (map-side cross
    * join + max_by agg, nothing pairwise), one window rank over the
    * NARROW (id, cluster, cos) frame — the per-cluster sort never
    * carries vectors or payload — and one id-keyed join back to the
    * input for the survivors' payload. k (centroid count) is the
    * caller's parallelism lever exactly as in [[Dedup.semanticDedup]]. */
  def sampleBalanced(df: DataFrame, idCol: String, vecCol: String,
                     centroids: DataFrame, n: Int, salt: String): DataFrame = {
    require(n >= 1, s"n must be >= 1, got $n")
    val assign = Dedup
      .semanticAssign(df.select(col(idCol), col(vecCol)), idCol, vecCol,
        centroids)
      .select(col(idCol), col("cluster"), col("cos_centroid"))
    val w = Window.partitionBy(col("cluster"))
      .orderBy(Portable.seededHash(col(idCol), lit(salt)), col(idCol))
    val kept = assign
      .withColumn("sample_rank", row_number().over(w).cast("long"))
      .filter(col("sample_rank") <= n)
    df.join(kept, Seq(idCol))
  }

  /** Split-conformal gate thresholds, per group (Vovk et al.'s
    * inductive conformal prediction; Mondrian = per-group): from a
    * calibration sample of nonconformity scores, the k-th smallest
    * with k = ⌈(n+1)(1−α)⌉ — accepting a future item iff its score is
    * ≤ the threshold then carries the distribution-free guarantee
    * P(accept a conforming item) ≥ 1−α. This turns an arbitrary
    * quality/outlier score into a gate with a COVERAGE contract — the
    * principled way to set the cut, instead of eyeballing a
    * percentile. k is exact integer arithmetic
    * (⌈x/y⌉ = (x + y − 1) div y); a group too small for the requested
    * α (k > n) reports a NULL threshold — the honest "not enough
    * calibration data" outcome the naive quantile hides.
    *
    * Shape: one per-group rank window (group-sized partitions — at
    * 100 TB calibration samples are samples, not the corpus) and a
    * group-count agg. Returns one row per group: (groupCol, n, k,
    * threshold). */
  def conformalGate(df: DataFrame, groupCol: String, scoreCol: String,
                    alphaNum: Long, alphaDen: Long): DataFrame = {
    require(alphaDen >= 1 && alphaNum >= 0 && alphaNum < alphaDen,
      s"alpha = $alphaNum/$alphaDen must be in [0, 1)")
    val keep = alphaDen - alphaNum
    val ranked = df.select(col(groupCol), col(scoreCol))
      .withColumn("__rk", row_number().over(Window
        .partitionBy(col(groupCol)).orderBy(col(scoreCol))).cast("long"))
    val ks = df.groupBy(col(groupCol))
      .agg(count(lit(1)).as("n"))
      .withColumn("k",
        expr(s"((n + 1) * $keep + $alphaDen - 1) div $alphaDen"))
    ks.join(ranked, ks(groupCol) === ranked(groupCol) &&
        col("__rk") === col("k"), "left")
      .select(ks(groupCol), col("n"), col("k"),
        col(scoreCol).as("threshold"))
  }

  /** Cross-group quantile normalization of a score column — the
    * calibration step before any mixed-source score gate: a 0.6
    * fastText-style quality score means different things on arXiv and
    * on Common Crawl, so thresholding the RAW score under- or
    * over-prunes whole sources; mapping each score to the GLOBAL score
    * at the same within-group quantile makes one threshold mean the
    * same thing everywhere (the microarray quantile-normalization
    * recipe, Bolstad et al.'03, applied per group).
    *
    * Exact, tie-aware, engine-portable: within a group, a score's
    * 0-based position is `r_lo` = rows strictly below it (every tied
    * row gets the same position — ties MUST map identically or the
    * output depends on row order); its target global 0-based index is
    * `t0 = (r_lo · (N−1)) div max(n_g−1, 1)` — all integer arithmetic
    * — and the normalized score is the global score whose cumulative
    * interval [g_lo, g_lo + cnt) contains t0. A singleton group maps
    * to the global minimum (p = 0 — documented, not hidden). When the
    * input is ONE group, t0 = r_lo and the mapping is the identity
    * (law-checked).
    *
    * Shape: both CDFs live on DISTINCT-(score) frames — the
    * [[graft.ops.Text.scorePercentiles]] trick — so every window here
    * is bounded by distinct score values (never corpus-sized); the
    * interval lookup is a MERGE, not a range join: global interval
    * starts and probe target indexes union into one frame ordered by
    * index (starts before probes at ties) and a last-non-null window
    * carries each interval's score down to the probes inside it — the
    * [[graft.ops.Quality.ksDrift]] step-fill, O(V log V) where a
    * range join between near-unique score frames is O(V²) (measured:
    * the join form ran 7×/decade on the sf1 fixture, this form ~2×);
    * docs re-attach by one (group, score) equi-join. Returns (idCol,
    * groupCol, scoreCol, qn_score). */
  def quantileNormalize(df: DataFrame, idCol: String, groupCol: String,
                        scoreCol: String): DataFrame = {
    val sType = df.schema(scoreCol).dataType
    val gType = df.schema(groupCol).dataType
    val g = df.groupBy(col(scoreCol).as("__gs"))
      .agg(count(lit(1)).as("__gcnt"))
      .withColumn("__glo",
        coalesce(sum(col("__gcnt")).over(Window.orderBy(col("__gs"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
    val n = df.agg(count(lit(1)).as("__n"))
    val pg = df.groupBy(col(groupCol), col(scoreCol))
      .agg(count(lit(1)).as("__cnt"))
      .withColumn("__rlo",
        coalesce(sum(col("__cnt")).over(Window.partitionBy(col(groupCol))
          .orderBy(col(scoreCol))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("__ng",
        sum(col("__cnt")).over(Window.partitionBy(col(groupCol))))
    val gRows = g.select(lit(null).cast(gType).as("__g"),
      lit(null).cast(sType).as("__s"), col("__glo").as("__pos"),
      lit(1L).as("__isg"), col("__gs").as("__gsv"))
    val pRows = pg.crossJoin(broadcast(n))
      .select(col(groupCol).as("__g"), col(scoreCol).as("__s"),
        expr("(__rlo * (__n - 1)) div greatest(__ng - 1, 1)").as("__pos"),
        lit(0L).as("__isg"), lit(null).cast(sType).as("__gsv"))
    val mapped = gRows.unionByName(pRows)
      .withColumn("__qn", last(col("__gsv"), ignoreNulls = true)
        .over(Window.orderBy(col("__pos"), desc("__isg"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .filter(col("__isg") === 0L)
      .select(col("__g").as(groupCol), col("__s").as(scoreCol),
        col("__qn").as("qn_score"))
    df.select(col(idCol), col(groupCol), col(scoreCol))
      .join(mapped, Seq(groupCol, scoreCol))
      .select(col(idCol), col(groupCol), col(scoreCol), col("qn_score"))
  }
}

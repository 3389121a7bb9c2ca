package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Data-quality gates (SURVEY.md §2.7 Q1, Q3, Q5 — the three the
  * pipeline runs; Q4's dtype check is [[Sources.parquetSchemaAudit]]).
  *
  * Reference: `pipeline/data_preprocessing/data_quality_checks.py:7-133` —
  * five hard-fail assertions wired as an Airflow stage
  * (`dags/prod2vec_train_dag.py:207-212`). We keep the same semantics as
  * cheap DataFrame checks; thresholds are parameters, not constants
  * (`check_product_counts` hard-codes fixture-specific ranges at
  * `data_quality_checks.py:49-57`).
  *
  * Scale posture: Q3 is metadata-only (no job). Q1/Q5 are single
  * aggregations (Q1 over all its columns at once); [[report]] fuses all
  * column null-counts into ONE pass over the data instead of a count()
  * per column.
  */
object Quality {

  final case class QualityError(msg: String) extends RuntimeException(msg)

  /** Q1: `check_miss` — fail if any nulls in the columns
    * (`data_quality_checks.py:7-26`). All columns' null counts are one
    * aggregation (one scan); the error names the first failing column in
    * argument order. */
  def checkNoNulls(df: DataFrame, columns: String*): Unit =
    if (columns.nonEmpty) {
      val nulls = columns.map(c => count(when(col(c).isNull, 1)))
      val r = df.agg(nulls.head, nulls.tail: _*).head()
      columns.indices.find(r.getLong(_) != 0).foreach { i =>
        throw QualityError(s"column ${columns(i)} has ${r.getLong(i)} null values")
      }
    }

  /** Q3: `check_column_counts` — column arity (metadata only, no job;
    * `data_quality_checks.py:60-83`). The storage-level oracle-verified
    * form of this gate and of Q4's dtype check is
    * [[graft.ops.Sources.parquetSchemaAudit]] (q160): what the files
    * declare, independent of the reader. */
  def checkColumnCount(df: DataFrame, expected: Int): Unit =
    if (df.columns.length != expected)
      throw QualityError(
        s"expected $expected columns, found ${df.columns.length}: " +
          df.columns.mkString(","))

  /** Q5: `check_records_in_products_dict` — primary-key uniqueness; pandas
    * `to_dict` silently collapses duplicate keys, the check catches that
    * (`data_quality_checks.py:112-133`). */
  def checkPrimaryKey(df: DataFrame, column: String): Unit = {
    val r = df.agg(count(lit(1)).as("n"),
      countDistinct(col(column)).as("nd")).head()
    if (r.getLong(0) != r.getLong(1))
      throw QualityError(
        s"$column not unique: ${r.getLong(0)} rows, ${r.getLong(1)} distinct")
  }

  /** One-pass quality profile of a table: per-column null counts + total
    * rows, as a single aggregation (every column's null predicate fused
    * into one scan — the per-column `count()` loop the reference runs
    * would be |cols| scans at 100 TB). */
  def report(df: DataFrame): DataFrame = {
    val aggs = count(lit(1)).as("n_rows") +:
      df.columns.map(c =>
        sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"nulls_$c")).toSeq
    df.agg(aggs.head, aggs.tail: _*)
  }

  /** Embedding-table audit — the vector-column analog of [[report]]:
    * ONE pass over (id, vector) producing the single-row profile an
    * embedding pipeline gates ingest on. A NaN that slips into a
    * similarity index poisons every cosine it touches (NaN propagates
    * through dot products and sorts unpredictably); all-zero vectors
    * make cosine undefined (the q23/q28 operators guard them, but the
    * table owner should KNOW); ragged dimensions break every fold; and
    * duplicate ids silently double similarity mass. Columns:
    * (n_rows, n_distinct_ids, n_null_vec, n_dims_distinct, dim_min,
    * dim_max, n_nan_vec, n_zero_vec) — a healthy table reads
    * n_rows = n_distinct_ids, 0 nulls/NaNs/zeros, n_dims_distinct = 1.
    *
    * Per-row flags are array expressions (`exists`/`aggregate` over the
    * row's own vector — map-side, no fan-out); the rollup is one
    * aggregation. NULL vectors report their own count and are excluded
    * from the dim/NaN/zero tallies (their flags are NULL, and the
    * conditional sums skip NULL). */
  def embeddingChecks(df: DataFrame, idCol: String,
                      vecCol: String): DataFrame = {
    val v = col("__v")
    df.select(col(idCol).as("__id"), col(vecCol).as("__v"))
      .select(col("__id"), v,
        size(v).as("__d"),
        exists(v, x => isnan(x.cast("double"))).as("__nan"),
        (aggregate(v, lit(0.0), (acc, x) => acc + abs(x.cast("double")))
          === 0.0).as("__zero"))
      .agg(count(lit(1)).as("n_rows"),
        countDistinct(col("__id")).as("n_distinct_ids"),
        sum(when(v.isNull, 1L).otherwise(0L)).as("n_null_vec"),
        countDistinct(when(v.isNotNull, col("__d"))).as("n_dims_distinct"),
        min(when(v.isNotNull, col("__d"))).cast("long").as("dim_min"),
        max(when(v.isNotNull, col("__d"))).cast("long").as("dim_max"),
        sum(when(col("__nan"), 1L).otherwise(0L)).as("n_nan_vec"),
        sum(when(col("__zero"), 1L).otherwise(0L)).as("n_zero_vec"))
  }

  /** Multi-dimensional corpus rollup — one CUBE pass materializing
    * every grouping-set margin of the given dimensions (per (source,
    * lang), per source, per lang, grand total — 2^d sets) with doc and
    * token mass: the composition dashboard table that otherwise costs
    * 2^d separate scans. `grouping_id` disambiguates a rolled-up
    * dimension from a genuine NULL value (bit set = rolled up; first
    * dimension owns the most significant bit — Spark's
    * `grouping_id()` convention, mirrored by DuckDB's GROUPING()).
    *
    * Shape: Spark expands CUBE into one Expand + hash agg — the corpus
    * is scanned ONCE and each input row fans into 2^d (tiny d)
    * aggregation rows with map-side combine; nothing shuffles but the
    * grouped partials. Returns (dims..., grouping_id, n_docs,
    * n_tokens). */
  def corpusCube(df: DataFrame, dims: Seq[String],
                 textCol: String): DataFrame = {
    require(dims.nonEmpty && dims.size <= 4,
      s"dims must be 1..4 columns, got ${dims.size}")
    df.cube(dims.map(col): _*)
      .agg(grouping_id().cast("long").as("grouping_id"),
        count(lit(1)).as("n_docs"),
        coalesce(sum(size(Text.tokens(col(textCol))).cast("long")),
          lit(0L)).as("n_tokens"))
      .select(dims.map(col) ++ Seq(col("grouping_id"), col("n_docs"),
        col("n_tokens")): _*)
  }

  /** Label-balance audit — share, Shannon entropy, and imbalance ratio
    * of a label column: the first thing to read before training any
    * classifier head or stratifying a split (a 99:1 label column makes
    * accuracy meaningless and a uniform sampler wasteful). Entropy
    * accumulates the per-label p·ln p terms as 1e9-scaled integers
    * (each term one pinned double chain, 9-dp-rounded — the q56 ln
    * discipline), so the sum is order-free and engine-portable.
    *
    * Shape: one hash agg to (label, n) — the only data-sized work —
    * then broadcast-total and label-frame windows (bounded by the
    * number of classes, the audited-global-window class). NULL labels
    * count as their own class. Returns one row per label: (labelCol,
    * n, share, entropy, imbalance) — entropy/imbalance are
    * distribution-level, repeated per row for a self-contained report;
    * imbalance = max class count / min class count. */
  def classBalance(df: DataFrame, labelCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy()
    val counts = df.groupBy(col(labelCol)).agg(count(lit(1)).as("n"))
    val tot = counts.agg(sum(col("n")).as("__t"))
    val p = col("n").cast("double") / col("__t").cast("double")
    counts.crossJoin(broadcast(tot))
      .withColumn("__plogp",
        floor(round(p * log(p), 9) * lit(1e9) + lit(0.5)).cast("long"))
      .select(col(labelCol), col("n"),
        Portable.intRatio9(col("n"), col("__t")).as("share"),
        round((-sum(col("__plogp")).over(w)).cast("double") / lit(1e9), 9)
          .as("entropy"),
        Portable.intRatio9(max(col("n")).over(w), min(col("n")).over(w))
          .as("imbalance"))
  }

  /** Per-class classifier evaluation from a (truth, prediction) frame —
    * confusion-derived support/tp/fp/fn with precision, recall and F1,
    * each an EXACT rational leaving integer land in one division
    * (F1 = 2tp/(2tp+fp+fn) — the single-fraction form, no p·r/(p+r)
    * float chain). The report a label-quality loop reads next to
    * [[graft.ml.NaiveBayesText.calibration]] (which bins confidence,
    * not classes). Zero-denominator metrics are NULL (a class never
    * predicted has no precision), never 0/0.
    *
    * Classes = the union of truth and predicted labels, so a class the
    * model invents (predicts but never true) still surfaces — support
    * 0, fp > 0. Shape: one (truth, pred) hash agg, then label-frame
    * aggs (bounded by #classes). Returns (label, support, tp, fp, fn,
    * precision, recall, f1). */
  def classifierReport(df: DataFrame, truthCol: String,
                       predCol: String): DataFrame = {
    val cells = df.groupBy(col(truthCol).as("__t"), col(predCol).as("__p"))
      .agg(count(lit(1)).as("__c"))
    val tp = cells.filter(col("__t") === col("__p"))
      .select(col("__t").as("label"), col("__c").as("tp"))
    val byTruth = cells.groupBy(col("__t").as("label"))
      .agg(sum(col("__c")).as("support"))
    val byPred = cells.groupBy(col("__p").as("label"))
      .agg(sum(col("__c")).as("predicted"))
    byTruth.join(byPred, Seq("label"), "full_outer")
      .join(tp, Seq("label"), "left")
      .select(col("label"),
        coalesce(col("support"), lit(0L)).as("support"),
        coalesce(col("tp"), lit(0L)).as("tp"),
        (coalesce(col("predicted"), lit(0L)) - coalesce(col("tp"), lit(0L)))
          .as("fp"),
        (coalesce(col("support"), lit(0L)) - coalesce(col("tp"), lit(0L)))
          .as("fn"))
      .withColumn("precision", when(col("tp") + col("fp") > 0,
        Portable.intRatio9(col("tp"), col("tp") + col("fp"))))
      .withColumn("recall", when(col("tp") + col("fn") > 0,
        Portable.intRatio9(col("tp"), col("tp") + col("fn"))))
      .withColumn("f1", when(lit(2L) * col("tp") + col("fp") + col("fn") > 0,
        Portable.intRatio9(lit(2L) * col("tp"),
          lit(2L) * col("tp") + col("fp") + col("fn"))))
  }

  /** Per-dimension (n, Σ integerized-coordinate) stats in long form —
    * ONE wide map-side-combined aggregation (the meanPool lesson: never
    * posexplode dimensions into skinny rows for per-dim sums), then a
    * d-row reshape. Null / mis-sized vectors are excluded. */
  private def dimStats(df: DataFrame, vecCol: String, dims: Int,
                       unitScale: Double): DataFrame = {
    val sums = (0 until dims).map(i =>
      sum(floor(element_at(col(vecCol), i + 1).cast("double") *
        lit(unitScale) + lit(0.5)).cast("long")).as(s"__s$i"))
    df.filter(col(vecCol).isNotNull && size(col(vecCol)) === dims)
      .agg(count(lit(1)).as("__n"), sums: _*)
      .select(col("__n"), posexplode(
        array((0 until dims).map(i => col(s"__s$i")): _*))
        .as(Seq("__d0", "__s")))
      .select((col("__d0").cast("long") + 1L).as("d"), col("__n"),
        coalesce(col("__s"), lit(0L)).as("__s"))
  }

  /** Exact two-sample Kolmogorov–Smirnov statistic between two score
    * distributions — THE distribution-drift number for monitoring a
    * quality/perplexity/length signal across corpus versions or
    * sources ([[graft.ops.Text.unigramDrift]] compares token mass;
    * this compares any per-row score). No approximation and no float
    * CDFs: the supremum runs over the merged distinct score values,
    * and each gap is the exact integer |cdf_a·n_b − cdf_b·n_a| —
    * division to the familiar [0,1] D happens ONCE at the end (9 dp).
    * Ties in the gap resolve to the smallest score.
    *
    * Shape: per-side (score → count) aggs, one full-outer merge on the
    * distinct-score frame, step-fill via last-non-null windows and the
    * max via one ordered-struct agg — every window/agg is bounded by
    * DISTINCT score values (the scorePercentiles class), never corpus
    * rows. Integer capacity: cdf·n ≤ n_a·n_b must fit a LONG —
    * fine to ~3·10^9 rows per side.
    *
    * Returns ONE row: (n_a, n_b, ks_at, ks_num, ks) — D = ks, attained
    * at score ks_at. */
  def ksDrift(a: DataFrame, b: DataFrame, scoreCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wOrd = Window.orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    def cdf(df: DataFrame, cum: String) = df
      .groupBy(col(scoreCol).as("v")).agg(count(lit(1)).as("__c"))
      .withColumn(cum, sum(col("__c")).over(Window.orderBy(col("v"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .drop("__c")
    val na = a.agg(count(lit(1)).as("n_a"))
    val nb = b.agg(count(lit(1)).as("n_b"))
    cdf(a, "__ca").join(cdf(b, "__cb"), Seq("v"), "full_outer")
      .withColumn("__ca2",
        coalesce(last(col("__ca"), ignoreNulls = true).over(wOrd), lit(0L)))
      .withColumn("__cb2",
        coalesce(last(col("__cb"), ignoreNulls = true).over(wOrd), lit(0L)))
      .crossJoin(broadcast(na)).crossJoin(broadcast(nb))
      .withColumn("__d",
        abs(col("__ca2") * col("n_b") - col("__cb2") * col("n_a")))
      .agg(first(col("n_a")).as("n_a"), first(col("n_b")).as("n_b"),
        max(struct(col("__d"), (-col("v")).as("__negv"))).as("__m"))
      .select(col("n_a"), col("n_b"), (-col("__m.__negv")).as("ks_at"),
        col("__m.__d").as("ks_num"),
        Portable.intRatio9(col("__m.__d"),
          col("n_a").cast("decimal(38,0)") * col("n_b")).as("ks"))
  }

  /** Cumulative Poisson(1) thresholds integerized at 1e9 — the
    * bootstrap weight table, computed once here and inlined as the
    * SAME literal integers into the DuckDB oracle (the q170
    * literal-table discipline; cross-engine exp/factorial chains are
    * not trusted). Truncated at weight 8: P(X > 8) < 1.2e-7 folds into
    * the last bucket. */
  val BootstrapCum9: Seq[Long] = {
    val pmf = (0 to 7).scanLeft(math.exp(-1.0)) { (p, k) => p / (k + 1) }
      .take(8)
    pmf.scanLeft(0.0)(_ + _).tail
      .map(c => math.floor(c * 1e9 + 0.5).toLong)
  }

  /** The same thresholds re-based to RAW 60-bit HASH units
    * (ceil(c₉·2⁶⁰/10⁹)): the draw compares the keyed hash against
    * these as PURE INTEGERS — no float scaling anywhere, so no
    * engine can disagree at a boundary. */
  val BootstrapCumHash: Seq[Long] = BootstrapCum9
    .map(c9 => (((BigInt(c9) << 60) + 999999999) / 1000000000).toLong)

  /** Poisson bootstrap confidence interval for a score mean (Oza &
    * Russell '01 online bootstrap; the production form — Chamandy et
    * al., Google '12 "Estimating Uncertainty for Massive Data
    * Streams"): each row's multiplicity in resample b is a
    * Poisson(1) draw KEYED on (id, salt, b) — no per-resample data
    * pass, no RNG state, bit-reproducible across runs, partitionings
    * and engines. The CI is the exact [⌈0.025B⌉, ⌈0.975B⌉] order
    * statistics of the B resample means (percentile bootstrap).
    *
    * Cross-engine determinism: the Poisson inverse-CDF compares the
    * RAW 60-bit hash against the [[BootstrapCumHash]] literal
    * integers — pure integer comparisons, no float scaling; resample
    * means are exact-integer ratios (Σw·x₉ / Σw) integerized back at
    * 1e9; the CI bounds are order statistics of those integers — no
    * float sort anywhere.
    *
    * Shape: one pass emits (b, w·x₉, w) per (row, resample) —
    * map-side combined into B partial rows per task, so the shuffle
    * carries B·tasks rows, never B·n. B is a report knob (64–256);
    * the final CI ranks a B-row frame. Empty resamples (possible only
    * for tiny n) drop, and the rank targets use the SURVIVING count.
    * Returns ONE row: (n, n_resamples, mean, lo95, hi95). */
  def bootstrapMeanCi(df: DataFrame, idCol: String, scoreCol: String,
                      b: Int, salt: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(b >= 8 && b <= 1024, s"b must be in [8,1024], got $b")
    val x9 = floor(round(col(scoreCol).cast("double"), 9) * lit(1e9) +
      lit(0.5)).cast("long")
    val h = Portable.seededHash(col(idCol), lit(salt), col("__b"))
    val w = BootstrapCumHash.map(c => when(h >= c, 1L).otherwise(0L))
      .reduce(_ + _)
    // The scored frame is CUT before the b-way fanout (r15): fused into
    // the nested-loop join's codegen stage, the score expression (for
    // q228 the full qualityScore composite — splits + two regexes) was
    // re-evaluated inside the per-resample loop, b× per document
    // (measured 1.3 s → 19 s when the score gained a third regex; with
    // the barrier the fanout multiplies 16-byte (id, long) rows and the
    // score evaluates exactly once per row, whatever the score
    // expression costs).
    val scored9 = graft.ops.Barrier.cut(df.select(col(idCol), x9.as("__x")))
    val per = scored9
      .crossJoin(broadcast(
        df.sparkSession.range(b.toLong).select(col("id").as("__b"))))
      .select(col("__b"), w.as("__w"), col("__x"))
      .groupBy(col("__b"))
      .agg(sum(col("__w") * col("__x")).as("__swx"),
        sum(col("__w")).as("__sw"))
      .filter(col("__sw") > 0L)
      .select(col("__b"),
        Portable.intRatioScaledSigned(col("__swx"),
          col("__sw").cast("decimal(38,0)") * lit(1000000000L), 9)
          .as("__m9"))
    val wAll = Window.orderBy(col("__m9"), col("__b"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val ranked = per
      .withColumn("__r", row_number()
        .over(Window.orderBy(col("__m9"), col("__b"))).cast("long"))
      .withColumn("__nb", count(lit(1)).over(wAll))
    val nm = df.agg(count(lit(1)).as("n"), sum(x9).as("__sx"))
    ranked
      .groupBy(col("__nb"))
      .agg(
        min(when(col("__r") === expr("(__nb * 25 + 999) div 1000"),
          col("__m9"))).as("__lo9"),
        min(when(col("__r") === expr("(__nb * 975 + 999) div 1000"),
          col("__m9"))).as("__hi9"))
      .crossJoin(broadcast(nm))
      .select(col("n"), col("__nb").as("n_resamples"),
        when(col("n") > 0L, Portable.intRatioSigned9(col("__sx"),
          col("n").cast("decimal(38,0)") * lit(1000000000L))).as("mean"),
        round(col("__lo9").cast("double") / lit(1e9), 9).as("lo95"),
        round(col("__hi9").cast("double") / lit(1e9), 9).as("hi95"))
  }

  /** 1-D Wasserstein-1 (earth-mover) distance between two score
    * samples — the MAGNITUDE complement of [[ksDrift]]'s supremum:
    * KS says the CDFs disagree somewhere; W₁ = ∫|F_A − F_B| dx prices
    * how much probability mass must move how far, in score units (the
    * drift number a data team can compare against a gate threshold's
    * width). On the merged distinct-value grid the integrand is
    * piecewise constant, so W₁ = Σᵢ |F_A(vᵢ) − F_B(vᵢ)|·(vᵢ₊₁ − vᵢ)
    * EXACTLY — no binning, no approximation.
    *
    * Cross-engine determinism: per-step terms are the exact integers
    * |cumA·n_b − cumB·n_a| · Δv9 (scores integerized at 1e9 — 9-dp
    * inputs are exact), summed in DECIMAL(38,0); ONE double chain
    * divides by n_a·n_b·1e9 at the end ([[Portable.ratio9]]).
    *
    * Shape: the [[ksDrift]] machinery — two distinct-value CDFs,
    * full-outer merge, step-fill windows, lead(v) for Δ — everything
    * bounded by the distinct-score count, never a data sort.
    * Returns ONE row: (n_a, n_b, n_values, w1). */
  def wassersteinDrift(a: DataFrame, b: DataFrame,
                       scoreCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wOrd = Window.orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    def cdf(df: DataFrame, cum: String) = df
      .groupBy(col(scoreCol).as("v")).agg(count(lit(1)).as("__c"))
      .withColumn(cum, sum(col("__c")).over(Window.orderBy(col("v"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .drop("__c")
    val na = a.agg(count(lit(1)).as("n_a"))
    val nb = b.agg(count(lit(1)).as("n_b"))
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val v9 = floor(col("v") * lit(1e9) + lit(0.5)).cast("long")
    cdf(a, "__ca").join(cdf(b, "__cb"), Seq("v"), "full_outer")
      .withColumn("__ca2",
        coalesce(last(col("__ca"), ignoreNulls = true).over(wOrd), lit(0L)))
      .withColumn("__cb2",
        coalesce(last(col("__cb"), ignoreNulls = true).over(wOrd), lit(0L)))
      .withColumn("__dv9",
        lead(v9, 1).over(Window.orderBy(col("v"))) - v9)
      .crossJoin(broadcast(na)).crossJoin(broadcast(nb))
      .withColumn("__t",
        when(col("__dv9").isNotNull,
          abs(col("__ca2") * col("n_b") - col("__cb2") * col("n_a"))
            .cast(dec) * col("__dv9").cast(dec)).cast(dec))
      .agg(first(col("n_a")).as("n_a"), first(col("n_b")).as("n_b"),
        count(lit(1)).as("n_values"),
        sum(col("__t")).as("__w"))
      .select(col("n_a"), col("n_b"), col("n_values"),
        when(col("n_a") > 0 && col("n_b") > 0,
          Portable.intRatio9(coalesce(col("__w"), lit(0).cast(dec)),
            col("n_a").cast(dec) * col("n_b") * lit(1000000000L)))
          .as("w1"))
  }

  /** Tie-corrected Mann–Whitney U test between two score samples —
    * the LOCATION complement of [[ksDrift]]'s shape statistic: "is
    * one source's quality systematically higher", robust to any
    * monotone rescaling of the score. Midranks handle ties exactly:
    * everything stays integer by carrying 2×rank quantities
    * (2·midrank(v) = 2·cum_before + cnt + 1), so R₁ and U₁ are exact
    * half-integer-free BIGINTs at double scale; the normal
    * approximation's variance uses the standard tie correction
    * σ² = n₁n₂((n+1)n(n−1) − Σ(t³−t)) / (12·n·(n−1)), formed as one
    * exact integer ratio before ONE pinned double chain (IEEE sqrt —
    * portable). Zero variance (all values tied) yields NULL z.
    *
    * Shape: one joint distinct-value agg (per-side counts ride as
    * conditional sums), rank arithmetic as bounded windows over the
    * value frame, a 1-row rollup. Integer capacity: t³ ≤ n³ and
    * n₁n₂(n+1)n(n−1) must fit a LONG — fine to ~10⁴ rows per side;
    * beyond that swap the variance numerator to DECIMAL(38,0).
    * Returns ONE row: (n_a, n_b, u2_a — twice U₁ —, u_a, z). */
  def mannWhitney(a: DataFrame, b: DataFrame, scoreCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val joint = a.select(col(scoreCol).as("v"), lit(1L).as("__ca"),
        lit(0L).as("__cb"))
      .unionByName(b.select(col(scoreCol).as("v"), lit(0L).as("__ca"),
        lit(1L).as("__cb")))
      .groupBy(col("v"))
      .agg(sum(col("__ca")).as("ca"), sum(col("__cb")).as("cb"))
      .withColumn("cnt", col("ca") + col("cb"))
      .withColumn("cum_before",
        coalesce(sum(col("cnt")).over(Window.orderBy(col("v"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
    joint
      .agg(sum(col("ca")).as("n_a"), sum(col("cb")).as("n_b"),
        // 2·R1 = Σ ca·(2·cum_before + cnt + 1)
        sum(col("ca") * (lit(2L) * col("cum_before") + col("cnt") + 1L))
          .as("__r2"),
        sum(col("cnt") * col("cnt") * col("cnt") - col("cnt")).as("__t3"))
      .withColumn("u2_a",
        col("__r2") - col("n_a") * (col("n_a") + 1L))
      .withColumn("u_a",
        col("u2_a").cast("double") / lit(2.0))
      .withColumn("__n", col("n_a") + col("n_b"))
      .withColumn("__varnum", col("n_a") * col("n_b") *
        ((col("__n") + 1L) * col("__n") * (col("__n") - 1L) - col("__t3")))
      .withColumn("__varden", lit(12L) * col("__n") * (col("__n") - 1L))
      .withColumn("z", when(col("__varnum") > 0L, Portable.ratio9(
        ((col("u2_a") - col("n_a") * col("n_b")).cast("double") / lit(2.0))
          / sqrt(col("__varnum").cast("double") /
            col("__varden").cast("double")))))
      .select(col("n_a"), col("n_b"), col("u2_a"), col("u_a"), col("z"))
  }

  /** Exact Spearman rank correlation between two numeric columns —
    * the monotone-association readout between two quality signals
    * ("do longer documents score higher"), robust to any monotone
    * transform of either axis (Pearson on raw scores is not — a
    * heavy-tailed length column would dominate it). Computed as
    * Pearson over MIDRANKS with the tie-correct 2×-integer trick
    * ([[mannWhitney]]'s): per column, the doubled midrank of value v
    * is 2·cum(v) − c(v) + 1 — an exact integer from the distinct-
    * value CDF, and the constant factor 2 cancels in the correlation.
    *
    * Cross-engine determinism: values integerize at 1e9 before
    * ranking (ties are decided on exact integers, never on float
    * identity); all five moment sums are exact DECIMAL(38,0) (ranks
    * ≤ 2n ⇒ Σr² ≤ 4n³ — fine to n ~ 10¹¹); ONE pinned double chain
    * forms num / (√d₁·√d₂) at the end (IEEE sqrt/mult — portable).
    *
    * Shape: two distinct-value CDFs (bounded windows over the VALUE
    * frames — never a data sort), two value-keyed joins back, one
    * 1-row rollup. Constant columns (zero rank variance) yield NULL.
    * Returns ONE row: (n, rho). */
  def spearman(df: DataFrame, xCol: String, yCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    def i9(c: Column) = floor(round(c.cast("double"), 9) * lit(1e9) +
      lit(0.5)).cast("long")
    val base = df.select(i9(col(xCol)).as("__x"), i9(col(yCol)).as("__y"))
    def ranks(vc: String, rc: String) = base
      .groupBy(col(vc)).agg(count(lit(1)).as("__c"))
      .withColumn("__cum", sum(col("__c")).over(Window.orderBy(col(vc))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select(col(vc),
        (lit(2L) * col("__cum") - col("__c") + 1L).as(rc))
    val moments = base
      .join(ranks("__x", "__rx"), Seq("__x"))
      .join(ranks("__y", "__ry"), Seq("__y"))
      .agg(count(lit(1)).as("n"),
        sum(col("__rx").cast(dec)).as("__sx"),
        sum(col("__ry").cast(dec)).as("__sy"),
        sum(col("__rx").cast(dec) * col("__rx").cast(dec)).as("__sxx"),
        sum(col("__ry").cast(dec) * col("__ry").cast(dec)).as("__syy"),
        sum(col("__rx").cast(dec) * col("__ry").cast(dec)).as("__sxy"))
    val dxx = col("n").cast(dec) * col("__sxx") -
      col("__sx") * col("__sx")
    val dyy = col("n").cast(dec) * col("__syy") -
      col("__sy") * col("__sy")
    moments.select(col("n"),
      when(dxx > 0 && dyy > 0, Portable.ratio9(
        (col("n").cast(dec) * col("__sxy") - col("__sx") * col("__sy"))
          .cast("double") /
          (sqrt(dxx.cast("double")) * sqrt(dyy.cast("double")))))
        .as("rho"))
  }

  /** Cohen's kappa (Cohen '60) — chance-corrected agreement between
    * two categorical labelings of the same rows (classifier vs truth,
    * or two annotators): κ = (p_o − p_e)/(1 − p_e) with p_e the
    * marginal-product chance agreement. The raw-agreement complement
    * of [[classifierReport]]'s per-class view — a skewed label mix
    * makes raw agreement flatter the rarer rater; κ prices it.
    *
    * Exact to the last division: κ = (N·ΣdiagC − Σ_k r_k·c_k) /
    * (N² − Σ_k r_k·c_k) — every term an exact DECIMAL(38,0) product
    * of counts (full-outer margin join so a label one rater never
    * emits still contributes through its other margin), ONE pinned
    * double chain each for p_o, p_e, κ.
    *
    * Shape: one (a,b) grid agg, two margin aggs over the GRID (label-
    * bounded), a 1-row rollup. Degenerate p_e = 1 (both raters
    * constant) yields NULL κ. Returns ONE row:
    * (n, agree, po, pe, kappa). */
  def cohenKappa(df: DataFrame, aCol: String, bCol: String): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val cells = df.groupBy(col(aCol).as("__a"), col(bCol).as("__b"))
      .agg(count(lit(1)).as("__c"))
    val ra = cells.groupBy(col("__a").as("__l"))
      .agg(sum(col("__c")).as("__ra"))
    val cb = cells.groupBy(col("__b").as("__l"))
      .agg(sum(col("__c")).as("__cb"))
    val pe = ra.join(cb, Seq("__l"), "full_outer")
      .select((coalesce(col("__ra"), lit(0L)).cast(dec) *
        coalesce(col("__cb"), lit(0L)).cast(dec)).as("__rc"))
      .agg(sum(col("__rc")).as("__pe"))
    cells
      .agg(sum(col("__c")).as("n"),
        sum(when(col("__a") === col("__b"), col("__c")).otherwise(0L))
          .as("agree"))
      .crossJoin(broadcast(pe))
      .select(col("n"), col("agree"),
        when(col("n") > 0L, Portable.intRatio9(col("agree"), col("n")))
          .as("po"),
        when(col("n") > 0L, Portable.intRatio9(col("__pe"),
          col("n").cast(dec) * col("n"))).as("pe"),
        when(col("n").cast(dec) * col("n").cast(dec) - col("__pe") > 0,
          Portable.intRatioSigned9(
            col("n").cast(dec) * col("agree").cast(dec) - col("__pe"),
            col("n").cast(dec) * col("n").cast(dec) - col("__pe")))
          .as("kappa"))
  }

  /** Mutual information (and normalized MI) between two categorical
    * columns — the information-theoretic twin of [[chiSquare]]:
    * MI = Σ_cells p(a,b)·ln(p(a,b)/(p(a)p(b))), how many nats one
    * column reveals about the other; NMI = MI/√(H_a·H_b) rescales to
    * [0,1] so mixes of different entropy are comparable. Zero cells
    * contribute exactly 0 (p ln p → 0), so unlike χ² the observed
    * grid IS the full grid.
    *
    * Cross-engine determinism: per-cell and per-margin log terms
    * integerize at 1e9 through ONE pinned double chain each (the
    * q103 KL-term recipe) and sum in LONG; NMI is one further pinned
    * chain over the three integer sums (MI9/√(Ha9·Hb9) — the 1e9
    * scales cancel exactly).
    *
    * Shape: one (a,b) grid agg, margins re-aggregated from the GRID,
    * margin-keyed joins back over the grid (all label-bounded), 1-row
    * broadcast total. Returns ONE row:
    * (n, n_cells, mi, h_a, h_b, nmi). */
  def mutualInformation(df: DataFrame, aCol: String,
                        bCol: String): DataFrame = {
    val cells = df.groupBy(col(aCol).as("__a"), col(bCol).as("__b"))
      .agg(count(lit(1)).as("__c"))
    val n = cells.agg(sum(col("__c")).as("__n"))
    val ra = cells.groupBy(col("__a")).agg(sum(col("__c")).as("__ra"))
    val cb = cells.groupBy(col("__b")).agg(sum(col("__c")).as("__cb"))
    def t9(x: Column) =
      floor(round(x, 9) * lit(1e9) + lit(0.5)).cast("long")
    def ent(m: DataFrame, mc: String) = m.crossJoin(broadcast(n))
      .select(t9(-(col(mc).cast("double") / col("__n").cast("double")) *
        log(col(mc).cast("double") / col("__n").cast("double")))
        .as("__t"))
      .agg(sum(col("__t")).as(s"${mc}9"))
    val mi = cells.join(ra, Seq("__a")).join(cb, Seq("__b"))
      .crossJoin(broadcast(n))
      .select(t9((col("__c").cast("double") / col("__n").cast("double")) *
        log(col("__c").cast("double") * col("__n").cast("double") /
          (col("__ra").cast("double") * col("__cb").cast("double"))))
        .as("__t"))
      .agg(count(lit(1)).as("n_cells"), sum(col("__t")).as("__mi9"))
    mi.crossJoin(broadcast(n)).crossJoin(broadcast(ent(ra, "__ra")))
      .crossJoin(broadcast(ent(cb, "__cb")))
      .select(col("__n").as("n"), col("n_cells"),
        round(col("__mi9").cast("double") / lit(1e9), 9).as("mi"),
        round(col("__ra9").cast("double") / lit(1e9), 9).as("h_a"),
        round(col("__cb9").cast("double") / lit(1e9), 9).as("h_b"),
        when(col("__ra9") > 0L && col("__cb9") > 0L, Portable.ratio9(
          col("__mi9").cast("double") /
            (sqrt(col("__ra9").cast("double")) *
              sqrt(col("__cb9").cast("double"))))).as("nmi"))
  }

  /** Benford first-digit CDF: P(d) = log₁₀(1 + 1/d) integerized at
    * 1e9 ONCE here and inlined as the SAME literal integers into the
    * oracle (the q170 literal-table discipline — cross-engine log10
    * is not trusted). */
  val Benford9: Seq[Long] = (1 to 9).map(d =>
    math.floor(math.log10(1.0 + 1.0 / d) * 1e9 + 0.5).toLong)

  /** Benford first-significant-digit audit of a positive numeric
    * column (Benford 1938; the classic fabricated-data / unit-mixing
    * smell test for prices, counts, durations): observed first-digit
    * shares against the Benford expectation. Naturally-grown
    * multiplicative quantities follow it; truncation, synthetic
    * fill-in, or a clamped range bend it.
    *
    * The digit extraction never touches floats or logs: the value
    * integerizes at 2 decimals (cents, exact for fixed-point money), and
    * the first digit of a nonneg LONG is its first decimal-string
    * character — integer-to-string is exact in every engine. All 9
    * digit rows emit (the χ² zero-cell lesson); `excess` is the exact
    * integer difference share9 − p9 over 1e9.
    *
    * Shape: one digit-keyed agg (9 groups, map-side combined), the
    * 9-row literal grid joined in, a 1-row total broadcast. Returns
    * 9 rows: (digit, observed, n, share, benford_p, excess). */
  def benfordAudit(df: DataFrame, valueCol: String): DataFrame = {
    import df.sparkSession.implicits._
    val v = floor(round(col(valueCol).cast("double"), 2) * lit(100.0) +
      lit(0.5)).cast("long")
    val counted = df
      .select(v.as("__v")).filter(col("__v") > 0L)
      .select(substring(col("__v").cast("string"), 1, 1).cast("int")
        .as("digit"))
      .groupBy(col("digit")).agg(count(lit(1)).as("observed"))
    val grid = Benford9.zipWithIndex
      .map { case (p9, i) => (i + 1, p9) }.toDF("digit", "__p9")
    val tot = counted.agg(sum(col("observed")).as("n"))
    val share9 = Portable.intRatioScaled(col("observed"), col("n"), 9)
    broadcast(grid)
      .join(counted, Seq("digit"), "left")
      .select(col("digit"),
        coalesce(col("observed"), lit(0L)).as("observed"), col("__p9"))
      .crossJoin(broadcast(tot))
      .select(col("digit"), col("observed"), col("n"),
        when(col("n") > 0L,
          round(share9.cast("double") / lit(1e9), 9)).as("share"),
        round(col("__p9").cast("double") / lit(1e9), 9).as("benford_p"),
        when(col("n") > 0L,
          round((share9 - col("__p9")).cast("double") / lit(1e9), 9))
          .as("excess"))
  }

  /** Per-dimension embedding feature health — mean / std / min / max
    * / zero fraction for every coordinate: the table that catches
    * dead dimensions (std 0), scale drift between model versions
    * (one dim 100× its siblings distorts every unnormalized dot),
    * and stuck-at-zero features, none of which the vector-level
    * [[embeddingChecks]] can see. One pass: the [[graft.ops
    * .Similarity.meanPoolEmbeddings]] wide-agg discipline — d×5
    * map-side-combined agg columns, never a per-dim explode into
    * skinny rows — then a d-row inline. The dimension comes from a
    * 1-row probe (bounded driver probe; mis-sized/null vectors are
    * [[embeddingChecks]]' job and are excluded here).
    *
    * Determinism: coordinates integerize at 1e9 (float32 values are
    * exact in double); sums and squared sums are exact LONG/DECIMAL;
    * mean, std = √((n·Σx²−S²))/n/1e9 and zero_frac are single pinned
    * chains; min/max are exact integers over 1e9.
    * Returns d rows: (dim — 1-based —, n, mean, std, min, max,
    * zero_frac). */
  def embeddingDimStats(emb: DataFrame, vecCol: String): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val dim = emb.select(size(col(vecCol)).as("n")).head().getInt(0)
    val clean = emb.select(col(vecCol).as("__v"))
      .filter(col("__v").isNotNull && size(col("__v")) === dim)
    // integerize each coordinate ONCE in a projection — the five agg
    // functions below otherwise each re-evaluated the full
    // element_at→round→floor chain per row (6·d evaluations/row for
    // d needed; same expressions, so the stats are bit-identical)
    def x9(i: Int) = floor(round(element_at(col("__v"), i + 1)
      .cast("double"), 9) * lit(1e9) + lit(0.5)).cast("long")
    val proj = clean.select((0 until dim).map(i => x9(i).as(s"__x$i")): _*)
    def xc(i: Int) = col(s"__x$i")
    val aggs = (0 until dim).flatMap { i =>
      Seq(sum(xc(i)).as(s"__s$i"),
        sum(xc(i).cast(dec) * xc(i).cast(dec)).as(s"__q$i"),
        min(xc(i)).as(s"__lo$i"), max(xc(i)).as(s"__hi$i"),
        sum(when(xc(i) === 0L, 1L).otherwise(0L)).as(s"__z$i"))
    }
    val wide = proj.agg(count(lit(1)).as("__n"), aggs: _*)
    val rows = (0 until dim).map { i =>
      struct(lit(i + 1).as("dim"), col("__n").as("n"),
        when(col("__n") > 0L, Portable.intRatioSigned9(col(s"__s$i"),
          col("__n").cast(dec) * lit(1000000000L))).as("mean"),
        when(col("__n") > 0L, Portable.ratio9(
          sqrt(greatest(lit(0.0),
            (col("__n").cast(dec) * col(s"__q$i") -
              col(s"__s$i").cast(dec) * col(s"__s$i").cast(dec))
              .cast("double"))) / col("__n").cast("double") / lit(1e9)))
          .as("std"),
        round(col(s"__lo$i").cast("double") / lit(1e9), 9).as("min"),
        round(col(s"__hi$i").cast("double") / lit(1e9), 9).as("max"),
        when(col("__n") > 0L, Portable.intRatio9(col(s"__z$i"),
          col("__n"))).as("zero_frac"))
    }
    wide.select(explode(array(rows: _*)).as("__r")).select(col("__r.*"))
  }

  /** Embedding L2-norm distribution audit — the collapsed/exploded-
    * vector detector: per corpus, count, mean norm, exact order-
    * statistic quantiles (p01/p25/p50/p75/p99 as the ⌈p·n⌉-th norm),
    * min/max, and the zero-vector count. A healthy normalized store
    * reads ≈1 everywhere; a fat left tail is collapse, stray giants
    * distort every unnormalized dot product.
    *
    * Determinism: per-row Σx₉² is an exact LONG (coordinate-mass
    * bound: |x|≤~10 ⇒ per-row ≤ d·10²⁰ — DECIMAL carries it); the
    * norm √(Σx₉²)/1e9 is one pinned chain integerized back at 1e9;
    * quantiles are exact order statistics off the distinct-norm CDF
    * (never a data sort); mean is one division of the exact LONG sum.
    * Returns ONE row: (n, n_zero, mean, p01, p25, p50, p75, p99,
    * min, max). */
  def embeddingNormProfile(emb: DataFrame, vecCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val ssq = aggregate(col(vecCol),
      lit(0L).cast(dec),
      (acc, x) => acc + {
        val x9 = floor(round(x.cast("double"), 9) * lit(1e9) + lit(0.5))
          .cast("long")
        (x9.cast(dec) * x9.cast(dec))
      })
    val n9 = floor(round(sqrt(ssq.cast("double")) / lit(1e9), 9) *
      lit(1e9) + lit(0.5)).cast("long")
    val norms = emb.filter(col(vecCol).isNotNull)
      .select(n9.as("__n9"))
      .groupBy(col("__n9")).agg(count(lit(1)).as("__c"))
    val wOrd = Window.orderBy(col("__n9"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cdf = norms.withColumn("__cum", sum(col("__c")).over(wOrd))
    def q(pNum: Int, pDen: Int, name: String) =
      min(when(col("__cum") * pDen >= col("__n") * pNum, col("__n9")))
        .as(name)
    cdf.crossJoin(broadcast(
        norms.agg(sum(col("__c")).as("__n"),
          sum(col("__n9").cast(dec) * col("__c").cast(dec)).as("__sn"),
          sum(when(col("__n9") === 0L, col("__c")).otherwise(0L))
            .as("n_zero"))))
      .groupBy(col("__n"), col("__sn"), col("n_zero"))
      .agg(q(1, 100, "__p01"), q(25, 100, "__p25"), q(50, 100, "__p50"),
        q(75, 100, "__p75"), q(99, 100, "__p99"),
        min(col("__n9")).as("__min"), max(col("__n9")).as("__max"))
      .select(col("__n").as("n"), col("n_zero"),
        when(col("__n") > 0L, Portable.intRatio9(col("__sn"),
          col("__n").cast("decimal(38,0)") * lit(1000000000L)))
          .as("mean"),
        round(col("__p01").cast("double") / lit(1e9), 9).as("p01"),
        round(col("__p25").cast("double") / lit(1e9), 9).as("p25"),
        round(col("__p50").cast("double") / lit(1e9), 9).as("p50"),
        round(col("__p75").cast("double") / lit(1e9), 9).as("p75"),
        round(col("__p99").cast("double") / lit(1e9), 9).as("p99"),
        round(col("__min").cast("double") / lit(1e9), 9).as("min"),
        round(col("__max").cast("double") / lit(1e9), 9).as("max"))
  }

  /** Embedding anisotropy audit (Ethayarajh, EMNLP'19; Mu & Viswanath
    * '18 "All-but-the-Top") — the top principal direction of the
    * coordinate covariance and its share of total variance: an
    * embedding store whose variance concentrates in one direction
    * makes every cosine similarity read artificially high, and the
    * dominant direction is exactly what all-but-the-top removes.
    * Computed as a FIXED `rounds`-step power iteration over the
    * [[embeddingCovariance]] matrix (the semantics ARE the unrolled
    * rounds, mirrored CTE-for-CTE in the oracle — the q86/q238
    * discipline; the d×d matrix is report-sized, the corpus cost is
    * the one Gramian pass).
    *
    * Determinism: covariance entries integerize at 1e9; each
    * mat-vec product is an exact DECIMAL(38,0) sum; each
    * normalization is ONE pinned double chain (w/max|w|, floor at
    * 1e9 — floor, not truncation, so negative components agree
    * across engines); the sign convention pins the largest-|loading|
    * component (ties → lowest dim) positive. The eigenvalue is the
    * Rayleigh quotient of the final vector; `explained_share` divides
    * by the exact trace.
    *
    * Returns d rows: (dim, loading, eigenvalue, explained_share) —
    * the scalars repeated per row. */
  def embeddingAnisotropy(emb: DataFrame, vecCol: String, dims: Int,
                          rounds: Int): DataFrame = {
    require(rounds >= 1 && rounds <= 8,
      s"rounds must be in [1,8], got $rounds")
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val spark = emb.sparkSession
    val c9 = floor(round(col("cov"), 9) * lit(1e9) + lit(0.5))
      .cast("long").as("c9")
    val tri = Barrier.cut(
      embeddingCovariance(emb, vecCol, dims).select(col("i"), col("j"), c9))
    val full = Barrier.cut(tri.unionByName(tri.filter(col("i") =!= col("j"))
      .select(col("j").as("i"), col("i").as("j"), col("c9"))))
    var v = spark.range(1, dims + 1L)
      .select(col("id").as("j"), lit(1000000000L).as("v"))
    for (_ <- 1 to rounds) {
      val w = full.join(v, Seq("j"))
        .groupBy(col("i"))
        .agg(sum(col("c9").cast(dec) * col("v").cast(dec)).as("__w"))
      val mx = w.agg(max(abs(col("__w"))).as("__m"))
      v = Barrier.cut(w.crossJoin(broadcast(mx))
        .select(col("i").as("j"),
          Portable.intRatioScaledSigned(col("__w"), col("__m"), 9)
            .as("v")))
    }
    // pin the sign: the largest-|loading| component (ties -> lowest
    // dim) must be positive
    val sgn = v.agg(max(struct(abs(col("v")).as("a"), (-col("j")).as("nj"),
        signum(col("v")).cast("long").as("s"))).as("__p"))
      .select(when(col("__p.s") < 0L, -1L).otherwise(1L).as("__sg"))
    val vs = Barrier.cut(v.crossJoin(broadcast(sgn))
      .select(col("j"), (col("v") * col("__sg")).as("v")))
    val num = full.join(vs.select(col("j"), col("v")), Seq("j"))
      .join(vs.select(col("j").as("i"), col("v").as("__vi")), Seq("i"))
      .agg(sum(col("c9").cast(dec) * col("v").cast(dec) *
        col("__vi").cast(dec)).as("__num"))
    val den = vs.agg(sum(col("v").cast(dec) * col("v").cast(dec))
      .as("__den"))
    val trace = tri.filter(col("i") === col("j"))
      .agg(sum(col("c9")).as("__tr9"))
    vs.crossJoin(broadcast(num)).crossJoin(broadcast(den))
      .crossJoin(broadcast(trace))
      .select(col("j").as("dim"),
        round(col("v").cast("double") / lit(1e9), 9).as("loading"),
        when(col("__den") > 0, Portable.intRatioSigned9(col("__num"),
          col("__den").cast(dec) * lit(1000000000L))).as("eigenvalue"),
        when(col("__den") > 0 && col("__tr9") > 0L,
          Portable.intRatioSigned9(col("__num"),
            col("__den").cast(dec) * col("__tr9")))
          .as("explained_share"))
  }

  /** k-anonymity / l-diversity audit (Sweeney'02; Machanavajjhala
    * et al.'07) — the release-gate numbers for any table carrying
    * quasi-identifiers: a row is k-anonymous iff at least k rows share
    * its full QI combination, and a QI group is l-diverse iff it
    * spans ≥ l distinct sensitive values (k-anonymity alone leaks when
    * a group is sensitive-homogeneous). One pass: QI-group sizes and
    * per-group distinct-sensitive counts, rolled to the release
    * decision row. All counts exact; the share is one division.
    *
    * Shape: one hash agg on the QI columns (count + count distinct),
    * one rollup over the group frame. Returns ONE row: (n_rows,
    * n_groups, min_group_size, n_viol_groups, n_viol_rows,
    * viol_share, min_l) — release-safe iff n_viol_rows = 0 AND
    * min_l ≥ the policy's l. */
  def kAnonymity(df: DataFrame, qiCols: Seq[String], sensitiveCol: String,
                 k: Long): DataFrame = {
    require(qiCols.nonEmpty, "need at least one quasi-identifier column")
    require(k >= 2, s"k must be >= 2, got $k")
    val groups = df.groupBy(qiCols.map(col): _*)
      .agg(count(lit(1)).as("__sz"),
        countDistinct(col(sensitiveCol)).as("__l"))
    groups.agg(
        sum(col("__sz")).as("n_rows"),
        count(lit(1)).as("n_groups"),
        min(col("__sz")).as("min_group_size"),
        sum(when(col("__sz") < k, 1L).otherwise(0L)).as("n_viol_groups"),
        sum(when(col("__sz") < k, col("__sz")).otherwise(0L))
          .as("n_viol_rows"),
        min(col("__l")).as("min_l"))
      .select(col("n_rows"), col("n_groups"), col("min_group_size"),
        col("n_viol_groups"), col("n_viol_rows"),
        Portable.intRatio9(col("n_viol_rows"), col("n_rows"))
          .as("viol_share"),
        col("min_l"))
  }

  /** Leave-one-group-out ablation of a mean metric — "which source is
    * dragging the corpus average down" answered for EVERY source in
    * one pass: additive metrics make ablation algebra, not re-runs
    * (global sum − group sum over global count − group count). Scores
    * integerize at 1e9 (floor(x·1e9 + ½)) and sum in exact LONG, so
    * each ablated mean is one pinned double chain and the table is
    * engine-portable. `delta` = ablated mean − global mean: positive
    * delta = removing the group RAISES the average (the group was a
    * drag). A group that IS the whole corpus ablates to NULL.
    *
    * Shape: one (group → n, Σ) agg + a broadcast 1-row global; no
    * second scan per group — that is the point. Returns one row per
    * group: (groupCol, n_g, mean_g, mean_without, delta), delta
    * descending — the ablation leaderboard. */
  def leaveOneOut(df: DataFrame, groupCol: String,
                  scoreCol: String): DataFrame = {
    val si = floor(col(scoreCol).cast("double") * lit(1e9) + lit(0.5))
      .cast("long")
    val per = df.select(col(groupCol), si.as("__si"))
      .groupBy(col(groupCol))
      .agg(count(lit(1)).as("n_g"), sum(col("__si")).as("__sg"))
    val tot = per.agg(sum(col("n_g")).as("__n"), sum(col("__sg")).as("__s"))
    val dec = "decimal(38,0)"
    val e9 = lit(1000000000L)
    per.crossJoin(broadcast(tot))
      .select(col(groupCol), col("n_g"),
        Portable.intRatio9(col("__sg"), col("n_g").cast(dec) * e9)
          .as("mean_g"),
        when(col("__n") > col("n_g"),
          Portable.intRatio9(col("__s") - col("__sg"),
            (col("__n") - col("n_g")).cast(dec) * e9)).as("mean_without"),
        // delta = mean_without − mean_overall cleared to ONE signed
        // exact ratio: ((s−sg)·n − s·(n−ng)) / (n·(n−ng)·1e9)
        when(col("__n") > col("n_g"),
          Portable.intRatioSigned9(
            (col("__s") - col("__sg")).cast(dec) * col("__n") -
              col("__s").cast(dec) * (col("__n") - col("n_g")),
            col("__n").cast(dec) * (col("__n") - col("n_g")) * e9))
          .as("delta"))
  }

  /** Exact trimmed mean per group — the robust location estimate a
    * quality dashboard should show instead of the raw mean (one
    * spam-burst document at length 10⁷ moves a mean; it cannot move a
    * 10%-trimmed one): keep ranks in [⌊n·lo⌋+1, n − ⌊n·lo⌋] (both
    * tails trimmed by the `loNum/loDen` fraction) and average exactly.
    * No sort of the data: each DISTINCT value contributes
    * overlap([cum_before+1, cum], [k_lo, k_hi]) copies — pure integer
    * interval arithmetic over the group's distinct-value CDF — and
    * values integerize at 1e9 so the kept-sum is an exact LONG.
    *
    * Shape: one (group, value) agg, per-group CDF windows (bounded by
    * distinct values), one group rollup. Integer capacity: 1e9-scaled
    * value × kept count per group must fit LONG (~9·10⁹ unit-scale
    * rows). Returns (groupCol, n, n_kept, trimmed_mean) — NULL when
    * the trim empties the group. */
  def trimmedMean(df: DataFrame, groupCol: String, scoreCol: String,
                  loNum: Long, loDen: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(loDen >= 1 && loNum >= 0 && 2 * loNum < loDen,
      s"trim fraction $loNum/$loDen must be in [0, 0.5)")
    val cdf = df
      .select(col(groupCol),
        floor(col(scoreCol).cast("double") * lit(1e9) + lit(0.5))
          .cast("long").as("__vi"))
      .groupBy(col(groupCol), col("__vi"))
      .agg(count(lit(1)).as("__c"))
      .withColumn("__cum",
        sum(col("__c")).over(Window.partitionBy(col(groupCol))
          .orderBy(col("__vi"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("__n",
        sum(col("__c")).over(Window.partitionBy(col(groupCol))))
    val kLo = expr(s"(__n * $loNum) div $loDen") + 1L
    val kHi = col("__n") - expr(s"(__n * $loNum) div $loDen")
    val kept = greatest(lit(0L),
      least(col("__cum"), kHi) -
        greatest(col("__cum") - col("__c") + 1L, kLo) + 1L)
    cdf.withColumn("__k", kept)
      .groupBy(col(groupCol))
      .agg(first(col("__n")).as("n"), sum(col("__k")).as("n_kept"),
        sum(col("__k") * col("__vi")).as("__ks"))
      .withColumn("trimmed_mean", when(col("n_kept") > 0L,
        Portable.intRatioSigned9(col("__ks"),
          col("n_kept").cast("decimal(38,0)") * lit(1000000000L))))
      .select(col(groupCol), col("n"), col("n_kept"), col("trimmed_mean"))
  }

  /** Median / MAD robust outlier report per group — the
    * median-absolute-deviation gate (flag x iff |x − med| > k·MAD)
    * that survives the heavy tails a mean/stddev z-score drowns in.
    * Both medians are exact LOWER medians (rank ⌈n/2⌉ order
    * statistics — deterministic, no interpolation ambiguity across
    * engines) over 1e9-integerized values, so med, MAD and the flag
    * count are bit-portable. MAD = 0 (over half the group tied at the
    * median) reports n_outliers against a zero band — any deviation
    * flags, the documented degenerate behavior.
    *
    * Shape: per-group distinct-value CDF for the median (bounded
    * windows), a second distinct-CDF over |v − med| for the MAD, one
    * flag-count agg. Returns (groupCol, n, median, mad, n_outliers). */
  def madOutliers(df: DataFrame, groupCol: String, scoreCol: String,
                  k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(k >= 1, s"k must be >= 1, got $k")
    def lowerMedian(in: DataFrame, valCol: String, as: String) = in
      .groupBy(col(groupCol), col(valCol))
      .agg(count(lit(1)).as("__c"))
      .withColumn("__cum",
        sum(col("__c")).over(Window.partitionBy(col(groupCol))
          .orderBy(col(valCol))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("__n",
        sum(col("__c")).over(Window.partitionBy(col(groupCol))))
      .filter(col("__cum") >= expr("(__n + 1) div 2"))
      .groupBy(col(groupCol))
      .agg(min(col(valCol)).as(as), first(col("__n")).as("__n"))
    val vi = df.select(col(groupCol),
      floor(col(scoreCol).cast("double") * lit(1e9) + lit(0.5))
        .cast("long").as("__vi"))
    val med = lowerMedian(vi, "__vi", "__med")
    val dev = vi.join(med.select(col(groupCol), col("__med")),
        Seq(groupCol))
      .withColumn("__d", abs(col("__vi") - col("__med")))
    val mad = lowerMedian(dev.select(col(groupCol), col("__d")), "__d",
      "__mad")
    dev.join(mad.select(col(groupCol), col("__mad")), Seq(groupCol))
      .groupBy(col(groupCol))
      .agg(count(lit(1)).as("n"),
        first(col("__med")).as("__m"), first(col("__mad")).as("__md"),
        sum(when(col("__d") > lit(k.toLong) * col("__mad"), 1L)
          .otherwise(0L)).as("n_outliers"))
      .select(col(groupCol), col("n"),
        round(col("__m").cast("double") / lit(1e9), 9).as("median"),
        round(col("__md").cast("double") / lit(1e9), 9).as("mad"),
        col("n_outliers"))
  }

  /** ROC-AUC of a score against a boolean label — "does the quality
    * score actually rank the class above the rest", the one-number
    * audit before any score becomes a gate. Computed EXACTLY through
    * [[mannWhitney]]'s tie-adjusted U (AUC = U₊/(n₊·n₋) =
    * P(score₊ > score₋) + ½P(=)): no ROC curve discretization, no
    * trapezoid error, ties handled by midranks. One division of exact
    * integers (u2/2n₊n₋), 9 dp. Returns ONE row: (n_pos, n_neg,
    * u2_pos, auc) — AUC 0.5 = the score carries no signal for the
    * label. */
  def auc(df: DataFrame, labelCol: Column, scoreCol: String): DataFrame =
    mannWhitney(df.filter(labelCol), df.filter(!labelCol), scoreCol)
      .select(col("n_a").as("n_pos"), col("n_b").as("n_neg"),
        col("u2_a").as("u2_pos"),
        Portable.intRatio9(col("u2_a"),
          lit(2L) * col("n_a").cast("decimal(38,0)") * col("n_b"))
          .as("auc"))

  /** Isotonic calibration of a score against a binary label via the
    * Pool-Adjacent-Violators solution in its minimax CLOSED FORM
    * (Ayer et al.'55; Barlow & Brunk'72): over score buckets ordered
    * by bucket index, fitted(b) = max_{i≤b} min_{j≥b} rate(i..j),
    * where rate(i..j) is the pooled positive rate of buckets i..j —
    * the exact PAV fit without the sequential pooling loop, so it is
    * one declarative plan (and one DuckDB oracle) instead of a
    * driver-side recursion. Rates integerized at 1e9 before the
    * min/max lattice, so cross-engine comparison is on integers.
    *
    * Shape: one corpus-pass bucket agg (bucket = ⌊score·bins⌋ clamped
    * to bins−1), then everything is algebra on the ≤`bins`-row bucket
    * frame: a bounded cumulative window, an O(bins²) pooled-rate
    * grid, an O(bins³)-pair min/max reduction — thousands of rows at
    * bins=20, independent of corpus size. Returns per present bucket:
    * (bucket, n, pos, raw_rate, fitted) with fitted monotone
    * non-decreasing in bucket (the law IsotonicSpec asserts). */
  def isotonicCalibration(df: DataFrame, scoreCol: String,
                          labelCol: Column, bins: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(bins >= 2 && bins <= 1000, s"bins must be in [2,1000], got $bins")
    val b = df.select(
        least(floor(col(scoreCol) * bins), lit(bins - 1)).cast("long")
          .as("bucket"),
        when(labelCol, 1L).otherwise(0L).as("__y"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n"), sum(col("__y")).as("pos"))
    // bounded global window: ≤ bins rows by construction
    val w = Window.orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = b.withColumn("__cn", sum(col("n")).over(w))
      .withColumn("__cp", sum(col("pos")).over(w))
    val iF = cum.select(col("bucket").as("__bi"),
      (col("__cn") - col("n")).as("__pn"),
      (col("__cp") - col("pos")).as("__pp"))
    val jF = cum.select(col("bucket").as("__bj"), col("__cn"), col("__cp"))
    val grid = iF.join(jF, col("__bi") <= col("__bj"))
      .select(col("__bi"), col("__bj"),
        Portable.intRatioScaled(col("__cp") - col("__pp"),
          col("__cn") - col("__pn"), 9).as("__r9"))
    val fitted = grid
      .join(b.select(col("bucket").as("__bb")),
        col("__bi") <= col("__bb") && col("__bj") >= col("__bb"))
      .groupBy(col("__bb"), col("__bi")).agg(min(col("__r9")).as("__mn"))
      .groupBy(col("__bb")).agg(max(col("__mn")).as("__f9"))
    b.join(fitted, col("bucket") === col("__bb"))
      .select(col("bucket"), col("n"), col("pos"),
        Portable.intRatio9(col("pos"), col("n")).as("raw_rate"),
        round(col("__f9").cast("double") / lit(1e9), 9).as("fitted"))
  }

  /** Per-group ROC-AUC leaderboard — [[auc]] computed WITHIN every
    * group in one pass (which sources does the score actually rank
    * well?): the same tie-adjusted Mann–Whitney identity over each
    * group's own distinct-score CDF, midranks as exact 2×-integers.
    * Groups missing a class report NULL AUC (undefined, not 0.5).
    * Every window is partitioned by the group and bounded by its
    * distinct score values. Returns (groupCol, n_pos, n_neg, u2_pos,
    * auc). */
  def aucByGroup(df: DataFrame, groupCol: String, labelCol: Column,
                 scoreCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val joint = df.select(col(groupCol), col(scoreCol).as("v"),
        when(labelCol, 1L).otherwise(0L).as("__ca"),
        when(labelCol, 0L).otherwise(1L).as("__cb"))
      .groupBy(col(groupCol), col("v"))
      .agg(sum(col("__ca")).as("ca"), sum(col("__cb")).as("cb"))
      .withColumn("cnt", col("ca") + col("cb"))
      .withColumn("cum_before",
        coalesce(sum(col("cnt")).over(
          Window.partitionBy(col(groupCol)).orderBy(col("v"))
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
    joint
      .groupBy(col(groupCol))
      .agg(sum(col("ca")).as("n_pos"), sum(col("cb")).as("n_neg"),
        sum(col("ca") * (lit(2L) * col("cum_before") + col("cnt") + 1L))
          .as("__r2"))
      .withColumn("u2_pos",
        col("__r2") - col("n_pos") * (col("n_pos") + 1L))
      .select(col(groupCol), col("n_pos"), col("n_neg"), col("u2_pos"),
        when(col("n_pos") > 0 && col("n_neg") > 0,
          Portable.intRatio9(col("u2_pos"),
            lit(2L) * col("n_pos").cast("decimal(38,0)") * col("n_neg")))
          .as("auc"))
  }

  /** Classification-threshold sweep: for every DISTINCT score value t
    * (as the "predict positive iff score ≥ t" cut), the exact
    * confusion counts and precision/recall/F1, with the F1-argmax row
    * flagged (ties → the HIGHEST threshold, the conservative cut) —
    * how an uncalibrated quality score becomes an operating point.
    *
    * Shape: one groupBy on the score (the distinct-value CDF), one
    * descending cumulative window over that bounded frame, integer
    * counts throughout; F1 compared as integerized 1e9 values, never
    * as doubles. Returns (threshold, tp, fp, fn, precision, recall,
    * f1, is_best) — recall NULL when the corpus has no positives. */
  def thresholdSweep(df: DataFrame, scoreCol: String,
                     labelCol: Column): DataFrame =
    thresholdSweepFromCounts(
      df.select(col(scoreCol).as("threshold"),
          when(labelCol, 1L).otherwise(0L).as("__y"))
        .groupBy(col("threshold"))
        .agg(count(lit(1)).as("__n"), sum(col("__y")).as("__p")))

  /** [[thresholdSweep]] from the distinct-score count frame directly —
    * `g` = (threshold, __n = rows at score, __p = positives at score).
    * This is the entry a STREAMING monitor re-derives from (the
    * [[graft.streaming.StreamOps.thresholdSweepStream]] twin keeps
    * exactly this frame as its aggregation state), and the batch op
    * above is one groupBy away from it. */
  def thresholdSweepFromCounts(g: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // bounded global windows: one row per distinct score
    val wCum = Window.orderBy(col("threshold").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.orderBy(col("threshold").desc)
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val c = g
      .withColumn("tp", sum(col("__p")).over(wCum))
      .withColumn("fp", sum(col("__n") - col("__p")).over(wCum))
      .withColumn("__tot_p", sum(col("__p")).over(wAll))
      .withColumn("fn", col("__tot_p") - col("tp"))
      // f1 = 2tp/(2tp+fp+fn); denominator ≥ 1 because the threshold
      // row itself contributes ≥ 1 selected row. PURE integer
      // arithmetic: every count is an exact LONG, so the 1e9-scaled
      // F1 is one exact integral division — no double round()
      // anywhere before the single final emission (round(<raw double
      // quotient>, 9) is driver-engine-version-sensitive: the
      // q218/q219 hash-fail class, rounds 9–10).
      .withColumn("__f19", Portable.intRatioScaled(
        lit(2L) * col("tp"),
        lit(2L) * col("tp") + col("fp") + col("fn"), 9))
    // threshold is a 9-dp-integerized score upstream (exactly k/1e9):
    // recover k with one exact IEEE multiply + floor — no re-round of
    // the double (t·1e9 is within an ulp of k, so +0.5 floor is exact).
    val s9 = floor(col("threshold").cast("double") * lit(1e9) + lit(0.5))
      .cast("long")
    c.withColumn("__best",
        max(struct(col("__f19"), s9.as("__s9"))).over(wAll))
      .select(col("threshold"), col("tp"), col("fp"), col("fn"),
        Portable.intRatio9(col("tp"), col("tp") + col("fp"))
          .as("precision"),
        when(col("__tot_p") > 0,
          Portable.intRatio9(col("tp"), col("__tot_p"))).as("recall"),
        (col("__f19").cast("double") / lit(1e9)).as("f1"),
        (col("__best") === struct(col("__f19"), s9.as("__s9")))
          .as("is_best"))
  }

  /** Cumulative gains / lift table at `tiles` population cuts (the
    * model-targeting decision table: "mail the top decile"): cut k's
    * threshold is the score at exact rank ⌈kN/tiles⌉ in descending
    * order, read off the distinct-score CDF — no per-row ranking, no
    * data sort, and ties are reported HONESTLY (n may exceed kN/tiles
    * when a tie block straddles the cut). Returns per cut: (tile,
    * threshold, n, pos, gain = pos/P, lift = (pos/n)/(P/N)).
    *
    * Shape: distinct-score frame + one bounded descending cumulative
    * window, cross join the ≤`tiles`-row spine, one argmin per tile.
    * Lift is NULL when the corpus has no positives. */
  def gainsTable(df: DataFrame, scoreCol: String, labelCol: Column,
                 tiles: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(tiles >= 2 && tiles <= 1000,
      s"tiles must be in [2,1000], got $tiles")
    val g = df.select(col(scoreCol).as("v"),
        when(labelCol, 1L).otherwise(0L).as("__y"))
      .groupBy(col("v"))
      .agg(count(lit(1)).as("__n"), sum(col("__y")).as("__p"))
    val wCum = Window.orderBy(col("v").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cdf = g
      .withColumn("cum_n", sum(col("__n")).over(wCum))
      .withColumn("cum_p", sum(col("__p")).over(wCum))
    val tot = cdf.agg(max(col("cum_n")).as("__nn"),
      max(col("cum_p")).as("__pp"))
    val spine = tot.select(col("__nn"), col("__pp"),
      explode(sequence(lit(1L), lit(tiles.toLong))).as("tile"))
    // rank target ⌈k·N/tiles⌉ in exact integer arithmetic; first
    // distinct score (descending) whose cumulative count reaches it
    val rk = ((col("tile") * col("__nn") + lit(tiles.toLong) - 1L) /
      lit(tiles.toLong)).cast("long")
    // gain/lift in PURE integer arithmetic (counts are exact LONGs):
    // gain = cum_p/pp and lift = (cum_p·nn)/(cum_n·pp) as single
    // exact integral divisions at 1e9 — no double round() anywhere
    // (the raw round()-of-division chain is oracle-engine-version-
    // sensitive: the q218/q219 hash-fail class, rounds 9–10). The
    // lift products ride in DECIMAL(38,0) inside intRatio9.
    spine.join(cdf, col("cum_n") >= rk)
      .groupBy(col("tile"), col("__nn"), col("__pp"))
      .agg(min(struct(col("cum_n"), col("v"), col("cum_p"))).as("__c"))
      .select(col("tile"), col("__c.v").as("threshold"),
        col("__c.cum_n").as("n"), col("__c.cum_p").as("pos"),
        when(col("__pp") > 0,
          Portable.intRatio9(col("__c.cum_p"), col("__pp"))).as("gain"),
        when(col("__pp") > 0,
          Portable.intRatio9(
            col("__c.cum_p").cast("decimal(38,0)") * col("__nn"),
            col("__c.cum_n").cast("decimal(38,0)") * col("__pp")))
          .as("lift"))
  }

  /** Shared bucket frame for [[reliabilityDiagram]] /
    * [[brierDecomposition]]: per score bucket, (bin, n, pos, __ss =
    * Σ s9 exact, __se = Σ (s9 − 1e9·y)² exact) — scores integerized
    * per row at 1e9 (9dp-round first), squared error per row fits a
    * LONG (≤ 1e18), sums carried in DECIMAL(38,0) so no corpus size
    * overflows them. One corpus pass, map-side combined. */
  private def calibrationBins(df: DataFrame, scoreCol: String,
                              labelCol: Column, bins: Int): DataFrame = {
    require(bins >= 2 && bins <= 1000, s"bins must be in [2,1000], got $bins")
    val e9 = lit(1000000000L)
    val base = df.select(
      least(floor(col(scoreCol) * bins), lit(bins - 1)).cast("long")
        .as("bin"),
      floor(round(col(scoreCol), 9) * e9 + lit(0.5)).cast("long").as("__s9"),
      when(labelCol, 1L).otherwise(0L).as("__y"))
    base.groupBy(col("bin")).agg(
      count(lit(1)).as("n"), sum(col("__y")).as("pos"),
      sum(col("__s9").cast("decimal(38,0)")).as("__ss"),
      sum(((col("__s9") - col("__y") * e9) * (col("__s9") - col("__y") * e9))
        .cast("decimal(38,0)")).as("__se"))
  }

  /** Expected / maximum calibration error over the
    * [[reliabilityDiagram]] bins (Naeini et al., AAAI'15):
    * ECE = Σ_b (n_b/N)·|acc_b − conf_b|, MCE = max_b |acc_b − conf_b|
    * — the one-number calibration gates a model card quotes next to
    * the diagram. The per-bin gap clears to EXACT integers:
    * |acc − conf|·n_b = |pos_b·1e9 − Σs9_b| / 1e9, so ECE is one
    * division of a DECIMAL sum and MCE one division per bin then an
    * integer-backed max — no float accumulates anywhere.
    *
    * Shape: the same single binned agg as the diagram, then a 1-row
    * rollup. Returns ONE row: (n, n_bins, ece, mce). */
  def calibrationError(df: DataFrame, scoreCol: String,
                       labelCol: Column, bins: Int): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val e9 = lit(1000000000L)
    calibrationBins(df, scoreCol, labelCol, bins)
      .select(col("n"), col("pos"), col("__ss"),
        abs(col("pos").cast(dec) * e9 - col("__ss")).as("__gap"))
      .agg(sum(col("n")).as("n"), count(lit(1)).as("n_bins"),
        sum(col("__gap")).as("__g"),
        max(Portable.intRatioScaled(col("__gap"),
          col("n").cast(dec) * e9, 9)).as("__m9"))
      .select(col("n"), col("n_bins"),
        when(col("n") > 0L, Portable.intRatio9(col("__g"),
          col("n").cast(dec) * e9)).as("ece"),
        round(col("__m9").cast("double") / lit(1e9), 9).as("mce"))
  }

  /** Mann–Kendall trend test (Mann '45; Kendall's S over a time
    * series) on a SMALL ordered frame — one value per time key, k
    * bounded by the calendar (daily/weekly aggregates; the
    * [[graft.ops.Events.hourOfDayProfile]] family's frame sizes):
    * S = Σ_{i<j} sign(v_j − v_i) with the tie-corrected normal
    * approximation and ±1 continuity correction. The nonparametric
    * "is this metric drifting monotonically" readout — no slope model,
    * robust to any monotone transform.
    *
    * Contract: `df` has ONE row per `tCol` value (pre-aggregate).
    * The pair join is k², which is the POINT — k is a calendar-
    * bounded report axis, never data-sized (the [[mannWhitney]]
    * variance-capacity note's discipline).
    *
    * Determinism: values integerize at 1e9 before comparing (sign on
    * exact integers); S and the tie-corrected variance NUMERATOR
    * (k(k−1)(2k+5) − Σ u(u−1)(2u+5), over 18) are exact LONGs; z is
    * one pinned chain with the continuity correction. k < 2 or zero
    * variance yields NULL z. Returns ONE row: (k, s, z). */
  def mannKendall(df: DataFrame, tCol: String, vCol: String): DataFrame = {
    val v9 = floor(round(col(vCol).cast("double"), 9) * lit(1e9) +
      lit(0.5)).cast("long")
    val base = df.select(col(tCol).as("__t"), v9.as("__v"))
    val pairs = base.toDF("__ti", "__vi")
      .join(base.toDF("__tj", "__vj"), col("__ti") < col("__tj"))
      .agg(sum(signum(col("__vj") - col("__vi")).cast("long")).as("s"))
    val ties = base.groupBy(col("__v")).agg(count(lit(1)).as("__u"))
      .agg(count(lit(1)).as("__nv"), sum(col("__u")).as("k"),
        sum(col("__u") * (col("__u") - 1L) * (lit(2L) * col("__u") + 5L))
          .as("__tc"))
    pairs.crossJoin(broadcast(ties))
      .withColumn("__vn",
        col("k") * (col("k") - 1L) * (lit(2L) * col("k") + 5L) -
          col("__tc"))
      .select(col("k"), col("s"),
        when(col("k") >= 2L && col("__vn") > 0L, Portable.ratio9(
          (col("s") - signum(col("s")).cast("long")).cast("double") /
            sqrt(col("__vn").cast("double") / lit(18.0)))).as("z"))
  }

  /** Exact weighted median per group over nonnegative INTEGER weights
    * (token counts, byte sizes — the natural corpus masses): the
    * smallest value whose cumulative weight reaches half the total
    * (the lower weighted median, stated so both engines agree at the
    * exact-half boundary). "The median quality of a TOKEN from this
    * source" weighs big documents properly where the row median
    * can't.
    *
    * Shape: one (group, value) agg, cumulative sums as windows over
    * the per-group DISTINCT-VALUE frames (the CDF discipline — never
    * a data sort), one min-conditional rollup per group. All
    * arithmetic integer (2·cum vs W compares — no halving). Returns
    * (group, n_rows, w_total, median). */
  def weightedMedian(df: DataFrame, groupCol: String, valueCol: String,
                     weightCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val gv = df.select(col(groupCol).as("group"),
        col(valueCol).as("__v"), col(weightCol).cast("long").as("__w"))
      .groupBy(col("group"), col("__v"))
      .agg(count(lit(1)).as("__n"), sum(col("__w")).as("__gw"))
    val wOrd = Window.partitionBy(col("group")).orderBy(col("__v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy(col("group"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    gv.withColumn("__cum", sum(col("__gw")).over(wOrd))
      .withColumn("__tot", sum(col("__gw")).over(wAll))
      .groupBy(col("group"))
      .agg(sum(col("__n")).as("n_rows"),
        max(col("__tot")).as("w_total"),
        min(when(lit(2L) * col("__cum") >= col("__tot"), col("__v")))
          .as("median"))
  }

  /** Reliability diagram of a probabilistic score against a binary
    * outcome: per score bucket, volume, mean forecast, observed
    * positive rate, and the bucket's own Brier (mean squared error)
    * contribution — the table a calibration plot draws, and the
    * per-bin view [[isotonicCalibration]] repairs. All three ratios
    * are single pinned double chains over exact integer sums. */
  def reliabilityDiagram(df: DataFrame, scoreCol: String,
                         labelCol: Column, bins: Int): DataFrame =
    calibrationBins(df, scoreCol, labelCol, bins)
      .select(col("bin"), col("n"), col("pos"),
        Portable.intRatio9(col("__ss"),
          col("n").cast("decimal(38,0)") * lit(1000000000L))
          .as("mean_score"),
        Portable.intRatio9(col("pos"), col("n")).as("frac_pos"),
        Portable.intRatio9(col("__se"),
          col("n").cast("decimal(38,0)") *
            lit(1000000000L) * lit(1000000000L)).as("brier_bin"))

  /** Murphy decomposition of the Brier score over score buckets
    * (Murphy '73): REL = Σ_b n_b(s̄_b − ȳ_b)²/N (calibration error —
    * lower is better), RES = Σ_b n_b(ȳ_b − ȳ)²/N (discrimination —
    * higher is better), UNC = ȳ(1−ȳ) (the climatology floor). One
    * summary row: (n, pos_rate, brier, reliability, resolution,
    * uncertainty). The textbook identity REL − RES + UNC equals the
    * Brier of the BUCKET-MEAN forecast; `brier` here is the raw-score
    * Brier, so the gap between the two is the within-bucket forecast
    * variance (reported implicitly; do not assert the identity on raw
    * scores).
    *
    * Exactness: per-bucket terms are pinned double chains over exact
    * DECIMAL/LONG sums, integerized at 1e9 per TERM and summed in
    * LONG (the chi-square/PSI discipline — a ≤`bins`-element double
    * sum would be accumulation-order-dependent); one final division
    * each. The bucket frame is ≤ `bins` rows, so every window/agg
    * here is bounded.
    *
    * OPERAND-BOUND CONTRACT → PRECISION CONTRACT: the exact rational
    * terms SQUARE a 1e9-scaled residual before dividing, so unlike
    * the linear [[graft.ops.Portable.intRatio9]] sites ("no corpus
    * size overflows it"), DECIMAL(38,0) bounds the EXACT path's
    * input: the REL numerator d² needs n_b ≤ ~2.2e5 rows per bucket,
    * and the RES term needs n_b·N ≤ ~2.2e14 (N = total rows). Within
    * those bounds the terms are exact integer rationals. PAST the
    * bounds (where a non-ANSI DECIMAL would silently NULL, and
    * rounds 11–12 raised a loud contract error) each term falls back
    * to the zipf/heaps reduced-precision discipline — DIVIDE BEFORE
    * SQUARING: the linear residual (still an exact DECIMAL) casts to
    * double, one IEEE division recovers the per-bucket mean gap, and
    * the term is a pinned left-associated double chain integerized at
    * 1e9. Every op in the chain is a correctly-rounded IEEE binary op
    * over identically-valued operands, so the oracle computes the
    * identical bits; precision loss is bounded by the double cast of
    * the linear residual (|d| ≤ n_b·1e9 — exact through n_b ≈ 9e6,
    * ~1e-7 relative past it), far below any calibration decision
    * threshold. The operator is total: no input size errors. */
  def brierDecomposition(df: DataFrame, scoreCol: String,
                         labelCol: Column, bins: Int): DataFrame = {
    val b = calibrationBins(df, scoreCol, labelCol, bins)
    val tot = b.agg(sum(col("n")).as("__nn"), sum(col("pos")).as("__pp"),
      sum(col("__se")).as("__sse"))
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val e9 = lit(1000000000L)
    val terms = b.crossJoin(broadcast(tot))
      .select(col("__nn"), col("__pp"), col("__sse"),
        // d = Σs9 − 1e9·pos exactly in decimal (signed; squared below)
        (col("__ss") - col("pos").cast(dec) * e9).as("__d"),
        col("n").as("__nb"), col("pos").as("__pb"))
      .select(col("__nn"), col("__pp"), col("__sse"),
        // REL term = d²/(n_b·N·1e18), RES term = (p_b·N − P·n_b)²/
        // (n_b·N³) — both EXACT integer rationals, each one integral
        // division at 1e9 (no double round(): the q218/q219 class).
        // The squared numerators bound the exact path (see scaladoc);
        // past the bound, divide-before-square: the LINEAR residual
        // (exact DECIMAL) casts to double and the term is one pinned
        // left-associated double chain — bit-identical in any IEEE
        // engine running the same chain (the oracle mirrors it).
        when(col("__nb").cast("double") <= lit(2.2e5),
          Portable.intRatioScaled(col("__d") * col("__d"),
            col("__nb").cast(dec) * col("__nn") * e9 * e9, 9))
          .otherwise {
            val md = col("__d").cast("double") /
              (col("__nb").cast("double") * lit(1e9))
            floor(md * md * col("__nb").cast("double") /
              col("__nn").cast("double") * lit(1e9) + lit(0.5))
              .cast("long")
          }
          .as("__rel9"),
        when(col("__nb").cast("double") * col("__nn").cast("double") <=
            lit(2.2e14),
          Portable.intRatioScaled(
            (col("__pb").cast(dec) * col("__nn") -
              col("__pp").cast(dec) * col("__nb")) *
              (col("__pb").cast(dec) * col("__nn") -
                col("__pp").cast(dec) * col("__nb")),
            col("__nb").cast(dec) * col("__nn") * col("__nn") *
              col("__nn"), 9))
          .otherwise {
            val qd = (col("__pb").cast(dec) * col("__nn") -
              col("__pp").cast(dec) * col("__nb")).cast("double")
            val mq = qd /
              (col("__nb").cast("double") * col("__nn").cast("double"))
            floor(mq * mq * col("__nb").cast("double") /
              col("__nn").cast("double") * lit(1e9) + lit(0.5))
              .cast("long")
          }
          .as("__res9"))
    terms.groupBy(col("__nn"), col("__pp"), col("__sse"))
      .agg(sum(col("__rel9")).as("__r"), sum(col("__res9")).as("__s"))
      .select(col("__nn").as("n"), col("__pp").as("pos"),
        Portable.intRatio9(col("__pp"), col("__nn")).as("pos_rate"),
        Portable.intRatio9(col("__sse"),
          col("__nn").cast(dec) * e9 * e9).as("brier"),
        round(col("__r").cast("double") / lit(1e9), 9).as("reliability"),
        round(col("__s").cast("double") / lit(1e9), 9).as("resolution"),
        Portable.intRatio9(
          col("__pp").cast(dec) * (col("__nn") - col("__pp")),
          col("__nn").cast(dec) * col("__nn")).as("uncertainty"))
  }

  /** Population Stability Index between a BASELINE sample and a
    * comparison sample of a score (the credit-scoring / model-
    * monitoring standard: PSI < 0.1 stable, > 0.25 shifted): scores
    * bin by the BASELINE's `bins` quantile boundaries — the boundary
    * for quantile i is the baseline score at rank ⌈i·n_A/bins⌉, an
    * exact order statistic — and PSI = Σ (p_A − p_B)·ln(p_A/p_B)
    * over bins. Each bin term is an exact count ratio inside one
    * pinned double chain, integerized at 1e9 and summed in LONG (the
    * [[classBalance]] discipline). An empty bin on either side makes
    * ln undefined — PSI is NULL then (the honest outcome; smoothing
    * constants silently change the statistic).
    *
    * Shape: baseline boundaries come from the baseline's
    * DISTINCT-value CDF (the scorePercentiles class — never a
    * corpus-sized sort): boundary i = min value whose inclusive cum ≥
    * the target rank. Bin assignment broadcasts the ≤ bins−1 boundary
    * rows against each side's distinct-score frame (a score's bin =
    * boundaries strictly below it, so boundary-valued scores fall in
    * the lower bin); one (side, bin) agg; a bins-sized rollup.
    * Returns ONE row: (n_a, n_b, n_bins, psi). */
  def psi(a: DataFrame, b: DataFrame, scoreCol: String,
          bins: Int): DataFrame =
    psiFromCounts(a,
      b.groupBy(col(scoreCol).as("__s")).agg(count(lit(1)).as("__c")),
      scoreCol, bins)

  /** [[psi]] with the COMPARISON side supplied as its distinct-score
    * count frame `bCounts` = (__s, __c) — the compact state a
    * streaming monitor accumulates ([[
    * graft.streaming.StreamOps.psiStream]] re-derives from exactly
    * this frame every micro-batch); the baseline stays a static raw
    * frame (its quantile boundaries are fixed by definition). */
  def psiFromCounts(a: DataFrame, bCounts: DataFrame, scoreCol: String,
                    bins: Int): DataFrame =
    psiFromBaselineFrames(psiBaselineFrames(a, scoreCol, bins), bCounts)

  /** The STATIC-baseline half of [[psiFromCounts]] — (bin bounds,
    * baseline total, baseline per-bin counts), all bins-bounded tiny
    * frames and pure functions of `a`. A streaming monitor derives
    * them ONCE at wiring time ([[graft.streaming.StreamOps.psiStream]]
    * barriers them), instead of re-walking the baseline three times
    * per micro-batch; the batch [[psi]]/[[psiFromCounts]] composition
    * is unchanged. */
  def psiBaselineFrames(a: DataFrame, scoreCol: String,
                        bins: Int): (DataFrame, DataFrame, DataFrame) = {
    import org.apache.spark.sql.expressions.Window
    require(bins >= 2, s"bins must be >= 2, got $bins")
    val distA = a.groupBy(col(scoreCol).as("__v"))
      .agg(count(lit(1)).as("__c"))
      .withColumn("__cum", sum(col("__c")).over(Window.orderBy(col("__v"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val nA = a.agg(count(lit(1)).as("n_a"))
    val targets = a.sparkSession.range(1, bins).select(col("id").as("__i"))
      .crossJoin(broadcast(nA))
      .select(col("__i"),
        expr(s"(__i * n_a + ${bins - 1}) div $bins").as("__target"))
    val bounds = distA.crossJoin(broadcast(targets))
      .filter(col("__cum") >= col("__target"))
      .groupBy(col("__i")).agg(min(col("__v")).as("__v"))
    val ca = psiBinned(bounds,
      a.groupBy(col(scoreCol).as("__s")).agg(count(lit(1)).as("__c")),
      "ca")
    (bounds, nA, ca)
  }

  private def psiBinned(bounds: DataFrame, counts: DataFrame,
                        as: String): DataFrame = counts
    .crossJoin(broadcast(bounds))
    .groupBy(col("__s"), col("__c"))
    .agg(sum(when(col("__s") > col("__v"),
      lit(1L)).otherwise(0L)).as("__bin"))
    .groupBy(col("__bin")).agg(sum(col("__c")).as(as))

  /** The per-batch half of [[psiFromCounts]]: bin the comparison
    * counts against precomputed baseline frames and finish the PSI
    * sum — expression-identical to the one-shot form. */
  def psiFromBaselineFrames(pre: (DataFrame, DataFrame, DataFrame),
                            bCounts: DataFrame): DataFrame = {
    val (bounds, nA, ca) = pre
    val cb = psiBinned(bounds, bCounts, "cb")
    val nB = bCounts.agg(coalesce(sum(col("__c")), lit(0L)).as("n_b"))
    val pa = col("ca").cast("double") / col("n_a").cast("double")
    val pb = col("cb").cast("double") / col("n_b").cast("double")
    val term = (pa - pb) * log(pa / pb)
    ca.join(cb, Seq("__bin"), "full_outer")
      .crossJoin(broadcast(nA)).crossJoin(broadcast(nB))
      .withColumn("__t9", when(col("ca").isNotNull && col("cb").isNotNull,
        floor(round(term, 9) * lit(1e9) + lit(0.5)).cast("long")))
      .agg(first(col("n_a")).as("n_a"), first(col("n_b")).as("n_b"),
        count(lit(1)).as("n_bins"),
        sum(when(col("__t9").isNull, 1L).otherwise(0L)).as("__bad"),
        sum(col("__t9")).as("__psi9"))
      .select(col("n_a"), col("n_b"), col("n_bins"),
        when(col("__bad") === 0L,
          round(col("__psi9").cast("double") / lit(1e9), 9)).as("psi"))
  }

  /** Chi-square independence test + Cramér's V over a two-column
    * contingency table (label × source, lang × source …) — "is the
    * label mix different across sources" as one number, the
    * categorical complement of [[ksDrift]]. Each cell's term
    * (O·N − r·c)²/(N·r·c) clears to exact integers inside ONE pinned
    * double chain, integerizes at 1e9 (the [[classBalance]] p·ln p
    * discipline) and sums in LONG — order-free, engine-portable.
    * V = sqrt(χ²/(N·min(R−1, C−1))) prices the association strength
    * independent of table size.
    *
    * Shape: one (a, b) cell agg; margins as windows over the cell
    * frame (bounded by the category product); a 1-row rollup.
    * Returns ONE row: (n, n_rows, n_cols, dof, chi2, cramers_v);
    * single-category inputs (dof 0) yield NULL chi2/V. */
  def chiSquare(df: DataFrame, aCol: String, bCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val observed = df.groupBy(col(aCol).as("__a"), col(bCol).as("__b"))
      .agg(count(lit(1)).as("o"))
    // the full R×C grid: a ZERO cell still contributes (r·c/N)²/(r·c/N)
    // = r·c/N to χ² — dropping unobserved cells understates the
    // statistic (a spec-caught bug: perfect 2×2 association read 2, not
    // N). Category frames are value-domain-sized, so the cross join is
    // bounded.
    val cells = observed.select(col("__a")).distinct()
      .crossJoin(observed.select(col("__b")).distinct())
      .join(observed, Seq("__a", "__b"), "left")
      .withColumn("o", coalesce(col("o"), lit(0L)))
      .withColumn("r", sum(col("o")).over(Window.partitionBy(col("__a"))))
      .withColumn("c", sum(col("o")).over(Window.partitionBy(col("__b"))))
    val n = df.agg(count(lit(1)).as("n"))
    val term = (col("o") * col("n") - col("r") * col("c")).cast("double") *
      (col("o") * col("n") - col("r") * col("c")).cast("double") /
      (col("n").cast("double") * col("r").cast("double") *
        col("c").cast("double"))
    cells.crossJoin(broadcast(n))
      .withColumn("__t9",
        floor(round(term, 9) * lit(1e9) + lit(0.5)).cast("long"))
      .agg(first(col("n")).as("n"),
        countDistinct(col("__a")).as("n_rows"),
        countDistinct(col("__b")).as("n_cols"),
        sum(col("__t9")).as("__chi9"))
      .withColumn("dof",
        (col("n_rows") - 1L) * (col("n_cols") - 1L))
      .withColumn("chi2", when(col("dof") > 0L,
        round(col("__chi9").cast("double") / lit(1e9), 9)))
      .withColumn("cramers_v", when(col("dof") > 0L, round(
        sqrt((col("__chi9").cast("double") / lit(1e9)) /
          (col("n").cast("double") *
            least(col("n_rows") - 1L, col("n_cols") - 1L)
              .cast("double"))), 9)))
      .select(col("n"), col("n_rows"), col("n_cols"), col("dof"),
        col("chi2"), col("cramers_v"))
  }

  /** Per-group KS drift leaderboard — [[ksDrift]] of EVERY group
    * against the rest of the corpus in one pass: which source's score
    * distribution deviates most is the first question a mixed-corpus
    * drift alarm must answer, and running the pairwise operator per
    * source re-scans the corpus per group. Same exact-integer contract
    * as [[ksDrift]]: per group g with n_g rows against the other
    * N − n_g, the statistic is max over score values of
    * |cdf_g·(N − n_g) − (cdf_all − cdf_g)·n_g| / (n_g·(N − n_g)).
    *
    * The supremum is evaluated at EVERY global jump point: a group's
    * own CDF is step-filled (last-non-null window, per group) onto the
    * replicated global value frame — between a group's own jumps the
    * complement still jumps, so evaluating only at group values would
    * miss the sup. Work is groups × distinct-values rows (bounded by
    * the value domain and the group count, never corpus²).
    *
    * Returns one row per group: (groupCol, n_g, ks_at, ks_num, ks),
    * ks descending. Groups with an empty complement (a single-group
    * corpus) get NULL ks. */
  def ksDriftByGroup(df: DataFrame, groupCol: String,
                     scoreCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val gAll = df.groupBy(col(scoreCol).as("v"))
      .agg(count(lit(1)).as("__c"))
      .withColumn("__call", sum(col("__c")).over(Window.orderBy(col("v"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .drop("__c")
    val n = df.agg(count(lit(1)).as("__n"))
    val perG = df.groupBy(col(groupCol), col(scoreCol).as("v"))
      .agg(count(lit(1)).as("__c"))
      .withColumn("__cg",
        sum(col("__c")).over(Window.partitionBy(col(groupCol))
          .orderBy(col("v"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .drop("__c")
    val groups = df.groupBy(col(groupCol)).agg(count(lit(1)).as("__ng"))
    // replicate the global value frame per group, fill the group CDF;
    // at equal v the group's OWN row (isg 1) must precede the global
    // probe so the probe sees the inclusive cdf_g(v) jump
    val wFill = Window.partitionBy(col(groupCol))
      .orderBy(col("v"), col("__isg").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val repl = groups.select(col(groupCol), col("__ng"))
      .crossJoin(gAll)
      .select(col(groupCol), col("__ng"), col("v"), col("__call"),
        lit(0L).as("__isg"), lit(null).cast("long").as("__cgv"))
    val own = perG.select(col(groupCol), lit(null).cast("long").as("__ng"),
      col("v"), lit(null).cast("long").as("__call"), lit(1L).as("__isg"),
      col("__cg").as("__cgv"))
    repl.unionByName(own)
      .withColumn("__cg2",
        coalesce(last(col("__cgv"), ignoreNulls = true).over(wFill),
          lit(0L)))
      .filter(col("__isg") === 0L)
      .crossJoin(broadcast(n))
      .withColumn("__d", abs(col("__cg2") * (col("__n") - col("__ng")) -
        (col("__call") - col("__cg2")) * col("__ng")))
      .groupBy(col(groupCol), col("__ng"), col("__n"))
      .agg(max(struct(col("__d"), (-col("v")).as("__negv"))).as("__m"))
      .select(col(groupCol), col("__ng").as("n_g"),
        (-col("__m.__negv")).as("ks_at"), col("__m.__d").as("ks_num"),
        when(col("__n") - col("__ng") > 0,
          Portable.intRatio9(col("__m.__d"),
            col("__ng").cast("decimal(38,0)") *
              (col("__n") - col("__ng")))).as("ks"))
  }

  /** Embedding-space drift between two corpora (model versions, time
    * slices, sources) — the per-dimension mean shift, the first-order
    * signal that a re-embedded corpus no longer lives where the old
    * index/thresholds assume (pairs with [[embeddingCovariance]] for
    * the second-order view). Sums are exact LONGs of 1e6-integerized
    * coordinates; each mean is one pinned double chain; the delta
    * subtracts the two chains — deterministic cross-engine.
    *
    * Shape: one wide aggregation per side (map-side combined, no
    * explode, no shuffle beyond the 1-row agg), one d-row join.
    * Returns (d, n_a, n_b, mean_a, mean_b, delta) — d 1-based. */
  def embeddingDrift(a: DataFrame, b: DataFrame, vecCol: String,
                     dims: Int): DataFrame = {
    require(dims >= 1 && dims <= 4096, s"dims in [1,4096], got $dims")
    val s = 1000000.0
    val dec = "decimal(38,0)"
    val e6 = lit(s.toLong)
    dimStats(a, vecCol, dims, s).toDF("d", "n_a", "__sa")
      .join(dimStats(b, vecCol, dims, s).toDF("d", "n_b", "__sb"),
        Seq("d"))
      .select(col("d"), col("n_a"), col("n_b"),
        Portable.intRatioSigned9(col("__sa"), col("n_a").cast(dec) * e6)
          .as("mean_a"),
        Portable.intRatioSigned9(col("__sb"), col("n_b").cast(dec) * e6)
          .as("mean_b"),
        // delta = mean_b − mean_a cleared to ONE signed exact ratio
        Portable.intRatioSigned9(
          col("__sb").cast(dec) * col("n_a") -
            col("__sa").cast(dec) * col("n_b"),
          col("n_a").cast(dec) * col("n_b") * e6).as("delta"))
  }

  /** Exact embedding covariance matrix (upper triangle, long form) —
    * the d×d second-moment audit behind whitening, PCA energy checks,
    * and anisotropy diagnosis (Ethayarajh, EMNLP'19: contextual
    * embedding spaces collapse toward a dominant direction; the
    * covariance spectrum is how you SEE it). The driver-side (tiny,
    * d×d) matrix is the input to any eigen/whitening step — the
    * distributed part, done here, is the one pass over the corpus.
    *
    * Numeric contract: coordinates integerize at s = 10^6 (the
    * floor(x·s + ½) discipline), per-pair products and sums accumulate
    * in exact LONG, and the covariance numerator n·Σxy − Σx·Σy forms
    * per pair in 128-bit-safe arithmetic downstream of the output's
    * exact integer columns — so the matrix is bit-reproducible across
    * partitionings and engines. Capacity budget: n·(max|x|·s)² must
    * stay below 2^63 (documented, not checked per-row) — for unit-ish
    * coordinates that is ~2·10^6 rows per aggregation.
    *
    * Shape — the RowMatrix Gramian pattern (one of the rare genuinely
    * imperative per-partition kernels): each partition accumulates its
    * local (n, Σx[d], Σxy[d(d+1)/2]) in flat long arrays, a treeReduce
    * merges ≤ #partitions summaries (O(d²) bytes each — never data),
    * and the result materializes as a d(d+1)/2-row frame. The corpus
    * is scanned ONCE, column-pruned to the vector; nothing shuffles.
    * EAGER: the pass runs at call time. Returns (i ≤ j 1-based, n,
    * sum_i, sum_j, sumprod, cov) with cov = (n·Σxy − Σx·Σy)/(n²·s²)
    * at 9 dp. */
  def embeddingCovariance(df: DataFrame, vecCol: String,
                          dims: Int): DataFrame = {
    require(dims >= 1 && dims <= 512, s"dims must be in [1,512], got $dims")
    val spark = df.sparkSession
    val d = dims
    val nTri = d * (d + 1) / 2
    val s = 1e6
    val (n, sums, prods) = df
      .filter(col(vecCol).isNotNull && size(col(vecCol)) === d)
      .select(col(vecCol).cast("array<double>"))
      .rdd.mapPartitions { it =>
        val sum = new Array[Long](d)
        val g = new Array[Long](nTri)
        var cnt = 0L
        val xi = new Array[Long](d)
        it.foreach { row =>
          val v = row.getSeq[Double](0)
          var i = 0
          while (i < d) {
            xi(i) = math.floor(v(i) * s + 0.5).toLong
            sum(i) += xi(i)
            i += 1
          }
          var idx = 0
          i = 0
          while (i < d) {
            var j = i
            while (j < d) {
              g(idx) += xi(i) * xi(j)
              idx += 1; j += 1
            }
            i += 1
          }
          cnt += 1L
        }
        Iterator.single((cnt, sum, g))
      }
      .treeReduce({ case ((n1, s1, g1), (n2, s2, g2)) =>
        var i = 0
        while (i < d) { s1(i) += s2(i); i += 1 }
        i = 0
        while (i < nTri) { g1(i) += g2(i); i += 1 }
        (n1 + n2, s1, g1)
      }, depth = 2)
    val rows = for {
      i <- 0 until d
      j <- i until d
    } yield (i.toLong + 1L, j.toLong + 1L, n, sums(i), sums(j),
      prods(i * d - i * (i - 1) / 2 + (j - i)))
    import spark.implicits._
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    rows.toDF("i", "j", "n", "sum_i", "sum_j", "sumprod")
      .withColumn("cov", Portable.intRatioSigned9(
        col("n").cast(dec) * col("sumprod").cast(dec) -
          col("sum_i").cast(dec) * col("sum_j").cast(dec),
        col("n").cast(dec) * col("n") * lit((s * s).toLong)))
  }

  /** Corpus version diff — what changed between two snapshots of the
    * same table, the audit a data team reads before re-training on a
    * refreshed corpus (and the detailed twin of comparing two
    * [[corpusFingerprint]] stamps, which can only say "something
    * changed"): one row per status
    * (added / removed / changed / unchanged) with document counts and
    * token mass on each side, so the reader sees at a glance whether a
    * refresh was append-only, a re-scrape that rewrote half the corpus,
    * or an accidental truncation.
    *
    * Change detection is content-hash equality (md5 of the text), not
    * text equality in the join — 16 bytes per side move through the
    * comparison, never two documents. Shape: per-side map-only
    * (id, hash, token-count) projections → ONE full outer equi-join on
    * the id → status classify → a ≤4-row rollup. At 100 TB both sides
    * shuffle once on the id — the unavoidable exchange — and nothing
    * wider than 3 columns ever moves. */
  def corpusDiff(oldDf: DataFrame, newDf: DataFrame, idCol: String,
                 textCol: String): DataFrame = {
    def side(df: DataFrame, tag: String) = df.select(
      col(idCol).as("__id"),
      // explicit presence flag: md5(NULL text) is NULL, so hash
      // nullability cannot mark presence — a doc present on both sides
      // with NULL text on one would misread as added/removed
      lit(true).as(s"__p_$tag"),
      md5(col(textCol).cast("binary")).as(s"__h_$tag"),
      size(Text.tokens(col(textCol))).cast("long").as(s"__t_$tag"))
    side(oldDf, "old").join(side(newDf, "new"), Seq("__id"), "full_outer")
      .select(
        when(col("__p_old").isNull, "added")
          .when(col("__p_new").isNull, "removed")
          // null-safe compare: NULL-text rows present on BOTH sides are
          // unchanged iff both are NULL, changed if only one is
          .when(col("__h_old") <=> col("__h_new"), "unchanged")
          .otherwise("changed").as("status"),
        col("__t_old"), col("__t_new"))
      .groupBy(col("status"))
      .agg(count(lit(1)).as("n_docs"),
        coalesce(sum(col("__t_old")), lit(0L)).as("n_tokens_old"),
        coalesce(sum(col("__t_new")), lit(0L)).as("n_tokens_new"))
      .withColumn("token_delta",
        col("n_tokens_new") - col("n_tokens_old"))
  }

  /** Order-invariant corpus fingerprint — the one-row identity stamp a
    * data card or experiment manifest records so "trained on the same
    * data" is CHECKABLE instead of asserted: (n_docs, n_tokens,
    * corpus_hash), where corpus_hash is the XOR-fold of the
    * engine-portable per-row hash of (id, text). XOR is commutative
    * and associative, so the fingerprint is independent of row order,
    * partitioning and cluster size — identical bytes in, identical
    * stamp out, on any engine ([[graft.ops.Portable]]; DuckDB
    * recomputes it, q115). Any single changed/added/dropped document
    * flips the stamp (XOR of 60-bit hashes; collisions need an exact
    * pairwise hash match). One map-side projection + one
    * fully-combinable aggregation — at 100 TB this is a scan. */
  def corpusFingerprint(df: DataFrame, idCol: String,
                        textCol: String): DataFrame =
    df.select(
        Portable.seededHash(col(idCol), col(textCol)).as("__h"),
        size(Text.tokens(col(textCol))).cast("long").as("__t"))
      .agg(count(lit(1)).as("n_docs"), sum(col("__t")).as("n_tokens"),
        expr("bit_xor(__h)").as("corpus_hash"))

  /** Corpus data card: per-(source, lang) rollup of document counts,
    * token volume and quality distribution — the summary table a
    * curation run publishes next to its output (composition, per-slice
    * quality floor/ceiling). Means are over the 9-dp per-doc scores of
    * [[Text.qualityScore]] and are themselves rounded to 9 dp.
    *
    * Shape: the per-doc scores come from ONE corpus scan with the
    * grouping columns passed through (no corpus-sized metadata join);
    * the rollup is a map-side-combinable hash agg keyed on
    * (source, lang) — slice-count rows move, never documents. */
  def corpusReport(df: DataFrame, sourceCol: String, langCol: String,
                   textCol: String): DataFrame =
    Text.qualityScore(df, textCol, Seq(sourceCol, langCol))
      .groupBy(col(sourceCol), col(langCol))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("n_tokens"),
        // quality_score is exactly k/1e9, so the per-row integerize is
        // lossless and the means are single exact integral divisions
        sum(floor(col("quality_score") * lit(1e9) + lit(0.5))
          .cast("long").cast("decimal(38,0)")).as("__sq9"),
        round(min(col("quality_score")), 9).as("min_quality"),
        round(max(col("quality_score")), 9).as("max_quality"))
      .select(col(sourceCol), col(langCol), col("n_docs"),
        col("n_tokens"),
        Portable.intRatio9(col("n_tokens"), col("n_docs"))
          .as("mean_tokens"),
        Portable.intRatio9(col("__sq9"),
          col("n_docs").cast("decimal(38,0)") * lit(1000000000L))
          .as("mean_quality"),
        col("min_quality"), col("max_quality"))

  /** Mergeable data-card state — [[corpusReport]] re-based on EXACT
    * integer internals so the card can be maintained INCREMENTALLY:
    * per (source, lang), doc/token counts, the 1e9-integerized
    * quality-score sum (DECIMAL(38,0)), and integer min/max. Every
    * column is a commutative monoid, so a nightly ingest merges its
    * batch state into the stored card without ever re-scanning the
    * corpus — the [[scd2Merge]] discipline for the reporting layer.
    * [[corpusReportMerge]] folds a new batch in;
    * [[corpusReportFinish]] renders the human card; the q249 oracle
    * hashes finish∘merge against a full-corpus rebuild, which IS the
    * merge-equals-rebuild law under the driver's gate. */
  def corpusReportState(df: DataFrame, sourceCol: String,
                        langCol: String, textCol: String): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val q9 = floor(round(col("quality_score"), 9) * lit(1e9) + lit(0.5))
      .cast("long")
    Text.qualityScore(df, textCol, Seq(sourceCol, langCol))
      .select(col(sourceCol).as("source"), col(langCol).as("lang"),
        col("n_tokens"), q9.as("__q9"))
      .groupBy(col("source"), col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("n_tokens"),
        sum(col("__q9").cast(dec)).as("sum_q9"),
        min(col("__q9")).as("min_q9"), max(col("__q9")).as("max_q9"))
  }

  /** Fold a new batch into a stored [[corpusReportState]] — one
    * batch-sized state build plus a slice-keyed merge agg; the
    * historical corpus never re-scans. */
  def corpusReportMerge(state: DataFrame, newDocs: DataFrame,
                        sourceCol: String, langCol: String,
                        textCol: String): DataFrame =
    state.unionByName(
        corpusReportState(newDocs, sourceCol, langCol, textCol))
      .groupBy(col("source"), col("lang"))
      .agg(sum(col("n_docs")).as("n_docs"),
        sum(col("n_tokens")).as("n_tokens"),
        sum(col("sum_q9")).as("sum_q9"),
        min(col("min_q9")).as("min_q9"), max(col("max_q9")).as("max_q9"))

  /** Render the human card from a [[corpusReportState]]: means as
    * single divisions of the exact integer sums, min/max over 1e9. */
  def corpusReportFinish(state: DataFrame): DataFrame =
    state.select(col("source"), col("lang"), col("n_docs"),
      col("n_tokens"),
      when(col("n_docs") > 0L,
        Portable.intRatio9(col("n_tokens"), col("n_docs")))
        .as("mean_tokens"),
      when(col("n_docs") > 0L, Portable.intRatio9(col("sum_q9"),
        col("n_docs").cast("decimal(38,0)") * lit(1000000000L)))
        .as("mean_quality"),
      round(col("min_q9").cast("double") / lit(1e9), 9).as("min_quality"),
      round(col("max_q9").cast("double") / lit(1e9), 9).as("max_quality"))

  /** Join-fanout pre-flight — the TWO-sided companion to [[keySkew]]:
    * before a 100 TB join runs, price its output EXACTLY from the
    * per-key multiplicities: est_pairs = Σ_common cntA·cntB is the
    * precise join cardinality (not an estimate — the sketch-based
    * [[graft.ops.Dedup]] CMS variant is the one-pass approximation;
    * this is the exact two-agg form), and max_key_pairs names the
    * single key that will dominate the shuffle (the salting / AQE
    * skew-join trigger). A join whose est_pairs is 100× its inputs is
    * a bug caught before the cluster burns a day.
    *
    * Shape: one count agg per side (map-side combined), an equi-join
    * of the two compact key frames behind a [[Barrier]] (read for the
    * rollup and the argmax), two 1-row side rollups. The hottest key
    * resolves by (pairs DESC, key ASC) — deterministic. Returns ONE
    * row: (n_keys_a, n_keys_b, n_common, rows_a, rows_b, est_pairs,
    * max_key_pairs, top_key — as a string). */
  def joinFanout(a: DataFrame, aKey: String, b: DataFrame,
                 bKey: String): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val ca = a.groupBy(col(aKey).cast("string").as("__k"))
      .agg(count(lit(1)).as("__ca"))
    val cb = b.groupBy(col(bKey).cast("string").as("__k"))
      .agg(count(lit(1)).as("__cb"))
    val joined = Barrier.cut(ca.join(cb, Seq("__k"))
      .select(col("__k"),
        (col("__ca").cast(dec) * col("__cb").cast(dec)).as("__p")))
    // argmax as a 1-row agg (min over (-pairs, key) — ties take the
    // LOWEST key), not an orderBy().limit(1): an empty common-key
    // frame must still yield one NULL row, not erase the summary
    // through the cross join
    val top = joined
      .agg(min(struct((-col("__p")).as("np"), col("__k").as("k")))
        .as("__t"))
      .select((-col("__t.np")).as("max_key_pairs"),
        col("__t.k").as("top_key"))
    val sa = ca.agg(count(lit(1)).as("n_keys_a"),
      sum(col("__ca")).as("rows_a"))
    val sb = cb.agg(count(lit(1)).as("n_keys_b"),
      sum(col("__cb")).as("rows_b"))
    joined
      .agg(count(lit(1)).as("n_common"), sum(col("__p")).as("est_pairs"))
      .crossJoin(broadcast(sa)).crossJoin(broadcast(sb))
      .crossJoin(broadcast(top))
      .select(col("n_keys_a"), col("n_keys_b"), col("n_common"),
        col("rows_a"), col("rows_b"),
        coalesce(col("est_pairs"), lit(0).cast(dec)).cast("long")
          .as("est_pairs"),
        col("max_key_pairs").cast("long").as("max_key_pairs"),
        col("top_key"))
  }

  /** Key-skew audit — the pre-flight a 100 TB join/agg runs before
    * choosing a partitioning strategy: one row profiling how a key
    * column's mass is distributed. `max_key_share` near 1 or a fat
    * `top10_share` says the planned shuffle has a straggler partition
    * and the salted two-stage form ([[graft.ops.Pairs.saltedCounts]])
    * or AQE skew-join should take over; `entropy` (nats, 1e-6-quantized)
    * near ln(n_keys) says the keys are uniform and plain hash
    * partitioning is fine.
    *
    * Determinism: entropy comes from H = ln N − (Σ c·x_c)/(N·10⁶) with
    * x_c = floor(ln c · 10⁶ + ½) — per-key integerized ln, exact
    * DECIMAL sums, one final double expression — bit-identical across
    * engines and partitionings ([[Text.zipfAudit]] discipline). Ratios
    * are divisions of exact counts.
    *
    * Shape: one key-keyed count agg (map-side combine) behind a
    * [[Barrier]] (read twice: moments + top-k), a full agg over the
    * compact key frame, and a distributed `TakeOrderedAndProject`
    * top-10 — nothing key-frame-sized ever sorts globally. */
  def keySkew(df: DataFrame, keyCol: String): DataFrame = {
    val dec = "decimal(38,0)"
    val counts = graft.ops.Barrier.cut(
      df.groupBy(col(keyCol).as("__k")).agg(count(lit(1)).as("c")))
    val top = counts.orderBy(desc("c"), asc("__k")).limit(10)
      .agg(sum(col("c")).as("top10_rows"))
    val mom = counts.agg(
      count(lit(1)).as("n_keys"),
      sum(col("c")).as("n_rows"),
      max(col("c")).as("max_key_rows"),
      sum((col("c").cast(dec)) *
          floor(log(col("c")) * lit(1e6) + lit(0.5)).cast(dec))
        .as("__sclnc"))
    broadcast(mom).crossJoin(broadcast(top))
      .select(col("n_rows"), col("n_keys"), col("max_key_rows"),
        Portable.intRatio9(col("max_key_rows"), col("n_rows"))
          .as("max_key_share"),
        col("top10_rows"),
        Portable.intRatio9(col("top10_rows"), col("n_rows"))
          .as("top10_share"),
        Portable.ratio9(log(col("n_rows").cast("double")) -
          col("__sclnc").cast("double") /
            (col("n_rows").cast("double") * lit(1e6))).as("entropy"))
  }

  /** Auto-salt pre-flight — [[keySkew]] turned into a decision: profile
    * the planned shuffle key's mass and RETURN the salt count a salted
    * two-stage aggregation ([[Pairs.saltedCounts]]) should use, instead
    * of leaving the number to the caller's guess. salts =
    * ⌈max_key_share × parallelism⌉ clamped to [1, parallelism]: a key
    * holding 1/parallelism of the rows or less fills at most one
    * reducer's fair share (salts = 1, plain hash partitioning — salting
    * would only add a combine stage for nothing); a key holding s fair
    * shares needs ~s reducers to level the straggler.
    *
    * The choice is physical-only: salted counts are algebraic, so ANY
    * salt count yields identical values (the PairsSpec law) — which is
    * why an ESTIMATE is safe. The probe projects ONLY the key columns,
    * so column pruning reaches its scan. The 1-row collect is a bounded
    * driver probe (best-run contract). */
  def autoSalts(df: DataFrame, keyCols: Seq[String], parallelism: Int): Int = {
    require(parallelism >= 1, s"parallelism must be >= 1, got $parallelism")
    // '\\u0001' separator: composite keys must not alias ("ab","c" vs
    // "a","bc"); an alias would only merge keys and over-provision
    // salts, but there is no reason to accept even that
    val key = concat_ws("\u0001", keyCols.map(col): _*).as("__key")
    val probe = keySkew(df.select(key), "__key")
      .select(col("max_key_share"), col("n_rows")).collect()
    if (probe.isEmpty || probe(0).isNullAt(0)) 1
    else {
      val share = probe(0).getDouble(0)
      math.max(1, math.min(parallelism,
        math.ceil(share * parallelism).toInt))
    }
  }

  /** Pairwise Pearson correlation of curation signals — do the
    * filters a pipeline stacks (quality score, repetition, LM NLL,
    * length…) measure DIFFERENT things, or is one a re-skin of
    * another? A |corr| near 1 between two gates means the second buys
    * almost no extra precision (the Gopher/CCNet ablation question,
    * as a continuous audit). Complements [[gateOverlap]], which sees
    * only thresholded booleans.
    *
    * `sig` carries one INTEGER-scaled LONG column per signal (callers
    * integerize — e.g. floor(score·1e9 + ½); Pearson is invariant to
    * each signal's affine scale, so per-signal scale choices don't
    * matter). Rows with any NULL signal drop (a signal that cannot
    * evaluate would otherwise poison the moments). All moments
    * accumulate exactly over DECIMAL(38,0) and the correlation forms
    * in one fixed expression shape from the exact sums — bit-identical
    * cross-engine and partitioning-independent (the [[Text.zipfAudit]]
    * regression discipline). One row per unordered signal
    * pair: (sig_a, sig_b, n_docs, corr 9dp; NULL when either variance
    * is 0).
    *
    * Shape: ONE full-agg pass computes every Σ, Σ², Σ·product (a
    * single reduce, map-side combinable); the pair rows are literal
    * selects from that 1-row frame unioned — nothing per-doc ever
    * shuffles beyond the one aggregate. */
  def signalCorrelation(sig: DataFrame, signals: Seq[String]): DataFrame = {
    require(signals.size >= 2, "signalCorrelation needs >= 2 signals")
    val dec = "decimal(38,0)"
    val pairs = for {
      i <- signals.indices; j <- (i + 1) until signals.size
    } yield (signals(i), signals(j))
    val aggs =
      Seq(count(lit(1)).cast(dec).as("n")) ++
      signals.flatMap(s => Seq(
        sum(col(s).cast(dec)).as(s"s_$s"),
        sum(col(s).cast(dec) * col(s).cast(dec)).as(s"ss_$s"))) ++
      pairs.map { case (a, b) =>
        sum(col(a).cast(dec) * col(b).cast(dec)).as(s"sp_${a}_$b") }
    val one = sig.na.drop(signals).agg(aggs.head, aggs.tail: _*)
    pairs.map { case (a, b) =>
      val num =
        (col("n") * col(s"sp_${a}_$b") - col(s"s_$a") * col(s"s_$b"))
          .cast("double")
      val da = (col("n") * col(s"ss_$a") - col(s"s_$a") * col(s"s_$a"))
        .cast("double")
      val db = (col("n") * col(s"ss_$b") - col(s"s_$b") * col(s"s_$b"))
        .cast("double")
      one.select(lit(a).as("sig_a"), lit(b).as("sig_b"),
        col("n").cast("long").as("n_docs"),
        when(da > 0d && db > 0d,
          Portable.ratio9(num / (sqrt(da) * sqrt(db)))).as("corr"))
    }.reduce(_ union _)
  }

  /** Curation-gate overlap matrix — the ablation view of a filter
    * stack: every gate evaluated INDEPENDENTLY on every row (unlike
    * [[graft.app.CorpusPipeline]]'s sequential funnel, where a row
    * killed by gate 1 never meets gate 2), rolled up to one row per
    * pass/fail combination. Reading the matrix tells a data team which
    * gates are redundant (their fail sets coincide), which are
    * load-bearing (rows failing ONLY them), and what a gate's removal
    * would actually re-admit — none of which the funnel's sequential
    * counts can say.
    *
    * `gates` are (name, predicate) pairs over `df`'s columns; derived
    * metrics (an aggregate the predicate needs) should be joined onto
    * `df` first — the op stays one groupBy over the flag tuple, output
    * cardinality ≤ 2^gates. `n_gates_failed` counts false flags per
    * combination (null flags count as failed — a gate that cannot
    * evaluate must not silently pass). */
  def gateOverlap(df: DataFrame, gates: Seq[(String, Column)]): DataFrame = {
    require(gates.nonEmpty, "gateOverlap needs at least one gate")
    val failed = gates
      .map { case (n, _) => when(col(n) === true, 0L).otherwise(1L) }
      .reduce(_ + _)
    df.select(gates.map { case (n, c) => c.as(n) }: _*)
      .groupBy(gates.map { case (n, _) => col(n) }: _*)
      .agg(count(lit(1)).as("n_docs"))
      .withColumn("n_gates_failed", failed)
  }
}

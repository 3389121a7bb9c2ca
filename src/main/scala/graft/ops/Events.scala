package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Event-stream analytics over the `events` fixture table (batch forms;
  * the Structured Streaming counterparts live in `graft.streaming`).
  *
  * The reference has no streaming surface (SURVEY.md §2.8) — these extend
  * the engine per the north star. `ts` arrives as epoch-nanosecond LONGs:
  * the fixtures carry parquet TIMESTAMP(NANOS), which Spark only reads
  * via `spark.sql.legacy.parquet.nanosAsLong=true` (set in our session
  * builders); we keep the integer form end-to-end so results are
  * timezone-proof and engine-portable (DuckDB: `epoch_ns`/`epoch_ms`).
  *
  * Scale posture: tumbling windows are a plain hash agg on a derived key
  * (map-side partial aggs apply); sessionization shuffles once on
  * user_id and sorts within partitions — the classic gaps-and-islands
  * plan that survives any data size as long as a single user's events
  * fit a partition ([[sessionizeBucketed]] is the same computation with
  * that bound removed — reach for it when users are pathologically hot).
  *
  * VALUE-PRECISION CONTRACT (public, not a fixture accident): every
  * `value` aggregate here — [[tumbling]]/[[sessionize]]/
  * [[sessionizeBucketed]] `sum_value`/`avg_value`, [[runTable]]'s
  * objective — treats `value` as a MONETARY amount with AT MOST TWO
  * DECIMAL PLACES: each row is quantized to exact cents
  * (⌊v·100 + ½⌋), summed exactly in LONG, and divided once — so the
  * result is association-order-independent across partitionings AND
  * engines (a raw double sum of cents is neither). A caller whose
  * values carry more than 2 dp gets them rounded half-up to cents,
  * silently; pre-scale such values to an integer-cents column (or
  * quantize to the precision you own) before aggregating. */
object Events {

  /** Epoch-milliseconds from the ns LONG — exact FLOOR for any sign
    * (pmod is non-negative, so the subtraction yields an exact
    * multiple; `div` alone truncates toward zero for ts < 0). Same
    * form as [[retention]]'s period math; cross-engine parity below
    * ts = 0 still depends on the oracle's ns→ms read conversion, so
    * the oracle contract stays ts ≥ 0. */
  private def ms = expr("(ts - pmod(ts, 1000000)) div 1000000")

  /** Tumbling-window aggregate: count / avg / sum of `value` per
    * (event_type, window). `widthMs` is the window width; the window
    * key is a sign-safe floor (pmod form at both steps). */
  def tumbling(events: DataFrame, widthMs: Long): DataFrame =
    events
      .withColumn("window_start_ms",
        (ms - pmod(ms, lit(widthMs))).cast("long"))
      .groupBy(col("event_type"), col("window_start_ms"))
      // value is exact cents in a double: per-row integerize is
      // lossless, the sum is exact, and avg/sum leave integer land in
      // ONE integral division each (a float sum of non-dyadic cents
      // is association-order-sensitive — across partitionings AND
      // engines; the q218/q219 class)
      .agg(count(lit(1)).as("n_events"),
        sum(floor(col("value") * lit(100) + lit(0.5)).cast("long"))
          .as("__v2"))
      .select(col("event_type"), col("window_start_ms"), col("n_events"),
        Portable.intRatioSigned9(col("__v2"),
          col("n_events").cast("decimal(38,0)") * lit(100L))
          .as("avg_value"),
        Portable.intRatioSigned9(col("__v2"), lit(100L)).as("sum_value"))

  /** Trailing-baseline anomaly detection over the tumbling counts —
    * the monitoring twin of [[tumbling]]: per event type, each window's
    * event count is z-scored against the mean/variance of its
    * `trailing` PRECEDING observed windows, and windows beyond
    * `zThresh` flag. The "did ingest just spike/die" alert an event
    * pipeline runs continuously.
    *
    * Semantics: "trailing" means the previous `trailing` OBSERVED
    * (non-empty) windows of that type — empty windows don't occupy
    * baseline slots (the relational form needs no window spine; the
    * stream analog is the watermark-bounded state twin). Windows
    * without a full baseline emit nothing. When the baseline variance
    * is 0, the z-score is NULL and `is_anomaly` falls back to the exact
    * "count differs from the constant baseline" test.
    *
    * Determinism: mean and variance come from integer sums (Σ, Σ² over
    * counts) combined in one fixed expression shape — both engines
    * divide the same exact integers, so even the float z-scores are
    * bit-identical. Shape: one (type, window) count agg, one per-type
    * ordered window pass (partition = windows of one type — bounded by
    * time range / width, never event-sized), no joins. */
  def windowAnomaly(events: DataFrame, widthMs: Long, trailing: Int,
                    zThresh: Double): DataFrame = {
    require(widthMs >= 1, s"widthMs must be >= 1, got $widthMs")
    require(trailing >= 2, s"trailing must be >= 2, got $trailing")
    require(zThresh > 0, s"zThresh must be > 0, got $zThresh")
    val k = trailing.toLong
    val counts = events
      .withColumn("window_start_ms",
        (ms - pmod(ms, lit(widthMs))).cast("long"))
      .groupBy(col("event_type"), col("window_start_ms"))
      .agg(count(lit(1)).as("n_events"))
    val w = Window.partitionBy(col("event_type"))
      .orderBy(col("window_start_ms"))
      .rowsBetween(-trailing, -1)
    // exact-integer baseline: var = (k·Σx² − (Σx)²) / k²
    val varNum = col("__ss") * k - col("__s") * col("__s")
    val trailVar = varNum.cast("double") / (k * k).toDouble
    val trailMean = col("__s").cast("double") / k.toDouble
    val z = (col("n_events").cast("double") - trailMean) / sqrt(trailVar)
    counts
      .withColumn("__k", count(lit(1)).over(w))
      .withColumn("__s", sum(col("n_events")).over(w))
      .withColumn("__ss", sum(col("n_events") * col("n_events")).over(w))
      .filter(col("__k") === k)
      .select(col("event_type"), col("window_start_ms"), col("n_events"),
        Portable.intRatio9(col("__s"), lit(k)).as("trail_mean"),
        Portable.intRatioSigned9(varNum, lit(k * k)).as("trail_var"),
        when(varNum > 0, Portable.ratio9(z)).as("zscore"),
        when(varNum > 0, abs(z) >= zThresh)
          .otherwise(col("n_events") * k =!= col("__s")).as("is_anomaly"))
  }

  /** Gap-based sessionization (gaps-and-islands): a new session starts
    * when the time since the user's previous event exceeds `gapMs`.
    * Returns one row per session with start/end/duration/count/sum. */
  def sessionize(events: DataFrame, gapMs: Long): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val gapNs = gapMs * 1000000L
    events
      .withColumn("__prev", lag(col("ts"), 1).over(w))
      .withColumn("__new", when(col("__prev").isNull ||
        col("ts") - col("__prev") > gapNs, 1L).otherwise(0L))
      .withColumn("session_id", sum(col("__new")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("session_id"))
      // `div` (integer division) — epoch-ns values exceed double's 53-bit
      // mantissa, so `/` (float division) would lose milliseconds.
      // duration is end_ms - start_ms (difference of ms-FLOORS, not the
      // floor of the ns difference): ms-floors survive any sub-ms
      // truncation an engine applies on read — DuckDB reads
      // TIMESTAMP(NANOS) parquet at µs precision, and floor(ns diff)
      // is off by one when the sub-ms parts straddle a boundary
      // (surfaced at sf0.1; ms-floor quantities never are).
      .agg(count(lit(1)).as("n_events"),
        expr("min(ts) div 1000000").as("start_ms"),
        expr("max(ts) div 1000000").as("end_ms"),
        expr("(max(ts) div 1000000) - (min(ts) div 1000000)").as("duration_ms"),
        // exact cents sum, ONE division (see [[tumbling]])
        Portable.intRatioSigned9(
          sum(floor(col("value") * lit(100) + lit(0.5)).cast("long")),
          lit(100L)).as("sum_value"))
  }

  /** Two-phase (time-bucketed) sessionization — identical output to
    * [[sessionize]] for ANY `bucketMs` ≥ 1 (EventsSpec proves the law on
    * a pathological hot user), but the raw-event sort partitions by
    * (user, time-bucket) instead of user: the hot-user caveat on
    * [[sessionize]] — one user's whole timeline sorting in one task —
    * engineered away, same lever as [[asofJoinBucketed]].
    *
    * Phase 1 sessionizes LOCALLY within each (user, bucket) cell and
    * reduces each local session to one summary row (count, min/max ts,
    * value sum) — gaps-and-islands where the window partition carries
    * the bucket, so a hot user splits across tasks. Phase 2 re-runs
    * gaps-and-islands per user over the SUMMARY rows ordered by start
    * time — a session continues the previous one iff its first event is
    * within `gapMs` of the previous session's last (this compares real
    * timestamps, so merges chain across empty buckets and any bucket
    * width is correct); counts/sums/extrema recombine algebraically.
    * The per-user sort now touches session-granularity rows only —
    * bounded by cells, not events.
    *
    * Caveat: `sum_value` adds per-cell partials instead of raw values,
    * so the float accumulation order differs from [[sessionize]] —
    * both round to 9 dp, beneath which the engines already don't
    * promise bit equality. */
  def sessionizeBucketed(events: DataFrame, gapMs: Long,
                         bucketMs: Long): DataFrame = {
    require(bucketMs >= 1, s"bucketMs must be >= 1, got $bucketMs")
    val gapNs = gapMs * 1000000L
    val bucketNs = bucketMs * 1000000L
    // exact floor division (see asofJoinBucketed)
    val withB = events.withColumn("__b",
      expr(s"(ts - pmod(ts, ${bucketNs}L)) div ${bucketNs}L"))
    val wCell = Window.partitionBy(col("user_id"), col("__b"))
      .orderBy(col("ts"), col("event_id"))
    val cellSessions = withB
      .withColumn("__prev", lag(col("ts"), 1).over(wCell))
      .withColumn("__new", when(col("__prev").isNull ||
        col("ts") - col("__prev") > gapNs, 1L).otherwise(0L))
      .withColumn("__ls", sum(col("__new")).over(
        wCell.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("__b"), col("__ls"))
      .agg(count(lit(1)).as("__n"), min(col("ts")).as("__min"),
        max(col("ts")).as("__max"),
        sum(floor(col("value") * lit(100) + lit(0.5)).cast("long"))
          .as("__sv"))
    val wUser = Window.partitionBy(col("user_id"))
      .orderBy(col("__min"), col("__b"), col("__ls"))
    cellSessions
      .withColumn("__pmax", lag(col("__max"), 1).over(wUser))
      .withColumn("__start", when(col("__pmax").isNull ||
        col("__min") - col("__pmax") > gapNs, 1L).otherwise(0L))
      .withColumn("session_id", sum(col("__start")).over(
        wUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("session_id"))
      // duration as difference of ms-floors — see [[sessionize]]
      .agg(sum(col("__n")).as("n_events"),
        expr("min(__min) div 1000000").as("start_ms"),
        expr("max(__max) div 1000000").as("end_ms"),
        expr("(max(__max) div 1000000) - (min(__min) div 1000000)")
          .as("duration_ms"),
        Portable.intRatioSigned9(sum(col("__sv")), lit(100L))
          .as("sum_value"))
  }

  /** Distributed as-of join (temporal enrich): for every left row, the
    * single right row with the greatest `rightTimeCol` ≤ the left row's
    * `leftTimeCol` within the same `keyCols` — "latest state visible at
    * event time". Spark has no native ASOF JOIN; a range join would
    * explode within-key (O(n·m) candidate pairs). This is the
    * compose-existing-operators shape: tag and UNION both sides, ONE
    * shuffle+sort keyed on `keyCols` ordered by (time, side), propagate
    * the last-seen right payload with `last(ignoreNulls)` over the
    * unbounded-preceding frame, keep left rows. Left rows before any
    * right row get nulls (ASOF LEFT JOIN semantics, matching DuckDB's
    * `ASOF LEFT JOIN ... ON l.t >= r.t` — ties match, right-at-equal-
    * time sorts first).
    *
    * Requirements: `rightTimeCol` unique per key (otherwise which
    * same-timestamp right row wins is undefined); payload column names
    * of the two sides must not collide (both documented, both true for
    * the q48 wiring). Both time columns are cast to BIGINT.
    *
    * 100 TB posture: cost is one shuffle of left ∪ right on the key and
    * a per-key sort — same plan family as sessionize; no candidate
    * blow-up, no broadcast requirement on either side. Parallelism is
    * bounded by key cardinality (each key sorts on one task): with a
    * low-cardinality key (q48's 5 event types) include an entity column
    * in `keyCols` when the right table carries it, or use
    * [[asofJoinBucketed]] — identical semantics, parallelism ∝
    * key × time-bucket. */
  def asofJoin(left: DataFrame, right: DataFrame, keyCols: Seq[String],
               leftTimeCol: String, rightTimeCol: String): DataFrame = {
    val lPayCols = left.columns.toSeq.filterNot(keyCols.contains)
    val rPayCols = right.columns.toSeq.filterNot(keyCols.contains)
    val rTyped = right.select(keyCols.map(col) ++ Seq(
      col(rightTimeCol).cast("long").as("__t"),
      struct(rPayCols.map(col): _*).as("__rp")): _*)
    val lTyped = left.select(keyCols.map(col) ++ Seq(
      col(leftTimeCol).cast("long").as("__t"),
      struct(lPayCols.map(col): _*).as("__lp")): _*)
    val l2 = lTyped
      .withColumn("__rp", lit(null).cast(rTyped.schema("__rp").dataType))
      .withColumn("__src", lit(1))
      .select(keyCols.map(col) ++ Seq(col("__t"), col("__lp"), col("__rp"),
        col("__src")): _*)
    val r2 = rTyped
      .withColumn("__lp", lit(null).cast(lTyped.schema("__lp").dataType))
      .withColumn("__src", lit(0))
      .select(keyCols.map(col) ++ Seq(col("__t"), col("__lp"), col("__rp"),
        col("__src")): _*)
    val w = Window.partitionBy(keyCols.map(col): _*)
      .orderBy(col("__t"), col("__src"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    l2.union(r2)
      .withColumn("__m", last(col("__rp"), ignoreNulls = true).over(w))
      .filter(col("__src") === 1)
      .select(keyCols.map(col) ++
        lPayCols.map(c => col(s"__lp.$c").as(c)) ++
        rPayCols.map(c => col(s"__m.$c").as(c)): _*)
  }

  /** Range-bucketed as-of join — same semantics as [[asofJoin]] (for any
    * `bucketWidth` ≥ 1 the results are identical; EventsSpec proves it on
    * randomized streams) but parallelism ∝ |keys| × |time buckets| instead
    * of |keys|. Reach for this when the key is low-cardinality (q48 keys
    * on 5 event types — with plain [[asofJoin]] five tasks would sort
    * everything at 100×).
    *
    * Shape (two-pass, still no range-join candidate blow-up):
    *  1. bucket both sides by `floor(t / bucketWidth)`;
    *  2. per (key, bucket) reduce the right side to its LAST row
    *     (`max_by` — partial+final agg) → a bucket-granularity summary
    *     table, ~|keys|·|buckets| rows regardless of data size;
    *  3. carry-in: for each left-occupied bucket, the last summary among
    *     strictly-earlier buckets — the union+running-`last` trick over
    *     the SUMMARY table keyed on the key alone (per-key sort touches
    *     bucket-granularity rows only, never raw data);
    *  4. join the carry to the left rows on (key, bucket), then resolve
    *     within-bucket with the same union+`last(ignoreNulls)` window as
    *     [[asofJoin]] — but partitioned by (key, BUCKET): the raw-data
    *     sort that bounded [[asofJoin]]'s parallelism now splits across
    *     every time bucket. A left row's match is either a same-bucket
    *     right row at `__t` ≤ its time (the window) or, if none, the
    *     carry-in (`coalesce`).
    *
    * Same requirements as [[asofJoin]] (unique right times per key,
    * non-colliding payload names) plus non-null keys (the carry join is
    * an equi-join). Choose `bucketWidth` so a (key, bucket) cell fits a
    * task — e.g. hours for event streams; more buckets only add summary
    * rows, so err small. */
  def asofJoinBucketed(left: DataFrame, right: DataFrame, keyCols: Seq[String],
                       leftTimeCol: String, rightTimeCol: String,
                       bucketWidth: Long): DataFrame = {
    require(bucketWidth >= 1, s"bucketWidth must be >= 1, got $bucketWidth")
    val lPayCols = left.columns.toSeq.filterNot(keyCols.contains)
    val rPayCols = right.columns.toSeq.filterNot(keyCols.contains)
    val keys = keyCols.map(col)
    // exact floor division for any sign: pmod is non-negative, so __t−pmod
    // is an exact multiple of the width and `div` cannot truncate wrong
    val bucket = expr(s"(__t - pmod(__t, ${bucketWidth}L)) div ${bucketWidth}L")
    val rTyped = right.select(keys ++ Seq(
        col(rightTimeCol).cast("long").as("__t"),
        struct(rPayCols.map(col): _*).as("__rp")): _*)
      .withColumn("__b", bucket)
    val lTyped = left.select(keys ++ Seq(
        col(leftTimeCol).cast("long").as("__t"),
        struct(lPayCols.map(col): _*).as("__lp")): _*)
      .withColumn("__b", bucket)
    val rpType = rTyped.schema("__rp").dataType
    val bucketLast = rTyped.groupBy(keys :+ col("__b"): _*)
      .agg(max_by(col("__rp"), col("__t")).as("__rp"))
    // carry-in: left bucket markers (__o=0) sort BEFORE right summaries
    // (__o=1) within a bucket, so the running last sees only buckets < b
    val cw = Window.partitionBy(keys: _*).orderBy(col("__b"), col("__o"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val carry = lTyped.select(keys :+ col("__b"): _*).distinct()
      .withColumn("__rp", lit(null).cast(rpType))
      .withColumn("__o", lit(0))
      .union(bucketLast.withColumn("__o", lit(1))
        .select(keys ++ Seq(col("__b"), col("__rp"), col("__o")): _*))
      .withColumn("__carry", last(col("__rp"), ignoreNulls = true).over(cw))
      .filter(col("__o") === 0)
      .select(keys ++ Seq(col("__b"), col("__carry")): _*)
    val l2 = lTyped.join(carry, keyCols :+ "__b")
      .withColumn("__rp", lit(null).cast(rpType))
      .withColumn("__src", lit(1))
      .select(keys ++ Seq(col("__b"), col("__t"), col("__lp"), col("__rp"),
        col("__carry"), col("__src")): _*)
    val r2 = rTyped
      .withColumn("__lp", lit(null).cast(lTyped.schema("__lp").dataType))
      .withColumn("__carry", lit(null).cast(rpType))
      .withColumn("__src", lit(0))
      .select(keys ++ Seq(col("__b"), col("__t"), col("__lp"), col("__rp"),
        col("__carry"), col("__src")): _*)
    val w = Window.partitionBy(keys :+ col("__b"): _*)
      .orderBy(col("__t"), col("__src"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    l2.union(r2)
      .withColumn("__m",
        coalesce(last(col("__rp"), ignoreNulls = true).over(w), col("__carry")))
      .filter(col("__src") === 1)
      .select(keyCols.map(col) ++
        lPayCols.map(c => col(s"__lp.$c").as(c)) ++
        rPayCols.map(c => col(s"__m.$c").as(c)): _*)
  }

  /** Distribution profile per event_type: exact linear-interpolated
    * quantiles + min/max/count of `value`. Quantiles are ORDER
    * statistics — no floating-point accumulation, so results are
    * bit-stable across engines and partitionings (unlike stddev/var,
    * whose sums drift in the low bits). Exact `percentile` sorts per
    * group; at 100 TB swap in `percentile_approx` (t-digest sketch,
    * map-side combinable) when a bounded error beats a per-group sort —
    * same call shape. */
  /** Validated (prob, output column name) pairs for the quantile
    * profiles: probs in (0, 1], and no two probs may round to the same
    * integer-percent label (the duplicate column would poison every
    * downstream reference with AMBIGUOUS_REFERENCE). */
  private def quantileCols(probs: Seq[Double]): Seq[(Double, String)] = {
    require(probs.nonEmpty, "probs must be non-empty")
    require(probs.forall(p => p > 0 && p <= 1),
      s"probs must be in (0, 1]: ${probs.mkString(",")}")
    val named = probs.map(p => p -> s"p${(p * 100).round}")
    require(named.map(_._2).distinct.size == named.size,
      s"probs collide on percent labels: ${named.map(_._2).mkString(",")}")
    named
  }

  def quantileProfile(events: DataFrame, probs: Seq[Double]): DataFrame = {
    val qs = quantileCols(probs).map { case (p, name) =>
      Portable.ratio9(expr(s"percentile(value, ${p}D)")).as(name)
    }
    events.groupBy(col("event_type"))
      .agg(qs.head, qs.tail ++ Seq(
        min(col("value")).as("min_value"),
        max(col("value")).as("max_value"),
        count(lit(1)).as("n")): _*)
  }

  /** Sequential conversion funnel: for the ordered `stages` event
    * types, a user reaches stage k iff they have a stage-k event
    * STRICTLY AFTER the time they reached stage k−1 (first-occurrence
    * semantics — the classic product funnel, not a mere presence
    * check). Returns one row per stage with the reaching-user count.
    *
    * Relational shape: stage 1 is a type-filtered min-ts agg per user;
    * each later stage joins the previous stage's reach time and takes
    * the min ts after it — k type-pruned aggregates, each shuffling
    * only that stage's events keyed on user. Each stage's reach frame
    * passes a [[Barrier]]: stage k reads stage k−1's MATERIALIZED
    * (user, reach-time) rows instead of re-deriving the whole prefix
    * chain, so the events table is scanned exactly once per stage — k
    * scans total, not the O(k²) a lazy union of per-stage counts would
    * pay (EventsSpec pins the scan count with an accumulator-
    * instrumented source). The per-stage counts then union into one
    * frame whose branches read only the checkpointed reach frames. No
    * per-user state machine, no event buffering; parallelism is
    * user-keyed at every step.
    *
    * EAGERNESS — the one deviation from the library's lazy-everywhere
    * convention (see README's API conventions): the k stage
    * materializations run AT THE CALL — k Spark jobs before any action
    * on the result, and with a checkpoint dir set, k reliable
    * checkpoint writes.
    *
    * Skew caveat (same as every user-keyed sibling): the per-stage
    * join and min-agg key on user_id, so one pathologically hot user's
    * stage events land on one task. The min-agg combines map-side; if
    * the JOIN against a hot user's events ever dominates, pre-aggregate
    * events to (user, type, min ts-after-candidates) or salt the key —
    * see [[Pairs.saltedCounts]] for the two-stage salted shape. */
  def funnel(events: DataFrame, stages: Seq[String]): DataFrame =
    stageChain(events, stages, None)

  /** [[funnel]] with an ATTRIBUTION WINDOW — stage k+1 counts a user
    * only when their first qualifying event lands within `maxGapMs` of
    * reaching stage k: "converted, and within the window the business
    * actually credits" (the number ad attribution and trial-to-paid
    * funnels report; the unwindowed [[funnel]] is its upper bound, and
    * [[funnelLatency]]'s distribution is how you CHOOSE the window).
    * The windowed reach time chains: stage k+2's window starts at the
    * first WINDOWED stage-k+1 event. Gap compares ms-floors of the ns
    * event times (the [[sessionize]] duration rule — survives sub-ms
    * read truncation); same stage-chain shape, eagerness and skew
    * caveat as [[funnel]], whose scaladoc is the reference — the
    * window predicate on the tail-stage filter is the ONLY delta. */
  def funnelWindowed(events: DataFrame, stages: Seq[String],
                     maxGapMs: Long): DataFrame = {
    require(maxGapMs >= 0, s"maxGapMs must be >= 0, got $maxGapMs")
    stageChain(events, stages, Some(maxGapMs))
  }

  /** The [[funnel]] stage chain; `maxGapMs` adds [[funnelWindowed]]'s
    * window predicate to every tail stage. */
  private def stageChain(events: DataFrame, stages: Seq[String],
                         maxGapMs: Option[Long]): DataFrame = {
    require(stages.nonEmpty, "stages must be non-empty")
    require(stages.distinct.size == stages.size,
      s"stages must be distinct: ${stages.mkString(",")}")
    def stageRow(idx: Long, st: String, reach: DataFrame): DataFrame =
      reach.agg(count(lit(1)).as("n_users"))
        .select(lit(idx).as("stage_idx"), lit(st).as("stage"),
          col("n_users"))
    val after = maxGapMs.fold(col("ts") > col("__rt"))(gap =>
      col("ts") > col("__rt") &&
        (expr("ts div 1000000") - expr("__rt div 1000000")) <= gap)
    var reach = Barrier.cut(events.filter(col("event_type") === stages.head)
      .groupBy(col("user_id")).agg(min(col("ts")).as("__rt")))
    var rows = stageRow(1L, stages.head, reach)
    for ((st, i) <- stages.tail.zipWithIndex) {
      reach = Barrier.cut(events.filter(col("event_type") === st)
        .join(reach, Seq("user_id"))
        .filter(after)
        .groupBy(col("user_id")).agg(min(col("ts")).as("__rt")))
      rows = rows.union(stageRow(i + 2L, st, reach))
    }
    rows
  }

  /** Per-user event-transition matrix — for every ordered pair of
    * consecutive events of one user ((ts, event_id) order, the
    * [[sessionize]] tiebreak), the count and the row-normalized
    * transition probability P(to | from). The first-order-Markov
    * behavioral fingerprint product analytics reads next to the
    * [[funnel]] (which checks ONE prescribed path; this shows every
    * path actually taken). Transitions spanning arbitrarily long gaps
    * count — pre-filter to a session window if session-local behavior
    * is wanted.
    *
    * Shape: one user-keyed window (lag) over the events, one
    * (from, to)-keyed count agg, and the normalizing sum as a window
    * over the compact matrix frame (≤ |event types|² rows). Exact
    * integer counts; p is one division of exact integers, 9dp. */
  def transitionMatrix(events: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    events
      .withColumn("__prev", lag(col("event_type"), 1).over(w))
      .filter(col("__prev").isNotNull)
      .select(col("__prev").as("from_type"), col("event_type").as("to_type"))
      .groupBy(col("from_type"), col("to_type"))
      .agg(count(lit(1)).as("n"))
      .withColumn("p", Portable.intRatio9(col("n"),
        sum(col("n")).over(Window.partitionBy(col("from_type")))))
  }

  /** Top user journey prefixes — the Sankey/behavior-flow counterpart
    * of [[transitionMatrix]]'s one-step view: each user's first
    * `pathLen` event types (in (ts, event_id) order) joined into a
    * path string, counted, top `k` paths returned with ranks. Where
    * [[funnel]] checks ONE prescribed path and [[transitionMatrix]]
    * forgets history after one step, this shows the actual most-common
    * openings. Users with fewer than `pathLen` events contribute their
    * full (shorter) path.
    *
    * Shape: one user-keyed window (row_number, prefix filter), one
    * user-keyed rollup reassembling order, one path-keyed count, then
    * a distributed `TakeOrderedAndProject` top-k — the final rank
    * window orders ≤ k rows. Deterministic: (count DESC, path ASC). */
  def topPaths(events: DataFrame, pathLen: Int, k: Int): DataFrame = {
    require(pathLen >= 1, s"pathLen must be >= 1, got $pathLen")
    require(k >= 1, s"k must be >= 1, got $k")
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    events
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= pathLen)
      .groupBy(col("user_id"))
      .agg(concat_ws(">", transform(
        sort_array(collect_list(struct(col("__rn").as("r"),
          col("event_type").as("t")))), x => x.getField("t"))).as("path"))
      .groupBy(col("path")).agg(count(lit(1)).as("n_users"))
      .orderBy(desc("n_users"), asc("path")).limit(k)
      .select(col("path"), col("n_users"),
        row_number().over(Window.orderBy(desc("n_users"), asc("path")))
          .cast("long").as("rank"))
  }

  /** Conversion-latency profile of the [[funnel]] — for each
    * consecutive stage transition, exact order-statistic quantiles of
    * the per-user time from REACHING stage k to reaching stage k+1
    * (first-occurrence times, the funnel's own semantics). "How many
    * convert" ([[funnel]]) and "how fast" (this) are the two numbers a
    * growth team reads together; the latency distribution also sets
    * the attribution window an event pipeline needs to keep hot.
    *
    * Latencies are differences of ms-FLOORS of the ns reach times (the
    * [[sessionize]] duration rule — survives sub-ms read truncation),
    * quantiles are exact interpolated order statistics (the
    * [[quantileProfile]] percentile ↔ quantile_cont parity; swap in
    * percentile_approx at extreme per-step user counts). Output one
    * row per transition: (step_idx, from_stage, to_stage, n_users,
    * p…, min/max). Steps nobody completes report n_users 0 with NULL
    * quantiles.
    *
    * Shape: the [[funnel]]'s stage chain verbatim (each reach frame
    * barriered and carrying its reach time — k filtered scans for k
    * stages, EAGER like funnel), plus per transition one user-keyed
    * equi join of consecutive reach frames and a 1-row exact-quantile
    * agg over the step's latency column. */
  def funnelLatency(events: DataFrame, stages: Seq[String],
                    probs: Seq[Double]): DataFrame = {
    require(stages.size >= 2, "funnelLatency needs >= 2 stages")
    require(stages.distinct.size == stages.size,
      s"stages must be distinct: ${stages.mkString(",")}")
    var reach = Barrier.cut(events
      .filter(col("event_type") === stages.head)
      .groupBy(col("user_id")).agg(min(col("ts")).as("__rt")))
    var out: DataFrame = null
    for ((st, i) <- stages.tail.zipWithIndex) {
      val next = Barrier.cut(events.filter(col("event_type") === st)
        .join(reach, Seq("user_id"))
        .filter(col("ts") > col("__rt"))
        .groupBy(col("user_id")).agg(min(col("ts")).as("__rt")))
      val lat = next.select(col("user_id"), col("__rt").as("__rt2"))
        .join(reach, Seq("user_id"))
        .select((expr("__rt2 div 1000000") - expr("__rt div 1000000"))
          .as("lat_ms"))
      val qs = quantileCols(probs).map { case (p, name) =>
        round(expr(s"percentile(lat_ms, ${p}D)"), 9).as(name)
      }
      val row = lat
        .agg(count(lit(1)).as("n_users"),
          qs ++ Seq(min(col("lat_ms")).as("min_ms"),
            max(col("lat_ms")).as("max_ms")): _*)
        .select(Seq(lit(i + 1L).as("step_idx"),
          lit(stages(i)).as("from_stage"), lit(st).as("to_stage"),
          col("n_users")) ++
          quantileCols(probs).map { case (_, n) => col(n) } ++
          Seq(col("min_ms"), col("max_ms")): _*)
      out = if (out == null) row else out.union(row)
      reach = next
    }
    out
  }

  /** Cohort retention table: users grouped by the period of their FIRST
    * event (their cohort), and for each (cohort, period offset) the
    * count and fraction of cohort members active in that period — the
    * classic product-retention triangle. `widthMs` is the period width
    * (a day, a week). Offset 0 always has retention 1.0 (every user is
    * active in their first period by definition — a structural
    * invariant EventsSpec pins).
    *
    * Relational shape: one user-keyed min-agg for cohorts, one distinct
    * over (user, period) — activity collapses BEFORE the join, so a
    * user's thousandth event in a period costs nothing downstream —
    * then a broadcast-sized (cohort, offset) count agg and a self-join
    * on the offset-0 row for the denominator. All shuffles are user-
    * or cohort-keyed; nothing pairs rows. The period index derives
    * from the ms-FLOOR of the ns timestamp (like [[sessionize]]'s
    * durations): ms-floor quantities survive the sub-ms truncation an
    * engine applies on read, so the DuckDB oracle agrees at every
    * period boundary. Both floor steps use the pmod form (x − pmod(x,m)
    * is an exact multiple, so `div` cannot truncate wrong), making the
    * period index well-defined FLOOR semantics for pre-1970 (negative)
    * timestamps too — EventsSpec pins a ts < 0 cohort. Cross-ENGINE
    * parity below ts = 0 still depends on the ns→ms read conversion
    * (DuckDB's epoch_ms truncates toward zero), so the oracle contract
    * remains ts ≥ 0; the operator itself is sign-safe. */
  def retention(events: DataFrame, widthMs: Long): DataFrame = {
    require(widthMs >= 1, s"widthMs must be >= 1, got $widthMs")
    def period(c: String) = {
      val msF = s"(($c - pmod($c, 1000000L)) div 1000000L)"
      expr(s"($msF - pmod($msF, ${widthMs}L)) div ${widthMs}L")
    }
    val cohorts = events.groupBy(col("user_id"))
      .agg(min(col("ts")).as("__ft"))
      .select(col("user_id"), period("__ft").as("__cp"))
    val active = events
      .select(col("user_id"), period("ts").as("__p"))
      .distinct()
    val counts = active.join(cohorts, Seq("user_id"))
      .groupBy(col("__cp"), (col("__p") - col("__cp")).as("period_offset"))
      .agg(count(lit(1)).as("n_active"))
    val sizes = counts.filter(col("period_offset") === 0)
      .select(col("__cp"), col("n_active").as("cohort_size"))
    counts.join(sizes, Seq("__cp"))
      .select((col("__cp") * widthMs).as("cohort_start_ms"),
        col("period_offset"), col("n_active"), col("cohort_size"),
        Portable.intRatio9(col("n_active"), col("cohort_size"))
          .as("retention"))
  }

  /** Type-2 slowly-changing-dimension build (Kimball's SCD2) from an
    * event log: per key, the tracked attribute's CHANGE history as
    * versioned rows with [effective_from, effective_to) validity and a
    * current flag — the versioned-metadata table a reproducible
    * training run joins against ("what was this user's segment WHEN
    * the event happened", via [[asofJoin]] on effective_from). Source
    * rows where the attribute equals the key's previous value collapse
    * (no spurious versions); the first observation opens version 1;
    * the latest version is open-ended (effective_to NULL,
    * is_current = true).
    *
    * Determinism: events order by (ts, event_id) per key — the
    * [[sessionize]] tiebreak — so simultaneous events produce one
    * well-defined history. Timestamps leave as ms-floors (`div`, the
    * cross-engine contract documented on [[sessionize]]).
    *
    * Shape: two windows, both partitioned by the key (change detection
    * over raw events; version numbering + lead over the collapsed
    * changes — strictly fewer rows). A hot key sorts in one task; at
    * 100 TB feed the same two-phase bucketing lever as
    * [[sessionizeBucketed]] — change detection is gaps-and-islands on
    * equality instead of time gaps, so phase-1-local / phase-2-merge
    * applies unchanged. Returns (keyCol, version, attr, from_ms,
    * to_ms, is_current). */
  def scd2(events: DataFrame, keyCol: String, attrCol: String): DataFrame = {
    val w = Window.partitionBy(col(keyCol))
      .orderBy(col("ts"), col("event_id"))
    val changes = events
      .withColumn("__prev", lag(col(attrCol), 1).over(w))
      .filter(col("__prev").isNull || !(col("__prev") <=> col(attrCol)))
    // version order must replay the ORIGINAL (ts, event_id) order, not
    // (from_ms, event_id): two changes inside one millisecond would
    // otherwise version by id, contradicting the change detection
    val wc = Window.partitionBy(col(keyCol))
      .orderBy(col("ts"), col("event_id"))
    changes
      .select(col(keyCol), col("ts"), col("event_id"),
        col(attrCol).as("attr"), expr("ts div 1000000").as("from_ms"))
      .withColumn("version", row_number().over(wc).cast("long"))
      .withColumn("to_ms", lead(col("from_ms"), 1).over(wc))
      .select(col(keyCol), col("version"), col("attr"), col("from_ms"),
        col("to_ms"), col("to_ms").isNull.as("is_current"))
  }

  /** Exponentially time-decayed event mass per type — the "trending
    * now" aggregate: each event contributes 2^(−age/halfLife) as of
    * the given instant, so yesterday's burst outweighs last month's
    * steady drip, without any windowing cliff. The decayed/raw ratio
    * is the recency signature (→1 = all mass recent, →0 = stale).
    *
    * Determinism: the per-row decay is one pinned double chain
    * (integer age → double division → pow), rounded to 9 dp and
    * integerized at 1e9 BEFORE summation — the sum is exact LONG, so
    * partition order cannot move a bit (the [[classBalance]]
    * discipline; a float sum of 2^−x terms is order-sensitive).
    * Events after `asOfMs` are excluded (they haven't happened yet as
    * of the report instant).
    *
    * Shape: map-only per-row decay, one hash agg keyed on type.
    * Returns (event_type, n_events, decayed_mass, recency) ordered by
    * the caller. */
  def decayedCounts(events: DataFrame, halfLifeMs: Long,
                    asOfMs: Long): DataFrame = {
    require(halfLifeMs >= 1, s"halfLifeMs must be >= 1, got $halfLifeMs")
    val ageMs = lit(asOfMs) - expr("ts div 1000000")
    val w9 = floor(round(pow(lit(2.0),
      -(ageMs.cast("double") / lit(halfLifeMs.toDouble))), 9) * lit(1e9) +
      lit(0.5)).cast("long")
    events.filter(expr("ts div 1000000") <= asOfMs)
      .select(col("event_type"), w9.as("__w9"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"), sum(col("__w9")).as("__m9"))
      .select(col("event_type"), col("n_events"),
        round(col("__m9").cast("double") / lit(1e9), 9)
          .as("decayed_mass"),
        Portable.intRatio9(col("__m9"),
          col("n_events").cast("decimal(38,0)") * lit(1000000000L))
          .as("recency"))
  }

  /** Hour-of-day periodicity profile per event type — the seasonality
    * sanity check behind every windowed monitor ([[windowAnomaly]]'s
    * trailing baseline assumes comparable windows; a strongly diurnal
    * type needs hour-matched baselines instead): per type, the peak
    * hour and its share, plus a χ² statistic against the uniform-
    * over-24-hours null. χ² = Σ(o_h − n/24)²/(n/24) clears to the
    * EXACT integer form (24·Σo_h² − n²)/n — one division, emitted via
    * [[Portable.ratio9]]; absent hours count as observed 0 (the
    * chiSquare zero-cell lesson: dropping them understates).
    *
    * Shape: one (type, hour) count agg (24·|types| rows), per-type
    * rollups as bounded windows, one row per type. At 100 TB the
    * count agg map-side combines to ≤ 24 rows per type per task.
    * Returns (event_type, n_events, peak_hour, peak_share,
    * chi2_uniform), peak ties → earliest hour. */
  def hourOfDayProfile(events: DataFrame): DataFrame = {
    val hour = expr("pmod((ts div 1000000) div 3600000, 24)").cast("long")
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val cells = events.select(col("event_type"), hour.as("hour"))
      .groupBy(col("event_type"), col("hour"))
      .agg(count(lit(1)).as("o"))
    // o² sums carry in DECIMAL(38,0): at 100 TB a hot type's n² would
    // overflow a LONG past ~3·10⁹ events
    cells.groupBy(col("event_type"))
      .agg(sum(col("o")).as("n_events"),
        sum(col("o").cast(dec) * col("o").cast(dec)).as("__ss"),
        max(struct(col("o"), (-col("hour")).as("__nh"))).as("__pk"))
      .select(col("event_type"), col("n_events"),
        (-col("__pk.__nh")).as("peak_hour"),
        Portable.intRatio9(col("__pk.o"), col("n_events"))
          .as("peak_share"),
        Portable.intRatioSigned9(
          lit(24).cast(dec) * col("__ss") -
            col("n_events").cast(dec) * col("n_events").cast(dec),
          col("n_events")).as("chi2_uniform"))
  }

  /** First-touch / last-touch conversion attribution — the marketing
    * readout over the raw event log: each conversion's credit goes to
    * the FIRST and LAST non-conversion touch in its journey (the
    * events since the user's previous conversion) within `lookbackMs`
    * of the conversion. Journeys are delimited by the conversions
    * themselves — the j-th journey is every event carrying exactly j
    * PRIOR conversions in the user's (ts, event_id) order, so each
    * journey holds at most one conversion and every touch in it
    * precedes that conversion. Conversions with no eligible touch
    * (cold conversions, or all touches older than the lookback) earn
    * no attribution row — the n_conversions column prices the gap.
    *
    * Determinism: first/last are min/max over (ts, event_id, type)
    * structs — (ts, event_id) is unique, so ties cannot exist. All
    * counts exact.
    *
    * Shape: one user-keyed ordered window (the [[sessionize]] per-key
    * sort bound), a (user, journey)-keyed agg, two type-keyed aggs
    * over the JOURNEY frame (≤ one row per conversion), a full-outer
    * merge on the type dimension. Returns one row per touch type that
    * earned credit: (event_type, first_touch, last_touch,
    * n_conversions — the same global total on every row). */
  def touchAttribution(events: DataFrame, convType: String,
                       lookbackMs: Long): DataFrame = {
    require(lookbackMs >= 1, s"lookbackMs must be >= 1, got $lookbackMs")
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val lbNs = lookbackMs * 1000000L
    val tagged = events
      .withColumn("__isc",
        when(col("event_type") === convType, 1L).otherwise(0L))
      .withColumn("__j", coalesce(sum(col("__isc"))
        .over(w.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
    val convs = tagged.filter(col("__isc") === 1L)
      .select(col("user_id"), col("__j"), col("ts").as("__cts"))
    val nConv = convs.agg(count(lit(1)).as("n_conversions"))
    val per = tagged.filter(col("__isc") === 0L)
      .select(col("user_id"), col("__j"), col("event_type"),
        col("ts"), col("event_id"))
      .join(convs, Seq("user_id", "__j"))
      .filter(col("__cts") - col("ts") <= lbNs)
      .groupBy(col("user_id"), col("__j"))
      .agg(min(struct(col("ts"), col("event_id"), col("event_type")))
        .as("__f"),
        max(struct(col("ts"), col("event_id"), col("event_type")))
          .as("__l"))
    val f = per.groupBy(col("__f.event_type").as("event_type"))
      .agg(count(lit(1)).as("first_touch"))
    val l = per.groupBy(col("__l.event_type").as("event_type"))
      .agg(count(lit(1)).as("last_touch"))
    f.join(l, Seq("event_type"), "full_outer")
      .crossJoin(broadcast(nConv))
      .select(col("event_type"),
        coalesce(col("first_touch"), lit(0L)).as("first_touch"),
        coalesce(col("last_touch"), lit(0L)).as("last_touch"),
        col("n_conversions"))
  }

  /** SPRT constants (Wald '45) integerized at 1e9 ONCE here — the
    * per-observation log-likelihood-ratio increments for failure/
    * success and the accept boundaries ln((1−β)/α), ln(β/(1−α)).
    * The oracle SQL builder calls this SAME function, so both engines
    * walk the identical integer random walk (cross-engine ln chains
    * are not trusted — the q170 literal discipline). */
  def sprtConstants(p0: Double, p1: Double, alpha: Double,
                    beta: Double): (Long, Long, Long, Long) = {
    require(p0 > 0 && p0 < 1 && p1 > 0 && p1 < 1 && p0 != p1,
      s"p0/p1 must be distinct in (0,1), got $p0/$p1")
    require(alpha > 0 && alpha < 1 && beta > 0 && beta < 1,
      s"alpha/beta must be in (0,1), got $alpha/$beta")
    def i9(x: Double) = math.floor(x * 1e9 + 0.5).toLong
    (i9(math.log((1 - p1) / (1 - p0))), i9(math.log(p1 / p0)),
      i9(math.log((1 - beta) / alpha)), i9(math.log(beta / (1 - alpha))))
  }

  /** Wald sequential probability ratio test trace over daily
    * conversion — the SEQUENTIAL complement of [[abTest]]'s fixed-
    * horizon z: per day, the cumulative log-likelihood ratio of
    * H₁: rate = p1 against H₀: rate = p0, with the day's decision
    * (`accept_h1` / `accept_h0` / `continue`) read off Wald's
    * boundaries. An experimenter stops at the FIRST non-continue day;
    * the full trace is emitted so the monitor (and its streaming
    * twin) can replay the walk.
    *
    * Determinism: a user-day converts iff it has ≥1 `convType` event;
    * the LLR is cum_conv·C1 + (cum_trials − cum_conv)·C0 over the
    * [[sprtConstants]] literal integers, summed in DECIMAL(38,0) —
    * a pure integer random walk; boundary compares are integer.
    *
    * Shape: one (day, user) distinct agg, a day-keyed rollup, and
    * cumulative windows over the DAY frame (bounded by the calendar,
    * the [[activeUsers]] discipline). Returns one row per day:
    * (day, trials, conversions, cum_trials, cum_conversions, llr,
    * decision). */
  def sprtTrace(events: DataFrame, convType: String, p0: Double,
                p1: Double, alpha: Double, beta: Double): DataFrame =
    sprtTraceFromUserDays(userDayConversions(events, convType),
      p0, p1, alpha, beta)

  /** The (day, user, converted) distinct frame [[sprtTrace]] walks —
    * exposed so the streaming twin can hold exactly this as its
    * Complete-mode state and re-derive the identical trace. */
  def userDayConversions(events: DataFrame,
                         convType: String): DataFrame = events
    .select(expr("ts div 86400000000000").as("day"), col("user_id"),
      when(col("event_type") === convType, 1L).otherwise(0L).as("__c"))
    .groupBy(col("day"), col("user_id"))
    .agg(max(col("__c")).as("__conv"))

  /** [[sprtTrace]]'s walk from an already-built [[userDayConversions]]
    * frame (columns day, user_id, __conv). */
  def sprtTraceFromUserDays(ud: DataFrame, p0: Double, p1: Double,
                            alpha: Double, beta: Double): DataFrame = {
    val (c09, c19, a9, b9) = sprtConstants(p0, p1, alpha, beta)
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val wCum = Window.orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ud.groupBy(col("day"))
      .agg(count(lit(1)).as("trials"), sum(col("__conv")).as("conversions"))
      .withColumn("cum_trials", sum(col("trials")).over(wCum))
      .withColumn("cum_conversions", sum(col("conversions")).over(wCum))
      .withColumn("__llr9",
        col("cum_conversions").cast(dec) * lit(c19) +
          (col("cum_trials") - col("cum_conversions")).cast(dec) * lit(c09))
      .select(col("day"), col("trials"), col("conversions"),
        col("cum_trials"), col("cum_conversions"),
        round(col("__llr9").cast("double") / lit(1e9), 9).as("llr"),
        when(col("__llr9") >= lit(a9).cast(dec), lit("accept_h1"))
          .when(col("__llr9") <= lit(b9).cast(dec), lit("accept_h0"))
          .otherwise(lit("continue")).as("decision"))
  }

  /** Robust (median/MAD) twin of [[windowAnomaly]] — the fix for what
    * [[dispersionProfile]] diagnoses: a bursty (Fano ≫ 1) type's
    * trailing MEAN/VARIANCE baseline is dragged by the very spikes it
    * should flag, while the median/MAD baseline (Hampel's rule,
    * |x − med| ≥ k·MAD) ignores up to half the window being garbage.
    * The trailing window is a REPORT-SIZED constant (`trailing`
    * windows), so the exact medians are sorted-array element reads —
    * no sketch, no percentile UDAF.
    *
    * Cross-engine determinism is TOTAL — the decision never touches a
    * float: with integer counts, med2 = s[m]+s[m+1] (twice the
    * median), per-window deviations dev = |2x − med2| (twice the
    * absolute deviation), dev_med2 = twice their median (= 4·MAD),
    * and the flag is the pure integer compare
    * 2·dev·kDen ≥ kNum·dev_med2. Centers emit as exact binary
    * fractions (halves/quarters). Zero MAD (≥half the trailing
    * windows identical) falls back to "any deviation flags" — the
    * [[windowAnomaly]] degenerate-variance contract.
    *
    * Returns (event_type, window_start_ms, n_events, robust_center,
    * robust_scale, is_anomaly) for windows with a full trailing
    * history. */
  def windowAnomalyRobust(events: DataFrame, widthMs: Long,
                          trailing: Int, kNum: Long,
                          kDen: Long): DataFrame = {
    require(widthMs >= 1, s"widthMs must be >= 1, got $widthMs")
    require(trailing >= 2, s"trailing must be >= 2, got $trailing")
    require(kNum >= 1 && kDen >= 1, s"k must be positive, got $kNum/$kDen")
    val counts = events
      .withColumn("window_start_ms",
        (ms - pmod(ms, lit(widthMs))).cast("long"))
      .groupBy(col("event_type"), col("window_start_ms"))
      .agg(count(lit(1)).as("n_events"))
    val w = Window.partitionBy(col("event_type"))
      .orderBy(col("window_start_ms"))
      .rowsBetween(-trailing, -1)
    // twice-the-median of a sorted integer list of length n: the two
    // middle elements' sum (n even) or twice the middle (n odd)
    def med2(sorted: Column, n: Int) =
      if (n % 2 == 0)
        element_at(sorted, n / 2) + element_at(sorted, n / 2 + 1)
      else lit(2L) * element_at(sorted, n / 2 + 1)
    counts
      .withColumn("__k", count(lit(1)).over(w))
      .withColumn("__trail", sort_array(collect_list(col("n_events"))
        .over(w)))
      .filter(col("__k") === trailing)
      .withColumn("__m2", med2(col("__trail"), trailing))
      .withColumn("__devs", sort_array(transform(col("__trail"),
        e => abs(lit(2L) * e - col("__m2")))))
      .withColumn("__dm2", med2(col("__devs"), trailing))
      .withColumn("__dx", abs(lit(2L) * col("n_events") - col("__m2")))
      .select(col("event_type"), col("window_start_ms"), col("n_events"),
        (col("__m2").cast("double") / lit(2.0)).as("robust_center"),
        (col("__dm2").cast("double") / lit(4.0)).as("robust_scale"),
        when(col("__dm2") > 0L,
          lit(2L) * col("__dx") * kDen >= lit(kNum) * col("__dm2"))
          .otherwise(col("__dx") > 0L).as("is_anomaly"))
  }

  /** Daily-count overdispersion profile per event type — the Fano
    * factor (variance-to-mean ratio of the per-day counts): ≈1 is
    * Poisson-compatible, ≫1 flags bursty/clumped arrivals (bot
    * spikes, batch replays) that invalidate [[windowAnomaly]]'s
    * normal baseline and any Poisson-assuming alert threshold.
    * Absent days count as observed ZERO via the per-type day spine
    * (the [[graft.ops.Quality.chiSquare]] zero-cell lesson — a type
    * that fires one day a week is the most overdispersed, not the
    * least).
    *
    * Exact core: with k days, S = Σx, Q = Σx² (DECIMAL — a hot
    * type's x² overflows a LONG past ~3e9 events/day),
    * fano = sample_var/mean = (k·Q − S²)/((k−1)·S) — ONE division of
    * exact integers. S = 0 or k < 2 yields NULL.
    *
    * Shape: one (type, day) count agg, the bounded calendar spine
    * cross (types × days), a type-keyed rollup. Returns
    * (event_type, n_days, n_events, mean, fano). */
  def dispersionProfile(events: DataFrame): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val cells = events
      .select(col("event_type"), expr("ts div 86400000000000").as("day"))
      .groupBy(col("event_type"), col("day"))
      .agg(count(lit(1)).as("__x"))
    val spine = cells.agg(min(col("day")).as("__lo"), max(col("day")).as("__hi"))
      .select(explode(sequence(col("__lo"), col("__hi"))).as("day"))
    val types = cells.select(col("event_type")).distinct()
    types.crossJoin(broadcast(spine))
      .join(cells, Seq("event_type", "day"), "left")
      .select(col("event_type"),
        coalesce(col("__x"), lit(0L)).as("__x"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_days"), sum(col("__x")).as("n_events"),
        sum(col("__x").cast(dec) * col("__x").cast(dec)).as("__q"))
      .select(col("event_type"), col("n_days"), col("n_events"),
        when(col("n_days") > 0L,
          Portable.intRatio9(col("n_events"), col("n_days"))).as("mean"),
        when(col("n_days") >= 2L && col("n_events") > 0L,
          Portable.intRatioSigned9(
            col("n_days").cast(dec) * col("__q") -
              col("n_events").cast(dec) * col("n_events").cast(dec),
            (col("n_days") - 1L).cast(dec) * col("n_events")))
          .as("fano"))
  }

  /** Cochran–Armitage trend test (Cochran '54; Armitage '55) on the
    * daily conversion rate — "is the rate MONOTONICALLY drifting over
    * the experiment's days", the ordered-alternative complement of
    * [[sprtTrace]]'s level test (SPRT detects p ≠ p0; a novelty
    * effect that decays day over day needs the trend statistic).
    * Scores are the day indexes relative to the first day (integers,
    * so every moment is exact).
    *
    * Exact core: with A = Σs·r, B = Σs·n, C = Σs²·n, N, R all exact
    * DECIMAL(38,0), z = (A·N − R·B) / √(R·(N−R)·(C·N − B²)/N) — ONE
    * pinned double chain (IEEE sqrt — portable). Degenerate rates
    * (R = 0 or R = N) or a constant day score yield NULL z.
    *
    * Shape: the [[userDayConversions]] frame, a day-keyed rollup,
    * a 1-row moment agg. Returns ONE row:
    * (n_days, trials, successes, z). */
  def trendTest(events: DataFrame, convType: String): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val daily = userDayConversions(events, convType)
      .groupBy(col("day"))
      .agg(count(lit(1)).as("__n"), sum(col("__conv")).as("__r"))
    val d0 = daily.agg(min(col("day")).as("__d0"))
    daily.crossJoin(broadcast(d0))
      .withColumn("__s", (col("day") - col("__d0")).cast(dec))
      .agg(count(lit(1)).as("n_days"),
        sum(col("__n")).as("trials"), sum(col("__r")).as("successes"),
        sum(col("__s") * col("__r").cast(dec)).as("__a"),
        sum(col("__s") * col("__n").cast(dec)).as("__b"),
        sum(col("__s") * col("__s") * col("__n").cast(dec)).as("__c"))
      .withColumn("__varn",
        col("successes").cast(dec) *
          (col("trials") - col("successes")).cast(dec) *
          (col("__c") * col("trials").cast(dec) - col("__b") * col("__b")))
      .select(col("n_days"), col("trials"), col("successes"),
        when(col("__varn") > 0, Portable.ratio9(
          (col("__a") * col("trials").cast(dec) -
            col("successes").cast(dec) * col("__b")).cast("double") /
            sqrt(col("__varn").cast("double") /
              col("trials").cast("double")))).as("z"))
  }

  /** Bucketed interval-overlap join — the batch scale path for
    * "which A-intervals overlap which B-intervals" (sessions ×
    * incident windows, spans × campaign flights). A naive theta-join
    * on `a_start <= b_end AND b_start <= a_end` is a cartesian
    * product at the planner level; instead every interval explodes
    * onto the coarse grid cells it touches (cell width = `bucket`),
    * candidates meet by CELL EQUALITY (a plain shuffled equi-join),
    * and the exact closed-interval predicate + a distinct prune the
    * grid duplicates. Loss-free: overlapping intervals share at
    * least one cell by construction.
    *
    * Contract: `a` has exactly (a_id, a_start, a_end), `b` exactly
    * (b_id, b_start, b_end); bounds are nonneg longs (ms or ns —
    * either, both sides the same unit), closed intervals, end ≥
    * start (violations drop). Pick `bucket` near the TYPICAL
    * interval length: each interval then touches O(1) cells, so the
    * join is linear in candidates; a hot cell (many long overlapping
    * intervals) is the documented skew knob — raise `bucket` or
    * pre-split the long tail.
    *
    * Returns the exact overlap pairs:
    * (a_id, a_start, a_end, b_id, b_start, b_end). */
  def overlapJoin(a: DataFrame, b: DataFrame, bucket: Long): DataFrame = {
    require(bucket >= 1, s"bucket must be >= 1, got $bucket")
    def cells(df: DataFrame, id: String, s: String, e: String) = df
      .select(col(id), col(s), col(e))
      .filter(col(e) >= col(s) && col(s) >= 0L)
      .withColumn("__cell",
        explode(sequence(expr(s"$s div $bucket"), expr(s"$e div $bucket"))))
    cells(a, "a_id", "a_start", "a_end")
      .join(cells(b, "b_id", "b_start", "b_end"), Seq("__cell"))
      .filter(col("a_start") <= col("b_end") &&
        col("b_start") <= col("a_end"))
      .select(col("a_id"), col("a_start"), col("a_end"),
        col("b_id"), col("b_start"), col("b_end"))
      .distinct()
  }

  /** Two-proportion A/B z-test over hash-assigned user arms — the
    * experiment readout: users split into arms by keyed hash (the
    * [[graft.ops.Portable]] assignment an experimentation system
    * actually uses — sticky, uniform, reproducible), a user converts
    * iff they have ≥1 `convType` event, and the pooled two-proportion
    * z-statistic prices the rate difference. On a hash split of
    * UNTREATED data this is the A/A null check: |z| should exceed 1.96
    * ~5% of the time, so a "significant" A/A readout flags a broken
    * assignment or metric, not a discovery.
    *
    * Determinism: arms and conversions are exact integer counts; the
    * rates, pooled rate, standard error (IEEE sqrt is correctly
    * rounded — portable) and z form one pinned double chain, 9 dp.
    * Zero standard error (pooled rate 0 or 1, or an empty arm) yields
    * NULL z. Shape: one distinct-user agg keyed by user (conversion =
    * max over the user's events), one 2-row rollup. Returns ONE row:
    * (n_a, n_b, conv_a, conv_b, rate_a, rate_b, z, significant), with
    * significant = |z| ≥ 1.96 (two-sided 5%). */
  def abTest(events: DataFrame, convType: String,
             salt: String): DataFrame = {
    val arm = pmod(Portable.seededHash(lit(salt), col("user_id")), lit(2L))
    val users = events
      .groupBy(col("user_id"))
      .agg(max(when(col("event_type") === convType, 1L).otherwise(0L))
        .as("__conv"))
      .withColumn("__arm", arm)
    val rolled = users.groupBy(col("__arm"))
      .agg(count(lit(1)).as("__n"), sum(col("__conv")).as("__c"))
    val wide = rolled.agg(
      sum(when(col("__arm") === 0L, col("__n")).otherwise(0L)).as("n_a"),
      sum(when(col("__arm") === 0L, col("__c")).otherwise(0L)).as("conv_a"),
      sum(when(col("__arm") === 1L, col("__n")).otherwise(0L)).as("n_b"),
      sum(when(col("__arm") === 1L, col("__c")).otherwise(0L)).as("conv_b"))
    val pA = col("conv_a").cast("double") / col("n_a").cast("double")
    val pB = col("conv_b").cast("double") / col("n_b").cast("double")
    val pp = (col("conv_a") + col("conv_b")).cast("double") /
      (col("n_a") + col("n_b")).cast("double")
    val se = sqrt(pp * (lit(1.0) - pp) *
      (lit(1.0) / col("n_a").cast("double") +
        lit(1.0) / col("n_b").cast("double")))
    // ANSI-safe: every division sits behind a short-circuiting n > 0
    // guard (Spark's And evaluates lazily), so an empty arm yields the
    // documented NULLs instead of a DIVIDE_BY_ZERO
    wide
      .withColumn("rate_a", when(col("n_a") > 0,
        Portable.intRatio9(col("conv_a"), col("n_a"))))
      .withColumn("rate_b", when(col("n_b") > 0,
        Portable.intRatio9(col("conv_b"), col("n_b"))))
      .withColumn("z", when(col("n_a") > 0 && col("n_b") > 0 && se > 0.0,
        Portable.ratio9((pA - pB) / se)))
      .withColumn("significant",
        coalesce(abs(col("z")) >= 1.96, lit(false)))
  }

  /** Next-event prediction evaluation — the [[transitionMatrix]]
    * closed into a measured model, the way [[graft.ops.RecEval]]
    * closes the co-occurrence trainer: train a first-order Markov
    * predictor (argmax over outgoing transition counts) on the TRAIN
    * fold of users, then score every consecutive (prev → actual)
    * transition of the EVAL fold against the prediction. The output
    * hit-rate-by-state is the baseline number any sequence model must
    * beat before it earns cluster time.
    *
    * Leakage posture: the fold is a keyed hash of the USER (the q169
    * discipline — a user's own transitions never inform their
    * predictions). Determinism: event order per user is (ts,
    * event_id); the argmax ties to the smaller event type. Eval states
    * the trainer never saw predict NULL and score as misses — the
    * honest accounting.
    *
    * Shape: transition counts aggregate to a states² frame (tiny —
    * broadcast into the eval join); eval pair extraction is one
    * user-partitioned lag window; the rollup keys on the prev state.
    * Returns (prev, predicted, n_transitions, n_hits, hit_rate). */
  def nextEventEval(events: DataFrame, folds: Int,
                    salt: String): DataFrame = {
    require(folds >= 2, s"folds must be >= 2, got $folds")
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val fold = pmod(Portable.seededHash(lit(salt), col("user_id")),
      lit(folds.toLong))
    val pairs = events
      .withColumn("__fold", fold)
      .withColumn("prev", lag(col("event_type"), 1).over(w))
      .filter(col("prev").isNotNull)
      .select(col("__fold"), col("prev"),
        col("event_type").as("next"))
    val model = pairs.filter(col("__fold") =!= 0L)
      .groupBy(col("prev"), col("next")).agg(count(lit(1)).as("__c"))
      .groupBy(col("prev"))
      .agg(min_by(col("next"), struct(-col("__c"), col("next")))
        .as("predicted"))
    pairs.filter(col("__fold") === 0L)
      .join(broadcast(model), Seq("prev"), "left")
      .groupBy(col("prev"), col("predicted"))
      .agg(count(lit(1)).as("n_transitions"),
        sum(when(col("next") === col("predicted"), 1L).otherwise(0L))
          .as("n_hits"))
      .withColumn("hit_rate",
        Portable.intRatio9(col("n_hits"), col("n_transitions")))
  }

  /** Incremental [[scd2]] maintenance — fold a NEW batch of events
    * into an existing SCD2 table without re-reading the history (the
    * MERGE a daily dimension refresh runs; at 100 TB the event log is
    * append-only and the dimension is rebuilt-from-scratch exactly
    * never). Contract: per key, every new event's timestamp is ≥ the
    * open version's from ms-floor (the append-only split a watermark
    * guarantees); under it the result is BIT-IDENTICAL to running
    * [[scd2]] over the concatenated log — the law `scd2(all) =
    * scd2Merge(scd2(old), new)` is spec-checked on seeded streams and
    * oracle-checked (q183 merges a time-split and hashes against the
    * full-recompute SQL).
    *
    * Mechanics: [[scd2]] runs on the NEW batch alone; per key the
    * batch's first version either CONTINUES the open version (equal
    * attr — the open row keeps its from, inherits the first new
    * version's to/current, and the batch row drops) or CLOSES it
    * (attr change — the open row closes at the first new from);
    * surviving batch versions renumber onto the open version's count.
    * Keys absent from one side pass through unchanged.
    *
    * Shape: the batch-side [[scd2]] windows are batch-sized; the
    * stitch is two key-equi broadcast-or-hash joins (open rows × the
    * batch's ≤1-per-key first versions) — history rows that aren't
    * open are never touched, which is the whole point. */
  def scd2Merge(current: DataFrame, events: DataFrame, keyCol: String,
                attrCol: String): DataFrame = {
    val nh = scd2(events, keyCol, attrCol)
    val first = nh.filter(col("version") === 1L)
      .select(col(keyCol), col("attr").as("__first_attr"),
        col("from_ms").as("__first_from"),
        col("to_ms").as("__first_to"))
    val open = current.filter(col("is_current"))
      .select(col(keyCol), col("version").as("__cur_v"),
        col("attr").as("__cur_attr"), col("from_ms").as("__cur_from"))
    // untouched history: closed versions, plus open versions of keys
    // with no new events
    val closed = current.filter(!col("is_current"))
    val openKept = current.filter(col("is_current"))
      .join(first.select(col(keyCol)), Seq(keyCol), "left_anti")
    // open versions revised by the batch: continue or close
    val openRevised = open.join(first, Seq(keyCol))
      .select(col(keyCol), col("__cur_v").as("version"),
        col("__cur_attr").as("attr"), col("__cur_from").as("from_ms"),
        when(col("__first_attr") === col("__cur_attr"), col("__first_to"))
          .otherwise(col("__first_from")).as("to_ms"),
        (col("__first_attr") === col("__cur_attr") &&
          col("__first_to").isNull).as("is_current"))
    // batch versions: drop a continuing v1, renumber onto the open
    // count — the offset is a PER-KEY property (did the batch's first
    // version continue the open one?), joined in once per key
    val batchRows = nh.join(
        open.select(col(keyCol), col("__cur_v"), col("__cur_attr"))
          .join(first.select(col(keyCol), col("__first_attr")),
            Seq(keyCol))
          .select(col(keyCol), col("__cur_v"),
            (col("__first_attr") === col("__cur_attr")).as("__cont")),
        Seq(keyCol), "left")
      .filter(col("__cur_v").isNull ||
        col("version") =!= 1L || !col("__cont"))
      .withColumn("version", col("version") +
        when(col("__cur_v").isNull, lit(0L))
          .when(col("__cont"), col("__cur_v") - 1L)
          .otherwise(col("__cur_v")))
      .select(col(keyCol), col("version"), col("attr"), col("from_ms"),
        col("to_ms"), col("is_current"))
    closed.unionByName(openKept).unionByName(openRevised)
      .unionByName(batchRows)
  }

  /** M7-shaped run table: one "run" per event_type with its objective
    * (avg value) and start time, plus the dense `iteration` index in
    * start-time order (`tuning_analysis.py:30-41`). */
  def runTable(events: DataFrame): DataFrame = {
    val runs = events.groupBy(col("event_type").as("job_name"))
      .agg(Portable.intRatioSigned9(
          sum(floor(col("value") * lit(100) + lit(0.5)).cast("long")),
          count(lit(1)).cast("decimal(38,0)") * lit(100L))
          .as("objective"),
        expr("min(ts) div 1000000").as("start_ms"))
    // tiny table (one row per event type) — single-partition window is fine
    Similarity.withIteration(runs, "start_ms")
      .withColumn("iteration", col("iteration").cast("long"))
  }

  /** Rolling active-user curves — the product-analytics growth
    * accounting every event stream gets asked for: per calendar day of
    * the observed range, DAU (distinct users that day), WAU (distinct
    * users in the trailing `windowDays`-day window), stickiness =
    * DAU/WAU (the DAU/MAU-style engagement ratio), plus the growth
    * ledger: new_users (first-ever-seen that day) and cum_users (the
    * running distinct-user total — exact, because a user is "new"
    * exactly once).
    *
    * Scale shape: the corpus collapses to the DISTINCT (user, day)
    * frame in one shuffle; the trailing window is computed by
    * exploding each user-day to the `windowDays` report days it
    * supports and re-distincting — LINEAR in user-days (never the
    * day×user-day range join, which is the same O(V²) trap as q184's
    * interval lookup). The day spine is a sequence over [min, max]
    * day; day-frame windows are bounded by the calendar. Days with an
    * empty trailing window report stickiness NULL.
    *
    * Returns (day, dau, wau, stickiness, new_users, cum_users), day =
    * epoch day (ts ns / 86400e9). */
  def activeUsers(events: DataFrame, windowDays: Int): DataFrame = {
    require(windowDays >= 1, s"windowDays must be >= 1, got $windowDays")
    // integer `div`, not `/`: double division of an epoch-ns LONG
    // (~1.7e18 > 2^53) rounds the dividend before dividing
    val ud = events
      .select(col("user_id"),
        expr("ts div 86400000000000").as("day"))
      .distinct()
    val spine = ud.agg(min(col("day")).as("__lo"), max(col("day")).as("__hi"))
      .select(explode(sequence(col("__lo"), col("__hi"))).as("day"))
    val dau = ud.groupBy(col("day")).agg(count(lit(1)).as("dau"))
    val wau = ud
      .select(col("user_id"),
        explode(sequence(col("day"), col("day") + windowDays - 1))
          .as("day"))
      .distinct()
      .groupBy(col("day")).agg(count(lit(1)).as("wau"))
    val nu = ud.groupBy(col("user_id")).agg(min(col("day")).as("day"))
      .groupBy(col("day")).agg(count(lit(1)).as("new_users"))
    // day-frame window: bounded by the calendar span, not the corpus
    val wCum = Window.orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    spine
      .join(dau, Seq("day"), "left")
      .join(wau, Seq("day"), "left")
      .join(nu, Seq("day"), "left")
      .select(col("day"),
        coalesce(col("dau"), lit(0L)).as("dau"),
        coalesce(col("wau"), lit(0L)).as("wau"),
        when(coalesce(col("wau"), lit(0L)) > 0,
          Portable.intRatio9(coalesce(col("dau"), lit(0L)), col("wau")))
          .as("stickiness"),
        coalesce(col("new_users"), lit(0L)).as("new_users"))
      .withColumn("cum_users", sum(col("new_users")).over(wCum))
  }

  /** CUPED variance-reduced A/B readout (Deng, Xu, Kohavi & Walker,
    * WSDM'13 — the industry-standard experiment sensitivity boost):
    * each user's post-period metric y is adjusted by its pre-period
    * twin x, y′ = y − θ(x − x̄), with θ = Cov(x, y)/Var(x) estimated
    * POOLED across arms (assignment is independent of the pre-period,
    * so pooling is unbiased and uses all users). The adjusted means
    * shift by arm imbalance in x only, and Var(y′) = Var(y)(1 − ρ²) —
    * the test gets ρ² of its sample size back for free. Here x/y =
    * the user's `metricType` event count strictly before / at-or-after
    * `splitNs` (epoch-ns), arms the [[abTest]] sticky hash.
    *
    * Exactness: one user-keyed count pass, then ONE pooled+per-arm
    * moment agg — counts and cross-products are exact integers
    * (DECIMAL-summed), every reported number is a pinned double chain
    * over those sums: θ = (nΣxy − ΣxΣy)/(nΣx² − (Σx)²), per-arm
    * adjusted variance via the same exact central-moment numerators,
    * z on the adjusted difference. Degenerate pre-period (Var(x) = 0)
    * yields NULL θ and NULL adjusted columns — the honest "CUPED
    * cannot help here", never a divide-by-zero.
    *
    * Returns one row: (n_a, n_b, theta, mean_a, mean_b, adj_a, adj_b,
    * var_reduction, z_adj). Shape: corpus → user frame (one shuffle,
    * map-side combined) → 1-row agg; nothing user-sized crosses the
    * driver. */
  /** Kaplan–Meier product-limit survival curve (Kaplan & Meier, JASA
    * 1958) over user lifetimes — the censoring-aware retention report
    * a plain "fraction still active after t days" gets WRONG: users
    * still active at the end of the observation window haven't
    * churned, they're right-censored, and dropping or death-marking
    * them biases the curve down.
    *
    * Lifetime model: per user, duration = last-active period −
    * first-seen period (periods of `periodNs` from the epoch-ns
    * stamps — pick the granularity to match the churn dynamics; a
    * corpus where everyone is daily-active needs hours, not days). A
    * user whose last activity falls within the final
    * `censorMarginPeriods` periods of the corpus is CENSORED at its
    * duration (still alive when observation stopped); anyone who went
    * quiet earlier is an observed churn event at its duration. At
    * each distinct duration t: at_risk n_t = #{duration ≥ t} (by
    * convention both deaths and censorings at t count at risk at t),
    * deaths d_t, and the KM step S(t) = Π_{u ≤ t} (1 − d_u/n_u), with
    * the Greenwood (1926) standard error S(t)·√(Σ d_u/(n_u(n_u −
    * d_u))).
    *
    * Cross-engine numerics: each factor enters as the per-term
    * integerized log floor(ln((n−d)/n)·1e9 + ½) summed in LONG (sum
    * order cannot move the result), exponentiated ONCE on an
    * identical double; Greenwood terms integerize the same way. A
    * time with d_t = n_t sends survival exactly to 0 (and SE to NULL)
    * from that point on — flagged through a cumulative max, never a
    * ln(0).
    *
    * Shape at scale: one user-keyed agg (map-side combined), then the
    * duration histogram — bounded by the calendar span, not the
    * corpus — carries every window. The global horizon is a 1-row
    * broadcast. Returns (t, at_risk, deaths, censored, survival,
    * se) ordered by t. */
  def survivalCurve(events: DataFrame, periodNs: Long,
                    censorMarginPeriods: Int): DataFrame = {
    require(periodNs >= 1L, s"periodNs must be >= 1, got $periodNs")
    require(censorMarginPeriods >= 0,
      s"censorMarginPeriods must be >= 0, got $censorMarginPeriods")
    val users = events
      .select(col("user_id"), expr(s"ts div ${periodNs}L").as("__p"))
      .groupBy(col("user_id"))
      .agg(min(col("__p")).as("__first"), max(col("__p")).as("__last"))
    val horizon = users.agg(max(col("__last")).as("__hi"))
    val lives = users.crossJoin(broadcast(horizon))
      .select((col("__last") - col("__first")).as("t"),
        (col("__last") <= col("__hi") - censorMarginPeriods.toLong)
          .as("__died"))
    val hist = lives.groupBy(col("t"))
      .agg(sum(when(col("__died"), 1L).otherwise(0L)).as("deaths"),
        sum(when(col("__died"), 0L).otherwise(1L)).as("censored"))
    // duration-histogram windows: bounded by the calendar span
    val wPrev = Window.orderBy(col("t"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val wCum = Window.orderBy(col("t"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // at_risk = total − (# with duration < t); total comes from a
    // 1-row broadcast (exact, no second scan of the corpus: `hist`
    // is already the tiny histogram).
    val total = hist.agg(sum(col("deaths") + col("censored")).as("__n"))
    val risked = hist.crossJoin(broadcast(total))
      .withColumn("__before",
        coalesce(sum(col("deaths") + col("censored")).over(wPrev),
          lit(0L)))
      .withColumn("at_risk", col("__n") - col("__before"))
    val lnTerm = when(col("deaths") < col("at_risk"),
      floor(log((col("at_risk") - col("deaths")).cast("double") /
        col("at_risk").cast("double")) * 1e9 + 0.5).cast("long"))
    val gwTerm = when(col("deaths") < col("at_risk"),
      floor(col("deaths").cast("double") /
        (col("at_risk").cast("double") *
          (col("at_risk") - col("deaths")).cast("double")) * 1e9 + 0.5)
        .cast("long"))
    risked
      .withColumn("__lnS", sum(lnTerm).over(wCum))
      .withColumn("__gw", sum(gwTerm).over(wCum))
      .withColumn("__dead",
        max(when(col("deaths") === col("at_risk"), 1).otherwise(0))
          .over(wCum))
      .select(col("t"), col("at_risk"), col("deaths"), col("censored"),
        when(col("__dead") === 1, lit(0.0))
          .otherwise(
            Portable.ratio9(exp(col("__lnS").cast("double") / 1e9)))
          .as("survival"),
        when(col("__dead") === 0,
          Portable.ratio9(exp(col("__lnS").cast("double") / 1e9) *
            sqrt(col("__gw").cast("double") / 1e9))).as("se"))
      .orderBy(col("t"))
  }

  def cuped(events: DataFrame, metricType: String, salt: String,
            splitNs: Long): DataFrame = {
    val arm = pmod(Portable.seededHash(lit(salt), col("user_id")), lit(2L))
    val isM = col("event_type") === metricType
    val users = events
      .groupBy(col("user_id"))
      .agg(sum(when(isM && col("ts") < splitNs, 1L).otherwise(0L))
          .as("__x"),
        sum(when(isM && col("ts") >= splitNs, 1L).otherwise(0L))
          .as("__y"))
      .withColumn("__arm", arm)
    def dsum(c: Column) = sum(c.cast("decimal(38,0)"))
    def armed(a: Int, c: Column) =
      sum(when(col("__arm") === a.toLong, c).otherwise(lit(0L))
        .cast("decimal(38,0)"))
    val m = users.agg(
      count(lit(1)).as("n"), sum(col("__x")).as("sx"),
      sum(col("__y")).as("sy"),
      dsum(col("__x") * col("__x")).as("sxx"),
      dsum(col("__x") * col("__y")).as("sxy"),
      dsum(col("__y") * col("__y")).as("syy"),
      sum(when(col("__arm") === 0L, 1L).otherwise(0L)).as("n_a"),
      sum(when(col("__arm") === 1L, 1L).otherwise(0L)).as("n_b"),
      armed(0, col("__x")).as("sxa"), armed(0, col("__y")).as("sya"),
      armed(1, col("__x")).as("sxb"), armed(1, col("__y")).as("syb"),
      armed(0, col("__x") * col("__x")).as("sxxa"),
      armed(0, col("__x") * col("__y")).as("sxya"),
      armed(0, col("__y") * col("__y")).as("syya"),
      armed(1, col("__x") * col("__x")).as("sxxb"),
      armed(1, col("__x") * col("__y")).as("sxyb"),
      armed(1, col("__y") * col("__y")).as("syyb"))
    // exact decimal numerators, ONE cast to double each
    def d(c: Column) = c.cast("decimal(38,0)")
    // ANSI note: inner divisions are NULL-safe (divide by the
    // denominator only when positive, else by NULL → NULL) because
    // codegen common-subexpression elimination can hoist a shared
    // division OUT of its when() guard — the outer when()s still
    // define which outputs are non-NULL
    def nz(c: Column) = when(c > 0.0, c)
    val thN = (d(col("n")) * col("sxy") - d(col("sx")) * d(col("sy")))
      .cast("double")
    val thD = (d(col("n")) * col("sxx") - d(col("sx")) * d(col("sx")))
      .cast("double")
    val vyP = (d(col("n")) * col("syy") - d(col("sy")) * d(col("sy")))
      .cast("double")
    val theta = thN / nz(thD)
    def mean(s: Column, n: Column) =
      s.cast("double") / nz(n.cast("double"))
    val xbar = mean(col("sx"), col("n"))
    def adj(sy: Column, sx: Column, n: Column) =
      mean(sy, n) - theta * (mean(sx, n) - xbar)
    // per-arm central moments of the adjusted score (the x̄ shift is
    // constant within an experiment, so it drops out of the variance)
    def cm(n: Column, spq: Column, sp: Column, sq: Column) =
      (d(n) * spq - d(sp) * d(sq)).cast("double")
    def varAdj(n: Column, sxx: Column, sxy: Column, syy: Column,
               sx: Column, sy: Column) =
      (cm(n, syy, sy, sy) - lit(2.0) * theta * cm(n, sxy, sx, sy) +
        theta * theta * cm(n, sxx, sx, sx)) /
        nz(n.cast("double") * n.cast("double"))
    val vA = varAdj(col("n_a"), col("sxxa"), col("sxya"), col("syya"),
      col("sxa"), col("sya"))
    val vB = varAdj(col("n_b"), col("sxxb"), col("sxyb"), col("syyb"),
      col("sxb"), col("syb"))
    val seAdj = sqrt(vA / nz(col("n_a").cast("double")) +
      vB / nz(col("n_b").cast("double")))
    val ok = col("n") > 0 && thD > 0.0
    m.select(col("n_a"), col("n_b"),
      when(ok, Portable.intRatioSigned9(
        d(col("n")) * col("sxy") - d(col("sx")) * d(col("sy")),
        d(col("n")) * col("sxx") - d(col("sx")) * d(col("sx"))))
        .as("theta"),
      when(col("n_a") > 0,
        Portable.intRatioSigned9(col("sya"), col("n_a"))).as("mean_a"),
      when(col("n_b") > 0,
        Portable.intRatioSigned9(col("syb"), col("n_b"))).as("mean_b"),
      when(ok && col("n_a") > 0,
        Portable.ratio9(adj(col("sya"), col("sxa"), col("n_a"))))
        .as("adj_a"),
      when(ok && col("n_b") > 0,
        Portable.ratio9(adj(col("syb"), col("sxb"), col("n_b"))))
        .as("adj_b"),
      when(ok && vyP > 0.0,
        Portable.ratio9(thN * thN / nz(thD * vyP))).as("var_reduction"),
      when(ok && col("n_a") > 0 && col("n_b") > 0 && seAdj > 0.0,
        Portable.ratio9((adj(col("sya"), col("sxa"), col("n_a")) -
          adj(col("syb"), col("sxb"), col("n_b"))) / seAdj))
        .as("z_adj"))
  }
}

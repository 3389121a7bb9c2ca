package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoder, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming counterparts of the batch event analytics
  * ([[graft.ops.Events]]). The reference has no streaming surface
  * (SURVEY.md §2.8) — these extend the engine per the north star, and
  * every transform here is readStream/writeStream-agnostic: the same
  * function works on a batch DataFrame (specs exercise both).
  *
  * Scale posture: watermarks bound state; windowed aggs shuffle once on
  * (window, key); `session_window` and `mapGroupsWithState` keep state
  * per key — at 1000 executors the state store partitions with the
  * shuffle, so per-key state must stay small (counters, not event
  * buffers).
  */
object StreamOps {

  /** Event-time column from the epoch-ns LONG `ts` (micros precision —
    * Spark's native timestamp resolution). */
  def withEventTime(events: DataFrame): DataFrame =
    events.withColumn("event_time", timestamp_micros(expr("ts div 1000")))

  /** Tumbling-window counts per event_type with a watermark: late events
    * beyond `watermark` are dropped, which is what bounds state. */
  def windowedCounts(events: DataFrame, windowDur: String,
                     watermark: String): DataFrame =
    withEventTime(events)
      .withWatermark("event_time", watermark)
      .groupBy(window(col("event_time"), windowDur), col("event_type"))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("sum_value"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n_events"), col("sum_value"))

  /** Gap-based sessions via the built-in `session_window` — the streaming
    * twin of [[graft.ops.Events.sessionize]]. */
  def sessionWindows(events: DataFrame, gap: String,
                     watermark: String): DataFrame =
    withEventTime(events)
      .withWatermark("event_time", watermark)
      .groupBy(session_window(col("event_time"), gap), col("user_id"))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("sum_value"))
      .select(col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("user_id"), col("n_events"), col("sum_value"))

  /** Per-user running aggregate state. */
  case class UserState(user_id: Long, n_events: Long, sum_value: Double)

  /** Custom keyed state via `mapGroupsWithState`: a running per-user
    * (count, sum) that survives across micro-batches — the
    * minimal-state-per-key pattern (counters only, never buffered
    * events). Emits the updated state for each key seen in the batch. */
  def runningUserState(events: Dataset[(Long, Double)]): Dataset[UserState] = {
    val spark = events.sparkSession
    import spark.implicits._
    events.groupByKey(_._1)
      .mapGroupsWithState[UserState, UserState](GroupStateTimeout.NoTimeout) {
        (user: Long, rows: Iterator[(Long, Double)], state: GroupState[UserState]) =>
          val prev = state.getOption.getOrElse(UserState(user, 0L, 0.0))
          var n = prev.n_events
          var s = prev.sum_value
          rows.foreach { r => n += 1; s += r._2 }
          val next = UserState(user, n, s)
          state.update(next)
          next
      }
  }

  /** One [[anomalyStream]] report row — the field-for-field streaming
    * twin of [[graft.ops.Events.windowAnomaly]]'s output (zscore None
    * where the batch form is NULL). */
  case class AnomRow(event_type: String, window_start_ms: Long,
                     n_events: Long, trail_mean: Double, trail_var: Double,
                     zscore: Option[Double], is_anomaly: Boolean)

  /** Keyed anomaly state: counts of OPEN windows (not yet past the
    * watermark) and the trailing ring of closed-window counts. Both
    * bounded: open windows by the watermark delay / window width,
    * the ring by `trailing` — counters only, never buffered events. */
  case class AnomState(open: Seq[(Long, Long)], hist: Seq[Long])

  /** [[anomalyStream]] input row (named fields so the typed conversion
    * resolves against the projection). */
  case class AnomIn(k: String, w: Long, event_time: java.sql.Timestamp)

  /** Streaming twin of [[graft.ops.Events.windowAnomaly]]: per event
    * type, tumbling-window counts z-scored against the trailing
    * `trailing` CLOSED windows, emitted as each window closes (its end
    * passes the watermark). Same exact-integer moment arithmetic and
    * the same zero-variance fallback as the batch form, so on in-order
    * input the emitted rows equal the batch report (StreamOpsSpec pins
    * it); same sparse-window semantics too — the baseline is the
    * previous `trailing` OBSERVED windows.
    *
    * State per key: open-window counters + a `trailing`-length ring —
    * O(trailing + watermark/width) longs, never events. Windows close
    * on the next batch touching the key or on an event-time timeout
    * (set to the earliest open window's end), so a key that goes quiet
    * still flushes. Streaming input only — on a batch frame use the
    * batch twin (a batch run never advances the watermark, so nothing
    * would close). */
  def anomalyStream(events: DataFrame, widthMs: Long, trailing: Int,
                    zThresh: Double, watermark: String): Dataset[AnomRow] = {
    require(zThresh > 0, s"zThresh must be > 0, got $zThresh")
    val spark = events.sparkSession
    import spark.implicits._
    val k = trailing.toLong
    def r9(x: Double): Double =
      BigDecimal(x).setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
    closedWindows(events, widthMs, trailing, watermark) { (key, w, c, hist) =>
      val s = hist.sum
      val ss = hist.map(x => x * x).sum
      val varNum = ss * k - s * s
      val mean = s.toDouble / k
      val variance = varNum.toDouble / (k * k)
      val zOpt = if (varNum > 0)
        Some((c.toDouble - mean) / math.sqrt(variance)) else None
      val anom = zOpt.map(z => math.abs(z) >= zThresh)
        .getOrElse(c * k != s)
      AnomRow(key, w, c, r9(mean), r9(variance), zOpt.map(r9), anom)
    }
  }

  case class RobustAnomRow(event_type: String, window_start_ms: Long,
                           n_events: Long, robust_center: Double,
                           robust_scale: Double, is_anomaly: Boolean)

  /** Streaming twin of [[graft.ops.Events.windowAnomalyRobust]] — the
    * Hampel median/MAD monitor emitting as windows pass the
    * watermark, with the SAME state discipline as [[anomalyStream]]
    * (open window counts + the last `trailing` closed counts per
    * type; everything else evicts). The decision is the identical
    * pure-integer compare — twice-the-median element reads over the
    * sorted trail — so a batch replay of the same events produces
    * row-identical flags (the spec law). `trailing` must be even
    * (the fixture constant is; the med2 form assumes it). */
  def robustAnomalyStream(events: DataFrame, widthMs: Long,
                          trailing: Int, kNum: Long, kDen: Long,
                          watermark: String): Dataset[RobustAnomRow] = {
    require(trailing % 2 == 0, s"trailing must be even, got $trailing")
    require(kNum >= 1 && kDen >= 1, s"k must be positive, got $kNum/$kDen")
    val spark = events.sparkSession
    import spark.implicits._
    def med2(sorted: IndexedSeq[Long]): Long =
      sorted(trailing / 2 - 1) + sorted(trailing / 2)
    closedWindows(events, widthMs, trailing, watermark) { (key, w, c, hist) =>
      val sorted = hist.sorted.toIndexedSeq
      val m2 = med2(sorted)
      val devs = sorted.map(x => math.abs(2L * x - m2)).sorted
      val dm2 = med2(devs)
      val dx = math.abs(2L * c - m2)
      val anom = if (dm2 > 0L) 2L * dx * kDen >= kNum * dm2
                 else dx > 0L
      RobustAnomRow(key, w, c, m2.toDouble / 2.0, dm2.toDouble / 4.0, anom)
    }
  }

  /** The state machine both anomaly streams share: per event type,
    * `widthMs` tumbling-window counts stay open until the window's end
    * passes the watermark, then close in window order; each closed
    * window is scored by `score(type, window start, count, trail)` once
    * the trail holds the previous `trailing` closed counts, and joins
    * the trail. Windows close on the next batch touching the key or on
    * an event-time timeout set to the earliest open window's end. */
  private def closedWindows[R: Encoder](events: DataFrame, widthMs: Long,
      trailing: Int, watermark: String)(
      score: (String, Long, Long, Seq[Long]) => R): Dataset[R] = {
    require(widthMs >= 1, s"widthMs must be >= 1, got $widthMs")
    require(trailing >= 2, s"trailing must be >= 2, got $trailing")
    val spark = events.sparkSession
    import spark.implicits._
    withEventTime(events)
      .withWatermark("event_time", watermark)
      .select(col("event_type").as("k"),
        expr(s"""(((ts - pmod(ts, 1000000)) div 1000000)
                 | - pmod((ts - pmod(ts, 1000000)) div 1000000, $widthMs))
                 |""".stripMargin).cast("long").as("w"),
        col("event_time"))
      .as[AnomIn]
      .groupByKey(_.k)
      .flatMapGroupsWithState[AnomState, R](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (key, rows, state) =>
          val st = state.getOption.getOrElse(AnomState(Nil, Nil))
          val open = collection.mutable.Map(st.open: _*)
          rows.foreach { r => open(r.w) = open.getOrElse(r.w, 0L) + 1L }
          val wm = state.getCurrentWatermarkMs()
          val (closed, stillOpen) = open.toSeq.partition(_._1 + widthMs <= wm)
          var hist = st.hist
          val out = closed.sortBy(_._1).flatMap { case (w, c) =>
            val row =
              if (hist.size == trailing) Some(score(key, w, c, hist)) else None
            hist = (hist :+ c).takeRight(trailing)
            row
          }
          state.update(AnomState(stillOpen.sortBy(_._1), hist))
          if (stillOpen.nonEmpty)
            state.setTimeoutTimestamp(
              math.max(stillOpen.map(_._1).min + widthMs, wm + 1))
          out.iterator
      }
  }

  /** Streaming exact dedup — the streaming twin of
    * [[graft.ops.Dedup.dedupExact]]: drop any row whose content hash was
    * already seen, with state bounded by the watermark
    * (`dropDuplicatesWithinWatermark`: a duplicate arriving within the
    * watermark of its first occurrence is dropped; state for older keys
    * is evicted). On a batch frame the operator is unsupported by Spark,
    * so this falls back to plain `dropDuplicates` on the hash (unbounded
    * "watermark" — same result on finite input; specs exercise both).
    * At scale the state store partitions on the hash — uniform by
    * construction, no skew. */
  def dedupStream(events: DataFrame, contentCol: String,
                  watermark: String): DataFrame = {
    val hashed = withEventTime(events)
      .withColumn("content_hash", md5(col(contentCol).cast("binary")))
    if (hashed.isStreaming)
      hashed.withWatermark("event_time", watermark)
        .dropDuplicatesWithinWatermark("content_hash")
    else hashed.dropDuplicates("content_hash")
  }

  /** One emitted [[scd2Stream]] row — field-for-field the CLOSED-row
    * shape of [[graft.ops.Events.scd2]]'s output. */
  case class Scd2Out(user_id: Long, version: Long, attr: String,
                     from_ms: Long, to_ms: Option[Long],
                     is_current: Boolean)

  /** Per-key [[scd2Stream]] state: the OPEN version — three scalars,
    * never buffered events. */
  case class Scd2St(version: Long, attr: String, fromMs: Long)

  /** Streaming twin of [[graft.ops.Events.scd2]]: maintain each key's
    * type-2 change history continuously, emitting a version's row the
    * moment it CLOSES (the attribute changes) — append semantics, so
    * the sink accumulates exactly the batch twin's `is_current = false`
    * rows while each key's open version lives in the state store
    * (StreamOpsSpec pins the equality on a replayed stream). The
    * always-revisable "current" row is precisely what a streaming sink
    * cannot retract — closing rows are the append-correct projection,
    * and the open tail is a stateful-store lookup, not a sink row.
    *
    * Ordering contract: per key, events arrive in (ts, event_id) order
    * ACROSS micro-batches ([[graft.ops.Events.scd2Merge]]'s append-only
    * contract); within a batch the group sorts, so intra-batch disorder
    * is absorbed. State per key is three scalars; the shuffle keys on
    * the user — the same posture as [[runningUserState]]. */
  def scd2Stream(events: DataFrame): Dataset[Scd2Out] = {
    val spark = events.sparkSession
    import spark.implicits._
    events.select(col("user_id").cast("long"), col("ts").cast("long"),
        col("event_id").cast("long"), col("event_type").cast("string"))
      .as[(Long, Long, Long, String)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[Scd2St, Scd2Out](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (user: Long, rows: Iterator[(Long, Long, Long, String)],
         state: GroupState[Scd2St]) =>
          val sorted = rows.toSeq.sortBy(r => (r._2, r._3))
          var cur = state.getOption
          val out = Seq.newBuilder[Scd2Out]
          sorted.foreach { case (_, ts, _, attr) =>
            val fromMs = Math.floorDiv(ts, 1000000L)
            cur match {
              case None =>
                cur = Some(Scd2St(1L, attr, fromMs))
              case Some(st) if st.attr != attr =>
                out += Scd2Out(user, st.version, st.attr, st.fromMs,
                  Some(fromMs), is_current = false)
                cur = Some(Scd2St(st.version + 1L, attr, fromMs))
              case _ => ()
            }
          }
          cur.foreach(state.update)
          out.result().iterator
      }
  }

  /** Streaming twin of [[graft.ops.Dedup.dedupExactAgainst]]: rows of
    * a document STREAM whose content hash appears in the STATIC
    * historical index are dropped via a stream-static LEFT ANTI join —
    * the continuous-ingest version of the daily batch-vs-corpus dedup.
    * `existingHashes` is the stored index frame (one `content_hash`
    * column — [[graft.ops.Dedup.exactGroups]]'s hash output at rest).
    *
    * Scale posture: the join is STATELESS on the stream side (nothing
    * accumulates across micro-batches — the static side is the state,
    * at 16 bytes/doc); Spark re-plans the static side per micro-batch,
    * so back it with a fast columnar store. In-stream duplicates are
    * not removed — compose with [[dedupStream]], whose watermark
    * bounds that state. Works identically on a batch frame (plain
    * anti-join; spec pins the equality). */
  def dedupStreamAgainst(docs: DataFrame, contentCol: String,
                         existingHashes: DataFrame): DataFrame =
    docs.withColumn("content_hash", md5(col(contentCol).cast("binary")))
      .join(existingHashes, Seq("content_hash"), "left_anti")

  /** Streaming NEAR-dedup against a static corpus — the SimHash twin
    * of [[dedupStreamAgainst]]: drop stream rows whose fingerprint
    * lies within Hamming `maxHam` of any corpus fingerprint.
    * `corpusSims` is the stored index frame
    * ([[graft.ops.Dedup.simhashes]]'s (id, simhash) output at rest).
    *
    * Shape — stateless per micro-batch, like every gate in
    * [[curateStream]]: the static side pre-groups into
    * (band, band_value) → fingerprint-array buckets (15-bit bands
    * bound bucket counts at 4 × 32768; RefinedWeb-scale corpora
    * average a handful of fingerprints per bucket); each stream row
    * computes its own SimHash per-row (the [[graft.ops.Text.simhash]]
    * HOF form — interpreted, the price of statelessness; the
    * relational [[graft.ops.Dedup.simhashes]] needs a groupBy no
    * append-mode stream can run) and LEFT-joins one bucket per band.
    * A row survives iff NO joined bucket holds a fingerprint within
    * `maxHam` — by pigeonhole any pair with Hamming < bands shares a
    * band, so recall matches [[graft.ops.Dedup.simhashPairs]] exactly.
    * In-stream near-dups are NOT removed (state the watermark can't
    * bound); run the batch clustering over each day's survivors for
    * that. Works identically on a batch frame — StreamOpsSpec pins
    * equality with the brute-force cross-join filter. */
  def dedupNearStreamAgainst(docs: DataFrame, textCol: String,
                             corpusSims: DataFrame, maxHam: Int): DataFrame = {
    import graft.ops.{Dedup, Portable, Text}
    require(maxHam < Dedup.SimHashBands,
      s"${Dedup.SimHashBands} bands only guarantee recall for " +
        s"hamming <= ${Dedup.SimHashBands - 1}")
    val bandMask = (1L << Dedup.SimHashBandBits) - 1
    def bandVal(sim: Column, b: Int): Column =
      shiftright(sim, Dedup.SimHashBandBits * b).bitwiseAND(lit(bandMask))
    val idx = corpusSims.select(col("simhash"),
        explode(array((0 until Dedup.SimHashBands).map(b =>
          struct(lit(b).as("band"),
            bandVal(col("simhash"), b).as("bv"))): _*)).as("bnd"))
      .groupBy(col("bnd.band").as("band"), col("bnd.bv").as("bv"))
      .agg(collect_list(col("simhash")).as("sims"))
    val hashed = docs
      .withColumn("__hs", transform(Text.tokens(col(textCol)),
        w => Portable.seededHash(w)))
      // codegen'd one-pass fingerprint; value-identical to the
      // Text.simhash HOF reference form (spec-pinned), ~O(60·n)
      // interpreted lambdas cheaper per row
      .withColumn("__sim", graft.functions.SimHash60(col("__hs")))
    val joined = (0 until Dedup.SimHashBands).foldLeft(hashed) { (d, b) =>
      val bIdx = idx.filter(col("band") === b)
        .select(col("bv").as(s"__bv$b"), col("sims").as(s"__sims$b"))
      d.withColumn(s"__bv$b", bandVal(col("__sim"), b))
        .join(bIdx, Seq(s"__bv$b"), "left")
    }
    val allCands = flatten(array((0 until Dedup.SimHashBands).map(b =>
      coalesce(col(s"__sims$b"), lit(Array.empty[Long]))): _*))
    joined
      .filter(!exists(allCands,
        s => bit_count(col("__sim").bitwiseXOR(s)) <= maxHam))
      .drop((Seq("__hs", "__sim") ++
        (0 until Dedup.SimHashBands).flatMap(b =>
          Seq(s"__bv$b", s"__sims$b"))): _*)
  }

  /** Watermarked stream-stream interval join — the impression→click
    * enrichment shape: each left row pairs with right rows sharing
    * `keyCol` whose event time lies in
    * [left_time + lowerMs, left_time + upperMs]. Right columns come
    * back prefixed `r_`.
    *
    * On streams BOTH sides carry the watermark and the join condition
    * bounds event time in both directions — exactly what Spark requires
    * to expire stream-stream join state, so state per key is the
    * watermark + (upperMs − lowerMs) row slice, not the full history.
    * On batch frames `withWatermark` is a no-op and this is a plain
    * interval equi-join — the same code path is oracle-checked (q54)
    * and the streaming twin is spec-pinned to it.
    *
    * Scale posture: shuffles both sides once on `keyCol`; a hot key
    * buffers only its own time slice — no cross-key amplification.
    * Event time is µs precision ([[withEventTime]]) on both sides, the
    * same truncation DuckDB applies to TIMESTAMP(NANOS) parquet, so
    * boundary comparisons agree across engines. */
  def intervalJoin(left: DataFrame, right: DataFrame, keyCol: String,
                   lowerMs: Long, upperMs: Long,
                   watermark: String): DataFrame = {
    require(lowerMs <= upperMs, s"empty interval: [$lowerMs, $upperMs]")
    val l = withEventTime(left).withWatermark("event_time", watermark)
    val r0 = withEventTime(right)
    val r = r0.columns.foldLeft(r0)((d, c) => d.withColumnRenamed(c, "r_" + c))
      .withWatermark("r_event_time", watermark)
    l.join(r,
      col(keyCol) === col("r_" + keyCol) &&
        col("r_event_time") >= col("event_time") +
          expr(s"INTERVAL '$lowerMs' MILLISECOND") &&
        col("r_event_time") <= col("event_time") +
          expr(s"INTERVAL '$upperMs' MILLISECOND"))
  }

  /** Streaming ingest curation — the continuous-arrival twin of
    * [[graft.app.CorpusPipeline]]'s gate prefix: normalize (+ non-empty)
    * → language gate → quality gate → optional exact dedup against the
    * static corpus index. Every gate is the SAME column expression the
    * batch funnel uses, chosen in its map-only form (`normalize`,
    * `langIdTextColumn`, `qualityScore`), so the stage is fully
    * STATELESS: no watermark needed, nothing accumulates, append mode
    * works, and a batch frame through this function gives bit-identical
    * rows (spec-pinned) — one code path for backfill and ingest.
    *
    * What it deliberately does NOT do on the stream: IN-STREAM dedup,
    * exact or near (state-bearing — compose [[dedupStream]] with a
    * watermark for that), and chunking/packing (batch-shaped
    * consumers); near dedup against a static SimHash index composes
    * with [[dedupNearStreamAgainst]]. `existingHashes` is the stored
    * content-hash index ([[graft.ops.Dedup.exactGroups]] output at
    * rest); the anti-join against it is stateless on the stream side.
    *
    * Output: the input columns (text normalized) plus pred_lang and the
    * quality columns, plus content_hash when the index gate is on. */
  def curateStream(docs: DataFrame, keepLangs: Set[String],
                   minQuality: Double,
                   existingHashes: Option[DataFrame] = None): DataFrame = {
    import graft.ops.Text
    // The expensive per-row gate kernels are fenced with
    // [[graft.functions.Stable]]: without it, Catalyst pushes each
    // gate's filter below the projection that computes its column by
    // substituting the FULL kernel expression into the predicate, so
    // the language and quality-score kernels each evaluated once
    // for the pushed filter and again for the surviving row — measured
    // 3.3x the single-evaluation cost over the sf0.1 corpus (no cache
    // can sit between gates in a streaming pipeline, so the fence is
    // the streaming twin of the batch funnel's persisted gate frame).
    // The normalized text is fenced for the same reason: the pushed
    // non-empty filter would normalize each row twice.
    val normed = docs
      .withColumn("text",
        graft.functions.Stable.col(Text.normalize(col("text"))))
      .filter(length(col("text")) > 0)
      .withColumn("pred_lang",
        graft.functions.Stable.col(Text.langIdTextColumn(col("text"))))
      .filter(col("pred_lang").isin(keepLangs.toSeq: _*))
    val scored = Text.qualityScore(normed, "text",
        normed.columns.filterNot(_ == "doc_id").toSeq)
      .withColumn("quality_score",
        graft.functions.Stable.col(col("quality_score")))
      .filter(col("quality_score") >= minQuality)
    existingHashes.fold(scored)(h => dedupStreamAgainst(scored, "text", h))
  }

  /** Streaming twin of [[graft.ops.Quality.thresholdSweep]] — the
    * monitoring loop's continuous operating-point table: the scored
    * stream folds into the distinct-score count frame (a streaming
    * groupBy in Complete mode — state is ONE ROW PER DISTINCT 9-dp
    * SCORE, the same vocab-bounded frame the batch op aggregates, so
    * state never grows with row count), and every micro-batch
    * re-derives the FULL sweep from those counts via
    * [[graft.ops.Quality.thresholdSweepFromCounts]] — bit-identical
    * to the batch op over all rows seen so far (spec-pinned, the
    * scd2Stream discipline). `sink` receives the derived sweep and
    * the micro-batch id; the caller starts the returned writer. */
  def thresholdSweepStream(scored: DataFrame, scoreCol: String,
                           labelCol: Column)(
      sink: (DataFrame, Long) => Unit): DataStreamWriter[Row] = {
    val counts = scored.select(col(scoreCol).as("threshold"),
        when(labelCol, 1L).otherwise(0L).as("__y"))
      .groupBy(col("threshold"))
      .agg(count(lit(1)).as("__n"), sum(col("__y")).as("__p"))
    counts.writeStream.outputMode(OutputMode.Complete)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        sink(graft.ops.Quality.thresholdSweepFromCounts(batch), id)
      }
  }

  /** Streaming twin of [[graft.ops.Quality.psi]] — continuous drift
    * monitoring of a score stream against a STATIC baseline (whose
    * quantile boundaries are fixed by definition). The baseline's
    * bounds, total and per-bin counts are derived and barriered ONCE,
    * at wiring time: calling this runs those Spark jobs eagerly,
    * before the caller starts the returned writer. The stream folds
    * into its distinct-score count frame (Complete-mode groupBy,
    * vocab-bounded state), and each micro-batch re-bins only that
    * stream side against the barriered baseline frames via
    * [[graft.ops.Quality.psiFromBaselineFrames]] — equal to the batch
    * op over all rows seen so far. */
  def psiStream(baseline: DataFrame, scored: DataFrame, scoreCol: String,
                bins: Int)(
      sink: (DataFrame, Long) => Unit): DataStreamWriter[Row] = {
    // The baseline's quantile boundaries, total, and per-bin counts
    // are FIXED by definition — derive them once at wiring time and
    // barrier the three bins-bounded frames, instead of re-walking the
    // baseline three times inside every micro-batch (the stream-static
    // persist rule applied to the derivation, not just the scan; the
    // per-batch PSI expressions are identical, so the emitted frame
    // is too).
    val (bounds, nA, ca) =
      graft.ops.Quality.psiBaselineFrames(baseline, scoreCol, bins)
    val pre = (graft.ops.Barrier.cut(bounds), graft.ops.Barrier.cut(nA),
      graft.ops.Barrier.cut(ca))
    val counts = scored.groupBy(col(scoreCol).as("__s"))
      .agg(count(lit(1)).as("__c"))
    counts.writeStream.outputMode(OutputMode.Complete)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        sink(graft.ops.Quality.psiFromBaselineFrames(pre, batch), id)
      }
  }

  /** Streaming twin of [[graft.ops.Events.sprtTrace]] — the
    * sequential test is streaming-native (Wald designed it to stop a
    * RUNNING experiment): the stream folds into the (day, user,
    * converted) distinct frame (Complete-mode state, bounded by
    * users × calendar days), and each micro-batch re-derives the full
    * LLR walk via [[graft.ops.Events.sprtTraceFromUserDays]] — equal
    * row-for-row to the batch trace over all events seen so far, so
    * the first accept_h1/accept_h0 day is the live stopping rule. */
  def sprtStream(events: DataFrame, convType: String, p0: Double,
                 p1: Double, alpha: Double, beta: Double)(
      sink: (DataFrame, Long) => Unit): DataStreamWriter[Row] = {
    val ud = events
      .select(expr("ts div 86400000000000").as("day"), col("user_id"),
        when(col("event_type") === convType, 1L).otherwise(0L).as("__c"))
      .groupBy(col("day"), col("user_id"))
      .agg(max(col("__c")).as("__conv"))
    ud.writeStream.outputMode(OutputMode.Complete)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        sink(graft.ops.Events.sprtTraceFromUserDays(batch,
          p0, p1, alpha, beta), id)
      }
  }

  /** Streaming twin of the incremental data card
    * ([[graft.ops.Quality.corpusReportState]]): the card's state IS a
    * commutative monoid, so the stream holds it directly as a
    * Complete-mode aggregation (state bounded by |sources|×|langs|
    * slices, never documents) and each micro-batch renders the card
    * via [[graft.ops.Quality.corpusReportFinish]] — equal to the
    * batch card over all documents seen so far (the q249
    * merge-equals-rebuild law, live). */
  def corpusReportStream(docs: DataFrame, sourceCol: String,
                         langCol: String, textCol: String)(
      sink: (DataFrame, Long) => Unit): DataStreamWriter[Row] = {
    val state = graft.ops.Quality.corpusReportState(docs, sourceCol,
      langCol, textCol)
    state.writeStream.outputMode(OutputMode.Complete)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        sink(graft.ops.Quality.corpusReportFinish(batch), id)
      }
  }

  /** Streaming ingest half of the batch funnel-to-shards export
    * (q274): raw documents land as micro-batches APPENDING to a
    * documents-at-rest location; [[refreshExport]] then derives the
    * whole [[graft.app.CorpusPipeline.curate]] funnel +
    * [[graft.app.CorpusPipeline.exportShards]] over everything at rest.
    *
    * Why the state lives in the at-rest table and not in stream state:
    * the export's tail is a GLOBAL packer (hash-priority packing over
    * every realized copy) and its head a corpus-wide near-dedup — batch-
    * shaped operators that cannot fold incrementally without changing
    * their semantics. The Spark-native posture for that is exactly a
    * landing zone: micro-batch ingest lands idempotently (one
    * batchId-named subdir per micro-batch, overwritten — foreachBatch
    * is at-least-once, so a checkpointed restart replays the last
    * batch; the overwrite makes the replay a no-op, the standard
    * foreachBatch exactly-once pattern), and the export is a
    * deterministic BATCH VIEW over data at rest. Because every stage is
    * a pure function of the at-rest SET (keyed-hash epoch realization,
    * hash-priority packing, pinned survivorship), arrival order and
    * batch boundaries cannot change a refresh — and a refresh after the
    * last batch equals the one-shot batch export over the same
    * documents bit-for-bit (the q277 gate, q274's own oracle). */
  def exportStream(docs: DataFrame, atRestDir: String): DataStreamWriter[Row] =
    docs.writeStream.outputMode(OutputMode.Append)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        batch.write.mode("overwrite").parquet(s"$atRestDir/batch=$id")
      }

  /** On-demand refresh of the landing-zone export: derive the funnel +
    * shard manifest over everything at rest under `atRestDir` (the
    * batchId-subdir layout [[exportStream]] maintains), hand it to
    * `use`, then unpersist the funnel's cached frames, so block-manager
    * state does not accumulate across refreshes. A pure function of the
    * at-rest set: a refresh between batches is an internally consistent
    * manifest of the corpus-so-far (not a prefix of the final one —
    * near-dedup and epoch factors shift as the corpus grows). */
  def refreshExport(spark: SparkSession, atRestDir: String,
                    cfg: graft.app.CorpusPipeline.Config,
                    weights: Map[String, Double], tokenBudget: Long,
                    realizeSalt: String, seqTokens: Int, shards: Int)(
      use: DataFrame => Unit): Unit = {
    val atRest = spark.read.parquet(atRestDir)
      .select("doc_id", "text", "lang", "source")
    val r = graft.app.CorpusPipeline.curate(atRest, cfg)
    val (_, manifest) = graft.app.CorpusPipeline.exportShards(
      r.survivors.get, weights, tokenBudget, realizeSalt, seqTokens,
      shards)
    try use(manifest)
    finally r.persisted.foreach(_.unpersist(blocking = false))
  }

  /** Wire a streaming DataFrame to an in-memory sink named `name` (specs
    * and the [[Replay]] certifications) and start it; select from
    * `spark.table(name)`. */
  def toMemorySink(df: DataFrame, name: String, mode: OutputMode)
      : org.apache.spark.sql.streaming.StreamingQuery =
    df.writeStream.format("memory").queryName(name).outputMode(mode).start()
}

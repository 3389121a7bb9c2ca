package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.SparkEntry._
import graft.ops._
import graft.streaming.{Replay, StreamOps}
import graft.streaming.Replay.withStatePartitions

/** Streaming: the batch forms of the StreamOps interval join and
  * near-dedup gate (q54, q124), and the certifications (q255–q270,
  * q277) that replay staged files through a real stream whose result
  * must equal the batch oracle. */
private[graft] object StreamQueries {

  /** Watermark delay of the event-log stream certifications (their
    * "60 days"): covers the fixture's span, so the staged files'
    * arbitrary arrival order never drops an event. */
  private val ReplayDelayMs = 60L * 24 * 3600 * 1000

  /** q124/q270 shared oracle: odd-id survivors by brute-force min
    * hamming vs the even-id fingerprints — exact because MaxHamming <
    * SimHashBands makes the engine's band join exhaustive
    * (pigeonhole). q270 hashes the REAL-stream run of the same gate
    * against it. */
  private val nearDedupAgainstOracleSql: String =
    s"""$simhashSqlCte
       |SELECT d.doc_id, d.lang, d.source, d.n_chars
       |FROM documents d JOIN sim s USING (doc_id)
       |WHERE d.doc_id % 2 = 1 AND NOT EXISTS (
       |  SELECT 1 FROM sim c WHERE c.doc_id % 2 = 0
       |    AND bit_count(xor(s.simhash, c.simhash)) <= $MaxHamming)
       |ORDER BY doc_id""".stripMargin

  /** q255/q260 shared oracle chain: curateStream's stateless gate
    * prefix (normalize → non-empty → language gate → quality metrics)
    * over the `documents` rows matching `docFilter`, ending at CTE
    * `sc` (doc_id, text, pred_lang, n_tokens, quality_score). Callers
    * append further CTEs with a leading comma or the final SELECT. */
  private def curateStreamPrefixSql(docFilter: String): String = {
    val langList = CurateLangs.toSeq.sorted.map(l => s"'$l'")
      .mkString(", ")
    s"""WITH norm AS (
       |  SELECT doc_id,
       |    trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'),
       |         ' +', ' ', 'g')) AS text
       |  FROM documents WHERE $docFilter
       |),
       |nz AS (SELECT doc_id, text FROM norm WHERE length(text) > 0),
       |profile(plang, w) AS (VALUES ${Text.langProfileSql}),
       |ltok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w
       |         FROM nz),
       |lhits AS (
       |  SELECT t.doc_id, p.plang, count(*) AS n
       |  FROM ltok t JOIN profile p ON t.w = p.w
       |  GROUP BY t.doc_id, p.plang
       |),
       |lbest AS (
       |  SELECT doc_id, plang FROM (
       |    SELECT doc_id, plang, row_number() OVER (PARTITION BY doc_id
       |      ORDER BY n DESC, plang ASC) AS r
       |    FROM lhits
       |  ) WHERE r = 1
       |),
       |lk AS (
       |  SELECT nz.doc_id, nz.text, b.plang FROM nz
       |  JOIN lbest b USING (doc_id)
       |  WHERE b.plang IN ($langList)
       |),
       |m AS (
       |  SELECT doc_id, text, plang,
       |    $qMetricColsSql
       |  FROM lk
       |),
       |sc AS (
       |  SELECT doc_id, text, plang AS pred_lang, qct AS n_tokens,
       |    $qScoreSqlExpr AS quality_score
       |  FROM m
       |)""".stripMargin
  }

  val all: Seq[Query] = Seq(

    // Streaming curation gate prefix, ORACLE-certified end to end: the
    // documents table rides a real file-source micro-batch stream
    // (maxFilesPerTrigger=1 forces multiple batches) through
    // StreamOps.curateStream's stateless normalize→langid→quality
    // prefix into a memory sink; the collected output hashes against
    // the batch funnel's own gate-prefix SQL. The twin law the specs
    // pin ("stateless prefix = batch gates on every micro-batch")
    // becomes a driver-gate fact, not just a spec claim.
    Query("q255_curate_stream", (s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      Replay.replay(docs, "q255") { sdf =>
        Replay.toMemory(StreamOps.curateStream(sdf,
          CurateLangs, CurateMinQuality), "q255")
      }.select(col("doc_id"), col("text"), col("pred_lang"),
          col("n_tokens"), col("quality_score"))
        .orderBy("doc_id")
    },
    // q254: sorted trailing lists per window, twice-the-median
    // element reads, the identical integer Hampel compare.
    // q255: the batch gate-prefix SQL (normalize → langid → quality,
    // the q62 funnel's own CTEs) — hashing the STREAM's micro-batched
    // output against it certifies the stateless-prefix twin law under
    // the driver's gate.
      s"""${curateStreamPrefixSql("TRUE")}
         |SELECT doc_id, text, pred_lang, n_tokens, quality_score
         |FROM sc WHERE quality_score >= $CurateMinQuality
         |ORDER BY doc_id""".stripMargin),

    // The round-9/10 driver-gate fail, STREAM-certified: the scored
    // documents ride a micro-batched file stream into
    // thresholdSweepStream's Complete-mode distinct-score count state;
    // the FINAL micro-batch's sweep (the table over all rows seen)
    // hashes against q218's own exact-integer oracle — the stateful
    // twin law under the driver's gate.
    Query("q256_threshold_sweep_stream", (s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      withStatePartitions(s) {
        Replay.replay(docs, "q256") { sdf =>
          val scored = Text.qualityScore(sdf, "text", Seq("lang"))
            .select(col("lang"), col("quality_score"))
          Replay.lastBatch(s)(StreamOps.thresholdSweepStream(scored,
            "quality_score", col("lang") === "en"))
        }.orderBy("threshold")
      }
    },
      thresholdSweepOracleSql),

    // The STATEFUL/WATERMARKED twin under the driver gate (q255/q256
    // certified the stateless prefix and Complete-mode aggregation —
    // this is the flatMapGroupsWithState case): the event log rides a
    // micro-batched file stream into robustAnomalyStream; windows
    // close as the watermark passes and the emitted Hampel anomaly
    // rows hash against q254's own batch oracle. A 60-day watermark
    // delay covers the staged files' arbitrary arrival order
    // (certification replays history; a live deployment would run the
    // documented minutes-scale delay), and two far-future sentinel
    // events on a FRESH key — the StreamOpsSpec pattern — advance the
    // watermark past every real window so event-time timeouts flush
    // them; the sentinel key itself never accumulates a full trailing
    // baseline, so it emits nothing in stream OR batch.
    Query("q257_window_anomaly_robust_stream", (s, dir) => {
      val ev = Sources.eventsNs(s, dir)
        .select(col("event_id"), col("ts"), col("user_id"),
          col("event_type"), col("value"))
      withStatePartitions(s) {
        Replay.replayWithSentinels(ev, "q257", ReplayDelayMs, WindowMs) {
          sdf =>
            Replay.toMemory(StreamOps.robustAnomalyStream(sdf, WindowMs,
              AnomalyTrailing, RobustKNum, RobustKDen, "60 days").toDF(),
              "q257")
        }.orderBy("event_type", "window_start_ms")
      }
    },
    // q257: the streaming Hampel twin hashes against the SAME batch
    // SQL — the watermark-closed emissions must reproduce the batch
    // anomaly table exactly.
      robustAnomalyOracleSql),

    // The BUILT-IN streaming windowed aggregation under the driver
    // gate (q257 certified custom flatMapGroupsWithState state; this
    // is Spark's own watermark-closed window agg): tumbling counts +
    // cents-rounded value sums per (window, event_type), emitted in
    // Append mode as the watermark passes each window end; sentinels
    // flush the tail, and the sink hashes against a plain batch
    // GROUP BY. The sum certifies at exact cents: per-window double
    // accumulation error (≤ n·ε·Σ|v| ≈ 1e-10) is five orders below
    // the 0.005 rounding margin, so both engines land the same LONG.
    Query("q261_windowed_counts_stream", (s, dir) => {
      val ev = Sources.eventsNs(s, dir)
        .select(col("event_id"), col("ts"), col("user_id"),
          col("event_type"), col("value"))
      withStatePartitions(s) {
        Replay.replayWithSentinels(ev, "q261", ReplayDelayMs, WindowMs) {
          sdf =>
            Replay.toMemory(StreamOps.windowedCounts(sdf,
                s"$WindowMs milliseconds", "60 days")
              .select(unix_millis(col("window_start")).as("window_start_ms"),
                col("event_type"), col("n_events"),
                floor(col("sum_value") * lit(100) + lit(0.5)).cast("long")
                  .as("sum_cents")), "q261")
        }.orderBy("window_start_ms", "event_type")
      }
    },
    // q261: the built-in watermark-closed window agg's sink equals
    // the plain batch GROUP BY; sums certify at exact cents (the
    // double-accumulation error is orders below the rounding margin).
      s"""SELECT
         |  (epoch_ms(ts) - epoch_ms(ts) % $WindowMs)::BIGINT
         |    AS window_start_ms,
         |  event_type, count(*)::BIGINT AS n_events,
         |  floor(sum(value) * 100 + 0.5)::BIGINT AS sum_cents
         |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    // The BUILT-IN session_window under the driver gate: gap-merged
    // per-user sessions emitted as the watermark passes each session
    // end (last event + gap); the sentinel user's own session never
    // closes. The oracle is an independent gaps-and-islands SQL with
    // session_window's boundary rule (an event at EXACTLY last + gap
    // starts a new session — the window is [start, last+gap); the
    // ns-resolution fixture cannot sit on the boundary, but the SQL
    // states the operator's own contract).
    Query("q262_session_windows_stream", (s, dir) => {
      val ev = Sources.eventsNs(s, dir)
        .select(col("event_id"), col("ts"), col("user_id"),
          col("event_type"), col("value"))
      withStatePartitions(s) {
        Replay.replayWithSentinels(ev, "q262", ReplayDelayMs, SessionGapMs) {
          sdf =>
            // NOTE: no post-agg filter — a comparison filter above a
            // streaming session aggregation empties the append output
            // (observed on 4.1.2; the session-window operator's output
            // rows don't survive a pushed-down predicate), and none is
            // needed: the sentinel user's session never closes (its end
            // sits ~60 days past the final watermark), so it cannot
            // reach the sink.
            Replay.toMemory(StreamOps.sessionWindows(sdf,
                s"$SessionGapMs milliseconds", "60 days")
              .select(col("user_id"),
                unix_millis(col("session_start")).as("session_start_ms"),
                unix_millis(col("session_end")).as("session_end_ms"),
                col("n_events"),
                floor(col("sum_value") * lit(100) + lit(0.5)).cast("long")
                  .as("sum_cents")), "q262")
        }.orderBy("user_id", "session_start_ms")
      }
    },
    // q262: the built-in session_window's sink equals an independent
    // gaps-and-islands rebuild with session_window's own boundary
    // rule (new session at exactly last + gap — the window is
    // [start, last+gap)); end = last event + gap.
      s"""WITH e AS (
         |  SELECT user_id, epoch_us(ts) AS us, value FROM events
         |),
         |b AS (
         |  SELECT user_id, us, value,
         |    CASE WHEN lag(us) OVER w IS NULL
         |         OR us - lag(us) OVER w >= ${SessionGapMs * 1000L}
         |    THEN 1 ELSE 0 END AS brk
         |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us)
         |),
         |g AS (
         |  SELECT user_id, us, value,
         |    sum(brk) OVER (PARTITION BY user_id ORDER BY us
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
         |  FROM b
         |)
         |SELECT user_id,
         |  (min(us) // 1000)::BIGINT AS session_start_ms,
         |  (max(us) // 1000 + $SessionGapMs)::BIGINT AS session_end_ms,
         |  count(*)::BIGINT AS n_events,
         |  floor(sum(value) * 100 + 0.5)::BIGINT AS sum_cents
         |FROM g GROUP BY user_id, sid
         |ORDER BY user_id, session_start_ms""".stripMargin),

    // scd2Stream under the driver gate — the NO-watermark keyed-state
    // case (closed versions emit the moment the next version arrives,
    // so a finite replay needs no sentinels): the event log replays in
    // (ts, event_id) order as four mtime-ordered file-stream slices
    // (scd2Merge's append-only arrival contract; a production CDC feed
    // is in-order by construction), and the sink's accumulated closed
    // rows hash against q178's own batch SQL restricted to
    // is_current = false. The open tail lives in the state store — the
    // append-correct projection q178's scaladoc describes.
    Query("q258_scd2_stream", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val ev = Sources.eventsNs(s, dir)
        .select(col("user_id"), col("ts"), col("event_id"),
          col("event_type"))
      withStatePartitions(s) {
        val slices = 4
        val cnt = ev.count()
        // certification plumbing: one bounded fixture-sized sort to cut
        // the history into ordered slices — persisted, because each of
        // the 4 slice writes below consumes it (without the persist every
        // write re-ran the global history sort, 4 passes for 1)
        val sliced = ev.withColumn("__rn", row_number()
          .over(Window.orderBy(col("ts"), col("event_id"))).cast("long"))
          .persist()
        def stage(staged: String): Unit = {
          val base = System.currentTimeMillis()
          for (i <- 0 until slices) {
            val lo = i.toLong * cnt / slices
            val hi = (i + 1).toLong * cnt / slices
            val dst = java.nio.file.Paths.get(staged, f"slice_$i%02d.parquet")
            Replay.withTempDir(s"q258_slice$i") { tmp =>
              sliced.filter(col("__rn") > lo && col("__rn") <= hi)
                .drop("__rn").repartition(1).write.mode("overwrite")
                .parquet(tmp)
              val part = new java.io.File(tmp).listFiles()
                .filter(_.getName.endsWith(".parquet")).head
              java.nio.file.Files.copy(part.toPath, dst)
            }
            java.nio.file.Files.setLastModifiedTime(dst,
              java.nio.file.attribute.FileTime.fromMillis(base + i * 60000L))
          }
        }
        val out =
          try Replay.replayStaged(s, ev.schema, "q258")(stage) { sdf =>
            Replay.toMemory(StreamOps.scd2Stream(sdf).toDF(), "q258")
          } finally sliced.unpersist(blocking = false)
        out.orderBy("user_id", "version")
      }
    },
    // q258: the streaming SCD2 twin's sink holds exactly the batch
    // rebuild's CLOSED versions.
      s"""SELECT user_id, version, attr, from_ms, to_ms, is_current
         |FROM ($scd2OracleSql) t
         |WHERE NOT is_current ORDER BY user_id, version""".stripMargin),

    // The STREAM-STREAM join case under the driver gate: both sides of
    // intervalJoin replay the event log as independent micro-batched
    // file streams; inner-join matches emit as the later side arrives
    // (no sentinels needed — the watermark only bounds state, and the
    // 60-day delay keeps the finite replay lossless), and the sink
    // hashes against a plain batch self-join oracle. Per user, every
    // (left, right) event pair with the right event 0..1 window after
    // the left — the "what followed within the hour" join.
    Query("q259_interval_join_stream", (s, dir) => {
      val ev = Sources.eventsNs(s, dir)
        .select(col("event_id"), col("ts"), col("user_id"),
          col("event_type"), col("value"))
      withStatePartitions(s) {
        Replay.replay(ev, "q259_l", files = 2) { l =>
          Replay.replay(ev, "q259_r", files = 2) { r =>
            Replay.toMemory(StreamOps.intervalJoin(
                l, r, "user_id", 0L, WindowMs, "60 days")
              .select(col("user_id"), col("event_id").as("l_id"),
                col("r_event_id").as("r_id"),
                expr("(ts - pmod(ts, 1000000)) div 1000000").cast("long")
                  .as("l_ms"),
                expr("(r_ts - pmod(r_ts, 1000000)) div 1000000").cast("long")
                  .as("r_ms")), "q259")
          }
        }.orderBy("user_id", "l_id", "r_id")
      }
    },
    // q259: the stream-stream interval join's sink equals the batch
    // self-join — the time comparison runs at the engines' shared
    // micros precision (parquet NANOS truncate to micros in both),
    // the emitted floors at ms.
      s"""SELECT l.user_id, l.event_id AS l_id, r.event_id AS r_id,
         |  epoch_ms(l.ts)::BIGINT AS l_ms, epoch_ms(r.ts)::BIGINT AS r_ms
         |FROM events l JOIN events r ON l.user_id = r.user_id
         |  AND epoch_us(r.ts) >= epoch_us(l.ts)
         |  AND epoch_us(r.ts) <= epoch_us(l.ts) + ${WindowMs * 1000L}
         |ORDER BY l.user_id, l_id, r_id""".stripMargin),

    // The INCREMENTAL-ingest composition under the driver gate: the
    // odd half of the corpus streams through the full curateStream
    // gate chain with the stream-static exact-dedup gate LIVE — the
    // static index is the stored content hashes (of normalized text,
    // the form the batch funnel stores) of the even half PLUS the
    // doc_id % 8 = 1 slice of the stream itself (a re-crawl: part of
    // the delta batch was already ingested, so the gate PROVABLY
    // drops those rows — the fixture's halves share no exact dups, so
    // an even-only index would leave the anti-join vacuous), joined
    // stateless anti per micro-batch. The daily delta-crawl ingest
    // path, certified end to end against a batch oracle.
    Query("q260_curate_stream_incremental", (s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      // no state store: one partition for the stream-static anti join
      withStatePartitions(s, 1) {
        // stored-index-at-rest: the hash index re-enters the anti join
        // every micro-batch — persist it once
        val idx = docs
          .filter(col("doc_id") % 2 === 0 || col("doc_id") % 8 === 1)
          .select(md5(graft.ops.Text.normalize(col("text")).cast("binary"))
            .as("content_hash")).distinct()
          .persist()
        val out =
          try Replay.replay(docs.filter(col("doc_id") % 2 === 1), "q260") {
            sdf =>
              Replay.toMemory(StreamOps.curateStream(sdf, CurateLangs,
                CurateMinQuality, existingHashes = Some(idx)), "q260")
          } finally idx.unpersist(blocking = false)
        out.select(col("doc_id"), col("text"), col("pred_lang"),
            col("n_tokens"), col("quality_score"))
          .orderBy("doc_id")
      }
    },
    // q260: the same gate prefix over the ODD half with the
    // stream-static exact-dedup gate live — survivors are the gated
    // odd docs whose NORMALIZED text hash is absent from the stored
    // index (even half + the already-ingested % 8 = 1 re-crawl slice).
      s"""${curateStreamPrefixSql("doc_id % 2 = 1")},
         |ev AS (
         |  SELECT DISTINCT md5(
         |    trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'),
         |         ' +', ' ', 'g'))) AS content_hash
         |  FROM documents WHERE doc_id % 2 = 0 OR doc_id % 8 = 1
         |)
         |SELECT doc_id, text, pred_lang, n_tokens, quality_score
         |FROM sc WHERE quality_score >= $CurateMinQuality
         |  AND md5(sc.text) NOT IN (SELECT content_hash FROM ev)
         |ORDER BY doc_id""".stripMargin),

    // EXACTLY-ONCE RESTART under the driver gate (the kill/recover
    // spec's production property, now hash-certified): the first half
    // of the corpus streams through the gate prefix into a REAL
    // parquet file sink with a checkpoint, the query STOPS, the second
    // half lands while it is down, and the restarted query resumes
    // from the checkpoint — consuming only the unseen files, never
    // re-emitting the first half. The sink directory read back must
    // hash against the same batch oracle as an uninterrupted run
    // (q255's chain): any loss or duplication across the restart
    // breaks the hash.
    Query("q263_curate_stream_restart", (s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      // the parquet SINK is the result, read after the harness exits —
      // only the source staging and the checkpoint go; /tmp owns the
      // sink dir's lifetime
      val outDir = Replay.tempDir("q263_sink")
      Replay.withTempDir("q263_stream_src") { staged =>
        Replay.withTempDir("q263_ckpt") { ckpt =>
          // one start per half: the odd half lands while the query is
          // down, and the second start resumes from the checkpoint
          for (parity <- Seq(0, 1)) {
            Replay.stageFiles(docs.filter(col("doc_id") % 2 === parity),
              staged, files = 2)
            Replay.drain(StreamOps.curateStream(
                Replay.source(s, docs.schema, staged),
                CurateLangs, CurateMinQuality)
              .writeStream.format("parquet").option("path", outDir)
              .option("checkpointLocation", ckpt)
              .outputMode("append").start())
          }
        }
      }
      s.read.parquet(outDir)
        .select(col("doc_id"), col("text"), col("pred_lang"),
          col("n_tokens"), col("quality_score"))
        .orderBy("doc_id")
    },
    // q263: loss- and duplicate-free across the restart ⇔ the sink
    // equals the uninterrupted batch result — q255's own oracle.
      s"""${curateStreamPrefixSql("TRUE")}
         |SELECT doc_id, text, pred_lang, n_tokens, quality_score
         |FROM sc WHERE quality_score >= $CurateMinQuality
         |ORDER BY doc_id""".stripMargin),

    // The remaining Complete-mode foreachBatch monitors under the
    // driver gate (q256 proved the pattern for the threshold sweep):
    // the src0 score stream folds into its distinct-score count state
    // and the FINAL micro-batch's PSI re-derivation hashes against
    // q200's own exact-integer oracle — the static baseline (corpus
    // minus src0) keeps its quantile boundaries fixed by definition.
    Query("q264_psi_stream", (s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      // the static baseline re-enters psiFromCounts every micro-batch —
      // persist it once (the stored-baseline-at-rest posture; without
      // it each trigger re-scores the whole baseline corpus)
      val baseline = Text.qualityScore(docs, "text", Seq("source"))
        .filter(col("source") =!= KsSourceA)
        .select(col("quality_score"))
        .persist()
      withStatePartitions(s) {
        try Replay.replay(docs, "q264") { sdf =>
          val scored = Text.qualityScore(sdf, "text", Seq("source"))
            .filter(col("source") === KsSourceA)
            .select(col("quality_score"))
          Replay.lastBatch(s)(StreamOps.psiStream(baseline, scored,
            "quality_score", PsiBins))
        } finally baseline.unpersist(blocking = false)
      }
    },
    // q264/q265/q266: the Complete-mode foreachBatch monitors hash
    // their FINAL micro-batch re-derivation against the batch twins'
    // own oracles (stream-equals-batch over all rows seen).
      psiOracleSql),

    // Wald's sequential test run the way Wald designed it — ON the
    // stream: the event log rides a micro-batched file stream into
    // sprtStream's (day, user) Complete-mode state and the FINAL
    // micro-batch's LLR walk hashes against q236's own integer-walk
    // oracle, so the live stopping rule is certified equal to the
    // batch trace.
    Query("q265_sprt_stream", (s, dir) => {
      val ev = Sources.eventsNs(s, dir)
        .select(col("event_id"), col("ts"), col("user_id"),
          col("event_type"), col("value"))
      withStatePartitions(s) {
        Replay.replay(ev, "q265") { sdf =>
          Replay.lastBatch(s)(StreamOps.sprtStream(sdf, "purchase",
            SprtP0, SprtP1, SprtAlpha, SprtBeta))
        }.orderBy("day")
      }
    },
      sprtTraceOracleSql),

    // The live data card: documents ride a micro-batched file stream
    // into corpusReportStream's monoid state (slice-bounded, never
    // document-bounded) and the FINAL micro-batch's rendered card
    // hashes against q75's own batch oracle — the merge-equals-rebuild
    // law (q249) running continuously.
    Query("q266_corpus_report_stream", (s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      withStatePartitions(s) {
        Replay.replay(docs, "q266") { sdf =>
          Replay.lastBatch(s)(StreamOps.corpusReportStream(sdf,
            "source", "lang", "text"))
        }.orderBy("source", "lang")
      }
    },
      corpusReportOracleSql),

    // dropDuplicatesWithinWatermark under the driver gate: the event
    // log replays as a micro-batched file stream through dedupStream
    // on the (user, type) content key (13× duplicated in the fixture)
    // and the emitted DISTINCT-HASH SET hashes against a batch
    // SELECT DISTINCT — exactly one survivor per content across
    // micro-batches, none lost, none duplicated. (WHICH row survives
    // a same-batch collision is explicitly unguaranteed — the specs
    // pin that — so the certification projects the hash, the
    // deterministic part of the contract.) The 60-day watermark
    // covers the fixture's 30-day span, so state never evicts
    // mid-replay.
    Query("q267_dedup_stream", (s, dir) => {
      val ev = Sources.eventsNs(s, dir)
        .select(col("event_id"), col("ts"), col("user_id"),
          col("event_type"))
        .withColumn("content",
          concat_ws("#", col("user_id"), col("event_type")))
      withStatePartitions(s) {
        Replay.replay(ev, "q267") { sdf =>
          Replay.toMemory(StreamOps.dedupStream(sdf, "content", "60 days")
            .select(col("content_hash")), "q267")
        }.orderBy("content_hash")
      }
    },
    // q267: exactly one survivor per content key across micro-batches
    // ⇔ the emitted hash set equals a batch SELECT DISTINCT (which
    // ROW survives a same-batch collision is unguaranteed, so the
    // deterministic projection is the hash itself).
      """SELECT DISTINCT
        |  md5(CAST(user_id AS VARCHAR) || '#' || event_type)
        |    AS content_hash
        |FROM events
        |ORDER BY content_hash""".stripMargin),

    // The z-score anomaly monitor's streaming twin under the driver
    // gate (q257 certified the Hampel variant; this is the classical
    // moment-based one, the same flatMapGroupsWithState state
    // discipline): watermark-closed emissions hash against q133's own
    // exact-integer batch oracle. Sentinels flush the tail as in
    // q257; the sentinel key never accumulates a full trailing
    // baseline, so it emits nothing in stream OR batch.
    Query("q268_window_anomaly_stream", (s, dir) => {
      val ev = Sources.eventsNs(s, dir)
        .select(col("event_id"), col("ts"), col("user_id"),
          col("event_type"), col("value"))
      withStatePartitions(s) {
        Replay.replayWithSentinels(ev, "q268", ReplayDelayMs, WindowMs) {
          sdf =>
            Replay.toMemory(StreamOps.anomalyStream(sdf, WindowMs,
              AnomalyTrailing, AnomalyZ, "60 days").toDF(), "q268")
        }.orderBy("event_type", "window_start_ms")
      }
    },
    // q268: the streaming z-score twin hashes against q133's batch
    // SQL; q269: last-write-wins over the Update-mode emissions must
    // equal the plain batch GROUP BY (sums at exact cents).
      windowAnomalyOracleSql),

    // mapGroupsWithState running per-user totals under the driver
    // gate — the Update-mode keyed-state case (q257/q268 certified
    // Append with event-time timeouts): each micro-batch emits the
    // UPDATED state for keys it touched; last-write-wins over the
    // sequential batch ids reconstructs the final state table, which
    // must equal a plain batch GROUP BY. Sums certify at exact cents
    // (the q261 argument: per-user double accumulation error is five
    // orders below the 0.005 rounding margin).
    Query("q269_running_state_stream", (s, dir) => {
      import s.implicits._
      import scala.jdk.CollectionConverters._
      val ev = Sources.eventsNs(s, dir)
        .select(col("user_id"), col("value"))
      withStatePartitions(s) {
        val finalState = new java.util.concurrent.ConcurrentHashMap[
          Long, (Long, Double)]()
        Replay.replay(ev, "q269") { sdf =>
          Replay.drain(StreamOps.runningUserState(
              sdf.select(col("user_id"), col("value")).as[(Long, Double)])
            .toDF().writeStream.outputMode("update")
            .foreachBatch { (b: DataFrame, _: Long) =>
              b.collect().foreach { r =>
                finalState.put(r.getLong(0), (r.getLong(1), r.getDouble(2)))
              }
            }.start())
        }
        val rows = finalState.asScala.toSeq.map { case (u, (n, sv)) =>
          (u, n, math.floor(sv * 100 + 0.5).toLong)
        }
        rows.toDF("user_id", "n_events", "sum_cents").orderBy("user_id")
      }
    },
      """SELECT user_id, count(*)::BIGINT AS n_events,
        |  CAST(floor(sum(value) * 100 + 0.5) AS BIGINT) AS sum_cents
        |FROM events GROUP BY user_id
        |ORDER BY user_id""".stripMargin),

    // The near-dedup gate on a REAL stream (q124 certifies the same
    // function on a batch frame): odd-id docs ride a micro-batched
    // file stream through dedupNearStreamAgainst vs the even-id
    // SimHash index; stateless per micro-batch, so the accumulated
    // sink must equal the batch run — q124's own oracle.
    Query("q270_near_dedup_stream_live", (s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      // no state store: one partition for the band joins against the
      // static index
      withStatePartitions(s, 1) {
        // the static SimHash index re-enters the band join every
        // micro-batch — persist it once (the stored-index-at-rest
        // posture; without it each trigger re-fingerprints the corpus)
        val idx = Dedup.simhashes(docs.filter(col("doc_id") % 2 === 0),
          "doc_id", "text").persist()
        val out =
          try Replay.replay(docs.filter(col("doc_id") % 2 === 1), "q270") {
            sdf =>
              Replay.toMemory(StreamOps.dedupNearStreamAgainst(sdf,
                  "text", idx, MaxHamming)
                .select(col("doc_id"), col("lang"), col("source"),
                  col("n_chars")), "q270")
          } finally idx.unpersist(blocking = false)
        out.orderBy("doc_id")
      }
    },
      nearDedupAgainstOracleSql),

    // Streaming near-dedup gate, batch-twin form: odd-id docs arrive
    // as the "stream", even-id docs are the stored SimHash index —
    // survivors are arrivals with no index fingerprint within
    // MaxHamming. The same function runs on a streaming frame
    // (StreamOpsSpec and q270 drive it); with MaxHamming < SimHashBands the
    // band join is exhaustive by pigeonhole, so the oracle's
    // brute-force min-hamming form is exact.
    Query("q124_near_dedup_stream", (s, dir) => {
      val docs = t(s, dir, "documents")
      val idx = Dedup.simhashes(docs.filter(col("doc_id") % 2 === 0),
        "doc_id", "text")
      StreamOps.dedupNearStreamAgainst(
          docs.filter(col("doc_id") % 2 === 1), "text", idx, MaxHamming)
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
        .orderBy("doc_id")
    },
    // q124: odd-id survivors by brute-force min hamming vs the even-id
    // fingerprints — exact because MaxHamming < SimHashBands makes the
    // engine's band join exhaustive (pigeonhole).
      nearDedupAgainstOracleSql),

    // q274's export composed into the STREAMING story: raw documents
    // ride a micro-batched file stream into exportStream, which appends
    // each batch to a documents-at-rest dir (the landing-zone posture —
    // a global packer is a batch view over data at rest, not executor
    // state). After ingest, one refreshExport derives the whole funnel
    // + exportShards over everything at rest; it must equal the
    // one-shot batch export bit-for-bit — q274's own oracle hashes the
    // streamed manifest.
    Query("q277_corpus_export_stream", (s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      Replay.replay(docs, "q277") { sdf =>
        Replay.withTempDir("q277_at_rest") { atRest =>
          Replay.drain(StreamOps.exportStream(sdf, atRest).start())
          Replay.lastFrame(s, "final refresh produced no manifest") {
            keep => StreamOps.refreshExport(s, atRest, CurateCfg,
              EpochWeights, EpochBudget, EpochRealizeSalt, PackSeqTokens,
              PackShards)(keep)
          }
        }
      }.orderBy("shard")
    },
    // q277 lands raw documents through micro-batch ingest and derives
    // the funnel+export over everything at rest — that refresh must
    // equal the one-shot batch export over the same documents, so the
    // batch entry's oracle is its oracle, verbatim.
      corpusExportOracleSql),

    // Stream-stream interval join, batch form (same code path as the
    // streaming twin, StreamOpsSpec pins their equality): each click
    // paired with the same user's purchases in the following 30 min.
    // Event time is µs on both engines, so boundaries agree.
    Query("q54_interval_join", (s, dir) => {
      val ev = Sources.eventsNs(s, dir)
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id"), col("ts"), col("user_id"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("ts"), col("user_id"))
      StreamOps.intervalJoin(clicks, purchases, "user_id", 0L, SessionGapMs,
        "1 hour")
        .select(col("user_id"), col("event_id").as("click_id"),
          col("r_event_id").as("purchase_id"),
          (unix_micros(col("r_event_time")) - unix_micros(col("event_time")))
            .as("delta_us"))
        .orderBy("user_id", "click_id", "purchase_id")
    },
    // q54: DuckDB reads TIMESTAMP(NANOS) at µs precision — the same
    // truncation intervalJoin's event_time applies — so epoch_us
    // boundary comparisons agree bit-for-bit with the Spark side.
      s"""SELECT l.user_id, l.event_id AS click_id, r.event_id AS purchase_id,
         |  (epoch_us(r.ts) - epoch_us(l.ts))::BIGINT AS delta_us
         |FROM events l JOIN events r ON r.user_id = l.user_id
         |WHERE l.event_type = 'click' AND r.event_type = 'purchase'
         |  AND epoch_us(r.ts) >= epoch_us(l.ts)
         |  AND epoch_us(r.ts) <= epoch_us(l.ts) + ${SessionGapMs}::BIGINT * 1000
         |ORDER BY l.user_id, click_id, purchase_id""".stripMargin)
  )
}

package graft.streaming

import graft.SparkSpec
import graft.ops.Events
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

class StreamOpsSpec extends SparkSpec {
  import spark.implicits._

  private val H = 3600L * 1000000000L // 1h in ns

  // (event_id, ts_ns, user_id, event_type, value) matching the fixture shape
  private def mkDf(rows: Seq[(Long, Long, Long, String, Double)]) =
    rows.toDF("event_id", "ts", "user_id", "event_type", "value")

  test("windowedCounts: streaming counts accumulate; late event dropped") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, Long, Long, String, Double)]
    val q = StreamOps.toMemorySink(
      StreamOps.windowedCounts(
        in.toDF().toDF("event_id", "ts", "user_id", "event_type", "value"),
        "1 hour", "30 minutes"),
      "wc", OutputMode.Append)
    try {
      // hour-0 events, then hour-3 events to push the watermark past hour 0
      in.addData((1L, 0L, 1L, "click", 1.0), (2L, H / 2, 1L, "click", 2.0))
      q.processAllAvailable()
      in.addData((3L, 3 * H, 1L, "click", 4.0))
      q.processAllAvailable()
      // late arrival for hour 0 — beyond watermark, must be dropped
      in.addData((4L, H / 4, 1L, "click", 100.0))
      q.processAllAvailable()
      in.addData((5L, 5 * H, 1L, "click", 8.0))
      q.processAllAvailable()
      val hour0 = spark.table("wc")
        .filter(unix_millis($"window_start") === 0L)
        .select($"n_events", $"sum_value").as[(Long, Double)].collect()
      assert(hour0.length == 1)
      assert(hour0.head == ((2L, 3.0))) // late value 100.0 not counted
    } finally q.stop()
  }

  test("windowedCounts: same transform works in batch") {
    val batch = StreamOps.windowedCounts(
      mkDf(Seq((1L, 0L, 1L, "click", 1.0), (2L, H / 2, 1L, "click", 2.0),
        (3L, 3 * H, 2L, "view", 4.0))),
      "1 hour", "30 minutes")
      .select(unix_millis($"window_start"), $"event_type", $"n_events")
      .as[(Long, String, Long)].collect().toSet
    assert(batch == Set((0L, "click", 2L), (3 * 3600000L, "view", 1L)))
  }

  test("sessionWindows: gap splits sessions in batch mode") {
    val s = StreamOps.sessionWindows(
      mkDf(Seq(
        (1L, 0L, 1L, "click", 1.0),
        (2L, 10L * 60 * 1000000000L, 1L, "click", 2.0),   // +10min: same session
        (3L, 2L * H, 1L, "click", 3.0),                   // new session
        (4L, 0L, 2L, "view", 4.0))),
      "30 minutes", "1 hour")
      .select($"user_id", $"n_events").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).sorted.toSeq).toMap
    assert(s(1L) == Seq(1L, 2L))
    assert(s(2L) == Seq(1L))
  }

  test("sessionWindows STREAMING: sessions emit as the watermark passes " +
      "last + gap; an open sentinel session never reaches the sink") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, Long, Long, String, Double)]
    val q = StreamOps.toMemorySink(
      StreamOps.sessionWindows(
        in.toDF().toDF("event_id", "ts", "user_id", "event_type", "value"),
        "30 minutes", "1 hour"),
      "sess_stream", OutputMode.Append)
    val streamed = try {
      // user 1: two events 10 min apart (one session), then one 2h
      // later (second session); user 2: one event
      in.addData((1L, H, 1L, "click", 1.0),
        (2L, H + 600L * 1000000000L, 1L, "click", 2.0),
        (3L, 3 * H, 1L, "click", 3.0), (4L, H, 2L, "view", 4.0))
      q.processAllAvailable()
      // sentinel user 9 far in the future: advances the watermark so
      // every real session closes; its own session stays open forever
      in.addData((90L, 100 * H, 9L, "z", 0.0)); q.processAllAvailable()
      in.addData((91L, 101 * H, 9L, "z", 0.0)); q.processAllAvailable()
      spark.table("sess_stream")
        .select(unix_millis($"session_start").as("s"),
          unix_millis($"session_end").as("e"), $"user_id", $"n_events",
          $"sum_value")
        .as[(Long, Long, Long, Long, Double)].collect().toSet
    } finally q.stop()
    val hMs = 3600000L
    assert(streamed == Set(
      (hMs, hMs + 40 * 60000L, 1L, 2L, 3.0),       // ends last+gap
      (3 * hMs, 3 * hMs + 30 * 60000L, 1L, 1L, 3.0),
      (hMs, hMs + 30 * 60000L, 2L, 1L, 4.0)),
      s"got $streamed")
    assert(!streamed.exists(_._3 == 9L), "open sentinel session leaked")
    // NOTE (Spark 4.1.2): do NOT put a comparison filter above a
    // streaming session aggregation — it empties the append output
    // (q262 discovered this; the sentinel design makes one unnecessary).
  }

  test("dedupStream: duplicate content dropped across micro-batches within watermark") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, Long, Long, String, Double)]
    val q = StreamOps.toMemorySink(
      StreamOps.dedupStream(
        in.toDF().toDF("event_id", "ts", "user_id", "event_type", "value"),
        "event_type", "2 hours"),
      "dedup", OutputMode.Append)
    try {
      in.addData((1L, 0L, 1L, "click", 1.0), (2L, H / 4, 1L, "click", 2.0))
      q.processAllAvailable()
      // same content in a later micro-batch, still within the watermark
      in.addData((3L, H / 2, 2L, "click", 3.0), (4L, H / 2, 2L, "view", 4.0))
      q.processAllAvailable()
      val ids = spark.table("dedup").select($"event_id").as[Long].collect().toSet
      // exactly ONE of the same-batch duplicates survives (which one is
      // not guaranteed within a micro-batch)...
      assert((ids & Set(1L, 2L)).size == 1)
      // ...the cross-batch duplicate within the watermark is dropped...
      assert(!ids.contains(3L))
      // ...and distinct content is kept
      assert(ids.contains(4L))
    } finally q.stop()
  }

  test("dedupStream: batch fallback behaves as exact dedup") {
    val out = StreamOps.dedupStream(
      mkDf(Seq((1L, 0L, 1L, "click", 1.0), (2L, H / 4, 1L, "click", 2.0),
        (3L, H / 2, 2L, "view", 3.0))),
      "event_type", "2 hours")
      .select($"event_type").as[String].collect().toSeq.sorted
    assert(out == Seq("click", "view"))
  }

  test("dedupStreamAgainst: stream anti-joins the static corpus index; batch twin equal") {
    implicit val sqlCtx = spark.sqlContext
    val index = Seq("known doc body", "another known body").toDF("text")
      .select(md5($"text".cast("binary")).as("content_hash"))
    val in = MemoryStream[(Long, String)]
    val q = StreamOps.toMemorySink(
      StreamOps.dedupStreamAgainst(
        in.toDF().toDF("doc_id", "text"), "text", index),
      "dedup_against", OutputMode.Append)
    try {
      in.addData((1L, "known doc body"), (2L, "fresh content one"))
      q.processAllAvailable()
      in.addData((3L, "another known body"), (4L, "fresh content two"),
        (5L, "fresh content one")) // in-stream dup of 2: survives by contract
      q.processAllAvailable()
      val ids = spark.table("dedup_against")
        .select($"doc_id").as[Long].collect().toSet
      assert(ids == Set(2L, 4L, 5L))
    } finally q.stop()
    // batch twin: same call, same result
    val batch = StreamOps.dedupStreamAgainst(
      Seq((1L, "known doc body"), (2L, "fresh content one"),
        (3L, "another known body"), (4L, "fresh content two"),
        (5L, "fresh content one")).toDF("doc_id", "text"), "text", index)
      .select($"doc_id").as[Long].collect().toSet
    assert(batch == Set(2L, 4L, 5L))
  }

  test("dedupNearStreamAgainst: near-dups of the static index dropped on the stream; batch twin equals brute force") {
    implicit val sqlCtx = spark.sqlContext
    import graft.ops.Dedup
    val corpus = Seq(
      (100L, "the quick brown fox jumps over the lazy dog sat on the mat"),
      (200L, "completely different corpus body about spark query engines"))
      .toDF("doc_id", "text")
    val index = Dedup.simhashes(corpus, "doc_id", "text")
    // stream docs: exact dup of 100, one-word edit of 100 (near dup),
    // and genuinely fresh text
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog sat on the mat"),
      (2L, "the quick brown fox jumps over the lazy cat sat on the mat"),
      (3L, "totally unrelated fresh text with novel words and phrasing"))
    // ground truth: brute-force hamming of each doc's simhash vs index
    val sims = Dedup.simhashes(docs.toDF("doc_id", "text"),
      "doc_id", "text")
    val truth = sims.crossJoin(index.select($"simhash".as("c")))
      .groupBy($"doc_id")
      .agg(min(bit_count($"simhash".bitwiseXOR($"c"))).as("h"))
      .filter($"h" > 3).select($"doc_id").as[Long].collect().toSet
    assert(truth == Set(3L)) // docs 1 (ham 0) and 2 (near) are dups
    val in = MemoryStream[(Long, String)]
    val q = StreamOps.toMemorySink(
      StreamOps.dedupNearStreamAgainst(
        in.toDF().toDF("doc_id", "text"), "text", index, maxHam = 3),
      "near_against", OutputMode.Append)
    try {
      in.addData(docs: _*)
      q.processAllAvailable()
      val ids = spark.table("near_against")
        .select($"doc_id").as[Long].collect().toSet
      assert(ids == truth)
    } finally q.stop()
    // batch twin: same call on a batch frame, same survivors
    val batch = StreamOps.dedupNearStreamAgainst(
      docs.toDF("doc_id", "text"), "text", index, maxHam = 3)
      .select($"doc_id").as[Long].collect().toSet
    assert(batch == truth)
    // survivor keeps its original columns only (helper cols dropped)
    assert(StreamOps.dedupNearStreamAgainst(
      docs.toDF("doc_id", "text"), "text", index, maxHam = 3)
      .columns.toSeq == Seq("doc_id", "text"))
  }

  test("mapGroupsWithState: running per-user state across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, Double)]
    val q = StreamOps.toMemorySink(
      StreamOps.runningUserState(in.toDS()).toDF(), "state", OutputMode.Update)
    try {
      in.addData((1L, 1.0), (1L, 2.0), (2L, 5.0))
      q.processAllAvailable()
      in.addData((1L, 4.0))
      q.processAllAvailable()
      // last emitted state per user
      val last = spark.table("state")
        .groupBy($"user_id")
        .agg(max(struct($"n_events", $"sum_value")).as("s"))
        .select($"user_id", $"s.n_events", $"s.sum_value")
        .as[(Long, Long, Double)].collect()
        .map(r => r._1 -> ((r._2, r._3))).toMap
      assert(last(1L) == ((3L, 7.0)))
      assert(last(2L) == ((1L, 5.0)))
    } finally q.stop()
  }

  private val Min = 60L * 1000000000L // 1 min in ns
  // (event_id, ts_ns, user_id): left = clicks, right = purchases.
  // Window [0, +30 min]; boundary cases at exactly +30 min (in) and
  // +30 min + 1 µs (out — µs is the event-time precision). All times
  // sit above a base offset: a streaming row whose event time equals
  // the INITIAL watermark (epoch 0) is dropped as late on input.
  private val B = 1000L * Min
  private val ijClicks = Seq((1L, B, 1L), (2L, B + 100L * Min, 2L))
  private val ijPurchases = Seq(
    (10L, B + 30L * Min, 1L),          // +30 min exactly: included
    (11L, B + 30L * Min + 1000L, 1L),  // 1 µs past the bound: excluded
    (12L, B + 99L * Min, 2L),          // 1 min BEFORE user 2's click: excluded
    (13L, B + 110L * Min, 2L),         // +10 min: included
    (14L, B, 3L))                      // no click for user 3: excluded
  private val ijExpected = Set((1L, 10L), (2L, 13L))

  test("intervalJoin: batch form pairs within [0,+30min], boundaries at µs precision") {
    val out = StreamOps.intervalJoin(
      ijClicks.toDF("event_id", "ts", "user_id"),
      ijPurchases.toDF("event_id", "ts", "user_id"),
      "user_id", 0L, 30L * 60000L, "1 hour")
      .select($"event_id", $"r_event_id").as[(Long, Long)].collect().toSet
    assert(out == ijExpected)
  }

  test("intervalJoin: stream-stream twin matches the batch result") {
    implicit val sqlCtx = spark.sqlContext
    val lIn = MemoryStream[(Long, Long, Long)]
    val rIn = MemoryStream[(Long, Long, Long)]
    val q = StreamOps.toMemorySink(
      StreamOps.intervalJoin(
        lIn.toDF().toDF("event_id", "ts", "user_id"),
        rIn.toDF().toDF("event_id", "ts", "user_id"),
        "user_id", 0L, 30L * 60000L, "1 hour")
        .select($"event_id", $"r_event_id"),
      "ij", OutputMode.Append)
    try {
      // feed in event-time order (as a real source would): the watermark
      // trails the max seen time, so in-window rows are never late
      lIn.addData(ijClicks.head)
      rIn.addData(ijPurchases.filter(_._2 <= B + 31L * Min): _*)
      q.processAllAvailable()
      lIn.addData(ijClicks(1))
      rIn.addData(ijPurchases.filter(_._2 > B + 31L * Min): _*)
      q.processAllAvailable()
      assert(spark.table("ij").as[(Long, Long)].collect().toSet == ijExpected)
      // state bounding: after the 110-min row the watermark is 50 min, so
      // a user-1 purchase at +5 min — in-window for the batch form — is
      // LATE: its click's join state was evicted, and the row is dropped.
      // This is the eviction the range condition + watermark buy at scale.
      val droppedBefore = q.recentProgress.flatMap(_.stateOperators)
        .map(_.numRowsDroppedByWatermark).sum
      rIn.addData((15L, B + 5L * Min, 1L))
      q.processAllAvailable()
      assert(spark.table("ij").as[(Long, Long)].collect().toSet == ijExpected)
      // the state store really exercised the cleanup: the late row shows
      // up in the watermark-drop metric, it didn't just fail to match
      val droppedAfter = q.recentProgress.flatMap(_.stateOperators)
        .map(_.numRowsDroppedByWatermark).sum
      assert(droppedAfter > droppedBefore,
        s"late row not dropped by watermark ($droppedBefore -> $droppedAfter)")
    } finally q.stop()
  }

  test("curateStream: stateless gate chain on a stream; batch twin identical") {
    implicit val sqlCtx = spark.sqlContext
    val knownRaw = "the known corpus document body is here and the words " +
      "stay the same"
    val index = Seq(knownRaw).toDF("text")
      .select(md5($"text".cast("binary")).as("content_hash"))
    val rows = Seq(
      (1L, "the quick brown fox jumps over the lazy dog and then the " +
        "other fox follows along the river bank", "en", "s0"), // survives
      (2L, "der hund und die katze und das haus ist hier gross war alt",
        "de", "s0"),                       // language gate drops
      (3L, "the dog", "en", "s0"),         // quality gate drops (short)
      (4L, "The KNOWN corpus document body is here, and the words stay " +
        "the same!", "en", "s0"),          // normalizes into the index -> drop
      (5L, "!!! ??? ...", "en", "s0"))     // normalize-empty -> drop
    def run(df: org.apache.spark.sql.DataFrame) =
      StreamOps.curateStream(df, Set("en"), 0.6,
        scrubPii = false, existingHashes = Some(index))
    val in = MemoryStream[(Long, String, String, String)]
    val q = StreamOps.toMemorySink(
      run(in.toDF().toDF("doc_id", "text", "lang", "source")),
      "curate_stream", OutputMode.Append)
    val streamed = try {
      in.addData(rows.take(2): _*); q.processAllAvailable()
      in.addData(rows.drop(2): _*); q.processAllAvailable()
      spark.table("curate_stream").collect().toSet
    } finally q.stop()
    val batch = run(rows.toDF("doc_id", "text", "lang", "source"))
      .collect().toSet
    assert(streamed == batch)
    val ids = streamed.map(_.getAs[Long]("doc_id"))
    assert(ids == Set(1L))
    // the surviving row carries the gate evidence
    val r = streamed.head
    assert(r.getAs[String]("pred_lang") == "en" &&
      r.getAs[Double]("quality_score") >= 0.6)
  }

  test("curateStream: blocklist gate drops any-hit rows on the stream, batch twin identical") {
    implicit val sqlCtx = spark.sqlContext
    val rows = Seq(
      (1L, "the quick brown fox jumps over the lazy dog and then the " +
        "other fox follows along the river bank", "en", "s0"), // survives
      (2L, "the casino opened late and the quick crowd walked in from " +
        "the river bank to see the show begin", "en", "s0"))   // blocklist
    def run(df: org.apache.spark.sql.DataFrame) =
      StreamOps.curateStream(df, Set("en"), 0.6,
        blocklist = Some(Seq("casino", "lottery")))
    val in = MemoryStream[(Long, String, String, String)]
    val q = StreamOps.toMemorySink(
      run(in.toDF().toDF("doc_id", "text", "lang", "source")),
      "curate_stream_bl", OutputMode.Append)
    val streamed = try {
      in.addData(rows: _*); q.processAllAvailable()
      spark.table("curate_stream_bl").collect().toSet
    } finally q.stop()
    val batch = run(rows.toDF("doc_id", "text", "lang", "source"))
      .collect().toSet
    assert(streamed == batch)
    assert(streamed.map(_.getAs[Long]("doc_id")) == Set(1L))
  }

  test("curateStream: near-dedup gate drops a one-word edit of the corpus, batch twin identical") {
    implicit val sqlCtx = spark.sqlContext
    import graft.ops.{Dedup, Text}
    val corpusText = "the known corpus document body is here and the " +
      "words stay the same for all time in this place"
    // the index is built over NORMALIZED corpus text — the same form
    // the gate chain compares in
    val index = Dedup.simhashes(
      Seq((100L, corpusText)).toDF("doc_id", "text")
        .withColumn("text", Text.normalize(col("text"))),
      "doc_id", "text")
    val rows = Seq(
      (1L, "the quick brown fox jumps over the lazy dog and then the " +
        "other fox follows along the river bank", "en", "s0"), // survives
      // normalizes onto the corpus text (case/punct differences only)
      // -> hamming 0 against the index; SimHash distance of a real
      // word edit is content-dependent, so the deterministic fixture
      // pins the gate at the distance every corpus member sits at
      (2L, "The KNOWN corpus document body is here, and the words stay " +
        "the same for all time in this place!", "en", "s0"))   // dup
    def run(df: org.apache.spark.sql.DataFrame) =
      StreamOps.curateStream(df, Set("en"), 0.6,
        nearIndex = Some(index), nearMaxHam = 3)
    val in = MemoryStream[(Long, String, String, String)]
    val q = StreamOps.toMemorySink(
      run(in.toDF().toDF("doc_id", "text", "lang", "source")),
      "curate_stream_nd", OutputMode.Append)
    val streamed = try {
      in.addData(rows: _*); q.processAllAvailable()
      spark.table("curate_stream_nd").collect().toSet
    } finally q.stop()
    val batch = run(rows.toDF("doc_id", "text", "lang", "source"))
      .collect().toSet
    assert(streamed == batch)
    assert(streamed.map(_.getAs[Long]("doc_id")) == Set(1L))
  }

  test("anomalyStream: windows close on watermark; rows equal the batch twin") {
    import graft.ops.Events
    implicit val sqlCtx = spark.sqlContext
    // type A hourly counts 1, 2, 3, 3 (hours 1-4 — ts=0 would sit ON
    // the initial watermark and be dropped as late) — with trailing=3
    // only the hour-4 window has a full baseline {1,2,3}: mean 2,
    // var 2/3, z = (3-2)/sqrt(2/3) ≈ 1.2247 < 2 → reported, not flagged
    val aRows = (0 until 1).map(i => (1L + i, H, 1L, "A", 0.0)) ++
      (0 until 2).map(i => (10L + i, 2 * H, 1L, "A", 0.0)) ++
      (0 until 3).map(i => (20L + i, 3 * H, 1L, "A", 0.0)) ++
      (0 until 3).map(i => (30L + i, 4 * H, 1L, "A", 0.0))
    val in = MemoryStream[(Long, Long, Long, String, Double)]
    val q = StreamOps.toMemorySink(
      StreamOps.anomalyStream(
        in.toDF().toDF("event_id", "ts", "user_id", "event_type", "value"),
        3600000L, trailing = 3, zThresh = 2.0, watermark = "0 seconds")
        .toDF(),
      "anom_stream", OutputMode.Append)
    val streamed = try {
      in.addData(aRows: _*); q.processAllAvailable()
      // sentinels push the watermark past hour 4's end and then fire
      // the event-time timeout that flushes the closed window
      in.addData((90L, 6 * H, 9L, "Z", 0.0)); q.processAllAvailable()
      in.addData((91L, 7 * H, 9L, "Z", 0.0)); q.processAllAvailable()
      spark.table("anom_stream")
        .as[(String, Long, Long, Double, Double, Option[Double], Boolean)]
        .collect().toSet
    } finally q.stop()
    val batch = Events.windowAnomaly(
      mkDf(aRows ++ Seq((90L, 6 * H, 9L, "Z", 0.0), (91L, 7 * H, 9L, "Z", 0.0))),
      3600000L, 3, 2.0)
      .as[(String, Long, Long, Double, Double, Option[Double], Boolean)]
      .collect().toSet
    assert(streamed == batch, s"stream $streamed vs batch $batch")
    assert(streamed.size == 1)
    val r = streamed.head
    assert(r._1 == "A" && r._2 == 4 * 3600000L && r._3 == 3L && !r._7)
    assert(math.abs(r._6.get - 1.0 / math.sqrt(2.0 / 3)) < 1e-6)
  }

  test("robustAnomalyStream: windows close on watermark; rows equal " +
      "the batch Hampel twin; a spike flags") {
    import graft.ops.Events
    implicit val sqlCtx = spark.sqlContext
    // type A hourly counts 2, 2, 2, 9, 50 (hours 1-5), trailing=4:
    // hour 5 is the only full-baseline window — trail sorted
    // [2,2,2,9], med2=4, devs [0,0,0,14], dm2=0 -> zero-MAD fallback,
    // dx=|100-4|=96 > 0 -> flags
    val counts = Seq(2, 2, 2, 9, 50)
    val aRows = counts.zipWithIndex.flatMap { case (c, i) =>
      (0 until c).map(j => ((i * 100 + j).toLong, (i + 1).toLong * H,
        1L, "A", 0.0))
    }
    val in = MemoryStream[(Long, Long, Long, String, Double)]
    val q = StreamOps.toMemorySink(
      StreamOps.robustAnomalyStream(
        in.toDF().toDF("event_id", "ts", "user_id", "event_type", "value"),
        3600000L, trailing = 4, kNum = 3L, kDen = 1L,
        watermark = "0 seconds").toDF(),
      "robust_anom_stream", OutputMode.Append)
    val sentinels = Seq((900L, 7 * H, 9L, "Z", 0.0),
      (901L, 8 * H, 9L, "Z", 0.0))
    val streamed = try {
      in.addData(aRows: _*); q.processAllAvailable()
      in.addData(sentinels.head); q.processAllAvailable()
      in.addData(sentinels.last); q.processAllAvailable()
      spark.table("robust_anom_stream")
        .as[(String, Long, Long, Double, Double, Boolean)]
        .collect().toSet
    } finally q.stop()
    val batch = Events.windowAnomalyRobust(mkDf(aRows ++ sentinels),
        3600000L, 4, 3L, 1L)
      .as[(String, Long, Long, Double, Double, Boolean)]
      .collect().toSet
    assert(streamed == batch, s"stream $streamed vs batch $batch")
    assert(streamed.size == 1)
    val r = streamed.head
    assert(r._1 == "A" && r._3 == 50L && r._4 == 2.0 && r._5 == 0.0 &&
      r._6)
  }

  test("curateStream kill/recover: restart from checkpoint is exactly-once " +
      "(no loss, no dups) vs the batch twin") {
    // the production property the per-gate twins can't show: a file
    // sink + checkpoint survive a query killed with data enqueued but
    // uncommitted. Stop fires mid-flight — wherever it lands, the
    // restarted query must converge to EXACTLY the batch result (the
    // file-sink metadata log hides any orphaned files of an
    // uncommitted trigger; committed offsets are never replayed).
    implicit val sqlCtx = spark.sqlContext
    val rows = Seq(
      (1L, "the quick brown fox jumps over the lazy dog and then the " +
        "other fox follows along the river bank", "en", "s0"),
      (2L, "der hund und die katze und das haus ist hier gross war alt",
        "de", "s0"),
      (3L, "the dog", "en", "s0"),
      (4L, "a second surviving document with many plain english words " +
        "that keep the quality score comfortably above the gate", "en", "s1"),
      (5L, "!!! ??? ...", "en", "s1"),
      (6L, "a third surviving document where the english words flow on " +
        "and on so the scorer has plenty of signal to work with", "en", "s1"))
    def run(df: org.apache.spark.sql.DataFrame) =
      StreamOps.curateStream(df, Set("en"), 0.6)
    val in = MemoryStream[(Long, String, String, String)]
    val out = java.nio.file.Files.createTempDirectory("graft-ss-out")
    val ckpt = java.nio.file.Files.createTempDirectory("graft-ss-ckpt")
    def start() =
      run(in.toDF().toDF("doc_id", "text", "lang", "source"))
        .writeStream.format("parquet")
        .option("path", out.toString)
        .option("checkpointLocation", ckpt.toString)
        .outputMode(OutputMode.Append).start()
    val q1 = start()
    try {
      in.addData(rows.take(3): _*)
      q1.processAllAvailable()           // first batch committed
      in.addData(rows.drop(3): _*)       // enqueued, NOT awaited
    } finally q1.stop()                  // the kill
    val q2 = start()                     // recovery from the checkpoint
    try q2.processAllAvailable() finally q2.stop()
    val got = spark.read.parquet(out.toString).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("text")))
      .toSeq.sorted
    val batch = run(rows.toDF("doc_id", "text", "lang", "source"))
      .collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("text")))
      .toSeq.sorted
    // multiset equality: no lost rows AND no duplicated rows
    assert(got == batch, s"stream $got vs batch $batch")
    assert(got.map(_._1) == Seq(1L, 4L, 6L))
  }

  test("a stateful query restarted from its checkpoint keeps its first " +
      "start's state partition count, whatever the session says") {
    // the withStreamStatePartitions contract: state sizing is decided
    // at a query's first start — Spark restores the checkpointed
    // spark.sql.shuffle.partitions on restart
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, Long, Long, String, Double)]
    val ckpt = java.nio.file.Files.createTempDirectory("graft-ss-parts")
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    def start(partitions: Int, row: (Long, Long, Long, String, Double)) = {
      spark.conf.set("spark.sql.shuffle.partitions", partitions.toString)
      val q = StreamOps.sessionWindows(
          in.toDF().toDF("event_id", "ts", "user_id", "event_type", "value"),
          "30 minutes", "1 hour")
        .writeStream.format("noop")
        .option("checkpointLocation", ckpt.toString)
        .outputMode(OutputMode.Append).start()
      try {
        in.addData(row)
        q.processAllAvailable()
        q.recentProgress.filter(_.stateOperators.nonEmpty).last
          .stateOperators(0).numShufflePartitions
      } finally q.stop()
    }
    try {
      assert(start(3, (1L, 0L, 1L, "click", 1.0)) == 3L)
      assert(start(7, (2L, 3 * H, 2L, "view", 2.0)) == 3L)
    } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
  }

  test("hllRegisters runs UNCHANGED as a streaming aggregation with no " +
      "watermark — state is bounded by construction — and the final " +
      "register table equals the batch twin") {
    import graft.ops.Sketch
    implicit val sqlCtx = spark.sqlContext
    val rows = Seq(
      (1L, "a b c d", "en"), (2L, "c d e f", "en"),
      (3L, "g h i j", "de"), (4L, "a a a k", "de"), (5L, "k l m n", "de"))
    val in = MemoryStream[(Long, String, String)]
    val q = StreamOps.toMemorySink(
      Sketch.hllRegisters(
        in.toDF().toDF("doc_id", "text", "lang"), "text", "lang", 4, "s"),
      "hll_regs", OutputMode.Complete)
    try {
      in.addData(rows.take(2): _*); q.processAllAvailable()
      in.addData(rows.drop(2): _*); q.processAllAvailable()
      val stream = spark.table("hll_regs")
        .as[(String, Long, Long)].collect().toSet
      val batch = Sketch.hllRegisters(
        rows.toDF("doc_id", "text", "lang"), "text", "lang", 4, "s")
        .as[(String, Long, Long)].collect().toSet
      assert(stream == batch)
      // state bound: at most m = 16 registers per key, ever
      assert(stream.groupBy(_._1).forall(_._2.size <= 16))
    } finally q.stop()
    // and the day-shard composition: merge(regs(day1), regs(day2)) is
    // exactly regs(all), so estimates from merged shards match too
    val day1 = Sketch.hllRegisters(rows.take(2).toDF("doc_id", "text", "lang"),
      "text", "lang", 4, "s")
    val day2 = Sketch.hllRegisters(rows.drop(2).toDF("doc_id", "text", "lang"),
      "text", "lang", 4, "s")
    val whole = Sketch.hllRegisters(rows.toDF("doc_id", "text", "lang"),
      "text", "lang", 4, "s")
    val mergedEst = Sketch.hllEstimate(Sketch.hllMerge(day1, day2), 4)
      .as[(String, Long, Double)].collect().toSet
    val wholeEst = Sketch.hllEstimate(whole, 4)
      .as[(String, Long, Double)].collect().toSet
    assert(mergedEst == wholeEst)
  }

  test("scd2Stream: emitted closed versions across micro-batches " +
      "equal the batch twin's closed rows; open tail stays in state") {
    implicit val sqlCtx = spark.sqlContext
    val M = 60L * 1000000000L
    // user 10: A A B | B A (change B->A straddles the batch boundary);
    // user 20: B | C; user 30 appears only in batch 2
    val batch1 = Seq((1L, 0L * M, 10L, "A", 0.0),
      (2L, 5L * M, 10L, "A", 0.0), (3L, 10L * M, 10L, "B", 0.0),
      (6L, 7L * M, 20L, "B", 0.0))
    val batch2 = Seq((4L, 15L * M, 10L, "B", 0.0),
      (5L, 20L * M, 10L, "A", 0.0), (7L, 30L * M, 20L, "C", 0.0),
      (8L, 2L * M, 30L, "X", 0.0))
    val in = MemoryStream[(Long, Long, Long, String, Double)]
    val q = StreamOps.toMemorySink(
      StreamOps.scd2Stream(
        in.toDF().toDF("event_id", "ts", "user_id", "event_type",
          "value")).toDF(),
      "scd2s", OutputMode.Append)
    try {
      in.addData(batch1: _*); q.processAllAvailable()
      in.addData(batch2: _*); q.processAllAvailable()
      val emitted = spark.table("scd2s")
        .as[(Long, Long, String, Long, Option[Long], Boolean)]
        .collect().toSet
      val batchClosed = Events.scd2(
        (batch1 ++ batch2).toDF("event_id", "ts", "user_id",
          "event_type", "value"), "user_id", "event_type")
        .filter(!col("is_current"))
        .as[(Long, Long, String, Long, Option[Long], Boolean)]
        .collect().toSet
      assert(emitted == batchClosed && emitted.nonEmpty)
      // the open tail is exactly what was NOT emitted: one per key
      assert(emitted.map(_._1) == Set(10L, 20L))
    } finally q.stop()
  }

  test("thresholdSweepStream: each micro-batch re-derivation equals the " +
      "batch sweep over all rows seen so far") {
    implicit val sqlCtx = spark.sqlContext
    import graft.ops.Quality
    val b1 = Seq((0.9, true), (0.8, false), (0.9, true), (0.5, true))
    val b2 = Seq((0.7, false), (0.5, false), (0.3, true), (0.8, true))
    val in = MemoryStream[(Double, Boolean)]
    @volatile var last: Set[(Double, Long, Long, Long, Double,
      Double, Double, Boolean)] = Set.empty
    val q = StreamOps.thresholdSweepStream(
        in.toDF().toDF("score", "is_en"), "score", col("is_en")) {
        (sweep, _) =>
          last = sweep.as[(Double, Long, Long, Long, Double, Double,
            Double, Boolean)].collect().toSet
      }.start()
    try {
      def batchSet(rows: Seq[(Double, Boolean)]) =
        Quality.thresholdSweep(rows.toDF("score", "is_en"), "score",
            col("is_en"))
          .as[(Double, Long, Long, Long, Double, Double, Double, Boolean)]
          .collect().toSet
      in.addData(b1: _*); q.processAllAvailable()
      assert(last == batchSet(b1) && last.nonEmpty)
      in.addData(b2: _*); q.processAllAvailable()
      assert(last == batchSet(b1 ++ b2))
    } finally q.stop()
  }

  test("psiStream: each micro-batch re-derivation equals the batch PSI " +
      "of the static baseline vs all rows seen so far") {
    implicit val sqlCtx = spark.sqlContext
    import graft.ops.Quality
    // baseline: uniform-ish scores; stream drifts upward in batch 2
    val base = (1 to 40).map(i => i / 40.0).toDF("score")
    val b1 = Seq(0.1, 0.3, 0.4, 0.6, 0.7, 0.9)
    val b2 = Seq(0.8, 0.85, 0.9, 0.95, 0.9, 0.85, 0.8, 0.9)
    val in = MemoryStream[Double]
    @volatile var last: Set[(Long, Long, Long, Option[Double])] = Set.empty
    val q = StreamOps.psiStream(base, in.toDF().toDF("score"), "score", 4) {
        (p, _) =>
          last = p.as[(Long, Long, Long, Option[Double])].collect().toSet
      }.start()
    try {
      def batchSet(rows: Seq[Double]) =
        Quality.psi(base, rows.toDF("score"), "score", 4)
          .as[(Long, Long, Long, Option[Double])].collect().toSet
      in.addData(b1: _*); q.processAllAvailable()
      assert(last == batchSet(b1) && last.nonEmpty)
      in.addData(b2: _*); q.processAllAvailable()
      assert(last == batchSet(b1 ++ b2))
      // and the drifted stream actually moves the statistic
      assert(last.head._4.exists(_ > 0.0))
    } finally q.stop()
  }

  test("sprtStream: each micro-batch re-derivation equals the batch " +
      "trace over all events seen so far; decisions move with the data") {
    implicit val sqlCtx = spark.sqlContext
    import graft.ops.Events
    val D = 86400L * 1000000000L
    // (event_id, ts, user_id, event_type, value): day d = user d
    // converting -> llr climbs ln4 per day (the EventsSpec walk)
    def day(d: Long, conv: Boolean) =
      (d * 10L, (d - 1L) * D, d, if (conv) "purchase" else "view", 1.0)
    val b1 = Seq(day(1, conv = true), day(2, conv = true))
    val b2 = Seq(day(3, conv = true), day(4, conv = true))
    val in = MemoryStream[(Long, Long, Long, String, Double)]
    @volatile var last: Set[(Long, Long, Long, Long, Long, Double,
      String)] = Set.empty
    val q = StreamOps.sprtStream(
        in.toDF().toDF("event_id", "ts", "user_id", "event_type", "value"),
        "purchase", 0.2, 0.8, 0.05, 0.05) { (trace, _) =>
        last = trace.as[(Long, Long, Long, Long, Long, Double, String)]
          .collect().toSet
      }.start()
    try {
      def batchSet(rows: Seq[(Long, Long, Long, String, Double)]) =
        Events.sprtTrace(rows
            .toDF("event_id", "ts", "user_id", "event_type", "value"),
            "purchase", 0.2, 0.8, 0.05, 0.05)
          .as[(Long, Long, Long, Long, Long, Double, String)]
          .collect().toSet
      in.addData(b1: _*); q.processAllAvailable()
      assert(last == batchSet(b1) && last.nonEmpty)
      assert(last.forall(_._7 == "continue"))
      in.addData(b2: _*); q.processAllAvailable()
      assert(last == batchSet(b1 ++ b2))
      // day 3 crosses ln19: the live stopping rule fires
      assert(last.exists(_._7 == "accept_h1"))
    } finally q.stop()
  }

  test("corpusReportStream: each micro-batch card equals the batch " +
      "card over all documents seen so far") {
    implicit val sqlCtx = spark.sqlContext
    import graft.ops.Quality
    val b1 = Seq((1L, "the quick brown fox jumps over the dog", "s1", "en"),
      (2L, "der hund und die katze", "s2", "de"))
    val b2 = Seq((3L, "a b c d e f g h i j k", "s1", "en"),
      (4L, "the cat sat on the mat", "s2", "en"))
    val in = MemoryStream[(Long, String, String, String)]
    @volatile var last: Seq[org.apache.spark.sql.Row] = Seq.empty
    val q = StreamOps.corpusReportStream(
        in.toDF().toDF("doc_id", "text", "source", "lang"),
        "source", "lang", "text") { (card, _) =>
        last = card.orderBy("source", "lang").collect().toSeq
      }.start()
    try {
      def batchCard(rows: Seq[(Long, String, String, String)]) =
        Quality.corpusReportFinish(Quality.corpusReportState(
            rows.toDF("doc_id", "text", "source", "lang"),
            "source", "lang", "text"))
          .orderBy("source", "lang").collect().toSeq
      in.addData(b1: _*); q.processAllAvailable()
      assert(last == batchCard(b1) && last.nonEmpty)
      in.addData(b2: _*); q.processAllAvailable()
      assert(last == batchCard(b1 ++ b2))
    } finally q.stop()
  }

  test("exportStream: idempotent batchId landing (a replayed micro-batch " +
      "cannot duplicate documents at rest) and the Rq277b cadence law " +
      "(skipped refreshes leave the on-demand manifest equal to " +
      "per-trigger refreshing)") {
    implicit val sqlCtx = spark.sqlContext
    import graft.app.CorpusPipeline
    val cfg = CorpusPipeline.Config(minQuality = 0.0, jaccardTau = 0.9,
      chunkTokens = 8)
    val weights = Map("s0" -> 0.5, "s1" -> 0.5)
    val b1 = Seq(
      (1L, "the quick brown fox jumps over the lazy dog near the barn",
        "en", "s0"),
      (2L, "a tall ship sails across the wide ocean while sailors watch",
        "en", "s1"))
    val b2 = Seq(
      (3L, "the old library keeps a rare map of ancient roads and trade",
        "en", "s0"),
      (4L, "machines hum in the workshop as gears turn and belts whir on",
        "en", "s1"))
    def runStream(refreshEvery: Int)
        : (String, Seq[org.apache.spark.sql.Row], Int) = {
      val atRest = java.nio.file.Files
        .createTempDirectory("graft_export_stream").toString
      val in = MemoryStream[(Long, String, String, String)]
      @volatile var last: Seq[org.apache.spark.sql.Row] = Seq.empty
      var refreshes = 0
      val q = StreamOps.exportStream(
          in.toDF().toDF("doc_id", "text", "lang", "source"),
          atRest, cfg, weights, tokenBudget = 200L, realizeSalt = "rs",
          seqTokens = 8, shards = 2, refreshEvery = refreshEvery) {
          (manifest, _) =>
            refreshes += 1
            last = manifest.orderBy("shard").collect().toSeq
        }.start()
      try {
        in.addData(b1: _*); q.processAllAvailable()
        in.addData(b2: _*); q.processAllAvailable()
      } finally q.stop()
      (atRest, last, refreshes)
    }
    val (dirA, perTrigger, nA) = runStream(1)
    assert(nA == 2 && perTrigger.nonEmpty)
    // landing layout: one batch=<id> subdir per micro-batch, and the
    // at-rest SET is exactly the input docs — no duplicate landings
    val atRestDocs = spark.read.parquet(dirA)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(atRestDocs == Seq(1L, 2L, 3L, 4L))
    // idempotence under foreachBatch's at-least-once contract: re-land
    // batch 0 verbatim (what a checkpointed restart replay does) — the
    // overwrite makes it a no-op, so the refreshed manifest is unchanged
    b1.toDF("doc_id", "text", "lang", "source")
      .write.mode("overwrite").parquet(s"$dirA/batch=0")
    var replayed: Seq[org.apache.spark.sql.Row] = Seq.empty
    StreamOps.refreshExport(spark, dirA, cfg, weights, 200L, "rs", 8, 2) {
      m => replayed = m.orderBy("shard").collect().toSeq }
    assert(replayed == perTrigger,
      "replayed batch landing changed the manifest")
    // cadence law: refreshEvery larger than the batch count skips every
    // in-stream refresh after batch 0; the on-demand refresh over the
    // landed set equals the per-trigger stream's final manifest — the
    // manifest is a pure function of the at-rest set
    val (dirB, _, nB) = runStream(1000)
    assert(nB == 1) // only batch 0 (0 % 1000 == 0) refreshed in-stream
    var onDemand: Seq[org.apache.spark.sql.Row] = Seq.empty
    StreamOps.refreshExport(spark, dirB, cfg, weights, 200L, "rs", 8, 2) {
      m => onDemand = m.orderBy("shard").collect().toSeq }
    assert(onDemand == perTrigger,
      "skipped in-stream refreshes changed the final manifest")
    // never-in-stream cadence (refreshEvery = 0, the q277 production
    // posture): zero in-stream refreshes, landing still maintained,
    // on-demand refresh still equals the per-trigger stream's manifest
    val (dirC, _, nC) = runStream(0)
    assert(nC == 0, s"refreshEvery=0 must never refresh in-stream, got $nC")
    var onDemand0: Seq[org.apache.spark.sql.Row] = Seq.empty
    StreamOps.refreshExport(spark, dirC, cfg, weights, 200L, "rs", 8, 2) {
      m => onDemand0 = m.orderBy("shard").collect().toSeq }
    assert(onDemand0 == perTrigger,
      "never-in-stream cadence changed the final manifest")
  }

  test("exportStream kill/recover: a checkpointed restart converges the " +
      "at-rest set and final manifest to the one-shot batch export — " +
      "the idempotent batchId landing under an ACTUAL restart") {
    implicit val sqlCtx = spark.sqlContext
    import graft.app.CorpusPipeline
    val cfg = CorpusPipeline.Config(minQuality = 0.0, jaccardTau = 0.9,
      chunkTokens = 8)
    val weights = Map("s0" -> 0.5, "s1" -> 0.5)
    val b1 = Seq(
      (1L, "the quick brown fox jumps over the lazy dog near the barn",
        "en", "s0"),
      (2L, "a tall ship sails across the wide ocean while sailors watch",
        "en", "s1"))
    val b2 = Seq(
      (3L, "the old library keeps a rare map of ancient roads and trade",
        "en", "s0"),
      (4L, "machines hum in the workshop as gears turn and belts whir on",
        "en", "s1"))
    val in = MemoryStream[(Long, String, String, String)]
    val atRest = java.nio.file.Files
      .createTempDirectory("graft_export_kr").toString
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft_export_kr_ckpt").toString
    def start() = StreamOps.exportStream(
        in.toDF().toDF("doc_id", "text", "lang", "source"),
        atRest, cfg, weights, tokenBudget = 200L, realizeSalt = "rs",
        seqTokens = 8, shards = 2) { (_, _) => () }
      .option("checkpointLocation", ckpt)
      .start()
    val q1 = start()
    try {
      in.addData(b1: _*)
      q1.processAllAvailable() // batch 0 landed + committed
      in.addData(b2: _*)       // enqueued, NOT awaited
    } finally q1.stop()        // the kill — b2 may be mid-landing
    val q2 = start()           // recovery replays/continues from ckpt
    try q2.processAllAvailable() finally q2.stop()
    // the at-rest SET converged exactly: replayed/interrupted landings
    // overwrite their own batch=<id> dir, so no loss and no duplicates
    val atRestDocs = spark.read.parquet(atRest)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(atRestDocs == Seq(1L, 2L, 3L, 4L),
      s"at-rest set after restart: $atRestDocs")
    // and the export over it equals the uninterrupted one-shot batch
    var refreshed: Seq[org.apache.spark.sql.Row] = Seq.empty
    StreamOps.refreshExport(spark, atRest, cfg, weights, 200L, "rs", 8, 2) {
      m => refreshed = m.orderBy("shard").collect().toSeq }
    val r = CorpusPipeline.curate(
      (b1 ++ b2).toDF("doc_id", "text", "lang", "source"), cfg,
      collectFunnel = false)
    val (_, bm) = CorpusPipeline.exportShards(r.survivors.get, weights,
      200L, "rs", 8, 2)
    val batchManifest = bm.orderBy("shard").collect().toSeq
    r.persisted.foreach(_.unpersist(blocking = false))
    assert(refreshed == batchManifest,
      "post-restart manifest diverged from the one-shot batch export")
  }
}

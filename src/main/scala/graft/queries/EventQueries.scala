package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.SparkEntry._
import graft.ops._

/** Event analytics over `events`: windows, sessions, as-of joins,
  * funnels, retention, A/B tests, SCD2 and anomaly monitors. */
private[graft] object EventQueries {

  /** q136 conversion-latency quantiles. */
  val FunnelLatencyProbs = Seq(0.25, 0.5, 0.95)
  /** q142 journey-prefix length and top-k. */
  val PathLen = 3
  val PathTopK = 20

  /** q57 conversion-funnel stage order. */
  val FunnelStages = Seq("signup", "click", "purchase")

  /** q60 retention cohort period: daily — the fixture's one-week event
    * span yields a full 8×8 retention triangle. */
  val RetentionPeriodMs = 86400000L

  /** q235 attribution: touch lookback before a conversion (1 day). */
  val AttribLookbackMs = 86400000L

  /** q189 Markov next-event eval: user-keyed folds (the q169
    * protocol applied to event sequences). */
  val MarkovSalt = "markovEval"
  val MarkovFolds = 5

  /** q215 CUPED split instant: 2024-01-15 00:00 UTC in epoch-ns —
    * mid-fixture, so both periods are populated at every SF. */
  val CupedSplitNs = 1705276800000000000L

  /** q205 decay half-life (7 days) and report instant (2024-01-31
    * 00:00 UTC — just past the fixture's last event, so every event
    * counts and the instant is SF-independent). */
  val DecayHalfLifeMs = 604800000L
  val DecayAsOfMs = 1706659200000L

  /** q192 A/B arm-assignment salt (an A/A split on untreated fixture
    * data — the null check an experimentation stack must pass). */
  val AbSalt = "abArm"

  /** q183 time split (2024-01-16 00:00 UTC, ~the fixture median):
    * events before it build the "current" SCD2 table, the rest arrive
    * as the merge batch — a global time split satisfies scd2Merge's
    * append-only contract at every SF. */
  val Scd2CutMs = 1705363200000L

  /** q156 attribution window (48 h) — sits inside the fixture's
    * conversion-gap distribution (median signup→click ≈ 29 h), so the
    * window visibly bites without zeroing the funnel. */
  val FunnelWindowMs = 172800000L

  /** Time-bucket width for the range-bucketed as-of join (q50): 6h — the
    * fixture's one-week event span splits into ~28 buckets per key. */
  val AsofBucketMs = 6L * 3600000L

  /** `events` with ts truncated to whole microseconds — the precision
    * DuckDB actually reads from TIMESTAMP(NANOS) parquet. Queries whose
    * oracle arithmetic touches raw ns (the sessionize pair) go through
    * this so both engines compute over identical values; ms-floor-only
    * queries (windows, as-of) don't need it. */
  private def eventsUs(s: SparkSession, dir: String): DataFrame =
    Sources.eventsNs(s, dir).withColumn("ts", expr("ts - pmod(ts, 1000L)"))

  /** Gaps-and-islands sessionization oracle — shared by q30 (direct,
    * per-user window) and q52 (two-phase bucketed build): both engine
    * forms compute the same sessions by construction. */
  private val sessionizeOracleSql: String =
    s"""WITH e AS (
       |  SELECT user_id, event_id, value, epoch_ns(ts) AS tns,
       |    CASE WHEN lag(epoch_ns(ts)) OVER w IS NULL
       |           OR epoch_ns(ts) - lag(epoch_ns(ts)) OVER w > ${SessionGapMs}000000
       |         THEN 1 ELSE 0 END AS new_sess
       |  FROM events
       |  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_ns(ts), event_id)
       |),
       |s AS (
       |  SELECT user_id, event_id, value, tns,
       |    sum(new_sess) OVER (PARTITION BY user_id ORDER BY tns, event_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
       |  FROM e
       |)
       |SELECT user_id, session_id::BIGINT AS session_id,
       |  count(*) AS n_events,
       |  (min(tns) // 1000000)::BIGINT AS start_ms,
       |  (max(tns) // 1000000)::BIGINT AS end_ms,
       |  ((max(tns) // 1000000) - (min(tns) // 1000000))::BIGINT AS duration_ms,
       |  ${Portable.sqlIntRatioSigned9("sum(CAST(floor(value * 100 + 0.5) AS BIGINT))", "100")} AS sum_value
       |FROM s GROUP BY user_id, session_id
       |ORDER BY user_id, session_id""".stripMargin

  /** q48/q50 shared as-of inputs: events as (event_id, event_type, ms)
    * on the left; completed-hourly-window stats keyed by availability
    * time (window END) on the right. One definition so the direct and
    * range-bucketed forms can never drift apart. */
  private def asofInputs(s: SparkSession, dir: String)
      : (DataFrame, DataFrame) = {
    val ev = Sources.eventsNs(s, dir)
    val left = ev.select(col("event_id"), col("event_type"),
      expr("ts div 1000000").cast("long").as("ms"))
    val right = Events.tumbling(ev, WindowMs)
      .select(col("event_type"),
        (col("window_start_ms") + WindowMs).cast("long").as("avail_ms"),
        col("avg_value").as("prev_avg"))
    (left, right)
  }

  /** As-of enrichment oracle (native DuckDB ASOF LEFT JOIN) — shared by
    * q48 (union+window form) and q50 (range-bucketed form): both are
    * result-identical by construction. */
  private val asofOracleSql: String =
    s"""WITH wdw AS (
       |  SELECT event_type,
       |    ((epoch_ms(ts) - (epoch_ms(ts) % $WindowMs)) + $WindowMs)::BIGINT AS avail_ms,
       |    ${Portable.sqlIntRatioSigned9("sum(CAST(floor(value * 100 + 0.5) AS BIGINT))", "CAST(count(*) AS HUGEINT) * 100")} AS prev_avg
       |  FROM events GROUP BY 1, 2
       |),
       |e AS (
       |  SELECT event_id, event_type,
       |         (epoch_ns(ts) // 1000000)::BIGINT AS ms
       |  FROM events
       |)
       |SELECT e.event_type, e.event_id, e.ms, w.avail_ms, w.prev_avg
       |FROM e ASOF LEFT JOIN wdw w
       |  ON e.event_type = w.event_type AND e.ms >= w.avail_ms
       |ORDER BY e.event_id""".stripMargin

  val all: Seq[Query] = Seq(

    // Hour-of-day periodicity per event type: peak hour/share and the
    // exact-integer chi-square against the uniform-over-24 null.
    Query("q226_hour_profile", (s, dir) => {
      Events.hourOfDayProfile(Sources.eventsNs(s, dir))
        .orderBy("event_type")
    },
    // q226: 24-cell uniform chi-square clears to (24·Σo² − n²)/n in
    // exact DECIMAL; peak by (count DESC, hour ASC).
      s"""WITH cells AS (
         |  SELECT event_type,
         |    (epoch_ns(ts) // 1000000 // 3600000) % 24 AS hour,
         |    count(*)::BIGINT AS o
         |  FROM events GROUP BY 1, 2
         |),
         |pk AS (
         |  SELECT event_type, hour AS peak_hour, o AS peak_o,
         |    row_number() OVER (PARTITION BY event_type
         |      ORDER BY o DESC, hour ASC) AS rn
         |  FROM cells QUALIFY rn = 1
         |),
         |ag AS (
         |  SELECT event_type, sum(o)::BIGINT AS n_events,
         |    CAST(sum(CAST(o AS DECIMAL(38,0)) * CAST(o AS DECIMAL(38,0)))
         |      AS DECIMAL(38,0)) AS ss
         |  FROM cells GROUP BY 1
         |)
         |SELECT ag.event_type, ag.n_events, pk.peak_hour,
         |  ${Portable.sqlIntRatio9("pk.peak_o", "ag.n_events")}
         |    AS peak_share,
         |  ${Portable.sqlIntRatioSigned9(
             "24 * CAST(ag.ss AS HUGEINT)" +
             " - CAST(ag.n_events AS HUGEINT) * ag.n_events",
             "ag.n_events")} AS chi2_uniform
         |FROM ag JOIN pk USING (event_type)
         |ORDER BY ag.event_type""".stripMargin),

    // First/last-touch purchase attribution with a 1-day lookback —
    // which touch types open and close converting journeys.
    Query("q235_touch_attribution", (s, dir) => {
      Events.touchAttribution(Sources.eventsNs(s, dir), "purchase",
        AttribLookbackMs).orderBy("event_type")
    },
    // q235: journeys by prior-conversion count, first/last eligible
    // touch via per-journey row_numbers (the (tns, event_id) order is
    // unique, so min/max struct and rank-1 agree exactly).
      s"""WITH ev AS (
         |  SELECT user_id, event_id, event_type, epoch_ns(ts) AS tns,
         |    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS isc
         |  FROM events
         |),
         |tg AS (
         |  SELECT *, coalesce(sum(isc) OVER (PARTITION BY user_id
         |    ORDER BY tns, event_id ROWS BETWEEN UNBOUNDED PRECEDING
         |    AND 1 PRECEDING), 0)::BIGINT AS j
         |  FROM ev
         |),
         |convs AS (SELECT user_id, j, tns AS cts FROM tg WHERE isc = 1),
         |nc AS (SELECT count(*)::BIGINT AS n_conversions FROM convs),
         |el AS (
         |  SELECT t.user_id, t.j, t.event_type, t.tns, t.event_id
         |  FROM tg t JOIN convs c ON c.user_id = t.user_id AND c.j = t.j
         |  WHERE t.isc = 0 AND c.cts - t.tns <= ${AttribLookbackMs}000000
         |),
         |rk1 AS (
         |  SELECT event_type,
         |    row_number() OVER (PARTITION BY user_id, j
         |      ORDER BY tns, event_id) AS rf,
         |    row_number() OVER (PARTITION BY user_id, j
         |      ORDER BY tns DESC, event_id DESC) AS rl
         |  FROM el
         |),
         |f AS (SELECT event_type, count(*)::BIGINT AS first_touch
         |      FROM rk1 WHERE rf = 1 GROUP BY 1),
         |l AS (SELECT event_type, count(*)::BIGINT AS last_touch
         |      FROM rk1 WHERE rl = 1 GROUP BY 1)
         |SELECT event_type,
         |  coalesce(first_touch, 0)::BIGINT AS first_touch,
         |  coalesce(last_touch, 0)::BIGINT AS last_touch,
         |  nc.n_conversions
         |FROM f FULL JOIN l USING (event_type) CROSS JOIN nc
         |ORDER BY event_type""".stripMargin),

    // Wald SPRT daily trace on the purchase rate — a pure integer
    // LLR random walk on both engines via the literal constants.
    Query("q236_sprt_trace", (s, dir) => {
      Events.sprtTrace(Sources.eventsNs(s, dir), "purchase",
        SprtP0, SprtP1, SprtAlpha, SprtBeta).orderBy("day")
    },
    // q236: the identical integer LLR walk over the SAME literal
    // constants (sprtConstants is called by both builders).
      sprtTraceOracleSql),

    // Bucketed interval-overlap join: user sessions x anomalous
    // hourly windows — "which sessions ran during an incident",
    // cell-equality candidates then the exact overlap predicate.
    Query("q237_overlap_join", (s, dir) => {
      val sess = Events.sessionize(eventsUs(s, dir), SessionGapMs)
        .select(concat_ws("#", col("user_id"), col("session_id"))
          .as("a_id"),
          col("start_ms").as("a_start"), col("end_ms").as("a_end"))
      val anom = Events.windowAnomaly(Sources.eventsNs(s, dir),
          WindowMs, AnomalyTrailing, AnomalyZ)
        .filter(col("is_anomaly"))
        .select(concat_ws("#", col("event_type"), col("window_start_ms"))
          .as("b_id"),
          col("window_start_ms").as("b_start"),
          (col("window_start_ms") + WindowMs - 1L).as("b_end"))
      Events.overlapJoin(sess, anom, WindowMs).orderBy("a_id", "b_id")
    },
    // q237: native range join over the q30 session spans and the q133
    // anomalous windows — the exact semantics the bucketed
    // cell-equality join must reproduce.
      s"""WITH se AS (
         |  SELECT user_id, event_id, epoch_ns(ts) AS tns,
         |    CASE WHEN lag(epoch_ns(ts)) OVER w IS NULL
         |           OR epoch_ns(ts) - lag(epoch_ns(ts)) OVER w
         |             > ${SessionGapMs}000000
         |         THEN 1 ELSE 0 END AS new_sess
         |  FROM events
         |  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_ns(ts),
         |    event_id)
         |),
         |sg AS (
         |  SELECT user_id, tns,
         |    sum(new_sess) OVER (PARTITION BY user_id ORDER BY tns,
         |      event_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT
         |      ROW) AS session_id
         |  FROM se
         |),
         |sess AS (
         |  SELECT CAST(user_id AS VARCHAR) || '#'
         |      || CAST(session_id AS VARCHAR) AS a_id,
         |    (min(tns) // 1000000)::BIGINT AS a_start,
         |    (max(tns) // 1000000)::BIGINT AS a_end
         |  FROM sg GROUP BY user_id, session_id
         |),
         |wc AS (
         |  SELECT event_type,
         |    (epoch_ms(ts) - (epoch_ms(ts) % $WindowMs))::BIGINT
         |      AS window_start_ms,
         |    count(*)::BIGINT AS n_events
         |  FROM events GROUP BY 1, 2
         |),
         |wt AS (
         |  SELECT event_type, window_start_ms, n_events,
         |    count(*) OVER tw AS k,
         |    (sum(n_events) OVER tw)::BIGINT AS s,
         |    (sum(n_events * n_events) OVER tw)::BIGINT AS ss
         |  FROM wc
         |  WINDOW tw AS (PARTITION BY event_type ORDER BY window_start_ms
         |    ROWS BETWEEN $AnomalyTrailing PRECEDING AND 1 PRECEDING)
         |),
         |anom AS (
         |  SELECT event_type || '#' || CAST(window_start_ms AS VARCHAR)
         |      AS b_id,
         |    window_start_ms AS b_start,
         |    (window_start_ms + $WindowMs - 1)::BIGINT AS b_end
         |  FROM wt
         |  WHERE k = $AnomalyTrailing AND (
         |    CASE WHEN ss * $AnomalyTrailing - s * s > 0 THEN
         |      abs((n_events::DOUBLE - s::DOUBLE / $AnomalyTrailing)
         |        / sqrt((ss * $AnomalyTrailing - s * s)::DOUBLE
         |            / (${AnomalyTrailing.toLong * AnomalyTrailing})))
         |        >= $AnomalyZ
         |    ELSE n_events * $AnomalyTrailing <> s END)
         |)
         |SELECT a_id, a_start, a_end, b_id, b_start, b_end
         |FROM sess JOIN anom
         |  ON a_start <= b_end AND b_start <= a_end
         |ORDER BY a_id, b_id""".stripMargin),

    // Cochran-Armitage: is the daily purchase rate drifting
    // monotonically over the calendar — the ordered-alternative
    // complement of q236's level test.
    Query("q239_trend_test", (s, dir) => {
      Events.trendTest(Sources.eventsNs(s, dir), "purchase")
    },
    // q239: exact HUGEINT moments over relative-day scores, the one
    // z chain (A·N − R·B)/√(R(N−R)(CN−B²)/N).
      s"""WITH ud AS (
         |  SELECT epoch_ns(ts) // 86400000000000 AS day, user_id,
         |    max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0
         |      END)::BIGINT AS conv
         |  FROM events GROUP BY 1, 2
         |),
         |d AS (SELECT day, count(*)::BIGINT AS n,
         |        sum(conv)::BIGINT AS r
         |      FROM ud GROUP BY 1),
         |d0 AS (SELECT min(day) AS dd FROM d),
         |mm AS (
         |  SELECT count(*)::BIGINT AS n_days,
         |    sum(n)::BIGINT AS trials, sum(r)::BIGINT AS successes,
         |    sum(CAST(day - dd AS HUGEINT) * r) AS a,
         |    sum(CAST(day - dd AS HUGEINT) * n) AS b,
         |    sum(CAST(day - dd AS HUGEINT) * (day - dd) * n) AS c
         |  FROM d CROSS JOIN d0
         |)
         |SELECT n_days, trials, successes,
         |  CASE WHEN CAST(successes AS HUGEINT)
         |      * (trials - successes) * (c * trials - b * b) > 0 THEN
         |    ${Portable.sqlRatio9(
              "CAST(a * trials - successes * b AS DOUBLE)" +
                " / sqrt(CAST(CAST(successes AS HUGEINT)" +
                " * (trials - successes) * (c * trials - b * b)" +
                " AS DOUBLE) / CAST(trials AS DOUBLE))")}
         |  END AS z
         |FROM mm""".stripMargin),

    // Mann-Kendall on the daily purchase-event counts — monotone
    // drift without a slope model, k bounded by the calendar.
    Query("q242_mann_kendall", (s, dir) => {
      val daily = Sources.eventsNs(s, dir)
        .filter(col("event_type") === "purchase")
        .groupBy(expr("ts div 86400000000000").as("day"))
        .agg(count(lit(1)).cast("double").as("n"))
      Quality.mannKendall(daily, "day", "n")
    },
    // q242: the k² pair sign sum (k calendar-bounded), tie-corrected
    // variance numerator exact, continuity-corrected z.
      s"""WITH d AS (
         |  SELECT epoch_ns(ts) // 86400000000000 AS t,
         |    count(*)::BIGINT AS n
         |  FROM events WHERE event_type = 'purchase' GROUP BY 1
         |),
         |bb AS (SELECT t, CAST(floor(round(CAST(n AS DOUBLE), 9) * 1e9
         |         + 0.5) AS BIGINT) AS v
         |       FROM d),
         |p AS (SELECT sum(CASE WHEN j.v > i.v THEN 1
         |        WHEN j.v < i.v THEN -1 ELSE 0 END)::BIGINT AS s
         |      FROM bb i JOIN bb j ON i.t < j.t),
         |t2 AS (
         |  SELECT count(*)::BIGINT AS nv, sum(u)::BIGINT AS k,
         |    sum(u * (u - 1) * (2 * u + 5))::BIGINT AS tc
         |  FROM (SELECT v, count(*)::BIGINT AS u FROM bb GROUP BY v) _
         |)
         |SELECT k, s,
         |  CASE WHEN k >= 2 AND k * (k - 1) * (2 * k + 5) - tc > 0 THEN
         |    ${Portable.sqlRatio9(
              "CAST(s - sign(s) AS DOUBLE)" +
                " / sqrt(CAST(k * (k - 1) * (2 * k + 5) - tc AS DOUBLE)" +
                " / CAST(18 AS DOUBLE))")}
         |  END AS z
         |FROM p CROSS JOIN t2""".stripMargin),

    // Fano overdispersion of daily counts per event type — zero-fill
    // via the calendar spine, one exact-integer division.
    Query("q245_dispersion", (s, dir) => {
      Events.dispersionProfile(Sources.eventsNs(s, dir))
        .orderBy("event_type")
    },
    // q245: the same zero-filled calendar spine and the one
    // (k·Q − S²)/((k−1)·S) division.
      s"""WITH cells AS (
         |  SELECT event_type, epoch_ns(ts) // 86400000000000 AS day,
         |    count(*)::BIGINT AS x
         |  FROM events GROUP BY 1, 2
         |),
         |sp AS (SELECT unnest(range(lo, hi + 1)) AS day
         |       FROM (SELECT min(day) AS lo, max(day) AS hi
         |             FROM cells) _),
         |ty AS (SELECT DISTINCT event_type FROM cells),
         |fl AS (
         |  SELECT t.event_type, s.day, coalesce(c.x, 0)::BIGINT AS x
         |  FROM ty t CROSS JOIN sp s
         |  LEFT JOIN cells c ON c.event_type = t.event_type
         |    AND c.day = s.day
         |),
         |ag AS (
         |  SELECT event_type, count(*)::BIGINT AS n_days,
         |    sum(x)::BIGINT AS n_events, sum(CAST(x AS HUGEINT) * x) AS q
         |  FROM fl GROUP BY 1
         |)
         |SELECT event_type, n_days, n_events,
         |  CASE WHEN n_days > 0 THEN
         |    ${Portable.sqlIntRatio9("n_events", "n_days")}
         |  END AS mean,
         |  CASE WHEN n_days >= 2 AND n_events > 0 THEN
         |    ${Portable.sqlIntRatioSigned9(
              "CAST(n_days AS HUGEINT) * q" +
                " - CAST(n_events AS HUGEINT) * n_events",
              "CAST(n_days - 1 AS HUGEINT) * n_events")}
         |  END AS fano
         |FROM ag ORDER BY event_type""".stripMargin),

    // Robust median/MAD window anomaly (Hampel rule) — the fix q245's
    // overdispersion diagnosis calls for; the decision is pure
    // integer compares, no float anywhere.
    Query("q254_window_anomaly_robust", (s, dir) => {
      Events.windowAnomalyRobust(Sources.eventsNs(s, dir), WindowMs,
          AnomalyTrailing, RobustKNum, RobustKDen)
        .orderBy("event_type", "window_start_ms")
    },
      robustAnomalyOracleSql),

    // Top user-journey prefixes (first-3-event paths, top-20).
    Query("q142_top_paths", (s, dir) => {
      Events.topPaths(Sources.eventsNs(s, dir), PathLen, PathTopK)
        .orderBy("rank")
    },
    // q142: per-user ordered prefix → path count → deterministic top-k.
      s"""WITH pr AS (
         |  SELECT user_id, event_type,
         |    row_number() OVER (PARTITION BY user_id
         |      ORDER BY ts, event_id) AS rn
         |  FROM events
         |),
         |pp AS (
         |  SELECT user_id, string_agg(event_type, '>' ORDER BY rn) AS path
         |  FROM pr WHERE rn <= $PathLen GROUP BY user_id
         |),
         |pc AS (SELECT path, count(*)::BIGINT AS n_users
         |       FROM pp GROUP BY path)
         |SELECT path, n_users,
         |  row_number() OVER (ORDER BY n_users DESC, path ASC)::BIGINT
         |    AS rank
         |FROM pc ORDER BY n_users DESC, path ASC LIMIT $PathTopK""".stripMargin),

    // First-order event-transition matrix with row-normalized
    // probabilities.
    Query("q138_transition_matrix", (s, dir) => {
      Events.transitionMatrix(Sources.eventsNs(s, dir))
        .orderBy("from_type", "to_type")
    },
    // q138: user-keyed lag + matrix count + row-normalizing window.
      s"""WITH tp AS (
        |  SELECT user_id, event_type,
        |    lag(event_type) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS prev
        |  FROM events
        |),
        |tc AS (
        |  SELECT prev AS from_type, event_type AS to_type,
        |    count(*)::BIGINT AS n
        |  FROM tp WHERE prev IS NOT NULL GROUP BY 1, 2
        |)
        |SELECT from_type, to_type, n,
        |  ${Portable.sqlIntRatio9("n",
            "sum(n) OVER (PARTITION BY from_type)")} AS p
        |FROM tc ORDER BY from_type, to_type""".stripMargin),

    // Funnel conversion-latency quantiles per stage transition.
    Query("q136_funnel_latency", (s, dir) => {
      Events.funnelLatency(Sources.eventsNs(s, dir), FunnelStages,
        FunnelLatencyProbs).orderBy("step_idx")
    },
    // q136: the q57 reach chain + per-transition exact quantiles of
    // ms-floor reach-time differences.
      s"""WITH s1 AS (
         |  SELECT user_id, min(ts) AS rt FROM events
         |  WHERE event_type = '${FunnelStages(0)}' GROUP BY user_id
         |),
         |s2 AS (
         |  SELECT e.user_id, min(e.ts) AS rt FROM events e
         |  JOIN s1 ON e.user_id = s1.user_id
         |  WHERE e.event_type = '${FunnelStages(1)}' AND e.ts > s1.rt
         |  GROUP BY e.user_id
         |),
         |s3 AS (
         |  SELECT e.user_id, min(e.ts) AS rt FROM events e
         |  JOIN s2 ON e.user_id = s2.user_id
         |  WHERE e.event_type = '${FunnelStages(2)}' AND e.ts > s2.rt
         |  GROUP BY e.user_id
         |),
         |l1 AS (
         |  SELECT epoch_ms(s2.rt) - epoch_ms(s1.rt) AS lat_ms
         |  FROM s2 JOIN s1 USING (user_id)
         |),
         |l2 AS (
         |  SELECT epoch_ms(s3.rt) - epoch_ms(s2.rt) AS lat_ms
         |  FROM s3 JOIN s2 USING (user_id)
         |)
         |SELECT 1::BIGINT AS step_idx, '${FunnelStages(0)}' AS from_stage,
         |  '${FunnelStages(1)}' AS to_stage, count(*)::BIGINT AS n_users,
         |  round(CAST(CAST(floor(round(quantile_cont(lat_ms, 0.25), 9) * 1e9 + 0.5) AS BIGINT) AS DOUBLE) / 1e9, 9) AS p25,
         |  round(CAST(CAST(floor(round(quantile_cont(lat_ms, 0.5), 9) * 1e9 + 0.5) AS BIGINT) AS DOUBLE) / 1e9, 9) AS p50,
         |  round(CAST(CAST(floor(round(quantile_cont(lat_ms, 0.95), 9) * 1e9 + 0.5) AS BIGINT) AS DOUBLE) / 1e9, 9) AS p95,
         |  min(lat_ms)::BIGINT AS min_ms, max(lat_ms)::BIGINT AS max_ms
         |FROM l1
         |UNION ALL
         |SELECT 2::BIGINT, '${FunnelStages(1)}', '${FunnelStages(2)}',
         |  count(*)::BIGINT,
         |  round(CAST(CAST(floor(round(quantile_cont(lat_ms, 0.25), 9) * 1e9 + 0.5) AS BIGINT) AS DOUBLE) / 1e9, 9),
         |  round(CAST(CAST(floor(round(quantile_cont(lat_ms, 0.5), 9) * 1e9 + 0.5) AS BIGINT) AS DOUBLE) / 1e9, 9),
         |  round(CAST(CAST(floor(round(quantile_cont(lat_ms, 0.95), 9) * 1e9 + 0.5) AS BIGINT) AS DOUBLE) / 1e9, 9),
         |  min(lat_ms)::BIGINT, max(lat_ms)::BIGINT
         |FROM l2
         |ORDER BY step_idx""".stripMargin),

    // Trailing-baseline window anomaly: hourly counts per type z-scored
    // against the previous day of observed windows.
    Query("q133_window_anomaly", (s, dir) => {
      Events.windowAnomaly(Sources.eventsNs(s, dir), WindowMs,
        AnomalyTrailing, AnomalyZ).orderBy("event_type", "window_start_ms")
    },
    // q133: exact-integer baseline moments; the z expression shape is
    // identical to the Spark side so even the floats are bit-equal.
      windowAnomalyOracleSql),

    // Tumbling-window event aggregation (1h windows).
    Query("q29_event_windows", (s, dir) => {
      Events.tumbling(Sources.eventsNs(s, dir), WindowMs)
        .orderBy("event_type", "window_start_ms")
    },
      s"""SELECT event_type,
         |  (epoch_ms(ts) - (epoch_ms(ts) % $WindowMs))::BIGINT AS window_start_ms,
         |  count(*) AS n_events,
         |  ${Portable.sqlIntRatioSigned9(
             "sum(CAST(floor(value * 100 + 0.5) AS BIGINT))",
             "CAST(count(*) AS HUGEINT) * 100")} AS avg_value,
         |  ${Portable.sqlIntRatioSigned9(
             "sum(CAST(floor(value * 100 + 0.5) AS BIGINT))",
             "100")} AS sum_value
         |FROM events GROUP BY 1, 2 ORDER BY event_type, window_start_ms""".stripMargin),

    // Gap-based sessionization (30 min gap). ts truncated to µs for
    // oracle parity: DuckDB reads TIMESTAMP(NANOS) parquet at µs
    // precision, so the engines must sessionize IDENTICAL timestamps —
    // otherwise sub-µs bits flip gap/duration arithmetic at exact
    // boundaries (surfaced at sf0.1). The operator itself stays
    // exact-ns for engine use.
    Query("q30_sessionize", (s, dir) => {
      Events.sessionize(eventsUs(s, dir), SessionGapMs)
        .orderBy("user_id", "session_id")
    },
      sessionizeOracleSql),

    // Same sessions via the two-phase bucketed build — identical result
    // (same oracle SQL as q30), per-user sort bound removed.
    Query("q52_sessionize_bucketed", (s, dir) => {
      Events.sessionizeBucketed(eventsUs(s, dir), SessionGapMs, AsofBucketMs)
        .orderBy("user_id", "session_id")
    },
    // q52: the bucketed two-phase build is result-identical to q30 by
    // construction, so it shares the oracle.
      sessionizeOracleSql),

    // As-of join: each event enriched with the latest COMPLETED hourly
    // window stats of its type (stats become visible at window END —
    // nontrivial temporal match, not a self-floor).
    Query("q48_asof_enrich", (s, dir) => {
      val (left, right) = asofInputs(s, dir)
      Events.asofJoin(left, right, Seq("event_type"), "ms", "avail_ms")
        .orderBy("event_id")
    },
    // q48: DuckDB native ASOF LEFT JOIN mirrors the union+last_value
    // Spark shape (ties match: l.ms >= r.avail_ms).
      asofOracleSql),

    // Same enrichment via the range-bucketed as-of join — identical
    // result (same oracle SQL), parallelism ∝ key × time-bucket instead
    // of per-key (the q48 scale fix; 6h buckets here).
    Query("q50_asof_bucketed", (s, dir) => {
      val (left, right) = asofInputs(s, dir)
      Events.asofJoinBucketed(left, right, Seq("event_type"), "ms", "avail_ms",
        AsofBucketMs)
        .orderBy("event_id")
    },
    // q50: same semantics as q48 (the bucketed form is result-identical
    // by construction), so the oracle is the same native ASOF LEFT JOIN.
      asofOracleSql),

    // Sequential conversion funnel (strict first-occurrence ordering).
    // Strict ts comparisons must agree with DuckDB's µs read, hence
    // eventsUs (same reasoning as the sessionize pair).
    Query("q57_funnel", (s, dir) => {
      Events.funnel(eventsUs(s, dir), FunnelStages).orderBy("stage_idx")
    },
    // q57: reach times chain through strict-after min aggs, exactly as
    // the Spark side; only counts leave, so no ts precision in output.
      s"""WITH s1 AS (
         |  SELECT user_id, min(ts) AS rt FROM events
         |  WHERE event_type = '${FunnelStages(0)}' GROUP BY user_id
         |),
         |s2 AS (
         |  SELECT e.user_id, min(e.ts) AS rt FROM events e
         |  JOIN s1 ON e.user_id = s1.user_id
         |  WHERE e.event_type = '${FunnelStages(1)}' AND e.ts > s1.rt
         |  GROUP BY e.user_id
         |),
         |s3 AS (
         |  SELECT e.user_id, min(e.ts) AS rt FROM events e
         |  JOIN s2 ON e.user_id = s2.user_id
         |  WHERE e.event_type = '${FunnelStages(2)}' AND e.ts > s2.rt
         |  GROUP BY e.user_id
         |)
         |SELECT 1::BIGINT AS stage_idx, '${FunnelStages(0)}' AS stage,
         |       (SELECT count(*) FROM s1)::BIGINT AS n_users
         |UNION ALL SELECT 2::BIGINT, '${FunnelStages(1)}',
         |       (SELECT count(*) FROM s2)::BIGINT
         |UNION ALL SELECT 3::BIGINT, '${FunnelStages(2)}',
         |       (SELECT count(*) FROM s3)::BIGINT
         |ORDER BY stage_idx""".stripMargin),

    // The funnel under a 48-hour attribution window: each stage only
    // credits conversions landing within FunnelWindowMs of the
    // previous reach — q57 is its upper bound, q136's latency
    // distribution is how the window gets chosen. ns events like q136
    // (gap arithmetic needs the ns longs).
    Query("q156_funnel_windowed", (s, dir) => {
      Events.funnelWindowed(Sources.eventsNs(s, dir), FunnelStages,
        FunnelWindowMs).orderBy("stage_idx")
    },
    // q156: q57's chain with the window predicate on every tail stage —
    // epoch_ms floors the µs-read timestamp to ms exactly like the
    // engine's `ns div 1000000`.
      s"""WITH s1 AS (
         |  SELECT user_id, min(ts) AS rt FROM events
         |  WHERE event_type = '${FunnelStages(0)}' GROUP BY user_id
         |),
         |s2 AS (
         |  SELECT e.user_id, min(e.ts) AS rt FROM events e
         |  JOIN s1 ON e.user_id = s1.user_id
         |  WHERE e.event_type = '${FunnelStages(1)}' AND e.ts > s1.rt
         |    AND epoch_ms(e.ts) - epoch_ms(s1.rt) <= $FunnelWindowMs
         |  GROUP BY e.user_id
         |),
         |s3 AS (
         |  SELECT e.user_id, min(e.ts) AS rt FROM events e
         |  JOIN s2 ON e.user_id = s2.user_id
         |  WHERE e.event_type = '${FunnelStages(2)}' AND e.ts > s2.rt
         |    AND epoch_ms(e.ts) - epoch_ms(s2.rt) <= $FunnelWindowMs
         |  GROUP BY e.user_id
         |)
         |SELECT 1::BIGINT AS stage_idx, '${FunnelStages(0)}' AS stage,
         |       (SELECT count(*) FROM s1)::BIGINT AS n_users
         |UNION ALL SELECT 2::BIGINT, '${FunnelStages(1)}',
         |       (SELECT count(*) FROM s2)::BIGINT
         |UNION ALL SELECT 3::BIGINT, '${FunnelStages(2)}',
         |       (SELECT count(*) FROM s3)::BIGINT
         |ORDER BY stage_idx""".stripMargin),

    // Daily cohort retention triangle (cohort = period of first event).
    Query("q60_retention", (s, dir) => {
      Events.retention(Sources.eventsNs(s, dir), RetentionPeriodMs)
        .orderBy("cohort_start_ms", "period_offset")
    },
    // q60: same ms-floor period math as the Spark side. The ms→period
    // step uses the pmod-FLOOR form (m − pmod(m, w) is an exact multiple,
    // so // is exact) matching Spark's sign-safe floor; the ns→ms step
    // (epoch_ms) truncates toward zero in DuckDB, so oracle parity is
    // contracted for ts ≥ 0 (the fixture) — see Events.retention.
      s"""WITH ms AS (
         |  SELECT user_id, epoch_ms(ts) AS m FROM events
         |), pd AS (
         |  SELECT user_id,
         |    (m - ((m % $RetentionPeriodMs) + $RetentionPeriodMs)
         |      % $RetentionPeriodMs) // $RetentionPeriodMs AS p
         |  FROM ms
         |), cohorts AS (
         |  SELECT user_id, min(p) AS cp FROM pd GROUP BY user_id
         |), active AS (
         |  SELECT DISTINCT user_id, p FROM pd
         |), counts AS (
         |  SELECT c.cp, a.p - c.cp AS period_offset, count(*) AS n_active
         |  FROM active a JOIN cohorts c USING (user_id)
         |  GROUP BY c.cp, a.p - c.cp
         |), sizes AS (
         |  SELECT cp, n_active AS cohort_size FROM counts WHERE period_offset = 0
         |)
         |SELECT (counts.cp * $RetentionPeriodMs)::BIGINT AS cohort_start_ms,
         |  period_offset::BIGINT AS period_offset,
         |  n_active::BIGINT AS n_active,
         |  cohort_size::BIGINT AS cohort_size,
         |  ${Portable.sqlIntRatio9("n_active", "cohort_size")}
         |    AS retention
         |FROM counts JOIN sizes USING (cp)
         |ORDER BY cohort_start_ms, period_offset""".stripMargin),

    // Per-type value distribution profile (exact quantiles = order
    // statistics, engine-stable; no float-sum drift).
    Query("q49_value_quantiles", (s, dir) => {
      Events.quantileProfile(Sources.eventsNs(s, dir), Seq(0.25, 0.5, 0.95))
        .orderBy("event_type")
    },
      """SELECT event_type,
        |  round(CAST(CAST(floor(round(quantile_cont(value, 0.25), 9) * 1e9 + 0.5) AS BIGINT) AS DOUBLE) / 1e9, 9) AS p25,
        |  round(CAST(CAST(floor(round(quantile_cont(value, 0.5), 9) * 1e9 + 0.5) AS BIGINT) AS DOUBLE) / 1e9, 9) AS p50,
        |  round(CAST(CAST(floor(round(quantile_cont(value, 0.95), 9) * 1e9 + 0.5) AS BIGINT) AS DOUBLE) / 1e9, 9) AS p95,
        |  min(value) AS min_value,
        |  max(value) AS max_value,
        |  count(*) AS n
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin),

    // M7: run table with dense iteration index in start order.
    Query("q31_run_table", (s, dir) => {
      Events.runTable(Sources.eventsNs(s, dir)).orderBy("iteration")
    },
      s"""WITH runs AS (
        |  SELECT event_type AS job_name,
        |         ${Portable.sqlIntRatioSigned9("sum(CAST(floor(value * 100 + 0.5) AS BIGINT))", "CAST(count(*) AS HUGEINT) * 100")} AS objective,
        |         (min(epoch_ns(ts)) // 1000000)::BIGINT AS start_ms
        |  FROM events GROUP BY event_type
        |)
        |SELECT job_name, objective, start_ms,
        |       CAST(row_number() OVER (ORDER BY start_ms ASC) AS BIGINT) AS iteration
        |FROM runs ORDER BY iteration""".stripMargin),

    // M6: best-run selection — explicit orderBy().limit(1) (SURVEY N3).
    Query("q32_best_run", (s, dir) => {
      Similarity.bestRow(Events.runTable(Sources.eventsNs(s, dir)), "objective")
        .select(col("job_name"), col("objective"))
    },
      s"""WITH runs AS (
        |  SELECT event_type AS job_name, ${Portable.sqlIntRatioSigned9("sum(CAST(floor(value * 100 + 0.5) AS BIGINT))", "CAST(count(*) AS HUGEINT) * 100")} AS objective
        |  FROM events GROUP BY event_type
        |)
        |SELECT job_name, objective FROM runs
        |ORDER BY objective ASC LIMIT 1""".stripMargin),

    // JSON column parsing: events.props is a JSON string — typed extract
    // then aggregate (the from_json path a props/metadata column takes).
    Query("q38_props_json", (s, dir) => {
      Sources.eventsNs(s, dir)
        .select(col("event_type"),
          from_json(col("props"), lit("k INT")).getField("k").as("k"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("k")).cast("long").as("sum_k"),
          min(col("k")).cast("long").as("min_k"),
          max(col("k")).cast("long").as("max_k"))
        .orderBy("event_type")
    },
      """SELECT event_type, count(*) AS n,
        |  CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
        |  min(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS min_k,
        |  max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin),

    // Analytic ranks: rank/dense_rank over per-user engagement within
    // each event_type (value-determined, tie-stable).
    Query("q39_user_rank", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val peruser = Sources.eventsNs(s, dir)
        .groupBy(col("event_type"), col("user_id"))
        .agg(count(lit(1)).as("n"))
      val w = Window.partitionBy(col("event_type")).orderBy(desc("n"))
      peruser
        .withColumn("rnk", rank().over(w).cast("long"))
        .withColumn("drnk", dense_rank().over(w).cast("long"))
        .filter(col("rnk") <= 10)
        .select(col("event_type"), col("user_id"), col("n"), col("rnk"),
          col("drnk"))
        .orderBy("event_type", "rnk", "user_id")
    },
      """WITH peruser AS (
        |  SELECT event_type, user_id, count(*) AS n
        |  FROM events GROUP BY event_type, user_id
        |)
        |SELECT event_type, user_id, n,
        |       CAST(rank() OVER w AS BIGINT) AS rnk,
        |       CAST(dense_rank() OVER w AS BIGINT) AS drnk
        |FROM peruser
        |WINDOW w AS (PARTITION BY event_type ORDER BY n DESC)
        |QUALIFY rnk <= 10
        |ORDER BY event_type, rnk, user_id""".stripMargin),

    // Window frames + lag/lead: per-user previous/next event gap and a
    // 3-row moving sum, in (ts, event_id) order.
    Query("q40_moving_window", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      Sources.eventsNs(s, dir)
        .withColumn("ms", expr("ts div 1000000"))
        .withColumn("prev_gap_ms",
          (col("ms") - lag(col("ms"), 1).over(w)).cast("long"))
        .withColumn("next_gap_ms",
          (lead(col("ms"), 1).over(w) - col("ms")).cast("long"))
        .withColumn("mov_sum3",
          Portable.intRatioSigned9(
            sum(floor(col("value") * lit(100) + lit(0.5)).cast("long"))
              .over(w.rowsBetween(-2, 0)), lit(100L)))
        .select(col("user_id"), col("event_id"), col("ms"),
          col("prev_gap_ms"), col("next_gap_ms"), col("mov_sum3"))
        .orderBy("user_id", "ms", "event_id")
    },
      // truncate to ms BEFORE differencing (matches the Spark side, which
      // lags the already-truncated ms column)
      """WITH e AS (
        |  SELECT user_id, event_id, value,
        |         (epoch_ns(ts) // 1000000)::BIGINT AS ms,
        |         epoch_ns(ts) AS tns
        |  FROM events
        |)
        |SELECT user_id, event_id, ms,
        |  (ms - lag(ms, 1) OVER w)::BIGINT AS prev_gap_ms,
        |  (lead(ms, 1) OVER w - ms)::BIGINT AS next_gap_ms,
        |  round(CAST(CAST(floor(round(sum(value) OVER (PARTITION BY user_id
        |    ORDER BY tns, event_id
        |    ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 9) * 1e9 + 0.5) AS BIGINT) AS DOUBLE) / 1e9, 9) AS mov_sum3
        |FROM e
        |WINDOW w AS (PARTITION BY user_id ORDER BY tns, event_id)
        |ORDER BY user_id, ms, event_id""".stripMargin),

    // Type-2 SCD build from the event log: per user the event_type
    // change history as versioned [from, to) rows — the versioned
    // dimension a reproducible pipeline as-of joins against.
    Query("q178_scd2", (s, dir) => {
      Events.scd2(Sources.eventsNs(s, dir), "user_id", "event_type")
        .orderBy("user_id", "version")
    },
    // q178: change detection then versioning, both ordered by the
    // original (ts, event_id); timestamps leave as ms-floors (the
    // sessionize cross-engine contract).
      scd2OracleSql),

    // Incremental SCD2 maintenance: the dimension built from the first
    // half-month of events, then MERGED with the rest — the oracle is
    // the full recompute (q178's own SQL over all events), so the hash
    // match IS the merge-equals-rebuild law at fixture scale.
    Query("q183_scd2_merge", (s, dir) => {
      val ev = Sources.eventsNs(s, dir)
      val cutNs = Scd2CutMs * 1000000L
      val cur = Events.scd2(ev.filter(col("ts") < cutNs),
        "user_id", "event_type")
      Events.scd2Merge(cur, ev.filter(col("ts") >= cutNs),
          "user_id", "event_type")
        .orderBy("user_id", "version")
    },
    // q183: the merge result must equal the full rebuild — the oracle
    // IS q178's full-recompute SQL over the whole log.
      scd2OracleSql),

    // First-order Markov next-event baseline, evaluated on a held-out
    // user fold: per previous state the argmax-transition prediction
    // and its hit rate — the number a sequence model must beat.
    Query("q189_markov_eval", (s, dir) => {
      Events.nextEventEval(Sources.eventsNs(s, dir), MarkovFolds,
          MarkovSalt)
        .orderBy("prev")
    },
    // q189: the q169 fold hash on users; the argmax replayed as a
    // row_number over (count DESC, next ASC); unseen states predict
    // NULL on both sides.
      s"""WITH ev AS (
         |  SELECT user_id, event_id, event_type, epoch_ns(ts) AS tns,
         |    ${Portable.sqlHash(s"'$MarkovSalt'", "user_id")}
         |      % $MarkovFolds AS fold
         |  FROM events
         |),
         |pr AS (
         |  SELECT fold,
         |    lag(event_type) OVER (PARTITION BY user_id
         |      ORDER BY tns, event_id) AS prev,
         |    event_type AS next
         |  FROM ev
         |),
         |p2 AS (SELECT * FROM pr WHERE prev IS NOT NULL),
         |model AS (
         |  SELECT prev, next AS predicted FROM (
         |    SELECT prev, next,
         |      row_number() OVER (PARTITION BY prev
         |        ORDER BY count(*) DESC, next ASC) AS rn
         |    FROM p2 WHERE fold <> 0 GROUP BY prev, next)
         |  WHERE rn = 1
         |)
         |SELECT e.prev, m.predicted, count(*)::BIGINT AS n_transitions,
         |  sum(CASE WHEN e.next = m.predicted THEN 1 ELSE 0 END)::BIGINT
         |    AS n_hits,
         |  ${Portable.sqlIntRatio9(
             "sum(CASE WHEN e.next = m.predicted THEN 1 ELSE 0 END)",
             "count(*)")}
         |    AS hit_rate
         |FROM p2 e LEFT JOIN model m USING (prev)
         |WHERE e.fold = 0
         |GROUP BY 1, 2 ORDER BY e.prev""".stripMargin),

    // Exponentially decayed event mass per type as of just past the
    // fixture's horizon — per-row decay integerized before the sum,
    // so the trending table is bit-portable.
    Query("q205_decayed_counts", (s, dir) => {
      Events.decayedCounts(Sources.eventsNs(s, dir), DecayHalfLifeMs,
          DecayAsOfMs)
        .orderBy("event_type")
    },
    // q205: the identical age -> pow chain per row, 9dp-rounded and
    // integerized before the sum.
      s"""WITH e AS (
         |  SELECT event_type, epoch_ns(ts) // 1000000 AS ms FROM events
         |),
         |w AS (
         |  SELECT event_type,
         |    CAST(floor(round(pow(CAST(2 AS DOUBLE),
         |      -(CAST($DecayAsOfMs - ms AS DOUBLE)
         |        / CAST($DecayHalfLifeMs AS DOUBLE))), 9) * 1e9 + 0.5)
         |      AS BIGINT) AS w9
         |  FROM e WHERE ms <= $DecayAsOfMs
         |)
         |SELECT event_type, count(*)::BIGINT AS n_events,
         |  round(CAST(CAST(floor(round(CAST(sum(w9) AS DOUBLE) / 1e9, 9) * 1e9 + 0.5) AS BIGINT) AS DOUBLE) / 1e9, 9) AS decayed_mass,
         |  ${Portable.sqlIntRatio9("sum(w9)",
             "CAST(count(*) AS HUGEINT) * 1000000000")} AS recency
         |FROM w GROUP BY event_type ORDER BY event_type""".stripMargin),

    // Kaplan–Meier retention: censoring-aware survival over user
    // PURCHASE lifetimes at hour granularity (last purchase within
    // the final 72 hours = right-censored, still alive), with
    // Greenwood standard errors — the churn curve a naive "fraction
    // active after t hours" biases down by death-marking users who
    // simply ran out of observation. Hour periods, not days: this
    // fixture's users are all daily-active, so day-granularity
    // degenerates to a 3-row curve.
    Query("q221_survival_curve", (s, dir) => {
      Events.survivalCurve(
        Sources.eventsNs(s, dir)
          .filter(col("event_type") === "purchase"),
        3600000000000L, 72)
    },
    // q221: identical per-term integerized logs (floor(ln·1e9 + ½)
    // LONG-summed), one exp on an identical double; at_risk off the
    // duration-histogram CDF.
      s"""WITH u AS (
         |  SELECT user_id,
         |    min(epoch_ns(ts) // 3600000000000) AS f,
         |    max(epoch_ns(ts) // 3600000000000) AS l
         |  FROM events WHERE event_type = 'purchase' GROUP BY 1
         |),
         |lives AS (
         |  SELECT (l - f)::BIGINT AS t,
         |    (l <= (SELECT max(l) FROM u) - 72) AS died
         |  FROM u
         |),
         |hist AS (
         |  SELECT t,
         |    sum(CASE WHEN died THEN 1 ELSE 0 END)::BIGINT AS deaths,
         |    sum(CASE WHEN died THEN 0 ELSE 1 END)::BIGINT AS censored
         |  FROM lives GROUP BY 1
         |),
         |r AS (
         |  SELECT t, deaths, censored,
         |    ((SELECT count(*) FROM lives)
         |      - coalesce(sum(deaths + censored) OVER (ORDER BY t
         |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
         |        0))::BIGINT AS at_risk
         |  FROM hist
         |),
         |k AS (
         |  SELECT t, at_risk, deaths, censored,
         |    sum(CASE WHEN deaths < at_risk THEN
         |      CAST(floor(ln(CAST(at_risk - deaths AS DOUBLE)
         |        / CAST(at_risk AS DOUBLE)) * 1e9 + 0.5) AS BIGINT)
         |      END) OVER (ORDER BY t) AS lns,
         |    sum(CASE WHEN deaths < at_risk THEN
         |      CAST(floor(CAST(deaths AS DOUBLE)
         |        / (CAST(at_risk AS DOUBLE)
         |           * CAST(at_risk - deaths AS DOUBLE)) * 1e9 + 0.5)
         |        AS BIGINT) END) OVER (ORDER BY t) AS gw,
         |    max(CASE WHEN deaths = at_risk THEN 1 ELSE 0 END)
         |      OVER (ORDER BY t) AS dead
         |  FROM r
         |)
         |SELECT t, at_risk, deaths, censored,
         |  CASE WHEN dead = 1 THEN 0.0
         |    ELSE ${Portable.sqlRatio9("exp(CAST(lns AS DOUBLE) / 1e9)")}
         |    END AS survival,
         |  CASE WHEN dead = 0 THEN
         |    ${Portable.sqlRatio9("exp(CAST(lns AS DOUBLE) / 1e9)" +
             " * sqrt(CAST(gw AS DOUBLE) / 1e9)")} END AS se
         |FROM k ORDER BY t""".stripMargin),

    // Rolling active-user curves: DAU / trailing-7-day WAU /
    // stickiness plus the new/cumulative-user growth ledger — the
    // engagement dashboard over the events stream.
    Query("q217_active_users", (s, dir) => {
      Events.activeUsers(Sources.eventsNs(s, dir), 7)
        .orderBy("day")
    },
    // q217: the BETWEEN-join WAU is the oracle's O(days × user-days)
    // luxury; the engine's explode+distinct computes the same set.
      s"""WITH ud AS (
         |  SELECT DISTINCT user_id,
         |    (epoch_ns(ts) // 86400000000000)::BIGINT AS day
         |  FROM events
         |),
         |spine AS (
         |  SELECT unnest(range((SELECT min(day) FROM ud),
         |    (SELECT max(day) FROM ud) + 1)) AS day
         |),
         |dau AS (SELECT day, count(*)::BIGINT AS dau FROM ud GROUP BY 1),
         |wau AS (
         |  SELECT s.day, count(DISTINCT u.user_id)::BIGINT AS wau
         |  FROM spine s JOIN ud u ON u.day BETWEEN s.day - 6 AND s.day
         |  GROUP BY 1
         |),
         |nu AS (
         |  SELECT day, count(*)::BIGINT AS new_users FROM (
         |    SELECT user_id, min(day) AS day FROM ud GROUP BY 1)
         |  GROUP BY 1
         |)
         |SELECT s.day, coalesce(dau.dau, 0)::BIGINT AS dau,
         |  coalesce(wau.wau, 0)::BIGINT AS wau,
         |  CASE WHEN coalesce(wau.wau, 0) > 0 THEN
         |    ${Portable.sqlIntRatio9("coalesce(dau.dau, 0)", "wau.wau")}
         |  END AS stickiness,
         |  coalesce(nu.new_users, 0)::BIGINT AS new_users,
         |  sum(coalesce(nu.new_users, 0))
         |    OVER (ORDER BY s.day)::BIGINT AS cum_users
         |FROM spine s LEFT JOIN dau ON s.day = dau.day
         |LEFT JOIN wau ON s.day = wau.day
         |LEFT JOIN nu ON s.day = nu.day
         |ORDER BY s.day""".stripMargin),

    // CUPED variance-reduced A/B readout: q192's arms and conversion
    // metric, with each user's pre-period purchase count as the
    // covariate — theta, adjusted means, the variance reduction won,
    // and the z on the adjusted difference.
    Query("q215_cuped_ab", (s, dir) => {
      Events.cuped(Sources.eventsNs(s, dir), "purchase", AbSalt,
          CupedSplitNs)
        .orderBy("n_a")
    },
    // q215: identical moment sums (cross-products in DECIMAL), then
    // the same pinned double chains — theta, adjusted means, adjusted
    // variances, z — with the same positivity guards as NULLs.
    {
      def dd(x: String) = s"CAST($x AS DOUBLE)"
      val thN = dd("CAST(n AS DECIMAL(38,0))*sxy - " +
        "CAST(sx AS DECIMAL(38,0))*CAST(sy AS DECIMAL(38,0))")
      val thD = dd("CAST(n AS DECIMAL(38,0))*sxx - " +
        "CAST(sx AS DECIMAL(38,0))*CAST(sx AS DECIMAL(38,0))")
      val vyP = dd("CAST(n AS DECIMAL(38,0))*syy - " +
        "CAST(sy AS DECIMAL(38,0))*CAST(sy AS DECIMAL(38,0))")
      val theta = s"($thN / $thD)"
      val xbar = s"(${dd("sx")} / ${dd("n")})"
      def mean(sy: String, n: String) = s"(${dd(sy)} / ${dd(n)})"
      def adj(sy: String, sx: String, n: String) =
        s"(${mean(sy, n)} - $theta * (${mean(sx, n)} - $xbar))"
      def cm(n: String, spq: String, sp: String, sq: String) =
        dd(s"CAST($n AS DECIMAL(38,0))*$spq - $sp*$sq")
      def varAdj(n: String, sxx: String, sxy: String, syy: String,
                 sx: String, sy: String) =
        s"((${cm(n, syy, sy, sy)} - CAST(2 AS DOUBLE) * $theta * " +
          s"${cm(n, sxy, sx, sy)} + $theta * $theta * " +
          s"${cm(n, sxx, sx, sx)}) / (${dd(n)} * ${dd(n)}))"
      val vA = varAdj("n_a", "sxxa", "sxya", "syya", "sxa", "sya")
      val vB = varAdj("n_b", "sxxb", "sxyb", "syyb", "sxb", "syb")
      val seAdj = s"sqrt($vA / ${dd("n_a")} + $vB / ${dd("n_b")})"
      val adjA = adj("sya", "sxa", "n_a")
      val adjB = adj("syb", "sxb", "n_b")
      val ok = s"(n > 0 AND $thD > CAST(0 AS DOUBLE))"
      s"""WITH u AS (
         |  SELECT user_id,
         |    sum(CASE WHEN event_type = 'purchase'
         |      AND epoch_ns(ts) < $CupedSplitNs THEN 1 ELSE 0
         |      END)::BIGINT AS x,
         |    sum(CASE WHEN event_type = 'purchase'
         |      AND epoch_ns(ts) >= $CupedSplitNs THEN 1 ELSE 0
         |      END)::BIGINT AS y,
         |    ${Portable.sqlHash(s"'$AbSalt'", "user_id")} % 2 AS arm
         |  FROM events GROUP BY user_id
         |),
         |m AS (
         |  SELECT count(*)::BIGINT AS n, sum(x)::BIGINT AS sx,
         |    sum(y)::BIGINT AS sy,
         |    sum(CAST(x*x AS DECIMAL(38,0))) AS sxx,
         |    sum(CAST(x*y AS DECIMAL(38,0))) AS sxy,
         |    sum(CAST(y*y AS DECIMAL(38,0))) AS syy,
         |    sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END)::BIGINT AS n_a,
         |    sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END)::BIGINT AS n_b,
         |    sum(CAST(CASE WHEN arm = 0 THEN x ELSE 0 END
         |      AS DECIMAL(38,0))) AS sxa,
         |    sum(CAST(CASE WHEN arm = 0 THEN y ELSE 0 END
         |      AS DECIMAL(38,0))) AS sya,
         |    sum(CAST(CASE WHEN arm = 1 THEN x ELSE 0 END
         |      AS DECIMAL(38,0))) AS sxb,
         |    sum(CAST(CASE WHEN arm = 1 THEN y ELSE 0 END
         |      AS DECIMAL(38,0))) AS syb,
         |    sum(CAST(CASE WHEN arm = 0 THEN x*x ELSE 0 END
         |      AS DECIMAL(38,0))) AS sxxa,
         |    sum(CAST(CASE WHEN arm = 0 THEN x*y ELSE 0 END
         |      AS DECIMAL(38,0))) AS sxya,
         |    sum(CAST(CASE WHEN arm = 0 THEN y*y ELSE 0 END
         |      AS DECIMAL(38,0))) AS syya,
         |    sum(CAST(CASE WHEN arm = 1 THEN x*x ELSE 0 END
         |      AS DECIMAL(38,0))) AS sxxb,
         |    sum(CAST(CASE WHEN arm = 1 THEN x*y ELSE 0 END
         |      AS DECIMAL(38,0))) AS sxyb,
         |    sum(CAST(CASE WHEN arm = 1 THEN y*y ELSE 0 END
         |      AS DECIMAL(38,0))) AS syyb
         |  FROM u
         |)
         |SELECT n_a, n_b,
         |  CASE WHEN $ok THEN ${Portable.sqlIntRatioSigned9(
              "CAST(n AS HUGEINT) * CAST(sxy AS HUGEINT)" +
                " - CAST(sx AS HUGEINT) * CAST(sy AS HUGEINT)",
              "CAST(n AS HUGEINT) * CAST(sxx AS HUGEINT)" +
                " - CAST(sx AS HUGEINT) * CAST(sx AS HUGEINT)")}
         |  END AS theta,
         |  CASE WHEN n_a > 0
         |    THEN ${Portable.sqlIntRatioSigned9("sya", "n_a")}
         |    END AS mean_a,
         |  CASE WHEN n_b > 0
         |    THEN ${Portable.sqlIntRatioSigned9("syb", "n_b")}
         |    END AS mean_b,
         |  CASE WHEN $ok AND n_a > 0 THEN ${Portable.sqlRatio9(adjA)}
         |    END AS adj_a,
         |  CASE WHEN $ok AND n_b > 0 THEN ${Portable.sqlRatio9(adjB)}
         |    END AS adj_b,
         |  CASE WHEN $ok AND $vyP > CAST(0 AS DOUBLE)
         |    THEN ${Portable.sqlRatio9(s"$thN * $thN / ($thD * $vyP)")}
         |    END AS var_reduction,
         |  CASE WHEN $ok AND n_a > 0 AND n_b > 0
         |      AND $seAdj > CAST(0 AS DOUBLE)
         |    THEN ${Portable.sqlRatio9(s"($adjA - $adjB) / $seAdj")}
         |    END AS z_adj
         |FROM m ORDER BY n_a""".stripMargin
    }),

    // Two-proportion z-test on hash-assigned user arms (purchase
    // conversion) — an A/A null check on the fixture: the arms differ
    // only by hash, so |z| should be unremarkable.
    Query("q192_ab_test", (s, dir) => {
      Events.abTest(Sources.eventsNs(s, dir), "purchase", AbSalt)
    },
    // q192: the identical pooled-z double chain over exact counts
    // (IEEE sqrt is correctly rounded — portable); arms by the same
    // keyed hash.
    {
      val pA = "CAST(conv_a AS DOUBLE) / CAST(n_a AS DOUBLE)"
      val pB = "CAST(conv_b AS DOUBLE) / CAST(n_b AS DOUBLE)"
      val pp = "(CAST(conv_a + conv_b AS DOUBLE)" +
        " / CAST(n_a + n_b AS DOUBLE))"
      val se = s"sqrt($pp * (CAST(1 AS DOUBLE) - $pp)" +
        " * (CAST(1 AS DOUBLE) / CAST(n_a AS DOUBLE)" +
        " + CAST(1 AS DOUBLE) / CAST(n_b AS DOUBLE)))"
      s"""WITH u AS (
         |  SELECT user_id,
         |    max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0
         |      END)::BIGINT AS conv,
         |    ${Portable.sqlHash(s"'$AbSalt'", "user_id")} % 2 AS arm
         |  FROM events GROUP BY user_id
         |),
         |w AS (
         |  SELECT
         |    sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END)::BIGINT AS n_a,
         |    sum(CASE WHEN arm = 0 THEN conv ELSE 0 END)::BIGINT AS conv_a,
         |    sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END)::BIGINT AS n_b,
         |    sum(CASE WHEN arm = 1 THEN conv ELSE 0 END)::BIGINT AS conv_b
         |  FROM u
         |)
         |SELECT n_a, conv_a, n_b, conv_b,
         |  CASE WHEN n_a > 0 THEN
         |    ${Portable.sqlIntRatio9("conv_a", "n_a")} END AS rate_a,
         |  CASE WHEN n_b > 0 THEN
         |    ${Portable.sqlIntRatio9("conv_b", "n_b")} END AS rate_b,
         |  CASE WHEN $se > CAST(0 AS DOUBLE) THEN
         |    ${Portable.sqlRatio9(s"($pA - $pB) / $se")}
         |  END AS z,
         |  coalesce(abs(CASE WHEN $se > CAST(0 AS DOUBLE) THEN
         |    ${Portable.sqlRatio9(s"($pA - $pB) / $se")} END) >= 1.96,
         |    false) AS significant
         |FROM w""".stripMargin
    })
  )
}

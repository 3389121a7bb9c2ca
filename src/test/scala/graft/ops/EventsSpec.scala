package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

class EventsSpec extends SparkSpec {
  import spark.implicits._

  // ts in epoch-nanos (the nanosAsLong read shape)
  private val H = 3600L * 1000000000L   // 1h in ns
  private val M = 60L * 1000000000L     // 1min in ns
  private def ev = Seq(
    // user 1: two sessions (gap > 30min between e3 and e4)
    (1L, 0L * M, 10L, "click", 1.0),
    (2L, 5L * M, 10L, "click", 2.0),
    (3L, 10L * M, 10L, "view", 3.0),
    (4L, 50L * M, 10L, "click", 4.0),
    // user 2: single event
    (5L, 2L * H, 20L, "view", 5.0)
  ).toDF("event_id", "ts", "user_id", "event_type", "value")

  test("tumbling: window key is floor(ms/width)*width; aggs correct") {
    val r = Events.tumbling(ev, 3600000L)
      .orderBy("event_type", "window_start_ms").collect()
    val clickW0 = r.find(x => x.getString(0) == "click" && x.getLong(1) == 0L).get
    assert(clickW0.getLong(2) == 3)           // e1, e2, e4 in hour 0
    assert(clickW0.getDouble(4) == 7.0)       // 1+2+4
    val viewW2 = r.find(x => x.getString(0) == "view" && x.getLong(1) == 7200000L).get
    assert(viewW2.getLong(2) == 1)
  }

  test("sessionize: 30min gap splits sessions; stats per session") {
    val s = Events.sessionize(ev, 1800000L)
      .orderBy("user_id", "session_id").collect()
    assert(s.length == 3)
    val (s1, s2, s3) = (s(0), s(1), s(2))
    assert(s1.getLong(0) == 10L && s1.getLong(2) == 3) // first session: e1-e3
    assert(s1.getLong(5) == 10L * 60L * 1000L)         // duration 10 min
    assert(s2.getLong(2) == 1)                         // e4 alone
    assert(s3.getLong(0) == 20L && s3.getLong(2) == 1)
  }

  test("asofJoin: latest right row at-or-before left time per key; null before first") {
    val left = Seq(
      (1L, "a", 5L), (2L, "a", 10L), (3L, "a", 25L),
      (4L, "b", 10L)                      // key with no right rows at all
    ).toDF("event_id", "k", "t")
    val right = Seq(
      ("a", 10L, 1.0), ("a", 20L, 2.0)    // states available at t=10, t=20
    ).toDF("k", "rt", "v")
    val r = Events.asofJoin(left, right, Seq("k"), "t", "rt")
      .select($"event_id", $"rt", $"v")
      .as[(Long, Option[Long], Option[Double])].collect()
      .map(x => x._1 -> ((x._2, x._3))).toMap
    assert(r(1L) == ((None, None)))              // before any right row
    assert(r(2L) == ((Some(10L), Some(1.0))))    // tie: l.t >= r.t matches
    assert(r(3L) == ((Some(20L), Some(2.0))))    // latest visible state
    assert(r(4L) == ((None, None)))              // key absent from right
  }

  test("sessionizeBucketed law: matches sessionize on a pathological hot user") {
    // one hot user with 500 events in bursts (gaps straddle bucket
    // boundaries on purpose) + a sparse user + a single-event user
    val rnd = new scala.util.Random(13)
    var ts = 0L
    val hot = Seq.tabulate(500) { i =>
      ts += (if (rnd.nextInt(10) == 0) 45L * M else rnd.nextInt(5).toLong * M)
      (1000L + i, ts, 1L, "click", rnd.nextInt(100) / 10.0)
    }
    val others = Seq(
      (1L, 0L, 2L, "view", 1.5), (2L, 40L * M, 2L, "view", 2.5),
      (3L, 10L * H, 3L, "click", 3.0))
    val events = (hot ++ others)
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val expect = Events.sessionize(events, 1800000L)
      .orderBy("user_id", "session_id").collect().toSeq
    assert(expect.length > 10) // the bursts really split into many sessions
    // widths around/below/above the gap — boundary merges chain across
    // empty buckets in every case
    for (w <- Seq(600000L, 1800000L, 7200000L)) {
      val got = Events.sessionizeBucketed(events, 1800000L, w)
        .orderBy("user_id", "session_id").collect().toSeq
      assert(got == expect, s"bucketMs=$w")
    }
  }

  test("asofJoinBucketed: identical to asofJoin for any bucket width") {
    val left = Seq(
      (1L, "a", 5L), (2L, "a", 10L), (3L, "a", 25L), (4L, "b", 10L)
    ).toDF("event_id", "k", "t")
    val right = Seq(("a", 10L, 1.0), ("a", 20L, 2.0)).toDF("k", "rt", "v")
    val expect = Events.asofJoin(left, right, Seq("k"), "t", "rt")
      .orderBy("event_id").collect().toSeq
    // width 1 (every instant its own bucket), 7 (buckets straddle the
    // right rows), and one huge bucket (degenerates to plain asofJoin)
    for (w <- Seq(1L, 7L, 1000L)) {
      val got = Events.asofJoinBucketed(left, right, Seq("k"), "t", "rt", w)
        .orderBy("event_id").collect().toSeq
      assert(got == expect, s"width $w")
    }
  }

  test("asofJoinBucketed law: matches asofJoin on randomized streams") {
    // seeded RNG — deterministic spec; times collide across sides and
    // keys on purpose (ties must resolve right-at-equal-time first)
    val rnd = new scala.util.Random(7)
    val keys = Seq("a", "b", "c")
    val left = Seq.tabulate(120) { i =>
      (i.toLong, keys(rnd.nextInt(3)), rnd.nextInt(400).toLong)
    }.toDF("event_id", "k", "t")
    // unique right times per key (the operator contract)
    val right = keys.flatMap { k =>
      rnd.shuffle((0 until 400).toList).take(25)
        .map(t => (k, t.toLong, rnd.nextDouble()))
    }.toDF("k", "rt", "v")
    val expect = Events.asofJoin(left, right, Seq("k"), "t", "rt")
      .orderBy("event_id").collect().toSeq
    for (w <- Seq(3L, 50L, 399L)) {
      val got = Events.asofJoinBucketed(left, right, Seq("k"), "t", "rt", w)
        .orderBy("event_id").collect().toSeq
      assert(got == expect, s"width $w")
    }
  }

  test("quantileProfile: exact interpolated quantiles, min/max/count") {
    val r = Events.quantileProfile(ev, Seq(0.5))
      .orderBy("event_type").collect()
    val click = r.find(_.getString(0) == "click").get
    // click values: 1, 2, 4 -> median 2
    assert(click.getDouble(1) == 2.0)
    assert(click.getDouble(2) == 1.0 && click.getDouble(3) == 4.0)
    assert(click.getLong(4) == 3L)
    val view = r.find(_.getString(0) == "view").get
    // view values: 3, 5 -> interpolated median 4
    assert(view.getDouble(1) == 4.0)
  }

  test("funnel: strict first-occurrence ordering; same-ts does not advance") {
    val fe = Seq(
      // user 1: full ordered funnel
      (1L, 0L, 1L, "signup", 0.0), (2L, 10L, 1L, "click", 0.0),
      (3L, 20L, 1L, "purchase", 0.0),
      // user 2: signup then purchase, never clicks — stops at stage 1
      (4L, 0L, 2L, "signup", 0.0), (5L, 10L, 2L, "purchase", 0.0),
      // user 3: click BEFORE signup — stage 2 not reached
      (6L, 10L, 3L, "click", 0.0), (7L, 20L, 3L, "signup", 0.0),
      // user 4: never signs up
      (8L, 0L, 4L, "click", 0.0),
      // user 5: click at the SAME ts as signup — strictness blocks it
      (9L, 0L, 5L, "signup", 0.0), (10L, 0L, 5L, "click", 0.0)
    ).toDF("event_id", "ts", "user_id", "event_type", "value")
    val f = Events.funnel(fe, Seq("signup", "click", "purchase"))
      .orderBy("stage_idx")
      .select($"stage", $"n_users").as[(String, Long)].collect().toSeq
    assert(f == Seq(("signup", 4L), ("click", 1L), ("purchase", 1L)))
    intercept[IllegalArgumentException] { Events.funnel(fe, Seq.empty) }
    intercept[IllegalArgumentException] {
      Events.funnel(fe, Seq("click", "click"))
    }
  }

  test("funnelWindowed: credits only conversions inside the attribution " +
      "window; a window wider than every gap reproduces funnel exactly") {
    val ms = 1000000L // ns per ms
    val stages = Seq("signup", "click", "purchase")
    val fe = Seq(
      // user 1: click in window; purchase 500ms after the click — out
      (1L, 0L, 1L, "signup", 0.0), (2L, 5 * ms, 1L, "click", 0.0),
      (3L, 505 * ms, 1L, "purchase", 0.0),
      // user 2: every transition within 100ms
      (4L, 0L, 2L, "signup", 0.0), (5L, 50 * ms, 2L, "click", 0.0),
      (6L, 120 * ms, 2L, "purchase", 0.0),
      // user 3: click 200ms after signup — outside the window
      (7L, 0L, 3L, "signup", 0.0), (8L, 200 * ms, 3L, "click", 0.0)
    ).toDF("event_id", "ts", "user_id", "event_type", "value")
    val w = Events.funnelWindowed(fe, stages, 100L).orderBy("stage_idx")
      .select($"n_users").as[Long].collect().toSeq
    assert(w == Seq(3L, 2L, 1L))
    val wide = Events.funnelWindowed(fe, stages, 1000000L)
      .orderBy("stage_idx").collect().toSeq
    val plain = Events.funnel(fe, stages).orderBy("stage_idx")
      .collect().toSeq
    assert(wide == plain)
    intercept[IllegalArgumentException] {
      Events.funnelWindowed(fe, stages, -1L)
    }
  }

  test("funnel: single-pass chaining — events scanned once per stage, counts read barriers") {
    // instrument the source: the accumulator ticks once per row READ, so
    // (value / rows) = number of full source scans. Stage k must reuse
    // stage k−1's materialized reach frame — k scans total, not the
    // O(k²) a lazy per-branch prefix re-derivation pays (3 stages: 3
    // scans, was 6).
    val rows = Seq(
      (1L, 0L, 1L, "signup", 0.0), (2L, 10L, 1L, "click", 0.0),
      (3L, 20L, 1L, "purchase", 0.0),
      (4L, 0L, 2L, "signup", 0.0), (5L, 10L, 2L, "click", 0.0),
      (6L, 0L, 3L, "signup", 0.0))
    val n = rows.length
    val acc = spark.sparkContext.longAccumulator("funnel-source-rows")
    val src = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 2).map { r =>
        acc.add(1)
        org.apache.spark.sql.Row(r._1, r._2, r._3, r._4, r._5)
      },
      ev.schema)
    val f = Events.funnel(src, Seq("signup", "click", "purchase"))
    // the funnel materializes eagerly: exactly one scan per stage
    assert(acc.value == 3L * n, s"${acc.value.toDouble / n} scans, want 3")
    val counts = f.orderBy("stage_idx").select($"n_users").as[Long].collect().toSeq
    assert(counts == Seq(3L, 2L, 1L))
    // evaluating the counts union reads ONLY the checkpointed reach
    // frames — zero additional source scans
    assert(acc.value == 3L * n, s"counts re-scanned the source: ${acc.value}")
  }

  test("quantile profiles reject empty, out-of-range, and label-colliding probs") {
    intercept[IllegalArgumentException] { Events.quantileProfile(ev, Seq.empty) }
    intercept[IllegalArgumentException] { Events.quantileProfile(ev, Seq(1.5)) }
    // 0.125 and 0.13 both label as p13 -> ambiguous output column
    intercept[IllegalArgumentException] {
      Events.quantileProfile(ev, Seq(0.125, 0.13))
    }
  }

  test("retention: cohort by first-event period, offset-0 retention is 1.0") {
    val D = 24L * H // 1 day in ns
    val re = Seq(
      // cohort day 0: users 1,2. user 1 returns day 1 and day 3;
      // user 2 never returns.
      (1L, 0L, 1L, "click", 0.0), (2L, D + 5L * M, 1L, "click", 0.0),
      (3L, 3L * D, 1L, "view", 0.0),
      (4L, 10L * M, 2L, "click", 0.0),
      // cohort day 1: user 3, returns day 2 (two events that day —
      // distinct() collapses them to one active row)
      (5L, D, 3L, "click", 0.0),
      (6L, 2L * D, 3L, "view", 0.0), (7L, 2L * D + M, 3L, "click", 0.0)
    ).toDF("event_id", "ts", "user_id", "event_type", "value")
    val r = Events.retention(re, 86400000L)
      .as[(Long, Long, Long, Long, Double)].collect()
      .map(x => (x._1, x._2) -> ((x._3, x._4, x._5))).toMap
    val day = 86400000L
    assert(r((0L, 0L)) == ((2L, 2L, 1.0)))
    assert(r((0L, 1L)) == ((1L, 2L, 0.5)))
    assert(r((0L, 3L)) == ((1L, 2L, 0.5)))
    assert(r((day, 0L)) == ((1L, 1L, 1.0)))
    assert(r((day, 1L)) == ((1L, 1L, 1.0)))
    assert(r.size == 5) // no (0,2) row: nobody from cohort 0 active day 2
    // structural invariant: offset 0 is always full retention
    assert(r.collect { case ((_, 0L), v) => v._3 }.forall(_ == 1.0))
    intercept[IllegalArgumentException] { Events.retention(re, 0L) }
  }

  test("retention: pre-1970 timestamps use FLOOR period math (sign-safe)") {
    val D = 24L * H // 1 day in ns
    // user 1's first event is 1ns BEFORE the epoch: truncate-toward-zero
    // would put it in period 0 (same as user 2) — floor puts it in -1.
    // Their day-0 events then land at offsets 1 and 0 respectively.
    val re = Seq(
      (1L, -1L, 1L, "click", 0.0), (2L, 5L * M, 1L, "click", 0.0),
      (3L, 10L * M, 2L, "click", 0.0)
    ).toDF("event_id", "ts", "user_id", "event_type", "value")
    val day = 86400000L
    val r = Events.retention(re, day)
      .as[(Long, Long, Long, Long, Double)].collect()
      .map(x => (x._1, x._2) -> ((x._3, x._4, x._5))).toMap
    assert(r((-day, 0L)) == ((1L, 1L, 1.0))) // user 1's cohort is day -1
    assert(r((-day, 1L)) == ((1L, 1L, 1.0))) // ...returning on day 0
    assert(r((0L, 0L)) == ((1L, 1L, 1.0)))   // user 2's cohort is day 0
    assert(r.size == 3)
  }

  test("transitionMatrix: per-user lag pairs; row-normalized probabilities") {
    // user 1: a -> b -> a -> c; user 2: a -> b. Transitions:
    // a->b ×2, b->a ×1, a->c ×1 → P(b|a)=2/3, P(c|a)=1/3, P(a|b)=1
    // (user 2's b is terminal — it contributes no outgoing transition)
    val df = Seq(
      (1L, 0L, 1L, "a", 0.0), (2L, M, 1L, "b", 0.0),
      (3L, 2 * M, 1L, "a", 0.0), (4L, 3 * M, 1L, "c", 0.0),
      (5L, 0L, 2L, "a", 0.0), (6L, M, 2L, "b", 0.0)
    ).toDF("event_id", "ts", "user_id", "event_type", "value")
    val r = Events.transitionMatrix(df)
      .as[(String, String, Long, Double)].collect()
      .map(x => (x._1, x._2) -> ((x._3, x._4))).toMap
    assert(r.size == 3)
    assert(r(("a", "b"))._1 == 2L)
    assert(math.abs(r(("a", "b"))._2 - 2.0 / 3) < 1e-8)
    assert(math.abs(r(("a", "c"))._2 - 1.0 / 3) < 1e-8)
    assert(r(("b", "a")) == ((1L, 1.0)))
  }

  test("topPaths: ordered prefixes, short users keep short paths, rank deterministic") {
    // users 1,2: a>b>c (plus a 4th event that must not extend the
    // prefix); user 3: a>b; user 4: b alone
    val rows = Seq(
      (1L, 0L, 1L, "a", 0.0), (2L, M, 1L, "b", 0.0),
      (3L, 2 * M, 1L, "c", 0.0), (4L, 3 * M, 1L, "d", 0.0),
      (11L, 0L, 2L, "a", 0.0), (12L, M, 2L, "b", 0.0),
      (13L, 2 * M, 2L, "c", 0.0),
      (21L, 0L, 3L, "a", 0.0), (22L, M, 3L, "b", 0.0),
      (31L, 0L, 4L, "b", 0.0))
    val r = Events.topPaths(
        rows.toDF("event_id", "ts", "user_id", "event_type", "value"),
        pathLen = 3, k = 10)
      .orderBy("rank").as[(String, Long, Long)].collect()
    assert(r.toSeq == Seq(("a>b>c", 2L, 1L), ("a>b", 1L, 2L), ("b", 1L, 3L)))
  }

  test("funnelLatency: exact quantiles over per-user conversion gaps; dead step NULL") {
    // users 1,2,3 convert signup→click after 1, 2, 4 minutes; nobody buys
    val rows = (1 to 3).map(u =>
        (u * 10L, 0L, u.toLong, "signup", 0.0)) ++
      Seq((11L, 1 * M, 1L, "click", 0.0), (21L, 2 * M, 2L, "click", 0.0),
        (31L, 4 * M, 3L, "click", 0.0))
    val df = rows.toDF("event_id", "ts", "user_id", "event_type", "value")
    val r = Events.funnelLatency(df, Seq("signup", "click", "purchase"),
        Seq(0.5)).orderBy("step_idx").collect()
    assert(r.length == 2)
    val step1 = r(0)
    assert(step1.getLong(3) == 3L)                      // n_users
    assert(step1.getDouble(4) == 2 * 60000.0)           // p50 = 2 min
    assert(step1.getLong(5) == 60000L)                  // min
    assert(step1.getLong(6) == 240000L)                 // max
    val step2 = r(1)
    assert(step2.getLong(3) == 0L && step2.isNullAt(4)) // dead step
  }

  test("windowAnomaly: spike flags past a flat baseline; zero-variance fallback exact") {
    // type A: hourly counts 2,2,2 then a 6-spike — baseline var 0 for
    // every full-baseline window, so the fallback triggers on the spike
    val rows = (0 until 3).flatMap(h =>
        (0 until 2).map(i => (h * 10L + i, h * H, 1L, "A", 0.0))) ++
      (0 until 6).map(i => (100L + i, 3 * H, 1L, "A", 0.0)) ++
      // type B: counts 1,2 — not enough windows for a k=3 baseline
      Seq((200L, 0L, 1L, "B", 0.0), (201L, H, 1L, "B", 0.0),
        (202L, H, 1L, "B", 0.0))
    val df = rows.toDF("event_id", "ts", "user_id", "event_type", "value")
    val r = Events.windowAnomaly(df, 3600000L, trailing = 3, zThresh = 2.0)
      .collect()
    // only type A's 4th window has 3 trailing observed windows
    assert(r.length == 1)
    val a = r.head
    assert(a.getString(0) == "A" && a.getLong(2) == 6L)
    assert(a.getDouble(3) == 2.0 && a.getDouble(4) == 0.0) // mean 2, var 0
    assert(a.isNullAt(5))                                  // z undefined
    assert(a.getBoolean(6))                                // 6 != 2 → flag
    // non-degenerate baseline: counts 1,2,3 then 3 → z < 2, no flag
    val v = ((0 until 1).map(i => (0L + i, 0L, 1L, "C", 0.0)) ++
      (0 until 2).map(i => (10L + i, H, 1L, "C", 0.0)) ++
      (0 until 3).map(i => (20L + i, 2 * H, 1L, "C", 0.0)) ++
      (0 until 3).map(i => (30L + i, 3 * H, 1L, "C", 0.0)))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val c = Events.windowAnomaly(v, 3600000L, 3, 2.0).collect().head
    // baseline {1,2,3}: mean 2, var 2/3; z = (3-2)/sqrt(2/3)
    assert(math.abs(c.getDouble(3) - 2.0) < 1e-9)
    assert(math.abs(c.getDouble(4) - 2.0 / 3) < 1e-9)
    assert(math.abs(c.getDouble(5) - 1.0 / math.sqrt(2.0 / 3)) < 1e-6)
    assert(!c.getBoolean(6))
  }

  test("run table: iteration ordered by start, best row = min objective") {
    val rt = Events.runTable(ev).orderBy("iteration").collect()
    assert(rt.map(_.getLong(3)).sameElements(Array(1L, 2L)))
    assert(rt(0).getString(0) == "click") // click starts at t=0
    val best = Similarity.bestRow(Events.runTable(ev), "objective").head()
    // click avg = 7/3 < view avg = 4
    assert(best.getString(0) == "click")
  }

  test("scd2: consecutive duplicates collapse; versions chain " +
      "[from, to) with an open current row") {
    // user 10: A A B B A  -> versions A, B, A; user 20: single B
    val log = Seq(
      (1L, 0L * M, 10L, "A", 0.0),
      (2L, 5L * M, 10L, "A", 0.0),
      (3L, 10L * M, 10L, "B", 0.0),
      (4L, 15L * M, 10L, "B", 0.0),
      (5L, 20L * M, 10L, "A", 0.0),
      (6L, 7L * M, 20L, "B", 0.0)
    ).toDF("event_id", "ts", "user_id", "event_type", "value")
    val got = Events.scd2(log, "user_id", "event_type")
      .orderBy("user_id", "version")
      .as[(Long, Long, String, Long, Option[Long], Boolean)]
      .collect().toSeq
    val ms = 60L * 1000L
    assert(got == Seq(
      (10L, 1L, "A", 0L, Some(10L * ms), false),
      (10L, 2L, "B", 10L * ms, Some(20L * ms), false),
      (10L, 3L, "A", 20L * ms, None, true),
      (20L, 1L, "B", 7L * ms, None, true)))
    // validity intervals tile: each version's to_ms = successor's from_ms
    got.groupBy(_._1).values.foreach { h =>
      h.sliding(2).foreach {
        case Seq(a, b) => assert(a._5.contains(b._4))
        case _ =>
      }
    }
  }

  test("scd2: two changes inside one millisecond version in ts order, " +
      "not event_id order; re-appearing values open NEW versions") {
    val log = Seq(
      // ns 100 and 900 within ms 0 — ids deliberately inverted
      (9L, 100L, 10L, "A", 0.0),
      (2L, 900L, 10L, "B", 0.0),
      (3L, 2L * M, 10L, "A", 0.0)   // A again: a fresh version, not v1
    ).toDF("event_id", "ts", "user_id", "event_type", "value")
    val got = Events.scd2(log, "user_id", "event_type")
      .orderBy("version")
      .as[(Long, Long, String, Long, Option[Long], Boolean)]
      .collect().toSeq
    assert(got.map(r => (r._2, r._3)) == Seq((1L, "A"), (2L, "B"),
      (3L, "A")))
    // both sub-ms changes floor to from_ms 0 — the documented ms
    // granularity; the VERSION order still replays the ns order
    assert(got(0)._4 == 0L && got(1)._4 == 0L)
    assert(got(2)._6 && !got(0)._6)
  }

  test("scd2Merge: continuing vs closing vs new-key vs untouched-key, " +
      "by hand") {
    val old = Seq(
      (1L, 0L * M, 10L, "A", 0.0),   // user 10: open A (will continue)
      (2L, 0L * M, 20L, "A", 0.0),
      (3L, 5L * M, 20L, "B", 0.0),   // user 20: closed A, open B (closes)
      (4L, 0L * M, 30L, "A", 0.0)    // user 30: no new events
    ).toDF("event_id", "ts", "user_id", "event_type", "value")
    val nw = Seq(
      (5L, 10L * M, 10L, "A", 0.0),  // continues 10's A
      (6L, 20L * M, 10L, "B", 0.0),  // then changes
      (7L, 10L * M, 20L, "C", 0.0),  // closes 20's B
      (8L, 10L * M, 40L, "X", 0.0)   // brand-new key
    ).toDF("event_id", "ts", "user_id", "event_type", "value")
    val cur = Events.scd2(old, "user_id", "event_type")
    val got = Events.scd2Merge(cur, nw, "user_id", "event_type")
      .orderBy("user_id", "version")
      .as[(Long, Long, String, Long, Option[Long], Boolean)]
      .collect().toSeq
    val ms = 60L * 1000L
    assert(got == Seq(
      (10L, 1L, "A", 0L, Some(20L * ms), false),
      (10L, 2L, "B", 20L * ms, None, true),
      (20L, 1L, "A", 0L, Some(5L * ms), false),
      (20L, 2L, "B", 5L * ms, Some(10L * ms), false),
      (20L, 3L, "C", 10L * ms, None, true),
      (30L, 1L, "A", 0L, None, true),
      (40L, 1L, "X", 10L * ms, None, true)))
  }

  test("nextEventEval: deterministic-sequence users score 1.0; a " +
      "state only the eval fold saw predicts NULL and misses") {
    import graft.ops.Portable
    // find user ids in the eval fold (0) and in a train fold
    val folds = spark.range(1, 200)
      .select(col("id"), pmod(Portable.seededHash(lit("mkv"), col("id")),
        lit(5L)).as("f"))
      .as[(Long, Long)].collect()
    val evalUsers = folds.filter(_._2 == 0L).map(_._1).take(3)
    val trainUsers = folds.filter(_._2 != 0L).map(_._1).take(10)
    assert(evalUsers.nonEmpty && trainUsers.nonEmpty)
    // everyone plays A->B->A->B; one eval user also emits Z->Z
    val base = (evalUsers ++ trainUsers).zipWithIndex.flatMap {
      case (u, ui) => Seq("A", "B", "A", "B").zipWithIndex.map {
        case (t, i) => (ui * 10L + i, i.toLong * M, u, t, 0.0) }
    }
    val zTail = Seq((9001L, 10L * M, evalUsers.head, "Z", 0.0),
      (9002L, 11L * M, evalUsers.head, "Z", 0.0))
    val ev = (base.toSeq ++ zTail)
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val got = Events.nextEventEval(ev, 5, "mkv")
      .orderBy("prev")
      .as[(String, Option[String], Long, Long, Double)].collect().toSeq
    val byPrev = got.map(r => r._1 -> r).toMap
    assert(byPrev("A")._2.contains("B") && byPrev("A")._5 == 1.0)
    // B -> A everywhere except the eval user's one B -> Z tail... the
    // Z tail follows B only for that user, so B's rate dips below 1
    assert(byPrev("B")._2.contains("A") && byPrev("B")._4 >= 1L)
    // Z never appears in a train fold: prediction NULL, zero hits
    assert(byPrev("Z")._2.isEmpty && byPrev("Z")._4 == 0L)
  }

  test("decayedCounts: halving per half-life by hand; future events " +
      "excluded; integerized sum is partitioning-invariant") {
    val ns = 1000000L // 1 ms in ns
    val ev = Seq(
      (1L, 1000L * ns, 1L, "a", 0.0),  // age 0   -> 1.0
      (2L, 900L * ns, 1L, "a", 0.0),   // age 100 -> 0.5
      (3L, 800L * ns, 1L, "a", 0.0),   // age 200 -> 0.25
      (4L, 1100L * ns, 1L, "a", 0.0),  // future  -> excluded
      (5L, 1000L * ns, 2L, "b", 0.0)
    ).toDF("event_id", "ts", "user_id", "event_type", "value")
    val got = Events.decayedCounts(ev, halfLifeMs = 100L, asOfMs = 1000L)
      .orderBy("event_type")
      .as[(String, Long, Double, Double)].collect().toSeq
    assert(got == Seq(("a", 3L, 1.75, 0.583333333), ("b", 1L, 1.0, 1.0)))
    val rep = Events.decayedCounts(ev.repartition(7), 100L, 1000L)
      .orderBy("event_type")
      .as[(String, Long, Double, Double)].collect().toSeq
    assert(rep == got)
  }

  test("abTest: perfectly separated arms give the textbook pooled z; " +
      "degenerate all-convert case yields NULL z, not a crash") {
    import graft.ops.Portable
    val arms = spark.range(1, 400)
      .select(col("id"), pmod(Portable.seededHash(lit("ab"), col("id")),
        lit(2L)).as("arm"))
      .as[(Long, Long)].collect()
    val a0 = arms.filter(_._2 == 0L).map(_._1).take(20)
    val a1 = arms.filter(_._2 == 1L).map(_._1).take(30)
    // arm 0 all convert, arm 1 never
    val ev = (a0.map(u => (u, 0L, u, "purchase", 0.0)) ++
      a1.map(u => (u, 0L, u, "view", 0.0))).toSeq
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val r = Events.abTest(ev, "purchase", "ab")
      .as[(Long, Long, Long, Long, Double, Double, Option[Double],
        Boolean)].collect().head
    assert(r._1 == 20L && r._2 == 20L && r._3 == 30L && r._4 == 0L)
    assert(r._5 == 1.0 && r._6 == 0.0)
    val pp = 20.0 / 50.0
    val z = BigDecimal(1.0 / math.sqrt(pp * (1.0 - pp) *
      (1.0 / 20.0 + 1.0 / 30.0)))
      .setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(r._7.contains(z) && r._8)
    // everyone converts: pooled rate 1 -> zero variance -> NULL z
    val all = (a0 ++ a1).map(u => (u, 0L, u, "purchase", 0.0)).toSeq
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val d = Events.abTest(all, "purchase", "ab")
      .select("z", "significant").as[(Option[Double], Boolean)]
      .collect().head
    assert(d._1.isEmpty && !d._2)
    // one arm empty (ANSI divide-by-zero hazard): NULLs, never a crash
    val oneArm = a0.map(u => (u, 0L, u, "purchase", 0.0)).toSeq
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val e = Events.abTest(oneArm, "purchase", "ab")
      .select("rate_b", "z", "significant")
      .as[(Option[Double], Option[Double], Boolean)].collect().head
    assert(e._1.isEmpty && e._2.isEmpty && !e._3)
  }

  test("scd2Merge law: merge(scd2(old), new) == scd2(all) at every " +
      "global time cut on a seeded random stream") {
    val rnd = new scala.util.Random(11)
    val all = Seq.tabulate(400) { i =>
      (i.toLong, rnd.nextInt(500).toLong * M, (1 + rnd.nextInt(5)).toLong,
        Seq("A", "B", "C")(rnd.nextInt(3)), 0.0)
    }.toDF("event_id", "ts", "user_id", "event_type", "value")
    val expect = Events.scd2(all, "user_id", "event_type")
      .collect().map(_.toSeq).toSet
    for (cutMin <- Seq(1L, 100L, 250L, 499L)) {
      val cut = cutMin * M
      val got = Events.scd2Merge(
        Events.scd2(all.filter(col("ts") < cut), "user_id", "event_type"),
        all.filter(col("ts") >= cut), "user_id", "event_type")
        .collect().map(_.toSeq).toSet
      assert(got == expect, s"cut at $cutMin min diverged from rebuild")
    }
  }

  test("hourOfDayProfile: uniform-over-24 reads chi2 0; all-in-one-hour " +
      "reads 23n; peak ties break to the earliest hour") {
    val HR = 3600L * 1000000000L
    val uniform = (0 until 24).map(h =>
      (h.toLong, h * HR, 1L, "u", 0.0))
    val burst = (0 until 10).map(i =>
      (100L + i, 5 * HR + i, 2L, "b", 0.0))
    val df = (uniform ++ burst)
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val r = Events.hourOfDayProfile(df)
      .as[(String, Long, Long, Double, Double)].collect()
      .map(x => x._1 -> x).toMap
    val u = r("u")
    assert(u._2 == 24L && u._3 == 0L && u._5 == 0.0)
    assert(u._4 == 0.041666667) // 1/24 at 9dp
    val b = r("b")
    assert(b._2 == 10L && b._3 == 5L && b._4 == 1.0 && b._5 == 230.0)
  }

  test("touchAttribution: journeys split on conversions; first/last " +
      "credit; lookback drops stale touches; cold convs only count") {
    val e = Seq(
      // user 1, journey 0: view, cart -> purchase; journey 1: view -> purchase
      (1L, 0L * M, 1L, "view", 0.0),
      (2L, 5L * M, 1L, "cart", 0.0),
      (3L, 10L * M, 1L, "purchase", 1.0),
      (4L, 20L * M, 1L, "view", 0.0),
      (5L, 30L * M, 1L, "purchase", 1.0),
      // user 2: stale touch (25h before conv) then a cold conversion
      (6L, 0L * M, 2L, "cart", 0.0),
      (7L, 25L * H, 2L, "purchase", 1.0)
    ).toDF("event_id", "ts", "user_id", "event_type", "value")
    val r = Events.touchAttribution(e, "purchase", 86400000L)
      .orderBy("event_type")
      .as[(String, Long, Long, Long)].collect()
    assert(r.map(_._4).distinct.toSeq == Seq(3L)) // 3 conversions total
    val m = r.map(x => x._1 -> x).toMap
    assert(m("view") == (("view", 2L, 1L, 3L)))   // first in j0 and j1
    assert(m("cart") == (("cart", 0L, 1L, 3L)))   // last in j0 only
    assert(!m.contains("purchase"))
  }

  test("sprtTrace: constants have the right signs; an all-convert " +
      "run crosses the H1 boundary at the closed-form day") {
    val (c09, c19, a9, b9) = Events.sprtConstants(0.2, 0.8, 0.05, 0.05)
    assert(c19 > 0L && c09 < 0L && a9 > 0L && b9 < 0L)
    assert(c19 == 1386294361L)  // ln 4 at 1e9
    assert(a9 == 2944438979L)   // ln 19
    // one converting user per day: llr(day d) = d·ln4 crosses ln19 at d=3
    val D = 24L * H
    val e = (1 to 4).flatMap { d =>
      Seq((d.toLong * 10L, (d - 1).toLong * D, d.toLong, "purchase", 1.0))
    }.toDF("event_id", "ts", "user_id", "event_type", "value")
    val r = Events.sprtTrace(e, "purchase", 0.2, 0.8, 0.05, 0.05)
      .orderBy("day")
      .as[(Long, Long, Long, Long, Long, Double, String)].collect()
    assert(r.map(_._7).toSeq ==
      Seq("continue", "continue", "accept_h1", "accept_h1"))
    assert(r(2)._6 == 4.158883083) // 3·ln4 at 9dp
  }

  test("trendTest: rising daily rates give z > 0; flat rates give " +
      "exactly 0; a single day is NULL") {
    val D = 24L * H
    // day d has 2 users; conversions 0, 1, 2 across days 1..3
    def u(d: Long, uid: Long, conv: Boolean) =
      (d * 100L + uid, (d - 1L) * D, uid + d * 10L,
        if (conv) "purchase" else "view", 1.0)
    val rising = Seq(
      u(1, 1, conv = false), u(1, 2, conv = false),
      u(2, 1, conv = true), u(2, 2, conv = false),
      u(3, 1, conv = true), u(3, 2, conv = true)
    ).toDF("event_id", "ts", "user_id", "event_type", "value")
    val r = Events.trendTest(rising, "purchase")
      .as[(Long, Long, Long, Option[Double])].head()
    assert(r._1 == 3L && r._2 == 6L && r._3 == 3L)
    assert(r._4.exists(_ > 1.7)) // perfect trend on 6 obs
    val flat = Seq(
      u(1, 1, conv = true), u(1, 2, conv = false),
      u(2, 1, conv = true), u(2, 2, conv = false)
    ).toDF("event_id", "ts", "user_id", "event_type", "value")
    assert(Events.trendTest(flat, "purchase")
      .as[(Long, Long, Long, Option[Double])].head()._4.contains(0.0))
    val one = Seq(u(1, 1, conv = true))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    assert(Events.trendTest(one, "purchase")
      .as[(Long, Long, Long, Option[Double])].head()._4.isEmpty)
  }

  test("windowAnomalyRobust: a spike against a stable median flags; " +
      "the median baseline shrugs off one outlier in the trail; " +
      "zero MAD falls back to any-deviation") {
    // type a, hourly windows: counts 2,2,2,9,2,50 over 6 hours
    val counts = Seq(2, 2, 2, 9, 2, 50)
    val e = counts.zipWithIndex.flatMap { case (c, hr) =>
      (1 to c).map(i =>
        ((hr * 100 + i).toLong, hr.toLong * H + i * M, 1L, "a", 1.0))
    }.toDF("event_id", "ts", "user_id", "event_type", "value")
    val r = Events.windowAnomalyRobust(e, 3600000L, trailing = 4,
        kNum = 3L, kDen = 1L)
      .orderBy("window_start_ms")
      .as[(String, Long, Long, Double, Double, Boolean)].collect()
    // windows with full history: hr4 (trail 2,2,2,9) and hr5
    assert(r.length == 2)
    // hr4: sorted trail [2,2,2,9], med2 = 4 -> center 2, devs
    // [0,0,0,14] -> dm2 = 0 -> zero-MAD fallback; x = 2 = med -> calm
    assert(r(0)._4 == 2.0 && r(0)._5 == 0.0 && !r(0)._6)
    // hr5: trail = hrs 1-4 sorted [2,2,2,9]: center 2,
    // dx = |2*50 - 4| = 96 -> flags
    assert(r(1)._3 == 50L && r(1)._6)
  }

  test("dispersionProfile: a one-day burst reads Fano 6 on a 3-day " +
      "span; a uniform type reads exactly 0; absent days count as 0") {
    val D = 24L * H
    val e = (
      // type a: 6 events on day 1 of a 3-day span -> counts [6,0,0]
      (1 to 6).map(i => (i.toLong, 0L, i.toLong, "a", 1.0)) ++
      // type b: 2 events each day -> counts [2,2,2]
      (0 to 2).flatMap(d => Seq(
        (100L + d * 2, d * D, 1L, "b", 1.0),
        (101L + d * 2, d * D + M, 2L, "b", 1.0)))
    ).toDF("event_id", "ts", "user_id", "event_type", "value")
    val r = Events.dispersionProfile(e).orderBy("event_type")
      .as[(String, Long, Long, Option[Double], Option[Double])].collect()
    assert(r(0) == (("a", 3L, 6L, Some(2.0), Some(6.0))))
    assert(r(1) == (("b", 3L, 6L, Some(2.0), Some(0.0))))
  }

  test("overlapJoin: closed-interval semantics incl. touching " +
      "endpoints; equals the brute-force theta join; grid dups pruned") {
    val a = Seq(("a1", 0L, 10L), ("a2", 25L, 40L), ("a3", 100L, 230L))
      .toDF("a_id", "a_start", "a_end")
    val b = Seq(("b1", 10L, 20L), ("b2", 50L, 99L), ("b3", 0L, 300L))
      .toDF("b_id", "b_start", "b_end")
    val got = Events.overlapJoin(a, b, 16L)
      .select("a_id", "b_id").as[(String, String)].collect().toSet
    val want = (for {
      (ai, as_, ae) <- Seq(("a1", 0L, 10L), ("a2", 25L, 40L),
        ("a3", 100L, 230L))
      (bi, bs, be) <- Seq(("b1", 10L, 20L), ("b2", 50L, 99L),
        ("b3", 0L, 300L))
      if as_ <= be && bs <= ae
    } yield (ai, bi)).toSet
    assert(got == want)
    assert(got.contains(("a1", "b1"))) // touching at 10 overlaps
    assert(!got.contains(("a2", "b2")))
    // a3 x b3 spans many 16-wide cells -> must appear exactly once
    val n = Events.overlapJoin(a, b, 16L)
      .filter(col("a_id") === "a3" && col("b_id") === "b3").count()
    assert(n == 1L)
  }
}

package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

object Bench {
  /** One pass's observations: name -> (elapsed sec, error if failed). */
  type Pass = Map[String, (Double, Option[String])]

  /** Pass total over every query's elapsed time (failures included —
    * a failing pass still spent the wall-clock). */
  def passTotal(p: Pass): Double = p.values.map(_._1).sum

  /** Per-query first-execution allowance subtracted from the pass-total
    * gap before the 15% wire fires: pass 1 is every query's FIRST
    * execution in the JVM and systematically carries ~0.3 s/query of
    * one-time codegen/classload — measured 79 s over 272 queries (r12,
    * 530.6 vs 451.5) and 86 s over 274 (r13, 454.0 vs 368.4), BOTH on
    * clean boxes — so a relative-only band stopped fitting once the
    * suite outgrew ~200 queries and flagged every run contended. True
    * co-tenancy steals whole seconds per query across the board (r8:
    * 208 s over ~180 queries), which clears the allowance; theft
    * concentrated in a few queries (the r9 signature) is
    * [[perQueryDivergent]]'s job either way. */
  val FirstRunSecPerQuery = 0.35

  /** The contended-run trip wire, part 1: two pass totals more than
    * 15% apart (the documented idle-box noise band) BEYOND the
    * [[FirstRunSecPerQuery]]·n first-execution allowance mean a
    * co-tenant stole the box for one of them, and every two-pass min
    * is suspect. Round 9's driver run diverged 23% and slipped under
    * the old 25% wire while individual funnel queries read 3-4x their
    * idle cost — hence the band-edge threshold plus
    * [[perQueryDivergent]]. `a` is pass 1 (the first-execution pass),
    * `b` pass 2; the allowance is DIRECTION-AWARE — it only excuses
    * pass 1 being the slower total, because codegen/classload cannot
    * make pass 2 slower: evenly-spread co-tenant theft landing in
    * pass 2 must still trip. `n` is the suite size (0 = no allowance,
    * for comparing two equally-warm totals, where the wire is
    * symmetric). */
  def divergent(a: Double, b: Double, n: Int = 0): Boolean =
    math.max(a - b - FirstRunSecPerQuery * n, b - a) >
      0.15 * math.max(math.min(a, b), 1e-9)

  /** The trip wire, part 2: totals AVERAGE contention away (r9: q62
    * read 3x between passes while totals sat 23% apart), so also trip
    * when any single query's two successful passes disagree by more
    * than `factor`x above a 1 s floor (sub-second queries jitter
    * freely — scheduling noise, not co-tenancy). The TRIGGER
    * comparison (pass 1 vs 2) uses the default 2x; the VERDICT
    * comparison (the two warm passes) uses 3x, because a 274-query
    * suite under an 8 GB driver evicts cached frames stochastically
    * between warm passes — a mid-size persist-reusing query
    * legitimately reads ~2x when its cache went cold (measured on
    * idle-box runs), while r9-style theft read 4x. */
  def suspects(a: Pass, b: Pass, factor: Double = 2.0): Seq[String] =
    a.keys.toSeq.sorted.filter { n =>
      (a(n), b(n)) match {
        case ((ta, None), (tb, None)) =>
          math.min(ta, tb) >= 1.0 &&
            math.max(ta, tb) > factor * math.min(ta, tb)
        case _ => false
      }
    }

  def perQueryDivergent(a: Pass, b: Pass, factor: Double = 2.0): Boolean =
    suspects(a, b, factor).nonEmpty

  /** Per-query min over the passes that SUCCEEDED; a query that failed
    * in every pass falls back to the min elapsed (which then measures
    * the failure — `allFailMessage` marks it). */
  def minFold(names: Seq[String], passes: Seq[Pass]): Seq[(String, Double)] =
    names.map { n =>
      val obs = passes.map(_(n))
      val ok = obs.collect { case (t, None) => t }
      n -> (if (ok.nonEmpty) ok.min else obs.map(_._1).min)
    }

  /** Error entry for a query ONLY when no pass succeeded — `errors`
    * membership is the per-query failed/measured signal. */
  def allFailMessage(name: String, passes: Seq[Pass]): Option[(String, String)] = {
    val fails = passes.map(_(name)._2)
    if (fails.forall(_.isDefined)) {
      val msgs = fails.flatten
      Some(name -> (if (msgs.distinct.size == 1) msgs.head
      else msgs.zipWithIndex
        .map { case (e, i) => s"pass${i + 1}: $e" }.mkString(" | ")))
    } else None
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // the engine's recommended production confs (AQE + coalescing +
    // skew-join, UTC, nanos-as-long) — the bench measures the session
    // posture the scaladocs prescribe, not a bare-defaults session
    val spark = graft.conf.Sessions.forMain("graft-bench")
    warmUp(spark, sfDir)
    var errors = Map.empty[String, String]
    // sorted order: deterministic run sequence run-to-run and round-to-
    // round (Map iteration order is arbitrary and changes with the
    // query count)
    val names = SparkEntry.queries.keys.toSeq.sorted
    // Two BACK-TO-BACK timings per query, report the per-query MIN over
    // the runs that SUCCEEDED: any transient contention (driver
    // activity, JIT recompiles, stray GC) inflates one run but almost
    // never both — the min is the steady-state cost, reproducible
    // run-to-run within ~15%. Back-to-back (not two distant full
    // passes): the second run sees the first's page-cache/JIT/codegen
    // state, so the min is the query's WARM number — a distant second
    // pass re-reads evicted inputs and publishes a cold number for
    // whichever funnel runs first (the r10 q77 artifact: published
    // 13.0 s vs 4.1 s warm, pure run-order skew). A failed run's
    // elapsed time measures the failure, not the query, so it never
    // wins the min. `errors` lists a query ONLY when no run succeeded
    // (its `queries` time then measures failures, not the query) — so
    // `errors` membership IS the per-query failed/measured signal; an
    // all-fail entry keeps every run's message.
    val obs = names.map { n =>
      n -> (timeOnce(spark, sfDir, n), timeOnce(spark, sfDir, n)) }
    val pass1 = obs.map { case (n, (a, _)) => n -> a }.toMap
    val pass2 = obs.map { case (n, (_, b)) => n -> b }.toMap
    // Contention self-defense: pass totals agreeing (within ~15% past
    // the first-run allowance) is the trustworthy-run signature —
    // disagreement means a co-tenant MAY have stolen the box for one
    // pass, so run a third pass and min-fold all three (two of three
    // passes land on the quiet side in practice). (BENCH_r08's 431.7
    // vs 223.6 s passes made every funnel row a lie — this is the
    // fix.) The pass-1 wires only TRIGGER the defense pass; they do
    // not convict: pass 1 is every query's first execution and pays
    // planning+codegen (~5 s on the composed funnel entries — q62
    // reads 10.2 s cold vs 4.4 s warm on an idle box, structurally
    // tripping the 2x per-query wire on every clean run). The VERDICT
    // compares the two equally-warm passes 2 and 3, where only real
    // co-tenancy (or block-manager drift worth flagging) shows.
    val wireTotals12 = divergent(passTotal(pass1), passTotal(pass2), names.size)
    val wirePerQuery12 = perQueryDivergent(pass1, pass2)
    val triggered = wireTotals12 || wirePerQuery12
    var wireTotals23 = false
    val (passes, contended, suspectList) =
      if (triggered) {
        // The defense pass is itself TWO back-to-back timings per query
        // (successful min wins), exactly like the trigger passes: a
        // single distant pass re-reads inputs evicted since pass 2 and
        // carries pure run-order skew — the repo's own r10 data point
        // (q77: 13.0 s distant vs 4.1 s warm) is 3.17x, ABOVE the 3x
        // verdict factor, so a clean run could be convicted. Min-of-two
        // back-to-back restores the warm number the verdict compares.
        def betterOf(x: (Double, Option[String]),
                     y: (Double, Option[String])): (Double, Option[String]) =
          (x, y) match {
            case ((tx, None), (ty, None)) => (math.min(tx, ty), None)
            case ((_, None), _) => x
            case (_, (_, None)) => y
            case _ => if (x._1 <= y._1) x else y
          }
        val pass3 = names.map { n =>
          n -> betterOf(timeOnce(spark, sfDir, n),
            timeOnce(spark, sfDir, n)) }.toMap
        val sus = suspects(pass2, pass3, factor = 3.0)
        wireTotals23 = divergent(passTotal(pass2), passTotal(pass3))
        (Seq(pass1, pass2, pass3), wireTotals23 || sus.nonEmpty, sus)
      } else (Seq(pass1, pass2), false, Seq.empty[String])
    val results = minFold(names, passes)
    errors = names.flatMap(n => allFailMessage(n, passes)).toMap
    val qs = results.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val errs = errors.map { case (k, v) => s"\"" + k + "\":\"" + v + "\"" }
      .mkString("{", ",", "}")
    val totalMin = if (results.nonEmpty) results.map(_._2).sum else 0.0
    // pass totals recorded alongside the min-fold: a reader can judge the
    // run's own noise level (passes agreeing within ~15% = trustworthy);
    // "contended":true marks a run that tripped the >25% divergence guard
    // and was min-folded over THREE passes
    val passTotals = passes.map(passTotal).mkString("[", ",", "]")
    // field order matters: the driver's artifact keeps only the log
    // TAIL, so the bulky per-query map goes FIRST and the headline
    // fields (metric/unit/value/pass_totals) go LAST — a truncated
    // capture still ends with the totals (r10/r11 artifacts lost them
    // and parsed as null with the old totals-first order)
    val susJson = suspectList.take(10)
      .map(n => "\"" + n + "\"").mkString("[", ",", "]")
    val line = s"""{"queries":$qs,"errors":$errs,"sf":"$sfDir","contended":$contended,"suspects":$susJson,"pass_totals":$passTotals,"metric":"total","unit":"sec","value":$totalMin}"""
    println(line)
    // Second, SHORT summary line AFTER the big one: the driver keeps the
    // log tail, and the ~9 KB full line loses its head under the capture
    // window (r12's artifact had readable totals but still parsed as
    // null because the line's opening brace was gone). This line is
    // ~150 bytes — it survives any truncation and parses on its own.
    println(s"""{"metric":"total","unit":"sec","value":$totalMin,"sf":"$sfDir","contended":$contended,"suspects":$susJson,"pass_totals":$passTotals,"nqueries":${names.size},"nerrors":${errors.size}}""")
    // Also persist to a file: the driver's artifact captures only the
    // log TAIL, which truncated away the totals + 88 per-query rows in
    // round 7 once the suite outgrew the capture window. The file is the
    // truncation-proof record.
    try {
      val dir = java.nio.file.Paths.get("target")
      java.nio.file.Files.createDirectories(dir)
      java.nio.file.Files.writeString(dir.resolve("bench.json"), line + "\n")
      // Raw per-pass record: three straight contended rounds (r12-r14)
      // each cost an idle-rig adjudication session because only the
      // min-fold shipped — with every pass's raw timing plus which wire
      // fired, a reader can separate co-tenant theft (one pass inflated,
      // others at the idle level) from a real regression (all passes
      // moved together) without re-running anything. Pass 1 is each
      // query's first JVM execution (carries ~0.35 s/query codegen);
      // pass 3, when present, is itself a min-of-two back-to-back
      // defense pass.
      val passesJson = passes.map { p =>
        names.map { n =>
          val (t, e) = p(n)
          "\"" + n + "\":{\"sec\":" + t +
            e.fold("")(m => ",\"err\":\"" + m + "\"") + "}"
        }.mkString("{", ",", "}")
      }.mkString("[", ",", "]")
      val wires = s"""{"pass12_totals":$wireTotals12,"pass12_per_query":$wirePerQuery12,"defense_ran":$triggered,"pass23_totals":$wireTotals23,"pass23_suspects":$susJson}"""
      java.nio.file.Files.writeString(dir.resolve("bench_passes.json"),
        s"""{"sf":"$sfDir","contended":$contended,"wires":$wires,"pass_totals":$passTotals,"first_run_allowance_sec_per_query":$FirstRunSecPerQuery,"nqueries":${names.size},"passes":$passesJson}""" + "\n")
    } catch { case e: Throwable =>
      System.err.println(s"[bench] could not write target/bench.json: $e") }
    spark.stop()
  }

  /** Untimed warmup: the first query in a fresh JVM otherwise absorbs
    * 5-8s of classloading/codegen/parquet-footer setup and its number
    * becomes uninterpretable. q1 touches the scan + shuffle + agg
    * machinery; a 4-row Word2Vec fit touches the MLlib trainer's
    * classload/codegen path (q37's pass-1 number was otherwise ~2x its
    * steady state — measuring initialization, not the query). Failures
    * here surface in the timed run instead. */
  def warmUp(spark: SparkSession, sfDir: String): Unit =
    try {
      checksum(SparkEntry.queries("q1_pricing_summary")(spark, sfDir))
      import spark.implicits._
      val toy = Seq(Seq("a", "b"), Seq("a", "c"), Seq("b", "c"), Seq("a", "b"))
        .toDF("tokens")
      graft.ml.Prod2Vec.train(toy,
        graft.ml.Prod2Vec.Params(vectorSize = 4, minCount = 1,
          numPartitions = 1)).getVectors.count()
    } catch { case _: Throwable => () }

  /** Checksum over EVERY output column — a bare .count() lets Catalyst
    * prune expensive computed columns out of the plan, so the
    * "benchmark" would never evaluate them. bit_xor fold:
    * order-independent and cannot overflow (sum of xxhash64 Longs
    * throws ARITHMETIC_OVERFLOW under ANSI mode). */
  def checksum(df: DataFrame): Unit =
    df.select(xxhash64(df.columns.toIndexedSeq.map(col): _*).as("__h"))
      .agg(bit_xor(col("__h"))).collect()

  /** One timed build + [[checksum]] of query `name`: (elapsed seconds,
    * error message if it failed). */
  def timeOnce(spark: SparkSession, sfDir: String,
               name: String): (Double, Option[String]) = {
    // collect the previous query's garbage OUTSIDE the timed region —
    // recorded r2-r4 benches all carried late-run GC noise (a 0.4 s
    // query billed 5 s for its predecessors' allocations)
    System.gc()
    val t0 = System.nanoTime()
    val err = try {
      checksum(SparkEntry.queries(name)(spark, sfDir))
      None
    } catch {
      case e: Throwable =>
        Some(e.toString.replaceAll("""["\\\n\r\t]""", " ").take(200))
    }
    ((System.nanoTime() - t0) / 1e9, err)
  }
}

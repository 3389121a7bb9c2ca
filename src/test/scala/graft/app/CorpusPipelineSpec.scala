package graft.app

import graft.SparkSpec
import graft.ops.Text
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

class CorpusPipelineSpec extends SparkSpec {

  private def docs = spark.read.parquet(sf("sf0.001") + "/documents.parquet")

  /** [[CorpusPipeline.curateToParquet]] into a fresh directory: the
    * result (with its funnel) and the chunk table read back from the
    * sink. */
  private def curated(d: DataFrame,
                      cfg: CorpusPipeline.Config = CorpusPipeline.Config())
      : (CorpusPipeline.Result, DataFrame) = {
    val out = java.nio.file.Files.createTempDirectory("graft-curate")
      .toString
    val r = CorpusPipeline.curateToParquet(d, out, cfg)
    (r, spark.read.parquet(out))
  }

  test("curate: monotone funnel, budgeted normalized chunks, dup-free survivors") {
    val (r, chunks) = curated(docs)
    val f = r.funnel.toMap
    val order = Seq("input", "normalized_non_empty", "language", "quality",
      "exact_dedup", "near_dedup")
    order.sliding(2).foreach { case Seq(a, b) =>
      assert(f(b) <= f(a), s"funnel grew: $a=${f(a)} -> $b=${f(b)}")
    }
    assert(f("near_dedup") > 0, "funnel filtered everything out")
    // every surviving doc is non-empty, so it yields >= 1 chunk
    assert(f("chunks") >= f("near_dedup"))
    // chunk budget respected, no empty chunks
    assert(chunks.filter(col("n_tokens") > 64 || col("n_tokens") <= 0)
      .count() == 0)
    // chunk doc_ids are exactly the near-dedup survivors
    val survivors = chunks.select("doc_id").distinct()
    assert(survivors.count() == f("near_dedup"))
    // survivors are exact-dup free on normalized text
    val texts = docs.join(survivors, Seq("doc_id"))
      .select(Text.normalize(col("text")).as("t"))
    assert(texts.count() == texts.distinct().count())
  }

  test("curateToParquet: funnel collected with the source scanned once") {
    // instrument the source: accumulator ticks once per row READ, so
    // (value / rows) = full source scans. Each stage's count is an
    // Observation filled by the action that first reads its frame, so
    // the funnel costs no scan of its own: the one source scan fills
    // the normalized cache, and every later read hits caches.
    val base = docs.collect().toSeq
    val n = base.length
    val acc = spark.sparkContext.longAccumulator("corpus-source-rows")
    val src = spark.createDataFrame(
      spark.sparkContext.parallelize(base, 4).map { r => acc.add(1); r },
      docs.schema)
    val (r, _) = curated(src)
    assert(r.funnel.toMap.apply("input") == n)
    assert(r.funnel.toMap.apply("near_dedup") > 0)
    assert(acc.value == n, s"source scanned ${acc.value.toDouble / n}x, want 1x")
    // counts must match the un-instrumented run bit-for-bit
    assert(r.funnel == curated(docs)._1.funnel)
  }

  test("curate lazy mode: source scanned exactly once end-to-end") {
    // curate has only the lazy evaluation mode. Spark plans are trees,
    // not DAGs: without the gate persists the lazy chunk plan
    // multiplied to ~120 source-scan references. With them,
    // construction (the eager near-dedup fixpoint) fills the caches
    // off ONE source scan and the chunk action reads caches.
    val base = docs.collect().toSeq
    val n = base.length
    val acc = spark.sparkContext.longAccumulator("lazy-source-rows")
    val src = spark.createDataFrame(
      spark.sparkContext.parallelize(base, 4).map { r => acc.add(1); r },
      docs.schema)
    val r = CorpusPipeline.curate(src)
    assert(r.chunks.count() > 0)
    assert(acc.value == n, s"source scanned ${acc.value.toDouble / n}x, want 1x")
    r.persisted.foreach(_.unpersist())
  }

  test("curateToParquet: the funnel starts no job of its own") {
    // with the default config the jobs are the barriers' and the sink
    // write's; none has its call site in CorpusPipeline.scala (a count
    // per stage did)
    val sites = jobSites("curate-sites") { curated(docs) }
    assert(sites.exists(_.contains("Sources.scala")), sites.mkString("\n"))
    val own = sites.filter(_.contains("CorpusPipeline.scala"))
    assert(own.isEmpty, own.mkString("\n"))
  }

  test("curateToParquet: near-dup clusters finish on the driver, with no " +
      "round counts and fewer barrier calls") {
    // the verified pairs fit the driver budget, so nearDupClusters
    // makes its edge cut and one probe, and no propagation round (two
    // barriers and a convergence count each). With the rounds, this
    // fixture made 4 round counts, 11 barrier calls and 39 barrier
    // jobs. A job's result-stage name counts one job per barrier CALL;
    // the bracketed execution site counts every job of the barrier.
    val sites = jobSites("curate-cc") { curated(docs) }
    val counts = sites.filter(_.contains("count at Dedup.scala"))
    assert(counts.isEmpty, counts.mkString("\n"))
    val barrier = "localCheckpoint at Barrier.scala"
    assert(sites.count(_.startsWith(barrier)) < 11, sites.mkString("\n"))
    assert(sites.count(_.contains(barrier)) < 39, sites.mkString("\n"))
    // the driver probe reads the edges through one partition: one job
    // (a limit over the checkpoint's partitions scaled up in a second)
    assert(sites.count(_.startsWith("collect at Dedup.scala")) == 1,
      sites.mkString("\n"))
  }

  /** The persisted gate frame of a default [[CorpusPipeline.curate]] of
    * the parquet fixture, unpersisted again so that its plan is planned
    * in full rather than read from the cache. */
  private def gateFrame(): DataFrame = {
    val r = CorpusPipeline.curate(docs)
    val normed = r.persisted.find(_.columns.contains("__pred_lang")).get
    r.persisted.foreach(_.unpersist(blocking = true))
    normed.select("*")
  }

  test("curate: the gate frame normalizes once and reads one signals pass " +
      "per row") {
    // a filter on the normalized text, pushed below the projection
    // that normalizes, would normalize a second time; each normalize
    // is one `ascii_fold`
    val plan = gateFrame().queryExecution.optimizedPlan
    val exprs = plan.collect { case p => p.expressions }.flatten
      .flatMap(_.collect { case e => e })
    assert(exprs.count(_.prettyName == "ascii_fold") == 1, plan.toString)
    assert(exprs.count(_.prettyName == "text_signals") == 1, plan.toString)
  }

  test("curate: every whole-stage-codegen method of the gate stage stays " +
      "within HotSpot's 8,000-byte compile limit") {
    // the parquet source keeps the projection in generated code (a
    // local relation is evaluated by the optimizer); without adaptive
    // execution the executed plan holds the final codegen stages
    val key = "spark.sql.adaptive.enabled"
    val was = spark.conf.get(key)
    spark.conf.set(key, "false")
    try {
      val stages = org.apache.spark.sql.execution.debug.codegenStringSeq(
        gateFrame().queryExecution.executedPlan)
      assert(stages.exists(_._1.contains("ascii_fold(")), stages.map(_._1))
      info(s"largest generated method: " +
        s"${stages.map(_._3.maxMethodCodeSize).max} bytes")
      stages.foreach { case (subtree, _, stats) =>
        assert(stats.maxMethodCodeSize <= 8000,
          s"${stats.maxMethodCodeSize} bytes in\n$subtree")
      }
    } finally spark.conf.set(key, was)
  }

  test("curateToParquet: nothing survives the language gate, the funnel " +
      "reads zeros") {
    // every stage after the language gate runs on an empty frame; the
    // sink's join over an empty side may be planned away, and the
    // stages it reads first must still report their (zero) counts
    val n = docs.count()
    val nonEmpty = docs.filter(length(Text.normalize(col("text"))) > 0)
      .count()
    def funnel(cfg: CorpusPipeline.Config): Seq[(String, Long)] =
      CorpusPipeline.curateToParquet(docs, java.nio.file.Files
        .createTempDirectory("graft-curate-empty").toString, cfg).funnel
    assert(funnel(CorpusPipeline.Config(keepLangs = Set("zz"))) == Seq(
      "input" -> n, "normalized_non_empty" -> nonEmpty, "language" -> 0L,
      "quality" -> 0L, "exact_dedup" -> 0L, "near_dedup" -> 0L,
      "chunks" -> 0L))
    val full = CorpusPipeline.Config(keepLangs = Set("zz"),
      evalDocs = Some(docs.limit(3).select("doc_id", "text")),
      scrubSpanK = Some(8), packSeqTokens = Some(32))
    assert(funnel(full) == Seq(
      "input" -> n, "normalized_non_empty" -> nonEmpty, "language" -> 0L,
      "quality" -> 0L, "exact_dedup" -> 0L, "near_dedup" -> 0L,
      "decontaminated" -> 0L, "span_scrub" -> 0L, "chunks" -> 0L,
      "packed_sequences" -> 0L))
  }

  test("curate: PII scrub and repetition gate drop what the base gates cannot see") {
    import spark.implicits._
    // long enough to pass the length gate (>= 10 tokens), English
    // stopword-rich so languageId keeps them
    val clean = "the quick brown fox jumps over the lazy dog and then " +
      "the other fox follows along the river bank"
    val spam = ("buy now " * 30).trim + " and the of to a in is it"
    // distinct base text — must NOT near-dup against doc 1
    val pii = "a small dog walks into the garden and the children play " +
      "near the old tree by the gate " +
      "contact bob@example.com or https://spam.example.com/x1234567890"
    val corpus = Seq(
      (1L, clean, "en", "s0"),
      (2L, spam, "en", "s0"),   // dup bigram ratio near 1 — only the rep gate sees it
      (3L, pii, "en", "s0")
    ).toDF("doc_id", "text", "lang", "source")
    val cfg = CorpusPipeline.Config(minQuality = 0.3,
      scrubPii = true, maxDupNgramRatio = Some(0.5))
    val (r, chunks) = curated(corpus, cfg)
    val f = r.funnel.toMap
    // the funnel gained the repetition stage, and it dropped exactly doc 2
    assert(f("quality") == 3 && f("repetition") == 2,
      s"funnel: ${r.funnel}")
    val survivors = chunks.select("doc_id").distinct()
      .as[Long].collect().toSet
    assert(survivors == Set(1L, 3L))
    // doc 3's PII never reaches the chunk table: the mask ran before
    // normalize, so the placeholders (not the raw address) got normalized
    val doc3 = chunks.filter($"doc_id" === 3L)
      .select("chunk").as[String].collect().mkString(" ")
    assert(!doc3.contains("bob") && !doc3.contains("spam example com")
      && !doc3.contains("1234567890"), doc3)
    assert(doc3.contains("email") && doc3.contains("url"), doc3)
  }

  test("curate: boilerplate gate drops the doc that is mostly shared chrome") {
    import spark.implicits._
    val boiler = "subscribe to our newsletter for daily updates and offers"
    val u1 = "the brown fox jumps over a lazy dog and runs far into " +
      "the green hills beyond the farm fence line"
    val u2 = "a tall ship sails across the wide ocean while sailors watch " +
      "the stars and chart a course home"
    val u3 = "the old library keeps a rare map of ancient roads that " +
      "traders once used to cross the mountains"
    val corpus = Seq(
      (1L, s"$u1 $boiler", "en", "s0"),
      (2L, s"$u2 $boiler", "en", "s0"),
      (3L, s"$u3 $boiler", "en", "s0"),
      // mostly boilerplate: only four tokens of its own
      (4L, s"$boiler please thanks the end", "en", "s0"),
      (5L, "a completely original essay about the history of sorting " +
        "machines and the people who built them", "en", "s0")
    ).toDF("doc_id", "text", "lang", "source")
    val cfg = CorpusPipeline.Config(minQuality = 0.3,
      maxBoilerRatio = Some(0.5), boilerN = 2, boilerMaxDf = 2L)
    val (r, chunks) = curated(corpus, cfg)
    val f = r.funnel.toMap
    assert(f("quality") == 5 && f("boilerplate") == 4, s"funnel: ${r.funnel}")
    val survivors = chunks.select("doc_id").distinct().as[Long].collect().toSet
    assert(survivors == Set(1L, 2L, 3L, 5L))
  }

  test("curate: blocklist gate drops any doc with a listed token, clean docs pass") {
    import spark.implicits._
    val corpus = Seq(
      (1L, "the brown fox jumps over a lazy dog near the green hills " +
        "beyond the quiet farm fence line today", "en", "s0"),
      (2L, "a tall ship sails across the wide ocean while sailors watch " +
        "the stars and chart a course home", "en", "s0"),
      // one hit mid-document — the canonical any-hit drop
      (3L, "the old library keeps a casino map of ancient roads that " +
        "traders once used to cross the mountains", "en", "s0"),
      // multiple hits of both terms
      (4L, "casino casino lottery night and more lottery talk with some " +
        "extra words to pass the length and stopword gates", "en", "s0")
    ).toDF("doc_id", "text", "lang", "source")
    val cfg = CorpusPipeline.Config(minQuality = 0.3,
      blocklist = Some(Seq("casino", "lottery")))
    val (r, chunks) = curated(corpus, cfg)
    val f = r.funnel.toMap
    assert(f("quality") == 4 && f("blocklist") == 2, s"funnel: ${r.funnel}")
    val survivors = chunks.select("doc_id").distinct().as[Long].collect().toSet
    assert(survivors == Set(1L, 2L))
  }

  test("curate: perplexity-tier gate keeps head+middle, drops the tail third") {
    val (r, _) = curated(docs, CorpusPipeline.Config(
      pplKeepTiers = Some(Set("head", "middle"))))
    val f = r.funnel.toMap
    assert(f.contains("perplexity"), s"funnel: ${r.funnel}")
    assert(f("perplexity") <= f("quality"))
    // ntile thirds: the kept share is ~2/3 of the gate survivors per
    // language (exactly, up to the +-1 per-lang tile imbalance)
    val langs = docs.select("lang").distinct().count()
    assert(math.abs(f("perplexity") - 2.0 * f("quality") / 3) <= 2 * langs,
      s"kept ${f("perplexity")} of ${f("quality")}")
    assert(f("exact_dedup") <= f("perplexity"))
  }

  test("curate: keepBestQuality keeps one survivor per cluster, never lower total quality") {
    val (base, baseChunks) = curated(docs)
    val (best, bestChunks) = curated(docs,
      CorpusPipeline.Config(keepBestQuality = true))
    val fb = base.funnel.toMap
    val fq = best.funnel.toMap
    // same clusters either way -> same survivor COUNT, same upstream
    assert(fq("near_dedup") == fb("near_dedup"))
    assert(fq("exact_dedup") == fb("exact_dedup"))
    // per cluster the best policy picks the max-quality member, so the
    // summed survivor quality can never be below the min-id policy's
    def totalQuality(chunks: DataFrame): Double = {
      val surv = chunks.select("doc_id").distinct()
      val normed = docs.join(surv, Seq("doc_id"))
        .select(col("doc_id"), Text.normalize(col("text")).as("text"))
      Text.qualityScore(normed, "text")
        .agg(sum("quality_score")).head().getDouble(0)
    }
    assert(totalQuality(bestChunks) >= totalQuality(baseChunks) - 1e-9)
  }

  test("curate: minQualityPct tightens the quality gate per source; pct 0 is the absolute gate") {
    val (base, baseChunks) = curated(docs)
    val (cut, cutChunks) = curated(docs,
      CorpusPipeline.Config(minQualityPct = Some(0.5)))
    val fb = base.funnel.toMap
    val fc = cut.funnel.toMap
    // upstream stages identical; the quality stage can only shrink
    assert(fc("language") == fb("language"))
    assert(fc("quality") < fb("quality"),
      s"pct cut did not drop anything (${fc("quality")})")
    // survivors of the tightened gate are a subset of the base gate's
    val extra = cutChunks.select("doc_id")
      .except(baseChunks.select("doc_id")).count()
    assert(extra == 0, s"$extra pct-gate docs not in the base funnel")
    // pct = 0.0 degenerates to the absolute-only gate (every rank >= 0)
    val (zero, _) = curated(docs,
      CorpusPipeline.Config(minQualityPct = Some(0.0)))
    val fz = zero.funnel.toMap
    assert(fz("quality") == fb("quality"))
  }

  test("curate: span-scrub stage rewrites a planted cross-survivor span") {
    import spark.implicits._
    // docs 1 and 2 are NOT near-dups (different shingle sets overall)
    // but share one verbatim 6-token run; doc 3 is a trigram-free
    // bystander. k=3 scrubs the shared run from the LATER doc only.
    // the language gate needs English-profile hits, and the two
    // prefixes must not share a trigram of their own
    val shared = "alpha beta gamma delta epsilon zeta"
    val corpus = Seq(
      (1L, "the cat and the dog is a pet of note " + shared,
        "en", "s0"),
      (2L, "is the bird and a fish of the sea " + shared +
        " red green blue cyan magenta yellow black white pink gray",
        "en", "s0"),
      (3L, "solo words only here apart from the rest entirely distinct " +
        "tokens everywhere and the end of it", "en", "s0")
    ).toDF("doc_id", "text", "lang", "source")
    val cfg = CorpusPipeline.Config(minQuality = 0.0, jaccardTau = 0.9,
      scrubSpanK = Some(3))
    val (r, chunks) = curated(corpus, cfg)
    val f = r.funnel.toMap
    assert(f("near_dedup") == 3 && f("span_scrub") == 3, s"funnel: ${r.funnel}")
    assert(f("span_scrub") <= f("near_dedup"))
    // chunk text for doc 2 lost the shared run; doc 1 (first occurrence)
    // and doc 3 (clean) kept theirs verbatim
    val chunkText = chunks.groupBy("doc_id")
      .agg(concat_ws(" ", sort_array(collect_list(
        struct(col("chunk_idx"), col("chunk")))).getField("chunk"))
        .as("t"))
      .as[(Long, String)].collect().toMap
    assert(chunkText(1L).endsWith(shared))
    assert(chunkText(2L) == "is the bird and a fish of the sea " +
      "red green blue cyan magenta yellow black white pink gray")
    assert(chunkText(3L).contains("solo words only"))
  }

  test("curate: eval-scrub stage drops a planted benchmark leak, funnel stays monotone") {
    import spark.implicits._
    // doc 2 embeds an eval passage verbatim (≥ 5 shared 3-gram
    // shingles); doc 1 is distinct from both eval docs
    val evalPassage = "the capital of france is paris and the river " +
      "seine flows through the old city"
    val clean = "a quick brown fox jumps over the lazy dog and then " +
      "the other fox follows along the river bank today"
    val leaked = "intro words first " + evalPassage + " closing words here " +
      "and the of to a in is it the end"
    val corpus = Seq(
      (1L, clean, "en", "s0"),
      (2L, leaked, "en", "s0")
    ).toDF("doc_id", "text", "lang", "source")
    val eval = Seq(
      (100L, evalPassage),
      (101L, "an unrelated benchmark question about distant galaxies")
    ).toDF("doc_id", "text")
    val cfg = CorpusPipeline.Config(minQuality = 0.3,
      evalDocs = Some(eval), contaminationMinShared = 5L)
    val (r, chunks) = curated(corpus, cfg)
    val f = r.funnel.toMap
    // the funnel gained the decontamination stage and it dropped
    // exactly the leaked doc; monotonicity holds through it
    assert(f("near_dedup") == 2 && f("decontaminated") == 1,
      s"funnel: ${r.funnel}")
    assert(f("decontaminated") <= f("near_dedup"))
    val survivors = chunks.select("doc_id").distinct()
      .as[Long].collect().toSet
    assert(survivors == Set(1L))
    // curate's persisted handles are real: every frame is cached, and
    // unpersisting through the handle releases it
    val held = CorpusPipeline.curate(corpus, cfg).persisted
    assert(held.nonEmpty && held.forall(_.storageLevel.useMemory))
    held.foreach(_.unpersist(blocking = true))
    assert(held.forall(_.storageLevel ==
      org.apache.spark.storage.StorageLevel.NONE))
  }

  test("curate: optional packed-sequence consumer conserves survivor tokens") {
    import spark.implicits._
    val L = 32
    val cfg = CorpusPipeline.Config(packSeqTokens = Some(L), packShards = 4)
    val (r, chunks) = curated(docs, cfg)
    val f = r.funnel.toMap
    assert(f.contains("packed_sequences") && f("packed_sequences") > 0,
      s"funnel: ${r.funnel}")
    val packed = r.packed.get.select("shard", "seq_idx", "n_tokens", "seq")
      .as[(Long, Long, Long, String)].collect()
    assert(packed.length == f("packed_sequences"))
    // zero token loss: packed totals equal the survivors' token totals
    val survivorTokens = chunks.select("doc_id").distinct()
      .join(docs, "doc_id").select(size(split(
        graft.ops.Text.normalize(col("text")), " ")).cast("long").as("n"))
      .as[Long].collect().sum
    assert(packed.map(_._3).sum == survivorTokens)
    // every sequence except at most the last per shard is exactly L
    packed.groupBy(_._1).foreach { case (_, seqs) =>
      val sorted = seqs.sortBy(_._2)
      sorted.init.foreach(s => assert(s._3 == L, s"short mid-seq: $s"))
      assert(sorted.last._3 <= L)
    }
    // the chunk table is unchanged by the packing option
    val (plain, plainChunks) = curated(docs, cfg.copy(packSeqTokens = None))
    assert(plain.packed.isEmpty)
    assert(plainChunks.collect().toSet == chunks.collect().toSet)
  }

  test("exportShards: manifest totals equal the packed frame; epoch " +
      "mass realized per plan; content hash pins sequence content") {
    import spark.implicits._
    val r = CorpusPipeline.curate(docs)
    // every source weighted 1 so the plan is non-degenerate
    val srcs = r.survivors.get.select("source").distinct()
      .as[String].collect()
    val w = srcs.map(_ -> 1.0).toMap
    val (packed, manifest) = CorpusPipeline.exportShards(
      r.survivors.get, w, 20000L, "epoch", 32, 4)
    val m = manifest.as[(Long, Long, Long, Long, Long, Long, Long)]
      .collect().map(x => x._1 -> x).toMap
    val p = packed.select("shard", "seq_idx", "n_tokens", "seq")
      .as[(Long, Long, Long, String)].collect()
    // manifest rolls up exactly the packed frame
    assert(m.values.map(_._2).sum == p.length, "n_seqs == packed rows")
    assert(m.values.map(_._3).sum == p.map(_._3).sum, "token totals")
    p.groupBy(_._1).foreach { case (sh, seqs) =>
      assert(m(sh)._5 == seqs.map(_._2).min && m(sh)._6 == seqs.map(_._2).max)
    }
    // content hash: recompute independently via the composed md5 chain
    val want = packed.groupBy(col("shard")).agg(bit_xor(
        graft.ops.Portable.composedSeededHash(col("seq_idx"), col("seq")))
        .as("h")).as[(Long, Long)].collect().toMap
    m.foreach { case (sh, row) => assert(row._7 == want(sh), s"shard $sh") }
    // the realized token mass follows the epoch plan: per-doc
    // stochastic rounding is unbiased around the 20k budget, and the
    // per-source deviation is bounded by one fractional copy of that
    // source's mass — a generous envelope still catches a broken plan
    // (no realization ≈ survivor mass ~1.4k; double-apply ≈ 40k)
    val realizedTokens = p.map(_._3).sum
    assert(realizedTokens > 10000L && realizedTokens < 30000L,
      s"realized $realizedTokens tokens for a 20k budget")
    r.persisted.foreach(_.unpersist())
  }

  test("curate under a reliable checkpoint dir (the q62 config): chunks " +
      "bit-identical to local mode, checkpoint files land") {
    // the 100 TB durability mode certified on the flagship path, not
    // just the DedupSpec fixpoint unit: with a checkpoint dir set,
    // EVERY barrier in the funnel (gate survivor frames, dedup
    // signatures, the clustering fixpoint rounds) writes the reliable
    // store, and the end-to-end chunk output must not move a bit.
    import graft.SparkEntry
    val cfg = CorpusPipeline.Config(
      keepLangs = SparkEntry.CurateLangs,
      minQuality = SparkEntry.CurateMinQuality,
      shingleN = SparkEntry.ShingleN,
      minhashPerms = SparkEntry.NumPerms,
      bands = SparkEntry.LshBands,
      rowsPerBand = SparkEntry.LshRows,
      jaccardTau = SparkEntry.JaccardTau,
      chunkTokens = SparkEntry.CurateChunkTokens,
      maxDupNgramRatio = Some(SparkEntry.CurateMaxDupRatio),
      repetitionN = SparkEntry.RepetitionN)
    def run(): Seq[org.apache.spark.sql.Row] = {
      val r = CorpusPipeline.curate(docs, cfg)
      val rows = r.chunks.orderBy("doc_id", "chunk_idx").collect().toSeq
      r.persisted.foreach(_.unpersist(false))
      rows
    }
    val local = run()
    assert(local.nonEmpty)
    val sc = spark.sparkContext
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt-funnel")
    try {
      sc.setCheckpointDir(dir.toString)
      val reliable = run()
      assert(reliable == local)
      // the reliable store was actually written by the funnel's barriers
      def rddDirs(f: java.io.File): Seq[java.io.File] =
        if (f.getName.startsWith("rdd-")) Seq(f)
        else Option(f.listFiles).toSeq.flatten.flatMap(rddDirs)
      assert(rddDirs(dir.toFile).nonEmpty, s"no rdd checkpoints under $dir")
    } finally org.apache.spark.GraftCheckpointBridge.set(sc, None)
  }

  test("curateToParquet: source-partitioned sink round-trips the chunk rows") {
    val out = java.nio.file.Files.createTempDirectory("graft-corpus").toString
    val r = CorpusPipeline.curateToParquet(docs, out)
    val back = spark.read.parquet(out)
    assert(back.count() == r.funnel.toMap.apply("chunks"))
    assert(back.columns.contains("source") && back.columns.contains("chunk"))
  }
}

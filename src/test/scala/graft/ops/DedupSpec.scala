package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType}

class DedupSpec extends SparkSpec {
  import spark.implicits._

  private def docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, "the quick brown fox jumps over the lazy dog"),    // exact dup of 1
    (3L, "the quick brown fox jumps over the sleepy dog"),  // near dup of 1
    (4L, "completely different content about spark engines"),
    (5L, "x")                                               // too short to shingle
  ).toDF("doc_id", "text")

  test("exact dedup: duplicate groups counted, min-id survivor kept") {
    val groups = Dedup.exactGroups(docs, "doc_id", "text").collect()
    assert(groups.length == 4) // 5 docs, one exact pair
    val dup = groups.find(_.getLong(1) == 2L).get
    assert(dup.getLong(2) == 1L) // survivor is the smallest id
    val kept = Dedup.dedupExact(docs, "doc_id", "text")
      .select("doc_id").as[Long].collect().sorted
    assert(kept.sameElements(Array(1L, 3L, 4L, 5L)))
  }

  test("minhash: exact dups share full signature; shingle-less docs dropped") {
    val sh = docs.select($"doc_id",
      Text.shingles(Text.tokens($"text"), 3).as("shingles"))
    val sigs = Dedup.minhashSignatures(sh, "doc_id", 16)
      .select($"doc_id", $"sig").as[(Long, Seq[Long])].collect().toMap
    assert(!sigs.contains(5L)) // 1 token -> no shingles -> no signature
    assert(sigs(1L) == sigs(2L)) // identical shingle sets
    // near-dup shares most (not necessarily all) signature components
    val shared = sigs(1L).zip(sigs(3L)).count { case (a, b) => a == b }
    assert(shared >= 8, s"near-dup shared only $shared/16 minhashes")
    assert(sigs(1L) != sigs(4L))
  }

  test("LSH + jaccard verify finds exact and near dups, not distinct docs") {
    val sh = docs.select($"doc_id",
      Text.shingles(Text.tokens($"text"), 3).as("shingles"))
    val sigs = Dedup.minhashSignatures(sh, "doc_id", 16)
    val cands = Dedup.lshCandidatePairs(
      Dedup.lshBands(sigs, "doc_id", 4, 4), "doc_id")
    val verified = Dedup.jaccardVerify(cands, sh, "doc_id", 0.5)
      .select("id_a", "id_b", "jaccard")
      .as[(Long, Long, Double)].collect().toSeq
    val pairs = verified.map(v => (v._1, v._2)).toSet
    assert(pairs.contains((1L, 2L)))
    assert(verified.find(v => (v._1, v._2) == ((1L, 2L))).get._3 == 1.0)
    assert(!pairs.exists { case (a, b) => a == 4L || b == 4L })
  }

  test("dedupNear: drops larger-id near-dups, keeps distinct docs") {
    val sh = docs.select($"doc_id",
      Text.shingles(Text.tokens($"text"), 3).as("shingles"))
    val survivors = Dedup.dedupNear(docs, "doc_id", sh, 16, 4, 4, 0.5)
      .select("doc_id").as[Long].collect().toSet
    // 1~2 are exact dups -> 2 (larger id) drops, 1 survives
    assert(survivors.contains(1L) && !survivors.contains(2L))
    // the distinct doc always survives
    assert(survivors.contains(4L))
    // every dropped doc near-matched a smaller survivor or smaller dup
    val all = docs.select("doc_id").as[Long].collect().toSet
    assert((all -- survivors).forall(d => survivors.exists(_ < d)))
  }

  /** [[Dedup.nearDupClusters]] on both paths — the distributed rounds
    * (driver budget 0) and the driver's union-find (the default budget,
    * answered as a local frame) — asserting they agree on the id type
    * and on every row; returns the driver path's frame. */
  private def bothPaths(pairs: DataFrame, idCol: String = "doc_id",
                        maxIters: Int = 30): DataFrame = {
    val rounds = Dedup.nearDupClusters(pairs, idCol, maxIters, 0)
    val driver = Dedup.nearDupClusters(pairs, idCol)
    assert(driver.queryExecution.analyzed.isInstanceOf[LocalRelation])
    assert(driver.schema.map(f => (f.name, f.dataType)) ==
      rounds.schema.map(f => (f.name, f.dataType)))
    def rows(df: DataFrame) = df.collect().map(_.toSeq).toSeq.sortBy(_.toString)
    assert(rows(driver) == rows(rounds))
    driver
  }

  test("nearDupClusters: transitive min-id labels; fixpoint past one hop") {
    // chain 1-2-3-4 (diameter 3: needs >1 propagation round) + pair 10-11
    // + isolated vertex never in an edge (absent from the output)
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L))
      .toDF("id_a", "id_b")
    val labels = bothPaths(pairs).as[(Long, Long)].collect().toMap
    assert(labels == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L))
  }

  test("nearDupClusters: long chain converges (path halving, log rounds)") {
    // 60-vertex chain: plain propagation needs 59 rounds — far past the
    // maxIters=8 given here; path halving converges within it
    val chain = (0L until 59L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val labels = bothPaths(chain, maxIters = 8).as[(Long, Long)].collect()
    assert(labels.length == 60)
    assert(labels.forall(_._2 == 0L))
  }

  test("nearDupClusters: the rounds fail loudly when capped before the " +
      "fixpoint, and reach it at the default cap") {
    // 64-vertex chain on the rounds path (budget 0): one round leaves
    // non-minimal labels, which must not come back as clusters
    val chain = (0L until 63L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val err = intercept[IllegalStateException] {
      Dedup.nearDupClusters(chain, "doc_id", 1, 0).collect()
    }
    assert(err.getMessage.contains("maxIters"), err.getMessage)
    val labels = Dedup.nearDupClusters(chain, "doc_id", 30, 0) // default cap
      .as[(Long, Long)].collect()
    assert(labels.length == 64)
    assert(labels.forall(_._2 == 0L))
  }

  test("nearDupClusters: reliable-checkpoint mode (checkpoint dir set) is identical") {
    // with a checkpoint dir the fixpoint's barriers become RELIABLE
    // checkpoints (cluster-grade: survives executor loss); labels must
    // be bit-identical to the executor-local default. Budget 0: the
    // distributed rounds, where the barriers are.
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L))
      .toDF("id_a", "id_b")
    val local = bothPaths(pairs).as[(Long, Long)].collect().sorted.toSeq
    val sc = spark.sparkContext
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt")
    try {
      sc.setCheckpointDir(dir.toString)
      val reliable = Dedup.nearDupClusters(pairs, "doc_id", 30, 0)
        .as[(Long, Long)].collect().sorted.toSeq
      assert(reliable == local)
      // the reliable store was actually written (checkpoint() ran, not
      // the executor-local fallback)
      def rddDirs(f: java.io.File): Seq[java.io.File] =
        if (f.getName.startsWith("rdd-")) Seq(f)
        else Option(f.listFiles).toSeq.flatten.flatMap(rddDirs)
      assert(rddDirs(dir.toFile).nonEmpty, s"no rdd checkpoints under $dir")
    } finally org.apache.spark.GraftCheckpointBridge.set(sc, None)
  }

  test("nearDupClusters: seeded random chains, stars and pairs agree on both paths") {
    // components of three shapes over shuffled ids, so a component's
    // minimum sits anywhere in it: chains (long diameter), stars (one
    // hub of high degree) and isolated pairs; a few hundred edges
    val rng = new scala.util.Random(17)
    val ids = rng.shuffle((1L to 2000L).toVector).iterator
    val comps = Seq.fill(12)(Vector.fill(2 + rng.nextInt(30))(ids.next())) ++
      Seq.fill(8)(Vector.fill(2 + rng.nextInt(25))(ids.next())) ++
      Seq.fill(40)(Vector.fill(2)(ids.next()))
    val chains = comps.take(12).flatMap(c => c.zip(c.tail))
    val stars = comps.slice(12, 20).flatMap(c => c.tail.map(c.head -> _))
    val pairs = comps.drop(20).map(c => (c(0), c(1)))
    val edges = rng.shuffle(chains ++ stars ++ pairs)
      .map { case (a, b) => (math.min(a, b), math.max(a, b)) }
    assert(edges.length > 200)
    val labels = bothPaths(edges.toDF("id_a", "id_b"))
      .as[(Long, Long)].collect().toMap
    val want = comps.flatMap(c => c.map(_ -> c.min)).toMap
    assert(labels == want)
  }

  test("nearDupClusters: an empty pair list gives an empty frame of the id type") {
    val none = bothPaths(Seq.empty[(Long, Long)].toDF("id_a", "id_b"))
    assert(none.isEmpty)
    assert(none.schema.map(_.dataType) == Seq(LongType, LongType))
    val noNames = bothPaths(Seq.empty[(String, String)].toDF("id_a", "id_b"),
      "name")
    assert(noNames.isEmpty)
    assert(noNames.columns.toSeq == Seq("name", "cluster_rep"))
    assert(noNames.schema.map(_.dataType) == Seq(StringType, StringType))
  }

  test("nearDupClusters: string reps are Spark's min, in UTF-8 byte order") {
    // U+FFFD < U+1F600 as code points and as UTF-8 bytes (EF BF BD vs
    // F0 9F 98 80), but the emoji's UTF-16 lead surrogate (D83D) sorts
    // below FFFD, so String.compareTo picks the emoji
    val (fffd, emoji) = ("\uFFFD", "\uD83D\uDE00")
    assert(emoji.compareTo(fffd) < 0)
    val pairs = Seq((fffd, emoji), ("b", "a")).toDF("id_a", "id_b")
    val sparkMin = Seq(fffd, emoji).toDF("name")
      .agg(min($"name")).as[String].head()
    assert(sparkMin == fffd)
    val labels = bothPaths(pairs, "name").as[(String, String)].collect().toMap
    assert(labels == Map(fffd -> sparkMin, emoji -> sparkMin,
      "a" -> "a", "b" -> "a"))
  }

  test("Barrier.cut reliable mode materializes the source exactly ONCE") {
    // checkpoint(eager) runs the eager count job and then a SEPARATE
    // checkpoint-write job; without the persist-before-checkpoint fix
    // the write job recomputed the whole lineage (accumulator = 2n).
    // The accumulator counts source-row reads across all jobs.
    val sc = spark.sparkContext
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt-once")
    try {
      sc.setCheckpointDir(dir.toString)
      val acc = sc.longAccumulator("barrier-source-rows")
      val base = (1L to 100L).map(i => (i, i * 2)).toDF("k", "v").collect().toSeq
      val src = spark.createDataFrame(
        sc.parallelize(base, 4).map { r => acc.add(1); r },
        new org.apache.spark.sql.types.StructType()
          .add("k", "long").add("v", "long"))
      val cut = Barrier.cut(src.filter($"k" > 0L))
      assert(acc.value == 100L,
        s"source rows read ${acc.value} times for 100 rows — " +
          "the checkpoint write recomputed the lineage")
      // the barrier output is intact and reads the checkpoint store
      assert(cut.count() == 100L)
      assert(acc.value == 100L, "post-barrier reads hit the source again")
    } finally org.apache.spark.GraftCheckpointBridge.set(sc, None)
  }

  test("nearDupClusters vs greedy: clustering keeps one rep per component") {
    // edges (2,3) and (1,3): greedy dedupNear-style drops only the id_b
    // side {3}, keeping BOTH 1 and 2 of the same transitive cluster —
    // the cluster table labels all three with rep 1
    val pairs = Seq((2L, 3L), (1L, 3L)).toDF("id_a", "id_b")
    val greedySurvivors = Set(1L, 2L, 3L) --
      pairs.select("id_b").as[Long].collect().toSet
    assert(greedySurvivors == Set(1L, 2L))
    val labels = bothPaths(pairs).as[(Long, Long)].collect().toMap
    assert(labels == Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
    assert(labels.values.toSet.size == 1) // exactly one rep for the component
  }

  test("dedupNearClustered: one survivor per component; unpaired docs kept") {
    val sh = docs.select($"doc_id",
      Text.shingles(Text.tokens($"text"), 3).as("shingles"))
    val clustered = Dedup.dedupNearClustered(docs, "doc_id", sh, 16, 4, 4, 0.5)
      .select("doc_id").as[Long].collect().toSet
    // true jaccard(1,3) = 5/9 >= tau, and the shipped MinHash kernel's
    // 4x4 banding surfaces the candidate (at j=0.556 the S-curve gives
    // ~33% — whether a given pair collides is kernel-deterministic but
    // hash-family-dependent; re-pin if the kernel legitimately changes)
    // -> component {1,2,3}, rep 1 survives; 4, 5 unpaired -> survive
    assert(clustered == Set(1L, 4L, 5L))
    // greedy twin keeps the same set here (every link names the min id);
    // both policies agree when the pair list is transitively closed
    val greedy = Dedup.dedupNear(docs, "doc_id", sh, 16, 4, 4, 0.5)
      .select("doc_id").as[Long].collect().toSet
    assert(greedy == clustered)
  }

  test("contamination: shared-shingle counts vs a broadcast eval set") {
    val sh = docs.select($"doc_id",
      Text.shingles(Text.tokens($"text"), 3).as("shingles"))
    val hits = Dedup.contamination(sh, sh.filter($"doc_id" === 1L), "doc_id", 3L)
      .as[(Long, Long, Long)].collect().toSet
    // doc 1 (the eval doc itself) and its exact dup share all 7
    // shingles; the near-dup shares the 5 outside the changed word;
    // the distinct doc and the shingle-less doc never appear
    assert(hits == Set((1L, 1L, 7L), (2L, 1L, 7L), (3L, 1L, 5L)))
    // threshold prunes the near-dup
    assert(Dedup.contamination(sh, sh.filter($"doc_id" === 1L), "doc_id", 6L)
      .as[(Long, Long, Long)].collect().toSet ==
      Set((1L, 1L, 7L), (2L, 1L, 7L)))
    intercept[IllegalArgumentException] {
      Dedup.contamination(sh, sh, "doc_id", 0L)
    }
  }

  test("contaminationSensitivity: worst-overlap is a max over eval docs, " +
      "not a sum; descending cumulative prices every minShared bar") {
    val sh = docs.select($"doc_id",
      Text.shingles(Text.tokens($"text"), 3).as("shingles"))
    // eval set = docs 1 AND 3 (near-dups of each other): doc 2 overlaps
    // doc 1 at 7 and doc 3 at 5 — its max_shared must read 7, not 12
    val r = Dedup.contaminationSensitivity(sh,
        sh.filter($"doc_id" === 1L || $"doc_id" === 3L), "doc_id")
      .as[(Long, Long, Long)].collect()
      .map(x => x._1 -> (x._2, x._3)).toMap
    val perDoc = Dedup.contamination(sh,
        sh.filter($"doc_id" === 1L || $"doc_id" === 3L), "doc_id", 1L)
      .groupBy($"doc_id").agg(max($"shared_ngrams").as("m"))
      .as[(Long, Long)].collect().toMap
    assert(perDoc(2L) == 7L) // max, not 12
    // histogram matches the independently computed per-doc maxima
    assert(r.map { case (m, (n, _)) => m -> n } ==
      perDoc.values.groupBy(identity).map { case (m, v) => m -> v.size.toLong })
    // cumulative: docs a bar at m would flag = docs with max_shared >= m
    r.keys.foreach { m =>
      assert(r(m)._2 == perDoc.values.count(_ >= m).toLong)
    }
  }

  test("incremental dedup: batch scrubbed against the corpus; in-batch dups survive") {
    // existing corpus = docs 1-5; incoming batch re-crawls an exact copy
    // of 1 (id 10), a near variant of 1 (id 11), a fresh doc (id 12),
    // and an in-batch exact pair (ids 13/14 — out of scope by contract)
    val batch = Seq(
      (10L, "the quick brown fox jumps over the lazy dog"),
      (11L, "the quick brown fox jumps over the lazy cat"),
      (12L, "entirely novel content on incremental indexes today"),
      (13L, "another brand new document body right here now"),
      (14L, "another brand new document body right here now")
    ).toDF("doc_id", "text")
    def sh(df: org.apache.spark.sql.DataFrame) = df.select($"doc_id",
      Text.shingles(Text.tokens($"text"), 3).as("shingles"))
    val exactClean = Dedup.dedupExactAgainst(batch, docs, "doc_id", "text")
    assert(exactClean.select("doc_id").as[Long].collect().toSet ==
      Set(11L, 12L, 13L, 14L)) // only the verbatim re-crawl dropped
    // 8 bands of 2 rows: at j(11,1) = 6/8 the 4x4 banding's recall is
    // a hash-family coin flip (~68%); 8x2 takes the miss probability to
    // ~1e-3 so the expectation is robust to kernel changes
    val nearClean = Dedup.dedupNearAgainst(exactClean, "doc_id",
      sh(batch), sh(docs), 16, 8, 2, 0.5)
    // 11 jaccard-matches existing doc 1; the in-batch pair SURVIVES
    assert(nearClean.select("doc_id").as[Long].collect().toSet ==
      Set(12L, 13L, 14L))
  }

  test("simhash: identical texts equal, near texts close, Hamming pairs found") {
    val sims = Dedup.simhashes(docs, "doc_id", "text")
    val m = sims.as[(Long, Long)].collect().toMap
    assert(m(1L) == m(2L))
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(m(1L), m(3L)) < ham(m(1L), m(4L)))
    val pairs = Dedup.simhashPairs(sims, "doc_id", 3)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L))) // hamming 0
  }

  test("srp buckets: identical vectors collide; bucket domain bounded") {
    val vecs = Seq(
      (1L, Seq(1.0f, 0.0f, 0.5f)),
      (2L, Seq(1.0f, 0.0f, 0.5f)),
      (3L, Seq(-1.0f, 2.0f, -0.5f))
    ).toDF("vec_id", "embedding")
    val b = Dedup.srpBuckets(vecs, "vec_id", "embedding", 4)
      .select("vec_id", "bucket").as[(Long, Long)].collect().toMap
    assert(b(1L) == b(2L))
    assert(b.values.forall(v => v >= 0 && v < 16))
  }

  test("embedding near-dup: finds the identical pair with cos 1.0") {
    val vecs = Seq(
      (1L, Seq(1.0f, 0.0f, 0.5f)),
      (2L, Seq(1.0f, 0.0f, 0.5f)),
      (3L, Seq(-1.0f, 2.0f, -0.5f))
    ).toDF("vec_id", "embedding")
    val nd = Dedup.embeddingNearDup(vecs, "vec_id", "embedding", 4, 0.9)
      .as[(Long, Long, Double)].collect()
    assert(nd.map(r => (r._1, r._2)).toSet == Set((1L, 2L)))
    assert(nd.head._3 == 1.0)
  }

  test("100TB shape: near-dup paths bucket-join, never full crossJoin") {
    val sh = docs.select($"doc_id",
      Text.shingles(Text.tokens($"text"), 3).as("shingles"))
    val plan = Dedup.lshCandidatePairs(
      Dedup.lshBands(Dedup.minhashSignatures(sh, "doc_id", 16), "doc_id", 4, 4), "doc_id")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("jaccardPairsExact: matches brute-force all-pairs Jaccard; >= LSH recall") {
    val sh = docs.select($"doc_id",
      Text.shingles(Text.tokens($"text"), 3).as("shingles"))
    // brute-force truth: every id pair through jaccardVerify
    val ids = docs.select("doc_id").as[Long].collect().sorted
    val allPairs = (for (a <- ids; b <- ids if a < b) yield (a, b))
      .toSeq.toDF("id_a", "id_b")
    val truth = Dedup.jaccardVerify(allPairs, sh, "doc_id", 0.5)
      .as[(Long, Long, Double)].collect().toSet
    val exact = Dedup.jaccardPairsExact(sh, "doc_id", 0.5, maxDf = 1000L)
      .as[(Long, Long, Double)].collect().toSet
    assert(exact == truth)
    // and it can only see MORE than the banding pipeline
    val lsh = Dedup.jaccardVerify(
      Dedup.lshCandidatePairs(
        Dedup.lshBands(Dedup.minhashSignatures(sh, "doc_id", 16),
          "doc_id", 4, 4), "doc_id"),
      sh, "doc_id", 0.5).as[(Long, Long, Double)].collect().toSet
    assert(lsh.subsetOf(exact))
  }

  test("jaccardPairsExact: maxDf prunes hot shingles (recall traded for skew)") {
    // two docs whose ONLY shared shingle is shared by every doc (hot)
    val hot = Seq(
      (1L, Seq("c c c", "a a a")),
      (2L, Seq("c c c", "b b b")),
      (3L, Seq("c c c", "d d d")),
      (4L, Seq("c c c", "e e e"))
    ).toDF("doc_id", "shingles")
    // unpruned: all pairs share 1 of 3 distinct shingles -> jaccard 1/3
    val full = Dedup.jaccardPairsExact(hot, "doc_id", 0.3, maxDf = 100L)
    assert(full.count() == 6)
    // df("c c c") = 4 > maxDf=3 -> posting list pruned, no pairs meet
    val pruned = Dedup.jaccardPairsExact(hot, "doc_id", 0.3, maxDf = 3L)
    assert(pruned.count() == 0)
    // pruned regime scores Jaccard over the SURVIVING shingle universe:
    // A={h,x,y}, B={h,x,z} with h hot -> restricted jaccard 1/3 (1 shared
    // of {x,y,z}), not the deflated 1/5 a pruned-count/full-size hybrid
    // would give
    val partial = Seq(
      (1L, Seq("h h h", "x x x", "y y y")),
      (2L, Seq("h h h", "x x x", "z z z")),
      (3L, Seq("h h h", "c c c")),
      (4L, Seq("h h h", "d d d"))
    ).toDF("doc_id", "shingles")
    val restricted = Dedup.jaccardPairsExact(partial, "doc_id", 0.3, maxDf = 3L)
      .as[(Long, Long, Double)].collect().toSet
    assert(restricted == Set((1L, 2L, math.round(1.0 / 3 * 1e9) / 1e9)))
  }

  test("jaccardPairsExact: candidate-mass pre-flight refuses over budget " +
      "and prices exactly") {
    val sh = docs.select($"doc_id",
      Text.shingles(Text.tokens($"text"), 3).as("shingles"))
    // exact price of the fixture's posting join: sum df^2 over df<=maxDf
    val massTruth = sh
      .select($"doc_id", explode($"shingles").as("sh"))
      .groupBy($"sh").agg(count(lit(1)).as("df"))
      .filter($"df" <= 1000L)
      .agg(sum($"df" * $"df")).as[Long].head()
    // one under the measured mass: refuses, naming the exact number
    val e = intercept[IllegalArgumentException] {
      Dedup.jaccardPairsExact(sh, "doc_id", 0.5, maxDf = 1000L,
        maxCandidatePairs = massTruth - 1)
    }
    assert(e.getMessage.contains(massTruth.toString), e.getMessage)
    // exactly at the measured mass: runs, identical to the default
    val guarded = Dedup.jaccardPairsExact(sh, "doc_id", 0.5,
        maxDf = 1000L, maxCandidatePairs = massTruth)
      .as[(Long, Long, Double)].collect().toSet
    val default = Dedup.jaccardPairsExact(sh, "doc_id", 0.5, maxDf = 1000L)
      .as[(Long, Long, Double)].collect().toSet
    assert(guarded == default)
  }

  test("containmentPairsExact: finds subset duplication jaccard dilutes; >= jaccard law") {
    // doc 2's shingle set is a strict subset of doc 1's: containment
    // 1.0, jaccard |B|/|A| — the asymmetric score's reason to exist
    val subset = Seq(
      (1L, Seq("a a a", "b b b", "c c c", "d d d", "e e e",
               "f f f", "g g g", "h h h", "i i i", "j j j")),
      (2L, Seq("a a a", "b b b")),
      (3L, Seq("z z z"))
    ).toDF("doc_id", "shingles")
    val cont = Dedup.containmentPairsExact(subset, "doc_id", 0.9, 1000L)
      .as[(Long, Long, Long, Long, Double)].collect().toSet
    assert(cont == Set((1L, 2L, 10L, 2L, 1.0)))
    // the same pair at jaccard scoring: 2/10 = 0.2, invisible at tau 0.9
    assert(Dedup.jaccardPairsExact(subset, "doc_id", 0.9, 1000L).count() == 0)
    // law on the shared fixture: for every pair both joins emit,
    // containment >= jaccard (min-size denominator <= union size)
    val sh = docs.select($"doc_id",
      Text.shingles(Text.tokens($"text"), 3).as("shingles"))
    val j = Dedup.jaccardPairsExact(sh, "doc_id", 0.0 + 1e-9, 1000L)
      .as[(Long, Long, Double)].collect()
      .map { case (a, b, s) => (a, b) -> s }.toMap
    val c = Dedup.containmentPairsExact(sh, "doc_id", 0.0 + 1e-9, 1000L)
      .as[(Long, Long, Long, Long, Double)].collect()
      .map { case (a, b, _, _, s) => (a, b) -> s }.toMap
    assert(j.keySet == c.keySet && j.nonEmpty)
    j.foreach { case (k, js) => assert(c(k) >= js - 1e-12) }
  }

  test("semanticAssign: argmax-cosine cluster, ties to the smaller centroid") {
    val vecs = Seq(
      (1L, Seq(1f, 0f)), (2L, Seq(0f, 1f)),       // the two centroids
      (3L, Seq(0.9f, 0.1f)), (4L, Seq(0.1f, 0.9f)),
      (6L, Seq(1f, 1f))                           // equidistant -> tie
    ).toDF("vec_id", "embedding")
    val cen = vecs.filter($"vec_id" <= 2L)
    val a = Dedup.semanticAssign(vecs, "vec_id", "embedding", cen)
      .select("vec_id", "cluster").as[(Long, Long)].collect().toMap
    assert(a == Map(1L -> 1L, 2L -> 2L, 3L -> 1L, 4L -> 2L, 6L -> 1L))
  }

  test("semanticDedup: within-cluster keep-min; cross-cluster pairs never compared") {
    val vecs = Seq(
      (1L, Seq(1f, 0f)), (2L, Seq(0f, 1f)),
      (3L, Seq(0.9f, 0.1f)),                 // cluster 1, near-dup of 1
      (4L, Seq(0.1f, 0.9f)),                 // cluster 2, near-dup of 2
      (5L, Seq(1f, 0.05f))                   // cluster 1, near-dup of 1 and 3
    ).toDF("vec_id", "embedding")
    val cen = vecs.filter($"vec_id" <= 2L)
    val kept = Dedup.semanticDedup(vecs, "vec_id", "embedding", cen, 0.99)
      .select("vec_id").as[Long].collect().toSet
    assert(kept == Set(1L, 2L))
    // at an unreachable tau nothing is dominated
    val all = Dedup.semanticDedup(vecs, "vec_id", "embedding", cen, 1.1)
      .select("vec_id").as[Long].collect().toSet
    assert(all == Set(1L, 2L, 3L, 4L, 5L))
  }

  test("scrubRepeatedSpans: later span occurrences scrubbed, first kept") {
    val corpus = Seq(
      (1L, "a b c d e"),          // canonical copy of every window
      (2L, "x y a b c z"),        // one dup trigram "a b c" -> 3 tokens go
      (3L, "a b c d e"),          // exact dup of 1 -> fully scrubbed
      (4L, "p q r s"),            // clean -> untouched
      (5L, "u v")                 // shorter than k -> no windows
    ).toDF("doc_id", "text")
    val out = Dedup.scrubRepeatedSpans(corpus, "doc_id", "text", 3)
      .select("doc_id", "n_tokens", "n_removed", "text_scrubbed")
      .as[(Long, Long, Long, String)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(out(1L) == ((5L, 0L, "a b c d e")))  // first occurrence survives
    assert(out(2L) == ((6L, 3L, "x y z")))
    assert(out(3L) == ((5L, 5L, "")))           // fully-scrubbed, not original
    assert(out(4L) == ((4L, 0L, "p q r s")))
    assert(out(5L) == ((2L, 0L, "u v")))
  }

  test("scrubRepeatedSpans: source scanned exactly once (barrier feeds all reads)") {
    // the op reads its input in three places (window hashes, token
    // spine rebuild, output spine) — all three must read the Barrier
    // cut, not re-derive the source
    val base = docs.collect().toSeq
    val n = base.length
    val acc = spark.sparkContext.longAccumulator("scrub-source-rows")
    val src = spark.createDataFrame(
      spark.sparkContext.parallelize(base, 2).map { r => acc.add(1); r },
      docs.schema)
    val out = Dedup.scrubRepeatedSpans(src, "doc_id", "text", 3)
    assert(out.count() == n)
    assert(acc.value == n, s"source scanned ${acc.value.toDouble / n}x, want 1x")
  }

  test("scrubRepeatedSpans: overlapping dup windows union their coverage") {
    // doc 2 repeats doc 1's "a b c d" => windows at pos 1 and 2 (k=3)
    // are both dups; covered indices {1..4} scrub once each, not twice
    val corpus = Seq(
      (1L, "a b c d"),
      (2L, "z a b c d w")
    ).toDF("doc_id", "text")
    val out = Dedup.scrubRepeatedSpans(corpus, "doc_id", "text", 3)
      .select("doc_id", "n_removed", "text_scrubbed")
      .as[(Long, Long, String)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(out(1L) == ((0L, "a b c d")))
    assert(out(2L) == ((4L, "z w")))
  }

  test("softDedupWeights: 1/|cluster|, singletons weigh 1, mass = cluster count") {
    val docs = Seq(1L, 2L, 3L, 4L, 5L).toDF("doc_id")
    // component {1,2,3} via pairs (1,2),(2,3); 4 and 5 unpaired
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("id_a", "id_b")
    val clusters = bothPaths(pairs)
    val r = Dedup.softDedupWeights(docs, "doc_id", clusters)
      .as[(Long, Long, Long, Double)].collect()
      .map(x => x._1 -> ((x._2, x._3, x._4))).toMap
    assert(r.keySet == Set(1L, 2L, 3L, 4L, 5L))
    assert(Seq(1L, 2L, 3L).forall(r(_) == ((1L, 3L, 0.333333333))))
    assert(r(4L) == ((4L, 1L, 1.0)) && r(5L) == ((5L, 1L, 1.0)))
    // per-cluster mass is one unit up to the 9-dp rounding
    val mass = r.values.map(_._3).sum
    assert(math.abs(mass - 3.0) < 1e-8, s"total mass $mass != #clusters")
  }

  test("dupStats: per-source docs, dup docs, post-dedup count and rate") {
    val docs = Seq((1L, "a"), (2L, "a"), (3L, "b"), (4L, "a"), (5L, "b"))
      .toDF("doc_id", "source")
    // one cluster {1,2,3} (rep 1) spanning sources a and b
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("id_a", "id_b")
    val clusters = bothPaths(pairs)
    val r = Dedup.dupStats(docs, "doc_id", "source", clusters)
      .select($"source", $"n_docs", $"n_dup_docs", $"n_post_dedup",
        $"dup_rate")
      .as[(String, Long, Long, Long, Double)].collect()
      .map(x => x._1 -> ((x._2, x._3, x._4, x._5))).toMap
    // source a: docs {1,2,4}; 1,2 clustered (rep 1) -> post-dedup {1,4}
    assert(r("a")._1 == 3 && r("a")._2 == 2 && r("a")._3 == 2)
    assert(math.abs(r("a")._4 - 2.0 / 3) < 1e-8)
    // source b: docs {3,5}; 3 clustered (rep 1) -> post-dedup {1,5}
    assert(r("b") == ((2L, 1L, 2L, 0.5)))
  }

  test("dedupNearClusteredBest: highest score survives, ties to min id, singletons kept") {
    val docs = Seq((1L, 0.3), (2L, 0.9), (3L, 0.9), (4L, 0.5), (5L, 0.1))
      .toDF("doc_id", "score")
    // component {1,2,3}: 2 and 3 tie at 0.9 -> 2 survives; 4,5 singletons
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("id_a", "id_b")
    val clusters = bothPaths(pairs)
    val r = Dedup.dedupNearClusteredBest(docs, "doc_id", "score", clusters)
      .select($"doc_id", $"cluster_rep").as[(Long, Long)].collect().toMap
    assert(r == Map(2L -> 1L, 4L -> 4L, 5L -> 5L))
  }

  test("leakageFreeSplit: clusters never straddle; frac 0/1 degenerate; md5 rule") {
    val docs = Seq(1L, 2L, 3L, 4L, 5L).toDF("doc_id")
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("id_a", "id_b")
    val clusters = bothPaths(pairs)
    val r = Dedup.leakageFreeSplit(docs, "doc_id", clusters, 0.25)
      .as[(Long, Long, String)].collect().map(x => x._1 -> ((x._2, x._3))).toMap
    assert(r.keySet == Set(1L, 2L, 3L, 4L, 5L))
    // every member of component {1,2,3} gets the SAME side
    assert(Set(r(1L), r(2L), r(3L)).size == 1)
    // the split is the pure md5-prefix rule on the representative
    def expected(rep: Long): String = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(rep.toString.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(4)
      if (hex < "4000") "valid" else "train"
    }
    assert(r.forall { case (_, (rep, split)) => split == expected(rep) })
    // degenerate fractions: everything train / everything valid
    val all0 = Dedup.leakageFreeSplit(docs, "doc_id", clusters, 0.0)
    assert(all0.filter($"split" === "valid").count() == 0)
    val all1 = Dedup.leakageFreeSplit(docs, "doc_id", clusters, 1.0)
    assert(all1.filter($"split" === "train").count() == 0)
  }

  test("contaminationCoverage: spread leakage counted, clean docs 0, shingle-less NULL") {
    val sh = docs.select($"doc_id",
      Text.shingles(Text.tokens($"text"), 3).as("shingles"))
    // eval = docs 1 and 5; train = 3 and 4. Doc 1 shares most of its
    // shingles with near-dup 3 (spread-leak case); doc 5 has no
    // shingles (1 token) → counts 0, NULL coverage.
    val r = Dedup.contaminationCoverage(
        sh.filter($"doc_id" === 3L || $"doc_id" === 4L),
        sh.filter($"doc_id" === 1L || $"doc_id" === 5L), "doc_id")
      .orderBy("eval_id").collect()
    assert(r.length == 2)
    val d1 = r(0)
    assert(d1.getLong(0) == 1L)
    // doc1: 7 trigrams over 9 tokens; doc3 differs in the 8th token, so
    // exactly the 5 windows not covering it match
    assert(d1.getLong(1) == 7L && d1.getLong(2) == 5L)
    assert(math.abs(d1.getDouble(3) - 5.0 / 7.0) < 1e-8)
    val d5 = r(1)
    assert(d5.getLong(0) == 5L && d5.getLong(1) == 0L && d5.getLong(2) == 0L)
    assert(d5.isNullAt(3))
  }

  test("bloom-prefiltered incremental dedup ≡ the plain anti-join; empty index no-op") {
    val existing = docs.filter($"doc_id" <= 2L)
    val batch = docs.filter($"doc_id" >= 2L)
    val plain = Dedup.dedupExactAgainst(batch, existing, "doc_id", "text")
      .select("doc_id").as[Long].collect().sorted
    // a right-sized filter, and a one-item filter fed 256 more texts:
    // saturated, it passes every batch row as a false positive to the
    // verify join, which never changes the answer
    val filler = (1 to 256).map(i => (-i.toLong, s"filler $i"))
      .toDF("doc_id", "text")
    for ((index, items) <- Seq((existing, 16L),
        (existing.unionByName(filler), 1L))) {
      val bloom = Dedup.dedupExactAgainstBloom(batch, index, "doc_id",
          "text", expectedItems = items)
        .select("doc_id").as[Long].collect().sorted
      assert(bloom.sameElements(plain), s"expectedItems=$items: ${bloom.toSeq}")
    }
    assert(plain.sameElements(Array(3L, 4L, 5L))) // 2 is an exact dup of 1
    // empty index: the filter aggregate is null, the batch passes through
    val none = Dedup.dedupExactAgainstBloom(batch,
      existing.filter($"doc_id" < 0L), "doc_id", "text")
    assert(none.count() == batch.count())
    // output schema: the internal hash column never leaks
    assert(none.columns.sameElements(batch.columns))
  }

  test("lshRecallReport: found ≤ true per band; totals match the pair frames") {
    val fix = spark.read.parquet(sf("sf0.001") + "/documents.parquet")
    val sh = fix.select($"doc_id",
      Text.shingles(Text.tokens($"text"), 3).as("shingles"))
    val tau = 0.3
    val r = Dedup.lshRecallReport(sh, "doc_id", numPerms = 16,
        bands = 4, rpb = 4, tau = tau, maxDf = 100000L)
      .as[(Long, Long, Long, Double)].collect()
    assert(r.nonEmpty)
    r.foreach { case (band, nTrue, nFound, recall) =>
      assert(band >= 3L && band <= 10L, s"band $band below tau")
      assert(nFound <= nTrue, s"band $band: $nFound > $nTrue")
      assert(recall >= 0.0 && recall <= 1.0)
    }
    // the report's totals are exactly the two pair frames' counts
    val nExact = Dedup.jaccardPairsExact(sh, "doc_id", tau, 100000L).count()
    val nLsh = Dedup.jaccardVerify(
      Dedup.lshCandidatePairs(Dedup.lshBands(
        Dedup.minhashSignatures(sh, "doc_id", 16), "doc_id", 4, 4),
        "doc_id"), sh, "doc_id", tau).count()
    assert(r.map(_._2).sum == nExact)
    assert(r.map(_._3).sum == nLsh)
    // banding recall is monotone-ish in similarity: the top band never
    // recalls worse than the bottom band on this fixture
    val byBand = r.sortBy(_._1)
    assert(byBand.last._4 >= byBand.head._4)
  }

  test("dedupSensitivity: per-doc max collapses pairs; cumulative counts descend") {
    // doc 1 peaks at 0.9 (two pairs), 2 at 0.9, 3 at 0.52, 4 at 0.52,
    // 5 at 0.12 with 6 → buckets 18:{1,2}, 10:{3,4}, 2:{5,6}
    val pairs = Seq(
      (1L, 2L, 0.9), (1L, 3L, 0.52), (3L, 4L, 0.4),
      (4L, 3L, 0.52), (5L, 6L, 0.12)
    ).toDF("id_a", "id_b", "jaccard")
    val r = Dedup.dedupSensitivity(pairs)
      .orderBy("tau_floor")
      .as[(Double, Long, Long)].collect()
    assert(r.toSeq == Seq((0.1, 2L, 6L), (0.5, 2L, 4L), (0.9, 2L, 2L)))
  }

  test("scrubChunksAgainst: shared chunks drop, edits survive, exact dup empties") {
    val base = (1 to 200).map(i => s"w${i % 41}").mkString(" ")
    val edited = base.split(" ").patch(100, Seq("EDIT1", "EDIT2"), 0)
      .mkString(" ")
    val stored = Text.chunkContentDefined(
        Seq((1L, base)).toDF("doc_id", "text"), "text", 8, "t")
      .select(md5(col("chunk").cast("binary")).as("chunk_hash")).distinct()
    val r = Dedup.scrubChunksAgainst(
        Seq((10L, edited), (11L, base), (12L, "totally fresh text here"))
          .toDF("doc_id", "text"),
        "doc_id", "text", 8, "t", stored)
      .as[(Long, Long, Long, String)].collect()
      .map(x => x._1 -> x).toMap
    // exact duplicate: every chunk stored → empty rewrite
    assert(r(11L)._3 == r(11L)._2 && r(11L)._4 == "")
    // fresh doc: nothing stored → untouched
    assert(r(12L)._3 == 0L && r(12L)._4 == "totally fresh text here")
    // edited revision: the edit survives, most revision-shared chunks drop
    assert(r(10L)._4.contains("EDIT1") && r(10L)._4.contains("EDIT2"))
    assert(r(10L)._3 > 0L && r(10L)._3 < r(10L)._2,
      s"expected partial scrub, got ${r(10L)}")
    // CDC realignment: far more chunks drop than survive
    assert(r(10L)._3 > r(10L)._2 / 2, s"realignment too weak: ${r(10L)}")
  }

  test("chunkDedupRate: copies and their tokens counted; unique corpus reports zero") {
    val chunks = Seq(
      (1L, 0L, 3L, "a b c"), (1L, 1L, 2L, "d e"),
      (2L, 0L, 3L, "a b c"), (2L, 1L, 3L, "a b c"), // 2 extra copies
      (3L, 0L, 1L, "f")
    ).toDF("doc_id", "chunk_idx", "n_tokens", "chunk")
    val r = Dedup.chunkDedupRate(chunks, "chunk", "n_tokens").head()
    assert(r.getLong(0) == 5L && r.getLong(1) == 3L && r.getLong(2) == 2L)
    assert(math.abs(r.getDouble(3) - 0.4) < 1e-9)
    assert(r.getLong(4) == 12L && r.getLong(5) == 6L)
    assert(math.abs(r.getDouble(6) - 0.5) < 1e-9)
    val clean = Dedup.chunkDedupRate(
      chunks.filter(col("doc_id") =!= 2L), "chunk", "n_tokens").head()
    assert(clean.getLong(2) == 0L && clean.getDouble(3) == 0.0)
  }

  test("noveltyStats: first owner wins; later copies score zero; gram-less doc NULL") {
    val sh = Seq(
      (1L, Seq("a b c", "b c d")),      // all novel (first doc)
      (2L, Seq("a b c", "x y z")),      // 1 of 2 novel
      (3L, Seq("b c d", "x y z")),      // 0 novel
      (4L, Seq.empty[String])           // no grams
    ).toDF("doc_id", "shingles")
    val r = Dedup.noveltyStats(sh, "doc_id")
      .collect().map(x => x.getLong(0) -> x).toMap
    assert(r(1L).getLong(1) == 2 && r(1L).getLong(2) == 2)
    assert(r(2L).getLong(1) == 2 && r(2L).getLong(2) == 1
      && math.abs(r(2L).getDouble(3) - 0.5) < 1e-9)
    assert(r(3L).getLong(2) == 0 && r(3L).getDouble(3) == 0.0)
    assert(r(4L).getLong(1) == 0 && r(4L).isNullAt(3))
  }

  test("dupSourceMatrix: unordered cells merge both orientations; counts exact") {
    val pairs = Seq(
      (1L, 2L, 0.8), (3L, 4L, 0.6), // wiki-cc in both orientations
      (5L, 6L, 1.0),                // cc-cc diagonal
      (7L, 8L, 0.5)                 // wiki-wiki diagonal
    ).toDF("id_a", "id_b", "jaccard")
    val meta = Seq(
      1L -> "wiki", 2L -> "cc", 3L -> "cc", 4L -> "wiki",
      5L -> "cc", 6L -> "cc", 7L -> "wiki", 8L -> "wiki"
    ).toDF("doc_id", "source")
    val r = Dedup.dupSourceMatrix(pairs, meta, "doc_id", "source")
      .as[(String, String, Long, Double)].collect()
      .map(x => (x._1, x._2) -> x).toMap
    assert(r.size == 3)
    val cw = r(("cc", "wiki"))
    assert(cw._3 == 2L && math.abs(cw._4 - 0.7) < 1e-9)
    assert(r(("cc", "cc"))._3 == 1L)
    assert(r(("wiki", "wiki"))._3 == 1L)
  }
}

package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

class SamplingSpec extends SparkSpec {
  import spark.implicits._

  private def corpus = Seq(
    (1L, "a b c d e", "s0"), (2L, "f g h", "s0"), (3L, "i j k l", "s0"),
    (4L, "m n", "s0"), (5L, "o p q r s t", "s1"), (6L, "u v w", "s1"),
    (7L, "x y", "s2")
  ).toDF("doc_id", "text", "source")

  test("domainMix: rate 1 keeps all, rate 0 keeps none, absent source drops") {
    val rates = Seq(("s0", 1.0), ("s1", 0.0)).toDF("source", "rate")
    val kept = Sampling.domainMix(corpus, "doc_id", "source", rates, "t")
      .select("doc_id").as[Long].collect().toSet
    // s0 fully kept, s1 fully dropped, s2 absent from the spec -> dropped
    assert(kept == Set(1L, 2L, 3L, 4L))
  }

  test("domainMix: deterministic, salt-sensitive, rate-monotone") {
    val half = Seq(("s0", 0.5), ("s1", 0.5), ("s2", 0.5)).toDF("source", "rate")
    val once = Sampling.domainMix(corpus, "doc_id", "source", half, "a")
      .select("doc_id").as[Long].collect().toSet
    val again = Sampling.domainMix(corpus, "doc_id", "source", half, "a")
      .select("doc_id").as[Long].collect().toSet
    assert(once == again) // pure function of (id, salt)
    // raising every rate can only ADD documents (same draw, higher bar)
    val more = Seq(("s0", 0.9), ("s1", 0.9), ("s2", 0.9)).toDF("source", "rate")
    val kept9 = Sampling.domainMix(corpus, "doc_id", "source", more, "a")
      .select("doc_id").as[Long].collect().toSet
    assert(once.subsetOf(kept9))
  }

  test("tokenBudget: prefix property, cap respected, deterministic order") {
    val r = Sampling.tokenBudget(corpus, "doc_id", "source", "text", 8L, "t")
      .select("doc_id", "source", "n_tokens", "cum_tokens")
      .as[(Long, String, Long, Long)].collect()
    // every kept row is within budget
    assert(r.forall(_._4 <= 8L))
    // per source, kept docs form a prefix of the hash order: cum is the
    // running sum of kept tokens exactly
    r.groupBy(_._2).foreach { case (_, rows) =>
      val sorted = rows.sortBy(_._4)
      assert(sorted.map(_._3).scanLeft(0L)(_ + _).tail
        .sameElements(sorted.map(_._4)))
    }
    // a doc bigger than the whole budget can never appear
    val tiny = Sampling.tokenBudget(corpus, "doc_id", "source", "text", 1L, "t")
      .select("n_tokens").as[Long].collect()
    assert(tiny.forall(_ <= 1L))
    intercept[IllegalArgumentException] {
      Sampling.tokenBudget(corpus, "doc_id", "source", "text", 0L, "t")
    }
  }

  test("tokenBudgetBucketed law: identical rows to tokenBudget for any bucket count") {
    val direct = Sampling.tokenBudget(corpus, "doc_id", "source", "text", 8L, "t")
      .select("doc_id", "n_tokens", "cum_tokens")
      .as[(Long, Long, Long)].collect().toSet
    for (b <- Seq(1, 2, 8, 64)) {
      val bucketed = Sampling.tokenBudgetBucketed(
        corpus, "doc_id", "source", "text", 8L, "t", b)
        .select("doc_id", "n_tokens", "cum_tokens")
        .as[(Long, Long, Long)].collect().toSet
      assert(bucketed == direct, s"buckets=$b")
    }
    intercept[IllegalArgumentException] {
      Sampling.tokenBudgetBucketed(corpus, "doc_id", "source", "text", 8L, "t", 3)
    }
  }

  test("topFraction: per-source relative gate, deterministic ties, bounds checked") {
    val scored = Seq(
      (1L, "s0", 0.9), (2L, "s0", 0.7), (3L, "s0", 0.5), (4L, "s0", 0.3),
      (5L, "s1", 0.2), (6L, "s1", 0.1),
      (7L, "s2", 0.4)
    ).toDF("doc_id", "source", "score")
    val half = Sampling.topFraction(scored, "doc_id", "source", "score", 0.5)
      .select("doc_id").as[Long].collect().toSet
    // s0: ranks pct 0, 1/3, 2/3, 1 -> keep 1,2; s1: 0, 1 -> keep 5;
    // s2: single row pct 0 -> kept. RELATIVE: s1's 0.2 survives while
    // s0's 0.5 (absolutely higher) does not.
    assert(half == Set(1L, 2L, 5L, 7L))
    // keepFrac 1 keeps everything; ties break on id (deterministic)
    assert(Sampling.topFraction(scored, "doc_id", "source", "score", 1.0)
      .count() == 7)
    val tied = Seq((1L, "s", 0.5), (2L, "s", 0.5), (3L, "s", 0.5))
      .toDF("doc_id", "source", "score")
    assert(Sampling.topFraction(tied, "doc_id", "source", "score", 0.5)
      .select("doc_id").as[Long].collect().toSet == Set(1L, 2L))
    intercept[IllegalArgumentException] {
      Sampling.topFraction(scored, "doc_id", "source", "score", 0.0)
    }
  }

  test("ratesForTemperature: p ∝ n^α, rates capped, α=1 is natural sampling") {
    // n: a=100 tokens, b=400 tokens; α=0.5 → w=10,20 → p=1/3,2/3;
    // T=150 → rate_a=min(1,150·(1/3)/100)=0.5, rate_b=min(1,150·(2/3)/400)=0.25
    val docs = Seq(
      (1L, Seq.fill(100)("x").mkString(" "), "a"),
      (2L, Seq.fill(400)("y").mkString(" "), "b")
    ).toDF("doc_id", "text", "source")
    val r = Sampling.ratesForTemperature(docs, "source", "text", 0.5, 150L)
      .select("source", "n_tokens", "p", "rate")
      .as[(String, Long, Double, Double)].collect()
      .map(x => x._1 -> x).toMap
    assert(r("a") == (("a", 100L, 0.333333333, 0.5)))
    assert(r("b") == (("b", 400L, 0.666666667, 0.25)))
    // α=1: p is proportional to size, so every rate equals T/total —
    // natural sampling treats the corpus as one pool (150/500 = 0.3)
    val nat = Sampling.ratesForTemperature(docs, "source", "text", 1.0, 150L)
      .select("source", "rate").as[(String, Double)].collect().toMap
    assert(nat("a") == 0.3 && nat("b") == 0.3)
    // the flattening direction at the SAME token target: α<1 gives the
    // small source a HIGHER rate than natural, the big source a lower one
    assert(r("a")._4 > nat("a") && r("b")._4 < nat("b"))
  }

  test("epochFactors: target shares, round-half-up targets, absent source weight 0") {
    val docs = Seq(
      (1L, "x y", "s1"), (2L, "x y", "s1"),
      (3L, "x", "s2"), (4L, "x y z", "s3")
    ).toDF("doc_id", "text", "source")
    val r = Sampling.epochFactors(docs, "source", "text",
        Map("s1" -> 1.0, "s2" -> 1.0), 10L)
      .select($"source", $"n_tokens", $"weight", $"share",
        $"target_tokens", $"factor")
      .as[(String, Long, Double, Double, Long, Double)]
      .collect().map(x => x._1 -> x).toMap
    assert(r("s1") == (("s1", 4L, 1.0, 0.5, 5L, 1.25)))
    assert(r("s2") == (("s2", 1L, 1.0, 0.5, 5L, 5.0)),
      "factor > 1 must signal multi-epoch upsampling")
    assert(r("s3") == (("s3", 3L, 0.0, 0.0, 0L, 0.0)),
      "source absent from the mixture gets weight 0, not a silent drop")
  }

  test("pack: full sequences, zero token loss, boundary-spanning docs, determinism") {
    val r = Sampling.pack(corpus, "doc_id", "text", 4, 1, "p")
      .select("shard", "seq_idx", "n_tokens", "seq")
      .as[(Long, Long, Long, String)].collect().sortBy(x => (x._1, x._2))
    // one shard: the whole stream in doc_id order
    val totalToks = corpus.select(size(split(col("text"), " ")))
      .as[Int].collect().map(_.toLong).sum
    assert(r.map(_._3).sum == totalToks) // every token lands exactly once
    // every sequence but the final partial is exactly full
    assert(r.dropRight(1).forall(_._3 == 4L), r.mkString("\n"))
    assert(r.last._3 == totalToks % 4 || r.last._3 == 4L)
    // the concatenated output IS the concatenated input stream
    val stream = corpus.orderBy("doc_id").select("text")
      .as[String].collect().mkString(" ")
    assert(r.map(_._4).mkString(" ") == stream)
    // deterministic across runs
    val again = Sampling.pack(corpus, "doc_id", "text", 4, 1, "p")
      .select("shard", "seq_idx", "n_tokens", "seq")
      .as[(Long, Long, Long, String)].collect().sortBy(x => (x._1, x._2))
    assert(again.toSeq == r.toSeq)
  }

  test("pack: sharded run loses no tokens and fills all but one seq per shard") {
    val big = (1L to 100L).map { i =>
      (i, Seq.fill((i % 9 + 1).toInt)(s"w$i").mkString(" "), "s")
    }.toDF("doc_id", "text", "source")
    val r = Sampling.pack(big, "doc_id", "text", 16, 4, "p")
      .select("shard", "seq_idx", "n_tokens")
      .as[(Long, Long, Long)].collect()
    val totalToks = big.select(size(split(col("text"), " ")))
      .as[Int].collect().map(_.toLong).sum
    assert(r.map(_._3).sum == totalToks)
    // at most one non-full sequence per shard (the tail)
    r.groupBy(_._1).foreach { case (sh, rows) =>
      assert(rows.count(_._3 != 16L) <= 1, s"shard $sh: ${rows.mkString(",")}")
    }
    assert(r.map(_._1).distinct.length == 4)
    intercept[IllegalArgumentException] {
      Sampling.pack(big, "doc_id", "text", 0, 4, "p")
    }
  }

  test("packWhole: docs never split, bins never overfill, oversized docs isolated") {
    val big = (1L to 100L).map { i =>
      // lengths 1..20, plus two oversized (> cap 16) docs
      val n = if (i == 7L || i == 42L) 25 else (i % 20 + 1).toInt
      (i, Seq.fill(n)(s"w$i").mkString(" "), "s")
    }.toDF("doc_id", "text", "source")
    val r = Sampling.packWhole(big, "doc_id", "text", 16L, 4, "t")
      .as[(Long, Long, Long, Long, Long)].collect()
    // every doc assigned exactly once, token counts preserved
    assert(r.map(_._4).sorted.toSeq == (1L to 100L).toSeq)
    val nByDoc = r.map(x => x._4 -> x._5).toMap
    assert(nByDoc(7L) == 25L && nByDoc(42L) == 25L)
    // a bin's fill exceeds the cap ONLY as a single oversized doc
    r.groupBy(x => (x._1, x._2)).foreach { case (bin, rows) =>
      val fill = rows.map(_._5).sum
      assert(fill <= 16L || rows.length == 1, s"bin $bin overfilled: $rows")
    }
    // bin indices contiguous from 0 per shard; positions contiguous per bin
    r.groupBy(_._1).foreach { case (_, rows) =>
      val bins = rows.map(_._2).distinct.sorted
      assert(bins.sameElements(0L until bins.length))
    }
    r.groupBy(x => (x._1, x._2)).foreach { case (_, rows) =>
      assert(rows.map(_._3).sorted.sameElements(0L until rows.length))
    }
    // deterministic under a different input partitioning
    val again = Sampling
      .packWhole(big.repartition(13), "doc_id", "text", 16L, 4, "t")
      .as[(Long, Long, Long, Long, Long)].collect()
    assert(again.sortBy(x => (x._1, x._2, x._3)).toSeq ==
      r.sortBy(x => (x._1, x._2, x._3)).toSeq)
  }

  test("packWhole: greedy first-fit order is the keyed-hash priority order") {
    // single shard, cap 10: replay the greedy scan in the host and
    // compare bin-for-bin
    val docs = (1L to 30L).map(i =>
      (i, Seq.fill((i % 6 + 1).toInt)("w").mkString(" "), "s"))
      .toDF("doc_id", "text", "source")
    val r = Sampling.packWhole(docs, "doc_id", "text", 10L, 1, "t")
      .as[(Long, Long, Long, Long, Long)].collect()
      .sortBy(x => (x._2, x._3))
    val pr = docs.select(col("doc_id"),
        graft.ops.Portable.seededHash(lit("t|pr"), col("doc_id")).as("pr"))
      .as[(Long, Long)].collect().toMap
    val ordered = (1L to 30L).sortBy(i => (pr(i), i))
    var bin = 0L; var fill = 0L
    val expect = ordered.map { i =>
      val n = (i % 6 + 1).toLong
      if (fill == 0L || fill + n > 10L) { bin = if (fill == 0L) 0L else bin + 1; fill = n }
      else fill += n
      i -> bin
    }.toMap
    r.foreach { case (_, b, _, id, _) => assert(b == expect(id), s"doc $id") }
  }

  test("tokenBudgetBucketed: law holds on a larger random-ish corpus") {
    // 200 docs, 5 sources, varying lengths — exercises bucket boundaries
    val big = (1L to 200L).map { i =>
      (i, Seq.fill((i % 7 + 1).toInt)("w").mkString(" "), s"s${i % 5}")
    }.toDF("doc_id", "text", "source")
    val direct = Sampling.tokenBudget(big, "doc_id", "source", "text", 60L, "z")
      .select("doc_id", "cum_tokens").as[(Long, Long)].collect().toSet
    val bucketed = Sampling.tokenBudgetBucketed(
      big, "doc_id", "source", "text", 60L, "z", 16)
      .select("doc_id", "cum_tokens").as[(Long, Long)].collect().toSet
    assert(bucketed == direct)
    assert(direct.nonEmpty)
  }

  test("sampleN: exact per-source counts, deterministic, salt-independent draws") {
    val docs = (1L to 40L).map(i => (i, s"text $i", s"s${i % 4}"))
      .toDF("doc_id", "text", "source")
    val a = Sampling.sampleN(docs, "doc_id", "source", 3, "a")
    val counts = a.groupBy("source").count()
      .as[(String, Long)].collect().toMap
    assert(counts.values.toSet == Set(3L) && counts.size == 4)
    // ranks are 1..n within each source
    assert(a.select("sample_rank").as[Long].collect().sorted.toSeq ==
      Seq.fill(4)(Seq(1L, 2L, 3L)).flatten.sorted)
    // deterministic: the same salt re-draws the identical set
    val a2 = Sampling.sampleN(docs, "doc_id", "source", 3, "a")
      .select("doc_id").as[Long].collect().toSet
    assert(a.select("doc_id").as[Long].collect().toSet == a2)
    // a different salt gives an independent (here: different) draw
    val b = Sampling.sampleN(docs, "doc_id", "source", 3, "b")
      .select("doc_id").as[Long].collect().toSet
    assert(a2 != b)
    // n >= stratum size keeps the whole stratum
    assert(Sampling.sampleN(docs, "doc_id", "source", 99, "a").count() == 40)
  }

  test("dsirWeights: full spine, target-favored buckets weigh positive") {
    val raw = Seq((1L, "a b a b"), (2L, "c d c d"), (3L, "x"))
      .toDF("doc_id", "text")
    val target = raw.filter($"doc_id" === 1L)
    val w = Sampling.dsirWeights(raw, target, "doc_id", "text", 16, 2)
    assert(w.count() == 16)
    val wm = w.select("bucket", "w").as[(Long, Double)].collect().toMap
    def bk(g: String) = graft.functions.Hash60.compute(
      Array(org.apache.spark.unsafe.types.UTF8String.fromString(g))) % 16
    // "a b" occurs in the target, "c d" only in raw
    assert(wm(bk("a b")) > wm(bk("c d")))
    // an unseen bucket gets the smoothed-floor weight, not NULL
    val unseen = (0L until 16L).toSet -- Seq("a b", "b a", "c d", "d c").map(bk)
    unseen.foreach(b => assert(!wm(b).isNaN))
  }

  test("dsirScores: per-doc sum of bucket weights; gram-less docs score 0") {
    val raw = Seq((1L, "a b a b"), (2L, "c d c d"), (3L, "x"))
      .toDF("doc_id", "text")
    val target = raw.filter($"doc_id" === 1L)
    val wm = Sampling.dsirWeights(raw, target, "doc_id", "text", 16, 2)
      .select("bucket", "w").as[(Long, Double)].collect().toMap
    def bk(g: String) = graft.functions.Hash60.compute(
      Array(org.apache.spark.unsafe.types.UTF8String.fromString(g))) % 16
    def rnd(x: Double) = BigDecimal(x)
      .setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
    val s = Sampling.dsirScores(raw, "doc_id", "text", target, 16, 2)
      .as[(Long, Long, Double)].collect().map(x => x._1 -> x).toMap
    // doc 1 grams: "a b", "b a", "a b"
    assert(s(1L)._2 == 3L)
    assert(s(1L)._3 == rnd(2 * wm(bk("a b")) + wm(bk("b a"))))
    assert(s(2L)._3 == rnd(2 * wm(bk("c d")) + wm(bk("d c"))))
    // the target-slice doc outranks the out-of-target doc
    assert(s(1L)._3 > s(2L)._3)
    assert(s(3L) == ((3L, 0L, 0.0)))
  }

  test("applyEpochFactors: integer copies for all, fractional lottery, zero drops") {
    val d = Seq(
      (1L, "s0"), (2L, "s0"), (3L, "s0"), (4L, "s0"),
      (5L, "s1"), (6L, "s2")
    ).toDF("doc_id", "source")
    val factors = Seq(
      ("s0", 2.5),  // 2 copies each + ~half get a third
      ("s1", 0.0),  // dropped
      ("s2", 1.0)   // exactly one copy
    ).toDF("source", "factor")
    val r = Sampling.applyEpochFactors(d, "doc_id", "source", factors, "t")
      .select("doc_id", "source", "epoch_copy")
      .as[(Long, String, Long)].collect()
    // s1 dropped entirely; s2 exactly once
    assert(!r.exists(_._2 == "s1"))
    assert(r.count(_._2 == "s2") == 1 && r.find(_._2 == "s2").get._3 == 1L)
    // s0: every doc appears 2 or 3 times with dense copy indices
    val bySrc0 = r.filter(_._2 == "s0").groupBy(_._1)
    assert(bySrc0.keySet == Set(1L, 2L, 3L, 4L))
    bySrc0.foreach { case (_, copies) =>
      val n = copies.length
      assert(n == 2 || n == 3)
      assert(copies.map(_._3).sorted.sameElements(1L to n.toLong))
    }
    // deterministic: the same call realizes the identical corpus
    val again = Sampling.applyEpochFactors(d, "doc_id", "source",
        factors, "t")
      .select("doc_id", "source", "epoch_copy")
      .as[(Long, String, Long)].collect()
    assert(again.sorted.sameElements(r.sorted))
  }

  test("sampleNWeighted: exact counts, weight-dominant row wins, nonpositive excluded") {
    val d = Seq(
      (1L, "s0", 1e9), (2L, "s0", 1e-9), (3L, "s0", 1e-9),
      (4L, "s1", 0.0), (5L, "s1", -2.0), (6L, "s1", 1.0)
    ).toDF("doc_id", "source", "w")
    val r1 = Sampling.sampleNWeighted(d, "doc_id", "source", "w", 1, "t")
      .select("doc_id", "source", "sample_rank")
      .as[(Long, String, Long)].collect().sortBy(_._1)
    // n=1 per source: the 1e9-weight row's exponential key is ~1e-9 of
    // its rivals' — it wins deterministically; s1's only positive-weight
    // row is 6
    assert(r1.map(x => (x._1, x._2)).sameElements(
      Array((1L, "s0"), (6L, "s1"))))
    assert(r1.forall(_._3 == 1L))
    // exact per-source counts capped by positive-weight rows
    val r3 = Sampling.sampleNWeighted(d, "doc_id", "source", "w", 3, "t")
      .groupBy("source").count().as[(String, Long)].collect().toMap
    assert(r3("s0") == 3L && r3("s1") == 1L)
    // deterministic: same salt, same sample
    val again = Sampling.sampleNWeighted(d, "doc_id", "source", "w", 1, "t")
      .select("doc_id").as[Long].collect().sorted
    assert(again.sameElements(r1.map(_._1)))
  }

  test("sampleBalanced: exact per-cluster budget; sparse cluster survives whole") {
    // two well-separated directions: ids 1-5 hug (1,0), ids 6-7 hug (0,1)
    val vecs = Seq(
      (1L, Seq(1.0f, 0.0f)), (2L, Seq(0.9f, 0.1f)), (3L, Seq(1.0f, 0.1f)),
      (4L, Seq(0.8f, 0.0f)), (5L, Seq(0.9f, 0.0f)),
      (6L, Seq(0.0f, 1.0f)), (7L, Seq(0.1f, 0.9f))
    ).toDF("vec_id", "embedding")
    val cen = Seq((100L, Seq(1.0f, 0.0f)), (200L, Seq(0.0f, 1.0f)))
      .toDF("vec_id", "embedding")
    val r = Sampling.sampleBalanced(vecs, "vec_id", "embedding", cen, 3, "t")
      .select("vec_id", "cluster", "sample_rank")
      .as[(Long, Long, Long)].collect()
    val byCluster = r.groupBy(_._2).view.mapValues(_.map(_._1).toSet).toMap
    // dense cluster cut to exactly 3, sparse cluster kept whole
    assert(byCluster(100L).size == 3 &&
      byCluster(100L).subsetOf(Set(1L, 2L, 3L, 4L, 5L)))
    assert(byCluster(200L) == Set(6L, 7L))
    assert(r.forall(_._3 <= 3L))
    // deterministic: pure function of (id, salt)
    val again = Sampling
      .sampleBalanced(vecs, "vec_id", "embedding", cen, 3, "t")
      .select("vec_id").as[Long].collect().sorted
    assert(again.sameElements(r.map(_._1).sorted))
  }

  test("interleave: stride schedule honors weights; positions contiguous; per-source order monotone") {
    val docs = ((1 to 4).map(i => (i.toLong, "a")) ++
      (11 to 12).map(i => (i.toLong, "b"))).toDF("doc_id", "source")
    val w = Seq(("a", 2.0), ("b", 1.0)).toDF("source", "weight")
    val r = Sampling.interleave(docs, "doc_id", "source", w,
        shards = 1, salt = "t")
      .orderBy("pos")
      .as[(Long, Long, String, Long, Double)].collect()
    // vt: a → 0.5, 1.0, 1.5, 2.0; b → 1.0, 2.0; tie at equal vt → source
    // asc, so the stream pattern is a a b a a b — 2:1 throughout
    assert(r.map(_._3).toSeq == Seq("a", "a", "b", "a", "a", "b"))
    assert(r.map(_._4).toSeq == (1L to 6L))
    // each source's own docs appear at increasing vt
    r.groupBy(_._3).foreach { case (_, rows) =>
      val vts = rows.sortBy(_._4).map(_._5)
      assert(vts.zip(vts.tail).forall(p => p._1 < p._2))
    }
    // deterministic: same inputs → same order
    val again = Sampling.interleave(docs, "doc_id", "source", w, 1, "t")
      .orderBy("pos").as[(Long, Long, String, Long, Double)].collect()
    assert(again.map(_._2).sameElements(r.map(_._2)))
  }

  test("epoch realization feeding pack conserves every realized token") {
    val docs = Seq(
      (1L, "sA", Seq.fill(6)("a").mkString(" ")),
      (2L, "sA", Seq.fill(4)("b").mkString(" ")),
      (3L, "sB", Seq.fill(5)("c").mkString(" "))
    ).toDF("doc_id", "source", "text")
    val fac = Seq(("sA", 2.0), ("sB", 1.0)).toDF("source", "factor")
    val realized = Sampling.applyEpochFactors(docs, "doc_id", "source",
        fac, "t")
      .select((col("doc_id") * 1024 + col("epoch_copy")).as("doc_id"),
        col("text"))
    val realTokens = realized
      .select(size(split(col("text"), " ")).cast("long")).as[Long]
      .collect().sum
    assert(realTokens == 2 * (6 + 4) + 5) // integer factors: exact
    val packed = Sampling.pack(realized, "doc_id", "text", 8, 2, "t")
    assert(packed.select(sum("n_tokens")).as[Long].head() == realTokens)
  }

  test("packAudit: boundary/full/multi-doc counts match the hand-built layout") {
    // one shard → stream order is doc_id order; token counts 5, 3, 6,
    // L=4 → sequences [0,4) doc1 | [4,8) doc1+doc2 | [8,12) doc3 |
    // [12,14) doc3 partial
    val d = Seq(
      (1L, Seq.fill(5)("a").mkString(" ")),
      (2L, Seq.fill(3)("b").mkString(" ")),
      (3L, Seq.fill(6)("c").mkString(" "))
    ).toDF("doc_id", "text")
    val r = Sampling.packAudit(d, "doc_id", "text",
        seqTokens = 4, shards = 1, salt = "t")
      .as[(Long, Long, Long, Long, Long, Long)].collect()
    assert(r.toSeq == Seq((0L, 4L, 3L, 1L, 1L, 2L)))
    // consistency with pack itself: same seq count per shard, and
    // full_seqs equals the count of exactly-L sequences pack emits
    val packed = Sampling.pack(d, "doc_id", "text", 4, 1, "t")
      .select("n_tokens").as[Long].collect()
    assert(packed.length == 4 && packed.count(_ == 4L) == 3)
  }

  test("quantileNormalize: hand-computed two-group mapping; ties map " +
      "identically; row count preserved") {
    val df = Seq(
      (1L, "A", 1.0), (2L, "A", 2.0), (3L, "A", 3.0), (4L, "A", 4.0),
      (5L, "B", 10.0), (6L, "B", 20.0)
    ).toDF("doc_id", "source", "score")
    val got = Sampling.quantileNormalize(df, "doc_id", "source", "score")
      .orderBy("doc_id")
      .as[(Long, String, Double, Double)].collect().toSeq
    // N=6; A (ng 4): t0 = rlo*5 div 3 -> 0,1,3,5 -> global scores
    // 1,2,4,20; B (ng 2): t0 = 0,5 -> 1,20
    assert(got == Seq(
      (1L, "A", 1.0, 1.0), (2L, "A", 2.0, 2.0), (3L, "A", 3.0, 4.0),
      (4L, "A", 4.0, 20.0), (5L, "B", 10.0, 1.0), (6L, "B", 20.0, 20.0)))
    // ties: every tied row gets the same image, cardinality unchanged
    val tied = Seq((1L, "A", 5.0), (2L, "A", 5.0), (3L, "A", 7.0),
      (4L, "B", 9.0)).toDF("doc_id", "source", "score")
    val tg = Sampling.quantileNormalize(tied, "doc_id", "source", "score")
      .as[(Long, String, Double, Double)].collect().toSeq
    assert(tg.size == 4)
    assert(tg.filter(_._3 == 5.0).map(_._4).distinct.size == 1)
  }

  test("conformalGate: k = ceil((n+1)(1-alpha)) order statistic; " +
      "too-small groups report NULL; coverage holds on the sample") {
    val df = ((1 to 9).map(i => ("big", i.toDouble)) ++
      Seq(("tiny", 1.0), ("tiny", 2.0), ("tiny", 3.0)))
      .toDF("g", "s")
    val g10 = Sampling.conformalGate(df, "g", "s", 1L, 10L)
      .orderBy("g").as[(String, Long, Long, Option[Double])]
      .collect().toSeq
    // big: k = ceil(10*0.9) = 9 -> 9th smallest = 9.0;
    // tiny: k = ceil(4*0.9) = 4 > 3 -> honest NULL
    assert(g10 == Seq(("big", 9L, 9L, Some(9.0)),
      ("tiny", 3L, 4L, None)))
    val g50 = Sampling.conformalGate(df, "g", "s", 1L, 2L)
      .orderBy("g").as[(String, Long, Long, Option[Double])]
      .collect().toSeq
    assert(g50 == Seq(("big", 9L, 5L, Some(5.0)),
      ("tiny", 3L, 2L, Some(2.0))))
    // empirical coverage on a bigger calibration set: at least 1-alpha
    // of the sample sits at or below the gate
    val cal = (1 to 99).map(i => ("c", i.toDouble)).toDF("g", "s")
    val th = Sampling.conformalGate(cal, "g", "s", 1L, 10L)
      .select("threshold").as[Double].collect().head
    assert(th == 90.0)
    assert(cal.filter(col("s") <= th).count() * 10L >= cal.count() * 9L)
  }

  test("quantileNormalize: identity on a single group; singleton group " +
      "maps to the global minimum") {
    val one = Seq.tabulate(20)(i => (i.toLong, "X", (i % 7).toDouble))
      .toDF("doc_id", "source", "score")
    val got = Sampling.quantileNormalize(one, "doc_id", "source", "score")
      .as[(Long, String, Double, Double)].collect()
    assert(got.forall(r => r._3 == r._4),
      "one group: normalization must be the identity")
    val withSingleton = Seq((1L, "A", 3.0), (2L, "A", 8.0),
      (3L, "S", 99.0)).toDF("doc_id", "source", "score")
    val s = Sampling.quantileNormalize(withSingleton, "doc_id", "source",
      "score").as[(Long, String, Double, Double)].collect()
      .map(r => r._1 -> r._4).toMap
    assert(s(3L) == 3.0, "singleton group sits at p = 0, the global min")
  }

  test("neymanAllocation: constant strata get 0; budget splits by " +
      "N_h sigma_h; shares sum to ~1") {
    // s0: 4 rows constant 0.5 (sigma 0); s1: 4 rows alternating 0/1
    // (sigma 0.5); s2: 2 rows alternating 0/1 (sigma 0.5)
    val df = (Seq.fill(4)(0.5).map(("s0", _)) ++
      Seq(0.0, 1.0, 0.0, 1.0).map(("s1", _)) ++
      Seq(0.0, 1.0).map(("s2", _))).toDF("src", "score")
    val r = Sampling.neymanAllocation(df, "src", "score", 600L)
      .orderBy("stratum")
      .as[(String, Long, Double, Double, Long)].collect()
    val m = r.map(x => x._1 -> x).toMap
    assert(m("s0")._3 == 0.0 && m("s0")._5 == 0L)
    assert(m("s1")._3 == 0.5 && m("s2")._3 == 0.5)
    // N*sigma: s1 = 2, s2 = 1 -> shares 2/3, 1/3 of 600 = 400/200
    assert(m("s1")._5 == 400L && m("s2")._5 == 200L)
    assert(math.abs(r.map(_._4).sum - 1.0) < 1e-8)
  }

  test("effectiveSampleSize: flat weights give ESS = n; one dominant " +
      "weight collapses ESS to ~1") {
    val flat = Seq.fill(8)(("g", 0.25)).toDF("src", "w")
    val f = Sampling.effectiveSampleSize(flat, "src", "w")
      .as[(String, Long, Option[Double], Option[Double])].head()
    assert(f._2 == 8L && f._3.contains(8.0) && f._4.contains(1.0))
    val skew = (("g", 1.0) +: Seq.fill(7)(("g", 0.0))).toDF("src", "w")
    val s = Sampling.effectiveSampleSize(skew, "src", "w")
      .as[(String, Long, Option[Double], Option[Double])].head()
    assert(s._3.contains(1.0) && s._4.contains(0.125))
  }

  test("weightedSampleWor: deterministic, distinct, k-bounded; a " +
      "dominant weight wins its slot; zero weights never sampled") {
    val df = ((1L to 50L).map(i => (i, 1L)) :+ (99L, 1000000L) :+
      (100L, 0L)).toDF("id", "w")
    def draw() = Sampling.weightedSampleWor(df, "id", "w", 5, "t")
      .as[(Long, Long, Double)].collect()
    val a = draw(); val b = draw()
    assert(a.toSeq == b.toSeq)                   // keyed-hash: no RNG state
    assert(a.length == 5 && a.map(_._1).distinct.length == 5)
    assert(a.map(_._1).contains(99L))            // ln-weight advantage
    assert(!a.map(_._1).contains(100L))          // w = 0 filtered
    // keys are ranked descending
    assert(a.map(_._3).toSeq == a.map(_._3).sortBy(-_).toSeq)
  }
}

package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  test("cosine: bounds, self-similarity, orthogonality") {
    val df = Seq(
      (1L, Seq(1.0, 0.0), Seq(1.0, 0.0)),   // identical → 1
      (2L, Seq(1.0, 0.0), Seq(0.0, 1.0)),   // orthogonal → 0
      (3L, Seq(1.0, 2.0), Seq(-1.0, -2.0))  // opposite → -1
    ).toDF("id", "a", "b")
      .select($"id", Similarity.cosine($"a", $"b").as("cos"))
    val m = df.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(math.abs(m(1L) - 1.0) < 1e-12)
    assert(math.abs(m(2L)) < 1e-12)
    assert(math.abs(m(3L) + 1.0) < 1e-12)
  }

  test("M3: cosineTopK excludes self, caps at k, scores in [-1,1], ranked") {
    val emb = Sources.table(spark, sf("sf0.001"), "embeddings")
    val res = Similarity.cosineTopK(emb, emb.filter($"vec_id" < 3), 5)
    val rows = res.collect()
    assert(rows.forall(r => r.getLong(1) != r.getLong(0)))          // P3 self excluded
    assert(rows.forall(r => r.getDouble(2) >= -1.0 - 1e-9 &&
      r.getDouble(2) <= 1.0 + 1e-9))
    val perProbe = rows.groupBy(_.getLong(0))
    assert(perProbe.forall(_._2.length == 5))                       // P6 cap
    perProbe.values.foreach { g =>
      val sorted = g.sortBy(_.getInt(3))
      assert(sorted.map(_.getDouble(2)).sliding(2).forall {
        case Array(a, b) => b <= a + 1e-12; case _ => true })       // rank order
    }
  }

  test("M3: coPurchaseTopK salts knob is identity-preserving (skew lever)") {
    // pair stream with one hot (target, context) pair and ties that
    // exercise the (cnt DESC, context ASC) tiebreak
    val rnd = new scala.util.Random(11)
    val pairs = Seq.tabulate(300) { i =>
      if (i % 3 == 0) (i.toLong, 1L, 2L)                 // hot pair
      else (i.toLong, rnd.nextInt(5).toLong, rnd.nextInt(9).toLong)
    }.toDF("order_id", "target", "context")
    val direct = Similarity.coPurchaseTopK(pairs, 3)
      .orderBy("target", "rnk").collect().toSeq
    for (s <- Seq(2, 7)) {
      val salted = Similarity.coPurchaseTopK(pairs, 3, salts = s)
        .orderBy("target", "rnk").collect().toSeq
      assert(salted == direct, s"salts=$s")
    }
  }

  test("M6: bestRow picks global minimum") {
    val df = Seq(("a", 3.0), ("b", 1.0), ("c", 2.0)).toDF("job", "objective")
    assert(Similarity.bestRow(df, "objective").head().getString(0) == "b")
  }

  test("M7: withIteration assigns dense 1..n in order") {
    val df = Seq(("a", 30L), ("b", 10L), ("c", 20L)).toDF("job", "start")
    val it = Similarity.withIteration(df, "start")
      .orderBy("iteration").collect()
    assert(it.map(_.getInt(2)).toSeq == Seq(1, 2, 3))
    assert(it.map(_.getString(0)).toSeq == Seq("b", "c", "a"))
  }

  test("A7: neighborReport concatenates in rank order") {
    val df = Seq((1L, "x", 2L), (1L, "y", 1L), (2L, "z", 1L))
      .toDF("target", "name", "rnk")
    val m = Similarity.neighborReport(df).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(m(1L) == "y; x")
    assert(m(2L) == "z")
  }

  test("tfidfCosinePairs: rare shared terms dominate; zero-idf docs drop") {
    // "the" is in all 4 docs (idf 0); "rare"/"gem" only in docs 1,2.
    // Docs 1-2 share the rare mass -> cosine 1; doc 3 shares only
    // zero-weight terms with them; doc 4 is all-stopword -> zero vector
    val docs = Seq(
      (1L, "the rare gem"),
      (2L, "the rare gem"),
      (3L, "the common words"),
      (4L, "the the the")
    ).toDF("doc_id", "text")
    val pairs = Similarity.tfidfCosinePairs(docs, "doc_id", "text", 0.1, 100L)
      .as[(Long, Long, Double)].collect()
      .map(p => (p._1, p._2) -> p._3).toMap
    assert(pairs.keySet == Set((1L, 2L)))
    assert(pairs((1L, 2L)) == 1.0)
    // tau above the pair's cosine -> empty
    assert(Similarity.tfidfCosinePairs(docs, "doc_id", "text", 1.1, 100L)
      .count() == 0)
    // pruning the rare terms (maxDf = 1 excludes df=2 terms) removes
    // the only scoring evidence -> no pairs survive
    assert(Similarity.tfidfCosinePairs(docs, "doc_id", "text", 0.1, 1L)
      .count() == 0)
  }

  test("truncateEmbeddings: keeps exactly the first dims coords; a " +
      "truncation-demoted neighbor shows up as lost recall (q150's report)") {
    val emb = Seq(
      (0L, Seq(1.0f, 0.0f, 0.0f, 0.0f)),
      // cos with probe ~0.11 at dim 4 (dominated by the tail), 1.0 at dim 2
      (1L, Seq(1.0f, 0.0f, 9.0f, 0.0f)),
      // cos with probe ~0.994 at every prefix — the true full-dim top-1
      (2L, Seq(0.9f, 0.1f, 0.0f, 0.0f))
    ).toDF("vec_id", "embedding")
    val t2 = Similarity.truncateEmbeddings(emb, 2)
    val rows = t2.collect().map(r =>
      r.getLong(0) -> r.getSeq[Float](1)).toMap
    assert(rows.values.forall(_.length == 2))
    assert(rows(1L) == Seq(1.0f, 0.0f))
    // full-dim exact top-1 is vec 2; the dim-2 prefix ranks vec 1 first
    val probes = emb.filter($"vec_id" === 0L)
    val exact = Similarity.cosineTopK(emb, probes, 1)
    val approx = Similarity.cosineTopK(t2,
      Similarity.truncateEmbeddings(probes, 2), 1)
    assert(exact.collect().head.getLong(1) == 2L)
    assert(approx.collect().head.getLong(1) == 1L)
    val rec = Ann.recallReport(approx, exact).collect().head
    assert(rec.getLong(1) == 1L && rec.getLong(2) == 0L &&
      rec.getDouble(3) == 0.0)
    // the guard rail
    intercept[IllegalArgumentException] {
      Similarity.truncateEmbeddings(emb, 0)
    }
  }

  test("matryoshkaCurve: one pass sweeps every prefix; the demoted " +
      "neighbor shows as recall 0 at dims 2 and 1 at the full dims") {
    val emb = Seq(
      (0L, Seq(1.0f, 0.0f, 0.0f, 0.0f)),
      (1L, Seq(1.0f, 0.0f, 9.0f, 0.0f)),  // dims-2 winner, full-dim loser
      (2L, Seq(0.9f, 0.1f, 0.0f, 0.0f))   // true full-dim top-1
    ).toDF("vec_id", "embedding")
    val curve = Similarity.matryoshkaCurve(emb,
        emb.filter($"vec_id" === 0L), Seq(2, 4), 1)
      .collect()
      .map(r => r.getLong(0) ->
        (r.getLong(2), r.getLong(3), r.getDouble(4))).toMap
    assert(curve.keySet == Set(2L, 4L))
    assert(curve(2L) == ((1L, 0L, 0.0)))  // prefix index missed the truth
    assert(curve(4L) == ((1L, 1L, 1.0)))  // the reference recalls itself
    // the reference set must be the LAST dims entry — unsorted rejected
    intercept[IllegalArgumentException] {
      Similarity.matryoshkaCurve(emb, emb, Seq(4, 2), 1)
    }
  }

  test("randomProject: deterministic ±1 signs; projection equals the " +
      "manual signed sum; zero vectors stay zero") {
    val emb = Seq((1L, Seq(1.0f, 2.0f, 3.0f)), (2L, Seq(0.0f, 0.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    val p = Similarity.randomProject(emb, 4).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    assert(p.values.forall(_.length == 4))
    // re-derive the signs exactly as the operator does
    import org.apache.spark.unsafe.types.UTF8String
    val signs = (0 until 4).map { j =>
      (1 to 3).map { i =>
        val h = graft.functions.Hash60.compute(Array(
          UTF8String.fromString("jl" + j),
          UTF8String.fromString(i.toString)))
        if (h / Portable.TwoPow60 < 0.5) -1.0 else 1.0
      }
    }
    val x = Seq(1.0, 2.0, 3.0)
    val expected = signs.map(w =>
      w.zip(x).map { case (a, b) => a * b }.sum.toFloat)
    assert(p(1L) == expected)
    assert(p(2L).forall(_ == 0f))
    intercept[IllegalArgumentException] {
      Similarity.randomProject(emb, 0)
    }
  }

  test("meanPoolEmbeddings: exact per-dim means; duplicate members weigh " +
      "per occurrence; unmatched members drop the inner-join way") {
    val emb = Seq(
      (10L, Seq(1.0f, 3.0f)),
      (11L, Seq(3.0f, 5.0f)),
      (12L, Seq(0.0f, 1.0f))
    ).toDF("vec_id", "embedding")
    val mem = Seq(
      (1L, 10L), (1L, 11L),           // plain 2-member mean
      (2L, 10L), (2L, 10L), (2L, 12L),// duplicate member counts twice
      (3L, 99L)                       // member absent from the table
    ).toDF("gid", "vid")
    val pooled = Similarity.meanPoolEmbeddings(mem, "gid", "vid", emb)
      .collect().map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    assert(pooled(1L) == Seq(2.0f, 4.0f))
    // 2/3, 7/3 through the op's exact arithmetic (integerize at 1e9,
    // exact sum, two IEEE divisions, float32 narrowing — the width
    // that keeps downstream cosines 9-dp oracle-matchable)
    assert(pooled(2L) == Seq((2e9 / 3 / 1e9).toFloat, (7e9 / 3 / 1e9).toFloat))
    assert(!pooled.contains(3L))
    // group vectors are full-width and ready for cosineTopK (q153's
    // oracle proves the composition end-to-end)
    assert(pooled.values.forall(_.length == 2))
  }

  test("marginMine: output is a partial matching, planted translation " +
      "pair is mined, and a hub's raw-cosine wins are margin-suppressed") {
    def emb(rows: (Long, Seq[Float])*) =
      rows.toDF("vec_id", "embedding")
    // X: 3 spread-out unit-ish vectors; Y: exact copies of two of them
    // (planted aligned pairs) plus a HUB — the normalized mean of all
    // X, fairly close to everything but the best match of nothing.
    val x = emb(
      1L -> Seq(1f, 0f, 0f, 0f),
      2L -> Seq(0f, 1f, 0f, 0f),
      3L -> Seq(0.1f, 0.1f, 1f, 0f))
    val hub = Seq(0.6f, 0.6f, 0.55f, 0f)
    val y = emb(
      11L -> Seq(1f, 0.05f, 0f, 0f),
      12L -> Seq(0.05f, 1f, 0f, 0f),
      14L -> Seq(0.1f, 0.15f, 1f, 0f),
      13L -> hub)
    val mined = Similarity.marginMine(x, y, k = 2, tau = 1.0)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // planted pairs mined; the hub pairs with nothing (every x prefers
    // its aligned partner once neighborhood density divides out)
    assert(mined.contains((1L, 11L)) && mined.contains((2L, 12L)))
    assert(!mined.exists(_._2 == 13L))
    // partial matching: no endpoint appears twice
    val full = Similarity.marginMine(x, y, k = 2, tau = 0.0).collect()
    assert(full.map(_.getLong(0)).distinct.length == full.length)
    assert(full.map(_.getLong(1)).distinct.length == full.length)
    // mutual-best is symmetric: swapping sides mirrors the pair set
    val swapped = Similarity.marginMine(y, x, k = 2, tau = 0.0)
      .collect().map(r => (r.getLong(1), r.getLong(0))).toSet
    assert(swapped == full.map(r => (r.getLong(0), r.getLong(1))).toSet)
    // margins respect the tau gate
    assert(Similarity.marginMine(x, y, k = 2, tau = 1.0)
      .collect().forall(_.getDouble(3) >= 1.0))
  }

  test("marginMineBucketed: an exactly-aligned pair shares every SRP " +
      "bucket (same vector, same code), so it is always a candidate " +
      "and survives; output stays a partial matching") {
    def emb(rows: (Long, Seq[Float])*) =
      rows.toDF("vec_id", "embedding")
    val a = Seq(1f, 0f, 0.2f, 0f)
    val b = Seq(0f, 1f, 0f, 0.2f)
    val x = emb(1L -> a, 2L -> b, 3L -> Seq(0.3f, 0.3f, 1f, 0f))
    val y = emb(11L -> a, 12L -> b, 13L -> Seq(0.5f, 0.5f, 0.4f, 0.1f))
    for (planes <- Seq(1, 2, 4)) {
      val mined = Similarity
        .marginMineBucketed(x, y, k = 2, tau = 1.0, planes = planes)
        .collect()
      val pairs = mined.map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(pairs.contains((1L, 11L)) && pairs.contains((2L, 12L)),
        s"planes=$planes mined=$pairs")
      assert(mined.map(_.getLong(0)).distinct.length == mined.length)
      assert(mined.map(_.getLong(1)).distinct.length == mined.length)
    }
  }
}

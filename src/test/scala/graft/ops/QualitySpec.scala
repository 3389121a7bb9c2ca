package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions.col

/** Mirrors the reference's hard-fail gates the pipeline runs (Q1, Q3,
  * Q5 of `data_quality_checks.py:7-133`) on quality_bad-style fixtures. */
class QualitySpec extends SparkSpec {
  import spark.implicits._

  private lazy val good = Seq((1L, "a"), (2L, "b"), (3L, "c"))
    .toDF("product_id", "product_name")
  private lazy val withNull = Seq((Some(1L), "a"), (None, "b"))
    .toDF("product_id", "product_name")
  private lazy val dupKey = Seq((1L, "a"), (1L, "b"), (2L, "c"))
    .toDF("product_id", "product_name")

  test("Q1 checkNoNulls passes on clean, fails on null") {
    Quality.checkNoNulls(good, "product_id")
    val e = intercept[Quality.QualityError](
      Quality.checkNoNulls(withNull, "product_id"))
    assert(e.getMessage.contains("product_id"))
  }

  test("Q1 checkNoNulls over several columns names the first failing one") {
    val df = Seq((1L, Some(10L)), (2L, None), (3L, None))
      .toDF("l_orderkey", "l_partkey")
    Quality.checkNoNulls(df, "l_orderkey")
    val e = intercept[Quality.QualityError](
      Quality.checkNoNulls(df, "l_orderkey", "l_partkey"))
    assert(e.getMessage == "column l_partkey has 2 null values")
    Quality.checkNoNulls(df.filter(col("l_partkey").isNotNull),
      "l_orderkey", "l_partkey")
    // both columns fail: argument order decides which one is named
    val both = Seq((Option.empty[Long], Option.empty[Long])).toDF("a", "b")
    assert(intercept[Quality.QualityError](Quality.checkNoNulls(both, "b", "a"))
      .getMessage == "column b has 1 null values")
  }

  test("Q3 checkColumnCount: metadata-only arity gate") {
    Quality.checkColumnCount(good, 2)
    intercept[Quality.QualityError](Quality.checkColumnCount(good, 4))
  }

  test("Q5 checkPrimaryKey: catches duplicate keys pandas to_dict collapses") {
    Quality.checkPrimaryKey(good, "product_id")
    intercept[Quality.QualityError](Quality.checkPrimaryKey(dupKey, "product_id"))
  }

  test("report: one-pass null profile") {
    val r = Quality.report(withNull).collect()(0)
    assert(r.getAs[Long]("n_rows") === 2L)
    assert(r.getAs[Long]("nulls_product_id") === 1L)
    assert(r.getAs[Long]("nulls_product_name") === 0L)
  }

  test("fixture gates: lineitem/part pass the reference-shaped checks") {
    val li = Sources.table(spark, sf("sf0.001"), "lineitem")
    val part = Sources.table(spark, sf("sf0.001"), "part")
    Quality.checkNoNulls(li, "l_orderkey")
    Quality.checkColumnCount(li, 11)
    Quality.checkPrimaryKey(part, "p_partkey")
  }

  test("corpusReport: per-(source, lang) rollup agrees with per-doc scores") {
    import spark.implicits._
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again today", "s1", "en"),
      (2L, "a b", "s1", "en"),
      (3L, "der hund und die katze und das haus ist hier gross", "s2", "de")
    ).toDF("doc_id", "text", "source", "lang")
    val rep = Quality.corpusReport(docs, "source", "lang", "text")
      .as[(String, String, Long, Long, Double, Double, Double, Double)]
      .collect().map(r => (r._1, r._2) -> r).toMap
    assert(rep.keySet == Set(("s1", "en"), ("s2", "de")))
    val q = Text.qualityScore(docs, "text")
      .select("doc_id", "quality_score").as[(Long, Double)].collect().toMap
    val s1 = rep(("s1", "en"))
    assert(s1._3 == 2L && s1._4 == 13L)      // 11 + 2 tokens
    def rnd(x: Double) = BigDecimal(x)
      .setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(s1._6 == rnd((q(1L) + q(2L)) / 2))
    assert(s1._7 == math.min(q(1L), q(2L)) && s1._8 == math.max(q(1L), q(2L)))
    // single-doc cell: mean == min == max
    val s2 = rep(("s2", "de"))
    assert(s2._6 == q(3L) && s2._7 == q(3L) && s2._8 == q(3L))
  }

  test("corpusFingerprint: order/partition-invariant; any changed doc flips the stamp") {
    import spark.implicits._
    val docs = Sources.table(spark, sf("sf0.001"), "documents")
    val a = Quality.corpusFingerprint(docs, "doc_id", "text").head()
    // invariance: reversed order, different partitioning — same stamp
    val b = Quality.corpusFingerprint(
      docs.orderBy(org.apache.spark.sql.functions.desc("doc_id"))
        .repartition(7), "doc_id", "text").head()
    assert(a == b)
    // sensitivity: one flipped character changes the hash, not the count
    val mutated = docs.withColumn("text",
      org.apache.spark.sql.functions.when($"doc_id" === 0L,
        org.apache.spark.sql.functions.concat($"text",
          org.apache.spark.sql.functions.lit("x")))
        .otherwise($"text"))
    val c = Quality.corpusFingerprint(mutated, "doc_id", "text").head()
    assert(c.getLong(0) == a.getLong(0))
    assert(c.getLong(2) != a.getLong(2))
  }

  test("embeddingChecks: planted null/NaN/zero/ragged/dup defects all counted") {
    import spark.implicits._
    val vecs = Seq(
      (1L, Seq(1.0f, 2.0f, 3.0f)),               // healthy
      (2L, Seq(0.0f, 0.0f, 0.0f)),               // zero vector
      (3L, Seq(1.0f, Float.NaN, 2.0f)),          // NaN
      (4L, Seq(1.0f, 2.0f)),                     // ragged dim
      (4L, Seq(2.0f, 3.0f, 4.0f)),               // duplicate id
      (5L, null.asInstanceOf[Seq[Float]])        // null vector
    ).toDF("vec_id", "embedding")
    val r = Quality.embeddingChecks(vecs, "vec_id", "embedding").head()
    assert(r.getLong(0) == 6)  // n_rows
    assert(r.getLong(1) == 5)  // n_distinct_ids (4 duplicated)
    assert(r.getLong(2) == 1)  // n_null_vec
    assert(r.getLong(3) == 2)  // dims {2, 3}
    assert(r.getLong(4) == 2 && r.getLong(5) == 3) // dim range
    assert(r.getLong(6) == 1)  // NaN vector
    assert(r.getLong(7) == 1)  // zero vector
    // a healthy table: every defect counter zero, one dim
    val ok = Quality.embeddingChecks(
      Sources.table(spark, sf("sf0.001"), "embeddings"),
      "vec_id", "embedding").head()
    assert(ok.getLong(0) == ok.getLong(1))
    assert(ok.getLong(2) == 0 && ok.getLong(3) == 1)
    assert(ok.getLong(6) == 0 && ok.getLong(7) == 0)
  }

  test("keySkew: shares exact; quantized entropy matches the closed form") {
    import org.apache.spark.sql.functions._
    val d = Seq("a", "a", "a", "a", "b", "c").toDF("k")
    val r = Quality.keySkew(d, "k").head()
    assert(r.getLong(0) == 6L && r.getLong(1) == 3L && r.getLong(2) == 4L)
    assert(math.abs(r.getDouble(3) - 4.0 / 6) < 1e-9)
    assert(r.getLong(4) == 6L && r.getDouble(5) == 1.0)
    // H = ln 6 − (4·x)/(6·1e6), x = floor(ln 4 · 1e6 + ½)
    val x = math.floor(math.log(4.0) * 1e6 + 0.5)
    val h = math.log(6.0) - 4 * x / (6 * 1e6)
    assert(math.abs(r.getDouble(6) - h) < 1e-8)
    // uniform keys: entropy ≈ ln(n_keys), max share = 1/n
    val u = Quality.keySkew(Seq("x", "y", "z").toDF("k"), "k").head()
    assert(math.abs(u.getDouble(6) - math.log(3.0)) < 1e-5)
    assert(math.abs(u.getDouble(3) - 1.0 / 3) < 1e-9)
  }

  test("autoSalts: skewed keys choose >1 salt, uniform keys choose 1, " +
      "choice never changes the counts") {
    import org.apache.spark.sql.functions._
    // one key holds 60/66 rows: share ≈ 0.909 → ceil(.909 × 8) = 8 salts
    val hot = ((1 to 60).map(i => ("hot", s"x$i")) ++
      (1 to 6).map(i => (s"k$i", s"y$i"))).toDF("target", "context")
    val sHot = Quality.autoSalts(hot, Seq("target", "context"), 8)
    // composite key: ("hot", x_i) are 60 DISTINCT keys → max share is
    // tiny → 1 salt; keyed on target alone the hot key dominates
    assert(sHot == 1)
    val sTgt = Quality.autoSalts(hot, Seq("target"), 8)
    assert(sTgt == 8)
    // middling skew picks a middling salt count
    val mid = ((1 to 30).map(_ => ("h", "c")) ++
      (1 to 30).map(i => (s"k$i", s"c$i"))).toDF("target", "context")
    val sMid = Quality.autoSalts(mid, Seq("target", "context"), 8)
    assert(sMid == 4)   // share 0.5 × 8 = 4
    // uniform: every key 1/n → 1 salt
    val uni = (1 to 32).map(i => (s"t$i", s"c$i")).toDF("target", "context")
    assert(Quality.autoSalts(uni, Seq("target", "context"), 8) == 1)
    // the law that makes an estimated choice safe: identical counts at
    // every salt count (here: the auto-chosen vs 1 vs parallelism)
    val ids = Seq(col("target"), col("context"))
    def counts(n: Int) = Pairs.saltedCounts(mid, Seq("target", "context"),
      ids, n).orderBy("target", "context").collect().toSeq
    assert(counts(sMid) == counts(1) && counts(sMid) == counts(8))
    // empty frame → 1 (no probe row, plain partitioning)
    assert(Quality.autoSalts(hot.limit(0), Seq("target"), 8) == 1)
  }

  test("signalCorrelation: perfect/anti/none/degenerate cases; null rows drop") {
    import org.apache.spark.sql.functions._
    val d = Seq(
      (1L, 10L, 20L, -10L, 7L), (2L, 20L, 40L, -20L, 7L),
      (3L, 30L, 60L, -30L, 7L), (4L, 40L, 80L, -40L, 7L)
    ).toDF("id", "a", "b", "c", "d")
      // a 5th row with a NULL signal must not poison the moments
      .unionByName(Seq((5L, 99L, 0L, 0L, 0L)).toDF("id", "a", "b", "c", "d")
        .withColumn("b", lit(null: java.lang.Long)))
    val r = Quality.signalCorrelation(d, Seq("a", "b", "c", "d"))
      .collect().map(x => (x.getString(0), x.getString(1)) -> x).toMap
    assert(r.values.forall(_.getLong(2) == 4L))
    assert(r(("a", "b")).getDouble(3) == 1.0)   // b = 2a
    assert(r(("a", "c")).getDouble(3) == -1.0)  // c = -a
    assert(r(("a", "d")).isNullAt(3))           // d constant: no variance
    assert(r(("b", "c")).getDouble(3) == -1.0)
  }

  test("gateOverlap: combination counts, failure tally, null fails closed") {
    import org.apache.spark.sql.functions._
    val d = Seq(
      (1L, "en", 5L), (2L, "en", 50L), (3L, "de", 50L),
      (4L, "en", 50L), (5L, "de", 5L)
    ).toDF("id", "lang", "n")
      .withColumn("m", when(col("id") === 5L, lit(null: String))
        .otherwise(col("lang")))
    val r = Quality.gateOverlap(d, Seq(
        "lang_ok" -> (col("m") === "en"),
        "len_ok" -> (col("n") >= 10L)))
      .collect()
      .map(x => (Option(x.get(0)), Option(x.get(1))) ->
        (x.getLong(2), x.getLong(3))).toMap
    // (en,5)→(T,F); (en,50)×2→(T,T); (de,50)→(F,T); (de-null,5)→(null,F)
    assert(r((Some(true), Some(true))) == ((2L, 0L)))
    assert(r((Some(true), Some(false))) == ((1L, 1L)))
    assert(r((Some(false), Some(true))) == ((1L, 1L)))
    // null gate counts as failed, never as passed
    assert(r((None, Some(false))) == ((1L, 2L)))
    assert(r.values.map(_._1).sum == 5L)
  }

  test("corpusDiff: four statuses classify by content; NULL text marks " +
      "changed/unchanged presence, never absence") {
    import org.apache.spark.sql.functions._
    val oldDf = Seq(
      (1L, Option("a b")),        // unchanged
      (2L, Option("c")),          // changed (text rewritten)
      (3L, Option("d e f")),      // removed
      (4L, Option.empty[String]), // NULL -> text: changed, NOT added
      (5L, Option.empty[String]), // NULL both sides: unchanged
      (7L, Option("g h"))         // text -> NULL: changed, NOT removed
    ).toDF("doc_id", "text")
    val newDf = Seq(
      (1L, Option("a b")),
      (2L, Option("c x")),
      (4L, Option("now present")),
      (5L, Option.empty[String]),
      (6L, Option("i j k")),      // added
      (7L, Option.empty[String])
    ).toDF("doc_id", "text")
    val r = Quality.corpusDiff(oldDf, newDf, "doc_id", "text")
      .collect()
      .map(x => x.getString(0) ->
        (x.getLong(1), x.getLong(2), x.getLong(3), x.getLong(4))).toMap
    assert(r("unchanged")._1 == 2L) // ids 1, 5 (null == null is unchanged)
    assert(r("changed")._1 == 3L)   // ids 2, 4, 7
    assert(r("removed")._1 == 1L)   // id 3
    assert(r("added")._1 == 1L)     // id 6
    // token masses: NULL text contributes nothing, not a crash
    assert(r("removed") == ((1L, 3L, 0L, -3L)))
    assert(r("added") == ((1L, 0L, 3L, 3L)))
    assert(r("changed") == ((3L, 3L, 4L, 1L))) // "c"+"g h" -> "c x"+"now present"
  }

  test("ksDrift: hand-computed supremum over merged distinct values; " +
      "0 on identical samples; 1 on disjoint supports") {
    val a = Seq(1.0, 1.0, 2.0, 3.0).map(Tuple1(_)).toDF("s")
    val b = Seq(2.0, 3.0, 3.0).map(Tuple1(_)).toDF("s")
    val got = Quality.ksDrift(a, b, "s")
      .as[(Long, Long, Double, Long, Double)].collect().head
    // cdf_a = (2,3,4), cdf_b = (0,1,3) at v = 1,2,3:
    // gaps |ca*3 - cb*4| = 6, 5, 0 -> sup 6 at v=1, D = 6/12
    assert(got == ((4L, 3L, 1.0, 6L, 0.5)))
    val same = Quality.ksDrift(a, a, "s")
      .as[(Long, Long, Double, Long, Double)].collect().head
    assert(same._4 == 0L && same._5 == 0.0)
    val dis = Quality.ksDrift(
      Seq(1.0, 2.0).map(Tuple1(_)).toDF("s"),
      Seq(5.0, 6.0).map(Tuple1(_)).toDF("s"), "s")
      .as[(Long, Long, Double, Long, Double)].collect().head
    assert(dis._5 == 1.0 && dis._3 == 2.0,
      "disjoint supports peak at a's max value")
    // partitioning invariance (exact integers throughout)
    val rep = Quality.ksDrift(a.repartition(5), b.repartition(3), "s")
      .as[(Long, Long, Double, Long, Double)].collect().head
    assert(rep == got)
  }

  test("mannWhitney: hand-computed U and z; all-tied variance is NULL; " +
      "U_a + U_b = n_a*n_b (symmetry law)") {
    def mw(a: Seq[Double], b: Seq[Double]) =
      Quality.mannWhitney(a.map(Tuple1(_)).toDF("s"),
        b.map(Tuple1(_)).toDF("s"), "s")
        .as[(Long, Long, Long, Double, Option[Double])].collect().head
    val r = mw(Seq(1.0, 2.0), Seq(3.0, 4.0))
    // a entirely below b: U_a = 0; z = (-4/2)/sqrt(2*2*5/12)
    val z = BigDecimal(-2.0 / math.sqrt(20.0 / 12.0))
      .setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(r == ((2L, 2L, 0L, 0.0, Some(z))))
    val tied = mw(Seq(1.0, 1.0), Seq(1.0, 1.0))
    // full tie: U_a = n_a*n_b/2 exactly, variance 0 -> NULL z
    assert(tied == ((2L, 2L, 4L, 2.0, None)))
    val x = Seq(1.0, 2.0, 2.0, 5.0); val y = Seq(2.0, 3.0, 7.0)
    val (ab, ba) = (mw(x, y), mw(y, x))
    assert(ab._3 + ba._3 == 2L * 4L * 3L, "2U_a + 2U_b = 2 n_a n_b")
    assert(ab._5.get == -ba._5.get, "z antisymmetric under swap")
  }

  test("kAnonymity: group sizes, violation mass and l-diversity by " +
      "hand — the homogeneous big group is k-safe but l = 1") {
    val df = (Seq.fill(6)((1L, 10L, "x")) ++
      Seq((2L, 10L, "x"), (2L, 10L, "y"), (2L, 10L, "y")))
      .toDF("nation", "bucket", "seg")
    val r = Quality.kAnonymity(df, Seq("nation", "bucket"), "seg", 5L)
      .as[(Long, Long, Long, Long, Long, Double, Long)].collect().head
    // group (1,10): 6 rows, 1 segment; group (2,10): 3 rows, 2 segments
    assert(r == ((9L, 2L, 3L, 1L, 3L, 0.333333333, 1L)))
  }

  test("leaveOneOut: ablation algebra by hand — removing the drag " +
      "group raises the mean") {
    val df = Seq(("A", 1.0), ("A", 1.0), ("B", 4.0)).toDF("g", "s")
    val got = Quality.leaveOneOut(df, "g", "s")
      .as[(String, Long, Double, Option[Double], Option[Double])]
      .collect().map(r => r._1 -> r).toMap
    assert(got("A") == (("A", 2L, 1.0, Some(4.0), Some(2.0))))
    assert(got("B") == (("B", 1L, 4.0, Some(1.0), Some(-1.0))))
    // a single-group frame ablates to nothing
    val one = Quality.leaveOneOut(
      Seq(("X", 1.0), ("X", 2.0)).toDF("g", "s"), "g", "s")
      .as[(String, Long, Double, Option[Double], Option[Double])]
      .collect().head
    assert(one._4.isEmpty && one._5.isEmpty)
  }

  test("trimmedMean: hand case; one extreme row cannot move the " +
      "10%-trimmed mean") {
    val clean = (1 to 10).map(i => ("g", i.toDouble)).toDF("g", "s")
    val tm = Quality.trimmedMean(clean, "g", "s", 1L, 10L)
      .as[(String, Long, Long, Option[Double])].collect().head
    // keep ranks 2..9 -> mean of 2..9 = 5.5
    assert(tm == (("g", 10L, 8L, Some(5.5))))
    val poisoned = ((1 to 9).map(i => ("g", i.toDouble)) :+
      (("g", 1000000.0))).toDF("g", "s")
    val tp = Quality.trimmedMean(poisoned, "g", "s", 1L, 10L)
      .as[(String, Long, Long, Option[Double])].collect().head
    assert(tp._4.contains(5.5), s"trim must drop the poison row: $tp")
  }

  test("madOutliers: exact lower medians; heavy tail flagged; " +
      "MAD-zero degenerate band flags any deviation") {
    val df = Seq(1.0, 2.0, 3.0, 4.0, 100.0).map(("g", _)).toDF("g", "s")
    val r = Quality.madOutliers(df, "g", "s", 3)
      .as[(String, Long, Double, Double, Long)].collect().head
    // median 3; deviations 2,1,0,1,97 -> MAD 1; only 97 > 3
    assert(r == (("g", 5L, 3.0, 1.0, 1L)))
    val deg = Seq(5.0, 5.0, 5.0, 7.0).map(("g", _)).toDF("g", "s")
    val d = Quality.madOutliers(deg, "g", "s", 3)
      .as[(String, Long, Double, Double, Long)].collect().head
    assert(d == (("g", 4L, 5.0, 0.0, 1L)))
  }

  test("auc: 1.0 on perfect separation, 0.0 reversed, 0.5 on " +
      "all-ties; matches the pairwise-comparison definition") {
    def mk(pos: Seq[Double], neg: Seq[Double]) =
      (pos.map((true, _)) ++ neg.map((false, _))).toDF("y", "s")
    def aucOf(pos: Seq[Double], neg: Seq[Double]) =
      Quality.auc(mk(pos, neg), col("y"), "s")
        .select("auc").as[Double].collect().head
    assert(aucOf(Seq(3.0, 4.0), Seq(1.0, 2.0)) == 1.0)
    assert(aucOf(Seq(1.0, 2.0), Seq(3.0, 4.0)) == 0.0)
    assert(aucOf(Seq(5.0, 5.0), Seq(5.0, 5.0, 5.0)) == 0.5)
    // definition check with ties: pairs (p > n) + 0.5 (p = n), / n+n-
    val pos = Seq(1.0, 2.0, 2.0, 4.0); val neg = Seq(1.0, 2.0, 3.0)
    val expect = (for { p <- pos; n <- neg } yield
      if (p > n) 1.0 else if (p == n) 0.5 else 0.0).sum /
      (pos.size * neg.size)
    assert(aucOf(pos, neg) ==
      BigDecimal(expect).setScale(9, BigDecimal.RoundingMode.HALF_UP)
        .toDouble)
  }

  test("psi: zero on identical distributions; positive under shift; " +
      "an empty bin on either side yields NULL") {
    val base = (1 to 100).map(i => Tuple1(i.toDouble)).toDF("s")
    val same = Quality.psi(base, base, "s", 10)
      .as[(Long, Long, Long, Option[Double])].collect().head
    assert(same == ((100L, 100L, 10L, Some(0.0))))
    val shifted = (1 to 100).map(i => Tuple1(i.toDouble + 30.0))
      .toDF("s")
    val sh = Quality.psi(base, shifted, "s", 10)
      .as[(Long, Long, Long, Option[Double])].collect().head
    assert(sh._4.isEmpty || sh._4.get > 0.1,
      s"a 30-point shift must read as drift or an empty-bin NULL: $sh")
    val narrow = Seq.fill(50)(Tuple1(55.0)).toDF("s")
    val nb = Quality.psi(base, narrow, "s", 10)
      .select("psi").as[Option[Double]].collect().head
    assert(nb.isEmpty, "concentrated comparison empties bins -> NULL")
  }

  test("chiSquare: zero on an exactly independent table, one " +
      "(Cramer's V) on a perfectly associated one; dof-0 is NULL") {
    val indep = Seq(("x", "u"), ("x", "v"), ("y", "u"), ("y", "v"))
      .toDF("a", "b")
    val ri = Quality.chiSquare(indep, "a", "b")
      .as[(Long, Long, Long, Long, Option[Double], Option[Double])]
      .collect().head
    assert(ri == ((4L, 2L, 2L, 1L, Some(0.0), Some(0.0))))
    val assoc = Seq(("x", "u"), ("x", "u"), ("y", "v"), ("y", "v"))
      .toDF("a", "b")
    val ra = Quality.chiSquare(assoc, "a", "b")
      .as[(Long, Long, Long, Long, Option[Double], Option[Double])]
      .collect().head
    // 2x2 perfect association: chi2 = N, V = 1
    assert(ra._5.contains(4.0) && ra._6.contains(1.0))
    val flat = Quality.chiSquare(
      Seq(("x", "u"), ("x", "v")).toDF("a", "b"), "a", "b")
      .as[(Long, Long, Long, Long, Option[Double], Option[Double])]
      .collect().head
    assert(flat._4 == 0L && flat._5.isEmpty && flat._6.isEmpty)
  }

  test("ksDriftByGroup: each group's row equals the pairwise ksDrift " +
      "against its complement; single-group corpus yields NULL ks") {
    val df = (Seq(1.0, 1.0, 2.0, 3.0).map(("A", _)) ++
      Seq(2.0, 3.0, 3.0).map(("B", _))).toDF("g", "s")
    val got = Quality.ksDriftByGroup(df, "g", "s")
      .orderBy("g")
      .as[(String, Long, Double, Long, Option[Double])].collect().toSeq
    assert(got == Seq(("A", 4L, 1.0, 6L, Some(0.5)),
      ("B", 3L, 1.0, 6L, Some(0.5))))
    // law on the fixture: every per-group row == the pairwise operator
    val docs = Sources.table(spark, sf("sf0.001"), "documents")
      .select(col("source"), col("n_chars").cast("double").as("s"))
    val board = Quality.ksDriftByGroup(docs, "source", "s")
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getDouble(2), r.getLong(3), r.getDouble(4))))
      .toMap
    for (src <- Seq("src0", "src7", "src19")) {
      val pw = Quality.ksDrift(docs.filter(col("source") === src),
        docs.filter(col("source") =!= src), "s")
        .as[(Long, Long, Double, Long, Double)].collect().head
      assert(board(src) == ((pw._1, pw._3, pw._4, pw._5)),
        s"$src: board ${board(src)} != pairwise $pw")
    }
    val one = Quality.ksDriftByGroup(
      Seq(("X", 1.0), ("X", 2.0)).toDF("g", "s"), "g", "s")
      .select("ks").as[Option[Double]].collect().head
    assert(one.isEmpty)
  }

  test("embeddingDrift: hand-computed per-dim means and delta; poison " +
      "rows excluded; exact across partitionings") {
    val a = Seq((1L, Seq(0.0f, 0.0f)), (2L, Seq(2.0f, 2.0f)),
      (3L, null.asInstanceOf[Seq[Float]]), (4L, Seq(9.0f)))
      .toDF("vec_id", "embedding")
    val b = Seq((5L, Seq(1.0f, 3.0f))).toDF("vec_id", "embedding")
    val got = Quality.embeddingDrift(a, b, "embedding", 2)
      .orderBy("d")
      .as[(Long, Long, Long, Double, Double, Double)].collect().toSeq
    assert(got == Seq(
      (1L, 2L, 1L, 1.0, 1.0, 0.0),
      (2L, 2L, 1L, 1.0, 3.0, 2.0)))
    val emb = Sources.table(spark, sf("sf0.001"), "embeddings")
    val x = Quality.embeddingDrift(emb, emb.repartition(9), "embedding",
      64).collect().map(_.toSeq)
    val y = Quality.embeddingDrift(emb.repartition(5), emb, "embedding",
      64).collect().map(_.toSeq)
    assert(x.toSet == y.toSet && x.length == 64)
    // same corpus on both sides: drift is exactly zero everywhere
    assert(x.forall(_.last.asInstanceOf[Double] == 0.0))
  }

  test("classBalance: uniform labels hit ln(k) entropy, imbalance 1; " +
      "skew shows up in both") {
    val uni = Seq((1L, "A"), (2L, "A"), (3L, "B"), (4L, "B"))
      .toDF("id", "label")
    val gu = Quality.classBalance(uni, "label").orderBy("label")
      .as[(String, Long, Double, Double, Double)].collect().toSeq
    // plogp = floor(round(0.5*ln 0.5, 9)*1e9 + .5) = -346573590 each
    assert(gu == Seq(("A", 2L, 0.5, 0.69314718, 1.0),
      ("B", 2L, 0.5, 0.69314718, 1.0)))
    val skew = Seq.tabulate(8)(i => (i.toLong, if (i < 6) "A" else "B"))
      .toDF("id", "label")
    val gs = Quality.classBalance(skew, "label").orderBy("label")
      .as[(String, Long, Double, Double, Double)].collect().toSeq
    assert(gs.map(_._5) == Seq(3.0, 3.0))
    assert(gs.head._4 < 0.69314718, "skew must lower entropy")
    assert(gs.head._2 == 6L && gs.head._3 == 0.75)
  }

  test("classifierReport: confusion-derived exact rationals; never-" +
      "predicted class has NULL precision; invented class surfaces") {
    val pred = Seq(("A", "A"), ("A", "B"), ("B", "B"), ("B", "B"),
      ("C", "B")).toDF("truth", "pred")
    val got = Quality.classifierReport(pred, "truth", "pred")
      .orderBy("label")
      .as[(String, Long, Long, Long, Long, Option[Double],
        Option[Double], Option[Double])].collect().toSeq
    assert(got == Seq(
      ("A", 2L, 1L, 0L, 1L, Some(1.0), Some(0.5), Some(0.666666667)),
      ("B", 2L, 2L, 2L, 0L, Some(0.5), Some(1.0), Some(0.666666667)),
      ("C", 1L, 0L, 0L, 1L, None, Some(0.0), Some(0.0))))
    // a label the model invents (predicted, never true): fp-only row
    val inv = Quality.classifierReport(
      Seq(("A", "D"), ("A", "A")).toDF("truth", "pred"), "truth", "pred")
      .orderBy("label")
      .as[(String, Long, Long, Long, Long, Option[Double],
        Option[Double], Option[Double])].collect().toSeq
    assert(inv(1) == (("D", 0L, 0L, 1L, 0L, Some(0.0), None, Some(0.0))))
  }

  test("corpusCube: every margin internally consistent — each " +
      "grouping level re-adds to the grand total") {
    val docs = Sources.table(spark, sf("sf0.001"), "documents")
    val got = Quality.corpusCube(docs, Seq("source", "lang"), "text")
      .collect().map(r => (Option(r.getString(0)), Option(r.getString(1)),
        r.getLong(2), r.getLong(3), r.getLong(4)))
    val total = got.filter(_._3 == 3L)
    assert(total.length == 1 && total.head._4 == docs.count())
    for (gid <- Seq(0L, 1L, 2L)) {
      val level = got.filter(_._3 == gid)
      assert(level.map(_._4).sum == total.head._4, s"docs at gid $gid")
      assert(level.map(_._5).sum == total.head._5, s"tokens at gid $gid")
    }
    // grouping_id disambiguates: rolled-up dims are NULL exactly per bit
    assert(got.filter(_._3 == 1L).forall(r => r._1.isDefined && r._2.isEmpty))
    assert(got.filter(_._3 == 2L).forall(r => r._1.isEmpty && r._2.isDefined))
  }

  test("embeddingCovariance: hand-computed 2-dim case; exact integer " +
      "sums; population covariance recovered") {
    val df = Seq(
      (1L, Seq(1.0f, 2.0f)),
      (2L, Seq(3.0f, 4.0f))
    ).toDF("vec_id", "embedding")
    val got = Quality.embeddingCovariance(df, "embedding", dims = 2)
      .orderBy("i", "j")
      .as[(Long, Long, Long, Long, Long, Long, Double)].collect().toSeq
    // integerized at 1e6: x = (1e6, 3e6), y = (2e6, 4e6)
    assert(got == Seq(
      (1L, 1L, 2L, 4000000L, 4000000L, 10000000000000L, 1.0),
      (1L, 2L, 2L, 4000000L, 6000000L, 14000000000000L, 1.0),
      (2L, 2L, 2L, 6000000L, 6000000L, 20000000000000L, 1.0)))
  }

  test("embeddingCovariance: null and mis-sized vectors are excluded; " +
      "bit-identical across partitionings; fixture variances " +
      "non-negative") {
    val emb = Sources.table(spark, sf("sf0.001"), "embeddings")
    val dirty = emb.select(col("vec_id"), col("embedding"))
      .unionByName(Seq((9001L, null.asInstanceOf[Seq[Float]]),
        (9002L, Seq(1.0f, 2.0f)))
        .toDF("vec_id", "embedding"))
    val a = Quality.embeddingCovariance(emb, "embedding", 64)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.toSeq).toMap
    val b = Quality.embeddingCovariance(dirty, "embedding", 64)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.toSeq).toMap
    val c = Quality.embeddingCovariance(emb.repartition(13), "embedding",
        64)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.toSeq).toMap
    assert(a.size == 64 * 65 / 2)
    assert(a == b, "poison rows must not reach the Gramian")
    assert(a == c, "exact LONG accumulation is partitioning-invariant")
    // diagonal entries are variances — non-negative by definition
    (1L to 64L).foreach { i =>
      assert(a((i, i)).last.asInstanceOf[Double] >= 0.0)
    }
  }

  test("wassersteinDrift: identical samples read 0; a pure +d shift " +
      "reads d; hand case matches") {
    val a = Seq(0.1, 0.2, 0.3, 0.4).toDF("s")
    assert(Quality.wassersteinDrift(a, a, "s")
      .select("w1").as[Double].head() == 0.0)
    val b = Seq(0.35, 0.45, 0.55, 0.65).toDF("s") // a + 0.25
    assert(Quality.wassersteinDrift(a, b, "s")
      .select("w1").as[Double].head() == 0.25)
    // A={0,1}, B={1}: |F| = 0.5 on [0,1) -> W1 = 0.5
    val r = Quality.wassersteinDrift(Seq(0.0, 1.0).toDF("s"),
      Seq(1.0).toDF("s"), "s").as[(Long, Long, Long, Double)].head()
    assert(r == ((2L, 1L, 2L, 0.5)))
  }

  test("bootstrapMeanCi: constant scores collapse the CI onto the " +
      "mean; varied scores bracket it; all resamples survive") {
    val const = (1L to 200L).map(i => (i, 0.5)).toDF("id", "s")
    val c = Quality.bootstrapMeanCi(const, "id", "s", 64, "t")
      .as[(Long, Long, Double, Double, Double)].head()
    assert(c == ((200L, 64L, 0.5, 0.5, 0.5)))
    val varied = (1L to 200L).map(i => (i, (i % 10) / 10.0))
      .toDF("id", "s")
    val v = Quality.bootstrapMeanCi(varied, "id", "s", 64, "t")
      .as[(Long, Long, Double, Double, Double)].head()
    assert(v._1 == 200L && v._2 == 64L)
    assert(v._4 <= v._3 && v._3 <= v._5, s"CI [${v._4},${v._5}] " +
      s"should bracket the mean ${v._3}")
    assert(v._5 - v._4 < 0.2, "CI width should be sampling-noise-sized")
  }

  test("bootstrapMeanCi: the Poisson weight table is a valid CDF in " +
      "hash units and mean weight is ~1") {
    assert(Quality.BootstrapCumHash == Quality.BootstrapCumHash.sorted)
    assert(Quality.BootstrapCum9.head == 367879441L) // e^-1 at 9dp
    // truncation folds P(X >= 8) ~ 1.02e-5 into the weight-8 bucket
    assert(Quality.BootstrapCum9.last >= 999980000L)
    // E[w] = sum over thresholds of P(h >= c) = 8 - sum(cum): ~1
    val mean9 = 8L * 1000000000L - Quality.BootstrapCum9.sum
    assert(math.abs(mean9 - 1000000000L) < 100000L,
      s"mean Poisson weight should be ~1, got ${mean9 / 1e9}")
  }

  test("spearman: monotone pairs hit ±1; ties match the closed form; " +
      "constant axis is NULL") {
    val up = Seq((1.0, 10.0), (2.0, 20.0), (3.0, 25.0), (4.0, 90.0))
      .toDF("x", "y")
    assert(Quality.spearman(up, "x", "y")
      .as[(Long, Option[Double])].head() == ((4L, Some(1.0))))
    val down = Seq((1.0, 9.0), (2.0, 7.0), (3.0, 1.0)).toDF("x", "y")
    assert(Quality.spearman(down, "x", "y")
      .as[(Long, Option[Double])].head()._2.contains(-1.0))
    // x = [1,2,2,3], y = [1,2,3,4]: rho = 3/sqrt(10)
    val tied = Seq((1.0, 1.0), (2.0, 2.0), (2.0, 3.0), (3.0, 4.0))
      .toDF("x", "y")
    val rho = Quality.spearman(tied, "x", "y")
      .as[(Long, Option[Double])].head()._2.get
    assert(math.abs(rho - 3.0 / math.sqrt(10.0)) < 1e-9)
    val const = Seq((1.0, 5.0), (2.0, 5.0)).toDF("x", "y")
    assert(Quality.spearman(const, "x", "y")
      .as[(Long, Option[Double])].head()._2.isEmpty)
  }

  test("cohenKappa: perfect agreement 1; independent 2x2 0; " +
      "both-constant NULL") {
    val perfect = Seq(("a", "a"), ("b", "b"), ("a", "a")).toDF("t", "p")
    val k1 = Quality.cohenKappa(perfect, "t", "p")
      .as[(Long, Long, Double, Double, Option[Double])].head()
    assert(k1._2 == 3L && k1._5.contains(1.0))
    val indep = Seq(("a", "a"), ("a", "b"), ("b", "a"), ("b", "b"))
      .toDF("t", "p")
    val k0 = Quality.cohenKappa(indep, "t", "p")
      .as[(Long, Long, Double, Double, Option[Double])].head()
    assert(k0._3 == 0.5 && k0._4 == 0.5 && k0._5.contains(0.0))
    val const = Seq(("a", "a"), ("a", "a")).toDF("t", "p")
    assert(Quality.cohenKappa(const, "t", "p")
      .as[(Long, Long, Double, Double, Option[Double])].head()._5.isEmpty)
  }

  test("mutualInformation: identical columns give MI = H and NMI = 1; " +
      "independent grid gives MI 0") {
    val same = Seq(("a", "a"), ("a", "a"), ("b", "b"), ("b", "b"))
      .toDF("u", "v")
    val r = Quality.mutualInformation(same, "u", "v")
      .as[(Long, Long, Double, Double, Double, Option[Double])].head()
    assert(r._1 == 4L && r._2 == 2L)
    assert(math.abs(r._3 - math.log(2.0)) < 1e-8)
    assert(r._3 == r._4 && r._4 == r._5)
    assert(r._6.contains(1.0))
    val indep = Seq(("a", "x"), ("a", "y"), ("b", "x"), ("b", "y"))
      .toDF("u", "v")
    val r0 = Quality.mutualInformation(indep, "u", "v")
      .as[(Long, Long, Double, Double, Double, Option[Double])].head()
    assert(r0._3 == 0.0 && r0._6.contains(0.0))
  }

  test("benfordAudit: exact digit extraction on cents, all 9 rows, " +
      "shares sum to 1, literal table head is log10(2)") {
    assert(Quality.Benford9.head == 301029996L)
    assert(Quality.Benford9.length == 9)
    val vals = Seq(0.01, 0.19, 999.99, 123.45, 2.50, 0.0, -5.0, 88.8)
      .toDF("v")
    val rows = Quality.benfordAudit(vals, "v").orderBy("digit")
      .as[(Int, Long, Long, Option[Double], Double, Option[Double])]
      .collect()
    assert(rows.length == 9 && rows.map(_._1).toSeq == (1 to 9))
    // 0.0 and -5.0 drop; digits: 1 (0.01), 1 (0.19→19), 9 (99999),
    // 1 (12345), 2 (250), 8 (8880)
    assert(rows.map(_._3).distinct.toSeq == Seq(6L))
    assert(rows.map(_._2).sum == 6L)
    assert(rows(0)._2 == 3L && rows(1)._2 == 1L && rows(7)._2 == 1L &&
      rows(8)._2 == 1L)
    assert(math.abs(rows.flatMap(_._4).sum - 1.0) < 1e-8)
  }

  test("calibrationError: hand-computed ECE/MCE; a perfectly sharp " +
      "calibrated score reads 0") {
    val off = Seq((0.9, true), (0.1, false)).toDF("s", "y")
    val r = Quality.calibrationError(off, "s", col("y"), 10)
      .as[(Long, Long, Option[Double], Double)].head()
    assert(r._1 == 2L && r._2 == 2L)
    assert(r._3.contains(0.1) && r._4 == 0.1)
    // score 1.0 on positives, 0.0 on negatives: zero gap in each bin
    val sharp = Seq((1.0, true), (1.0, true), (0.0, false)).toDF("s", "y")
    val r0 = Quality.calibrationError(sharp, "s", col("y"), 10)
      .as[(Long, Long, Option[Double], Double)].head()
    assert(r0._3.contains(0.0) && r0._4 == 0.0)
  }

  test("mannKendall: strictly increasing series matches the closed " +
      "form; decreasing flips sign; constant series is NULL") {
    val up = (1 to 5).map(i => (i.toLong, i.toDouble)).toDF("t", "v")
    val r = Quality.mannKendall(up, "t", "v")
      .as[(Long, Long, Option[Double])].head()
    assert(r._1 == 5L && r._2 == 10L)
    // z = (10-1)/sqrt(5*4*15/18) = 9/4.082482905 = 2.2045407685
    assert(r._3.contains(2.204540769))
    val down = (1 to 5).map(i => (i.toLong, -i.toDouble)).toDF("t", "v")
    assert(Quality.mannKendall(down, "t", "v")
      .as[(Long, Long, Option[Double])].head()._3.contains(-2.204540769))
    val const = (1 to 5).map(i => (i.toLong, 7.0)).toDF("t", "v")
    assert(Quality.mannKendall(const, "t", "v")
      .as[(Long, Long, Option[Double])].head()._3.isEmpty)
  }

  test("corpusReportState/Merge/Finish: merge equals rebuild on any " +
      "split; an empty batch is the identity") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog", "s1", "en"),
      (2L, "a b", "s1", "en"),
      (3L, "der hund und die katze und das haus", "s2", "de"),
      (4L, "the cat sat on the mat again and again today", "s2", "en")
    ).toDF("doc_id", "text", "source", "lang")
    def card(df: org.apache.spark.sql.DataFrame) =
      Quality.corpusReportFinish(
        Quality.corpusReportState(df, "source", "lang", "text"))
        .orderBy("source", "lang").collect().toSeq
    val rebuild = card(docs)
    val merged = Quality.corpusReportFinish(Quality.corpusReportMerge(
        Quality.corpusReportState(docs.filter($"doc_id" <= 2),
          "source", "lang", "text"),
        docs.filter($"doc_id" > 2), "source", "lang", "text"))
      .orderBy("source", "lang").collect().toSeq
    assert(merged == rebuild)
    val idEmpty = Quality.corpusReportFinish(Quality.corpusReportMerge(
        Quality.corpusReportState(docs, "source", "lang", "text"),
        docs.filter($"doc_id" < 0), "source", "lang", "text"))
      .orderBy("source", "lang").collect().toSeq
    assert(idEmpty == rebuild)
  }

  test("joinFanout: exact pair count and the hottest key; disjoint " +
      "key sets price to zero") {
    val a = Seq("x", "x", "x", "y", "z").toDF("k")
    val b = Seq("x", "x", "y", "y", "w").toDF("k")
    val r = Quality.joinFanout(a, "k", b, "k")
      .as[(Long, Long, Long, Long, Long, Long, Long, String)].head()
    // common: x (3*2=6), y (1*2=2) -> est 8; hottest x
    assert(r == ((3L, 3L, 2L, 5L, 5L, 8L, 6L, "x")))
    val none = Quality.joinFanout(a, "k", Seq("q").toDF("k"), "k")
      .as[(Long, Long, Long, Long, Long, Long, Option[Long],
        Option[String])].head()
    assert(none._3 == 0L && none._6 == 0L)
  }

  test("embeddingAnisotropy: a planted dominant axis reads loading 1 " +
      "/ share 1 with the hand eigenvalue; an isotropic pair reads " +
      "share 1/d") {
    val planted = Seq(
      (1L, Seq(1.0f, 0.0f)), (2L, Seq(-1.0f, 0.0f)),
      (3L, Seq(2.0f, 0.0f)), (4L, Seq(-2.0f, 0.0f))
    ).toDF("vec_id", "embedding")
    val r = Quality.embeddingAnisotropy(planted, "embedding", 2, 3)
      .orderBy("dim")
      .as[(Long, Double, Option[Double], Option[Double])].collect()
    assert(r(0)._2 == 1.0 && r(1)._2 == 0.0) // sign-pinned +e1
    assert(r(0)._3.contains(2.5))            // var = (1+1+4+4)/4
    assert(r(0)._4.contains(1.0))
    // equal-variance axes: share = 1/d, loadings stay uniform
    val iso = Seq(
      (1L, Seq(1.0f, 1.0f)), (2L, Seq(-1.0f, -1.0f)),
      (3L, Seq(1.0f, -1.0f)), (4L, Seq(-1.0f, 1.0f))
    ).toDF("vec_id", "embedding")
    val ri = Quality.embeddingAnisotropy(iso, "embedding", 2, 3)
      .orderBy("dim")
      .as[(Long, Double, Option[Double], Option[Double])].collect()
    assert(ri(0)._4.contains(0.5))
  }

  test("embeddingDimStats: dead dim reads std 0 / zero_frac 1; " +
      "null and ragged vectors excluded from the moments") {
    val vecs = Seq(
      (1L, Seq(1.0f, 0.0f)), (2L, Seq(3.0f, 0.0f)),
      (3L, null.asInstanceOf[Seq[Float]]), (4L, Seq(5.0f))
    ).toDF("vec_id", "embedding")
    val r = Quality.embeddingDimStats(vecs, "embedding").orderBy("dim")
      .as[(Int, Long, Option[Double], Option[Double], Double, Double,
        Option[Double])].collect()
    assert(r.length == 2)
    assert(r(0) == ((1, 2L, Some(2.0), Some(1.0), 1.0, 3.0, Some(0.0))))
    assert(r(1) == ((2, 2L, Some(0.0), Some(0.0), 0.0, 0.0, Some(1.0))))
  }

  test("embeddingNormProfile: hand norms (0, 5, 10) land the exact " +
      "order statistics; zero vector counted") {
    val vecs = Seq(
      (1L, Seq(3.0f, 4.0f)), (2L, Seq(0.0f, 0.0f)),
      (3L, Seq(6.0f, 8.0f))
    ).toDF("vec_id", "embedding")
    val r = Quality.embeddingNormProfile(vecs, "embedding")
      .as[(Long, Long, Option[Double], Double, Double, Double, Double,
        Double, Double, Double)].head()
    assert(r._1 == 3L && r._2 == 1L)
    assert(r._3.contains(5.0))
    assert(r._4 == 0.0)   // p01 = 1st order stat
    assert(r._6 == 5.0)   // p50 = ceil(1.5) = 2nd
    assert(r._8 == 10.0)  // p99 = 3rd
    assert(r._9 == 0.0 && r._10 == 10.0)
  }

  test("weightedMedian: mass beats row count; exact-half boundary " +
      "takes the LOWER median; groups independent") {
    val df = Seq(
      ("g1", 1.0, 1L), ("g1", 2.0, 1L), ("g1", 3.0, 10L),
      ("g2", 1.0, 1L), ("g2", 2.0, 1L)
    ).toDF("src", "v", "w")
    val r = Quality.weightedMedian(df, "src", "v", "w")
      .orderBy("group")
      .as[(String, Long, Long, Double)].collect()
    assert(r(0) == (("g1", 3L, 12L, 3.0)))  // 10/12 of mass at 3.0
    assert(r(1) == (("g2", 2L, 2L, 1.0)))   // 2·cum(1)=2 >= 2 -> lower
  }
}

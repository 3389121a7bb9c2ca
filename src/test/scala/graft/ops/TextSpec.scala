package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

class TextSpec extends SparkSpec {
  import spark.implicits._

  private def docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog again today", "en"),
    (2L, "der hund und die katze und das haus ist hier gross", "de"),
    (3L, "a b", "en"),
    (4L, "un deux trois 42 quatre", "fr")
  ).toDF("doc_id", "text", "lang")

  test("shingles: count = n_tokens - n + 1, distinct, short docs empty") {
    val sh = docs.select($"doc_id",
      Text.shingles(Text.tokens($"text"), 3).as("sh"))
      .as[(Long, Seq[String])].collect().toMap
    assert(sh(1L).length == 9) // 11 tokens, all trigrams distinct
    assert(sh(3L).isEmpty)     // 2 tokens < n
    assert(sh(1L).head == "the quick brown")
  }

  test("token stats: ws vs word-regex counts, bpe estimate") {
    val r = Text.tokenStats(docs, "text").where($"doc_id" === 4)
      .as[(Long, Long, Long, Long, Double, Long)].head()
    assert(r._2 == 5)  // ws tokens
    assert(r._3 == 5)  // word tokens: un deux trois 42 quatre
    assert(r._6 == math.ceil(r._4 / 4.0).toLong)
  }

  test("quality score: in [0,1], monotone pieces behave") {
    val rows = Text.qualityScore(docs, "text")
      .select("doc_id", "quality_score").as[(Long, Double)].collect().toMap
    assert(rows.values.forall(s => s >= 0.0 && s <= 1.0))
    // doc 3 fails the length gate; doc 1 passes -> strictly lower score
    assert(rows(3L) < rows(1L))
  }

  test("langid: stopword profiles pick the right language, 'und' fallback") {
    val r = Text.languageId(docs, "text")
      .select("doc_id", "pred_lang").as[(Long, String)].collect().toMap
    assert(r(1L) == "en")
    assert(r(2L) == "de")
    assert(r(4L) == "und") // no profile word occurs
  }

  test("fingerprints: deterministic, subset-robust, empty for short docs") {
    val fp1 = Text.fingerprints(docs, "text", 4, 4)
      .as[(Long, Long)].collect().toSet
    val fp2 = Text.fingerprints(docs, "text", 4, 4)
      .as[(Long, Long)].collect().toSet
    assert(fp1 == fp2)
    assert(!fp1.exists(_._1 == 3L)) // too short for any 4-gram window
    assert(fp1.exists(_._1 == 1L))
  }

  test("fingerprints: relational window-min form equals the HOF reference impl") {
    val rel = Text.fingerprints(docs, "text", 4, 4)
      .as[(Long, Long)].collect().toSet
    val hof = Text.fingerprintsHof(docs, "text", 4, 4)
      .as[(Long, Long)].collect().toSet
    assert(rel == hof)
    // also at a window size that straddles short docs
    val rel2 = Text.fingerprints(docs, "text", 2, 3)
      .as[(Long, Long)].collect().toSet
    val hof2 = Text.fingerprintsHof(docs, "text", 2, 3)
      .as[(Long, Long)].collect().toSet
    assert(rel2 == hof2)
  }

  test("normalize: lowercase, strip, collapse, trim") {
    val n = Seq((1L, "  Hello,   WORLD!! 42x  "))
      .toDF("doc_id", "text")
      .select(Text.normalize($"text")).as[String].head()
    assert(n == "hello world 42x")
  }

  test("chunk: token-budget split covers all tokens in order, no shuffle of content") {
    val d = Seq((1L, "a b c d e f g"), (2L, "x")).toDF("doc_id", "text")
    val ch = Text.chunk(d, "text", 3)
      .as[(Long, Long, Long, String)].collect().sortBy(r => (r._1, r._2))
    assert(ch.filter(_._1 == 1L).map(_._4).toSeq ==
      Seq("a b c", "d e f", "g"))
    assert(ch.filter(_._1 == 1L).map(_._3).toSeq == Seq(3L, 3L, 1L))
    assert(ch.filter(_._1 == 2L).map(_._4).toSeq == Seq("x"))
    // reassembling the chunks gives back the original token stream
    assert(ch.filter(_._1 == 1L).map(_._4).mkString(" ") == "a b c d e f g")
  }

  test("chunkStrided: overlapping windows at stride offsets, truncated tail") {
    val d = Seq((1L, "a b c d e f g"), (2L, "x")).toDF("doc_id", "text")
    val w = Text.chunkStrided(d, "text", 4, 2)
      .as[(Long, Long, Long, Long, String)].collect().sortBy(r => (r._1, r._2))
    // 7 tokens, stride 2 -> starts 0,2,4,6
    assert(w.filter(_._1 == 1L).map(_._5).toSeq ==
      Seq("a b c d", "c d e f", "e f g", "g"))
    assert(w.filter(_._1 == 1L).map(_._3).toSeq == Seq(0L, 2L, 4L, 6L))
    assert(w.filter(_._1 == 1L).map(_._4).toSeq == Seq(4L, 4L, 3L, 1L))
    assert(w.filter(_._1 == 2L).map(_._5).toSeq == Seq("x"))
    // stride == window degenerates to chunk's disjoint cover
    val disj = Text.chunkStrided(d, "text", 3, 3)
      .select($"doc_id", $"window_idx".as("chunk_idx"), $"n_tokens", $"chunk")
    assert(disj.collect().toSet ==
      Text.chunk(d, "text", 3).collect().toSet)
  }

  test("oovStats: top-K vocab membership, ratio bounds, count tiebreak") {
    val d = Seq((1L, "a a a b b c"), (2L, "a b z"), (3L, "q r"))
      .toDF("doc_id", "text")
    // counts: a=4 b=3 c=1 z=1 q=1 r=1; K=3 -> vocab {a, b, c} (ties at
    // count 1 break token-ascending: c < q < r < z)
    val r = Text.oovStats(d, "text", 3)
      .as[(Long, Long, Long, Double)].collect().map(x => x._1 -> x).toMap
    assert(r(1L) == ((1L, 6L, 0L, 0.0)))
    assert(r(2L) == ((2L, 3L, 1L, math.floor(1.0 / 3 * 1e9) / 1e9)))
    assert(r(3L) == ((3L, 2L, 2L, 1.0)))
  }

  test("idfTable: df counts distinct docs, idf monotone decreasing in df") {
    val t = Text.idfTable(docs, "text")
      .as[(String, Long, Double)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    // "the" appears twice in doc 1 but counts ONE document
    assert(t("the")._1 == 1L)
    // "a" is in docs 3 and 4 ("a b", "...quatre"? no) — recount: doc 3 has "a"
    assert(t("a")._1 == 1L)
    assert(t.values.forall { case (df, idf) =>
      math.abs(idf - math.floor(math.log(4.0 / df) * 1e9 + 0.5) / 1e9) < 1e-9 })
    // every-doc token would have idf 0; none here, all idf > 0
    assert(t.values.forall(_._2 > 0.0))
  }

  test("simhash: 60-bit range and determinism") {
    val s = Dedup.simhashes(docs, "doc_id", "text")
      .as[(Long, Long)].collect().toMap
    assert(s.values.forall(v => v >= 0 && v < (1L << Dedup.SimHashBits)))
    assert(s == Dedup.simhashes(docs, "doc_id", "text")
      .as[(Long, Long)].collect().toMap)
  }

  test("topKeywords: doc-unique token outranks shared tokens; k bounds rows") {
    val corpus = Seq(
      (1L, "alpha shared shared"),
      (2L, "beta shared shared"),
      (3L, "gamma shared shared")
    ).toDF("doc_id", "text")
    val kw = Text.topKeywords(corpus, "text", 1)
      .select($"doc_id", $"token").as[(Long, String)].collect().toMap
    // idf(shared)=ln(1)=0; each doc's unique token has idf ln(3) > 0
    assert(kw == Map(1L -> "alpha", 2L -> "beta", 3L -> "gamma"))
    val k2 = Text.topKeywords(corpus, "text", 2)
    assert(k2.count() == 6)
    // rank-2 everywhere is the zero-weight "shared" (tie impossible here)
    assert(k2.filter($"rank" === 2).select($"token").as[String]
      .collect().forall(_ == "shared"))
    intercept[IllegalArgumentException] {
      Text.topKeywords(corpus, "text", 0)
    }
  }

  test("repetitionStats: dup and top-gram ratios; short docs NULL; n=1 is token form") {
    val corpus = Seq(
      (1L, "a b a b c"),   // bigrams: "a b","b a","a b","b c" -> 4 total, 3 distinct
      (2L, "x y"),         // one bigram, no repetition
      (3L, "z")            // too short for bigrams
    ).toDF("doc_id", "text")
    val r = Text.repetitionStats(corpus, "text", 2)
      .as[(Long, Long, Long, Option[Double], Option[Double])]
      .collect().map(x => x._1 -> x).toMap
    assert(r(1L) == ((1L, 4L, 3L, Some(0.25), Some(0.5))))
    assert(r(2L) == ((2L, 1L, 1L, Some(0.0), Some(1.0))))
    assert(r(3L) == ((3L, 0L, 0L, None, None)))
    // n=1: plain token repetition — doc 1 has 5 tokens, 3 distinct
    val t1 = Text.repetitionStats(corpus, "text", 1)
      .filter($"doc_id" === 1L)
      .as[(Long, Long, Long, Option[Double], Option[Double])].head()
    assert(t1 == ((1L, 5L, 3L, Some(0.4), Some(0.4))))
    intercept[IllegalArgumentException] {
      Text.repetitionStats(corpus, "text", 0)
    }
  }

  test("repetitionStatsMulti: per-(doc, n) rows match the single-n calls") {
    val corpus = Seq(
      (1L, "a b a b c"),
      (2L, "x y"),
      (3L, "z")
    ).toDF("doc_id", "text")
    val ns = Seq(1, 2, 3)
    val multi = Text.repetitionStatsMulti(corpus, "text", ns)
      .as[(Long, Long, Long, Long, Option[Double], Option[Double])]
      .collect().map(x => (x._1, x._2) -> ((x._3, x._4, x._5, x._6))).toMap
    assert(multi.size == corpus.count() * ns.size) // full (doc, n) spine
    for (n <- ns) {
      val single = Text.repetitionStats(corpus, "text", n)
        .as[(Long, Long, Long, Option[Double], Option[Double])]
        .collect().map(x => x._1 -> ((x._2, x._3, x._4, x._5))).toMap
      for ((doc, st) <- single) assert(multi((doc, n.toLong)) == st,
        s"mismatch at doc=$doc n=$n")
    }
    // doc 3 is too short for every n > 1: NULL ratios at those cells
    assert(multi((3L, 2L)) == ((0L, 0L, None, None)))
    intercept[IllegalArgumentException] {
      Text.repetitionStatsMulti(corpus, "text", Seq.empty)
    }
    intercept[IllegalArgumentException] {
      Text.repetitionStatsMulti(corpus, "text", Seq(2, 2))
    }
  }

  test("dupNgramRatioFromGrams over shinglesAll equals repetitionStats' " +
      "dup_ngram_ratio per document, NULL below n tokens") {
    val corpus = docs.select($"doc_id", $"text").union(Seq(
      (11L, "a b a b c"),
      (12L, "the cat the cat the cat sat"),
      (13L, "z")
    ).toDF("doc_id", "text"))
    val nTokens = corpus.select($"doc_id", size(Text.tokens($"text")))
      .as[(Long, Int)].collect().toMap
    for (n <- 1 to 4) {
      val scalar = corpus
        .select($"doc_id", Text.tokens($"text").as("__t"))
        .select($"doc_id", Text.shinglesAll($"__t", n).as("__g"))
        .select($"doc_id", Text.dupNgramRatioFromGrams($"__g"))
        .as[(Long, Option[Double])].collect().toMap
      val relational = Text.repetitionStats(corpus, "text", n)
        .select($"doc_id", $"dup_ngram_ratio")
        .as[(Long, Option[Double])].collect().toMap
      assert(scalar == relational, s"n=$n")
      for ((doc, r) <- scalar)
        assert(r.isEmpty == (nTokens(doc) < n), s"doc=$doc n=$n")
    }
  }

  test("maskPii: URL -> email -> phone -> IP -> digits; counts never double-bill") {
    val corpus = Seq(
      (1L, "mail me at bob.smith+x@corp.example.com today"),
      (2L, "see https://ex.org/a?id=1234567890 and call 0712345678"),
      (3L, "short num 123456 stays; id 1234567 goes"),
      (4L, "clean text only"),
      (5L, "call 555-123-4567 or 555.123.4567 from 192.168.0.1"),
      (6L, "v1.2.3 is not an ip; 555-12-4567 is not a phone; 100 1000 10000 stay")
    ).toDF("doc_id", "text")
    val m = Text.maskPii(corpus, "text")
      .as[(Long, String, Long, Long, Long, Long, Long)]
      .collect().map(x => x._1 -> x).toMap
    assert(m(1L)._2 == "mail me at <EMAIL> today")
    // the URL swallowed its own digits — only the phone counts as a number
    assert(m(2L)._2 == "see <URL> and call <NUM>")
    assert((m(2L)._3, m(2L)._4, m(2L)._7) == ((1L, 0L, 1L)))
    // 6-digit run survives, 7-digit run masks
    assert(m(3L)._2 == "short num 123456 stays; id <NUM> goes")
    assert(m(4L)._2 == "clean text only" &&
      (m(4L)._3, m(4L)._4, m(4L)._5, m(4L)._6, m(4L)._7) ==
        ((0L, 0L, 0L, 0L, 0L)))
    // dot-separated phone masks as PHONE (before the IP pass sees it);
    // the IP masks as IP; nothing double-counts
    assert(m(5L)._2 == "call <PHONE> or <PHONE> from <IP>")
    assert((m(5L)._5, m(5L)._6, m(5L)._7) == ((2L, 1L, 0L)))
    // near-misses stay: 3-group dotted version string, 2-digit middle
    // phone group, space-separated quantity list
    assert(m(6L)._2 ==
      "v1.2.3 is not an ip; 555-12-4567 is not a phone; 100 1000 10000 stay")
  }

  test("langIdColumn: map-only form equals languageId everywhere") {
    // the 4-doc fixture covers the 'und' fallback; the 500-doc corpus
    // pins the argmax + tiebreak against the relational form at scale
    val rel4 = Text.languageId(docs, "text")
      .select($"doc_id", $"pred_lang").as[(Long, String)].collect().toMap
    val col4 = docs.select($"doc_id",
        Text.langIdColumn(Text.tokens($"text")).as("pred_lang"))
      .as[(Long, String)].collect().toMap
    assert(col4 == rel4)
    val corpus = spark.read.parquet(sf("sf0.001") + "/documents.parquet")
    val rel = Text.languageId(corpus, "text")
      .select($"doc_id", $"pred_lang").as[(Long, String)].collect().toMap
    val colF = corpus.select($"doc_id",
        Text.langIdColumn(Text.tokens($"text")).as("pred_lang"))
      .as[(Long, String)].collect().toMap
    assert(colF == rel)
  }

  test("unigramLogProb: mean -ln p under the corpus unigram distribution") {
    val corpus = Seq((1L, "a a b"), (2L, "b c")).toDF("doc_id", "text")
    // counts: a=2, b=2, c=1; total=5
    val r = Text.unigramLogProb(corpus, "text")
      .as[(Long, Long, Double)].collect().map(x => x._1 -> x).toMap
    def rnd(x: Double) = BigDecimal(x)
      .setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(r(1L)._2 == 3L && r(2L)._2 == 2L)
    // doc1: every token has p=0.4 -> nll = -ln(0.4)
    assert(r(1L)._3 == rnd(-math.log(0.4)))
    // doc2: (−ln 0.4 − ln 0.2) / 2
    assert(r(2L)._3 == rnd((-math.log(0.4) - math.log(0.2)) / 2))
  }

  test("bigramLogProb: hand-computed interpolated NLL; λ=0 is the unigram LM") {
    val corpus = Seq((1L, "a b"), (2L, "a b"), (3L, "a c")).toDF("doc_id", "text")
    def rnd(x: Double) = BigDecimal(x)
      .setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
    // unigram: a=3, b=2, c=1, T=6; prefix a: c(a,b)=2, c(a,c)=1, c(a)=3
    val lam = 0.5
    val r = Text.bigramLogProb(corpus, "text", lam)
      .as[(Long, Long, Double)].collect().map(x => x._1 -> x).toMap
    val pA = 3.0 / 6                                  // first token: unigram
    val pBgivenA = lam * 2 / 3 + (1 - lam) * 2.0 / 6
    val pCgivenA = lam * 1 / 3 + (1 - lam) * 1.0 / 6
    assert(r(1L)._2 == 2L)
    assert(r(1L)._3 == rnd((-math.log(pA) - math.log(pBgivenA)) / 2))
    assert(r(1L)._3 == r(2L)._3)                      // identical docs
    assert(r(3L)._3 == rnd((-math.log(pA) - math.log(pCgivenA)) / 2))
    // the common continuation (a→b twice) scores lower NLL than the rare one
    assert(r(1L)._3 < r(3L)._3)
    // λ=0 collapses to the unigram LM: every position scores P(w)
    val big0 = Text.bigramLogProb(corpus, "text", 0.0)
      .select("doc_id", "bigram_nll").as[(Long, Double)].collect().toMap
    val uni = Text.unigramLogProb(corpus, "text")
      .select("doc_id", "unigram_nll").as[(Long, Double)].collect().toMap
    assert(big0 == uni)
  }

  test("unigramDrift: hand-computed smoothed KL terms, A-overrepresented tokens positive") {
    val a = Seq((1L, "a a b")).toDF("doc_id", "text")
    val b = Seq((2L, "b b c")).toDF("doc_id", "text")
    val r = Text.unigramDrift(a, b, "text", 3)
      .select($"w", $"kl_term").as[(String, Double)].collect()
    // pa(a)=2.5/4.5, pb(a)=0.5/4.5 -> term = (5/9)ln(5); b and c negative
    assert(r.map(_._1).toSeq == Seq("a", "c", "b"), s"order ${r.toSeq}")
    assert(math.abs(r(0)._2 - (2.5 / 4.5) * math.log(5.0)) < 1e-8)
    assert(r(1)._2 < 0 && r(2)._2 < 0)
    // full-vocab sum is the (non-negative) KL divergence
    assert(r.map(_._2).sum >= 0.0)
    // k truncates deterministically
    assert(Text.unigramDrift(a, b, "text", 1).count() == 1)
  }

  test("scorePercentiles: percent_rank tie semantics; singleton group 0; equals native window") {
    import org.apache.spark.sql.expressions.Window
    val df = Seq(
      (1L, "g1", 1.0), (2L, "g1", 2.0), (3L, "g1", 2.0), (4L, "g1", 4.0),
      (5L, "g2", 7.0)
    ).toDF("id", "grp", "score")
    val r = Text.scorePercentiles(df, "score", "grp")
      .select($"id", $"pct_rank").as[(Long, Double)].collect().toMap
    assert(r(1L) == 0.0)
    assert(math.abs(r(2L) - 1.0 / 3) < 1e-8 && r(2L) == r(3L))
    assert(r(4L) == 1.0)
    assert(r(5L) == 0.0, "singleton group must rank 0.0 (SQL convention)")
    // law: bit-equal to the native single-partition percent_rank window
    val native = df.withColumn("pr", round(percent_rank().over(
        Window.partitionBy($"grp").orderBy($"score")), 9))
      .select($"id", $"pr").as[(Long, Double)].collect().toMap
    assert(r == native)
  }

  test("boilerplateStats: cross-doc df gate; short docs NULL ratios") {
    val corpus = Seq((1L, "a b a"), (2L, "a c"), (3L, "x")).toDF("doc_id", "text")
    // n=1, maxDf=1: token 'a' appears in 2 docs -> boilerplate
    val r = Text.boilerplateStats(corpus, "text", 1, 1L)
      .as[(Long, Long, Long, Option[Double], Long, Long, Option[Double])]
      .collect().map(x => x._1 -> x).toMap
    assert(r(1L) == ((1L, 3L, 2L, Some(0.666666667), 2L, 1L, Some(0.5))))
    assert(r(2L) == ((2L, 2L, 1L, Some(0.5), 2L, 1L, Some(0.5))))
    assert(r(3L) == ((3L, 1L, 0L, Some(0.0), 1L, 0L, Some(0.0))))
    // n=2: doc 3 has no bigrams -> zero counts, NULL ratios (never 0/0)
    val b = Text.boilerplateStats(corpus, "text", 2, 1L)
      .as[(Long, Long, Long, Option[Double], Long, Long, Option[Double])]
      .collect().map(x => x._1 -> x).toMap
    assert(b(3L) == ((3L, 0L, 0L, None, 0L, 0L, None)))
    intercept[IllegalArgumentException] {
      Text.boilerplateStats(corpus, "text", 0, 1L)
    }
    intercept[IllegalArgumentException] {
      Text.boilerplateStats(corpus, "text", 1, 0L)
    }
  }

  test("perplexityBuckets: equal-count per-lang tiers, NLL-monotone boundaries") {
    val docs = Sources.table(spark, sf("sf0.001"), "documents")
    val r = Text.perplexityBuckets(docs, "text", "lang")
      .as[(Long, Long, Double, String, Int, String)].collect()
    assert(r.length == docs.count(), "every tokenized doc must be tiered")
    r.groupBy(_._4).foreach { case (lang, rows) =>
      val sizes = rows.groupBy(_._5).view.mapValues(_.length).toMap
      assert(sizes.keySet.subsetOf(Set(1, 2, 3)))
      // ntile: tier sizes differ by at most one
      assert(sizes.values.max - sizes.values.min <= 1, s"$lang: $sizes")
      // boundaries monotone: max NLL of head <= min NLL of middle, etc.
      def nlls(i: Int) = rows.filter(_._5 == i).map(_._3)
      for (i <- 1 to 2 if sizes.contains(i) && sizes.contains(i + 1))
        assert(nlls(i).max <= nlls(i + 1).min,
          s"$lang: tier $i overlaps tier ${i + 1}")
    }
    assert(r.forall(x => Map(1 -> "head", 2 -> "middle", 3 -> "tail")
      .apply(x._5) == x._6))
    intercept[IllegalArgumentException] {
      Text.perplexityBuckets(docs, "text", "lang", nBuckets = 1)
    }
  }

  test("blocklistStats: occurrence vs type counts, exact token match, clean doc zero") {
    val d = Seq(
      (1L, "good clean text here"),
      (2L, "bad bad ugly text"),          // 2x bad + 1x ugly = 3 hits, 2 types
      (3L, "badly notbad embedded"),      // substrings must NOT match
      (4L, "")                            // one empty-string token, no hits
    ).toDF("doc_id", "text")
    val r = Text.blocklistStats(d, "text", Seq("bad", "ugly", "absent"))
      .as[(Long, Long, Long, Long, Option[Double])]
      .collect().map(x => x._1 -> x).toMap
    assert(r(1L) == ((1L, 4L, 0L, 0L, Some(0.0))))
    assert(r(2L)._3 == 3L && r(2L)._4 == 2L)
    assert(math.abs(r(2L)._5.get - 0.75) < 1e-9)
    assert(r(3L)._3 == 0L) // token-exact: "badly"/"notbad" are not "bad"
    assert(r(4L)._3 == 0L && r(4L)._2 == 1L) // split("") = [""], no hits
  }

  test("blocklistScrub: listed tokens removed under the input column name; separators survive") {
    val d = Seq(
      (1L, "good clean text"),
      (2L, "bad keep bad ugly end"),   // removal leaves adjacent gaps
      (3L, "badly notbad")             // token-exact: substrings survive
    ).toDF("doc_id", "text")
    val r = Text.blocklistScrub(d, "text", Seq("bad", "ugly"))
      .as[(Long, String, Long)].collect().map(x => x._1 -> x).toMap
    assert(r(1L) == ((1L, "good clean text", 0L)))
    assert(r(2L) == ((2L, "keep end", 3L)))
    assert(r(3L) == ((3L, "badly notbad", 0L)))
  }

  test("lexicalDiversity: type/token/hapax math per source; repeated types counted once") {
    val d = Seq(
      (1L, "a b a c", "s1"),   // tokens: a,b,a,c
      (2L, "a d", "s1"),       // s1 totals: 6 tokens, types {a,b,c,d}
      (3L, "x x x", "s2")      // s2: 3 tokens, 1 type, 0 hapax
    ).toDF("doc_id", "text", "source")
    val r = Text.lexicalDiversity(d, "text", "source")
      .as[(String, Long, Long, Long, Double, Long, Double)]
      .collect().map(x => x._1 -> x).toMap
    val s1 = r("s1")
    assert(s1._2 == 2 && s1._3 == 6 && s1._4 == 4)
    assert(math.abs(s1._5 - 4.0 / 6.0) < 1e-8)
    assert(s1._6 == 3) // b, c, d occur once in s1; a occurs 3 times
    assert(math.abs(s1._7 - 3.0 / 4.0) < 1e-8)
    val s2 = r("s2")
    assert(s2._2 == 1 && s2._3 == 3 && s2._4 == 1 && s2._6 == 0)
    assert(s2._7 == 0.0)
  }

  test("zipfAudit: rollup counts exact; fit matches an independent regression") {
    val d = Seq(
      (1L, "a a a a b b c d"),
      (2L, "a a b c e")
    ).toDF("doc_id", "text")
    // counts: a=6, b=3, c=2, d=1, e=1 → vocab 5, total 13, hapax 2
    val r = Text.zipfAudit(d, "text", fitTopK = 500).collect().head
    assert(r.getLong(0) == 5L)    // vocab_size
    assert(r.getLong(1) == 13L)   // total_tokens
    assert(r.getLong(2) == 2L)    // hapax_count
    assert(r.getLong(3) == 13L)   // top100_tokens = all (vocab < 100)
    assert(r.getLong(4) == 5L)    // fit_terms
    // independent least squares over the same 1e6-scaled rounded points
    val pts = Seq(6L, 3L, 2L, 1L, 1L).zipWithIndex.map { case (c, i) =>
      (math.floor(math.log(i + 1.0) * 1e6 + 0.5),
        math.floor(math.log(c.toDouble) * 1e6 + 0.5))
    }
    val n = pts.size.toDouble
    val sx = pts.map(_._1).sum; val sy = pts.map(_._2).sum
    val sxy = pts.map(p => p._1 * p._2).sum
    val sxx = pts.map(p => p._1 * p._1).sum
    val slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    assert(math.abs(r.getDouble(5) - slope) < 1e-6)
    assert(r.getDouble(7) >= 0.0 && r.getDouble(7) <= 1.0) // r2
  }

  test("ictPairs: short docs drop; span bounds; reinserting the query rebuilds the doc") {
    val d = Seq(
      (1L, (1 to 20).map(i => s"t$i").mkString(" ")), // 20 tokens: kept
      (2L, (1 to 7).map(i => s"u$i").mkString(" "))   // 7 < 2*4: dropped
    ).toDF("doc_id", "text")
    val rows = Text.ictPairs(d, "doc_id", "text", spanTokens = 4)
      .as[(Long, Long, Long, String, String)].collect()
    assert(rows.map(_._1).toSet == Set(1L))
    val (_, n, a, q, p) = rows.head
    assert(n == 20L)
    assert(a >= 0 && a <= n - 4) // valid window offset
    val qt = q.split(" "); val pt = p.split(" ")
    assert(qt.length == 4 && pt.length == 16)
    // passage = doc with the query window excised at position a —
    // splicing it back reconstructs the original token stream
    val rebuilt = (pt.take(a.toInt) ++ qt ++ pt.drop(a.toInt)).mkString(" ")
    assert(rebuilt == (1 to 20).map(i => s"t$i").mkString(" "))
  }

  test("piiReport: per-group sums, affected-doc count, clean group reports zero") {
    val d = Seq(
      (1L, "sA", "mail me at a@b.org or see https://x.org/a"),
      (2L, "sA", "nothing sensitive here at all"),
      (3L, "sB", "clean text only")
    ).toDF("doc_id", "source", "text")
    val r = Text.piiReport(d, "text", "source")
      .collect().map(x => x.getString(0) -> x).toMap
    val a = r("sA")
    assert(a.getLong(1) == 2L && a.getLong(2) == 1L) // n_docs, docs_with_pii
    assert(a.getLong(3) == 1L && a.getLong(4) == 1L) // urls, emails
    assert(math.abs(a.getDouble(8) - 0.5) < 1e-9)
    val b = r("sB")
    assert(b.getLong(1) == 1L && b.getLong(2) == 0L
      && b.getDouble(8) == 0.0)
  }

  test("chunkContentDefined: token conservation; prefix insertion realigns later chunks") {
    val base = (1 to 120).map(i => s"w${i % 37}").mkString(" ")
    val d = Seq((1L, base), (2L, "zz yy " + base)).toDF("doc_id", "text")
    val r = Text.chunkContentDefined(d, "text", divisor = 8, salt = "t")
      .orderBy("doc_id", "chunk_idx")
      .as[(Long, Long, Long, String)].collect()
    val c1 = r.filter(_._1 == 1L).map(_._4)
    val c2 = r.filter(_._1 == 2L).map(_._4)
    // every token lands in exactly one chunk, in order
    assert(c1.mkString(" ") == base)
    assert(c2.mkString(" ") == "zz yy " + base)
    // content-defined law: boundaries depend on adjacent pairs only, so
    // everything from doc 1's first boundary onward re-aligns — doc 1's
    // chunk suffix is a verbatim chunk suffix of the prefixed doc 2
    // (only the region before the first shared boundary may differ)
    assert(c1.length > 2, s"fixture too uniform: ${c1.length} chunks")
    val s1 = c1.drop(1)
    assert(c2.length >= s1.length &&
      c2.takeRight(s1.length).sameElements(s1),
      s"later chunks diverged:\n${s1.mkString("|")}\nvs\n${c2.mkString("|")}")
  }

  test("lengthBuckets: pow2 clamp, padding/overflow math, token conservation") {
    assert(Text.lengthBucketList(8, 64) == Seq(8, 16, 32, 64))
    assert(Text.lengthBucketList(16, 16) == Seq(16))
    val d = Seq(
      (1L, Seq.fill(3)("w").mkString(" ")),   // n=3  -> bucket 8, pad 5
      (2L, Seq.fill(8)("w").mkString(" ")),   // n=8  -> bucket 8, pad 0
      (3L, Seq.fill(9)("w").mkString(" ")),   // n=9  -> bucket 16, pad 7
      (4L, Seq.fill(40)("w").mkString(" ")),  // n=40 -> bucket 64, pad 24
      (5L, Seq.fill(70)("w").mkString(" "))   // n=70 -> bucket 64, overflow 6
    ).toDF("doc_id", "text")
    val r = Text.lengthBuckets(d, "text", 8, 64)
      .as[(Long, Long, Long, Long, Long)].collect()
      .map(x => x._1 -> x).toMap
    assert(r(8L) == ((8L, 2L, 11L, 5L, 0L)))
    assert(r(16L) == ((16L, 1L, 9L, 7L, 0L)))
    assert(r(64L) == ((64L, 2L, 110L, 24L, 6L)))
    // conservation: report tokens sum to the corpus token count
    assert(r.values.map(_._3).sum == 3L + 8 + 9 + 40 + 70)
  }

  test("heapsAudit: birth-bucket curve exact; two-point fit is the exact " +
      "slope with r2 = 1") {
    val docs = Seq(
      (1L, "a b"), (2L, "a c"),     // bucket 1: types a, b, c born
      (3L, "c d e"), (4L, "a b")    // bucket 2: d, e born
    ).toDF("doc_id", "text")
    val rows = Text.heapsAudit(docs, "doc_id", "text", buckets = 2)
      .orderBy("bucket").collect()
    assert(rows.map(_.getLong(0)).toSeq == Seq(1L, 2L))
    // cumulative (n_docs, n_tokens, vocab, new_types)
    assert(rows.map(r => (r.getLong(1), r.getLong(2), r.getLong(3),
      r.getLong(4))).toSeq == Seq((2L, 4L, 3L, 3L), (4L, 9L, 5L, 2L)))
    // two points determine the line exactly: beta = the quantized-ln
    // slope (ln5-ln3)/(ln9-ln4), r2 exactly 1
    val beta = rows.head.getDouble(5)
    assert(math.abs(beta - 0.629926) < 1e-5)
    assert(rows.forall(_.getDouble(5) == beta))  // constant across rows
    assert(rows.forall(_.getDouble(6) == 1.0))
    // the red flag, demonstrated on the corpus that EARNED it: the
    // driver fixture's ~31-type vocabulary is fully born in the first
    // decile (the round-8 scaling-study artifact), so the audit reads
    // beta ≈ 0 — exactly the saturation warning it exists to raise
    val fx = Text.heapsAudit(
      Sources.table(spark, sf("sf0.001"), "documents"), "doc_id", "text")
      .orderBy("bucket").collect()
    assert(fx.length == 10)
    assert(fx.head.getLong(3) == fx.last.getLong(3)) // vocab flat
    assert(math.abs(fx.head.getDouble(5)) < 0.05)    // beta ~ 0
  }

  /** The exact per-term BM25 contribution [[Text.bm25TopK]] promises,
    * replayed in plain Scala with the same IEEE op order. */
  private def bm25Term(n: Long, l: Long, df: Long, tf: Long, dl: Long,
                       qtf: Long): Long = {
    val idf9 = BigDecimal(math.log(1.0 +
      (2 * n - 2 * df + 1).toDouble / (2 * df + 1).toDouble))
      .setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
    val tfnorm = (22 * tf * l).toDouble /
      (10 * tf * l + 3 * l + 9 * dl * n).toDouble
    qtf * math.floor(idf9 * tfnorm * 1e9 + 0.5).toLong
  }

  test("bm25TopK: scores equal the closed-form per-term formula on a " +
      "hand fixture; rarer terms and shorter docs score higher") {
    val corpus = Seq(
      (1L, "apple banana"),          // has the rare term
      (2L, "apple apple apple"),     // common term, repeated, longer
      (3L, "apple"),                 // common term, shortest
      (4L, "cherry cherry")          // no query terms
    ).toDF("doc_id", "text")
    val q = Seq((100L, "banana apple")).toDF("query_id", "text")
    val got = Text.bm25TopK(corpus, q, "text", k = 10)
      .orderBy("rnk")
      .select("doc_id", "score_i").as[(Long, Long)].collect()
    // N=4, L=8; df(apple)=3, df(banana)=1
    val d1 = bm25Term(4, 8, 1, 1, 2, 1) + bm25Term(4, 8, 3, 1, 2, 1)
    val d2 = bm25Term(4, 8, 3, 3, 3, 1)
    val d3 = bm25Term(4, 8, 3, 1, 1, 1)
    assert(got.toSeq == Seq((1L, d1), (2L, d2), (3L, d3)),
      s"got ${got.toSeq}, want ${Seq((1L, d1), (2L, d2), (3L, d3))}")
    // rare banana dominates everything; among the apple-only docs the
    // triple occurrence still wins (tfnorm 528/372 > 176/140) but
    // SUBLINEARLY — nowhere near 3x the single occurrence
    assert(d3 < d2 && d2 < d1)
    assert(d2 < 2 * d3, "saturation: 3 occurrences must be < 2x one")
  }

  test("bm25TopK: qtf weights linearly; maxDfShare prunes head terms; " +
      "result is partitioning-invariant") {
    val corpus = Seq(
      (1L, "x y"), (2L, "x z"), (3L, "x w"), (4L, "y w")
    ).toDF("doc_id", "text")
    val q1 = Seq((9L, "y")).toDF("query_id", "text")
    val q2 = Seq((9L, "y y")).toDF("query_id", "text")
    val s1 = Text.bm25TopK(corpus, q1, "text", 10)
      .select("doc_id", "score_i").as[(Long, Long)].collect().toMap
    val s2 = Text.bm25TopK(corpus, q2, "text", 10)
      .select("doc_id", "score_i").as[(Long, Long)].collect().toMap
    assert(s1.keySet == Set(1L, 4L))
    assert(s2 == s1.map { case (k, v) => k -> 2 * v },
      "duplicated query term must exactly double each contribution")
    // x has df 3 of 4 — a 0.5 share prunes it; only the y leg scores
    val qm = Seq((9L, "x y")).toDF("query_id", "text")
    val pruned = Text.bm25TopK(corpus, qm, "text", 10, maxDfShare = 0.5)
      .select("doc_id", "score_i").as[(Long, Long)].collect().toMap
    assert(pruned == s1, "df-pruned term must contribute nothing")
    val rep = Text.bm25TopK(corpus.repartition(7), qm.repartition(3),
        "text", 10, maxDfShare = 0.5)
      .select("doc_id", "score_i").as[(Long, Long)].collect().toMap
    assert(rep == pruned)
  }

  private def round9(x: Double): Double =
    BigDecimal(x).setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble

  test("pmiCollocations: hand-counted corpus matches the closed form; " +
      "minCount floors; NPMI null on a one-bigram corpus") {
    val docs = Seq((1L, "a b a b"), (2L, "a c")).toDF("doc_id", "text")
    // pairs (a,b):2 (b,a):1 (a,c):1; unigrams a:3 b:2 c:1; Tu=6 Tb=4
    def pmi(cnt: Long, cx: Long, cy: Long): Double =
      round9(math.log(
        cnt.toDouble * 6.0 * 6.0 / cx.toDouble / cy.toDouble / 4.0))
    def npmi(cnt: Long, cx: Long, cy: Long): Double =
      round9(math.log(
        cnt.toDouble * 6.0 * 6.0 / cx.toDouble / cy.toDouble / 4.0) /
        -math.log(cnt.toDouble / 4.0))
    val got = Text.pmiCollocations(docs, "text", minCount = 1)
      .orderBy("w1", "w2")
      .as[(String, String, Long, Long, Long, Double, Option[Double])]
      .collect().toSeq
    assert(got == Seq(
      ("a", "b", 2L, 3L, 2L, pmi(2, 3, 2), Some(npmi(2, 3, 2))),
      ("a", "c", 1L, 3L, 1L, pmi(1, 3, 1), Some(npmi(1, 3, 1))),
      ("b", "a", 1L, 2L, 3L, pmi(1, 2, 3), Some(npmi(1, 2, 3)))))
    // the repeated pair scores higher than its reversal (PMI is
    // direction-sensitive on ordered bigrams)
    assert(pmi(2, 3, 2) > pmi(1, 2, 3))
    val floored = Text.pmiCollocations(docs, "text", minCount = 2)
      .select("w1", "w2").as[(String, String)].collect().toSeq
    assert(floored == Seq(("a", "b")))
    // one bigram in the whole corpus: -ln p(xy) = 0, NPMI undefined
    val one = Text.pmiCollocations(
      Seq((1L, "x y")).toDF("doc_id", "text"), "text", 1)
      .as[(String, String, Long, Long, Long, Double, Option[Double])]
      .collect().toSeq
    assert(one.size == 1 && one.head._7.isEmpty)
  }

  test("pmiCollocations: bit-identical across partitionings on the " +
      "fixture corpus; counts exact") {
    val docs = Sources.table(spark, sf("sf0.001"), "documents")
    val a = Text.pmiCollocations(docs, "text", 5)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.toSeq)
      .toMap
    val b = Text.pmiCollocations(docs.repartition(11), "text", 5)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.toSeq)
      .toMap
    assert(a.nonEmpty && a == b)
    assert(a.values.forall(_(2).asInstanceOf[Long] >= 5L))
  }

  test("jensenShannon: identical corpora read 0; disjoint vocabularies " +
      "read ln 2; symmetric") {
    val a = Seq((1L, "x y x"), (2L, "y z")).toDF("doc_id", "text")
    assert(Text.jensenShannon(a, a, "text")
      .select("jsd").as[Double].head() == 0.0)
    val b = Seq((3L, "p q"), (4L, "q r p")).toDF("doc_id", "text")
    val d = Text.jensenShannon(a, b, "text")
      .select("jsd").as[Double].head()
    // ln 2, up to per-term 9dp integerization dust
    assert(math.abs(d - 0.693147181) < 3e-9)
    val ab = Text.jensenShannon(a, b, "text").select("jsd")
      .as[Double].head()
    val ba = Text.jensenShannon(b, a, "text").select("jsd")
      .as[Double].head()
    assert(ab == ba)
  }

  test("tokenConcentration: uniform counts read gini 0; a dominating " +
      "token pushes it up; head shares exact on a hand case") {
    val uni = Seq((1L, "a b c d")).toDF("doc_id", "text")
    val u = Text.tokenConcentration(uni, "text")
      .as[(Long, Long, Double, Double, Double)].head()
    assert(u._1 == 4L && u._2 == 4L && u._3 == 0.0)
    // 10 types: one with 91 tokens, nine singletons -> N=100
    val skewText = (("z " * 91).trim +: (1 to 9).map(i => s"w$i"))
      .mkString(" ")
    val sk = Text.tokenConcentration(Seq((1L, skewText))
      .toDF("doc_id", "text"), "text")
      .as[(Long, Long, Double, Double, Double)].head()
    assert(sk._1 == 10L && sk._2 == 100L)
    // ranks: singletons 1..9 (ties by token), z at rank 10
    // G = (2*(45*1 + 10*91) - 11*100) / (10*100) = (2*955 - 1100)/1000
    assert(sk._3 == 0.81)
    // top 1% of 10 types = ceil(0.1)=1 type = z -> 91/100
    assert(sk._4 == 0.91 && sk._5 == 0.91)
  }

  test("rakeKeyphrases: stopword breaks, deg/freq scores, and phrase " +
      "sums match the hand computation; rank is (score, phrase)") {
    // "deep learning is deep learning fun": phrases [deep learning],
    // [deep learning fun]; freq d=2 l=2 f=1; deg d=5 l=5 f=3;
    // scores 2.5, 2.5, 3.0 -> phrase scores 5.0 and 8.0
    val docs = Seq((1L, "deep learning is deep learning fun"))
      .toDF("doc_id", "text")
    val r = Text.rakeKeyphrases(docs, "text", 10)
      .as[(String, Long, Long, Double)].collect()
    assert(r.length == 2)
    assert(r(0) == (("deep learning fun", 3L, 1L, 8.0)))
    assert(r(1) == (("deep learning", 2L, 1L, 5.0)))
    // repeated phrase rolls up with its occurrence count
    val two = Seq((1L, "big cats"), (2L, "big cats")).toDF("doc_id", "text")
    val rr = Text.rakeKeyphrases(two, "text", 10)
      .as[(String, Long, Long, Double)].collect()
    assert(rr.toSeq == Seq(("big cats", 2L, 2L, 4.0)))
  }

  test("readability: hand-computed FK grade; terminator-less docs " +
      "clamp to one sentence; wordless docs drop") {
    val docs = Seq(
      (1L, "The cat sat. The dog ran!"), // 6 words, 2 sents, 6 syl
      (2L, "no terminator here"),        // 3 words, 1 sent, 6 syl
      (3L, "")                            // wordless: drops
    ).toDF("doc_id", "text")
    val r = Text.readability(docs, "text").orderBy("doc_id")
      .as[(Long, Long, Long, Long, Double)].collect()
    assert(r.length == 2)
    assert(r(0) == ((1L, 6L, 2L, 6L, -2.62)))
    // vowel runs: "no" o | "terminator" e,i,a,o | "here" e,e -> 7
    assert(r(1)._2 == 3L && r(1)._3 == 1L && r(1)._4 == 7L)
    val g2 = 0.39 * 3.0 / 1.0 + 11.8 * 7.0 / 3.0 - 15.59
    assert(math.abs(r(1)._5 - g2) < 1e-8)
  }
}

package graft.ml

import graft.SparkSpec
import graft.ops.{Similarity, Sources}
import org.apache.spark.sql.functions._

class Prod2VecSpec extends SparkSpec {
  import spark.implicits._

  private lazy val basketDf =
    Prod2Vec.baskets(Sources.table(spark, sf("sf0.001"), "lineitem"))

  private lazy val model =
    Prod2Vec.train(basketDf, Prod2Vec.Params(vectorSize = 8, minCount = 2,
      numPartitions = 2))

  test("M1/M2/M4: trained embedding table has the declared shape") {
    val emb = Prod2Vec.embeddings(model)
    assert(emb.columns.sameElements(Array("vec_id", "embedding")))
    val n = emb.count()
    assert(n > 0)
    assert(emb.select(size($"embedding")).distinct().as[Int].head() == 8)
  }

  test("M3: synonyms exclude the probe, cap at k, cosine in range") {
    val probes = Prod2Vec.embeddings(model).orderBy("vec_id").limit(2)
      .select("vec_id").as[Long].collect().toSeq
    val syn = Prod2Vec.synonyms(model, probes, 5)
      .select("probe_id", "vec_id", "cos", "rnk")
      .as[(Long, Long, Double, Int)].collect()
    assert(syn.nonEmpty)
    assert(syn.forall(r => r._1 != r._2))          // P3: self excluded
    assert(syn.groupBy(_._1).forall(_._2.length <= 5)) // P6: k cap
    assert(syn.forall(r => r._3 >= -1.0 - 1e-9 && r._3 <= 1.0 + 1e-9))
  }

  test("P7 trainer analog: every Params field reaches the MLlib estimator") {
    val p = Prod2Vec.Params(vectorSize = 12, windowSize = 3, maxIter = 2,
      minCount = 5, stepSize = 0.01, numPartitions = 4,
      maxSentenceLength = 50)
    val est = Prod2Vec.estimator(p)
    assert(est.getVectorSize == 12 && est.getWindowSize == 3
      && est.getMaxIter == 2 && est.getMinCount == 5
      && est.getStepSize == 0.01 && est.getNumPartitions == 4
      && est.getSeed == 42L)
    assert(est.getMaxSentenceLength == 50) // basket cap applied to training
    // default Params leave MLlib's own sentence cap untouched (q37 stable)
    assert(Prod2Vec.estimator(Prod2Vec.Params()).getMaxSentenceLength == 1000)
  }

  test("S8: model persistence round-trips (save/load)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-w2v").toString
    Prod2Vec.save(model, dir)
    val back = Prod2Vec.load(dir)
    val a = Prod2Vec.embeddings(model).orderBy("vec_id").collect()
    val b = Prod2Vec.embeddings(back).orderBy("vec_id").collect()
    assert(a.sameElements(b))
  }

  test("M1/M2 determinism law: two seeded single-partition trainings on " +
      "ordered baskets produce bit-identical vectors") {
    // the q37 premise: baskets() orders tokens deterministically, so with
    // numPartitions = 1 and a fixed seed the whole SGD trajectory — vocab
    // order, sentence order, per-step alpha — replays exactly.
    def vecs() = Prod2Vec.embeddings(Prod2Vec.train(
        basketDf.orderBy("order_id").limit(500),
        Prod2Vec.Params(vectorSize = 8, numPartitions = 1)))
      .orderBy("vec_id")
      .select($"vec_id", $"embedding")
      .as[(Long, Seq[Float])].collect()
    val a = vecs()
    val b = vecs()
    assert(a.nonEmpty && a.length == b.length)
    assert(a.zip(b).forall { case ((ia, va), (ib, vb)) =>
      ia == ib && va == vb })   // exact float equality, not tolerance
  }

  test("embedding-quality law (the README determinism-trade claim, " +
      "pinned): np=1 double-fit gives bit-identical top-20 synonym " +
      "lists; np=8 double-fit keeps bounded top-20 neighbor overlap") {
    val bs = basketDf.orderBy("order_id").limit(500)
    // probe ids are a property of the VOCAB (corpus + minCount), not of
    // the training RNG — the same five probes are valid for every fit
    val probes = Prod2Vec.embeddings(
        Prod2Vec.train(bs, Prod2Vec.Params(vectorSize = 8,
          numPartitions = 1)))
      .orderBy("vec_id").limit(5).select("vec_id").as[Long].collect().toSeq
    def top20(np: Int): Seq[(Long, Int, Long, Double)] =
      Prod2Vec.synonyms(
          Prod2Vec.train(bs, Prod2Vec.Params(vectorSize = 8,
            numPartitions = np)),
          probes, 20)
        .select("probe_id", "rnk", "vec_id", "cos")
        .as[(Long, Int, Long, Double)].collect()
        .sortBy(r => (r._1, r._2)).toSeq
    // np=1: the whole SGD trajectory replays — ids, ranks AND cosines
    // bit-equal (exact Double ==, no tolerance)
    val a = top20(1)
    assert(a.nonEmpty && a == top20(1))
    // np=8: per-iteration gradient averaging across partitions is only
    // SEED-level reproducible (the trade README's "Word2Vec.fit decade
    // slope" prices: 3-4.5x throughput for statistical, not bit-level,
    // identity). The priced claim: a double fit's top-20 neighbor SETS
    // stay substantially overlapping per probe — mean Jaccard-style
    // overlap >= 0.5 of k. (A bit-equal replay — common in-session where
    // input splits repeat — passes at overlap 1.0; the law bounds the
    // DRIFT, it does not demand drift.)
    def nbrSets(rows: Seq[(Long, Int, Long, Double)]): Map[Long, Set[Long]] =
      rows.groupBy(_._1).map { case (p, rs) => p -> rs.map(_._3).toSet }
    def doubleFitMean(): Double = {
      val s1 = nbrSets(top20(8))
      val s2 = nbrSets(top20(8))
      assert(s1.keySet == s2.keySet)
      val overlaps = s1.keys.toSeq.map { p =>
        val k = math.max(s1(p).size, s2(p).size)
        (s1(p) & s2(p)).size.toDouble / math.max(k, 1)
      }
      overlaps.sum / overlaps.size
    }
    // STATISTICAL law, not a deterministic one: partition-averaged SGD
    // drift is only bounded in distribution, so a single unlucky
    // scheduling draw can dip under the band. One retry (a second
    // independent double-fit) makes the flake probability the SQUARE of
    // an already-small tail, while a real regression (overlap
    // collapsing) still fails both draws.
    val mean = doubleFitMean()
    val ok = mean >= 0.5 || doubleFitMean() >= 0.5
    assert(ok, s"np=8 double-fit mean top-20 overlap $mean < 0.5 twice")
  }

  test("M5-M7: grid tune returns iteration table and min-objective best row") {
    val coPairs = Seq((1L, 2L), (3L, 4L)).toDF("target_pid", "neighbor_pid")
    val grid = Seq(
      Prod2Vec.Params(vectorSize = 4, maxIter = 1, numPartitions = 2),
      Prod2Vec.Params(vectorSize = 8, maxIter = 1, numPartitions = 2))
    val (table, best) = Prod2Vec.tune(basketDf.limit(200), grid, coPairs)
    val rows = table.orderBy("iteration").collect()
    assert(rows.length == 2)
    assert(rows.map(_.getAs[Long]("iteration")).sameElements(Array(1L, 2L)))
    val bestObj = best.head().getAs[Double]("objective")
    assert(bestObj == rows.map(_.getAs[Double]("objective")).min)
  }
}

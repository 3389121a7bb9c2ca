package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

class QuantizeSpec extends SparkSpec {
  import spark.implicits._

  test("int8: hand-checked codes, zero-vector guard, mse identity") {
    val df = Seq(
      (1L, Array(1.0f, -2.0f, 0.5f)),
      (2L, Array(0.0f, 0.0f, 0.0f))
    ).toDF("vec_id", "embedding")
    val r = Quantize.int8(df, "vec_id", "embedding")
      .orderBy("vec_id")
      .as[(Long, Double, Seq[Long], Double)].collect()
    // scale = 2/127; q = floor(x*127/2 + .5) = [64, -127, 32]
    val s = 2.0 / 127
    assert(math.abs(r(0)._2 - s) < 1e-15)
    assert(r(0)._3 == Seq(64L, -127L, 32L))
    val mse = Seq(1.0f, -2.0f, 0.5f).map(_.toDouble)
      .zip(Seq(64L, -127L, 32L))
      .map { case (x, q) => math.pow(x - s * q, 2) }.sum / 3
    assert(math.abs(r(0)._4 - mse) < 1e-12)
    // zero vector: scale 0, zero codes, zero error
    assert(r(1)._2 == 0.0 && r(1)._3 == Seq(0L, 0L, 0L) && r(1)._4 == 0.0)
  }

  test("int8 on the fixture: codes bounded, max element saturates, mse within s^2/4") {
    val emb = Sources.table(spark, sf("sf0.001"), "embeddings")
    val r = Quantize.int8(emb, "vec_id", "embedding")
      .as[(Long, Double, Seq[Long], Double)].collect()
    assert(r.length == emb.count())
    assert(r.forall(_._3.forall(q => q >= -127 && q <= 127)))
    // the max-|x| element maps to exactly +/-127 whenever scale > 0
    assert(r.filter(_._2 > 0).forall(_._3.exists(q => math.abs(q) == 127)))
    // per-element quantization error is at most scale/2 (+ float slack)
    assert(r.forall(x => x._4 <= x._2 * x._2 / 4 + 1e-12))
  }

  test("int8: dequantized vectors preserve cosine geometry") {
    val emb = Sources.table(spark, sf("sf0.001"), "embeddings")
      .filter($"vec_id" < 50)
    val deq = Quantize.int8(emb, "vec_id", "embedding")
      .withColumn("recon", transform(col("q"),
        q => q.cast("double") * col("scale")))
    val drift = deq.join(emb, "vec_id")
      .select(Similarity.cosine(col("embedding"), col("recon")).as("c"))
      .agg(min("c")).as[Double].head()
    assert(drift > 0.99, s"int8 round-trip cosine fell to $drift")
  }

  test("pqCodes: a vector equal to a centroid in every subspace gets " +
      "that centroid's code everywhere; codes land in [0, K)") {
    // 4-dim vectors, m=2 subspaces of width 2; centroids 0 and 1
    val cen = Seq(
      (0L, Array(0f, 0f, 10f, 10f)),
      (1L, Array(5f, 5f, -10f, -10f))).toDF("vec_id", "embedding")
    val df = Seq(
      (10L, Array(0.1f, -0.1f, -9f, -11f)), // near cen0 in s0, cen1 in s1
      (11L, Array(5f, 5f, -10f, -10f))      // exactly cen1 everywhere
    ).toDF("vec_id", "embedding").union(cen)
    val codes = Quantize.pqCodes(df, "vec_id", "embedding", 2, cen)
      .as[(Long, Int, Long)].collect()
      .map { case (id, s, c) => (id, s) -> c }.toMap
    assert(codes((10L, 0)) == 0L && codes((10L, 1)) == 1L)
    assert(codes((11L, 0)) == 1L && codes((11L, 1)) == 1L)
    // centroids encode to themselves (distance 0, tie to own id only
    // when duplicated — here unique)
    assert(codes((0L, 0)) == 0L && codes((1L, 1)) == 1L)
    assert(codes.values.forall(c => c >= 0L && c < 2L))
  }

  test("pqAdcTopK on the fixture: valid top-k frame and real recall " +
      "against the exact-L2 twin — above chance, below perfect at K=16") {
    val emb = Sources.table(spark, sf("sf0.001"), "embeddings")
    val probes = emb.filter(col("vec_id") < 5)
    val cen = emb.filter(col("vec_id") < 16)
    val approx = Quantize.pqAdcTopK(emb, "vec_id", "embedding",
      probes, 4, cen, 10)
    val exact = Quantize.l2TopKExact(emb, "vec_id", "embedding", probes, 10)
    // both are proper top-k frames: 10 rows per probe, no self-matches
    Seq(approx, exact).foreach { f =>
      val per = f.groupBy("probe_id").count().as[(Long, Long)].collect()
      assert(per.length == 5 && per.forall(_._2 == 10L))
      assert(f.filter(col("probe_id") === col("vec_id")).count() == 0)
    }
    val rec = Ann.recallReport(approx, exact)
      .agg(avg("recall")).as[Double].head()
    assert(rec > 0.1 && rec < 1.0, s"PQ recall $rec outside (0.1, 1)")
  }

  test("pqTrain: m complete codebooks; Lloyd's objective is monotone — " +
      "trained codebooks never quantize worse than their init") {
    val emb = Sources.table(spark, sf("sf0.001"), "embeddings")
    val init = emb.filter(col("vec_id") < 16)
    val books = Quantize.pqTrain(emb, "vec_id", "embedding", 4, init, 2)
    val byS = books.as[(Int, Long, Seq[Float])].collect().groupBy(_._1)
    assert(byS.keySet == Set(0, 1, 2, 3))
    assert(byS.values.forall(_.length == 16))
    assert(byS.values.forall(_.forall(_._3.length == 16)))
    // quantization cost = sum over (vector, subspace) of the distance
    // to the assigned codeword, in the op's own integer units
    def cost(codebooks: org.apache.spark.sql.DataFrame): Long = {
      val w = 16
      val sub = emb.select(col("vec_id"),
        explode(array((0 until 4).map(s => struct(lit(s).as("s"),
          slice(col("embedding"), s * w + 1, w).as("sv"))): _*)).as("e"))
        .select(col("vec_id"), col("e.s").as("s"), col("e.sv").as("sv"))
      sub.join(codebooks, Seq("s"))
        .groupBy(col("vec_id"), col("s"))
        .agg(min(Quantize.l2i(col("sv"), col("cv"))).as("d"))
        .agg(sum("d")).as[Long].head()
    }
    val initBooks = Quantize.pqTrain(emb, "vec_id", "embedding", 4, init, 0)
    assert(cost(books) <= cost(initBooks),
      "training increased quantization cost")
    // and training actually moved at least one codeword on the fixture
    assert(books.as[(Int, Long, Seq[Float])].collect().toSet !=
      initBooks.as[(Int, Long, Seq[Float])].collect().toSet)
  }

  test("ivfPqTopK: visiting every cell reduces exactly to pqAdcTopK " +
      "(the visit bound is the ONLY approximation the IVF adds); " +
      "bounded nprobe yields a valid, generally different top-k") {
    val emb = Sources.table(spark, sf("sf0.001"), "embeddings")
    val probes = emb.filter(col("vec_id") < 5)
    val cen = emb.filter(col("vec_id") < 16)
    val coarse = emb.filter(col("vec_id") < 8)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, Long, Int)].collect().toSet
    val full = rows(Quantize.ivfPqTopK(emb, "vec_id", "embedding",
      probes, 4, cen, coarse, nprobe = 8, k = 10))
    val adc = rows(Quantize.pqAdcTopK(emb, "vec_id", "embedding",
      probes, 4, cen, 10))
    assert(full == adc)
    val bounded = Quantize.ivfPqTopK(emb, "vec_id", "embedding",
      probes, 4, cen, coarse, nprobe = 2, k = 10)
    val per = bounded.groupBy("probe_id").count().as[(Long, Long)].collect()
    assert(per.forall(_._2 <= 10L) && per.length == 5)
    assert(bounded.filter(col("probe_id") === col("vec_id")).count() == 0)
  }

  test("pqTrain (fused r16): codebooks are bit-identical to the m " +
      "sequential per-subspace Kmeans.fit loops it replaced") {
    val emb = Sources.table(spark, sf("sf0.001"), "embeddings")
    val init = emb.filter(col("vec_id") < 16)
    val fused = Quantize.pqTrain(emb, "vec_id", "embedding", 4, init, 2)
      .as[(Int, Long, Seq[Float])].collect().toSet
    // the pre-r16 shape, spelled out: one Kmeans.fit per subspace over
    // the sliced corpus/init, results stacked
    val w = 16
    val sequential = (0 until 4).flatMap { s =>
      def sub(f: org.apache.spark.sql.DataFrame) =
        f.select(col("vec_id"), slice(col("embedding"), s * w + 1, w)
          .as("embedding"))
      Kmeans.fit(sub(emb), "vec_id", "embedding", sub(init), 2)
        .as[(Long, Seq[Float])].collect()
        .map { case (cid, cv) => (s, cid, cv) }
    }.toSet
    assert(fused == sequential)
  }

  test("ivfPqTopKSweep: every sweep point is bit-identical to the " +
      "one-shot ivfPqTopK at that nprobe") {
    val emb = Sources.table(spark, sf("sf0.001"), "embeddings")
    val probes = emb.filter(col("vec_id") < 5)
    val cen = emb.filter(col("vec_id") < 16)
    val coarse = emb.filter(col("vec_id") < 8)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, Long, Int)].collect().toSet
    val sweep = Quantize.ivfPqTopKSweep(emb, "vec_id", "embedding",
      probes, 4, cen, coarse, Seq(1, 2, 4, 8), 10).toMap
    Seq(1, 2, 4, 8).foreach { np =>
      assert(rows(sweep(np)) == rows(Quantize.ivfPqTopK(emb, "vec_id",
        "embedding", probes, 4, cen, coarse, np, 10)),
        s"sweep point nprobe=$np diverged from the one-shot form")
    }
  }

  test("ivfPqTopKSweep: an m that does not divide dim fails after the " +
      "dim probe, before any barrier job") {
    import scala.jdk.CollectionConverters._
    val emb = Sources.table(spark, sf("sf0.001"), "embeddings")
    val sc = spark.sparkContext
    val group = "quantize-sweep-precondition"
    val sites = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (e.properties != null &&
            e.properties.getProperty("spark.jobGroup.id") == group)
          // the result stage is named for the job's call site
          sites.add(e.stageInfos.maxBy(_.stageId).name)
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "m does not divide dim")
    try {
      // the fixture's vectors are 64-dim; 5 does not divide 64
      intercept[IllegalArgumentException] {
        Quantize.ivfPqTopKSweep(emb, "vec_id", "embedding",
          emb.filter(col("vec_id") < 5), 5, emb.filter(col("vec_id") < 16),
          emb.filter(col("vec_id") < 8), Seq(1, 2), 10)
      }
      // the listener bus delivers in order: once this marker job is
      // seen, every job the sweep started has been seen before it
      sc.parallelize(Seq(1), 1).count()
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (!sites.asScala.exists(_.contains("QuantizeSpec")) &&
          System.nanoTime() < deadline) Thread.sleep(20)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
    val sweep = sites.asScala.toSeq.takeWhile(!_.contains("QuantizeSpec"))
    assert(sweep.nonEmpty && sweep.forall(_.startsWith("head at Quantize.scala")),
      s"the sweep ran jobs beyond the dim probe: $sweep")
  }
}

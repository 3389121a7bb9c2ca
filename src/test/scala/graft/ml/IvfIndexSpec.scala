package graft.ml

import graft.SparkSpec
import graft.ops.{Ann, Similarity, Sources}
import org.apache.spark.sql.functions._

class IvfIndexSpec extends SparkSpec {
  import spark.implicits._

  private lazy val emb = Sources.table(spark, sf("sf0.001"), "embeddings")
  private lazy val index = IvfIndex.build(emb, "vec_id", "embedding", k = 16)

  test("build: every vector assigned to exactly one of k cells") {
    assert(index.assignments.count() == emb.count())
    assert(index.centroids.count() == 16)
    val cells = index.assignments.select("cell").distinct().as[Int].collect()
    assert(cells.forall(c => c >= 0 && c < 16))
  }

  test("build runs a fixed number of Spark jobs, whatever the round count") {
    // k = 2 and k = 16 need different Lloyd round counts on this corpus
    Seq(2, 16).foreach { k =>
      val sites = jobSites(s"ivf-build-k$k") {
        IvfIndex.build(emb, "vec_id", "embedding", k) }
      assert(sites.nonEmpty && sites.length <= 3,
        s"k=$k: ${sites.length} jobs: ${sites.mkString("; ")}")
    }
  }

  test("the inverted lists are materialized: assignments read only checkpoints") {
    val qe = index.assignments.queryExecution
    val leaves = qe.optimizedPlan.collectLeaves()
    assert(leaves.nonEmpty && leaves.forall(_.nodeName == "LogicalRDD"),
      s"non-checkpoint leaves:\n${qe.optimizedPlan}")
    assert(!qe.executedPlan.toString.contains("FileScan"),
      s"file scan under the assignments:\n${qe.executedPlan}")
  }

  test("build is deterministic: same seed, same centroids and assignments") {
    def snapshot(i: IvfIndex.Index) = (
      i.centroids.orderBy("cell").as[(Int, Seq[Double])].collect().toSeq,
      i.assignments.orderBy("vec_id").as[(Long, Int, Seq[Double])].collect().toSeq)
    val again = IvfIndex.build(emb, "vec_id", "embedding", k = 16)
    assert(snapshot(again) == snapshot(index))
  }

  test("train recovers well-separated planted blobs exactly") {
    val rnd = new scala.util.Random(7)
    val k = 6
    // blob j sits at 1000·j on every axis; points jitter by at most 1
    val blobs = (0 until k).map(j =>
      Array.fill(25)(Array.fill(3)(1000.0 * j + rnd.nextDouble() * 2 - 1)))
    val sample = rnd.shuffle(blobs.flatten).toArray
    def mean(ps: Array[Array[Double]]) =
      (0 until 3).map(d => ps.map(_(d)).sum / ps.length)
    val want = blobs.map(mean).toSet
    Seq(1L, 42L, 99L).foreach { seed =>
      val got = IvfIndex.train(sample, k, seed).map(_.toSeq).toSeq
      assert(got.length == k)
      // every planted mean is matched by exactly one trained centre
      want.foreach { m =>
        assert(got.count(c => c.zip(m).forall { case (a, b) => math.abs(a - b) < 1e-9 }) == 1,
          s"seed $seed: blob mean $m not recovered in $got")
      }
    }
  }

  test("build with fewer sample points than k: the extra cells stay empty") {
    val tiny = Seq((1L, Seq(0f, 0f)), (2L, Seq(10f, 0f)), (3L, Seq(0f, 10f)))
      .toDF("vec_id", "embedding")
    val small = IvfIndex.build(tiny, "vec_id", "embedding", k = 5)
    assert(small.centroids.count() == 5)
    val cells = small.assignments.select("cell").as[Int].collect()
    assert(cells.sorted.toSeq == Seq(0, 1, 2))
  }

  test("search: ranked candidates from nprobe cells, self excluded") {
    val probes = emb.filter($"vec_id" < 5)
    val r = IvfIndex.search(index, probes, "vec_id", "embedding",
        nprobe = 4, topK = 5)
      .select("probe_id", "vec_id", "cos", "rnk")
      .as[(Long, Long, Double, Int)].collect()
    assert(r.nonEmpty)
    assert(r.forall(x => x._1 != x._2))
    r.groupBy(_._1).foreach { case (_, rs) =>
      assert(rs.map(_._4).sorted.sameElements(1 to rs.length))
      assert(rs.length <= 5)
    }
  }

  test("recall: IVF with nprobe=4/16 recovers most exact neighbors") {
    val probes = emb.filter($"vec_id" < 10)
    val exact = Similarity.cosineTopK(emb, probes, 5)
    val approx = IvfIndex.search(index, probes, "vec_id", "embedding",
      nprobe = 4, topK = 5)
    val rec = Ann.recallAgainstExact(approx, exact)
    assert(rec > 0.3, s"IVF recall $rec suspiciously low")
  }
}

package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

class KmeansSpec extends SparkSpec {
  import spark.implicits._

  private def emb(rows: (Long, Seq[Float])*) =
    rows.toDF("vec_id", "embedding")

  test("step: centroids move to exact member means; an empty cluster " +
      "keeps its previous centroid verbatim") {
    val data = emb(
      1L -> Seq(0f, 0f), 2L -> Seq(2f, 0f),      // cluster around (1,0)
      3L -> Seq(10f, 10f), 4L -> Seq(12f, 10f))  // cluster around (11,10)
    val init = emb(
      0L -> Seq(1f, 1f),      // wins rows 1,2
      1L -> Seq(11f, 9f),     // wins rows 3,4
      2L -> Seq(500f, 500f))  // wins nothing
    val cen = Kmeans.fit(data, "vec_id", "embedding", init, iters = 1)
      .collect().map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    assert(cen(0L) == Seq(1f, 0f))
    assert(cen(1L) == Seq(11f, 10f))
    assert(cen(2L) == Seq(500f, 500f)) // inherited, not respawned
  }

  test("fit: iters=0 is the init; results are bit-identical across " +
      "partitionings (the determinism that makes q168 oracle-able)") {
    val data = Sources.table(spark, sf("sf0.001"), "embeddings")
    val init = data.filter(col("vec_id") < 8)
    val zero = Kmeans.fit(data, "vec_id", "embedding", init, 0)
      .collect().map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    val initM = init.select(col("vec_id"), col("embedding"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    assert(zero == initM)
    def run(df: org.apache.spark.sql.DataFrame) =
      Kmeans.fit(df, "vec_id", "embedding", init, 2)
        .collect().map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    val a = run(data)
    assert(a == run(data.repartition(7, col("vec_id"))))
    // and the fit genuinely moved every non-empty cluster off its init
    val moved = a.count { case (cid, v) => initM(cid) != v }
    assert(moved >= 1, "no centroid moved in 2 iterations")
  }

  test("assign: every vector lands on its true nearest centroid " +
      "(cross-checked against a driver-side argmin)") {
    val data = Sources.table(spark, sf("sf0.001"), "embeddings")
      .limit(40)
    val cen = data.filter(col("vec_id") < 4)
    val got = Kmeans.assign(data, "vec_id", "embedding", cen)
      .as[(Long, Long)].collect().toMap
    val vecs = data.select("vec_id", "embedding")
      .collect().map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    val cens = cen.select("vec_id", "embedding")
      .collect().map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    def d2(a: Seq[Float], b: Seq[Float]): Double =
      a.zip(b).map { case (x, y) => (x.toDouble - y) * (x.toDouble - y) }.sum
    vecs.foreach { case (id, v) =>
      val best = cens.toSeq.map { case (cid, cv) => (d2(v, cv), cid) }
        .min._2
      assert(got(id) == best, s"vec $id: got ${got(id)}, want $best")
    }
  }

  test("kCenterGreedy: min-id seed, then farthest-point rounds with " +
      "min-id ties — hand-replayed on a 1-D line") {
    // points 0, 1, 10, 11, 20: seed id1 (0); round 2 takes 20 (d 400);
    // round 3: id3 min(100,100)=100 beats id4 min(121,81)=81
    val pts = Seq((1L, Seq(0.0f)), (2L, Seq(1.0f)), (3L, Seq(10.0f)),
      (4L, Seq(11.0f)), (5L, Seq(20.0f))).toDF("vec_id", "embedding")
    val sel = Kmeans.kCenterGreedy(pts, "vec_id", "embedding", 3)
      .orderBy("round").as[(Long, Long)].collect().toSeq
    assert(sel == Seq((1L, 1L), (2L, 5L), (3L, 3L)))
    // coverage of the selected set: {0} <- {0,1}; {10} <- {10,11};
    // {20} <- {20}; radii are the integerized squared distances
    val cen = pts.filter(col("vec_id").isin(1L, 3L, 5L))
    val cov = Kmeans.coverage(pts, "vec_id", "embedding", cen)
      .orderBy("cluster").as[(Long, Long, Long)].collect().toSeq
    assert(cov == Seq((1L, 2L, 1000000000L), (3L, 2L, 1000000000L),
      (5L, 1L, 0L)))
  }

  test("kCenterGreedy: an all-duplicates corpus still selects k " +
      "DISTINCT ids (in id order); partitioning never changes the set") {
    val dup = Seq((7L, Seq(1.0f, 2.0f)), (3L, Seq(1.0f, 2.0f)),
      (5L, Seq(1.0f, 2.0f))).toDF("vec_id", "embedding")
    val sel = Kmeans.kCenterGreedy(dup, "vec_id", "embedding", 3)
      .orderBy("round").as[(Long, Long)].collect().toSeq
    assert(sel == Seq((1L, 3L), (2L, 5L), (3L, 7L)))
    val emb = Sources.table(spark, sf("sf0.001"), "embeddings")
    val a = Kmeans.kCenterGreedy(emb, "vec_id", "embedding", 4)
      .as[(Long, Long)].collect().toSet
    val b = Kmeans.kCenterGreedy(emb.repartition(9), "vec_id",
      "embedding", 4).as[(Long, Long)].collect().toSet
    assert(a == b && a.size == 4)
  }
}

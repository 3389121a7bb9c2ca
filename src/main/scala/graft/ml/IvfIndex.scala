package graft.ml

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.ops.{Barrier, Portable, Similarity}

/** IVF (inverted-file) approximate nearest-neighbor index: a k-means
  * coarse quantizer assigns every corpus vector to its nearest centroid;
  * a probe searches only the `nprobe` closest centroid lists. The
  * centroid count ~ sqrt(corpus) keeps the per-probe candidate set
  * ~sqrt-sized — the classic FAISS IVF-Flat layout expressed
  * relationally.
  *
  * Training follows FAISS's IVF recipe: the coarse quantizer is fitted
  * once, on the driver, on a bounded sample, and the corpus is then
  * added in one assignment pass.
  *  - Sample: at most 256·k vectors (FAISS's `max_points_per_centroid`),
  *    the first in [[graft.ops.Portable.seededHash]]`(id, 42)` order —
  *    one top-k job, no count. Driver memory is bounded by the sample,
  *    256·k × dim doubles, whatever the corpus size.
  *  - Fit: seeded k-means++ init, then Lloyd in double squared L2 until
  *    no sample point changes cell or 20 rounds pass. Each round costs
  *    ∝ 256·k²·dim on the driver, independent of the corpus size, and
  *    runs no Spark job. Ties go to the smaller cell; a cell that loses
  *    every point keeps its centre. When the sample holds fewer distinct
  *    points than k, the surplus cells copy cell 0's centre, so by the
  *    tie rule they get no vectors: `centroids` still has k rows.
  *  - Assign: one map-only pass (no Exchange) over the corpus with the
  *    centroids broadcast, same argmin and tie rule, materialized behind
  *    [[graft.ops.Barrier.cut]].
  *
  * Complements [[graft.ops.Ann]] (SRP-LSH, deterministic/oracle-able):
  * IVF adapts to the data distribution (learned centroids) where LSH is
  * data-oblivious. Training is seeded (seed 42) and deterministic (the
  * same corpus gives the same centroids and assignments) but not
  * replayed by the oracle — spec-verified, not oracle-backed.
  *
  * Scale posture: the index holds its inverted lists materialized, so
  * every search reads the checkpointed (vec_id, cell, v) table and never
  * re-reads or re-assigns the corpus; centroids (k × dim) broadcast, and
  * the search is a broadcast join from probes to their nprobe lists.
  */
object IvfIndex {

  /** FAISS's `max_points_per_centroid`: the sample holds at most this
    * many vectors per cell. */
  private val SamplePerCell = 256
  /** MLlib KMeans' default `maxIter`. */
  private val MaxRounds = 20
  /** Seed of the sample order and the k-means++ init. */
  private val Seed = 42L

  /** Assignment table (vec_id, cell, v: array<double>) + centroid table
    * (cell, c: array<double>). */
  case class Index(assignments: DataFrame, centroids: DataFrame)

  /** Build the index: fit the coarse quantizer on a seeded sample of at
    * most 256·k vectors, then assign every vector to its cell and
    * materialize the inverted lists (see the object doc). */
  def build(corpus: DataFrame, idCol: String, vecCol: String,
            k: Int): Index = {
    require(k >= 1, s"IvfIndex.build: k = $k, need at least one cell")
    val vecs = corpus.select(col(idCol),
      transform(col(vecCol), _.cast("double")).as("v"))
    val sample = vecs
      .orderBy(Portable.seededHash(col(idCol), lit(Seed)), col(idCol))
      .limit(SamplePerCell * k).collect()
      .map(_.getSeq[Double](1).toArray)
    require(sample.nonEmpty, "IvfIndex.build: empty corpus")
    val centres = train(sample, k, Seed)
    val spark = corpus.sparkSession
    val bc = spark.sparkContext.broadcast(centres)
    val cellOf = udf((v: Seq[Double]) => nearest(v.toArray, bc.value))
    val assignments = Barrier.cut(
      vecs.select(col(idCol), cellOf(col("v")).as("cell"), col("v")))
    Index(assignments, centroidTable(spark, centres))
  }

  /** The centroid table (cell, c: array<double>) of `centres`. */
  private def centroidTable(spark: SparkSession,
                            centres: Array[Array[Double]]): DataFrame = {
    import spark.implicits._
    centres.zipWithIndex.map { case (c, i) => (i, c.toSeq) }.toSeq
      .toDF("cell", "c")
  }

  private def sqDist(a: Array[Double], b: Array[Double]): Double = {
    var s = 0.0
    var i = 0
    while (i < a.length) { val d = a(i) - b(i); s += d * d; i += 1 }
    s
  }

  /** Index of the centre nearest to `v` in squared L2; ties go to the
    * smaller index. */
  private def nearest(v: Array[Double], centres: Array[Array[Double]]): Int = {
    var best = 0
    var bestD = sqDist(v, centres(0))
    var j = 1
    while (j < centres.length) {
      val d = sqDist(v, centres(j))
      if (d < bestD) { best = j; bestD = d }
      j += 1
    }
    best
  }

  /** The Spark-free coarse-quantizer fit on a non-empty sample: seeded
    * k-means++ init, then Lloyd until no point changes cell or
    * [[MaxRounds]] rounds (see the object doc for ties, empty cells and
    * a sample with fewer distinct points than k). Returns k centres. */
  private[ml] def train(sample: Array[Array[Double]], k: Int,
                        seed: Long): Array[Array[Double]] = {
    val n = sample.length
    val rnd = new java.util.Random(seed)
    val centres = new Array[Array[Double]](k)
    centres(0) = sample(rnd.nextInt(n)).clone()
    // d2(i): squared distance from point i to its nearest chosen centre
    val d2 = sample.map(sqDist(_, centres(0)))
    for (j <- 1 until k) {
      val total = d2.sum
      centres(j) = if (total == 0.0) centres(0).clone() else {
        // draw a point with probability d2(i) / total
        val r = rnd.nextDouble() * total
        var acc = 0.0
        var pick = -1
        var i = 0
        while (i < n && pick < 0) {
          acc += d2(i)
          if (d2(i) > 0.0 && r < acc) pick = i
          i += 1
        }
        sample(if (pick >= 0) pick else d2.lastIndexWhere(_ > 0.0)).clone()
      }
      for (i <- 0 until n) d2(i) = math.min(d2(i), sqDist(sample(i), centres(j)))
    }
    val dim = sample(0).length
    val cell = Array.fill(n)(-1)
    var changed = true
    var round = 0
    while (changed && round < MaxRounds) {
      changed = false
      for (i <- 0 until n) {
        val c = nearest(sample(i), centres)
        if (c != cell(i)) { cell(i) = c; changed = true }
      }
      if (changed) {
        val sums = Array.fill(k)(new Array[Double](dim))
        val counts = new Array[Int](k)
        for (i <- 0 until n) {
          val s = sums(cell(i))
          var d = 0
          while (d < dim) { s(d) += sample(i)(d); d += 1 }
          counts(cell(i)) += 1
        }
        for (j <- 0 until k if counts(j) > 0)
          centres(j) = sums(j).map(_ / counts(j))
      }
      round += 1
    }
    centres
  }

  /** ANN search: per probe, rank cells by centroid distance, take the
    * `nprobe` nearest, brute-force cosine only within those cells.
    * Centroid table is broadcast (k rows); the candidate join is keyed
    * on cell. Returns (probe_id, vec_id, cos, rnk <= topK). */
  def search(index: Index, probes: DataFrame, idCol: String, vecCol: String,
             nprobe: Int, topK: Int): DataFrame = {
    val p = probes.select(col(idCol).as("probe_id"),
      transform(col(vecCol), _.cast("double")).as("pv"))
    val probeCells = p.crossJoin(broadcast(index.centroids))
      .withColumn("cdist",
        Similarity.dot(col("pv"), col("pv")) -
          lit(2.0) * Similarity.dot(col("pv"), col("c")) +
          Similarity.dot(col("c"), col("c")))
      .withColumn("crnk", row_number().over(
        Window.partitionBy(col("probe_id")).orderBy(asc("cdist"), asc("cell"))))
      .filter(col("crnk") <= nprobe)
      .select(col("probe_id"), col("pv"), col("cell"))
    probeCells.join(index.assignments, Seq("cell"))
      .filter(col("probe_id") =!= col(idCol))
      .withColumn("cos", Similarity.cosine(col("v"), col("pv")))
      .withColumn("rnk", row_number().over(
        Window.partitionBy(col("probe_id")).orderBy(desc("cos"), asc(idCol))))
      .filter(col("rnk") <= topK)
      .select(col("probe_id"), col(idCol).as("vec_id"), col("cos"), col("rnk"))
  }
}

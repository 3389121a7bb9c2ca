package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Deterministic Lloyd k-means over an embedding column — the trainer
  * for the centroid tables every vector operator here consumes
  * ([[Dedup.semanticAssign]]'s clusters, [[Quantize.pqCodes]]'
  * codebooks, [[Quantize.ivfAssign]]'s cells currently pin first-K-rows
  * choices; `fit` upgrades them to data-driven centers without giving
  * up the oracle).
  *
  * Every source of nondeterminism in textbook k-means is closed:
  *  - init is the caller's frame (the first-K-rows pattern — q168 pins
  *    it), not a random sample;
  *  - assignment is argmin of the 9-dp-integerized squared L2
  *    ([[Quantize.l2i]]) with ties to the smaller centroid id;
  *  - the update is [[Similarity.meanPoolEmbeddings]] — per-dimension
  *    exact-LONG sums, one double division sequence, float32 narrowing
  *    — so new centroids are bit-identical at any partitioning and in
  *    the DuckDB oracle's unrolled-CTE replay;
  *  - clusters that lose every member KEEP their previous centroid
  *    (the common "respawn at a random point" policy is unreplayable).
  *
  * Scale shape per iteration: one broadcast of k centroids, one
  * map-side-combined argmin over the corpus, one wide pooled
  * aggregation (shuffle = one dim-wide row per (cluster, map
  * partition)) — the corpus is scanned once per iteration and nothing
  * corpus-sized ever sits on the driver. Iterations chain through
  * [[Barrier.cut]] so the lineage (and any executor loss) never replays
  * iteration i−1 inside iteration i.
  */
object Kmeans {

  /** Hard assignment against the given centroids: (idCol, cluster).
    * Broadcast centroids, map-side-combined argmin, ties to the
    * smaller centroid id; [[Quantize.ivfAssign]] is this, its column
    * named `cell`. */
  def assign(df: DataFrame, idCol: String, vecCol: String,
             centroids: DataFrame): DataFrame = {
    val cen = centroids.select(col(idCol).as("__cid"),
      col(vecCol).as("__cv"))
    df.select(col(idCol), col(vecCol))
      .crossJoin(broadcast(cen))
      .withColumn("__d", Quantize.l2i(col(vecCol), col("__cv")))
      .groupBy(col(idCol))
      .agg(min_by(col("__cid"), struct(col("__d"), col("__cid")))
        .as("cluster"))
  }

  /** The Lloyd-update pooling sums shared by [[fit]]'s step and
    * [[Quantize.pqTrain]] — per-dimension exact-LONG sums of the
    * 1e9-integerized coordinates, [[Similarity.meanPoolEmbeddings]]'s
    * arithmetic verbatim (sum order is commutative over longs, the one
    * double division sequence happens in [[poolMean]]). */
  private[ops] def poolSums(vec: org.apache.spark.sql.Column, dim: Int) =
    (0 until dim).map(i =>
      sum(floor(element_at(vec, i + 1).cast("double")
        * lit(1e9) + lit(0.5)).cast("long")).as(s"__s$i"))

  /** The exact-integer mean finish: (Σ int9) / n / 1e9 per dimension,
    * float32-narrowed — bit-identical to
    * [[Similarity.meanPoolEmbeddings]]'s output at any partitioning. */
  private[ops] def poolMean(dim: Int) =
    array((0 until dim).map(i =>
      (col(s"__s$i").cast("double") / col("__n") / lit(1e9))
        .cast("float")): _*)

  /** One Lloyd update: assign, then per-cluster exact-integer mean;
    * empty clusters keep their previous centroid. Returns the new
    * centroid table in the input's (idCol, vecCol) shape.
    *
    * Shape (r16): the member VECTOR rides through the assignment argmin
    * (every candidate row of a vector carries the same array, so
    * min_by returns it verbatim) and the pooling aggregates it
    * directly — the previous shape re-attached vectors to assignments
    * with an id-keyed corpus join ([[Similarity.meanPoolEmbeddings]]),
    * one whole extra corpus shuffle per Lloyd step. Arithmetic is
    * meanPoolEmbeddings' verbatim ([[poolSums]]/[[poolMean]]), so the
    * centroids are bit-identical. */
  private def stepWithDim(df: DataFrame, idCol: String, vecCol: String,
                          centroids: DataFrame, dim: Int): DataFrame = {
    val cen = centroids.select(col(idCol).as("__cid"),
      col(vecCol).as("__cv"))
    val members = df.select(col(idCol), col(vecCol))
      .crossJoin(broadcast(cen))
      .withColumn("__d", Quantize.l2i(col(vecCol), col("__cv")))
      .groupBy(col(idCol))
      .agg(min_by(struct(col("__cid"), col(vecCol).as("__v")),
        struct(col("__d"), col("__cid"))).as("__m"))
      .select(col("__m.__cid").as("__g"), col("__m.__v"))
    val pooled = members.groupBy(col("__g"))
      .agg(count(lit(1)).as("__n"), poolSums(col("__v"), dim): _*)
      .select(col("__g").as(idCol), poolMean(dim).as(vecCol))
    val kept = centroids.select(col(idCol), col(vecCol))
      .join(pooled.select(col(idCol)), Seq(idCol), "left_anti")
    pooled.unionByName(kept)
  }

  /** `iters` Lloyd updates from `init` (any (idCol, vecCol) frame with
    * k rows — q168 pins first-K). Returns the final centroid table;
    * feed it back through [[assign]] / [[Quantize.pqCodes]] /
    * [[Quantize.ivfAssign]]. */
  def fit(df: DataFrame, idCol: String, vecCol: String, init: DataFrame,
          iters: Int): DataFrame = {
    require(iters >= 0, s"iters must be >= 0, got $iters")
    // fixed-dimension by contract: probe once for the whole fit, not
    // once per step
    lazy val dim = df.select(size(col(vecCol)).as("n")).head().getInt(0)
    var cen = init.select(col(idCol), col(vecCol))
    for (_ <- 0 until iters)
      cen = Barrier.cut(stepWithDim(df, idCol, vecCol, cen, dim))
    cen
  }

  /** Coverage report of a centroid set: per centroid its member count
    * and `radius_i` — the max integerized distance among members, so
    * the k-center objective (what [[kCenterGreedy]] minimizes) is the
    * max over this column. Same broadcast-argmin shape and tie policy
    * as [[assign]], plus the distance carried to one more max-agg.
    * Returns (cluster, n_assigned, radius_i). */
  def coverage(df: DataFrame, idCol: String, vecCol: String,
               centroids: DataFrame): DataFrame = {
    val cen = centroids.select(col(idCol).as("__cid"),
      col(vecCol).as("__cv"))
    df.select(col(idCol), col(vecCol))
      .crossJoin(broadcast(cen))
      .withColumn("__d", Quantize.l2i(col(vecCol), col("__cv")))
      .groupBy(col(idCol))
      .agg(min(struct(col("__d"), col("__cid"))).as("__m"))
      .select(col("__m.__cid").as("cluster"), col("__m.__d").as("__d"))
      .groupBy(col("cluster"))
      .agg(count(lit(1)).as("n_assigned"), max(col("__d")).as("radius_i"))
  }

  /** Greedy k-center selection (Gonzalez'85 2-approximation; Sener &
    * Savarese, ICLR'18 use it as the CORESET selector) — the diverse-
    * subset primitive: pick the point farthest from everything picked
    * so far, k times. Where [[fit]] finds density centers, this finds
    * COVERAGE centers — the right selection when labeling budget or a
    * seed-prompt set must span the embedding space, not mirror its
    * density.
    *
    * Determinism, textbook holes closed: the seed is the SMALLEST id
    * (the first-K/q168 init discipline, not a random draw); distances
    * are the 9-dp-integerized squared L2 ([[Quantize.l2i]]) on
    * float→double-exact coordinates; the argmax breaks ties toward the
    * smaller id. Returns (round 1-based, idCol) — join it back to the
    * corpus for the vectors, or feed [[assign]] for the coverage
    * partition.
    *
    * Shape: k passes, each a broadcast of ≤ k collected center vectors
    * (k·d doubles — bounded driver state, the [[graft.ops.Bpe]] argmax
    * class) into a map-only `least`-of-k distance projection and ONE
    * TakeOrdered(1) — no joins, no shuffles beyond the top-1 reduce.
    * Greedy k-center is inherently sequential in k; at 100 TB with
    * large k, batch variants (pick the top-B per pass) trade the
    * 2-approximation bound for k/B passes — this is the exact,
    * oracle-able form those are audited against. */
  def kCenterGreedy(df: DataFrame, idCol: String, vecCol: String,
                    k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val spark = df.sparkSession
    val pts = df.select(col(idCol), col(vecCol).cast("array<double>")
      .as("__v"))
    val seed = pts.orderBy(col(idCol)).limit(1)
      .select(col(idCol), col("__v")).collect()(0)
    var centers = Vector[(Long, Seq[Double])](
      (seed.getLong(0), seed.getSeq[Double](1)))
    while (centers.size < k) {
      val dists = centers.map { case (_, v) =>
        Quantize.l2i(col("__v"), typedLit(v)) }
      val next = pts
        .withColumn("__d",
          if (dists.size == 1) dists.head else least(dists: _*))
        .filter(!col(idCol).isin(centers.map(_._1): _*))
        .orderBy(desc("__d"), col(idCol))
        .limit(1).select(col(idCol), col("__v")).collect()(0)
      centers = centers :+ ((next.getLong(0), next.getSeq[Double](1)))
    }
    import spark.implicits._
    centers.zipWithIndex
      .map { case ((id, _), i) => (i.toLong + 1L, id) }
      .toDF("round", idCol)
  }
}

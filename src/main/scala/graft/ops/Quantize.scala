package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Embedding compression (SURVEY.md §7.4) — at 100 TB the embedding
  * column IS the storage bill (a 768-dim float32 vector is 3 KB/row),
  * and symmetric int8 quantization is the standard 4× cut that keeps
  * cosine rankings essentially intact (the ANN/dedup operators consume
  * the dequantized vectors unchanged).
  *
  * Per-vector symmetric scheme: `scale = max|x| / 127`,
  * `q_i = clamp(floor(x_i / scale + 0.5), -127, 127)` — round-half-up
  * spelled as floor(+0.5) because both engines define floor identically
  * (banker's-rounding `round()` differs between engines on exact .5
  * ties, floor never does). A zero vector has scale 0 and quantizes to
  * zeros (the division is guarded — IEEE x/0 would be ±Inf and ANSI
  * mode faults the long cast). The per-vector reconstruction MSE is
  * computed from three [[graft.functions.FoldDot]] dot products via
  *   Σ(x − s·q)² = x·x − 2s(x·q) + s²(q·q)
  * so the error never needs a materialized reconstruction array, and
  * the oracle mirrors the identical three-fold + scalar combination.
  *
  * Shape: map-only — no shuffle, no driver round-trip; the per-element
  * lambda is an interpreted `transform` (a custom codegen Expression
  * would widen the whole-stage span; the scale posture is unaffected —
  * this is pure per-row compute that parallelizes with the scan). */
object Quantize {

  /** The code projection alone: (idCol, carry…, vecCol, scale,
    * q: array<long> in [-127,127]) — map-only, no shuffle. `carry`
    * columns ride along untouched so downstream quantized-domain
    * consumers (e.g. [[Ann.labelPrototypes]]) never pay an id-keyed
    * join to recover them. */
  def int8Codes(df: DataFrame, idCol: String, vecCol: String,
                carry: Seq[String] = Nil): DataFrame = {
    val v = col(vecCol)
    val keep = (col(idCol) +: carry.map(col)) :+ v
    val scaled = df.select(keep :+
      (array_max(transform(v, x => abs(x.cast("double")))) / lit(127.0))
        .as("scale"): _*)
    scaled.withColumn("q",
      when(col("scale") === 0, transform(v, _ => lit(0L)))
        .otherwise(transform(v, x =>
          least(greatest(floor(x.cast("double") / col("scale") + lit(0.5)),
            lit(-127L)), lit(127L)))))
  }

  /** Squared-L2 distance, 9-dp rounded then integerized at 1e9 — the
    * engine-portable comparison unit for every PQ ranking below
    * (identical IEEE op shape in the DuckDB oracle; integer sums and
    * integer ties are order-free). Expanded as a·a − 2(a·b) + b·b so
    * it is three codegen'd FoldDot folds, no materialized diff array. */
  private[ops] def l2i(a: org.apache.spark.sql.Column,
                  b: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    floor(round(graft.functions.FoldDot(a, a)
      - lit(2.0) * graft.functions.FoldDot(a, b)
      + graft.functions.FoldDot(b, b), 9) * 1e9 + lit(0.5)).cast("long")

  private def subspaces(df: DataFrame, idCol: String, vecCol: String,
                        m: Int, w: Int, idAs: String,
                        svAs: String): DataFrame =
    df.select(col(idCol).as(idAs),
        explode(array((0 until m).map(s => struct(lit(s).as("s"),
          slice(col(vecCol), s * w + 1, w).as(svAs))): _*)).as("__e"))
      .select(col(idAs), col("__e.s").as("s"), col(s"__e.$svAs").as(svAs))

  /** Product-quantization codes (Jégou et al., TPAMI'11): the vector
    * splits into `m` contiguous subvectors and each subvector is
    * replaced by the id of its nearest centroid in that subspace's
    * codebook — m small ints instead of d floats (64-dim float32 at
    * m=4, K=16 → 2 bytes/vector, a 128× cut, vs int8's fixed 4×).
    * `centroids` is any (idCol, vecCol) frame sharing the dimension —
    * per-subspace k-means codebooks on a real run; the q166 oracle
    * pins the first-K-rows choice (the [[graft.ops.Dedup.semanticAssign]]
    * pattern). Nearest is argmin of the integerized distance with ties
    * to the smaller centroid id — deterministic and oracle-able.
    *
    * Shape: codebooks broadcast (m·K subvectors); the corpus streams
    * through a subspace explode (m rows per vector) and collapses back
    * via a min_by hash aggregate — map-side combined, shuffle is one
    * row per (vector, subspace). Output: (idCol, s, code). */
  def pqCodes(df: DataFrame, idCol: String, vecCol: String, m: Int,
              centroids: DataFrame): DataFrame = {
    require(m >= 1, s"m must be >= 1, got $m")
    val dim = df.select(size(col(vecCol)).as("n")).head().getInt(0)
    require(dim % m == 0, s"dim $dim not divisible by m=$m")
    val w = dim / m
    pqCodesFrom(df, idCol, vecCol, m, w,
      subspaces(centroids, idCol, vecCol, m, w, "cid", "cv"))
  }

  /** [[pqCodes]] against an explicit per-subspace codebook frame
    * (s, cid, cv) — the form [[pqTrain]] produces. */
  def pqCodesFrom(df: DataFrame, idCol: String, vecCol: String, m: Int,
                  w: Int, codebooks: DataFrame): DataFrame = {
    val corpus = subspaces(df, idCol, vecCol, m, w, idCol, "sv")
    corpus.join(broadcast(codebooks), Seq("s"))
      .withColumn("__d", l2i(col("sv"), col("cv")))
      .groupBy(col(idCol), col("s"))
      .agg(min_by(col("cid"), struct(col("__d"), col("cid"))).as("code"))
  }

  /** Train per-subspace PQ codebooks with deterministic k-means
    * ([[graft.ops.Kmeans.fit]] run once per subspace — m is small by
    * construction, so the driver loop is m·iters bounded jobs, each
    * corpus-parallel): the step from "codebooks pinned to the first K
    * rows" (q166) to codebooks that actually sit in the data's density
    * (q171 measures what that buys in recall, same protocol). `init`
    * follows the [[Kmeans.fit]] convention per subspace — the first-K
    * vectors' subvectors. Output: (s, cid, cv: array<float>). */
  def pqTrain(df: DataFrame, idCol: String, vecCol: String, m: Int,
              init: DataFrame, iters: Int): DataFrame = {
    val dim = df.select(size(col(vecCol)).as("n")).head().getInt(0)
    require(dim % m == 0, s"dim $dim not divisible by m=$m")
    val w = dim / m
    // All m subspace trainers run FUSED in one iteration loop keyed by
    // (s, cid) — the subspaces are independent, so per subspace this is
    // exactly [[Kmeans.fit]]'s Lloyd update (same argmin ties, same
    // exact-integer pooling via [[Kmeans.poolSums]]/[[Kmeans.poolMean]],
    // same empty-cluster keep), but the corpus is scanned once per
    // iteration instead of once per (subspace × iteration) and the loop
    // runs `iters` barriered jobs instead of m·iters — the guide §1.2
    // pass-count rule applied to codebook training. Codebook values are
    // bit-identical to the per-subspace form.
    var books = subspaces(init, idCol, vecCol, m, w, "cid", "cv")
      .select(col("s"), col("cid"), col("cv"))
    for (_ <- 0 until iters) {
      val corpus = subspaces(df, idCol, vecCol, m, w, idCol, "sv")
      val members = corpus.join(broadcast(books), Seq("s"))
        .withColumn("__d", l2i(col("sv"), col("cv")))
        .groupBy(col(idCol), col("s"))
        .agg(min_by(struct(col("cid"), col("sv").as("__v")),
          struct(col("__d"), col("cid"))).as("__m"))
        .select(col("s"), col("__m.cid").as("__g"), col("__m.__v"))
      val pooled = members.groupBy(col("s"), col("__g"))
        .agg(count(lit(1)).as("__n"), Kmeans.poolSums(col("__v"), w): _*)
        .select(col("s"), col("__g").as("cid"),
          Kmeans.poolMean(w).as("cv"))
      val kept = books.join(pooled.select(col("s"), col("cid")),
        Seq("s", "cid"), "left_anti")
      books = graft.ops.Barrier.cut(pooled.unionByName(kept))
    }
    books
  }

  /** Asymmetric-distance (ADC) top-k over PQ codes: the probe stays
    * full-precision, each subspace contributes its exact
    * probe-to-centroid distance for the CODE the corpus vector stored,
    * and the approximate distance is the sum — the standard PQ search
    * (the probe×codebook distance TABLE is m·K scalars, broadcast;
    * the corpus never rereads its floats). Integer distance units make
    * the sum and the ranking order-free. Returns
    * (probe_id, vec_id, rnk ≤ k), self-matches dropped. Audit recall
    * against [[l2TopKExact]] — the q150/q109 pattern (q166). */
  def pqAdcTopK(df: DataFrame, idCol: String, vecCol: String,
                probes: DataFrame, m: Int, centroids: DataFrame,
                k: Int): DataFrame = {
    val dim = df.select(size(col(vecCol)).as("n")).head().getInt(0)
    val w = dim / m
    pqAdcTopKFrom(df, idCol, vecCol, probes, m, w,
      subspaces(centroids, idCol, vecCol, m, w, "cid", "cv"), k)
  }

  /** [[pqAdcTopK]] against an explicit (s, cid, cv) codebook frame. */
  def pqAdcTopKFrom(df: DataFrame, idCol: String, vecCol: String,
                    probes: DataFrame, m: Int, w: Int,
                    codebooks: DataFrame, k: Int): DataFrame = {
    val codes = pqCodesFrom(df, idCol, vecCol, m, w, codebooks)
    val tab = subspaces(probes, idCol, vecCol, m, w, "probe_id", "pv")
      .join(codebooks, Seq("s"))
      .select(col("probe_id"), col("s"), col("cid"),
        l2i(col("pv"), col("cv")).as("__d"))
    codes.join(broadcast(tab),
        codes("s") === tab("s") && codes("code") === tab("cid"))
      .select(col("probe_id"), codes(idCol).as("vec_id"), col("__d"))
      .groupBy(col("probe_id"), col("vec_id"))
      .agg(sum(col("__d")).as("__ad"))
      .filter(col("vec_id") =!= col("probe_id"))
      .withColumn("rnk", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("probe_id"))
          .orderBy(col("__ad"), col("vec_id"))))
      .filter(col("rnk") <= k)
      .select(col("probe_id"), col("vec_id"), col("rnk"))
  }

  /** IVF coarse assignment: every vector goes to its nearest coarse
    * centroid by the same integerized L2 (ties to the smaller cell id)
    * — the inverted-file half of IVF-PQ. Broadcast centroids, map-side
    * combined argmin; output (idCol, cell). */
  def ivfAssign(df: DataFrame, idCol: String, vecCol: String,
                coarse: DataFrame): DataFrame = {
    val cen = coarse.select(col(idCol).as("__cid"),
      col(vecCol).as("__cv"))
    df.select(col(idCol), col(vecCol))
      .crossJoin(broadcast(cen))
      .withColumn("__d", l2i(col(vecCol), col("__cv")))
      .groupBy(col(idCol))
      .agg(min_by(col("__cid"), struct(col("__d"), col("__cid")))
        .as("cell"))
  }

  /** IVF-PQ search — the production ANN stack (FAISS's default index
    * family) composed from the two verified halves: the inverted file
    * restricts candidates to the probe's `nprobe` nearest coarse cells
    * (corpus touched ∝ nprobe/nCells — the knob that makes 100 TB
    * searchable), and [[pqCodes]]+ADC rank the survivors from 2-byte
    * codes. Deviation from FAISS, documented: codes quantize RAW
    * vectors, not cell residuals — the cell only gates candidacy, so
    * the ADC ranking is exactly [[pqAdcTopK]]'s restricted to the
    * visited cells (and the recall gap between q166 and q167 prices
    * the visit bound alone). Returns (probe_id, vec_id, rnk ≤ k);
    * audit against [[l2TopKExact]] (q167). */
  def ivfPqTopK(df: DataFrame, idCol: String, vecCol: String,
                probes: DataFrame, m: Int, centroids: DataFrame,
                coarse: DataFrame, nprobe: Int, k: Int): DataFrame = {
    require(nprobe >= 1, s"nprobe must be >= 1, got $nprobe")
    val dim = df.select(size(col(vecCol)).as("n")).head().getInt(0)
    val w = dim / m
    val cells = ivfAssign(df, idCol, vecCol, coarse)
    val codes = pqCodes(df, idCol, vecCol, m, centroids)
    val cen = coarse.select(col(idCol).as("__cid"), col(vecCol).as("__cv"))
    val probeCells = probes.select(col(idCol).as("probe_id"),
        col(vecCol).as("__pv"))
      .crossJoin(broadcast(cen))
      .withColumn("__d", l2i(col("__pv"), col("__cv")))
      .withColumn("__r", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("probe_id"))
          .orderBy(col("__d"), col("__cid"))))
      .filter(col("__r") <= nprobe)
      .select(col("probe_id"), col("__cid").as("cell"))
    val pqCen = subspaces(centroids, idCol, vecCol, m, w, "cid", "cv")
    val tab = subspaces(probes, idCol, vecCol, m, w, "probe_id", "pv")
      .join(pqCen, Seq("s"))
      .select(col("probe_id"), col("s"), col("cid"),
        l2i(col("pv"), col("cv")).as("__d"))
    val cand = codes.join(cells, Seq(idCol))
      .join(broadcast(probeCells), Seq("cell"))
    cand.join(broadcast(tab),
        cand("probe_id") === tab("probe_id") && cand("s") === tab("s")
          && cand("code") === tab("cid"))
      .select(cand("probe_id"), cand(idCol).as("vec_id"), tab("__d"))
      .groupBy(col("probe_id"), col("vec_id"))
      .agg(sum(col("__d")).as("__ad"))
      .filter(col("vec_id") =!= col("probe_id"))
      .withColumn("rnk", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("probe_id"))
          .orderBy(col("__ad"), col("vec_id"))))
      .filter(col("rnk") <= k)
      .select(col("probe_id"), col("vec_id"), col("rnk"))
  }

  /** The [[ivfPqTopK]] nprobe SWEEP with the shared frames factored
    * out (q174): cells, codes, the probe distance table, and the
    * ranked probe→cell list are pure functions of the index — derive
    * each ONCE behind a barrier and run only the per-nprobe gate +
    * ADC tail per sweep point, instead of rebuilding the whole index
    * per point (guide §1.2 — the sweep re-derived 4 identical
    * cell/code frames; the scaladoc of q174 always named the shared
    * form as the production posture). Per nprobe the result is
    * bit-identical to [[ivfPqTopK]]: the ranked cell list filtered at
    * `__r <= np` equals the per-np row_number window (same ordering,
    * same ties), and everything downstream is the same expression
    * tree. Returns (np, topK frame) pairs in `nprobes` order. */
  def ivfPqTopKSweep(df: DataFrame, idCol: String, vecCol: String,
                     probes: DataFrame, m: Int, centroids: DataFrame,
                     coarse: DataFrame, nprobes: Seq[Int],
                     k: Int): Seq[(Int, DataFrame)] = {
    require(nprobes.nonEmpty && nprobes.forall(_ >= 1),
      s"nprobes must all be >= 1, got $nprobes")
    require(m >= 1, s"m must be >= 1, got $m")
    val dim = df.select(size(col(vecCol)).as("n")).head().getInt(0)
    require(dim % m == 0, s"dim $dim not divisible by m=$m")
    val w = dim / m
    val cut = graft.ops.Barrier.cut _
    val cells = cut(ivfAssign(df, idCol, vecCol, coarse))
    val codes = cut(pqCodes(df, idCol, vecCol, m, centroids))
    val cen = coarse.select(col(idCol).as("__cid"), col(vecCol).as("__cv"))
    val rankedCells = cut(probes
      .select(col(idCol).as("probe_id"), col(vecCol).as("__pv"))
      .crossJoin(broadcast(cen))
      .withColumn("__d", l2i(col("__pv"), col("__cv")))
      .withColumn("__r", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("probe_id"))
          .orderBy(col("__d"), col("__cid"))))
      .filter(col("__r") <= nprobes.max)
      .select(col("probe_id"), col("__cid").as("cell"), col("__r")))
    val pqCen = subspaces(centroids, idCol, vecCol, m, w, "cid", "cv")
    val tab = cut(subspaces(probes, idCol, vecCol, m, w, "probe_id", "pv")
      .join(pqCen, Seq("s"))
      .select(col("probe_id"), col("s"), col("cid"),
        l2i(col("pv"), col("cv")).as("__d")))
    val coded = cut(codes.join(cells, Seq(idCol)))
    nprobes.map { np =>
      val probeCells = rankedCells.filter(col("__r") <= np)
        .select(col("probe_id"), col("cell"))
      val cand = coded.join(broadcast(probeCells), Seq("cell"))
      np -> cand.join(broadcast(tab),
          cand("probe_id") === tab("probe_id") && cand("s") === tab("s")
            && cand("code") === tab("cid"))
        .select(cand("probe_id"), cand(idCol).as("vec_id"), tab("__d"))
        .groupBy(col("probe_id"), col("vec_id"))
        .agg(sum(col("__d")).as("__ad"))
        .filter(col("vec_id") =!= col("probe_id"))
        .withColumn("rnk", row_number().over(
          org.apache.spark.sql.expressions.Window.partitionBy(col("probe_id"))
            .orderBy(col("__ad"), col("vec_id"))))
        .filter(col("rnk") <= k)
        .select(col("probe_id"), col("vec_id"), col("rnk"))
    }
  }

  /** Exact squared-L2 top-k — the ground-truth twin the PQ path is
    * audited against (same integer distance units, same tie order).
    * Probes broadcast, corpus streams: the [[graft.ops.Similarity.cosineTopK]]
    * posture for the L2 metric PQ approximates. */
  def l2TopKExact(df: DataFrame, idCol: String, vecCol: String,
                  probes: DataFrame, k: Int): DataFrame = {
    val c = df.select(col(idCol).as("vec_id"), col(vecCol).as("v"))
    val p = probes.select(col(idCol).as("probe_id"), col(vecCol).as("pv"))
    c.crossJoin(broadcast(p))
      .filter(col("vec_id") =!= col("probe_id"))
      .withColumn("__d", l2i(col("v"), col("pv")))
      .withColumn("rnk", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("probe_id"))
          .orderBy(col("__d"), col("vec_id"))))
      .filter(col("rnk") <= k)
      .select(col("probe_id"), col("vec_id"), col("rnk"))
  }

  /** Symmetric per-vector int8 quantization. Returns
    * (idCol, scale, q: array<long> in [-127,127], mse) — `scale`
    * unrounded (it is the dequantization constant, not a report
    * column; round at the edge if displaying). */
  def int8(df: DataFrame, idCol: String, vecCol: String): DataFrame = {
    val id = col(idCol)
    val v = col(vecCol)
    int8Codes(df, idCol, vecCol)
      .withColumn("qd", transform(col("q"), _.cast("double")))
      .select(id, col("scale"), col("q"),
        ((graft.functions.FoldDot(v, v)
          - lit(2.0) * col("scale") * graft.functions.FoldDot(v, col("qd"))
          + col("scale") * col("scale")
            * graft.functions.FoldDot(col("qd"), col("qd")))
          / size(v).cast("double")).as("mse"))
  }
}

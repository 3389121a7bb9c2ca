package graft.queries

import org.apache.spark.sql.functions._
import graft.SparkEntry._
import graft.ops._

/** Vector search: SRP ANN, product quantization, IVF, k-means and
  * k-center, matryoshka/JL truncation, margin mining. */
private[graft] object VectorQueries {

  /** q166 product quantization: 4 subspaces × 16 first-K centroids over
    * the 64-dim fixture vectors — 2 bytes/vector (128× vs float32),
    * coarse enough that the recall report shows a real, non-trivial
    * loss against the exact-L2 truth. */
  val PqM = 4
  val PqCent = 16
  /** q167 IVF: 8 coarse cells (first-8 centroids), 3 probed per query —
    * candidates ∝ nprobe/nCells, the knob that bounds corpus touched. */
  val IvfCells = 8
  val IvfNprobe = 3
  /** q168 k-means: 8 clusters from the first-8 init, 2 Lloyd updates —
    * enough to move every centroid off its init while keeping the
    * oracle's unrolled-CTE replay readable. */
  val KmeansK = 8
  val KmeansIters = 2

  /** q151 curve: every power-of-two prefix up to the full 64 dims (the
    * last entry is the reference dimension). */
  val MatryoshkaDims = Seq(8, 16, 32, 64)
  /** q161 margin mining: per-endpoint neighborhood size (k nearest on
    * each side feed the ratio penalty). */
  val MarginK = 4
  /** q161 margin threshold — τ just above 1: a mined pair must beat
    * the average of its own two neighborhoods (Artetxe & Schwenk's
    * published operating regime). */
  val MarginTau = 1.05

  /** q155 JL output width — same 16-dim budget as q150's matryoshka
    * truncation, so the two recall reports price the two reduction
    * strategies head-to-head. */
  val JlDims = 16

  /** q182 coverage-set size (the oracle unrolls this many greedy
    * rounds, the q168 discipline). */
  val KCenterK = 4

  /** Independent SRP tables for the OR-amplified ANN (q42). */
  val AnnTables = 2

  /** q174 nprobe sweep: every power of two up to all 8 cells (the last
    * row = plain ADC by the q167 reduction law — the curve's ceiling). */
  val NprobeSweep = Seq(1, 2, 4, 8)

  /** q28's oracle (SRP-bucketed ANN top-k) — a val so q109's recall
    * report can embed the identical approximate side. */
  private def q28OracleSql: String =
    s"""$srpSqlCte,
       |scored AS (
       |  SELECT p.vec_id AS probe_id, c.vec_id,
       |         ${Portable.sqlRatio9(cosSql("ec.v", "ep.v"))} AS cos
       |  FROM buck p JOIN buck c ON p.bucket = c.bucket
       |    AND c.vec_id <> p.vec_id
       |  JOIN ev ep ON p.vec_id = ep.vec_id
       |  JOIN ev ec ON c.vec_id = ec.vec_id
       |  WHERE p.vec_id < 5
       |)
       |SELECT probe_id, vec_id, cos,
       |       CAST(row_number() OVER (PARTITION BY probe_id
       |         ORDER BY cos DESC, vec_id ASC) AS BIGINT) AS rnk
       |FROM scored
       |QUALIFY rnk <= $TopK
       |ORDER BY probe_id, rnk""".stripMargin

  /** DuckDB fragment: sequential-fold cosine between list columns a, b —
    * same operand order as [[Similarity.cosine]]. */
  /** Shared mining tail for q161/q162 (mirror of
    * `Similarity.mineScored`): expects a CTE `si(x_id, y_id, cos, ci)`
    * already open, appends the exact-integer top-k penalties, the
    * one-division margin, and the mutual-best + τ gate. Lines carry no
    * margin bar on purpose — the host string's `stripMargin` must leave
    * them untouched. */
  private def marginMineSqlTail: String =
    s""",
r AS (
  SELECT *,
    row_number() OVER (PARTITION BY x_id ORDER BY ci DESC, y_id) AS rx,
    row_number() OVER (PARTITION BY y_id ORDER BY ci DESC, x_id) AS ry
  FROM si
),
sx AS (SELECT x_id, sum(ci) AS sx FROM r
       WHERE rx <= $MarginK GROUP BY x_id),
sy AS (SELECT y_id, sum(ci) AS sy FROM r
       WHERE ry <= $MarginK GROUP BY y_id),
m AS (
  SELECT si.x_id, si.y_id, si.cos,
    ${Portable.sqlIntRatioSigned9(
      s"CASE WHEN sx.sx + sy.sy < 0 THEN -(si.ci * ${2 * MarginK})" +
        s" ELSE si.ci * ${2 * MarginK} END",
      "abs(sx.sx + sy.sy)")} AS margin
  FROM si JOIN sx USING (x_id) JOIN sy USING (y_id)
  WHERE sx.sx + sy.sy <> 0
),
b AS (
  SELECT *,
    row_number() OVER (PARTITION BY x_id ORDER BY margin DESC, y_id) AS bx,
    row_number() OVER (PARTITION BY y_id ORDER BY margin DESC, x_id) AS byy
  FROM m
)
SELECT x_id, y_id, cos, margin FROM b
WHERE bx = 1 AND byy = 1 AND margin >= $MarginTau
ORDER BY x_id"""

  /** Shared q166/q167 PQ oracle prefix: doubles view, subspace slices,
    * first-K codebooks, argmin codes, probe×codebook distance table.
    * Bar-margined — interpolates at the TOP of a stripMargin host. */
  private def pqSqlPrefix: String = {
    val w = 64 / PqM
    s"""WITH ev AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |  FROM embeddings
       |),
       |sub AS (
       |  SELECT vec_id, s, v[(s*$w+1):(s*$w+$w)] AS sv
       |  FROM ev, (SELECT unnest(range(0, $PqM)) AS s)
       |),
       |cen AS (SELECT vec_id AS cid, s, sv AS cv FROM sub
       |        WHERE vec_id < $PqCent),
       |enc AS (
       |  SELECT vec_id, s, cid AS code FROM (
       |    SELECT a.vec_id, a.s, c.cid,
       |      row_number() OVER (PARTITION BY a.vec_id, a.s
       |        ORDER BY ${l2iSql("a.sv", "c.cv")}, c.cid) AS rn
       |    FROM sub a JOIN cen c USING (s))
       |  WHERE rn = 1
       |),
       |tab AS (
       |  SELECT p.vec_id AS probe_id, p.s, c.cid,
       |         ${l2iSql("p.sv", "c.cv")} AS d
       |  FROM sub p JOIN cen c USING (s) WHERE p.vec_id < 5
       |)""".stripMargin
  }

  /** Shared q166/q167 oracle suffix: approximate top-k from the `ad`
    * CTE, the exact-L2 twin, and q109's recall-join shape. Margins
    * pre-stripped — safe inside a stripMargin host (no leading bars). */
  private def pqRecallSqlSuffix: String =
    s""",
atop AS (
  SELECT probe_id, vec_id,
    row_number() OVER (PARTITION BY probe_id
      ORDER BY adist, vec_id) AS rnk
  FROM ad WHERE vec_id <> probe_id
  QUALIFY rnk <= $TopK
),
exd AS (
  SELECT p.vec_id AS probe_id, c.vec_id,
         ${l2iSql("c.v", "p.v")} AS d
  FROM ev c, ev p WHERE p.vec_id < 5 AND c.vec_id <> p.vec_id
),
etop AS (
  SELECT probe_id, vec_id,
    row_number() OVER (PARTITION BY probe_id
      ORDER BY d, vec_id) AS rnk
  FROM exd QUALIFY rnk <= $TopK
)
SELECT e.probe_id, count(*) AS n_exact,
  CAST(sum(CASE WHEN a.vec_id IS NOT NULL THEN 1 ELSE 0 END)
    AS BIGINT) AS n_hit,
  round(CAST(CAST(floor(round(sum(CASE WHEN a.vec_id IS NOT NULL THEN 1 ELSE 0 END) / count(*)::DOUBLE, 9) * 1e9 + 0.5) AS BIGINT) AS DOUBLE) / 1e9, 9) AS recall
FROM etop e LEFT JOIN atop a
  ON a.probe_id = e.probe_id AND a.vec_id = e.vec_id
GROUP BY e.probe_id ORDER BY e.probe_id"""

  /** DuckDB mirror of `Quantize.l2i`: squared L2 expanded as
    * a·a − 2(a·b) + b·b over ordered list_sum folds, 9-dp rounded and
    * integerized at 1e9 — identical IEEE op shape to the engine. */
  private def l2iSql(a: String, b: String): String =
    s"""CAST(floor(round(
       |  list_sum(list_transform(range(1, len($a) + 1), i -> $a[i] * $a[i]))
       |  - 2 * list_sum(list_transform(range(1, len($a) + 1), i -> $a[i] * $b[i]))
       |  + list_sum(list_transform(range(1, len($b) + 1), i -> $b[i] * $b[i])),
       |  9) * 1e9 + 0.5) AS BIGINT)""".stripMargin

  val all: Seq[Query] = Seq(

    // Matryoshka truncation audit (the report truncateEmbeddings'
    // scaladoc promises): per-probe recall of the exact top-k computed
    // on the FIRST TruncDims of each embedding against the
    // full-dimension exact top-k — what an index sized at dims/D of
    // the memory would actually cost in retrieval quality.
    Query("q150_matryoshka_recall", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val probes = emb.filter(col("vec_id") < 5)
      Ann.recallReport(
        Similarity.cosineTopK(
          Similarity.truncateEmbeddings(
            emb.select(col("vec_id"), col("embedding")), TruncDims),
          Similarity.truncateEmbeddings(
            probes.select(col("vec_id"), col("embedding")), TruncDims),
          TopK),
        Similarity.cosineTopK(emb, probes, TopK))
        .orderBy("probe_id")
    },
    // q150: q109's recall-join shape with the approximate side replaced
    // by the exact top-k over the matryoshka PREFIX — embedding[1:dims]
    // is the oracle's entire model of truncateEmbeddings (DuckDB list
    // slices are 1-based inclusive, matching Spark's slice(e, 1, dims)).
      s"""WITH ap AS (
         |${exactTopKSqlOn(s"embedding[1:$TruncDims]")}
         |), ex AS (
         |$q16OracleSql
         |)
         |SELECT ex.probe_id, count(*) AS n_exact,
         |  CAST(sum(CASE WHEN ap.vec_id IS NOT NULL THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_hit,
         |  round(CAST(CAST(floor(round(sum(CASE WHEN ap.vec_id IS NOT NULL THEN 1 ELSE 0 END)
         |    / count(*)::DOUBLE, 9) * 1e9 + 0.5) AS BIGINT) AS DOUBLE) / 1e9, 9) AS recall
         |FROM ex LEFT JOIN ap
         |  ON ap.probe_id = ex.probe_id AND ap.vec_id = ex.vec_id
         |GROUP BY ex.probe_id ORDER BY ex.probe_id""".stripMargin),

    // The full matryoshka CURVE: q150's question asked at every
    // power-of-two prefix in one corpus pass — per (dims, probe) recall
    // vs the full 64-dim exact top-k; the index-sizing decision table.
    Query("q151_matryoshka_curve", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.matryoshkaCurve(emb, emb.filter(col("vec_id") < 5),
          MatryoshkaDims, TopK)
        .orderBy("dims", "probe_id")
    },
    // q151: the curve oracle scores every prefix cosine in one lateral
    // (c × p × dims) product — range(1, dims+1) bounds each sum to the
    // prefix — then q109's recall-join shape per dims against the
    // dims = 64 reference rows.
    {
      val dimsSql = MatryoshkaDims.mkString("[", ", ", "]")
      s"""WITH c AS (
         |  SELECT vec_id,
         |         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
         |  FROM embeddings
         |),
         |p AS (
         |  SELECT vec_id AS probe_id,
         |         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS pv
         |  FROM embeddings WHERE vec_id < 5
         |),
         |dm AS (SELECT unnest($dimsSql) AS dims),
         |s AS (
         |  SELECT probe_id, vec_id, dims,
         |    ${Portable.sqlRatio9(
             "list_sum(list_transform(range(1, dims + 1)," +
             " i -> v[i] * pv[i])) /" +
             " (sqrt(list_sum(list_transform(range(1, dims + 1)," +
             " i -> v[i] * v[i]))) *" +
             " sqrt(list_sum(list_transform(range(1, dims + 1)," +
             " i -> pv[i] * pv[i]))))")} AS cos
         |  FROM c, p, dm WHERE vec_id <> probe_id
         |),
         |r AS (
         |  SELECT probe_id, vec_id, dims,
         |         row_number() OVER (PARTITION BY probe_id, dims
         |           ORDER BY cos DESC, vec_id ASC) AS rnk
         |  FROM s QUALIFY rnk <= $TopK
         |),
         |ex AS (SELECT probe_id, vec_id FROM r
         |       WHERE dims = ${MatryoshkaDims.last}),
         |exc AS (SELECT probe_id, count(*)::BIGINT AS n_exact
         |        FROM ex GROUP BY probe_id),
         |hits AS (
         |  SELECT r.dims, r.probe_id, count(*)::BIGINT AS n_hit
         |  FROM r JOIN ex ON r.probe_id = ex.probe_id
         |    AND r.vec_id = ex.vec_id
         |  GROUP BY r.dims, r.probe_id
         |)
         |SELECT dm.dims::BIGINT AS dims, exc.probe_id, exc.n_exact,
         |  coalesce(h.n_hit, 0)::BIGINT AS n_hit,
         |  ${Portable.sqlIntRatio9("coalesce(h.n_hit, 0)",
              "exc.n_exact")} AS recall
         |FROM exc CROSS JOIN dm
         |LEFT JOIN hits h ON h.dims = dm.dims AND h.probe_id = exc.probe_id
         |ORDER BY dims, exc.probe_id""".stripMargin
    }),

    // JL ±1 random projection at q150's width: recall of the exact
    // top-k under the 16-dim PROJECTION against the full 64-dim exact
    // top-k — the reduction path for non-matryoshka embeddings, priced
    // by the same report so q150 vs q155 is a fair head-to-head.
    Query("q155_jl_recall", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val proj = Barrier.cut(Similarity.randomProject(
        emb.select(col("vec_id"), col("embedding")), JlDims))
      Ann.recallReport(
        Similarity.cosineTopK(proj,
          proj.filter(col("vec_id") < 5), TopK),
        Similarity.cosineTopK(emb, emb.filter(col("vec_id") < 5), TopK))
        .orderBy("probe_id")
    },
    // q155: projected vectors from the same keyed-hash ±1 signs
    // (('jl' || j, i) → sign), fold order matching FoldDot; float32
    // narrowing, then the q16 cosine/rank shape and q109's recall join
    // against the embedded full-dimension exact body.
      s"""WITH pj AS (
         |  SELECT vec_id, j,
         |    CAST(list_sum(list_transform(range(1, len(embedding) + 1),
         |      i -> embedding[i]::DOUBLE *
         |           (CASE WHEN ${Portable.sqlUnif("('jl' || j)", "i")} < 0.5
         |                 THEN -1.0 ELSE 1.0 END))) AS FLOAT) AS x
         |  FROM embeddings, (SELECT unnest(range(0, $JlDims)) AS j) d
         |),
         |pr AS (
         |  SELECT vec_id, list(CAST(x AS DOUBLE) ORDER BY j) AS v
         |  FROM pj GROUP BY vec_id
         |),
         |aps AS (
         |  SELECT p.vec_id AS probe_id, c.vec_id,
         |    ${Portable.sqlRatio9(cosSql("c.v", "p.v"))} AS cos
         |  FROM pr c, pr p
         |  WHERE p.vec_id < 5 AND c.vec_id <> p.vec_id
         |),
         |ap AS (
         |  SELECT probe_id, vec_id,
         |         row_number() OVER (PARTITION BY probe_id
         |           ORDER BY cos DESC, vec_id ASC) AS rnk
         |  FROM aps QUALIFY rnk <= $TopK
         |),
         |ex AS (
         |$q16OracleSql
         |)
         |SELECT ex.probe_id, count(*) AS n_exact,
         |  CAST(sum(CASE WHEN ap.vec_id IS NOT NULL THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_hit,
         |  round(CAST(CAST(floor(round(sum(CASE WHEN ap.vec_id IS NOT NULL THEN 1 ELSE 0 END)
         |    / count(*)::DOUBLE, 9) * 1e9 + 0.5) AS BIGINT) AS DOUBLE) / 1e9, 9) AS recall
         |FROM ex LEFT JOIN ap
         |  ON ap.probe_id = ex.probe_id AND ap.vec_id = ex.vec_id
         |GROUP BY ex.probe_id ORDER BY ex.probe_id""".stripMargin),

    // kNN label-agreement over the SRP buckets: the label-noise report —
    // a vector whose nearest (approximate) neighbors mostly carry a
    // different label is a suspect annotation. Bucket singletons stay in
    // the report with zero neighbors and NULL agreement.
    Query("q87_knn_label_agreement", (s, dir) => {
      Ann.knnLabelAgreement(t(s, dir, "embeddings"), "vec_id", "embedding",
          "label", SrpPlanes, TopK)
        .withColumn("suspect",
          coalesce(col("agreement") < 0.5, lit(false)))
        .orderBy("vec_id")
    },
    // q87: same SRP bucket CTEs as q28; neighbors ranked with the q28
    // tiebreak, agreement aggregated per probe, and a LEFT JOIN keeps
    // bucket singletons in the report with NULL agreement.
      s"""$srpSqlCte,
         |cand AS (
         |  SELECT p.vec_id AS probe_id, c.vec_id,
         |         ${Portable.sqlRatio9(cosSql("ec.v", "ep.v"))} AS cos
         |  FROM buck p JOIN buck c ON p.bucket = c.bucket
         |    AND c.vec_id <> p.vec_id
         |  JOIN ev ep ON p.vec_id = ep.vec_id
         |  JOIN ev ec ON c.vec_id = ec.vec_id
         |),
         |ranked AS (
         |  SELECT probe_id, vec_id,
         |    row_number() OVER (PARTITION BY probe_id
         |      ORDER BY cos DESC, vec_id ASC) AS rnk
         |  FROM cand QUALIFY rnk <= $TopK
         |),
         |agg AS (
         |  SELECT r.probe_id, count(*)::BIGINT AS n_neighbors,
         |    sum(CASE WHEN enb.label = ep.label THEN 1 ELSE 0 END)::BIGINT
         |      AS n_same
         |  FROM ranked r
         |  JOIN embeddings ep ON ep.vec_id = r.probe_id
         |  JOIN embeddings enb ON enb.vec_id = r.vec_id
         |  GROUP BY r.probe_id
         |)
         |SELECT e.vec_id, e.label,
         |  coalesce(a.n_neighbors, 0)::BIGINT AS n_neighbors,
         |  coalesce(a.n_same, 0)::BIGINT AS n_same,
         |  CASE WHEN a.n_neighbors IS NOT NULL
         |    THEN ${Portable.sqlIntRatio9("a.n_same", "a.n_neighbors")}
         |    END AS agreement,
         |  coalesce(${Portable.sqlIntRatio9("a.n_same",
              "a.n_neighbors")} < 0.5, false)
         |    AS suspect
         |FROM embeddings e LEFT JOIN agg a ON a.probe_id = e.vec_id
         |ORDER BY e.vec_id""".stripMargin),

    // Symmetric int8 embedding quantization: the 4× storage cut for the
    // embedding column, with the per-vector reconstruction MSE computed
    // from three dot products (never a materialized reconstruction).
    // The quantized codes serialize to a comma string for the compare
    // (q34's array convention).
    Query("q88_int8_quant", (s, dir) => {
      Quantize.int8(t(s, dir, "embeddings"), "vec_id", "embedding")
        .select(col("vec_id"), Portable.ratio9(col("scale")).as("scale"),
          array_join(transform(col("q"), _.cast("string")), ",").as("q_str"),
          Portable.ratio9(col("mse")).as("mse"))
        .orderBy("vec_id")
    },
    // q88: identical quantization math — floor(+0.5) rounding (the one
    // half-up form both engines share), the guarded zero-scale case,
    // and the same three-fold MSE identity with matching scalar order.
      s"""WITH base AS (
         |  SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v,
         |    list_max(list_transform(embedding, x -> abs(x::DOUBLE))) / 127.0
         |      AS scale
         |  FROM embeddings
         |),
         |qq AS (
         |  SELECT vec_id, v, scale,
         |    CASE WHEN scale = 0 THEN list_transform(v, x -> 0::BIGINT)
         |    ELSE list_transform(v, x ->
         |      least(greatest(floor(x / scale + 0.5), -127.0), 127.0)::BIGINT)
         |    END AS q
         |  FROM base
         |),
         |qd AS (SELECT vec_id, v, scale, q,
         |  list_transform(q, x -> x::DOUBLE) AS qdv FROM qq)
         |SELECT vec_id, round(CAST(CAST(floor(round(scale, 9) * 1e9 + 0.5) AS BIGINT) AS DOUBLE) / 1e9, 9) AS scale,
         |  array_to_string(q, ',') AS q_str,
         |  round(CAST(CAST(floor(round((list_sum(list_transform(range(1, len(v)+1), i -> v[i] * v[i]))
         |    - 2.0 * scale *
         |      list_sum(list_transform(range(1, len(v)+1), i -> v[i] * qdv[i]))
         |    + scale * scale *
         |      list_sum(list_transform(range(1, len(v)+1), i -> qdv[i] * qdv[i])))
         |    / len(v), 9) * 1e9 + 0.5) AS BIGINT) AS DOUBLE) / 1e9, 9) AS mse
         |FROM qd ORDER BY vec_id""".stripMargin),

    // ANN entirely in the quantized domain: SRP buckets and cosines
    // computed from the int8 codes alone (the positive per-vector scale
    // cancels from both), so the float vectors never load — the
    // memory-resident-index serving path for the q88 artifact.
    Query("q92_ann_quantized", (s, dir) => {
      Ann.annTopKQuantized(t(s, dir, "embeddings"), "vec_id", "embedding",
          SrpPlanes, TopK)
        .orderBy("probe_id", "rnk")
    },
    // q92: the q88 quantization CTEs feed SRP projection and scoring
    // over the CODES (cast to double — every dot is exact-integer in
    // doubles, so no fold-order care is needed); same plane hashes and
    // ranking tiebreak as q28.
      s"""WITH base AS (
         |  SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v,
         |    list_max(list_transform(embedding, x -> abs(x::DOUBLE))) / 127.0
         |      AS scale
         |  FROM embeddings
         |),
         |qq AS (
         |  SELECT vec_id, v, scale,
         |    CASE WHEN scale = 0 THEN list_transform(v, x -> 0::BIGINT)
         |    ELSE list_transform(v, x ->
         |      least(greatest(floor(x / scale + 0.5), -127.0), 127.0)::BIGINT)
         |    END AS q
         |  FROM base
         |),
         |qv AS (SELECT vec_id, list_transform(q, x -> x::DOUBLE) AS v
         |       FROM qq),
         |proj AS (
         |  SELECT vec_id, p,
         |    list_sum(list_transform(range(1, len(v) + 1),
         |      i -> v[i] * (${Portable.sqlUnif("p", "i")} - 0.5))) AS d
         |  FROM qv, (SELECT unnest(range(0, $SrpPlanes)) AS p)
         |),
         |buck AS (
         |  SELECT vec_id,
         |    sum(CASE WHEN d >= 0 THEN (1::BIGINT << p) ELSE 0 END)::BIGINT
         |      AS bucket
         |  FROM proj GROUP BY vec_id
         |),
         |scored AS (
         |  SELECT p.vec_id AS probe_id, c.vec_id,
         |         ${Portable.sqlRatio9(cosSql("ec.v", "ep.v"))} AS cos
         |  FROM buck p JOIN buck c ON p.bucket = c.bucket
         |    AND c.vec_id <> p.vec_id
         |  JOIN qv ep ON p.vec_id = ep.vec_id
         |  JOIN qv ec ON c.vec_id = ec.vec_id
         |)
         |SELECT probe_id, vec_id, cos,
         |  row_number() OVER (PARTITION BY probe_id
         |    ORDER BY cos DESC, vec_id ASC) AS rnk
         |FROM scored
         |QUALIFY rnk <= $TopK
         |ORDER BY probe_id, rnk""".stripMargin),

    // Label-prototype agreement: each vector's quantized-domain cosine
    // to its own label's centroid (low = probable mislabel/outlier).
    Query("q100_label_prototypes", (s, dir) => {
      Ann.labelPrototypes(t(s, dir, "embeddings"), "vec_id", "embedding",
          "label")
        .orderBy("vec_id")
    },
    // q100: q92's int8 codes, per-(label, dim) integer centroid sums
    // (exact in any order), cosine of each code against its label's
    // sum vector — the 1/n of the mean cancels from the cosine, so
    // this IS the mean-centroid cosine, bit-exact cross-engine.
      s"""WITH base AS (
         |  SELECT vec_id, label, list_transform(embedding, x -> x::DOUBLE) AS v,
         |    list_max(list_transform(embedding, x -> abs(x::DOUBLE))) / 127.0
         |      AS scale
         |  FROM embeddings
         |),
         |qq AS (
         |  SELECT vec_id, label,
         |    CASE WHEN scale = 0 THEN list_transform(v, x -> 0::BIGINT)
         |    ELSE list_transform(v, x ->
         |      least(greatest(floor(x / scale + 0.5), -127.0), 127.0)::BIGINT)
         |    END AS q
         |  FROM base
         |),
         |cent AS (
         |  SELECT label, i AS pos, sum(q[i])::BIGINT AS s
         |  FROM qq, LATERAL (SELECT unnest(range(1, len(q) + 1)) AS i) _
         |  GROUP BY label, i
         |),
         |dots AS (
         |  SELECT t.vec_id, t.label,
         |    sum(t.q[c.pos] * c.s)::DOUBLE AS dot,
         |    sum(t.q[c.pos] * t.q[c.pos])::DOUBLE AS qqs,
         |    sum(c.s * c.s)::DOUBLE AS ccs
         |  FROM qq t JOIN cent c ON t.label = c.label
         |  GROUP BY t.vec_id, t.label
         |)
         |SELECT vec_id, label,
         |  CASE WHEN qqs = 0 OR ccs = 0 THEN NULL
         |       ELSE round(CAST(CAST(floor(round(dot / (sqrt(qqs) * sqrt(ccs)), 9) * 1e9 + 0.5) AS BIGINT) AS DOUBLE) / 1e9, 9) END AS proto_cos
         |FROM dots ORDER BY vec_id""".stripMargin),

    // Hard-negative mining: per anchor, the top-k most-cosine-similar
    // vectors with a DIFFERENT label from the same SRP bucket — the
    // near-miss negatives a contrastive loss actually learns from.
    Query("q89_hard_negatives", (s, dir) => {
      Ann.hardNegatives(t(s, dir, "embeddings"), "vec_id", "embedding",
          "label", SrpPlanes, TopK)
        .orderBy("anchor_id", "rnk")
    },
    // q89: same bucket CTEs; candidates restricted to cross-label
    // bucket-mates, ranked per anchor with the q28 tiebreak.
      s"""$srpSqlCte,
         |scored AS (
         |  SELECT a.vec_id AS anchor_id, ea.label AS anchor_label,
         |         b.vec_id AS neg_id, eb.label AS neg_label,
         |         ${Portable.sqlRatio9(cosSql("evb.v", "eva.v"))} AS cos
         |  FROM buck a JOIN buck b ON a.bucket = b.bucket
         |    AND b.vec_id <> a.vec_id
         |  JOIN embeddings ea ON ea.vec_id = a.vec_id
         |  JOIN embeddings eb ON eb.vec_id = b.vec_id
         |  JOIN ev eva ON eva.vec_id = a.vec_id
         |  JOIN ev evb ON evb.vec_id = b.vec_id
         |  WHERE ea.label <> eb.label
         |)
         |SELECT anchor_id, anchor_label, neg_id, neg_label, cos,
         |  row_number() OVER (PARTITION BY anchor_id
         |    ORDER BY cos DESC, neg_id ASC) AS rnk
         |FROM scored
         |QUALIFY rnk <= $TopK
         |ORDER BY anchor_id, rnk""".stripMargin),

    // ANN: SRP-bucketed approximate cosine top-k (probes vec_id < 5).
    Query("q28_ann_topk", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      Ann.annTopK(emb, emb.filter(col("vec_id") < 5), "vec_id", "embedding",
        SrpPlanes, TopK)
        .withColumn("rnk", col("rnk").cast("long"))
        .orderBy("probe_id", "rnk")
    },
      q28OracleSql),

    // ANN with multi-table OR-amplification (recall lever over q28).
    Query("q42_ann_multi", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      Ann.annTopKMulti(emb, emb.filter(col("vec_id") < 5), "vec_id",
        "embedding", SrpPlanes, TopK, AnnTables)
        .withColumn("rnk", col("rnk").cast("long"))
        .orderBy("probe_id", "rnk")
    },
    // q42: multi-table SRP — global plane index p in [0, planes·tables),
    // table = p // planes, bit = p % planes; candidates OR over tables.
      s"""WITH proj AS (
         |  SELECT vec_id, p,
         |    list_sum(list_transform(range(1, len(embedding) + 1),
         |      i -> embedding[i]::DOUBLE * (${Portable.sqlUnif("p", "i")} - 0.5))) AS d
         |  FROM embeddings, (SELECT unnest(range(0, ${SrpPlanes * AnnTables})) AS p)
         |),
         |buck AS (
         |  SELECT vec_id, p // $SrpPlanes AS tbl,
         |    sum(CASE WHEN d >= 0 THEN (1::BIGINT << (p % $SrpPlanes))
         |        ELSE 0 END)::BIGINT AS bucket
         |  FROM proj GROUP BY vec_id, p // $SrpPlanes
         |),
         |ev AS (
         |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
         |  FROM embeddings
         |),
         |cand AS (
         |  SELECT DISTINCT p.vec_id AS probe_id, c.vec_id AS vec_id
         |  FROM buck p JOIN buck c ON p.tbl = c.tbl AND p.bucket = c.bucket
         |    AND c.vec_id <> p.vec_id
         |  WHERE p.vec_id < 5
         |),
         |scored AS (
         |  SELECT cand.probe_id, cand.vec_id,
         |         ${Portable.sqlRatio9(cosSql("ec.v", "ep.v"))} AS cos
         |  FROM cand
         |  JOIN ev ep ON cand.probe_id = ep.vec_id
         |  JOIN ev ec ON cand.vec_id = ec.vec_id
         |)
         |SELECT probe_id, vec_id, cos,
         |       CAST(row_number() OVER (PARTITION BY probe_id
         |         ORDER BY cos DESC, vec_id ASC) AS BIGINT) AS rnk
         |FROM scored
         |QUALIFY rnk <= $TopK
         |ORDER BY probe_id, rnk""".stripMargin),

    // Margin-based cross-corpus pair mining: label-0 vectors vs label-1
    // vectors, each candidate cosine ratio-normalized by its two
    // endpoints' top-k neighborhoods, mutual-best + τ gate. The exact
    // ground-truth form; the 100 TB path buckets candidates via SRP.
    Query("q161_margin_mining", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.marginMine(emb.filter(col("label") === 0),
          emb.filter(col("label") === 1), MarginK, MarginTau)
        .orderBy("x_id")
    },
    // q161: the same integerize-then-exact-ratio discipline — cosines
    // 9dp-rounded then scaled to BIGINT, top-k penalty sums exact,
    // margin = one double division of two exact integers.
      s"""WITH x AS (
         |  SELECT vec_id AS x_id,
         |         list_transform(embedding, e -> CAST(e AS DOUBLE)) AS xv
         |  FROM embeddings WHERE label = 0
         |),
         |y AS (
         |  SELECT vec_id AS y_id,
         |         list_transform(embedding, e -> CAST(e AS DOUBLE)) AS yv
         |  FROM embeddings WHERE label = 1
         |),
         |si AS (
         |  SELECT x_id, y_id, cos,
         |         CAST(floor(cos * 1e9 + 0.5) AS BIGINT) AS ci
         |  FROM (SELECT x_id, y_id,
         |          ${Portable.sqlRatio9(cosSql("xv", "yv"))} AS cos
         |        FROM x, y)
         |)$marginMineSqlTail""".stripMargin),

    // The same mining through SRP-bucket candidates — neither side
    // broadcast, shuffle keyed on the bucket code, penalties computed
    // within retrieved sets: the shape that mines two 100 TB corpora.
    // q161 is its exact-recall audit twin.
    Query("q162_margin_mining_lsh", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.marginMineBucketed(emb.filter(col("label") === 0),
          emb.filter(col("label") === 1), MarginK, MarginTau, SrpPlanes)
        .orderBy("x_id")
    },
    // q162: identical mining tail over SRP-bucket candidates — the
    // plane family is the shared srp CTE's, labels carried through the
    // bucket so the sides stay disjoint.
      s"""WITH proj AS (
         |  SELECT vec_id, label, p,
         |    list_sum(list_transform(range(1, len(embedding) + 1),
         |      i -> embedding[i]::DOUBLE * (${Portable.sqlUnif("p", "i")} - 0.5))) AS d
         |  FROM embeddings, (SELECT unnest(range(0, $SrpPlanes)) AS p)
         |  WHERE label IN (0, 1)
         |),
         |buck AS (
         |  SELECT vec_id, label,
         |    sum(CASE WHEN d >= 0 THEN (1::BIGINT << p) ELSE 0 END)::BIGINT
         |      AS bucket
         |  FROM proj GROUP BY vec_id, label
         |),
         |ev AS (
         |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
         |  FROM embeddings
         |),
         |si AS (
         |  SELECT x_id, y_id, cos,
         |         CAST(floor(cos * 1e9 + 0.5) AS BIGINT) AS ci
         |  FROM (SELECT bx.vec_id AS x_id, by_.vec_id AS y_id,
         |          ${Portable.sqlRatio9(cosSql("ex.v", "ey.v"))} AS cos
         |        FROM buck bx
         |        JOIN buck by_ ON bx.bucket = by_.bucket
         |          AND bx.label = 0 AND by_.label = 1
         |        JOIN ev ex ON bx.vec_id = ex.vec_id
         |        JOIN ev ey ON by_.vec_id = ey.vec_id)
         |)$marginMineSqlTail""".stripMargin),

    // Product-quantization recall audit: PQ codes (4 subspaces, first-16
    // codebooks), ADC top-k against the exact-L2 truth in shared
    // integer distance units — what 2 bytes/vector costs in retrieval.
    Query("q166_pq_recall", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val probes = emb.filter(col("vec_id") < 5)
      val cen = emb.filter(col("vec_id") < PqCent)
      Ann.recallReport(
        Quantize.pqAdcTopK(emb, "vec_id", "embedding", probes, PqM,
          cen, TopK),
        Quantize.l2TopKExact(emb, "vec_id", "embedding", probes, TopK))
        .orderBy("probe_id")
    },
    // q166: the same first-K codebooks, argmin encode, ADC integer
    // sums, and exact-L2 twin rebuilt in SQL; q109's recall-join shape.
      s"""$pqSqlPrefix,
         |ad AS (
         |  SELECT t.probe_id, e.vec_id, sum(t.d)::BIGINT AS adist
         |  FROM enc e JOIN tab t ON e.s = t.s AND e.code = t.cid
         |  GROUP BY 1, 2
         |)$pqRecallSqlSuffix""".stripMargin),

    // Deterministic Lloyd k-means: 2 exact-replayable updates from the
    // first-8 init (integerized argmin, exact-integer centroid means,
    // empty clusters keep their centroid), then the final centroids
    // exploded per dimension next to the final membership counts —
    // the trainer for every centroid table the vector ops consume.
    Query("q168_kmeans", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val cen = Kmeans.fit(emb, "vec_id", "embedding",
        emb.filter(col("vec_id") < KmeansK), KmeansIters)
      val counts = Kmeans.assign(emb, "vec_id", "embedding", cen)
        .groupBy(col("cluster")).agg(count(lit(1)).as("n_members"))
      cen.select(col("vec_id").as("cluster"),
          posexplode(col("embedding")).as(Seq("d", "val")))
        .withColumn("d", col("d").cast("long") + lit(1L))
        .join(counts, Seq("cluster"), "left")
        .select(col("cluster"),
          coalesce(col("n_members"), lit(0L)).as("n_members"),
          col("d"), col("val"))
        .orderBy("cluster", "d")
    },
    // q168: the 2-iteration Lloyd replay, fully unrolled — each
    // update = argmin assign (integerized L2, id ties) + per-dim
    // exact-BIGINT means narrowed to FLOAT, empty clusters inherited;
    // final = centroids exploded + membership counts.
    {
      def assignSql(cenCte: String, as: String): String =
        s"""$as AS (
           |  SELECT vec_id, cid AS cluster FROM (
           |    SELECT e.vec_id, c.cid,
           |      row_number() OVER (PARTITION BY e.vec_id
           |        ORDER BY ${l2iSql("e.v", "c.cv")}, c.cid) AS rn
           |    FROM ev e, $cenCte c)
           |  WHERE rn = 1
           |)""".stripMargin
      def meanSql(aCte: String, as: String): String =
        s"""$as AS (
           |  SELECT $aCte.cluster AS cid, i AS d,
           |    CAST(CAST(sum(CAST(floor(e.v[i] * 1e9 + 0.5) AS BIGINT))
           |        AS DOUBLE) / count(*) / 1e9 AS FLOAT) AS val
           |  FROM $aCte JOIN ev e USING (vec_id),
           |       (SELECT unnest(range(1, 65)) AS i)
           |  GROUP BY 1, 2
           |)""".stripMargin
      def nextCenSql(mCte: String, prevCte: String, as: String): String =
        s"""$as AS (
           |  SELECT cid, list(CAST(val AS DOUBLE) ORDER BY d) AS cv
           |  FROM $mCte GROUP BY cid
           |  UNION ALL
           |  SELECT cid, cv FROM $prevCte
           |  WHERE cid NOT IN (SELECT cid FROM $mCte)
           |)""".stripMargin
      s"""WITH ev AS (
         |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
         |  FROM embeddings
         |),
         |c0 AS (SELECT vec_id AS cid, v AS cv FROM ev
         |       WHERE vec_id < $KmeansK),
         |${assignSql("c0", "a1")},
         |${meanSql("a1", "m1")},
         |${nextCenSql("m1", "c0", "c1")},
         |${assignSql("c1", "a2")},
         |${meanSql("a2", "m2")},
         |${nextCenSql("m2", "c1", "c2")},
         |${assignSql("c2", "af")},
         |cnt AS (SELECT cluster, count(*)::BIGINT AS n_members
         |        FROM af GROUP BY 1)
         |SELECT x.cid AS cluster,
         |  coalesce(cnt.n_members, 0)::BIGINT AS n_members,
         |  x.d, x.val
         |FROM (SELECT cid, i::BIGINT AS d, CAST(cv[i] AS FLOAT) AS val
         |      FROM c2, (SELECT unnest(range(1, 65)) AS i)) x
         |LEFT JOIN cnt ON cnt.cluster = x.cid
         |ORDER BY cluster, d""".stripMargin
    }),

    // IVF-PQ: the production ANN stack — inverted-file cells gate
    // candidacy (nprobe of nCells), ADC ranks the survivors from the
    // q166 codes; the q166-vs-q167 recall gap prices the visit bound.
    Query("q167_ivfpq_recall", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val probes = emb.filter(col("vec_id") < 5)
      Ann.recallReport(
        Quantize.ivfPqTopK(emb, "vec_id", "embedding", probes, PqM,
          emb.filter(col("vec_id") < PqCent),
          emb.filter(col("vec_id") < IvfCells), IvfNprobe, TopK),
        Quantize.l2TopKExact(emb, "vec_id", "embedding", probes, TopK))
        .orderBy("probe_id")
    },
    // q167: q166's prefix + the inverted file — coarse argmin cells,
    // probe's top-nprobe cells, candidates restricted before ADC.
      s"""$pqSqlPrefix,
         |coarse AS (SELECT vec_id AS ccid, v AS ccv FROM ev
         |           WHERE vec_id < $IvfCells),
         |cells AS (
         |  SELECT vec_id, ccid AS cell FROM (
         |    SELECT e.vec_id, c.ccid,
         |      row_number() OVER (PARTITION BY e.vec_id
         |        ORDER BY ${l2iSql("e.v", "c.ccv")}, c.ccid) AS rn
         |    FROM ev e, coarse c)
         |  WHERE rn = 1
         |),
         |pcells AS (
         |  SELECT probe_id, ccid AS cell FROM (
         |    SELECT p.vec_id AS probe_id, c.ccid,
         |      row_number() OVER (PARTITION BY p.vec_id
         |        ORDER BY ${l2iSql("p.v", "c.ccv")}, c.ccid) AS rn
         |    FROM ev p, coarse c WHERE p.vec_id < 5)
         |  WHERE rn <= $IvfNprobe
         |),
         |ad AS (
         |  SELECT t.probe_id, e.vec_id, sum(t.d)::BIGINT AS adist
         |  FROM enc e
         |  JOIN cells cl ON e.vec_id = cl.vec_id
         |  JOIN pcells pc ON cl.cell = pc.cell
         |  JOIN tab t ON t.probe_id = pc.probe_id
         |    AND e.s = t.s AND e.code = t.cid
         |  GROUP BY 1, 2
         |)$pqRecallSqlSuffix""".stripMargin),

    // PQ with TRAINED codebooks: per-subspace deterministic k-means
    // (q168's trainer, m times) replaces q166's first-K pin; same ADC
    // search, same exact twin — the q166-vs-q171 recall delta is what
    // training the codebooks buys. (On the isotropic fixture that
    // delta is ~0 — random vectors have no density for Lloyd to find;
    // the guaranteed win is the objective itself, and QuantizeSpec
    // pins trained-cost ≤ init-cost. Clustered real embeddings are
    // where the recall delta appears.)
    Query("q171_pq_trained_recall", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val probes = emb.filter(col("vec_id") < 5)
      val books = Quantize.pqTrain(emb, "vec_id", "embedding", PqM,
        emb.filter(col("vec_id") < PqCent), KmeansIters)
      Ann.recallReport(
        Quantize.pqAdcTopKFrom(emb, "vec_id", "embedding", probes,
          PqM, 64 / PqM, books, TopK),
        Quantize.l2TopKExact(emb, "vec_id", "embedding", probes, TopK))
        .orderBy("probe_id")
    },
    // q171: q166's frame with the codebooks REPLACED by a per-subspace
    // keyed replay of the q168 Lloyd recipe (assign/mean/inherit,
    // carried through (s, cid)); enc/tab rebind to the trained c2.
    {
      val w = 64 / PqM
      def assignSql(cenCte: String, as: String): String =
        s"""$as AS (
           |  SELECT vec_id, s, cid AS cluster FROM (
           |    SELECT a.vec_id, a.s, c.cid,
           |      row_number() OVER (PARTITION BY a.vec_id, a.s
           |        ORDER BY ${l2iSql("a.sv", "c.cv")}, c.cid) AS rn
           |    FROM sub a JOIN $cenCte c USING (s))
           |  WHERE rn = 1
           |)""".stripMargin
      def meanSql(aCte: String, as: String): String =
        s"""$as AS (
           |  SELECT $aCte.s, $aCte.cluster AS cid, i AS d,
           |    CAST(CAST(sum(CAST(floor(b.sv[i] * 1e9 + 0.5) AS BIGINT))
           |        AS DOUBLE) / count(*) / 1e9 AS FLOAT) AS val
           |  FROM $aCte JOIN sub b ON b.vec_id = $aCte.vec_id
           |    AND b.s = $aCte.s,
           |       (SELECT unnest(range(1, ${w + 1})) AS i)
           |  GROUP BY 1, 2, 3
           |)""".stripMargin
      def nextCenSql(mCte: String, prevCte: String, as: String): String =
        s"""$as AS (
           |  SELECT s, cid, list(CAST(val AS DOUBLE) ORDER BY d) AS cv
           |  FROM $mCte GROUP BY s, cid
           |  UNION ALL
           |  SELECT p.s, p.cid, p.cv FROM $prevCte p
           |  WHERE NOT EXISTS (SELECT 1 FROM $mCte m
           |    WHERE m.s = p.s AND m.cid = p.cid)
           |)""".stripMargin
      s"""WITH ev AS (
         |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
         |  FROM embeddings
         |),
         |sub AS (
         |  SELECT vec_id, s, v[(s*$w+1):(s*$w+$w)] AS sv
         |  FROM ev, (SELECT unnest(range(0, $PqM)) AS s)
         |),
         |c0 AS (SELECT vec_id AS cid, s, sv AS cv FROM sub
         |       WHERE vec_id < $PqCent),
         |${assignSql("c0", "ka1")},
         |${meanSql("ka1", "km1")},
         |${nextCenSql("km1", "c0", "kc1")},
         |${assignSql("kc1", "ka2")},
         |${meanSql("ka2", "km2")},
         |${nextCenSql("km2", "kc1", "kc2")},
         |enc AS (
         |  SELECT vec_id, s, cid AS code FROM (
         |    SELECT a.vec_id, a.s, c.cid,
         |      row_number() OVER (PARTITION BY a.vec_id, a.s
         |        ORDER BY ${l2iSql("a.sv", "c.cv")}, c.cid) AS rn
         |    FROM sub a JOIN kc2 c USING (s))
         |  WHERE rn = 1
         |),
         |tab AS (
         |  SELECT p.vec_id AS probe_id, p.s, c.cid,
         |         ${l2iSql("p.sv", "c.cv")} AS d
         |  FROM sub p JOIN kc2 c USING (s) WHERE p.vec_id < 5
         |),
         |ad AS (
         |  SELECT t.probe_id, e.vec_id, sum(t.d)::BIGINT AS adist
         |  FROM enc e JOIN tab t ON e.s = t.s AND e.code = t.cid
         |  GROUP BY 1, 2
         |)$pqRecallSqlSuffix""".stripMargin
    }),

    // The IVF tuning decision table: q167's recall at every nprobe in
    // the sweep, one row per (nprobe, probe) — how much corpus must be
    // visited for how much recall; the last row equals plain ADC by
    // the reduction law. A commissioning query: production would share
    // the codes/cells frames across the sweep. (And the curve is NOT
    // guaranteed monotone — at 2-byte codes the ADC misranks freely,
    // and the cell gate filters its false positives too: on the
    // fixture, nprobe=1 beats nprobe=8. Exactly the non-obvious fact
    // a commissioning table exists to surface.)
    Query("q174_ivf_nprobe_curve", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val probes = emb.filter(col("vec_id") < 5)
      val cen = emb.filter(col("vec_id") < PqCent)
      val coarse = emb.filter(col("vec_id") < IvfCells)
      // the exact reference is read once per sweep point — barrier it,
      // and run the sweep through the shared-frame form (cells, codes,
      // distance table derived ONCE — the sharing this query's comment
      // always named as the production posture; per-point results are
      // bit-identical to the one-shot ivfPqTopK)
      val exact = graft.ops.Barrier.cut(
        Quantize.l2TopKExact(emb, "vec_id", "embedding", probes, TopK))
      Quantize.ivfPqTopKSweep(emb, "vec_id", "embedding", probes, PqM,
          cen, coarse, NprobeSweep, TopK)
        .map { case (np, topk) =>
          Ann.recallReport(topk, exact).withColumn("nprobe", lit(np.toLong))
        }.reduce(_.unionByName(_))
        .select(col("nprobe"), col("probe_id"), col("n_exact"),
          col("n_hit"), col("recall"))
        .orderBy("nprobe", "probe_id")
    },
    // q174: q167's chain with pcells ranked once; per sweep point the
    // candidate gate filters rn <= np, the recall join repeats.
    {
      val perNp = NprobeSweep.map { np =>
        s"""ad$np AS (
           |  SELECT t.probe_id, e.vec_id, sum(t.d)::BIGINT AS adist
           |  FROM enc e
           |  JOIN cells cl ON e.vec_id = cl.vec_id
           |  JOIN pca pc ON cl.cell = pc.cell AND pc.rn <= $np
           |  JOIN tab t ON t.probe_id = pc.probe_id
           |    AND e.s = t.s AND e.code = t.cid
           |  GROUP BY 1, 2
           |),
           |at$np AS (
           |  SELECT probe_id, vec_id,
           |    row_number() OVER (PARTITION BY probe_id
           |      ORDER BY adist, vec_id) AS rnk
           |  FROM ad$np WHERE vec_id <> probe_id
           |  QUALIFY rnk <= $TopK
           |)""".stripMargin
      }.mkString(",\n")
      val unions = NprobeSweep.map { np =>
        s"""SELECT $np::BIGINT AS nprobe, e.probe_id,
           |  count(*) AS n_exact,
           |  CAST(sum(CASE WHEN a.vec_id IS NOT NULL THEN 1 ELSE 0 END)
           |    AS BIGINT) AS n_hit,
           |  round(CAST(CAST(floor(round(sum(CASE WHEN a.vec_id IS NOT NULL THEN 1 ELSE 0 END)
           |    / count(*)::DOUBLE, 9) * 1e9 + 0.5) AS BIGINT) AS DOUBLE) / 1e9, 9) AS recall
           |FROM etop e LEFT JOIN at$np a
           |  ON a.probe_id = e.probe_id AND a.vec_id = e.vec_id
           |GROUP BY e.probe_id""".stripMargin
      }.mkString("\nUNION ALL\n")
      s"""$pqSqlPrefix,
         |coarse AS (SELECT vec_id AS ccid, v AS ccv FROM ev
         |           WHERE vec_id < $IvfCells),
         |cells AS (
         |  SELECT vec_id, ccid AS cell FROM (
         |    SELECT e.vec_id, c.ccid,
         |      row_number() OVER (PARTITION BY e.vec_id
         |        ORDER BY ${l2iSql("e.v", "c.ccv")}, c.ccid) AS rn
         |    FROM ev e, coarse c)
         |  WHERE rn = 1
         |),
         |pca AS (
         |  SELECT p.vec_id AS probe_id, c.ccid AS cell,
         |    row_number() OVER (PARTITION BY p.vec_id
         |      ORDER BY ${l2iSql("p.v", "c.ccv")}, c.ccid) AS rn
         |  FROM ev p, coarse c WHERE p.vec_id < 5
         |),
         |exd AS (
         |  SELECT p.vec_id AS probe_id, c.vec_id,
         |         ${l2iSql("c.v", "p.v")} AS d
         |  FROM ev c, ev p WHERE p.vec_id < 5 AND c.vec_id <> p.vec_id
         |),
         |etop AS (
         |  SELECT probe_id, vec_id,
         |    row_number() OVER (PARTITION BY probe_id
         |      ORDER BY d, vec_id) AS rnk
         |  FROM exd QUALIFY rnk <= $TopK
         |),
         |$perNp
         |$unions
         |ORDER BY nprobe, probe_id""".stripMargin
    }),

    // ANN index-quality audit: per-probe recall of the SRP top-k (q28)
    // against the exact top-k (q16) — the continuous production check
    // that tunes the plane/table count; the scalar average hides the
    // sparse-bucket tail this report surfaces.
    Query("q109_ann_recall", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val probes = emb.filter(col("vec_id") < 5)
      Ann.recallReport(
        Ann.annTopK(emb, probes, "vec_id", "embedding", SrpPlanes, TopK),
        Similarity.cosineTopK(emb, probes, TopK))
        .orderBy("probe_id")
    },
    // q109: both top-k sides embed the UNCHANGED q28/q16 oracle bodies
    // as named subqueries; the report is a probe-keyed left join + agg.
      s"""WITH ann AS (
         |$q28OracleSql
         |), ex AS (
         |$q16OracleSql
         |)
         |SELECT ex.probe_id, count(*) AS n_exact,
         |  CAST(sum(CASE WHEN ann.vec_id IS NOT NULL THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_hit,
         |  round(CAST(CAST(floor(round(sum(CASE WHEN ann.vec_id IS NOT NULL THEN 1 ELSE 0 END)
         |    / count(*)::DOUBLE, 9) * 1e9 + 0.5) AS BIGINT) AS DOUBLE) / 1e9, 9) AS recall
         |FROM ex LEFT JOIN ann
         |  ON ann.probe_id = ex.probe_id AND ann.vec_id = ex.vec_id
         |GROUP BY ex.probe_id ORDER BY ex.probe_id""".stripMargin),

    // Greedy k-center coreset over the embeddings: 4 exact-replayable
    // selection rounds (min-id seed, integerized-L2 argmax, min-id
    // ties), reported with each center's coverage count and radius.
    Query("q182_kcenter_coreset", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val sel = Kmeans.kCenterGreedy(emb, "vec_id", "embedding", KCenterK)
      val cen = sel.join(emb.select(col("vec_id"), col("embedding")),
        Seq("vec_id"))
      val cov = Kmeans.coverage(emb, "vec_id", "embedding",
        cen.select(col("vec_id"), col("embedding")))
      sel.join(cov, sel("vec_id") === cov("cluster"))
        .select(col("round"), col("vec_id"), col("n_assigned"),
          col("radius_i"))
        .orderBy("round")
    },
    // q182: the greedy rounds unrolled (min-id seed; per round the
    // not-yet-selected argmax of the min integerized distance, min-id
    // ties — q168's replay discipline), then the q168-shaped argmin
    // assignment and per-center radius.
    {
      def round2(cenCte: String, dAs: String, nAs: String,
                 rnd: Int): String =
        s"""$dAs AS (
           |  SELECT e.vec_id, min(${l2iSql("e.v", "c.v")}) AS d
           |  FROM ev e CROSS JOIN $cenCte c
           |  WHERE e.vec_id NOT IN (SELECT vec_id FROM $cenCte)
           |  GROUP BY e.vec_id
           |),
           |$nAs AS (
           |  SELECT $rnd::BIGINT AS round, e.vec_id, e.v FROM ev e
           |  JOIN (SELECT vec_id FROM $dAs ORDER BY d DESC, vec_id
           |        LIMIT 1) t USING (vec_id)
           |)""".stripMargin
      s"""WITH ev AS (
         |  SELECT vec_id,
         |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
         |  FROM embeddings
         |),
         |c1 AS (SELECT 1::BIGINT AS round, vec_id, v FROM ev
         |       ORDER BY vec_id LIMIT 1),
         |${round2("c1", "d2", "n2", 2)},
         |cen2 AS (SELECT * FROM c1 UNION ALL SELECT * FROM n2),
         |${round2("cen2", "d3", "n3", 3)},
         |cen3 AS (SELECT * FROM cen2 UNION ALL SELECT * FROM n3),
         |${round2("cen3", "d4", "n4", 4)},
         |cen4 AS (SELECT * FROM cen3 UNION ALL SELECT * FROM n4),
         |asg AS (
         |  SELECT vec_id, cid, d FROM (
         |    SELECT e.vec_id, c.vec_id AS cid,
         |      ${l2iSql("e.v", "c.v")} AS d,
         |      row_number() OVER (PARTITION BY e.vec_id
         |        ORDER BY ${l2iSql("e.v", "c.v")}, c.vec_id) AS rn
         |    FROM ev e CROSS JOIN cen4 c)
         |  WHERE rn = 1
         |),
         |stats AS (
         |  SELECT cid, count(*)::BIGINT AS n_assigned,
         |    max(d)::BIGINT AS radius_i
         |  FROM asg GROUP BY cid
         |)
         |SELECT c.round, c.vec_id, s.n_assigned, s.radius_i
         |FROM cen4 c JOIN stats s ON s.cid = c.vec_id
         |ORDER BY c.round""".stripMargin
    })
  )
}

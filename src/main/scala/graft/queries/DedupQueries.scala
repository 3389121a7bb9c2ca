package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.SparkEntry._
import graft.ops._

/** Near- and exact-duplicate detection: MinHash/LSH, SimHash, n-gram
  * Jaccard/containment, winnowing, decontamination and entity resolution. */
private[graft] object DedupQueries {

  /** q55 posting-list prune bound — far above any fixture shingle's
    * document frequency, so the exact-Jaccard join prunes nothing. */
  val JaccardMaxDf = 100000L
  /** q120 containment acceptance threshold. Containment ≥ Jaccard for
    * every pair, so at the same 0.5 the containment join returns a
    * superset of q55's pairs — the delta IS the subset-duplication
    * signal the asymmetric score exists to find. */
  val ContainTau = 0.5

  /** q119 audit threshold: the fixture's pair similarity is bimodal
    * (background mass under 0.1, planted near-dups above 0.9), so the
    * audit runs at a tau low enough to see BOTH ends of the banding
    * S-curve — the bottom band where (4,4)-banding recalls ~nothing
    * and the top band where it recalls everything. */
  val LshAuditTau = 0.01

  /** q86 PageRank over the tf-idf similarity graph: τ = 0.8 keeps a
    * ~4k-edge fixture graph (dense enough that rank differentiates,
    * sparse enough for an unrolled oracle); 8 rounds is comfortably
    * inside convergence for a graph of this diameter; ranks are
    * BIGINT numerators over 10^12 (see [[graft.ops.Graph]]). */
  val PrTau = 0.8
  val PrIters = 8
  val PrScale = 1000000000000L

  /** q78 repeated-span scrub window (tokens). 4 on the fixture corpus
    * marks a real minority of windows as cross-doc duplicates (~6% of
    * windows, 235/500 docs touched at sf0.01), exercising both the
    * scrub path and the clean-doc passthrough. */
  val ScrubK = 4

  /** q95 leakage-free split: a quarter of near-dup CLUSTERS to valid. */
  val SplitValidFrac = 0.25

  /** q68 incremental dedup: docs below the split are the "historical
    * corpus", the rest are the incoming batch. */
  val IncrementalSplitId = 250L

  /** q206 edit-distance threshold for catalog fuzzy matching. */
  val ErMaxDist = 2

  /** q210 winnowing window: w=4 gram hashes per window over ShingleN
    * word grams — guarantee threshold t = w + ShingleN − 1 = 6 shared
    * tokens, expected density ~2/(w+1) = 40% of grams. */
  val WinnowW = 4
  /** q211 fingerprint document-frequency prune (boilerplate lever) and
    * minimum shared fingerprints for a reported pair. */
  val WinnowMaxDf = 1000L
  val WinnowMinShared = 2L

  /** Embedding near-dup cosine threshold. */
  val CosTau = 0.3

  /** Winnowing fingerprint parameters (k-gram size, window). */
  val FpK = 4
  val FpW = 4

  /** q173 label propagation: 3 synchronous rounds over the q86 edge
    * set — enough for the planted near-dup groups to close while the
    * unrolled oracle stays readable. */
  val LpaIters = 3

  /** Shingled documents (doc_id, shingles) shared by the MinHash path.
    * Tokens are materialized in their own projection first: HOF lambdas
    * evaluate interpreted with NO common-subexpression elimination, so an
    * inlined split(text) would re-run for every element_at inside the
    * shingle lambda (3x per gram — measured ~2x the whole query). */
  private def shingled(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(col("doc_id"), Text.tokens(col("text")).as("__t"))
      .select(col("doc_id"), Text.shingles(col("__t"), ShingleN).as("shingles"))

  /** The q20 Jaccard-verified MinHash/LSH near-dup pairs over
    * [[shingled]] at the shared constants. */
  private def lshPairs(s: SparkSession, dir: String): DataFrame =
    Dedup.nearDupPairs(shingled(s, dir), "doc_id", NumPerms, LshBands,
      LshRows, JaccardTau)

  /** DuckDB CTEs mirroring [[shingled]]: tokens → distinct shingles. */
  private val shingleSqlCte: String = s"WITH ${shingleCtesFrom("documents")}"

  /** [[shingleSqlCte]] + MinHash signatures. */
  private val minhashSqlCte: String = s"WITH ${minhashCtesFrom("documents")}"

  /** The [[lshJacCtesFrom]] chain over `documents` — shared by q20
    * (pair report), q43 (dedup apply), q51/q53 (clustering). */
  private val lshJacSqlCte: String = s"WITH ${lshJacCtesFrom("documents")}"

  /** DuckDB CTE chain computing per-doc winnowing fingerprints
    * (relational twin of [[Text.winnowFingerprints]]): positional
    * grams, the same 60-bit hash, a per-doc ROWS window min, the
    * window-start filter, distinct. Yields `fp(doc_id, fp)`. */
  private val winnowFpSqlCte: String = {
    val gram = (0 until ShingleN).map(o => s"t[i+$o]").mkString(", ")
    s"""WITH tok AS (
       |  SELECT doc_id, string_split(text, ' ') AS t FROM documents
       |),
       |gr AS (
       |  SELECT doc_id, t,
       |    unnest(range(1, greatest(0, len(t) - ${ShingleN - 2}))) AS i
       |  FROM tok WHERE len(t) >= $ShingleN
       |),
       |gh AS (
       |  SELECT doc_id, i AS p, len(t) - ${ShingleN - 1} AS np,
       |    ${Portable.sqlHash(s"concat_ws(' ', $gram)")} AS h
       |  FROM gr
       |),
       |wm AS (
       |  SELECT doc_id, p, np,
       |    min(h) OVER (PARTITION BY doc_id ORDER BY p
       |      ROWS BETWEEN CURRENT ROW AND ${WinnowW - 1} FOLLOWING) AS fp
       |  FROM gh
       |),
       |fp AS (
       |  SELECT DISTINCT doc_id, fp FROM wm
       |  WHERE p <= greatest(np - ${WinnowW - 1}, 1)
       |)""".stripMargin
  }

  /** q86's unrolled PageRank rounds r1..rK (damping 85/100 — the
    * [[graft.ops.Graph.pageRank]] default), integer-only arithmetic. */
  private def prRoundCtes(k: Int): String =
    (1 to k).map { i =>
      s"""r$i AS (
         |  SELECT sym.d AS id,
         |    (((15 * ($PrScale // nn.cnt)) // 100)
         |      + ((85 * sum(r${i - 1}.r // deg.deg)) // 100))::BIGINT AS r
         |  FROM sym JOIN deg ON sym.s = deg.s
         |  JOIN r${i - 1} ON r${i - 1}.id = sym.s
         |  CROSS JOIN nn GROUP BY sym.d, nn.cnt
         |)""".stripMargin
    }.mkString(",\n")

  val all: Seq[Query] = Seq(

    // Cross-source duplication matrix: the q20 near-dup pairs rolled up
    // by the unordered source pair they bridge.
    Query("q130_dup_source_matrix", (s, dir) => {
      val docs = t(s, dir, "documents")
      Dedup.dupSourceMatrix(lshPairs(s, dir), docs, "doc_id", "source")
        .orderBy("source_a", "source_b")
    },
    // q130: the q20 jac pairs bridged to their sources; unordered cells.
      s"""$lshJacSqlCte,
         |ndp AS (
         |  SELECT id_a, id_b, jaccard FROM jac WHERE jaccard >= $JaccardTau
         |)
         |SELECT least(da.source, db.source) AS source_a,
         |  greatest(da.source, db.source) AS source_b,
         |  count(*)::BIGINT AS n_pairs,
         |  ${Portable.sqlIntRatio9(
             "sum(CAST(floor(jaccard * 1e9 + 0.5) AS BIGINT))",
             "CAST(count(*) AS HUGEINT) * 1000000000")} AS avg_jaccard
         |FROM ndp
         |JOIN documents da ON da.doc_id = ndp.id_a
         |JOIN documents db ON db.doc_id = ndp.id_b
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    // Dedup threshold-sensitivity curve over the exact-Jaccard pairs
    // (tau = 0: every meeting pair feeds the histogram).
    Query("q145_dedup_sensitivity", (s, dir) => {
      Dedup.dedupSensitivity(
        Dedup.jaccardPairsExact(shingled(s, dir), "doc_id", 0.0,
          JaccardMaxDf))
        .orderBy("tau_floor")
    },
    // q145: the q55 chain unfiltered, per-doc max, integer-edge bins,
    // descending cumulative.
      s"""$shingleSqlCte,
         |posts AS (
         |  SELECT doc_id, unnest(shingles) AS s FROM sh
         |),
         |keep AS (
         |  SELECT s FROM posts GROUP BY s HAVING count(*) <= $JaccardMaxDf
         |),
         |p AS (
         |  SELECT posts.doc_id, posts.s FROM posts JOIN keep USING (s)
         |),
         |inter AS (
         |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i
         |  FROM p a JOIN p b ON a.s = b.s AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2
         |),
         |sz AS (SELECT doc_id, count(*) AS sz FROM p GROUP BY doc_id),
         |jacall AS (
         |  SELECT id_a, id_b,
         |    ${Portable.sqlIntRatio9("i", "sa.sz + sb.sz - i")}
         |      AS jaccard
         |  FROM inter JOIN sz sa ON inter.id_a = sa.doc_id
         |             JOIN sz sb ON inter.id_b = sb.doc_id
         |),
         |mxj AS (
         |  SELECT id, max(jaccard) AS mj FROM (
         |    SELECT id_a AS id, jaccard FROM jacall
         |    UNION ALL SELECT id_b, jaccard FROM jacall) _
         |  GROUP BY id
         |),
         |bk AS (
         |  SELECT CAST(floor(mj * 20) AS BIGINT) AS bucket,
         |    count(*)::BIGINT AS n_docs
         |  FROM mxj GROUP BY 1
         |)
         |SELECT ${Portable.sqlIntRatio9("bucket", "20")} AS tau_floor,
         |  n_docs,
         |  (sum(n_docs) OVER (ORDER BY bucket DESC
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))::BIGINT
         |    AS cum_docs_ge
         |FROM bk ORDER BY tau_floor""".stripMargin),

    // Incremental chunk-level scrub: the q61 train/eval doc split as
    // stored-corpus vs new-batch; new docs rewritten from the chunks
    // whose hash is NOT in the stored index.
    Query("q140_chunk_scrub_incr", (s, dir) => {
      val docs = t(s, dir, "documents")
      val stored = Text.chunkContentDefined(
          docs.filter(col("doc_id") < EvalSetDocs), "text",
          CdcDivisor, "cdc")
        .select(md5(col("chunk").cast("binary")).as("chunk_hash"))
        .distinct()
      Dedup.scrubChunksAgainst(docs.filter(col("doc_id") >= EvalSetDocs),
        "doc_id", "text", CdcDivisor, "cdc", stored)
        .orderBy("doc_id")
    },
    // q140: chunk the whole corpus once (boundaries are per-document,
    // so chunking the union equals chunking each split), hash-split
    // into stored index vs new batch, anti-join, reassemble.
      s"""WITH $cdcChunkCtes,
         |st AS (SELECT DISTINCT md5(chunk) AS h FROM cdcch
         |       WHERE doc_id < $EvalSetDocs),
         |nw AS (SELECT * FROM cdcch WHERE doc_id >= $EvalSetDocs),
         |tot AS (SELECT doc_id, count(*)::BIGINT AS n_chunks
         |        FROM nw GROUP BY doc_id),
         |kp AS (SELECT nw.* FROM nw LEFT JOIN st ON md5(nw.chunk) = st.h
         |       WHERE st.h IS NULL),
         |rb AS (SELECT doc_id, count(*)::BIGINT AS kept,
         |         string_agg(chunk, ' ' ORDER BY chunk_idx)
         |           AS text_scrubbed
         |       FROM kp GROUP BY doc_id)
         |SELECT t.doc_id, t.n_chunks,
         |  (t.n_chunks - coalesce(rb.kept, 0))::BIGINT AS n_dropped,
         |  coalesce(rb.text_scrubbed, '') AS text_scrubbed
         |FROM tot t LEFT JOIN rb USING (doc_id)
         |ORDER BY t.doc_id""".stripMargin),

    // Chunk-level dedup-rate rollup over the q135 CDC chunks: the
    // storage/training-mass savings estimate.
    Query("q137_cdc_dedup_rate", (s, dir) => {
      Dedup.chunkDedupRate(
        Text.chunkContentDefined(t(s, dir, "documents"), "text",
          CdcDivisor, "cdc"), "chunk", "n_tokens")
    },
    // q137: the q135 chunks grouped by content hash, rolled to totals.
      s"""WITH $cdcChunkCtes,
         |ch AS (
         |  SELECT md5(chunk) AS h, count(*)::BIGINT AS c,
         |    max(n_tokens)::BIGINT AS t
         |  FROM cdcch GROUP BY md5(chunk)
         |)
         |SELECT sum(c)::BIGINT AS n_chunks,
         |  count(*)::BIGINT AS n_unique_chunks,
         |  sum(c - 1)::BIGINT AS dup_chunks,
         |  ${Portable.sqlIntRatio9("sum(c - 1)", "sum(c)")}
         |    AS dup_chunk_ratio,
         |  sum(c * t)::BIGINT AS n_tokens,
         |  sum((c - 1) * t)::BIGINT AS dup_tokens,
         |  ${Portable.sqlIntRatio9("sum((c - 1) * t)", "sum(c * t)")}
         |    AS dup_token_ratio
         |FROM ch""".stripMargin),

    // Per-doc marginal novelty: fraction of each doc's distinct
    // shingles first seen in that doc (corpus id order).
    Query("q131_novelty", (s, dir) => {
      Dedup.noveltyStats(shingled(s, dir), "doc_id").orderBy("doc_id")
    },
    // q131: first owner of each shingle as a window min; docs without
    // shingles keep 0 counts and a NULL ratio.
      s"""$shingleSqlCte,
         |nv AS (SELECT doc_id, unnest(shingles) AS g FROM sh),
         |nf AS (
         |  SELECT doc_id, min(doc_id) OVER (PARTITION BY g) AS first_doc
         |  FROM nv
         |),
         |np AS (
         |  SELECT doc_id, count(*)::BIGINT AS n_distinct,
         |    sum(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END)::BIGINT
         |      AS n_novel
         |  FROM nf GROUP BY doc_id
         |)
         |SELECT d.doc_id,
         |  coalesce(np.n_distinct, 0)::BIGINT AS n_distinct,
         |  coalesce(np.n_novel, 0)::BIGINT AS n_novel,
         |  ${Portable.sqlIntRatio9("np.n_novel", "np.n_distinct")}
         |    AS novelty_ratio
         |FROM documents d LEFT JOIN np ON np.doc_id = d.doc_id
         |ORDER BY d.doc_id""".stripMargin),

    // Exact dedup: content-hash duplicate groups with canonical survivor.
    Query("q17_exact_dup_groups", (s, dir) => {
      Dedup.exactGroups(t(s, dir, "documents"), "doc_id", "text")
        .orderBy("content_hash")
    },
      """SELECT md5(text) AS content_hash, count(*) AS n_docs,
        |       min(doc_id) AS keep_id
        |FROM documents GROUP BY md5(text) ORDER BY content_hash""".stripMargin),

    // Exact dedup applied: surviving rows only (deterministic keep-min).
    Query("q18_dedup_keep_first", (s, dir) => {
      Dedup.dedupExact(t(s, dir, "documents"), "doc_id", "text")
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
        .orderBy("doc_id")
    },
      """SELECT d.doc_id, d.lang, d.source, d.n_chars
        |FROM documents d
        |JOIN (SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)) k
        |  USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin),

    // MinHash signatures (16 keyed permutations over 3-gram shingles).
    // posexplode_OUTER + isNotNull instead of posexplode: the non-outer
    // generate makes the optimizer infer size(sig) > 0 and push it below
    // the projection, re-deriving the full 16-perm hash tree at the scan
    // (signatures are never empty here, so results are identical).
    Query("q19_minhash_sig", (s, dir) => {
      Dedup.minhashSignatures(shingled(s, dir), "doc_id", NumPerms)
        .select(col("doc_id"), posexplode_outer(col("sig")).as(Seq("p", "h")))
        .filter(col("h").isNotNull)
        .withColumn("p", col("p").cast("long"))
        .orderBy("doc_id", "p")
    },
      s"""$minhashSqlCte
         |SELECT doc_id, p, sig[p + 1] AS h
         |FROM sig, (SELECT unnest(range(0, $NumPerms)) AS p)
         |ORDER BY doc_id, p""".stripMargin),

    // MinHash+LSH near-dup pairs, Jaccard-verified at tau.
    Query("q20_lsh_near_pairs", (s, dir) => {
      lshPairs(s, dir).orderBy("id_a", "id_b")
    },
      s"""$lshJacSqlCte
         |SELECT id_a, id_b, jaccard FROM jac
         |WHERE jaccard >= $JaccardTau ORDER BY id_a, id_b""".stripMargin),

    // EXACT n-gram-Jaccard pairs via the inverted shingle index —
    // the ground-truth twin of q20 (no banding recall loss). MaxDf
    // exceeds every fixture shingle's document frequency, so no
    // posting list is pruned and the result is the full exact set.
    Query("q55_jaccard_exact", (s, dir) => {
      Dedup.jaccardPairsExact(shingled(s, dir), "doc_id", JaccardTau,
        JaccardMaxDf)
        .orderBy("id_a", "id_b")
    },
    // q55: same inverted-index construction as the Spark side — shared
    // shingle COUNT + set sizes, no per-pair list intersection.
      s"""$shingleSqlCte,
         |posts AS (
         |  SELECT doc_id, unnest(shingles) AS s FROM sh
         |),
         |keep AS (
         |  SELECT s FROM posts GROUP BY s HAVING count(*) <= $JaccardMaxDf
         |),
         |p AS (
         |  SELECT posts.doc_id, posts.s FROM posts JOIN keep USING (s)
         |),
         |inter AS (
         |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i
         |  FROM p a JOIN p b ON a.s = b.s AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2
         |),
         |sz AS (SELECT doc_id, count(*) AS sz FROM p GROUP BY doc_id)
         |SELECT id_a, id_b,
         |  ${Portable.sqlIntRatio9("i", "sa.sz + sb.sz - i")}
         |    AS jaccard
         |FROM inter JOIN sz sa ON inter.id_a = sa.doc_id
         |           JOIN sz sb ON inter.id_b = sb.doc_id
         |WHERE ${Portable.sqlIntRatio9("i", "sa.sz + sb.sz - i")}
         |  >= $JaccardTau
         |ORDER BY id_a, id_b""".stripMargin),

    // EXACT n-gram CONTAINMENT pairs — q55's asymmetric sibling:
    // |A∩B| / min(|A|,|B|) finds subset duplication (a short doc
    // quoted whole inside a long one) that Jaccard's union
    // denominator dilutes away.
    Query("q120_containment_pairs", (s, dir) => {
      Dedup.containmentPairsExact(shingled(s, dir), "doc_id", ContainTau,
        JaccardMaxDf)
        .orderBy("id_a", "id_b")
    },
    // q120: q55's posting-list join with the min-size denominator —
    // identical CTE chain, asymmetric final scalar.
      s"""$shingleSqlCte,
         |posts AS (
         |  SELECT doc_id, unnest(shingles) AS s FROM sh
         |),
         |keep AS (
         |  SELECT s FROM posts GROUP BY s HAVING count(*) <= $JaccardMaxDf
         |),
         |p AS (
         |  SELECT posts.doc_id, posts.s FROM posts JOIN keep USING (s)
         |),
         |inter AS (
         |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i
         |  FROM p a JOIN p b ON a.s = b.s AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2
         |),
         |sz AS (SELECT doc_id, count(*) AS sz FROM p GROUP BY doc_id)
         |SELECT id_a, id_b, sa.sz AS sz_a, sb.sz AS sz_b,
         |  ${Portable.sqlIntRatio9("i", "least(sa.sz, sb.sz)")}
         |    AS containment
         |FROM inter JOIN sz sa ON inter.id_a = sa.doc_id
         |           JOIN sz sb ON inter.id_b = sb.doc_id
         |WHERE ${Portable.sqlIntRatio9("i", "least(sa.sz, sb.sz)")}
         |  >= $ContainTau
         |ORDER BY id_a, id_b""".stripMargin),

    // LSH recall audit: q20's banding vs q55's exact ground truth, the
    // empirical recall S-curve per jaccard decile.
    Query("q119_lsh_recall", (s, dir) => {
      Dedup.lshRecallReport(shingled(s, dir), "doc_id", NumPerms,
        LshBands, LshRows, LshAuditTau, JaccardMaxDf)
        .orderBy("sim_band")
    },
    // q119: q55's exact pairs LEFT JOIN q20's LSH-verified pairs,
    // rolled up per jaccard decile — the empirical banding-recall
    // curve (identical double math, so the band floor agrees).
      s"""$lshJacSqlCte,
         |lshp AS (SELECT id_a AS fa, id_b AS fb, 1 AS hit FROM jac
         |         WHERE jaccard >= $LshAuditTau),
         |posts AS (
         |  SELECT doc_id, unnest(shingles) AS s FROM sh
         |),
         |keep AS (
         |  SELECT s FROM posts GROUP BY s HAVING count(*) <= $JaccardMaxDf
         |),
         |p AS (
         |  SELECT posts.doc_id, posts.s FROM posts JOIN keep USING (s)
         |),
         |inter AS (
         |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i
         |  FROM p a JOIN p b ON a.s = b.s AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2
         |),
         |sz AS (SELECT doc_id, count(*) AS sz FROM p GROUP BY doc_id),
         |ex AS (
         |  SELECT id_a, id_b,
         |    ${Portable.sqlIntRatio9("i", "sa.sz + sb.sz - i")}
         |      AS jaccard
         |  FROM inter JOIN sz sa ON inter.id_a = sa.doc_id
         |             JOIN sz sb ON inter.id_b = sb.doc_id
         |  WHERE ${Portable.sqlIntRatio9("i", "sa.sz + sb.sz - i")}
         |    >= $LshAuditTau
         |)
         |SELECT floor(ex.jaccard * 10)::BIGINT AS sim_band,
         |  count(*)::BIGINT AS n_true,
         |  count(l.hit)::BIGINT AS n_found,
         |  ${Portable.sqlIntRatio9("count(l.hit)", "count(*)")}
         |    AS recall
         |FROM ex LEFT JOIN lshp l ON ex.id_a = l.fa AND ex.id_b = l.fb
         |GROUP BY sim_band ORDER BY sim_band""".stripMargin),

    // Near-dedup applied: corpus minus LSH-found near-duplicates
    // (greedy keep-smallest-id over the verified pair list).
    Query("q43_near_dedup", (s, dir) => {
      Dedup.dedupNear(t(s, dir, "documents"), "doc_id", shingled(s, dir),
        NumPerms, LshBands, LshRows, JaccardTau)
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
        .orderBy("doc_id")
    },
    // q43: anti-join against the larger ids of the verified near-pairs
    // (id_a < id_b in jac, so id_b is always the drop candidate).
      s"""$lshJacSqlCte,
         |drops AS (
         |  SELECT DISTINCT id_b FROM jac WHERE jaccard >= $JaccardTau
         |)
         |SELECT d.doc_id, d.lang, d.source, d.n_chars
         |FROM documents d LEFT JOIN drops k ON d.doc_id = k.id_b
         |WHERE k.id_b IS NULL
         |ORDER BY d.doc_id""".stripMargin),

    // Near-dup cluster-representative table: connected components (min-id
    // labels; union-find on the driver within its edge budget, label
    // propagation to fixpoint past it) over the Jaccard-verified pair list —
    // the transitive complement of q43's greedy drop policy.
    Query("q51_near_dup_clusters", (s, dir) => {
      Dedup.nearDupClusters(lshPairs(s, dir), "doc_id")
        .orderBy("doc_id")
    },
    // q51: transitive closure via recursive CTE — rep = min id reachable
    // over the verified-pair edges (both directions; UNION dedups rows,
    // so the recursion terminates on the finite reachability set).
    // RECURSIVE must head the whole WITH chain in DuckDB, hence the
    // replaceFirst on the shared CTE prefix.
      s"""${lshJacSqlCte.replaceFirst("WITH ", "WITH RECURSIVE ")},
         |$nearDupReachCte
         |SELECT id AS doc_id, min(r) AS cluster_rep
         |FROM reach GROUP BY id ORDER BY doc_id""".stripMargin),

    // Soft dedup: keep every near-dup copy but weight it 1/|cluster| so
    // each component contributes one unit of training mass — the
    // loss-reweighting alternative to q53's hard drop. Singletons
    // (docs in no verified pair) weigh 1.
    Query("q91_softdedup_weights", (s, dir) => {
      val verified = lshPairs(s, dir)
      Dedup.softDedupWeights(t(s, dir, "documents"), "doc_id",
          Dedup.nearDupClusters(verified, "doc_id"))
        .orderBy("doc_id")
    },
    // q91: q51's recursive component labels, completed to the full
    // corpus (singleton = own label), window-counted per cluster.
      s"""${lshJacSqlCte.replaceFirst("WITH ", "WITH RECURSIVE ")},
         |$nearDupReachCte,
         |cl AS (SELECT id, min(r) AS cluster_rep FROM reach GROUP BY id),
         |fc AS (SELECT d.doc_id, coalesce(cl.cluster_rep, d.doc_id)
         |         AS cluster_rep
         |       FROM documents d LEFT JOIN cl ON cl.id = d.doc_id),
         |sz AS (SELECT doc_id, cluster_rep,
         |         count(*) OVER (PARTITION BY cluster_rep)::BIGINT AS csize
         |       FROM fc)
         |SELECT doc_id, cluster_rep, csize,
         |  ${Portable.sqlIntRatio9("1", "csize")} AS weight
         |FROM sz ORDER BY doc_id""".stripMargin),

    // Per-source near-duplication audit: docs, dup docs, post-dedup
    // count and dup rate per source slice.
    Query("q99_dup_stats", (s, dir) => {
      val verified = lshPairs(s, dir)
      Dedup.dupStats(t(s, dir, "documents"), "doc_id", "source",
          Dedup.nearDupClusters(verified, "doc_id"))
        .orderBy("source")
    },
    // q99: per-source rollup of the cluster labels — docs in any
    // cluster are dup docs; distinct coalesce(rep, id) is the
    // post-dedup count attributable to the source.
      s"""${lshJacSqlCte.replaceFirst("WITH ", "WITH RECURSIVE ")},
         |$nearDupReachCte,
         |cl AS (SELECT id, min(r) AS cluster_rep FROM reach GROUP BY id),
         |fc AS (SELECT d.doc_id, d.source, cl.cluster_rep,
         |         coalesce(cl.cluster_rep, d.doc_id) AS eff
         |       FROM documents d LEFT JOIN cl ON cl.id = d.doc_id)
         |SELECT source, count(*)::BIGINT AS n_docs,
         |  count(cluster_rep)::BIGINT AS n_dup_docs,
         |  count(DISTINCT eff)::BIGINT AS n_post_dedup,
         |  ${Portable.sqlIntRatio9("count(cluster_rep)", "count(*)")}
         |    AS dup_rate
         |FROM fc GROUP BY source ORDER BY source""".stripMargin),

    // Near-dedup applied with transitive clustering: one survivor (min
    // id) per connected component — q43's greedy policy can keep several
    // docs of one component; this keeps exactly the representative.
    Query("q53_near_dedup_clustered", (s, dir) => {
      Dedup.dedupNearClustered(t(s, dir, "documents"), "doc_id",
        shingled(s, dir), NumPerms, LshBands, LshRows, JaccardTau)
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
        .orderBy("doc_id")
    },
    // q53: drop every doc whose component min-id (recursive reach, as
    // q51) is not itself; unpaired docs never enter `reach` and survive.
      s"""${lshJacSqlCte.replaceFirst("WITH ", "WITH RECURSIVE ")},
         |$nearDupReachCte,
         |drops AS (
         |  SELECT id FROM reach GROUP BY id HAVING min(r) <> id
         |)
         |SELECT d.doc_id, d.lang, d.source, d.n_chars
         |FROM documents d LEFT JOIN drops k ON d.doc_id = k.id
         |WHERE k.id IS NULL
         |ORDER BY d.doc_id""".stripMargin),

    // Per-doc 60-bit SimHash fingerprint.
    Query("q21_simhash", (s, dir) => {
      Dedup.simhashes(t(s, dir, "documents"), "doc_id", "text")
        .orderBy("doc_id")
    },
      s"""$simhashSqlCte
         |SELECT doc_id, simhash FROM sim ORDER BY doc_id""".stripMargin),

    // SimHash near-dup pairs (Hamming <= 2) via 15-bit banding.
    Query("q22_simhash_pairs", (s, dir) => {
      Dedup.simhashPairs(
        Dedup.simhashes(t(s, dir, "documents"), "doc_id", "text"),
        "doc_id", MaxHamming)
        .orderBy("id_a", "id_b")
    },
      s"""$simhashSqlCte,
         |bands AS (
         |  SELECT doc_id, simhash, b,
         |    (simhash >> (${Dedup.SimHashBandBits}*b)) & ${(1L << Dedup.SimHashBandBits) - 1} AS bv
         |  FROM sim, (SELECT unnest(range(0, ${Dedup.SimHashBands})) AS b)
         |),
         |cand AS (
         |  SELECT DISTINCT a.doc_id AS id_a, c.doc_id AS id_b,
         |         bit_count(xor(a.simhash, c.simhash))::BIGINT AS hamming
         |  FROM bands a JOIN bands c ON a.b = c.b AND a.bv = c.bv
         |    AND a.doc_id < c.doc_id
         |)
         |SELECT id_a, id_b, hamming FROM cand
         |WHERE hamming <= $MaxHamming ORDER BY id_a, id_b""".stripMargin),

    // Embedding-cosine near-dup pairs via SRP buckets.
    Query("q23_embed_near_pairs", (s, dir) => {
      Dedup.embeddingNearDup(t(s, dir, "embeddings"), "vec_id", "embedding",
        SrpPlanes, CosTau)
        .orderBy("id_a", "id_b")
    },
      s"""$srpSqlCte
         |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         |       ${Portable.sqlRatio9(cosSql("ea.v", "eb.v"))} AS cos
         |FROM buck a JOIN buck b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
         |JOIN ev ea ON a.vec_id = ea.vec_id
         |JOIN ev eb ON b.vec_id = eb.vec_id
         |WHERE ${Portable.sqlRatio9(cosSql("ea.v", "eb.v"))} >= $CosTau
         |ORDER BY id_a, id_b""".stripMargin),

    // SemDeDup: argmax-cosine cluster assignment over first-k centroids,
    // then within-cluster semantic-duplicate pruning (keep-min id).
    Query("q73_semantic_dedup", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      Dedup.semanticDedup(emb, "vec_id", "embedding",
        emb.filter(col("vec_id") < SemClusters), CosTau)
        .orderBy("vec_id")
    },
    // q73: assignment = rn-1 over (cos DESC, cid ASC) — the same
    // (cos, -cid) max_by ordering as the Spark side; survivors exclude
    // any id with a smaller same-cluster neighbor at cos >= tau.
      s"""WITH ev AS (
         |  SELECT vec_id,
         |         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
         |  FROM embeddings
         |),
         |cen AS (SELECT vec_id AS cid, v AS cv FROM ev
         |        WHERE vec_id < $SemClusters),
         |sc AS (SELECT e.vec_id, c.cid,
         |              ${Portable.sqlRatio9(cosSql("e.v", "c.cv"))} AS cos
         |       FROM ev e CROSS JOIN cen c),
         |a1 AS (SELECT vec_id, cid AS cluster, cos AS cos_centroid FROM (
         |         SELECT *, row_number() OVER (PARTITION BY vec_id
         |           ORDER BY cos DESC, cid ASC) AS rn FROM sc)
         |       WHERE rn = 1),
         |dom AS (SELECT DISTINCT b.vec_id AS vec_id
         |        FROM a1 a JOIN a1 b
         |          ON a.cluster = b.cluster AND a.vec_id < b.vec_id
         |        JOIN ev ea ON a.vec_id = ea.vec_id
         |        JOIN ev eb ON b.vec_id = eb.vec_id
         |        WHERE ${Portable.sqlRatio9(cosSql("ea.v", "eb.v"))} >= $CosTau)
         |SELECT s.vec_id, s.cluster, s.cos_centroid
         |FROM a1 s WHERE s.vec_id NOT IN (SELECT vec_id FROM dom)
         |ORDER BY s.vec_id""".stripMargin),

    // Incremental dedup: the incoming batch (doc_id >= split) scrubbed
    // of exact AND near duplicates of the historical corpus
    // (doc_id < split) — cross-side band join only, never new-vs-new
    // or existing-vs-existing pairs. In-batch dups survive by contract
    // (compose with q18/q43/q53 forms for those).
    Query("q68_dedup_incremental", (s, dir) => {
      val docs = t(s, dir, "documents")
      val sh = shingled(s, dir)
      val exactClean = Dedup.dedupExactAgainst(
        docs.filter(col("doc_id") >= IncrementalSplitId),
        docs.filter(col("doc_id") < IncrementalSplitId), "doc_id", "text")
      Dedup.dedupNearAgainst(exactClean, "doc_id",
        sh.filter(col("doc_id") >= IncrementalSplitId),
        sh.filter(col("doc_id") < IncrementalSplitId),
        NumPerms, LshBands, LshRows, JaccardTau)
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
        .orderBy("doc_id")
    },
    // q68: bands computed once over all docs, split into batch/corpus
    // sides; candidates only ACROSS the split; exact side via distinct
    // historical content hashes.
      s"""$minhashSqlCte,
         |$bandsCteSql,
         |bN AS (SELECT * FROM bands WHERE doc_id >= $IncrementalSplitId),
         |bE AS (SELECT * FROM bands WHERE doc_id < $IncrementalSplitId),
         |cand AS (
         |  SELECT DISTINCT n.doc_id AS new_id, e.doc_id AS ex_id
         |  FROM bN n JOIN bE e ON n.b = e.b AND n.bh = e.bh
         |),
         |jac AS (
         |  SELECT new_id,
         |    ${Portable.sqlIntRatio9(
             "len(list_intersect(sa.shingles, sb.shingles))",
             "len(list_distinct(list_concat(sa.shingles, sb.shingles)))")}
         |      AS jaccard
         |  FROM cand JOIN sh sa ON cand.new_id = sa.doc_id
         |            JOIN sh sb ON cand.ex_id = sb.doc_id
         |),
         |ndrops AS (SELECT DISTINCT new_id FROM jac WHERE jaccard >= $JaccardTau),
         |eh AS (SELECT DISTINCT md5(text) AS h FROM documents
         |       WHERE doc_id < $IncrementalSplitId)
         |SELECT d.doc_id, d.lang, d.source, d.n_chars
         |FROM documents d
         |LEFT JOIN eh ON md5(d.text) = eh.h
         |LEFT JOIN ndrops nd ON d.doc_id = nd.new_id
         |WHERE d.doc_id >= $IncrementalSplitId
         |  AND eh.h IS NULL AND nd.new_id IS NULL
         |ORDER BY d.doc_id""".stripMargin),

    // Graph centrality over the similarity graph: integer-scaled
    // PageRank on the τ=0.8 tf-idf edges — boilerplate-adjacent docs
    // (many well-connected near-dup neighbors) surface at the top,
    // isolated/novel docs at the bottom. Bit-exact by construction
    // (integer fixpoint), so the 8-round result hash-matches an
    // unrolled CTE oracle.
    Query("q86_pagerank", (s, dir) => {
      val edges = Similarity.tfidfCosinePairs(t(s, dir, "documents"),
        "doc_id", "text", PrTau, TfidfMaxDf)
      Graph.pageRank(edges, "id_a", "id_b", PrIters, PrScale)
        .select(col("id").as("doc_id"), col("r").as("rank_int"),
          Portable.intRatio9(col("r"), lit(PrScale)).as("pr"))
        .orderBy("doc_id")
    },
    // q86: same edge CTEs at τ=$PrTau, then the integer PageRank rounds
    // unrolled — every arithmetic step is BIGINT `//` division, so the
    // 8-round fixpoint is bit-identical to the Spark loop regardless of
    // summation order (sum() widens to HUGEINT; the cast narrows back).
      s"""WITH ${tfidfPairsCtes(PrTau, TfidfMaxDf)},
         |sym AS (SELECT id_a AS s, id_b AS d FROM tfpairs
         |        UNION ALL SELECT id_b, id_a FROM tfpairs),
         |deg AS (SELECT s, count(*)::BIGINT AS deg FROM sym GROUP BY s),
         |nn AS (SELECT count(*)::BIGINT AS cnt FROM deg),
         |r0 AS (SELECT s AS id, ($PrScale // cnt)::BIGINT AS r
         |       FROM deg CROSS JOIN nn),
         |${prRoundCtes(PrIters)}
         |SELECT id AS doc_id, r AS rank_int,
         |  ${Portable.sqlIntRatio9("r", PrScale.toString)} AS pr
         |FROM r$PrIters ORDER BY doc_id""".stripMargin),

    // Density-sensitive communities on the q86 similarity graph:
    // synchronous LPA with closed tie-breaks — unlike connected
    // components, a single stray edge cannot fuse two dense near-dup
    // groups; unlike PageRank, the output PARTITIONS the graph.
    Query("q173_lpa_communities", (s, dir) => {
      val edges = Similarity.tfidfCosinePairs(t(s, dir, "documents"),
        "doc_id", "text", PrTau, TfidfMaxDf)
      Graph.labelPropagation(edges, "id_a", "id_b", LpaIters)
        .select(col("id").as("doc_id"), col("community"))
        .orderBy("doc_id")
    },
    // q173: the same edges, the LPA rounds unrolled — count/argmax/
    // carry per round, ties (count DESC, community ASC) both engines.
    {
      val rounds = (1 to LpaIters).map { r =>
        s"""c$r AS (
           |  SELECT e.s AS node, l.community, count(*) AS c
           |  FROM sym e JOIN l${r - 1} l ON l.id = e.d
           |  GROUP BY 1, 2
           |),
           |w$r AS (
           |  SELECT node, community AS w FROM (
           |    SELECT node, community,
           |      row_number() OVER (PARTITION BY node
           |        ORDER BY c DESC, community) AS rn
           |    FROM c$r)
           |  WHERE rn = 1
           |),
           |l$r AS (
           |  SELECT p.id, coalesce(w.w, p.community) AS community
           |  FROM l${r - 1} p LEFT JOIN w$r w ON w.node = p.id
           |)""".stripMargin
      }.mkString(",\n")
      s"""WITH ${tfidfPairsCtes(PrTau, TfidfMaxDf)},
         |sym AS (SELECT DISTINCT s, d FROM (
         |    SELECT id_a AS s, id_b AS d FROM tfpairs
         |    UNION ALL SELECT id_b, id_a FROM tfpairs)
         |  WHERE s <> d),
         |l0 AS (SELECT DISTINCT s AS id, s AS community FROM sym),
         |$rounds
         |SELECT id AS doc_id, community FROM l$LpaIters
         |ORDER BY doc_id""".stripMargin
    }),

    // Repeated-span scrub (ExactSubstr-style): k-token windows seen
    // earlier anywhere in the corpus are removed from the text; the
    // globally-first occurrence survives.
    Query("q78_scrub_spans", (s, dir) => {
      Dedup.scrubRepeatedSpans(t(s, dir, "documents"), "doc_id", "text",
        ScrubK).orderBy("doc_id")
    },
    // q78: same window hashes; the canonical occurrence is rank 1 over
    // (doc_id, pos) per hash — every later occurrence's k covered token
    // indices are scrubbed; kept tokens re-join in position order.
    // Fully-scrubbed documents keep an empty string (agg FILTER), and
    // clean documents fall back to their original text.
    {
      val kg = "concat_ws(' ', " +
        (0 until ScrubK).map(o => s"t[i+$o]").mkString(", ") + ")"
      s"""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
         |wins AS (
         |  SELECT doc_id, i AS pos, ${Portable.sqlHash(kg)} AS hh
         |  FROM toks, LATERAL (SELECT unnest(range(1,
         |    greatest(0, len(t) - ${ScrubK - 2}))) AS i) _
         |),
         |marked AS (
         |  SELECT doc_id, pos, row_number() OVER (PARTITION BY hh
         |    ORDER BY doc_id, pos) AS rn
         |  FROM wins
         |),
         |dup AS (SELECT doc_id, pos FROM marked WHERE rn > 1),
         |rem AS (
         |  SELECT DISTINCT doc_id, pos + o AS idx
         |  FROM dup, LATERAL (SELECT unnest(range(0, $ScrubK)) AS o) _
         |),
         |tsp AS (
         |  SELECT doc_id, i AS idx, t[i] AS tok
         |  FROM toks, LATERAL (SELECT unnest(range(1, len(t) + 1)) AS i) _
         |),
         |dirty AS (SELECT DISTINCT doc_id FROM rem),
         |reb AS (
         |  SELECT tsp.doc_id,
         |    coalesce(string_agg(tsp.tok, ' ' ORDER BY tsp.idx)
         |      FILTER (WHERE rem.idx IS NULL), '') AS scrubbed
         |  FROM tsp
         |  JOIN dirty ON tsp.doc_id = dirty.doc_id
         |  LEFT JOIN rem ON tsp.doc_id = rem.doc_id AND tsp.idx = rem.idx
         |  GROUP BY tsp.doc_id
         |),
         |remc AS (SELECT doc_id, count(*)::BIGINT AS n_removed
         |         FROM rem GROUP BY doc_id)
         |SELECT d.doc_id, len(t.t)::BIGINT AS n_tokens,
         |       coalesce(remc.n_removed, 0)::BIGINT AS n_removed,
         |       coalesce(reb.scrubbed, d.text) AS text_scrubbed
         |FROM documents d
         |JOIN toks t ON d.doc_id = t.doc_id
         |LEFT JOIN remc ON d.doc_id = remc.doc_id
         |LEFT JOIN reb ON d.doc_id = reb.doc_id
         |ORDER BY d.doc_id""".stripMargin
    }),

    // Leakage-free split: whole near-dup clusters assigned train/valid
    // by an md5 of the cluster representative, so near-duplicate docs
    // can never straddle the eval boundary.
    Query("q95_leakage_free_split", (s, dir) => {
      val verified = lshPairs(s, dir)
      Dedup.leakageFreeSplit(t(s, dir, "documents"), "doc_id",
          Dedup.nearDupClusters(verified, "doc_id"), SplitValidFrac)
        .orderBy("doc_id")
    },
    // q95: q91's full-corpus cluster labels, split by the md5-hex
    // prefix of the representative — lexicographic hex compare is
    // engine-portable and uniform.
      s"""${lshJacSqlCte.replaceFirst("WITH ", "WITH RECURSIVE ")},
         |$nearDupReachCte,
         |cl AS (SELECT id, min(r) AS cluster_rep FROM reach GROUP BY id),
         |fc AS (SELECT d.doc_id, coalesce(cl.cluster_rep, d.doc_id)
         |         AS cluster_rep
         |       FROM documents d LEFT JOIN cl ON cl.id = d.doc_id)
         |SELECT doc_id, cluster_rep,
         |  CASE WHEN substr(md5(cluster_rep::VARCHAR), 1, 4)
         |         < '${f"${math.floor(SplitValidFrac * 65536).toInt}%04x"}'
         |       THEN 'valid' ELSE 'train' END AS split
         |FROM fc ORDER BY doc_id""".stripMargin),

    // Bloom-prefiltered incremental exact dedup: q68's exact stage with
    // the sketch fast-path — batch rows the index Bloom filter rejects
    // skip the anti-join map-side; positives verify exactly, so the
    // result is the anti-join's, hash-checked here end-to-end.
    Query("q105_dedup_bloom", (s, dir) => {
      val docs = t(s, dir, "documents")
      Dedup.dedupExactAgainstBloom(
        docs.filter(col("doc_id") >= IncrementalSplitId),
        docs.filter(col("doc_id") < IncrementalSplitId),
        "doc_id", "text", expectedItems = 1L << 16)
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
        .orderBy("doc_id")
    },
    // q105: Bloom prefilter + exact verify ≡ the plain anti-join — the
    // sketch prunes work, never changes the answer, so the oracle is
    // the anti-join itself.
      s"""SELECT d.doc_id, d.lang, d.source, d.n_chars
         |FROM documents d
         |WHERE d.doc_id >= $IncrementalSplitId AND NOT EXISTS (
         |  SELECT 1 FROM documents e
         |  WHERE e.doc_id < $IncrementalSplitId AND e.text = d.text)
         |ORDER BY d.doc_id""".stripMargin),

    // Quality-aware near-dedup: per cluster keep the HIGHEST-quality
    // copy (ties -> min id) instead of q53's min-id survivor.
    Query("q97_near_dedup_best", (s, dir) => {
      val verified = lshPairs(s, dir)
      val scored = t(s, dir, "documents").join(
        Text.qualityScore(t(s, dir, "documents"), "text")
          .select(col("doc_id"), col("quality_score")), Seq("doc_id"))
      Dedup.dedupNearClusteredBest(scored, "doc_id", "quality_score",
          Dedup.nearDupClusters(verified, "doc_id"))
        .select(col("doc_id"), col("cluster_rep"), col("lang"),
          col("source"), col("quality_score"))
        .orderBy("doc_id")
    },
    // q97: full-corpus cluster labels (as q91/q95) + the q25 quality
    // score; per cluster the row_number-1 row on (score DESC, id ASC).
    {
      val stopList = Text.EnStopwords.map(w => s"'$w'").mkString(", ")
      s"""${lshJacSqlCte.replaceFirst("WITH ", "WITH RECURSIVE ")},
         |$nearDupReachCte,
         |cl AS (SELECT id, min(r) AS cluster_rep FROM reach GROUP BY id),
         |fc AS (SELECT d.doc_id, coalesce(cl.cluster_rep, d.doc_id)
         |         AS cluster_rep
         |       FROM documents d LEFT JOIN cl ON cl.id = d.doc_id),
         |qm AS (
         |  SELECT doc_id,
         |    $qMetricColsSql
         |  FROM documents
         |),
         |qs AS (
         |  SELECT doc_id, $qScoreSqlExpr
         |    AS quality_score
         |  FROM qm
         |),
         |ranked AS (
         |  SELECT d.doc_id, fc.cluster_rep, d.lang, d.source, qs.quality_score,
         |    row_number() OVER (PARTITION BY fc.cluster_rep
         |      ORDER BY qs.quality_score DESC, d.doc_id ASC) AS rn
         |  FROM documents d JOIN fc USING (doc_id) JOIN qs USING (doc_id)
         |)
         |SELECT doc_id, cluster_rep, lang, source, quality_score
         |FROM ranked WHERE rn = 1 ORDER BY doc_id""".stripMargin
    }),

    // Winnowing fingerprints (k=4 grams, window 4).
    Query("q27_fingerprints", (s, dir) => {
      Text.fingerprints(t(s, dir, "documents"), "text", FpK, FpW)
        .orderBy("doc_id", "fp")
    },
    {
      val kgHash = Portable.sqlHash(
        "concat_ws(' ', " + (0 until FpK).map(o => s"t[i+$o]").mkString(", ") + ")")
      s"""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
         |kg AS (
         |  SELECT doc_id,
         |    list_transform(range(1, greatest(0, len(t) - ${FpK - 2})),
         |      i -> $kgHash) AS hs
         |  FROM toks
         |),
         |fp AS (
         |  SELECT doc_id,
         |    list_distinct(list_transform(range(1, greatest(0, len(hs) - ${FpW - 2})),
         |      i -> list_min(hs[i:i+${FpW - 1}]))) AS fps
         |  FROM kg
         |)
         |SELECT doc_id, unnest(fps) AS fp FROM fp
         |WHERE len(fps) >= 1 ORDER BY doc_id, fp""".stripMargin
    }),

    // Benchmark decontamination: training docs sharing >= 5 distinct
    // shingles with the (broadcast) eval set.
    Query("q61_contamination", (s, dir) => {
      val sh = shingled(s, dir)
      Dedup.contamination(sh, sh.filter(col("doc_id") < EvalSetDocs),
        "doc_id", ContaminationMinShared)
        .orderBy("doc_id", "eval_id")
    },
      s"""$shingleSqlCte,
         |tp AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
         |ep AS (SELECT doc_id AS eval_id, unnest(shingles) AS s FROM sh
         |       WHERE doc_id < $EvalSetDocs)
         |SELECT tp.doc_id, ep.eval_id, count(*) AS shared_ngrams
         |FROM tp JOIN ep USING (s)
         |GROUP BY tp.doc_id, ep.eval_id
         |HAVING count(*) >= $ContaminationMinShared
         |ORDER BY tp.doc_id, ep.eval_id""".stripMargin),

    // Decontamination threshold sensitivity: per observed worst-overlap
    // value, how many training docs a minShared bar set there would
    // flag — every candidate threshold priced in one pass (q145's
    // pattern applied to the q61 bar).
    Query("q157_contamination_sens", (s, dir) => {
      val sh = shingled(s, dir)
      Dedup.contaminationSensitivity(sh,
          sh.filter(col("doc_id") < EvalSetDocs), "doc_id")
        .orderBy("max_shared")
    },
    // q157: q61's posting join at minShared = 1, doc-keyed max, value
    // rollup, descending cumulative.
      s"""$shingleSqlCte,
         |tp AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
         |ep AS (SELECT doc_id AS eval_id, unnest(shingles) AS s FROM sh
         |       WHERE doc_id < $EvalSetDocs),
         |pairsh AS (
         |  SELECT tp.doc_id, ep.eval_id, count(*) AS shared_ngrams
         |  FROM tp JOIN ep USING (s)
         |  GROUP BY tp.doc_id, ep.eval_id
         |),
         |mx AS (
         |  SELECT doc_id, max(shared_ngrams) AS max_shared
         |  FROM pairsh GROUP BY doc_id
         |)
         |SELECT max_shared, count(*)::BIGINT AS n_docs,
         |  CAST(sum(count(*)) OVER (ORDER BY max_shared DESC
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         |    AS cum_docs_ge
         |FROM mx GROUP BY max_shared
         |ORDER BY max_shared""".stripMargin),

    // Eval-integrity audit: per-eval-doc fraction of its distinct
    // shingles found ANYWHERE in the (disjoint) training corpus —
    // catches leakage spread across many training docs, which the
    // pairwise q61 report structurally misses.
    Query("q108_contamination_coverage", (s, dir) => {
      val sh = shingled(s, dir)
      Dedup.contaminationCoverage(
        sh.filter(col("doc_id") >= EvalSetDocs),
        sh.filter(col("doc_id") < EvalSetDocs), "doc_id")
        .orderBy("eval_id")
    },
    // q108: eval docs (and their shingle arrays' distinctness) come
    // from the same sh CTE as the Spark side; a doc too short to
    // shingle never enters the posting list, so its row comes from the
    // documents spine with counts 0 and a NULL coverage.
      s"""$shingleSqlCte,
         |tsp AS (SELECT DISTINCT s FROM (
         |  SELECT unnest(shingles) AS s FROM sh
         |  WHERE doc_id >= $EvalSetDocs) _),
         |ep AS (SELECT doc_id AS eval_id, unnest(shingles) AS s FROM sh
         |       WHERE doc_id < $EvalSetDocs),
         |per AS (
         |  SELECT eval_id, count(*)::BIGINT AS n_shingles,
         |    CAST(sum(CASE WHEN tsp.s IS NOT NULL THEN 1 ELSE 0 END)
         |      AS BIGINT) AS n_cont
         |  FROM ep LEFT JOIN tsp ON ep.s = tsp.s
         |  GROUP BY eval_id
         |)
         |SELECT d.doc_id AS eval_id,
         |  coalesce(per.n_shingles, 0) AS n_shingles,
         |  coalesce(per.n_cont, 0) AS n_contaminated,
         |  ${Portable.sqlIntRatio9("per.n_cont", "per.n_shingles")}
         |    AS coverage
         |FROM (SELECT doc_id FROM documents
         |      WHERE doc_id < $EvalSetDocs) d
         |LEFT JOIN per ON per.eval_id = d.doc_id
         |ORDER BY eval_id""".stripMargin),

    // Catalog fuzzy matching: every pair of distinct part names within
    // edit distance 2, found via loss-free PassJoin segment filtering
    // (never all-pairs); the oracle is the INDEPENDENT brute-force
    // cross join, so a hash match certifies completeness on real data.
    Query("q206_fuzzy_names", (s, dir) => {
      Er.editJoin(t(s, dir, "part"), "p_name", ErMaxDist)
        .orderBy("name_a", "name_b")
    },
    // q206: the oracle is deliberately the brute-force O(V²) join the
    // engine avoids — a hash match certifies the segment-filter path
    // is COMPLETE on real data, not just on the spec fixture.
      s"""WITH strs AS (
         |  SELECT p_name AS s, count(*)::BIGINT AS n FROM part GROUP BY 1
         |)
         |SELECT a.s AS name_a, b.s AS name_b,
         |  levenshtein(a.s, b.s)::BIGINT AS dist,
         |  a.n AS n_a, b.n AS n_b
         |FROM strs a JOIN strs b ON a.s < b.s
         |WHERE levenshtein(a.s, b.s) BETWEEN 1 AND $ErMaxDist
         |ORDER BY name_a, name_b""".stripMargin),

    // Entity resolution end-to-end: the q206 match graph closed
    // transitively into entity clusters, canonicalized by the
    // most-frequent-variant survivorship rule — the name→canonical
    // rewrite table a catalog normalization pass joins on.
    Query("q209_entity_resolution", (s, dir) => {
      Er.resolveEntities(t(s, dir, "part"), "p_name", ErMaxDist)
        .orderBy("name")
    },
    // q209: brute-force edges (the q206 oracle posture), recursive
    // transitive closure (the q51 reach pattern), min-reachable rep,
    // survivorship as a deterministic row_number window.
      s"""WITH RECURSIVE strs AS (
         |  SELECT p_name AS s, count(*)::BIGINT AS n FROM part GROUP BY 1
         |),
         |edges AS (
         |  SELECT a.s AS x, b.s AS y FROM strs a JOIN strs b
         |  ON a.s <> b.s AND levenshtein(a.s, b.s) <= $ErMaxDist
         |),
         |reach AS (
         |  SELECT x AS id, x AS r FROM edges
         |  UNION
         |  SELECT e.x AS id, reach.r FROM edges e JOIN reach ON e.y = reach.id
         |),
         |cl AS (SELECT id, min(r) AS rep FROM reach GROUP BY 1),
         |lab AS (
         |  SELECT s.s AS name, s.n AS n_rows, coalesce(cl.rep, s.s) AS rep
         |  FROM strs s LEFT JOIN cl ON cl.id = s.s
         |),
         |canon AS (
         |  SELECT rep, name AS canonical,
         |    row_number() OVER (PARTITION BY rep
         |      ORDER BY n_rows DESC, name) AS rn
         |  FROM lab
         |),
         |agg AS (
         |  SELECT rep, count(*)::BIGINT AS n_variants,
         |    sum(n_rows)::BIGINT AS cluster_rows
         |  FROM lab GROUP BY 1
         |)
         |SELECT lab.name, lab.n_rows, c.canonical, a.n_variants,
         |  a.cluster_rows
         |FROM lab JOIN canon c ON lab.rep = c.rep AND c.rn = 1
         |JOIN agg a ON lab.rep = a.rep
         |ORDER BY lab.name""".stripMargin),

    // Winnowing (MOSS) fingerprints per document: window-min selected
    // k-gram hashes — the position-robust local fingerprint set, at
    // ~2/(w+1) the density of the full q55 shingle index.
    Query("q210_winnow_fps", (s, dir) => {
      Text.winnowFingerprints(t(s, dir, "documents"), "doc_id", "text",
          ShingleN, WinnowW)
        .orderBy("doc_id", "fp")
    },
    // q210: the winnowing chain CTE — identical hash, window frame,
    // start filter.
      s"""$winnowFpSqlCte
         |SELECT doc_id, fp FROM fp ORDER BY doc_id, fp""".stripMargin),

    // Shared-fingerprint overlap pairs over the winnowed index —
    // quote/plagiarism detection at fingerprint (not full-shingle)
    // cost; maxDf prunes boilerplate posting lists, the same
    // restricted-universe contract as q55.
    Query("q211_winnow_overlap", (s, dir) => {
      Text.winnowOverlap(
        Text.winnowFingerprints(t(s, dir, "documents"), "doc_id",
          "text", ShingleN, WinnowW),
        "doc_id", WinnowMaxDf, WinnowMinShared)
        .orderBy("id_a", "id_b")
    },
    // q211: df prune (HAVING over the distinct fingerprint frame),
    // posting self-join, post-prune sizes — the q55 shape over the
    // winnowed index.
      s"""$winnowFpSqlCte,
         |kept AS (
         |  SELECT f.doc_id, f.fp FROM fp f JOIN (
         |    SELECT fp FROM fp GROUP BY 1
         |    HAVING count(*) <= $WinnowMaxDf) d USING (fp)
         |),
         |sz AS (SELECT doc_id, count(*)::BIGINT AS s FROM kept GROUP BY 1),
         |pr AS (
         |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |    count(*)::BIGINT AS n_shared
         |  FROM kept a JOIN kept b ON a.fp = b.fp AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2 HAVING count(*) >= $WinnowMinShared
         |)
         |SELECT pr.id_a, pr.id_b, pr.n_shared, sa.s AS n_a, sb.s AS n_b,
         |  ${Portable.sqlIntRatio9("pr.n_shared",
             "least(sa.s, sb.s)")} AS containment
         |FROM pr JOIN sz sa ON pr.id_a = sa.doc_id
         |JOIN sz sb ON pr.id_b = sb.doc_id
         |ORDER BY id_a, id_b""".stripMargin)
  )
}

package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.app.CorpusPipeline
import graft.ops._
import graft.queries._

/** The query contract: every implemented operator from SURVEY.md §2 is
  * one [[graft.queries.Query]] record, its Spark body beside its
  * DuckDB-runnable SQL, in its family's registry under `graft.queries`;
  * `queries` and `oracleSql` are their union. This object holds
  * `entry`, the constants specs read, and the constants and building
  * blocks more than one family uses.
  *
  * Conventions for oracle parity:
  *  - every query ends in a full deterministic ORDER BY (both sides), so
  *    row order can never break the hash compare;
  *  - column names are aliased identically on both sides;
  *  - window-function outputs (`row_number`) are cast to BIGINT to match
  *    DuckDB's type;
  *  - no engine-specific functions in oracle-facing queries.
  */
object SparkEntry {

  private[graft] def t(s: SparkSession, dir: String, name: String): DataFrame =
    Sources.table(s, dir, name)

  /** Vocab size including the reserved UNK index — kept below the distinct
    * part count of every fixture SF so the OOV path is exercised. */
  val VocabK = 100

  /** Neighbors per target in the similarity reports. */
  val TopK = 10

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * Top co-purchase neighbors per part (SURVEY.md §7.2). */
  def entry(spark: SparkSession): DataFrame =
    queries("q14_copurchase_topk")(spark, "/root/testdata/sf0.001")

  // ---- shared building blocks ------------------------------------------

  /** Top-(K-1) vocab with dense idx 1..K-1 (UNK reserved at 0), pinned
    * tiebreak (cnt DESC, product_id ASC). SURVEY §2.4 A2+A3. */
  private[graft] def vocab(s: SparkSession, dir: String): DataFrame =
    Vocab.withIndex(Vocab.topK(t(s, dir, "lineitem"), "l_partkey", VocabK))

  // ---- extension constants (SURVEY.md §7.4) ----------------------------

  /** Shingle size for MinHash dedup. */
  val ShingleN = 3
  /** MinHash permutations; LSH bands × rows-per-band must equal it. */
  val NumPerms = 16
  val LshBands = 4
  val LshRows = 4
  /** Jaccard acceptance threshold for near-dup verification. */
  val JaccardTau = 0.5
  /** q135 CDC boundary divisor (expected chunk length in tokens). */
  val CdcDivisor = 16
  /** q133 anomaly baseline: previous day of observed hourly windows. */
  val AnomalyTrailing = 24
  /** q133 |z| flag threshold. */
  val AnomalyZ = 2.0
  /** q58 repetition-stats n-gram size (Gopher's duplication filters use
    * n in 2..4; bigrams are the most sensitive on short documents). */
  val RepetitionN = 2
  /** q114: the fractional-epoch lottery's draw salt. */
  val EpochRealizeSalt = "q114"
  /** q84 tf-idf cosine pairs: 0.88 keeps the tail of the word-soup
    * similarity distribution. The df prune is the operator's documented
    * skew lever and 1000 ENGAGES it exactly as production would: at the
    * correctness SF (sf0.01, every df ≈ 385) nothing is pruned — the
    * oracle verifies the full unpruned semantics — while at the bench
    * SF (sf0.1) the ~30 stopword-grade terms sitting in ~77% of all
    * docs are pruned and only the informative low-df terms join,
    * bounding the posting join at Σdf² over kept terms (the unpruned
    * fixture join is ~450M products for a 31-term vocabulary — the
    * degenerate all-pairs case the lever exists for; measured 64.7 s →
    * ~1 s at sf0.1). Norms keep every term, so pruning only ever
    * underestimates the cosine, same contract as
    * `DedupQueries.JaccardMaxDf`. */
  val TfidfTau = 0.88
  val TfidfMaxDf = 1000L
  /** q62 end-to-end curation Config, pinned so the Spark funnel and the
    * chained DuckDB oracle can never drift: quality cut at the score
    * median-ish 0.5, Gopher bigram gate at 0.1 (the sf0.01 corpus's
    * ~p98 — the gate demonstrably drops docs), languages {en}, chunk
    * budget 64, and the shared MinHash/LSH constants for near-dedup. */
  val CurateMinQuality = 0.5
  val CurateMaxDupRatio = 0.1
  /** q102 per-source relative quality cut: keep each source's top 70%
    * (percent_rank ≥ 0.3) on top of the absolute 0.5 score floor. */
  val CurateMinQualityPct = 0.3
  val CurateChunkTokens = 64
  val CurateLangs = Set("en")
  /** The q62 funnel config built from the constants above; the
    * q62-family queries `.copy` it with the fields they change. */
  private[graft] val CurateCfg = CorpusPipeline.Config(
    keepLangs = CurateLangs, minQuality = CurateMinQuality,
    shingleN = ShingleN, minhashPerms = NumPerms, bands = LshBands,
    rowsPerBand = LshRows, jaccardTau = JaccardTau,
    chunkTokens = CurateChunkTokens,
    maxDupNgramRatio = Some(CurateMaxDupRatio), repetitionN = RepetitionN)
  /** q90/q93 CCNet perplexity tiers: 3 equal-count tiers per language;
    * the funnel keeps head+middle (the canonical recipe — the tail is
    * the rare-token/noise region). */
  val PplBuckets = 3
  val CuratePplTiers = Set("head", "middle")
  /** q104 epoch-factor mixture: three explicit sources with 3:1:1
    * target shares (exact-decimal weights, so the Scala-side wsum = 5.0
    * inlined into both engines carries no float drift), 100k-token
    * budget — small enough that every factor < 1 AND large enough that
    * at least one source's factor would exceed 1 at sf0.001 volumes. */
  val EpochWeights: Map[String, Double] =
    Map("src0" -> 3.0, "src1" -> 1.0, "src2" -> 1.0)
  val EpochBudget = 100000L
  /** q61 decontamination: the "eval set" is the first docs of the
    * corpus (simulating benchmark leakage), flagged at ≥ 5 shared
    * distinct shingles. */
  val EvalSetDocs = 20L
  val ContaminationMinShared = 5L
  /** q67 packing: 128-token training sequences over 4 hash shards. */
  val PackSeqTokens = 128
  val PackShards = 4
  /** Placeholder the sink-interchange oracles (q41/q106/q144) embed in
    * their read paths; [[Verify]] substitutes the ACTIVE sf dir's
    * basename at dump time, so the oracle always reads the files the
    * Spark side just wrote — valid at every SF, never stale. */
  val SfToken = "__SF__"

  /** q254 robust anomaly: Hampel threshold k = kNum/kDen (3 is the
    * classic), kept rational so the decision stays pure-integer. */
  val RobustKNum = 3L
  val RobustKDen = 1L

  /** SimHash near-dup Hamming radius (4×15-bit banding is exact to ≤3). */
  val MaxHamming = 2

  /** SRP planes for embedding near-dup / ANN bucketing. */
  val SrpPlanes = 4
  /** q150 matryoshka prefix: keep 16 of the fixture's 64 dims (4× the
    * memory/dot-product savings an MRL index would bank). */
  val TruncDims = 16
  /** Fixture embedding width (pinned — q151's reference dimension and
    * the q153 oracle's unnest bound). */
  val EmbDims = 64

  /** q236 SPRT: null/alternative conversion rates and error budget —
    * the integer walk constants derive from these via
    * [[graft.ops.Events.sprtConstants]] in BOTH engines. */
  val SprtP0 = 0.30
  val SprtP1 = 0.35
  val SprtAlpha = 0.05
  val SprtBeta = 0.05

  /** q191 KS-drift split: the named source vs the rest of the corpus. */
  val KsSourceA = "src0"
  /** q200 PSI bin count (the industry-standard 10 deciles). */
  val PsiBins = 10

  /** q73 SemDeDup centroid count — the first-k-rows centroid choice the
    * oracle pins (a real run passes k-means centers instead); within-
    * cluster pairs stay ~N²/k, and the fixture's within-cluster cosine
    * p99 ≈ 0.32 makes the CosTau gate drop a real minority. */
  val SemClusters = 8L
  /** Tumbling window width / session gap for event analytics (ms). */
  val WindowMs = 3600000L
  val SessionGapMs = 1800000L

  /** DuckDB CTE bodies (no WITH prefix) mirroring
    * `DedupQueries.shingled` over an arbitrary (doc_id, text) source
    * relation: tokens → distinct shingles. Parametrized so q62 can
    * run the identical chain over the curation funnel's exact-dedup
    * survivors instead of raw `documents`. */
  private[graft] def shingleCtesFrom(src: String): String =
    s"""toks AS (
       |  SELECT doc_id, string_split(text, ' ') AS t FROM $src
       |),
       |sh AS (
       |  SELECT doc_id, ${Text.shinglesSql("t", ShingleN)} AS shingles FROM toks
       |)""".stripMargin

  /** [[shingleCtesFrom]] + MinHash signatures (no WITH prefix).
    * Kernel-lockstep with [[graft.functions.MinHashMix]]: ONE md5-based
    * [[Portable.sqlHash]] per shingle, then per-permutation
    * (a·h + b) mod (2^61 − 1) mixes in exact HUGEINT arithmetic — the
    * coefficient literals come from the very same
    * [[graft.functions.MinHashSig.coefA]]/[[graft.functions.MinHashSig.coefB]]
    * the Spark expression uses, so the engines' signatures are
    * bit-equal by construction. */
  private[graft] def minhashCtesFrom(src: String): String = {
    val M = graft.functions.MinHashSig.Prime
    val sigExpr = (0 until NumPerms).map { p =>
      val a = graft.functions.MinHashSig.coefA(p)
      val b = graft.functions.MinHashSig.coefB(p)
      s"list_min(list_transform(bh, h -> CAST(($a::HUGEINT * h + $b) % $M AS BIGINT)))"
    }.mkString(", ")
    s"""${shingleCtesFrom(src)},
       |sigb AS (
       |  SELECT doc_id, shingles,
       |    list_transform(shingles, s -> ${Portable.sqlHash("s")}) AS bh
       |  FROM sh WHERE len(shingles) >= 1
       |),
       |sig AS (
       |  SELECT doc_id, shingles, [$sigExpr] AS sig FROM sigb
       |)""".stripMargin
  }

  /** DuckDB CTE body: LSH band hashes from the `sig` CTE — shared by
    * the self-join near-dup chain and q68's cross-side (new × existing)
    * candidate join. */
  private[graft] val bandsCteSql: String = {
    val bandKeys = (1 to LshRows).map(r => s"sig[$LshRows*b + $r]") :+ "b"
    s"""bands AS (
       |  SELECT doc_id, shingles, b, ${Portable.sqlHash(bandKeys: _*)} AS bh
       |  FROM sig, (SELECT unnest(range(0, $LshBands)) AS b)
       |)""".stripMargin
  }

  /** DuckDB CTE chain for the MinHash→LSH→Jaccard near-dup pipeline
    * over an arbitrary (doc_id, text) source (no WITH prefix; extends
    * [[minhashCtesFrom]] with bands → candidate pairs → verified
    * jaccard). */
  private[graft] def lshJacCtesFrom(src: String): String = {
    s"""${minhashCtesFrom(src)},
       |$bandsCteSql,
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS id_a, c.doc_id AS id_b
       |  FROM bands a JOIN bands c ON a.b = c.b AND a.bh = c.bh
       |    AND a.doc_id < c.doc_id
       |),
       |jac AS (
       |  SELECT id_a, id_b,
       |    ${Portable.sqlIntRatio9(
           "len(list_intersect(sa.shingles, sb.shingles))",
           "len(list_distinct(list_concat(sa.shingles, sb.shingles)))")}
       |      AS jaccard
       |  FROM cand JOIN sh sa ON cand.id_a = sa.doc_id
       |            JOIN sh sb ON cand.id_b = sb.doc_id
       |)""".stripMargin
  }

  /** Recursive transitive-reachability CTE over the verified near-dup
    * pairs — shared by q51 (cluster table) and q53 (cluster-policy
    * apply), so the reachability definition can never drift between
    * them. Expects the `jac` CTE (`DedupQueries.lshJacSqlCte`) in
    * scope; yields `reach(id, r)` = every (vertex, reachable vertex)
    * pair. */
  private[graft] val nearDupReachCte: String =
    s"""edges AS (
       |  SELECT id_a AS s, id_b AS d FROM jac WHERE jaccard >= $JaccardTau
       |  UNION
       |  SELECT id_b AS s, id_a AS d FROM jac WHERE jaccard >= $JaccardTau
       |),
       |reach AS (
       |  SELECT s AS id, s AS r FROM edges
       |  UNION
       |  SELECT e.s AS id, reach.r AS r
       |  FROM edges e JOIN reach ON e.d = reach.id
       |)""".stripMargin

  /** DuckDB CTE computing per-doc SimHash (relational form of
    * [[Text.simhash]]). */
  private[graft] val simhashSqlCte: String =
    s"""WITH tok AS (
       |  SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
       |),
       |th AS (SELECT doc_id, ${Portable.sqlHash("w")} AS h FROM tok),
       |bits AS (
       |  SELECT doc_id, b,
       |         CASE WHEN sum(CASE WHEN ((h >> b) & 1) = 1 THEN 1 ELSE -1 END) >= 0
       |              THEN (1::BIGINT << b) ELSE 0 END AS bv
       |  FROM th, (SELECT unnest(range(0, ${Dedup.SimHashBits})) AS b) GROUP BY doc_id, b
       |),
       |sim AS (
       |  SELECT doc_id, sum(bv)::BIGINT AS simhash FROM bits GROUP BY doc_id
       |)""".stripMargin

  /** DuckDB CTE: SRP bucket per embedding vector (mirror of
    * [[Dedup.srpBuckets]]). */
  private[graft] val srpSqlCte: String =
    // d is an ordered list_sum fold (not a relational SUM) so the float
    // accumulation order matches Spark's sequential `aggregate` fold
    // bit-for-bit — a relational SUM could flip the sign of a near-zero
    // projection and change the bucket.
    s"""WITH proj AS (
       |  SELECT vec_id, p,
       |    list_sum(list_transform(range(1, len(embedding) + 1),
       |      i -> embedding[i]::DOUBLE * (${Portable.sqlUnif("p", "i")} - 0.5))) AS d
       |  FROM embeddings, (SELECT unnest(range(0, $SrpPlanes)) AS p)
       |),
       |buck AS (
       |  SELECT vec_id, sum(CASE WHEN d >= 0 THEN (1::BIGINT << p) ELSE 0 END)::BIGINT AS bucket
       |  FROM proj GROUP BY vec_id
       |),
       |ev AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |  FROM embeddings
       |)""".stripMargin

  /** Exact-cosine top-k oracle body (probes = vec_id < 5), parametrized
    * on the embedding expression so q150 can run the IDENTICAL report
    * over the matryoshka prefix (`embedding[1:dims]`) — the truncation
    * is the only delta between the q150 oracle's two sides. */
  private[graft] def exactTopKSqlOn(vecExpr: String): String =
    s"""WITH c AS (
       |  SELECT vec_id,
       |         list_transform($vecExpr, x -> CAST(x AS DOUBLE)) AS v
       |  FROM embeddings
       |),
       |p AS (
       |  SELECT vec_id AS probe_id,
       |         list_transform($vecExpr, x -> CAST(x AS DOUBLE)) AS pv
       |  FROM embeddings WHERE vec_id < 5
       |),
       |s AS (
       |  SELECT probe_id, vec_id,
       |    ${Portable.sqlRatio9(
           "list_sum(list_transform(range(1, len(v) + 1)," +
           " i -> v[i] * pv[i])) /" +
           " (sqrt(list_sum(list_transform(range(1, len(v) + 1)," +
           " i -> v[i] * v[i]))) *" +
           " sqrt(list_sum(list_transform(range(1, len(pv) + 1)," +
           " i -> pv[i] * pv[i]))))")} AS cos
       |  FROM c, p WHERE vec_id <> probe_id
       |)
       |SELECT probe_id, vec_id, cos,
       |       CAST(row_number() OVER (PARTITION BY probe_id
       |         ORDER BY cos DESC, vec_id ASC) AS BIGINT) AS rnk
       |FROM s
       |QUALIFY rnk <= $TopK
       |ORDER BY probe_id, rnk""".stripMargin

  private[graft] val q16OracleSql: String = exactTopKSqlOn("embedding")

  /** The q62 oracle's CTE chain (WITH RECURSIVE .. surv): the full
    * curation funnel down to the near-dedup survivors — shared by q62
    * (chunk the survivors) and q70 (decontaminate, then chunk). */
  private[graft] def curateOracleCtes: String = curateOracleCtesWith(pplGate = false)

  /** The shared funnel chain, optionally with the CCNet perplexity-tier
    * gate (q93) between the repetition gate and exact dedup: NLL over
    * the gkeep survivors (the model trains on the post-gate subset,
    * exactly like the Spark stage), per-lang ntile on the rounded
    * score, tiers in [[CuratePplTiers]] kept.
    *
    * Each funnel CTE is `AS MATERIALIZED`: DuckDB inlines a CTE at every
    * reference, and later stages read earlier ones more than once, so
    * the nine oracles over this chain re-derived the funnel many times
    * (262 s together on sf0.01; 30.3 s materialized, DuckDB 1.0, 4-core
    * host). The near-dup CTEs it embeds are shared with the Dedup
    * oracles and are still inlined. */
  private[graft] def curateOracleCtesWith(pplGate: Boolean,
                                   bestSurvivor: Boolean = false,
                                   pctGate: Boolean = false): String = {
    val stopList = Text.EnStopwords.map(w => s"'$w'").mkString(", ")
    val langList = CurateLangs.toSeq.sorted.map(l => s"'$l'").mkString(", ")
    val exSrc = if (pplGate) "pkeep" else "gkeep"
    val survTail = survTailSql(bestSurvivor, stopList)
    val pplCtes = if (!pplGate) "" else {
      val tiers = CuratePplTiers.toSeq.sorted.map(t => s"'$t'").mkString(", ")
      s"""ptf AS MATERIALIZED (
         |  SELECT doc_id, w, count(*)::BIGINT AS c
         |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w
         |        FROM gkeep) _
         |  GROUP BY doc_id, w
         |),
         |pcw AS MATERIALIZED (SELECT doc_id, c, sum(c) OVER (PARTITION BY w) AS cnt
         |        FROM ptf),
         |ptot AS MATERIALIZED (SELECT CAST(sum(len(string_split(text, ' '))) AS DOUBLE)
         |                AS total FROM gkeep),
         |pnll AS MATERIALIZED (
         |  SELECT doc_id, round(CAST(CAST(floor(round(sum(c * -ln(cnt / total)) / sum(c), 9) * 1e9 + 0.5) AS BIGINT) AS DOUBLE) / 1e9, 9) AS nll
         |  FROM pcw, ptot GROUP BY doc_id
         |),
         |pb AS MATERIALIZED (
         |  SELECT n.doc_id,
         |    ntile($PplBuckets) OVER (PARTITION BY d.lang
         |      ORDER BY n.nll ASC, n.doc_id ASC) AS bi
         |  FROM pnll n JOIN documents d ON d.doc_id = n.doc_id
         |),
         |pkeep AS MATERIALIZED (
         |  SELECT g.doc_id, g.text FROM gkeep g JOIN pb ON pb.doc_id = g.doc_id
         |  WHERE CASE WHEN pb.bi = 1 THEN 'head'
         |             WHEN pb.bi = $PplBuckets THEN 'tail'
         |             ELSE 'middle' END IN ($tiers)
         |),
         |""".stripMargin
    }
    s"""WITH RECURSIVE
         |norm AS MATERIALIZED (
         |  SELECT doc_id,
         |    trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'),
         |         ' +', ' ', 'g')) AS text
         |  FROM documents
         |),
         |nz AS MATERIALIZED (SELECT doc_id, text FROM norm WHERE length(text) > 0),
         |profile(plang, w) AS (VALUES ${Text.langProfileSql}),
         |ltok AS MATERIALIZED (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM nz),
         |lhits AS MATERIALIZED (
         |  SELECT t.doc_id, p.plang, count(*) AS n
         |  FROM ltok t JOIN profile p ON t.w = p.w GROUP BY t.doc_id, p.plang
         |),
         |lbest AS MATERIALIZED (
         |  SELECT doc_id, plang FROM (
         |    SELECT doc_id, plang, row_number() OVER (PARTITION BY doc_id
         |      ORDER BY n DESC, plang ASC) AS r
         |    FROM lhits
         |  ) WHERE r = 1
         |),
         |lkeep AS MATERIALIZED (
         |  SELECT nz.doc_id, nz.text FROM nz JOIN lbest b USING (doc_id)
         |  WHERE b.plang IN ($langList)
         |),
         |qm AS MATERIALIZED (
         |  SELECT doc_id, text,
         |    $qMetricColsSql
         |  FROM lkeep
         |),
         |${qkeepSql(pctGate)},
         |rtoks AS MATERIALIZED (SELECT doc_id, string_split(text, ' ') AS t FROM qkeep),
         |rg AS MATERIALIZED (SELECT doc_id,
         |         unnest(${Text.shinglesAllSql("t", RepetitionN)}) AS g
         |       FROM rtoks),
         |rc AS MATERIALIZED (SELECT doc_id, g, count(*) AS c FROM rg GROUP BY doc_id, g),
         |rp AS MATERIALIZED (SELECT doc_id, sum(c)::BIGINT AS total,
         |              count(*)::BIGINT AS n_distinct
         |       FROM rc GROUP BY doc_id),
         |gkeep AS MATERIALIZED (
         |  SELECT q.doc_id, q.text FROM qkeep q LEFT JOIN rp USING (doc_id)
         |  WHERE rp.total IS NULL
         |     OR ${Portable.sqlIntRatio9("rp.total - rp.n_distinct", "rp.total")}
         |        <= $CurateMaxDupRatio
         |),
         |${pplCtes}ex AS MATERIALIZED (
         |  SELECT g.doc_id, g.text FROM $exSrc g
         |  JOIN (SELECT min(doc_id) AS doc_id FROM $exSrc GROUP BY md5(text)) k
         |    USING (doc_id)
         |),
         |${lshJacCtesFrom("ex")},
         |$nearDupReachCte,
         |$survTail""".stripMargin
  }

  /** The funnel's quality-gate CTE: the absolute score floor (q62
    * default), optionally ANDed with the per-source percent_rank cut
    * (q102) — rank over ALL in-lang docs (`qm` is built from `lkeep`),
    * source joined in from `documents`, both sides rounded 9dp exactly
    * like [[graft.ops.Text.scorePercentiles]]. */
  private def qkeepSql(pctGate: Boolean): String =
    if (!pctGate)
      s"""qkeep AS MATERIALIZED (
         |  SELECT doc_id, text FROM qm
         |  WHERE $qScoreSqlExpr
         |    >= $CurateMinQuality
         |)""".stripMargin
    else
      s"""qsc AS MATERIALIZED (
         |  SELECT doc_id, text, $qScoreSqlExpr
         |    AS score
         |  FROM qm
         |),
         |qpr AS MATERIALIZED (
         |  SELECT q.doc_id, q.text, q.score,
         |    CASE WHEN count(*) OVER (PARTITION BY d.source) > 1 THEN
         |      ${Portable.sqlIntRatio9(
              "rank() OVER (PARTITION BY d.source ORDER BY q.score) - 1",
              "count(*) OVER (PARTITION BY d.source) - 1")}
         |    ELSE CAST(0 AS DOUBLE) END AS pr
         |  FROM qsc q JOIN documents d USING (doc_id)
         |),
         |qkeep AS MATERIALIZED (
         |  SELECT doc_id, text FROM qpr
         |  WHERE score >= $CurateMinQuality
         |    AND pr >= $CurateMinQualityPct
         |)""".stripMargin

  /** The funnel's near-dedup survivor tail: min-id drop (q62 default)
    * or the keepBestQuality policy (q98) — full-corpus cluster labels
    * over `ex`, the q25 quality score recomputed over the exact-
    * survivor text, rank-1 per cluster on (score DESC, id ASC). */
  private def survTailSql(bestSurvivor: Boolean, stopList: String): String =
    if (!bestSurvivor)
      s"""drops AS MATERIALIZED (SELECT id FROM reach GROUP BY id HAVING min(r) <> id),
         |surv AS MATERIALIZED (
         |  SELECT e.doc_id, e.text FROM ex e LEFT JOIN drops k ON e.doc_id = k.id
         |  WHERE k.id IS NULL
         |)""".stripMargin
    else
      s"""xcl AS MATERIALIZED (SELECT id, min(r) AS rep FROM reach GROUP BY id),
         |xfc AS MATERIALIZED (SELECT e.doc_id, coalesce(xcl.rep, e.doc_id) AS rep, e.text
         |        FROM ex e LEFT JOIN xcl ON xcl.id = e.doc_id),
         |xqm AS MATERIALIZED (
         |  SELECT doc_id,
         |    $qMetricColsSql
         |  FROM xfc
         |),
         |xqs AS MATERIALIZED (
         |  SELECT doc_id, $qScoreSqlExpr
         |    AS quality_score
         |  FROM xqm
         |),
         |surv AS MATERIALIZED (
         |  SELECT doc_id, text FROM (
         |    SELECT f.doc_id, f.text,
         |      row_number() OVER (PARTITION BY f.rep
         |        ORDER BY q.quality_score DESC, f.doc_id ASC) AS rn
         |    FROM xfc f JOIN xqs q USING (doc_id)
         |  ) WHERE rn = 1
         |)""".stripMargin

  /** The shared CTE chain of the `CurationQueries` pack tails
    * (`packTailSql`, `packAuditTailSql`) and the q274 export: per
    * (document, touched sequence) one row with the piece's token span —
    * the oracle twin of `Sampling.packPieces`. */
  private[graft] def packPiecesSql(src: String): String = {
    val L = PackSeqTokens
    s"""pd AS (
       |  SELECT doc_id,
       |    ${Portable.sqlHash("doc_id", "'pack'")} % $PackShards AS shard,
       |    string_split(text, ' ') AS t
       |  FROM $src
       |),
       |pc AS (
       |  SELECT doc_id, shard, t, len(t)::BIGINT AS n,
       |    sum(len(t)) OVER (PARTITION BY shard ORDER BY doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT AS cum
       |  FROM pd
       |),
       |pe AS (
       |  SELECT shard, doc_id, t, cum, cum - n AS start,
       |    unnest(range((cum - n) // $L, (cum - 1) // $L + 1)) AS seq_idx
       |  FROM pc
       |),
       |pp AS (
       |  SELECT shard, seq_idx,
       |    greatest(start, seq_idx * $L) AS ps,
       |    least(cum, (seq_idx + 1) * $L) AS pe2,
       |    t[(greatest(start, seq_idx * $L) - start + 1) :
       |      (least(cum, (seq_idx + 1) * $L) - start)] AS part
       |  FROM pe
       |)""".stripMargin
  }

  /** q135/q137 shared CDC chunk chain, ending at `cdcch`
    * (doc_id, chunk_idx, n_tokens, chunk). */
  private[graft] val cdcChunkCtes: String =
    s"""ct AS (
       |  SELECT doc_id, string_split(text, ' ') AS t FROM documents
       |),
       |cp AS (
       |  SELECT doc_id, i AS pos, t[i] AS tok,
       |    CASE WHEN i > 1 AND
       |      ${Portable.sqlHash("t[i-1]", "t[i]", "'cdc'")}
       |        % $CdcDivisor = 0
       |    THEN 1 ELSE 0 END AS b
       |  FROM ct, LATERAL (SELECT unnest(range(1, len(t) + 1)) AS i) _
       |),
       |cc AS (
       |  SELECT doc_id, pos, tok,
       |    (sum(b) OVER (PARTITION BY doc_id ORDER BY pos))::BIGINT
       |      AS chunk_idx
       |  FROM cp
       |),
       |cdcch AS (
       |  SELECT doc_id, chunk_idx, count(*)::BIGINT AS n_tokens,
       |    string_agg(tok, ' ' ORDER BY pos) AS chunk
       |  FROM cc GROUP BY doc_id, chunk_idx
       |)""".stripMargin

  /** Naive-Bayes train + score + rank CTE chain ending at `rk` (per
    * (doc, label) ranked avg-log-posterior with runner-up) — shared by
    * q85 (the classify report) and q129 (the calibration binning). */
  private[graft] val nbRankSqlCte: String =
    """WITH tok AS (
      |  SELECT doc_id, lang, w AS token
      |  FROM (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS w
      |        FROM documents) _
      |  WHERE w <> ''
      |),
      |tc AS (SELECT lang AS label, token, count(*)::BIGINT AS cnt
      |       FROM tok GROUP BY lang, token),
      |cls AS (SELECT lang AS label, count(*)::BIGINT AS n_tokens
      |        FROM tok GROUP BY lang),
      |cdocs AS (SELECT lang AS label, count(*)::BIGINT AS n_docs
      |          FROM documents GROUP BY lang),
      |tot AS (SELECT (SELECT count(*) FROM documents)::BIGINT AS docs_total,
      |          (SELECT count(DISTINCT token) FROM tok)::BIGINT AS vocab_v),
      |dtf AS (SELECT doc_id, token, count(*)::BIGINT AS tf
      |        FROM tok GROUP BY doc_id, token),
      |dlen AS (SELECT doc_id, sum(tf)::BIGINT AS n_d
      |         FROM dtf GROUP BY doc_id),
      |seen AS (
      |  SELECT dtf.doc_id, tc.label, sum(dtf.tf * ln(tc.cnt + 1)) AS ssum
      |  FROM dtf JOIN tc ON dtf.token = tc.token
      |  GROUP BY dtf.doc_id, tc.label
      |),
      |sc AS (
      |  SELECT dlen.doc_id, c.label,
      |    (ln(cd.n_docs::DOUBLE / tot.docs_total)
      |      + coalesce(seen.ssum, 0)
      |      - dlen.n_d * ln((c.n_tokens + tot.vocab_v)::DOUBLE))
      |      / dlen.n_d AS avg_logp
      |  FROM dlen CROSS JOIN cls c
      |  JOIN cdocs cd ON cd.label = c.label
      |  CROSS JOIN tot
      |  LEFT JOIN seen ON seen.doc_id = dlen.doc_id AND seen.label = c.label
      |),
      |rk AS (
      |  SELECT doc_id, label, avg_logp,
      |    row_number() OVER (PARTITION BY doc_id
      |      ORDER BY avg_logp DESC, label ASC) AS rk,
      |    lead(avg_logp) OVER (PARTITION BY doc_id
      |      ORDER BY avg_logp DESC, label ASC) AS s2
      |  FROM sc
      |)""".stripMargin

  /** DuckDB CTE chain (no leading WITH) ending in
    * `tfpairs(id_a, id_b, cos_tfidf)` — the [[Similarity.tfidfCosinePairs]]
    * twin, shared by q84 (pairs) and q86 (PageRank edges). */
  private[graft] def tfidfPairsCtes(tau: Double, maxDf: Long): String =
    s"""ttf AS (
       |  SELECT doc_id, w AS term, count(*)::BIGINT AS tf
       |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w
       |        FROM documents) _
       |  WHERE w <> '' GROUP BY doc_id, w
       |),
       |tdf AS (SELECT doc_id, term, tf,
       |          count(*) OVER (PARTITION BY term) AS df FROM ttf),
       |tn AS (SELECT count(*)::DOUBLE AS n FROM documents),
       |tww AS (SELECT doc_id, term, df, tf * ln(n / df) AS w
       |        FROM tdf CROSS JOIN tn),
       |tnorm AS (
       |  SELECT doc_id, term, u FROM (
       |    SELECT doc_id, term, df,
       |      w / sqrt(sum(w*w) OVER (PARTITION BY doc_id)) AS u,
       |      sqrt(sum(w*w) OVER (PARTITION BY doc_id)) AS norm
       |    FROM tww) _
       |  WHERE norm > 0 AND df <= $maxDf
       |),
       |tfpairs AS (
       |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       |    round(CAST(CAST(floor(round(sum(a.u * b.u), 9) * 1e9 + 0.5) AS BIGINT) AS DOUBLE) / 1e9, 9) AS cos_tfidf
       |  FROM tnorm a JOIN tnorm b ON a.term = b.term AND a.doc_id < b.doc_id
       |  GROUP BY a.doc_id, b.doc_id
       |  HAVING round(CAST(CAST(floor(round(sum(a.u * b.u), 9) * 1e9 + 0.5) AS BIGINT) AS DOUBLE) / 1e9, 9) >= $tau
       |)""".stripMargin

  private[graft] def cosSql(a: String, b: String): String =
    s"""(list_sum(list_transform(range(1, len($a) + 1), i -> $a[i] * $b[i])) /
       | (sqrt(list_sum(list_transform(range(1, len($a) + 1), i -> $a[i] * $a[i]))) *
       |  sqrt(list_sum(list_transform(range(1, len($b) + 1), i -> $b[i] * $b[i])))))""".stripMargin

  /** Integer quality-metric columns ([[graft.ops.Text.qualityScore]]'s
    * exact counts): qcl chars, qca alpha-chars, qcd digit-chars, qcs
    * stopwords, qct tokens, qok length-flag — the inputs every
    * quality-score CTE derives the EXACT-integer score from. */
  private[graft] val qMetricColsSql: String = {
    val stopList = Text.EnStopwords.map(w => s"'$w'").mkString(", ")
    s"""length(text)::BIGINT AS qcl,
       |    (length(text) - length(regexp_replace(text, '[a-z A-Z]', '', 'g')))::BIGINT AS qca,
       |    (length(text) - length(regexp_replace(text, '[0-9]', '', 'g')))::BIGINT AS qcd,
       |    len(list_filter(string_split(text, ' '), w -> w IN ($stopList)))::BIGINT AS qcs,
       |    len(string_split(text, ' '))::BIGINT AS qct,
       |    (CASE WHEN len(string_split(text, ' ')) BETWEEN 10 AND 1000
       |      THEN 1 ELSE 0 END) AS qok""".stripMargin
  }

  /** The composite quality score over [[qMetricColsSql]] columns as ONE
    * exact integral division — score = (4·ok·L·T + 3·a·T + 2·s·L +
    * (L−d)·T) / (10·L·T), the cleared-denominator form of
    * 0.4·ok + 0.3·a/L + 0.2·s/T + 0.1·(L−d)/L — clamped in integer
    * land, one IEEE division to the emitted double. No double round()
    * anywhere (the q218/q219 driver-version-sensitivity class). */
  private[graft] val qScoreSqlExpr: String = {
    val num = "4 * qok * CAST(qcl AS HUGEINT) * qct" +
      " + 3 * CAST(qca AS HUGEINT) * qct" +
      " + 2 * CAST(qcs AS HUGEINT) * qcl" +
      " + CAST(qcl - qcd AS HUGEINT) * qct"
    val den = "10 * CAST(qcl AS HUGEINT) * qct"
    "(CAST(least(1000000000, greatest(0, " +
      Portable.sqlIntRatioScaled(num, den, 9) +
      ")) AS DOUBLE) / 1e9)"
  }

  /** q101/q184 shared oracle prefix: the per-doc quality score
    * ([[graft.ops.Text.qualityScore]]'s exact DuckDB twin) as CTE `qs`
    * = (doc_id, source, quality_score). */
  private[graft] val qualityScoreSqlCtes: String = {
    val stopList = Text.EnStopwords.map(w => s"'$w'").mkString(", ")
    s"""WITH m AS (
       |  SELECT doc_id, source, lang,
       |    $qMetricColsSql
       |  FROM documents
       |),
       |qs AS (
       |  SELECT doc_id, source, lang, $qScoreSqlExpr
       |    AS quality_score
       |  FROM m
       |)""".stripMargin
  }

  /** q218/q256 shared oracle: the exact-integer threshold sweep over
    * the quality-score distinct-value CDF — F1 as ONE integral
    * division at 1e9, the best-row tie-break on (f19, s9) integers,
    * s9 recovered from the 9dp-integerized score by one exact IEEE
    * multiply + floor. q256 hashes a STREAM-fed re-derivation of the
    * same table against this. */
  private[graft] val thresholdSweepOracleSql: String =
    s"""$qualityScoreSqlCtes,
       |g AS (
       |  SELECT quality_score AS threshold, count(*)::BIGINT AS n,
       |    sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END)::BIGINT AS p
       |  FROM qs GROUP BY 1
       |),
       |c AS (
       |  SELECT threshold, sum(p) OVER w AS tp, sum(n - p) OVER w AS fp,
       |    sum(p) OVER (ORDER BY threshold DESC ROWS BETWEEN
       |      UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS totp
       |  FROM g
       |  WINDOW w AS (ORDER BY threshold DESC ROWS BETWEEN
       |    UNBOUNDED PRECEDING AND CURRENT ROW)
       |),
       |f AS (
       |  SELECT threshold, tp, fp, (totp - tp)::BIGINT AS fn, totp,
       |    ${Portable.sqlIntRatioScaled("2 * tp",
            "2 * tp + fp + (totp - tp)", 9)} AS f19,
       |    CAST(floor(threshold * 1e9 + 0.5) AS BIGINT) AS s9
       |  FROM c
       |),
       |b AS (SELECT f19, s9 FROM f ORDER BY f19 DESC, s9 DESC LIMIT 1)
       |SELECT f.threshold, f.tp::BIGINT AS tp, f.fp::BIGINT AS fp, f.fn,
       |  ${Portable.sqlIntRatio9("f.tp", "f.tp + f.fp")} AS precision,
       |  CASE WHEN f.totp > 0 THEN
       |    ${Portable.sqlIntRatio9("f.tp", "f.totp")} END AS recall,
       |  (CAST(f.f19 AS DOUBLE) / 1e9) AS f1,
       |  (f.f19 = b.f19 AND f.s9 = b.s9) AS is_best
       |FROM f CROSS JOIN b ORDER BY f.threshold""".stripMargin

  /** q200/q264 shared oracle: baseline decile boundaries as exact
    * order statistics off the distinct-value CDF; bins by
    * strictly-below boundary counts; per-bin terms in the
    * classBalance integerization; any empty bin on either side nulls
    * the statistic. q264 hashes a STREAM-fed re-derivation of the
    * same one-row statistic against this. */
  private[graft] val psiOracleSql: String =
    s"""$qualityScoreSqlCtes,
       |av AS (SELECT quality_score AS v FROM qs
       |       WHERE source <> '$KsSourceA'),
       |bv AS (SELECT quality_score AS v FROM qs
       |       WHERE source = '$KsSourceA'),
       |da AS (SELECT v, count(*)::BIGINT AS c FROM av GROUP BY v),
       |db AS (SELECT v, count(*)::BIGINT AS c FROM bv GROUP BY v),
       |dac AS (
       |  SELECT v, sum(c) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED
       |    PRECEDING AND CURRENT ROW)::BIGINT AS cum
       |  FROM da
       |),
       |na AS (SELECT count(*)::BIGINT AS n_a FROM av),
       |nb AS (SELECT count(*)::BIGINT AS n_b FROM bv),
       |tg AS (
       |  SELECT ii.i, (ii.i * na.n_a + ${PsiBins - 1}) // $PsiBins
       |    AS target
       |  FROM (SELECT unnest(range(1, $PsiBins))::BIGINT AS i) ii
       |  CROSS JOIN na
       |),
       |bd AS (
       |  SELECT tg.i, min(dac.v) AS v
       |  FROM dac JOIN tg ON dac.cum >= tg.target GROUP BY tg.i
       |),
       |ba AS (
       |  SELECT s.bin, sum(s.c)::BIGINT AS ca FROM (
       |    SELECT d.v, d.c,
       |      sum(CASE WHEN d.v > bd.v THEN 1 ELSE 0 END)::BIGINT AS bin
       |    FROM da d CROSS JOIN bd GROUP BY d.v, d.c) s
       |  GROUP BY s.bin
       |),
       |bb AS (
       |  SELECT s.bin, sum(s.c)::BIGINT AS cb FROM (
       |    SELECT d.v, d.c,
       |      sum(CASE WHEN d.v > bd.v THEN 1 ELSE 0 END)::BIGINT AS bin
       |    FROM db d CROSS JOIN bd GROUP BY d.v, d.c) s
       |  GROUP BY s.bin
       |),
       |ff AS (
       |  SELECT bin, ca, cb FROM ba FULL JOIN bb USING (bin)
       |),
       |tt AS (
       |  SELECT bin, ca, cb,
       |    CAST(floor(round(
       |      (CAST(ca AS DOUBLE) / CAST(na.n_a AS DOUBLE)
       |       - CAST(cb AS DOUBLE) / CAST(nb.n_b AS DOUBLE))
       |      * ln((CAST(ca AS DOUBLE) / CAST(na.n_a AS DOUBLE))
       |           / (CAST(cb AS DOUBLE) / CAST(nb.n_b AS DOUBLE))), 9)
       |      * 1e9 + 0.5) AS BIGINT) AS t9
       |  FROM ff CROSS JOIN na CROSS JOIN nb
       |)
       |SELECT na.n_a, nb.n_b, (SELECT count(*) FROM ff)::BIGINT
       |    AS n_bins,
       |  CASE WHEN (SELECT sum(CASE WHEN t9 IS NULL THEN 1 ELSE 0 END)
       |             FROM tt) = 0 THEN
       |    round(CAST(CAST(floor(round(CAST((SELECT sum(t9) FROM tt) AS DOUBLE) / 1e9, 9) * 1e9 + 0.5) AS BIGINT) AS DOUBLE) / 1e9, 9)
       |  END AS psi
       |FROM na CROSS JOIN nb""".stripMargin

  /** q236/q265 shared oracle: the identical integer LLR walk over the
    * SAME literal constants (sprtConstants is called by both
    * builders). q265 hashes the stream's final-batch re-derivation
    * against this. */
  private[graft] val sprtTraceOracleSql: String = {
    val (c09, c19, a9, b9) =
      Events.sprtConstants(SprtP0, SprtP1, SprtAlpha, SprtBeta)
    s"""WITH ud AS (
       |  SELECT epoch_ns(ts) // 86400000000000 AS day, user_id,
       |    max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0
       |      END)::BIGINT AS conv
       |  FROM events GROUP BY 1, 2
       |),
       |d AS (SELECT day, count(*)::BIGINT AS trials,
       |        sum(conv)::BIGINT AS conversions
       |      FROM ud GROUP BY 1),
       |c AS (
       |  SELECT day, trials, conversions,
       |    (sum(trials) OVER w)::BIGINT AS cum_trials,
       |    (sum(conversions) OVER w)::BIGINT AS cum_conversions
       |  FROM d WINDOW w AS (ORDER BY day ROWS BETWEEN UNBOUNDED
       |    PRECEDING AND CURRENT ROW)
       |),
       |x AS (
       |  SELECT *, CAST(cum_conversions AS HUGEINT) * ($c19)
       |    + CAST(cum_trials - cum_conversions AS HUGEINT) * ($c09)
       |    AS llr9
       |  FROM c
       |)
       |SELECT day, trials, conversions, cum_trials, cum_conversions,
       |  round(CAST(llr9 AS DOUBLE) / 1e9, 9) AS llr,
       |  CASE WHEN llr9 >= ($a9) THEN 'accept_h1'
       |       WHEN llr9 <= ($b9) THEN 'accept_h0'
       |       ELSE 'continue' END AS decision
       |FROM x ORDER BY day""".stripMargin
  }

  /** q75/q266 shared oracle: the q25 per-doc score CTE rolled up per
    * (source, lang) — means taken over the 9-dp-rounded per-doc
    * scores on both sides. q266 hashes the stream's final-batch
    * rendered card against this. */
  private[graft] val corpusReportOracleSql: String =
    s"""WITH m AS (
       |  SELECT doc_id, source, lang,
       |    len(string_split(text, ' '))::DOUBLE AS n_toks,
       |    $qMetricColsSql
       |  FROM documents
       |), q AS (
       |  SELECT source, lang, n_toks::BIGINT AS n_tokens,
       |    $qScoreSqlExpr
       |      AS quality_score
       |  FROM m
       |)
       |SELECT source, lang, count(*)::BIGINT AS n_docs,
       |  sum(n_tokens)::BIGINT AS n_tokens,
       |  ${Portable.sqlIntRatio9("sum(n_tokens)", "count(*)")}
       |    AS mean_tokens,
       |  ${Portable.sqlIntRatio9(
           "sum(CAST(floor(quality_score * 1e9 + 0.5) AS BIGINT))",
           "CAST(count(*) AS HUGEINT) * 1000000000")} AS mean_quality,
       |  round(CAST(CAST(floor(round(min(quality_score), 9) * 1e9 + 0.5) AS BIGINT) AS DOUBLE) / 1e9, 9) AS min_quality,
       |  round(CAST(CAST(floor(round(max(quality_score), 9) * 1e9 + 0.5) AS BIGINT) AS DOUBLE) / 1e9, 9) AS max_quality
       |FROM q GROUP BY source, lang
       |ORDER BY source, lang""".stripMargin

  /** q133/q268 shared oracle: exact-integer baseline moments; the z
    * expression shape is identical to the Spark side so even the
    * floats are bit-equal. q268 hashes the streaming twin's
    * watermark-closed emissions against the same SQL. */
  private[graft] val windowAnomalyOracleSql: String =
    s"""WITH wc AS (
       |  SELECT event_type,
       |    (epoch_ms(ts) - (epoch_ms(ts) % $WindowMs))::BIGINT
       |      AS window_start_ms,
       |    count(*)::BIGINT AS n_events
       |  FROM events GROUP BY 1, 2
       |),
       |wt AS (
       |  SELECT event_type, window_start_ms, n_events,
       |    count(*) OVER tw AS k,
       |    (sum(n_events) OVER tw)::BIGINT AS s,
       |    (sum(n_events * n_events) OVER tw)::BIGINT AS ss
       |  FROM wc
       |  WINDOW tw AS (PARTITION BY event_type ORDER BY window_start_ms
       |    ROWS BETWEEN $AnomalyTrailing PRECEDING AND 1 PRECEDING)
       |)
       |SELECT event_type, window_start_ms, n_events,
       |  ${Portable.sqlIntRatio9("s", AnomalyTrailing.toString)}
       |    AS trail_mean,
       |  ${Portable.sqlIntRatioSigned9(
            s"ss * $AnomalyTrailing - s * s",
            (AnomalyTrailing.toLong * AnomalyTrailing).toString)}
       |    AS trail_var,
       |  round(CAST(CAST(floor(round(CASE WHEN ss * $AnomalyTrailing - s * s > 0 THEN
       |    (n_events::DOUBLE - s::DOUBLE / $AnomalyTrailing)
       |      / sqrt((ss * $AnomalyTrailing - s * s)::DOUBLE
       |          / (${AnomalyTrailing.toLong * AnomalyTrailing})) END, 9) * 1e9 + 0.5) AS BIGINT) AS DOUBLE) / 1e9, 9)
       |    AS zscore,
       |  CASE WHEN ss * $AnomalyTrailing - s * s > 0 THEN
       |    abs((n_events::DOUBLE - s::DOUBLE / $AnomalyTrailing)
       |      / sqrt((ss * $AnomalyTrailing - s * s)::DOUBLE
       |          / (${AnomalyTrailing.toLong * AnomalyTrailing}))) >= $AnomalyZ
       |  ELSE n_events * $AnomalyTrailing <> s END AS is_anomaly
       |FROM wt WHERE k = $AnomalyTrailing
       |ORDER BY event_type, window_start_ms""".stripMargin

  /** q254/q257 shared oracle: the Hampel median/MAD window anomaly
    * table over the whole event log — q254 hashes the batch operator
    * against it, q257 hashes the `flatMapGroupsWithState` streaming
    * twin's watermark-closed emissions against the SAME SQL (the
    * stream-equals-batch law under the driver's gate). */
  private[graft] val robustAnomalyOracleSql: String = {
    val T = AnomalyTrailing
    val h = T / 2
    s"""WITH wc AS (
       |  SELECT event_type,
       |    (epoch_ms(ts) - (epoch_ms(ts) % $WindowMs))::BIGINT
       |      AS window_start_ms,
       |    count(*)::BIGINT AS n_events
       |  FROM events GROUP BY 1, 2
       |),
       |wt AS (
       |  SELECT event_type, window_start_ms, n_events,
       |    count(*) OVER tw AS k,
       |    list_sort(list(n_events) OVER tw) AS trail
       |  FROM wc
       |  WINDOW tw AS (PARTITION BY event_type ORDER BY window_start_ms
       |    ROWS BETWEEN $T PRECEDING AND 1 PRECEDING)
       |),
       |x AS (
       |  SELECT event_type, window_start_ms, n_events, trail,
       |    (trail[$h] + trail[${h + 1}])::BIGINT AS m2
       |  FROM wt WHERE k = $T
       |),
       |y AS (
       |  SELECT event_type, window_start_ms, n_events, m2,
       |    list_sort(list_transform(trail, e -> abs(2 * e - m2)))
       |      AS devs,
       |    abs(2 * n_events - m2)::BIGINT AS dx
       |  FROM x
       |),
       |z AS (
       |  SELECT *, (devs[$h] + devs[${h + 1}])::BIGINT AS dm2 FROM y
       |)
       |SELECT event_type, window_start_ms, n_events,
       |  CAST(m2 AS DOUBLE) / 2 AS robust_center,
       |  CAST(dm2 AS DOUBLE) / 4 AS robust_scale,
       |  CASE WHEN dm2 > 0 THEN
       |    2 * dx * $RobustKDen >= $RobustKNum * dm2
       |  ELSE dx > 0 END AS is_anomaly
       |FROM z ORDER BY event_type, window_start_ms""".stripMargin
  }

  /** q178/q183 shared oracle: the SCD2 FULL rebuild over the whole
    * event log — change detection then versioning, both ordered by the
    * original (ts, event_id); timestamps leave as ms-floors (the
    * sessionize cross-engine contract). q183's merge path hashing
    * against this IS the merge-equals-rebuild law. */
  private[graft] val scd2OracleSql: String =
    """WITH ev AS (
      |  SELECT user_id, event_id, event_type, epoch_ns(ts) AS tns
      |  FROM events
      |),
      |ch AS (
      |  SELECT user_id, event_id, tns, event_type FROM (
      |    SELECT user_id, event_id, tns, event_type,
      |      lag(event_type) OVER (PARTITION BY user_id
      |        ORDER BY tns, event_id) AS prev
      |    FROM ev)
      |  WHERE prev IS NULL OR prev <> event_type
      |),
      |v AS (
      |  SELECT user_id,
      |    CAST(row_number() OVER (PARTITION BY user_id
      |      ORDER BY tns, event_id) AS BIGINT) AS version,
      |    event_type AS attr,
      |    (tns // 1000000)::BIGINT AS from_ms,
      |    lead(tns // 1000000) OVER (PARTITION BY user_id
      |      ORDER BY tns, event_id)::BIGINT AS to_ms
      |  FROM ch
      |)
      |SELECT user_id, version, attr, from_ms, to_ms,
      |  (to_ms IS NULL) AS is_current
      |FROM v ORDER BY user_id, version""".stripMargin

  // q274: the q62 survivor chain → q143's epoch plan/realization
  // (token counts over the SURVIVORS, source joined back from
  // documents) → the q67 pack pieces → per-shard manifest rollup
  // with an order-independent content hash over (seq_idx, seq) —
  // the composed export, same CTEs, same constants, no drift.
  private[graft] def corpusExportOracleSql: String = {
    val vals = EpochWeights.toSeq.sorted
      .map { case (s, w) => s"('$s', ${w}::DOUBLE)" }.mkString(", ")
    val wsum = EpochWeights.values.sum
    s"""$curateOracleCtes,
       |wt(source, weight) AS (VALUES $vals),
       |esrc AS (
       |  SELECT s.doc_id, d.source, s.text
       |  FROM surv s JOIN documents d USING (doc_id)
       |),
       |tc AS (
       |  SELECT source, sum(len(string_split(text, ' ')))::BIGINT
       |    AS n_tokens
       |  FROM esrc GROUP BY source
       |),
       |fac AS (
       |  SELECT t.source,
       |    ${Portable.sqlIntRatio9(s"CAST(floor(coalesce(w.weight, 0.0)" +
               s" / $wsum * ${EpochBudget.toDouble} + 0.5) AS BIGINT)",
             "t.n_tokens")} AS factor
       |  FROM tc t LEFT JOIN wt w USING (source)
       |),
       |nn AS (
       |  SELECT e.doc_id, e.text,
       |    (floor(f.factor) + CASE WHEN
       |        ${Portable.sqlUnif("e.doc_id", s"'$EpochRealizeSalt'")}
       |        < f.factor - floor(f.factor) THEN 1 ELSE 0 END)::BIGINT
       |      AS n
       |  FROM esrc e JOIN fac f USING (source)
       |),
       |ee AS (
       |  SELECT doc_id, text,
       |    unnest(range(1, n + 1))::BIGINT AS epoch_copy
       |  FROM nn WHERE n >= 1
       |),
       |erz AS (
       |  SELECT (doc_id * 1024 + epoch_copy)::BIGINT AS doc_id, text
       |  FROM ee
       |),
       |${packPiecesSql("erz")},
       |pseq AS (
       |  SELECT shard::BIGINT AS shard, seq_idx::BIGINT AS seq_idx,
       |    sum(pe2 - ps)::BIGINT AS n_tokens,
       |    string_agg(array_to_string(part, ' '), ' ' ORDER BY ps) AS seq
       |  FROM pp GROUP BY shard, seq_idx
       |)
       |SELECT shard, count(*)::BIGINT AS n_seqs,
       |  sum(n_tokens)::BIGINT AS n_tokens,
       |  sum(length(seq))::BIGINT AS n_chars,
       |  min(seq_idx)::BIGINT AS min_seq,
       |  max(seq_idx)::BIGINT AS max_seq,
       |  bit_xor(${Portable.sqlHash("seq_idx", "seq")})::BIGINT
       |    AS content_hash
       |FROM pseq GROUP BY shard ORDER BY shard""".stripMargin
  }

  // ---- queries ----------------------------------------------------------

  /** Every certified query, one [[Query]] record each, family by
    * family. Names and q-numbers are unique: checked on first
    * access, since a repeated name would drop a body or an oracle
    * from the maps below. */
  private[graft] lazy val registry: Seq[Query] = Query.distinct(
    Prod2VecQueries.all ++ DedupQueries.all ++ TextQueries.all ++
      CurationQueries.all ++ VectorQueries.all ++ EventQueries.all ++
      QualityQueries.all ++ StreamQueries.all ++ MediaQueries.all ++
      StorageQueries.all)

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map(q => q.name -> q.run).toMap

  def oracleSql: Map[String, String] =
    registry.map(q => q.name -> q.oracle).toMap
}

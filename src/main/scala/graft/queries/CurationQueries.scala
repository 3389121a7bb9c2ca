package graft.queries

import org.apache.spark.sql.functions._
import graft.SparkEntry._
import graft.app.CorpusPipeline
import graft.ops._

/** The curation funnel and its exports: q62-family curate configs,
  * mixing, sampling, packing and epoch planning. */
private[graft] object CurationQueries {

  /** q134 interleave stream shards. */
  val InterleaveShards = 4

  /** q76 stratified sample: exact docs-per-source count and the draw's
    * salt. */
  val SampleNPerSource = 12
  val SampleSalt = "q76"
  /** q111 weighted sample: selection ∝ n_chars (≈ token mass). */
  val WeightedSampleSalt = "q111"

  /** q83 temperature-scaled mixture: α = 0.5 visibly flattens the
    * fixture's source-size distribution, and the token target keeps
    * big-source rates < 1 while small sources saturate at 1 — both
    * regimes of the min() live in the oracle. */
  val TempAlpha = 0.5
  val TempTargetTokens = 15000L

  /** q74 DSIR: hashed-bigram buckets and the "high-quality target"
    * slice (the first four sources) the importance weights point at. */
  val DsirBuckets = 1024
  val DsirN = 2
  val DsirTargetSources = Seq("src0", "src1", "src2", "src3")

  /** q80 in-funnel span-scrub window — smaller than q78's standalone
    * `DedupQueries.ScrubK` because the funnel's survivors are already
    * document-deduped (the big cross-doc span mass is gone); 3 still
    * rewrites a demonstrable share of survivor text at sf0.01. */
  val CurateScrubK = 3

  /** q64 domain-mixing rates: even-indexed sources sampled at 0.9,
    * odd at 0.3 — a deliberately non-uniform mixture over the
    * fixture's 20 sources. */
  val MixRates: Seq[(String, Double)] =
    (0 until 20).map(i => s"src$i" -> (if (i % 2 == 0) 0.9 else 0.3))
  /** q65/q66 per-source token budget (sf0.01 carries ~1.4k whitespace
    * tokens per source, so 800 keeps a strict subset) and the bucket
    * count for the bucketed variant. */
  val TokenBudgetPerSource = 800L
  val TokenBudgetBuckets = 8

  /** q122 no-split packing: the cap sits inside the fixture's token-
    * length range, so full bins, multi-doc bins and oversized-doc
    * overflow bins all occur. */
  val PackWholeCap = 120L
  val PackWholeSalt = "q122"

  /** q69 relative quality gate: keep each source's top half. */
  val QualityKeepFrac = 0.5

  /** q227 Neyman allocation: total sample budget to split. */
  val NeymanBudget = 1000L

  /** q243 weighted WOR sample: draw count and the Gumbel-key salt. */
  val WorK = 100
  val WorSalt = "wor"

  /** q118 cluster-balanced sample: 20 per cluster over the q73
    * centroids — the fixture's ~62-vector clusters downsample ~3× while
    * any sparse cluster survives whole, so both branches are live. */
  val ClusterSampleN = 20
  val ClusterSampleSalt = "q118"

  /** q78's repeated-span scrub as an oracle tail over an arbitrary
    * (doc_id, text) CTE — ends in `sscrub` (doc_id, text) holding the
    * scrubbed non-empty survivors, for the q80 composed funnel. */
  private def scrubTailSql(src: String): String = {
    val k = CurateScrubK
    val kg = "concat_ws(' ', " +
      (0 until k).map(o => s"t[i+$o]").mkString(", ") + ")"
    s"""stoks AS (SELECT doc_id, string_split(text, ' ') AS t FROM $src),
       |swins AS (
       |  SELECT doc_id, i AS pos, ${Portable.sqlHash(kg)} AS hh
       |  FROM stoks, LATERAL (SELECT unnest(range(1,
       |    greatest(0, len(t) - ${k - 2}))) AS i) _
       |),
       |smarked AS (
       |  SELECT doc_id, pos, row_number() OVER (PARTITION BY hh
       |    ORDER BY doc_id, pos) AS rn
       |  FROM swins
       |),
       |sdup AS (SELECT doc_id, pos FROM smarked WHERE rn > 1),
       |srem AS (
       |  SELECT DISTINCT doc_id, pos + o AS idx
       |  FROM sdup, LATERAL (SELECT unnest(range(0, $k)) AS o) _
       |),
       |stsp AS (
       |  SELECT doc_id, i AS idx, t[i] AS tok
       |  FROM stoks, LATERAL (SELECT unnest(range(1, len(t) + 1)) AS i) _
       |),
       |sdirty AS (SELECT DISTINCT doc_id FROM srem),
       |sreb AS (
       |  SELECT stsp.doc_id,
       |    coalesce(string_agg(stsp.tok, ' ' ORDER BY stsp.idx)
       |      FILTER (WHERE srem.idx IS NULL), '') AS text
       |  FROM stsp
       |  JOIN sdirty ON stsp.doc_id = sdirty.doc_id
       |  LEFT JOIN srem ON stsp.doc_id = srem.doc_id AND stsp.idx = srem.idx
       |  GROUP BY stsp.doc_id
       |),
       |sscrub AS (
       |  SELECT s.doc_id, coalesce(sreb.text, s.text) AS text
       |  FROM $src s LEFT JOIN sreb ON s.doc_id = sreb.doc_id
       |  WHERE length(coalesce(sreb.text, s.text)) > 0
       |)""".stripMargin
  }

  /** q47's chunking tail over an arbitrary (doc_id, text) CTE. */
  private def chunkTailSql(src: String): String = {
    val c = CurateChunkTokens
    s"""ctoks AS (SELECT doc_id, string_split(text, ' ') AS t FROM $src),
       |ch AS (
       |  SELECT doc_id, i AS chunk_idx,
       |    array_to_string(t[i*$c+1 : i*$c+$c], ' ') AS chunk,
       |    len(t[i*$c+1 : i*$c+$c])::BIGINT AS n_tokens
       |  FROM ctoks, LATERAL (SELECT unnest(range(0, (len(t) + ${c - 1}) // $c)) AS i) _
       |)
       |SELECT doc_id, chunk_idx, n_tokens, chunk FROM ch
       |ORDER BY doc_id, chunk_idx""".stripMargin
  }

  /** Packing oracle tail — shared by q67 (over raw documents) and q77
    * (over the curation funnel's survivors): the same shard/cumsum/
    * span-explode/reassemble chain as [[graft.ops.Sampling.pack]]. */
  private def packTailSql(src: String): String =
    s"""${packPiecesSql(src)}
       |SELECT shard, seq_idx::BIGINT AS seq_idx,
       |  sum(pe2 - ps)::BIGINT AS n_tokens,
       |  string_agg(array_to_string(part, ' '), ' ' ORDER BY ps) AS seq
       |FROM pp GROUP BY shard, seq_idx
       |ORDER BY shard, seq_idx""".stripMargin

  /** q128: same piece fan-out, counted instead of reassembled. */
  private def packAuditTailSql(src: String): String =
    s"""${packPiecesSql(src)},
       |pseq AS (
       |  SELECT shard, seq_idx, count(*)::BIGINT AS docs,
       |    sum(pe2 - ps)::BIGINT AS tok
       |  FROM pp GROUP BY shard, seq_idx
       |)
       |SELECT shard, count(*)::BIGINT AS n_seqs,
       |  sum(CASE WHEN tok = $PackSeqTokens THEN 1 ELSE 0 END)::BIGINT
       |    AS full_seqs,
       |  sum(CASE WHEN docs > 1 THEN 1 ELSE 0 END)::BIGINT
       |    AS multi_doc_seqs,
       |  sum(docs - 1)::BIGINT AS doc_boundaries,
       |  max(docs)::BIGINT AS max_docs_per_seq
       |FROM pseq GROUP BY shard ORDER BY shard""".stripMargin

  /** Token-budget oracle — shared by q65 (direct window form) and q66
    * (two-phase bucketed build): both engine forms compute the same
    * prefix by construction (SamplingSpec proves the law). */
  private val tokenBudgetOracleSql: String =
    s"""WITH d AS (
       |  SELECT doc_id, source,
       |    len(string_split(text, ' '))::BIGINT AS n_tokens,
       |    ${Portable.sqlHash("doc_id", "'budget'")} AS h
       |  FROM documents
       |),
       |c AS (
       |  SELECT doc_id, source, n_tokens,
       |    sum(n_tokens) OVER (PARTITION BY source ORDER BY h, doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_tokens
       |  FROM d
       |)
       |SELECT doc_id, source, n_tokens, cum_tokens::BIGINT AS cum_tokens
       |FROM c WHERE cum_tokens <= $TokenBudgetPerSource
       |ORDER BY doc_id""".stripMargin

  val all: Seq[Query] = Seq(

    // Neyman-optimal stratified allocation of a labeling budget
    // across sources by quality-score variance.
    Query("q227_neyman_allocation", (s, dir) => {
      val qs = Text.qualityScore(t(s, dir, "documents"), "text",
          Seq("source"))
        .select(col("source"), col("quality_score"))
      Sampling.neymanAllocation(qs, "source", "quality_score",
          NeymanBudget)
        .orderBy("stratum")
    },
    // q227: exact integer moments per stratum, IEEE sqrt, integerized
    // N·σ summed in LONG, allocation by floor(·+½).
    {
      val x9 = "CAST(floor(round(CAST(quality_score AS DOUBLE), 9)" +
        " * 1e9 + 0.5) AS BIGINT)"
      val sigma = "sqrt(greatest(CAST(0 AS DOUBLE)," +
        " CAST(CAST(n_rows AS DECIMAL(38,0)) * ss - s * s AS DOUBLE)))" +
        " / CAST(n_rows AS DOUBLE) / 1e9"
      s"""$qualityScoreSqlCtes,
         |per AS (
         |  SELECT source AS stratum, count(*)::BIGINT AS n_rows,
         |    CAST(sum(CAST($x9 AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS s,
         |    CAST(sum(CAST($x9 AS DECIMAL(38,0))
         |      * CAST($x9 AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS ss
         |  FROM qs GROUP BY 1
         |),
         |ns AS (
         |  SELECT stratum, n_rows, $sigma AS sigma,
         |    CAST(floor(round(CAST(n_rows AS DOUBLE) * ($sigma), 9)
         |      * 1e9 + 0.5) AS BIGINT) AS nsig9
         |  FROM per
         |),
         |t AS (SELECT sum(nsig9)::BIGINT AS tot9 FROM ns)
         |SELECT stratum, n_rows,
         |  ${Portable.sqlRatio9("sigma")} AS sigma,
         |  CASE WHEN tot9 > 0 THEN
         |    ${Portable.sqlIntRatio9("nsig9", "tot9")}
         |    ELSE CAST(0 AS DOUBLE) END AS alloc_share,
         |  CASE WHEN tot9 > 0 THEN
         |    CAST(${Portable.sqlIntRatioScaled(
              s"CAST(nsig9 AS HUGEINT) * $NeymanBudget", "tot9", 0)}
         |      AS BIGINT)
         |    ELSE 0 END AS alloc_n
         |FROM ns CROSS JOIN t ORDER BY stratum""".stripMargin
    }),

    // Kish effective sample size of the quality score used as an
    // importance weight, per source — how many equal-weight docs each
    // source's reweighted mass is really worth.
    Query("q232_effective_sample_size", (s, dir) => {
      Sampling.effectiveSampleSize(
        Text.qualityScore(t(s, dir, "documents"), "text", Seq("source")),
        "source", "quality_score").orderBy("group")
    },
    // q232: exact HUGEINT Σw, Σw² per source, one s·s/ss chain.
      s"""$qualityScoreSqlCtes,
         |w AS (
         |  SELECT source AS "group",
         |    CAST(floor(round(quality_score, 9) * 1e9 + 0.5) AS BIGINT)
         |      AS w9
         |  FROM qs
         |),
         |g AS (
         |  SELECT "group", count(*)::BIGINT AS n_rows,
         |    sum(CAST(w9 AS HUGEINT)) AS s,
         |    sum(CAST(w9 AS HUGEINT) * w9) AS ss
         |  FROM w GROUP BY 1
         |)
         |SELECT "group", n_rows,
         |  CASE WHEN ss > 0 THEN ${Portable.sqlIntRatio9("s * s", "ss")}
         |  END AS ess,
         |  CASE WHEN ss > 0 THEN
         |    ${Portable.sqlIntRatio9("s * s", "ss * n_rows")}
         |  END AS ess_ratio
         |FROM g ORDER BY "group"""".stripMargin),

    // Gumbel-top-k weighted WOR sample: 100 docs drawn proportional
    // to token mass, one scan + one distributed top-k.
    Query("q243_weighted_sample", (s, dir) => {
      Sampling.weightedSampleWor(
        Text.qualityScore(t(s, dir, "documents"), "text"),
        "doc_id", "n_tokens", WorK, WorSalt)
        .orderBy(desc("draw_key"), col("doc_id"))
    },
    // q243: the identical Gumbel-key chain — u strictly inside (0,1),
    // key integerized once, (k9 DESC, id) rank, LIMIT k.
      s"""WITH w AS (
         |  SELECT doc_id, len(string_split(text, ' '))::BIGINT AS weight
         |  FROM documents
         |),
         |kk AS (
         |  SELECT doc_id, weight,
         |    CAST(floor(round(ln(CAST(weight AS DOUBLE))
         |      - ln(-ln((CAST(${Portable.sqlHash(s"'$WorSalt'", "doc_id")}
         |        AS DOUBLE) + CAST(0.5 AS DOUBLE))
         |        / CAST(1152921504606846976 AS DOUBLE))), 9) * 1e9
         |      + 0.5) AS BIGINT) AS k9
         |  FROM w WHERE weight > 0
         |)
         |SELECT doc_id, weight,
         |  round(CAST(k9 AS DOUBLE) / 1e9, 9) AS draw_key
         |FROM kk ORDER BY k9 DESC, doc_id LIMIT $WorK""".stripMargin),

    // Attention-bleed audit of the q67 packing layout: per shard, how
    // many packed sequences mix documents and how many boundaries a
    // boundary-unaware attention mask would cross.
    Query("q128_pack_audit", (s, dir) => {
      Sampling.packAudit(t(s, dir, "documents"), "doc_id", "text",
        PackSeqTokens, PackShards, "pack").orderBy("shard")
    },
      s"WITH ${packAuditTailSql("documents")}"),

    // Loader-side end-to-end: the q114 epoch plan realized into the
    // repeated corpus, then cut into fixed training sequences by the
    // q67 packer — raw docs + mixture weights → the actual token
    // stream a trainer consumes, one hash. Copy identity
    // doc_id·1024 + epoch_copy keeps packing order deterministic
    // (epoch copies of a doc pack adjacently, different docs by id).
    Query("q143_epoch_pack", (s, dir) => {
      val docs = t(s, dir, "documents")
      val realized = Sampling.applyEpochFactors(
          docs.select(col("doc_id"), col("source"), col("text")),
          "doc_id", "source",
          Sampling.epochFactors(docs, "source", "text", EpochWeights,
            EpochBudget),
          EpochRealizeSalt)
        .select((col("doc_id") * 1024 + col("epoch_copy")).as("doc_id"),
          col("text"))
      Sampling.pack(realized, "doc_id", "text", PackSeqTokens, PackShards,
        "pack").orderBy("shard", "seq_idx")
    },
    // q143: the q114 realization CTEs (text carried through) feeding
    // the q67 packing tail over composite copy ids.
    {
      val vals = EpochWeights.toSeq.sorted
        .map { case (s, w) => s"('$s', ${w}::DOUBLE)" }.mkString(", ")
      val wsum = EpochWeights.values.sum
      s"""WITH wt(source, weight) AS (VALUES $vals),
         |tc AS (
         |  SELECT source, sum(len(string_split(text, ' ')))::BIGINT
         |    AS n_tokens
         |  FROM documents GROUP BY source
         |),
         |fac AS (
         |  SELECT t.source,
         |    ${Portable.sqlIntRatio9(s"CAST(floor(coalesce(w.weight, 0.0)" +
                 s" / $wsum * ${EpochBudget.toDouble} + 0.5) AS BIGINT)",
               "t.n_tokens")} AS factor
         |  FROM tc t LEFT JOIN wt w USING (source)
         |),
         |nn AS (
         |  SELECT d.doc_id, d.text,
         |    (floor(f.factor) + CASE WHEN
         |        ${Portable.sqlUnif("d.doc_id", s"'$EpochRealizeSalt'")}
         |        < f.factor - floor(f.factor) THEN 1 ELSE 0 END)::BIGINT
         |      AS n
         |  FROM documents d JOIN fac f USING (source)
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
         |${packTailSql("erz")}""".stripMargin
    }),

    // Stride-scheduled mixture interleave: the deterministic
    // data-loader order over hash shards, weights a keyed-hash draw
    // per source (so the fixture's uniform sources differentiate).
    Query("q134_interleave", (s, dir) => {
      val docs = t(s, dir, "documents")
      val w = docs.select(col("source")).distinct()
        .withColumn("weight",
          (pmod(Portable.seededHash(col("source"), lit("w")), lit(5L)) + 1L)
            .cast("double"))
      Sampling.interleave(docs, "doc_id", "source", w,
        InterleaveShards, "il").orderBy("shard", "pos")
    },
    // q134: identical vt arithmetic and total tiebreak both engines.
      s"""WITH iw AS (
         |  SELECT source,
         |    (${Portable.sqlHash("source", "'w'")} % 5 + 1)::DOUBLE AS weight
         |  FROM (SELECT DISTINCT source FROM documents) _
         |),
         |ib AS (
         |  SELECT d.doc_id, d.source,
         |    ${Portable.sqlHash("doc_id", "'il'")} AS h,
         |    ${Portable.sqlHash("doc_id", "'il'", "'shard'")}
         |      % $InterleaveShards AS shard,
         |    iw.weight
         |  FROM documents d JOIN iw USING (source)
         |),
         |ii AS (
         |  SELECT *, row_number() OVER
         |    (PARTITION BY source ORDER BY h, doc_id)::BIGINT AS i
         |  FROM ib
         |),
         |iv AS (
         |  SELECT shard, doc_id, source, i::DOUBLE / weight AS vt FROM ii
         |)
         |SELECT shard, doc_id, source,
         |  row_number() OVER
         |    (PARTITION BY shard ORDER BY vt, source, doc_id)::BIGINT AS pos,
         |  round(CAST(CAST(floor(round(vt, 9) * 1e9 + 0.5) AS BIGINT) AS DOUBLE) / 1e9, 9) AS vt
         |FROM iv ORDER BY shard, pos""".stripMargin),

    // Cluster-balanced sample: q73's centroid assignment driving an
    // exact per-cluster hash-priority budget — uniform over semantic
    // regions, not over documents.
    Query("q118_cluster_sample", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      Sampling.sampleBalanced(emb, "vec_id", "embedding",
          emb.filter(col("vec_id") < SemClusters), ClusterSampleN,
          ClusterSampleSalt)
        .select(col("vec_id"), col("label"), col("cluster"),
          col("cos_centroid"), col("sample_rank"))
        .orderBy("vec_id")
    },
    // q118: q73's assignment CTEs, then a per-cluster hash-priority
    // row_number with the same (hash, id) ordering as sampleN.
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
         |r AS (SELECT vec_id, cluster, cos_centroid,
         |        row_number() OVER (PARTITION BY cluster
         |          ORDER BY ${Portable.sqlHash("vec_id",
                      s"'$ClusterSampleSalt'")}, vec_id)::BIGINT
         |          AS sample_rank
         |      FROM a1)
         |SELECT e.vec_id, e.label, r.cluster, r.cos_centroid,
         |       r.sample_rank
         |FROM embeddings e JOIN r USING (vec_id)
         |WHERE r.sample_rank <= $ClusterSampleN
         |ORDER BY e.vec_id""".stripMargin),

    // Per-source percentile calibration of the quality score — SQL
    // percent_rank tie semantics, computed over the compact
    // (source, score) frame (never a corpus-sized window partition).
    Query("q101_quality_percentiles", (s, dir) => {
      val scored = Text.qualityScore(t(s, dir, "documents"), "text",
        Seq("source"))
      Text.scorePercentiles(scored, "quality_score", "source")
        .select(col("doc_id"), col("source"), col("quality_score"),
          col("pct_rank"))
        .orderBy("doc_id")
    },
    // q101: the q25 score + percent_rank per source — the native
    // window IS the spec; the Spark side reproduces its tie semantics
    // over the compact (source, score) frame.
      s"""$qualityScoreSqlCtes
         |SELECT doc_id, source, quality_score,
         |  CASE WHEN count(*) OVER (PARTITION BY source) > 1 THEN
         |    ${Portable.sqlIntRatio9(
             "rank() OVER (PARTITION BY source ORDER BY quality_score) - 1",
             "count(*) OVER (PARTITION BY source) - 1")}
         |  ELSE CAST(0 AS DOUBLE) END AS pct_rank
         |FROM qs ORDER BY doc_id""".stripMargin),

    // Domain-mixing sample: per-source Bernoulli rates over a keyed
    // uniform draw — the data-mixture step; broadcast rate spec, no
    // corpus shuffle.
    Query("q64_domain_mix", (s, dir) => {
      import s.implicits._
      val rates = MixRates.toDF("source", "rate")
      Sampling.domainMix(t(s, dir, "documents"), "doc_id", "source",
        rates, "mix")
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
        .orderBy("doc_id")
    },
    // q64: rate spec as a VALUES list built from the same MixRates
    // constant as the Spark side; same keyed uniform draw.
    {
      val vals = MixRates.map { case (s0, r) => s"('$s0', $r)" }.mkString(", ")
      s"""WITH rates(source, rate) AS (VALUES $vals)
         |SELECT d.doc_id, d.lang, d.source, d.n_chars
         |FROM documents d JOIN rates r USING (source)
         |WHERE ${Portable.sqlUnif("d.doc_id", "'mix'")} < r.rate
         |ORDER BY d.doc_id""".stripMargin
    }),

    // Per-source token budget: hash-priority prefix under a running
    // token total — the exact-cap twin of q64's expected-rate mixing.
    Query("q65_token_budget", (s, dir) => {
      Sampling.tokenBudget(t(s, dir, "documents"), "doc_id", "source",
        "text", TokenBudgetPerSource, "budget")
        .select(col("doc_id"), col("source"), col("n_tokens"),
          col("cum_tokens"))
        .orderBy("doc_id")
    },
    // q65/q66: hash-priority running token total per source; the
    // bucketed form is result-identical by construction so it shares
    // the oracle (the q50/q52 pattern).
      tokenBudgetOracleSql),

    // Same cap via the bucketed two-phase build — identical result
    // (same oracle SQL), per-task sort bounded by bucket, parallelism
    // ∝ source × bucket (the q65 scale lever, like q50/q52).
    Query("q66_token_budget_bucketed", (s, dir) => {
      Sampling.tokenBudgetBucketed(t(s, dir, "documents"), "doc_id",
        "source", "text", TokenBudgetPerSource, "budget",
        TokenBudgetBuckets)
        .select(col("doc_id"), col("source"), col("n_tokens"),
          col("cum_tokens"))
        .orderBy("doc_id")
    },
      tokenBudgetOracleSql),

    // Per-source RELATIVE quality gate: each source keeps its top half
    // by quality score (percent_rank, deterministic id tiebreak) — the
    // distribution-aware twin of the absolute minQuality gate.
    Query("q69_quality_top_fraction", (s, dir) => {
      val docs = t(s, dir, "documents")
      val scored = docs.select(col("doc_id"), col("source"))
        .join(Text.qualityScore(docs, "text")
          .select(col("doc_id"), col("quality_score")), Seq("doc_id"))
      Sampling.topFraction(scored, "doc_id", "source", "quality_score",
        QualityKeepFrac)
        .orderBy("doc_id")
    },
    // q69: the q25 score formula, then percent_rank per source with the
    // identical (score DESC, doc_id ASC) order; filter on the ROUNDED
    // pct on both sides.
    {
      val stopList = Text.EnStopwords.map(w => s"'$w'").mkString(", ")
      s"""WITH m AS (
         |  SELECT doc_id, source,
         |    $qMetricColsSql
         |  FROM documents
         |),
         |sc AS (
         |  SELECT doc_id, source,
         |    $qScoreSqlExpr
         |      AS quality_score
         |  FROM m
         |),
         |r AS (
         |  SELECT doc_id, source, quality_score,
         |    CASE WHEN count(*) OVER (PARTITION BY source) > 1 THEN
         |      ${Portable.sqlIntRatio9(
              "row_number() OVER (PARTITION BY source" +
                " ORDER BY quality_score DESC, doc_id ASC) - 1",
              "count(*) OVER (PARTITION BY source) - 1")}
         |    ELSE CAST(0 AS DOUBLE) END AS rank_pct
         |  FROM sc
         |)
         |SELECT doc_id, source, quality_score, rank_pct FROM r
         |WHERE rank_pct <= $QualityKeepFrac ORDER BY doc_id""".stripMargin
    }),

    // GPT-2-style token packing: the corpus token stream cut into
    // fixed-length training sequences across hash shards — zero
    // padding waste, documents span boundaries, every token lands
    // exactly once (spec-pinned).
    Query("q67_pack_sequences", (s, dir) => {
      Sampling.pack(t(s, dir, "documents"), "doc_id", "text",
        PackSeqTokens, PackShards, "pack")
        .orderBy("shard", "seq_idx")
    },
    // q67: same stream arithmetic — per-shard window cumsum gives each
    // doc its offset, range() explodes the sequences its span touches,
    // 1-based inclusive slices cut the parts, string_agg in offset
    // order reassembles.
      s"WITH ${packTailSql("documents")}"),

    // NO-SPLIT greedy packing: q67's document-integrity alternative —
    // whole docs first-fit into fixed-capacity bins in keyed-hash
    // order, oversized docs in bins of their own.
    Query("q122_pack_whole", (s, dir) => {
      Sampling.packWhole(t(s, dir, "documents"), "doc_id", "text",
        PackWholeCap, PackShards, PackWholeSalt)
        .orderBy("shard", "bin_idx", "pos_in_bin")
    },
    // q122: the greedy first-fit scan replayed as a recursive CTE —
    // each recursion step advances every shard by one doc in the same
    // (priority-hash, id) order the engine's sorted-group iterator
    // walks.
      s"""WITH RECURSIVE pw AS (
         |  SELECT doc_id,
         |    ${Portable.sqlHash("doc_id", s"'$PackWholeSalt'")}
         |      % $PackShards AS shard,
         |    ${Portable.sqlHash(s"'$PackWholeSalt|pr'", "doc_id")} AS pr,
         |    len(string_split(text, ' '))::BIGINT AS n
         |  FROM documents
         |),
         |po AS (
         |  SELECT shard, doc_id, n,
         |    row_number() OVER (PARTITION BY shard ORDER BY pr, doc_id)
         |      AS rn
         |  FROM pw
         |),
         |rec AS (
         |  SELECT shard, rn, doc_id, n, 0::BIGINT AS bin, n AS fill,
         |    0::BIGINT AS pos
         |  FROM po WHERE rn = 1
         |  UNION ALL
         |  SELECT o.shard, o.rn, o.doc_id, o.n,
         |    CASE WHEN r.fill + o.n <= $PackWholeCap THEN r.bin
         |         ELSE r.bin + 1 END,
         |    CASE WHEN r.fill + o.n <= $PackWholeCap THEN r.fill + o.n
         |         ELSE o.n END,
         |    CASE WHEN r.fill + o.n <= $PackWholeCap THEN r.pos + 1
         |         ELSE 0 END
         |  FROM rec r JOIN po o ON o.shard = r.shard AND o.rn = r.rn + 1
         |)
         |SELECT shard, bin AS bin_idx, pos AS pos_in_bin, doc_id,
         |  n AS n_tokens
         |FROM rec ORDER BY shard, bin_idx, pos_in_bin""".stripMargin),

    // End-to-end corpus curation under the oracle: the COMPOSED funnel
    // (normalize → language gate → quality gate → Gopher repetition
    // gate → exact dedup → clustered near-dedup → 64-token chunking)
    // with the pinned q62 Config, hash-matched on the final chunk
    // table — the integration check no per-stage oracle can give.
    // The frames curate persists internally (survivors/shingles — all
    // survivor-sized) stay cached for the query's lifetime.
    Query("q62_corpus_curate", (s, dir) => {
      CorpusPipeline.curate(t(s, dir, "documents"), CurateCfg).chunks
        .orderBy("doc_id", "chunk_idx")
    },
    // q62: the WHOLE curation funnel as one CTE chain — each stage is
    // the already-proven per-stage oracle form (normalize q46, langid
    // q26, quality q25, repetition q58, exact dedup q18, clustered
    // near-dedup q53's recursive reach, chunk q47), composed over the
    // previous stage's survivors exactly as CorpusPipeline sequences
    // the operators. Constants interpolate from the same vals as the
    // Spark Config, so the two sides cannot drift.
      s"""$curateOracleCtes,
         |${chunkTailSql("surv")}""".stripMargin),

    // The composed funnel-to-training-shards EXPORT under one hash:
    // q62's survivor chain feeding exportShards — epoch plan over the
    // survivors' own token mass (q104), realized copies (q114), packed
    // sequences (q67/q143), and the per-shard manifest (q107) with an
    // order-independent content hash over every (seq_idx, seq) pair.
    // A manifest hash match certifies the entire raw-docs →
    // training-shards product end to end — the one-call loader story.
    Query("q274_corpus_export", (s, dir) => {
      val r = CorpusPipeline.curate(t(s, dir, "documents"), CurateCfg)
      val (_, manifest) = CorpusPipeline.exportShards(r.survivors.get,
        EpochWeights, EpochBudget, EpochRealizeSalt, PackSeqTokens,
        PackShards)
      manifest.orderBy("shard")
    },
      corpusExportOracleSql),

    // q62's funnel with the CCNet perplexity-tier gate live between the
    // repetition gate and exact dedup: per-language NLL tiers over the
    // gate survivors, only head+middle continue into dedup/chunking.
    Query("q93_corpus_curate_ppl", (s, dir) => {
      val cfg = CurateCfg.copy(
        pplKeepTiers = Some(CuratePplTiers), pplBuckets = PplBuckets)
      CorpusPipeline.curate(t(s, dir, "documents"), cfg).chunks
        .orderBy("doc_id", "chunk_idx")
    },
    // q93: the shared funnel chain with the perplexity-tier CTEs
    // enabled (model over gkeep, per-lang ntile, head+middle kept).
      s"""${curateOracleCtesWith(pplGate = true)},
         |${chunkTailSql("surv")}""".stripMargin),

    // q62's funnel with the quality-aware survivor policy: each near-dup
    // cluster keeps its highest-quality copy instead of its min id.
    Query("q98_corpus_curate_best", (s, dir) => {
      val cfg = CurateCfg.copy(keepBestQuality = true)
      CorpusPipeline.curate(t(s, dir, "documents"), cfg).chunks
        .orderBy("doc_id", "chunk_idx")
    },
    // q98: the shared funnel chain with the keepBestQuality survivor
    // tail (rank-1 per cluster on quality DESC, id ASC).
      s"""${curateOracleCtesWith(pplGate = false, bestSurvivor = true)},
         |${chunkTailSql("surv")}""".stripMargin),

    // q62's funnel with the per-source relative quality cut ANDed into
    // the quality gate: keep each source's top (1 - pct) slice.
    Query("q102_corpus_curate_pct", (s, dir) => {
      val cfg = CurateCfg.copy(minQualityPct = Some(CurateMinQualityPct))
      CorpusPipeline.curate(t(s, dir, "documents"), cfg).chunks
        .orderBy("doc_id", "chunk_idx")
    },
      s"""${curateOracleCtesWith(pplGate = false, pctGate = true)},
         |${chunkTailSql("surv")}""".stripMargin),

    // q62's funnel with the repeated-span scrub live between near-dedup
    // and chunking: surviving text is rewritten (cross-survivor k-token
    // spans removed, first occurrence kept) before the chunker reads it.
    Query("q80_corpus_curate_scrubbed", (s, dir) => {
      val cfg = CurateCfg.copy(scrubSpanK = Some(CurateScrubK))
      CorpusPipeline.curate(t(s, dir, "documents"), cfg).chunks
        .orderBy("doc_id", "chunk_idx")
    },
    // q80: the q62 survivor chain, passed through the q78-style span
    // scrub (k=CurateScrubK over the surviving corpus only), then the
    // q47 chunking tail — same CTEs, same constants, no drift.
      s"""$curateOracleCtes,
         |${scrubTailSql("surv")},
         |${chunkTailSql("sscrub")}""".stripMargin),

    // q62's funnel with the eval-scrub stage live: docs below the q61
    // split double as the "benchmark" (self-contamination by
    // construction), so surviving leaked docs drop between near-dedup
    // and chunking — the composed decontamination under the oracle.
    Query("q70_corpus_curate_decon", (s, dir) => {
      val docs = t(s, dir, "documents")
      val cfg = CurateCfg.copy(
        evalDocs = Some(docs.filter(col("doc_id") < EvalSetDocs)
          .select(col("doc_id"), col("text"))),
        contaminationMinShared = ContaminationMinShared)
      CorpusPipeline.curate(docs, cfg).chunks
        .orderBy("doc_id", "chunk_idx")
    },
    // q70: q62's funnel + the decontamination stage between near-dedup
    // and chunking — eval docs (the q61 split) pass the same normalize
    // chain, survivors sharing >= minShared distinct shingles with any
    // eval doc drop before chunking.
      s"""$curateOracleCtes,
         |etoks AS (SELECT doc_id, string_split(text, ' ') AS t FROM nz
         |          WHERE doc_id < $EvalSetDocs),
         |esh AS (SELECT doc_id, ${Text.shinglesSql("t", ShingleN)} AS shingles
         |        FROM etoks),
         |tpost AS (
         |  SELECT s2.doc_id, unnest(s2.shingles) AS s
         |  FROM sh s2 JOIN surv USING (doc_id)
         |),
         |epost AS (SELECT doc_id AS eval_id, unnest(shingles) AS s FROM esh),
         |cont AS (
         |  SELECT DISTINCT doc_id FROM (
         |    SELECT tpost.doc_id, epost.eval_id
         |    FROM tpost JOIN epost USING (s)
         |    GROUP BY tpost.doc_id, epost.eval_id
         |    HAVING count(*) >= $ContaminationMinShared
         |  )
         |),
         |survd AS (
         |  SELECT surv.doc_id, surv.text FROM surv
         |  LEFT JOIN cont ON surv.doc_id = cont.doc_id
         |  WHERE cont.doc_id IS NULL
         |),
         |${chunkTailSql("survd")}""".stripMargin),

    // q62's funnel with the packed-sequence consumer as the output:
    // the survivors' tokens cut into fixed-length training sequences —
    // the composed raw-docs→training-sequences product under the oracle.
    Query("q77_corpus_curate_packed", (s, dir) => {
      val cfg = CurateCfg.copy(
        packSeqTokens = Some(PackSeqTokens), packShards = PackShards)
      CorpusPipeline.curate(t(s, dir, "documents"), cfg).packed.get
        .orderBy("shard", "seq_idx")
    },
    // q77: the q62 survivor chain, consumed by the q67 packing tail
    // instead of the chunker — same CTEs, same constants, no drift.
      s"""$curateOracleCtes,
         |psrc AS (SELECT doc_id, text FROM surv),
         |${packTailSql("psrc")}""".stripMargin),

    // Exact-N stratified sample: 12 docs per source by keyed-hash draw.
    Query("q76_stratified_sample", (s, dir) => {
      Sampling.sampleN(t(s, dir, "documents"), "doc_id", "source",
        SampleNPerSource, SampleSalt).orderBy("doc_id")
    },
    // q76: rank by the same keyed hash (id tiebreak) within each
    // source; keep rank <= N; payload joins back by id.
      s"""WITH r AS (
         |  SELECT doc_id, row_number() OVER (PARTITION BY source
         |    ORDER BY ${Portable.sqlHash("doc_id", s"'$SampleSalt'")},
         |             doc_id)::BIGINT AS sample_rank
         |  FROM documents
         |)
         |SELECT d.doc_id, d.text, d.lang, d.source, d.n_chars,
         |       r.sample_rank
         |FROM documents d JOIN r ON d.doc_id = r.doc_id
         |WHERE r.sample_rank <= $SampleNPerSource
         |ORDER BY d.doc_id""".stripMargin),

    // Epoch-plan realization: q104's mixture plan materialized as the
    // repeated-document corpus — integer epochs for every doc, the
    // fractional epoch as a deterministic per-doc Bernoulli lottery;
    // expected emitted tokens per source = the plan's target.
    Query("q114_epoch_realize", (s, dir) => {
      val docs = t(s, dir, "documents")
      Sampling.applyEpochFactors(
          docs.select(col("doc_id"), col("source")), "doc_id", "source",
          Sampling.epochFactors(docs, "source", "text", EpochWeights,
            EpochBudget),
          EpochRealizeSalt)
        .select(col("doc_id"), col("source"), col("epoch_copy"))
        .orderBy("doc_id", "epoch_copy")
    },
    // q114: q104's factor chain inline (same rounded factor), then the
    // copy count n = floor(f) + lottery and a lateral range-unnest.
    {
      val vals = EpochWeights.toSeq.sorted
        .map { case (s, w) => s"('$s', ${w}::DOUBLE)" }.mkString(", ")
      val wsum = EpochWeights.values.sum
      s"""WITH wt(source, weight) AS (VALUES $vals),
         |tc AS (
         |  SELECT source, sum(len(string_split(text, ' ')))::BIGINT
         |    AS n_tokens
         |  FROM documents GROUP BY source
         |),
         |fac AS (
         |  SELECT t.source,
         |    ${Portable.sqlIntRatio9(s"CAST(floor(coalesce(w.weight, 0.0)" +
                 s" / $wsum * ${EpochBudget.toDouble} + 0.5) AS BIGINT)",
               "t.n_tokens")} AS factor
         |  FROM tc t LEFT JOIN wt w USING (source)
         |),
         |nn AS (
         |  SELECT d.doc_id, d.source,
         |    (floor(f.factor) + CASE WHEN
         |        ${Portable.sqlUnif("d.doc_id", s"'$EpochRealizeSalt'")}
         |        < f.factor - floor(f.factor) THEN 1 ELSE 0 END)::BIGINT
         |      AS n
         |  FROM documents d JOIN fac f USING (source)
         |)
         |SELECT doc_id, source,
         |  unnest(range(1, n + 1))::BIGINT AS epoch_copy
         |FROM nn WHERE n >= 1
         |ORDER BY doc_id, epoch_copy""".stripMargin
    }),

    // Weighted exact-N stratified sample (A-ES exponential keys):
    // selection probability ∝ n_chars, i.e. ≈ token-uniform document
    // sampling; keyed-hash deterministic, without replacement.
    Query("q111_weighted_sample", (s, dir) => {
      Sampling.sampleNWeighted(t(s, dir, "documents"), "doc_id", "source",
        "n_chars", SampleNPerSource, WeightedSampleSalt).orderBy("doc_id")
    },
    // q111: the same A-ES exponential key (−ln(1−u)/w rounded to 9 dp,
    // id tiebreak) ranks within each source; n_chars > 0 on every
    // fixture row, mirroring the op's positive-weight gate.
      s"""WITH r AS (
         |  SELECT doc_id, row_number() OVER (PARTITION BY source
         |    ORDER BY round(CAST(CAST(floor(round(-ln(1 - ${Portable.sqlUnif("doc_id", s"'$WeightedSampleSalt'")}) / n_chars, 9) * 1e9 + 0.5) AS BIGINT) AS DOUBLE) / 1e9, 9),
         |      doc_id)::BIGINT AS sample_rank
         |  FROM documents WHERE n_chars > 0
         |)
         |SELECT d.doc_id, d.text, d.lang, d.source, d.n_chars,
         |       r.sample_rank
         |FROM documents d JOIN r ON d.doc_id = r.doc_id
         |WHERE r.sample_rank <= $SampleNPerSource
         |ORDER BY d.doc_id""".stripMargin),

    // Temperature-scaled corpus mixture: p_i ∝ n_i^α rates feeding the
    // q64 Bernoulli domain-mix gate — the mT5/XLM-R sampling recipe.
    Query("q83_temperature_mix", (s, dir) => {
      val docs = t(s, dir, "documents")
      val rates = Sampling.ratesForTemperature(docs, "source", "text",
        TempAlpha, TempTargetTokens)
      Sampling.domainMix(docs, "doc_id", "source",
        rates.select(col("source"), col("rate")), "q83")
        .select(col("doc_id"), col("source"))
        .orderBy("doc_id")
    },
    // q83: per-source token counts → α-powered weights normalized by a
    // window sum → rate = min(1, T·p/n), rounded BEFORE the gate so both
    // engines threshold on identical values; same keyed-hash draw.
      s"""WITH tc AS (
         |  SELECT source, sum(len(string_split(text, ' ')))::BIGINT AS n_tokens
         |  FROM documents GROUP BY source
         |),
         |tw AS (SELECT source, n_tokens,
         |         pow(n_tokens::DOUBLE, $TempAlpha) AS w FROM tc),
         |tp AS (SELECT source, n_tokens,
         |         round(CAST(CAST(floor(round(w / sum(w) OVER (), 9) * 1e9 + 0.5) AS BIGINT) AS DOUBLE) / 1e9, 9) AS p FROM tw),
         |tr AS (SELECT source, n_tokens, p,
         |         round(CAST(CAST(floor(round(least(1.0, ${TempTargetTokens.toDouble} * p / n_tokens), 9) * 1e9 + 0.5) AS BIGINT) AS DOUBLE) / 1e9, 9) AS rate
         |       FROM tp)
         |SELECT d.doc_id, d.source
         |FROM documents d JOIN tr USING (source)
         |WHERE ${Portable.sqlUnif("d.doc_id", "'q83'")} < tr.rate
         |ORDER BY d.doc_id""".stripMargin),

    // DSIR importance scores: hashed-bigram bucket weights
    // ln p_target − ln p_raw (Laplace-smoothed), summed per document.
    Query("q74_dsir_score", (s, dir) => {
      val docs = t(s, dir, "documents")
      Sampling.dsirScores(docs, "doc_id", "text",
        docs.filter(col("source").isin(DsirTargetSources: _*)),
        DsirBuckets, DsirN).orderBy("doc_id")
    },
    // q74: bucket counts per corpus slice, Laplace-smoothed log-ratio
    // weights on the full bucket spine, per-doc occurrence sum — the
    // same bucket hash (md5-60 mod buckets) on both engines.
    {
      val tgt = DsirTargetSources.map(s0 => s"'$s0'").mkString(", ")
      s"""WITH t AS (SELECT doc_id, source, string_split(text, ' ') AS toks
         |           FROM documents),
         |occ AS (SELECT doc_id, source,
         |               unnest(${Text.shinglesAllSql("toks", DsirN)}) AS g
         |        FROM t),
         |b AS (SELECT doc_id, source,
         |             ${Portable.sqlHash("g")} % $DsirBuckets AS bucket
         |      FROM occ),
         |tc AS (SELECT bucket, count(*)::BIGINT AS ct FROM b
         |       WHERE source IN ($tgt) GROUP BY bucket),
         |rc AS (SELECT bucket, count(*)::BIGINT AS cr FROM b GROUP BY bucket),
         |sp AS (SELECT unnest(range(0, $DsirBuckets)) AS bucket),
         |tt AS (SELECT count(*)::DOUBLE AS v FROM b WHERE source IN ($tgt)),
         |rt AS (SELECT count(*)::DOUBLE AS v FROM b),
         |w AS (SELECT sp.bucket,
         |        round(CAST(CAST(floor(round(ln((coalesce(tc.ct, 0) + 1) / (tt.v + $DsirBuckets.0)) - ln((coalesce(rc.cr, 0) + 1) / (rt.v + $DsirBuckets.0)), 9) * 1e9 + 0.5) AS BIGINT) AS DOUBLE) / 1e9, 9) AS w
         |      FROM sp LEFT JOIN tc ON sp.bucket = tc.bucket
         |              LEFT JOIN rc ON sp.bucket = rc.bucket, tt, rt),
         |per AS (SELECT b.doc_id, count(*)::BIGINT AS n_grams,
         |               sum(CAST(floor(w.w * 1e9 + 0.5) AS BIGINT)) AS s9
         |        FROM b JOIN w ON b.bucket = w.bucket GROUP BY b.doc_id)
         |SELECT d.doc_id, coalesce(p.n_grams, 0)::BIGINT AS n_grams,
         |       ${Portable.sqlIntRatioSigned9("coalesce(p.s9, 0)",
                  "1000000000")} AS dsir_score
         |FROM documents d LEFT JOIN per p ON d.doc_id = p.doc_id
         |ORDER BY d.doc_id""".stripMargin
    }),

    // Epoch-factor planning table: per-source available tokens vs the
    // target mixture share of a total token budget.
    Query("q104_epoch_factors", (s, dir) => {
      Sampling.epochFactors(t(s, dir, "documents"), "source", "text",
          EpochWeights, EpochBudget)
        .orderBy("source")
    },
    // q104: the same mixture weights as VALUES; wsum = 5.0 inlined on
    // both sides, target = floor(share * budget + 0.5).
    {
      val vals = EpochWeights.toSeq.sorted
        .map { case (s, w) => s"('$s', ${w}::DOUBLE)" }.mkString(", ")
      val wsum = EpochWeights.values.sum
      s"""WITH wt(source, weight) AS (VALUES $vals),
         |tc AS (
         |  SELECT source, sum(len(string_split(text, ' ')))::BIGINT
         |    AS n_tokens
         |  FROM documents GROUP BY source
         |)
         |SELECT t.source, t.n_tokens, coalesce(w.weight, 0.0) AS weight,
         |  round(CAST(CAST(floor(round(coalesce(w.weight, 0.0) / $wsum, 9) * 1e9 + 0.5) AS BIGINT) AS DOUBLE) / 1e9, 9) AS share,
         |  floor(coalesce(w.weight, 0.0) / $wsum * ${EpochBudget.toDouble}
         |    + 0.5)::BIGINT AS target_tokens,
         |  ${Portable.sqlIntRatio9(s"CAST(floor(coalesce(w.weight, 0.0)" +
               s" / $wsum * ${EpochBudget.toDouble} + 0.5) AS BIGINT)",
             "t.n_tokens")} AS factor
         |FROM tc t LEFT JOIN wt w USING (source)
         |ORDER BY source""".stripMargin
    }),

    // Cross-source quantile normalization of the quality score: each
    // doc's score mapped to the global score at its within-source
    // quantile — exact tie-aware integer index arithmetic over
    // distinct-score CDFs (the calibration before one threshold can
    // gate a mixed corpus).
    Query("q184_quantile_norm", (s, dir) => {
      val qs = Text.qualityScore(t(s, dir, "documents"), "text",
          Seq("source"))
        .select(col("doc_id"), col("source"), col("quality_score"))
      Sampling.quantileNormalize(qs, "doc_id", "source", "quality_score")
        .orderBy("doc_id")
    },
    // q184: distinct-score CDFs on both levels, the integer target
    // index (rlo·(N−1)) // max(ng−1, 1), and the interval lookup —
    // exact mirror of the engine's tie-aware mapping.
      s"""$qualityScoreSqlCtes,
         |g AS (
         |  SELECT quality_score AS gs, count(*)::BIGINT AS gcnt
         |  FROM qs GROUP BY 1
         |),
         |g2 AS (
         |  SELECT gs, gcnt,
         |    coalesce(sum(gcnt) OVER (ORDER BY gs
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
         |      0)::BIGINT AS glo
         |  FROM g
         |),
         |nn AS (SELECT count(*)::BIGINT AS n FROM qs),
         |pg AS (
         |  SELECT source, quality_score, count(*)::BIGINT AS cnt
         |  FROM qs GROUP BY 1, 2
         |),
         |pg2 AS (
         |  SELECT source, quality_score,
         |    coalesce(sum(cnt) OVER (PARTITION BY source
         |      ORDER BY quality_score
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
         |      0)::BIGINT AS rlo,
         |    sum(cnt) OVER (PARTITION BY source)::BIGINT AS ng
         |  FROM pg
         |),
         |mp AS (
         |  SELECT p.source, p.quality_score, g2.gs AS qn_score
         |  FROM pg2 p CROSS JOIN nn JOIN g2
         |    ON (p.rlo * (nn.n - 1)) // greatest(p.ng - 1, 1) >= g2.glo
         |   AND (p.rlo * (nn.n - 1)) // greatest(p.ng - 1, 1)
         |       < g2.glo + g2.gcnt
         |)
         |SELECT q.doc_id, q.source, q.quality_score, mp.qn_score
         |FROM qs q JOIN mp USING (source, quality_score)
         |ORDER BY q.doc_id""".stripMargin)
  )
}

package graft.queries

import org.apache.spark.sql.functions._
import graft.SparkEntry._
import graft.ops._

/** Data quality and statistics: data cards, drift and two-sample tests,
  * calibration, sketches and embedding audits. */
private[graft] object QualityQueries {

  /** q132 top-token concentration gate bound. */
  val ConcMax = 0.2

  /** q121 count–min sketch: depth 3 × width 64 against the fixture's
    * ~40-term vocabulary forces real counter collisions, so the audit's
    * overestimate column is non-trivially positive while the est ≥
    * exact law still holds row-for-row. */
  val CmsDepth = 3
  val CmsWidth = 64
  val CmsMinCount = 10L
  val CmsSalt = "q121"
  /** q163 HyperLogLog: 2^6 = 64 registers (≈13% standard error) against
    * per-language vocabularies of a few dozen types — small enough that
    * the raw estimator's error is visibly non-zero, which is what the
    * audit exists to show. */
  val HllBits = 6
  val HllSalt = "q163"

  /** q252 anisotropy: unrolled power-iteration rounds (mirrored
    * CTE-for-CTE in the oracle). */
  val PowerRounds = 3

  /** q276: synthetic calibration-frame size and bucket count, sized so
    * every bucket (~N/bins = 4e5 rows) crosses the ≤2.2e5-rows-per-
    * bucket DECIMAL(38,0) operand bound and the Brier REL
    * divide-before-square fallback FIRES under the oracle gate
    * ([[graft.ops.Quality.brierDecomposition]]; q213's real buckets
    * stay on the exact path). */
  val BrierScaleN = 2000000L
  val BrierScaleBins = 5

  /** q149's id shift for the synthetic "re-added" snapshot docs — far
    * above any fixture doc_id, so shifted ids never collide. */
  val DiffAddIdOffset = 10000000L

  /** q228 Poisson bootstrap: resample count and the draw salt. */
  val BootstrapB = 64
  val BootstrapSalt = "boot"

  /** q190 embedding-drift split: vectors below this id are corpus A,
    * the rest corpus B (fixed A size at every SF, B grows). */
  val DriftSplitId = 250L

  /** q196 conformal miscoverage α = 1/10 (90% coverage gates). */
  val ConformalAlphaNum = 1L
  val ConformalAlphaDen = 10L

  /** q202 trim fraction (10% per tail). */
  val TrimNum = 1L
  val TrimDen = 10L
  /** q203 MAD multiplier (the classic 3-MAD outlier band). */
  val MadK = 3
  /** q204 anonymity floor (groups below k violate). */
  val KAnonK = 5L

  /** q207 isotonic-calibration score buckets — 200 (not 20) because
    * the fixture's quality scores concentrate in [0.80, 0.85]: at 20
    * bins the whole corpus lands in one bucket and the PAV lattice is
    * never exercised; at 200 the populated ~9 buckets carry a
    * genuinely non-monotone rate profile that PAV must pool. */
  val IsoBins = 200

  /** q194 join-size CMS geometry + salt. */
  val CmsJoinDepth = 4
  val CmsJoinWidth = 256
  val CmsJoinSalt = "cmsJoin"

  /** DuckDB CTE chain for the q212/q213 calibration buckets: the
    * [[Quality.reliabilityDiagram]] bucket agg — per-row 1e9
    * integerization, exact DECIMAL sums of score mass and squared
    * error. Yields `b(bin, n, pos, ss, se)`; expects the
    * quality-score `qs` CTE prefix (included). */
  private lazy val calibBinsSqlCte: String =
    s"""$qualityScoreSqlCtes,
       |bk AS (
       |  SELECT least(floor(quality_score * $IsoBins), ${IsoBins - 1})
       |      ::BIGINT AS bin,
       |    CAST(floor(round(quality_score, 9) * 1e9 + 0.5) AS BIGINT)
       |      AS s9,
       |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
       |  FROM qs
       |),
       |b AS (
       |  SELECT bin, count(*)::BIGINT AS n, sum(y)::BIGINT AS pos,
       |    sum(CAST(s9 AS DECIMAL(38,0))) AS ss,
       |    sum(CAST((s9 - 1000000000*y)*(s9 - 1000000000*y)
       |      AS DECIMAL(38,0))) AS se
       |  FROM bk GROUP BY 1
       |)""".stripMargin

  /** DuckDB tail shared by q213/q276: the Murphy-decomposition terms
    * over a prepared bucket frame `b(bin, n, pos, ss, se)` — per-bucket
    * REL/RES integerized at 1e9 and summed in BIGINT, with the
    * divide-before-square pinned-double fallback past the DECIMAL
    * operand bounds, branch for branch the
    * [[graft.ops.Quality.brierDecomposition]] plan. Prefix must END
    * with the `b` CTE and a trailing comma. */
  private lazy val brierDecompSqlTail: String =
    s"""t AS (SELECT sum(n)::BIGINT AS nn, sum(pos)::BIGINT AS pp,
       |        sum(se) AS sse FROM b),
       |terms AS (
       |  SELECT t.nn, t.pp, t.sse,
       |    CASE WHEN CAST(b.n AS DOUBLE) <= 2.2e5 THEN
       |      ${Portable.sqlIntRatioScaled(
            "(CAST(b.ss AS HUGEINT) - CAST(b.pos AS HUGEINT)" +
              " * 1000000000) * (CAST(b.ss AS HUGEINT)" +
              " - CAST(b.pos AS HUGEINT) * 1000000000)",
            "CAST(b.n AS HUGEINT) * t.nn * 1000000000 * 1000000000",
            9)}
       |    ELSE CAST(floor(
       |      (CAST(CAST(b.ss AS HUGEINT) - CAST(b.pos AS HUGEINT)
       |         * 1000000000 AS DOUBLE)
       |       / (CAST(b.n AS DOUBLE) * 1e9))
       |      * (CAST(CAST(b.ss AS HUGEINT) - CAST(b.pos AS HUGEINT)
       |           * 1000000000 AS DOUBLE)
       |         / (CAST(b.n AS DOUBLE) * 1e9))
       |      * CAST(b.n AS DOUBLE) / CAST(t.nn AS DOUBLE) * 1e9
       |      + 0.5) AS BIGINT)
       |    END AS rel9,
       |    CASE WHEN CAST(b.n AS DOUBLE) * CAST(t.nn AS DOUBLE)
       |        <= 2.2e14 THEN
       |      ${Portable.sqlIntRatioScaled(
            "(CAST(b.pos AS HUGEINT) * t.nn - CAST(t.pp AS HUGEINT)" +
              " * b.n) * (CAST(b.pos AS HUGEINT) * t.nn" +
              " - CAST(t.pp AS HUGEINT) * b.n)",
            "CAST(b.n AS HUGEINT) * t.nn * t.nn * t.nn", 9)}
       |    ELSE CAST(floor(
       |      (CAST(CAST(b.pos AS HUGEINT) * t.nn
       |         - CAST(t.pp AS HUGEINT) * b.n AS DOUBLE)
       |       / (CAST(b.n AS DOUBLE) * CAST(t.nn AS DOUBLE)))
       |      * (CAST(CAST(b.pos AS HUGEINT) * t.nn
       |           - CAST(t.pp AS HUGEINT) * b.n AS DOUBLE)
       |         / (CAST(b.n AS DOUBLE) * CAST(t.nn AS DOUBLE)))
       |      * CAST(b.n AS DOUBLE) / CAST(t.nn AS DOUBLE) * 1e9
       |      + 0.5) AS BIGINT)
       |    END AS res9
       |  FROM b CROSS JOIN t
       |)
       |SELECT nn AS n, pp AS pos,
       |  ${Portable.sqlIntRatio9("pp", "nn")} AS pos_rate,
       |  ${Portable.sqlIntRatio9("sse",
           "CAST(nn AS HUGEINT) * 1000000000 * 1000000000")} AS brier,
       |  round(CAST(CAST(floor(round(CAST(sum(rel9) AS DOUBLE) / 1e9, 9) * 1e9 + 0.5) AS BIGINT) AS DOUBLE) / 1e9, 9) AS reliability,
       |  round(CAST(CAST(floor(round(CAST(sum(res9) AS DOUBLE) / 1e9, 9) * 1e9 + 0.5) AS BIGINT) AS DOUBLE) / 1e9, 9) AS resolution,
       |  ${Portable.sqlIntRatio9("CAST(pp AS HUGEINT) * (nn - pp)",
           "CAST(nn AS HUGEINT) * nn")} AS uncertainty
       |FROM terms GROUP BY nn, pp, sse
       |ORDER BY n""".stripMargin

  /** q139: the q25 / q58 / q71 signal chains integerized (half-up at
    * 1e9 over the already-9dp-rounded values), every moment an exact
    * DECIMAL(38,0) sum, the 6 pair correlations formed from the one
    * moment row — the same fixed-expression-shape discipline as the
    * Spark side, so even the float correlations hash-match. */
  private def q139OracleSql: String = {
    val sigs = Seq("quality", "rep", "nll", "len")
    val prs = for {
      i <- sigs.indices; j <- (i + 1) until sigs.size
    } yield (sigs(i), sigs(j))
    def d(e: String) = s"CAST($e AS DECIMAL(38,0))"
    val moments =
      (Seq(s"${d("count(*)")} AS n") ++
        sigs.flatMap(s0 => Seq(
          s"${d(s"sum(${d(s0)})")} AS s_$s0",
          s"${d(s"sum(${d(s0)} * ${d(s0)})")} AS ss_$s0")) ++
        prs.map { case (a, b) =>
          s"${d(s"sum(${d(a)} * ${d(b)})")} AS sp_${a}_$b" }).mkString(",\n    ")
    def dd(e: String) = s"CAST($e AS DOUBLE)"
    val pairSelects = prs.map { case (a, b) =>
      val da = dd(s"n * ss_$a - s_$a * s_$a")
      val db = dd(s"n * ss_$b - s_$b * s_$b")
      val num = dd(s"n * sp_${a}_$b - s_$a * s_$b")
      s"""SELECT '$a' AS sig_a, '$b' AS sig_b,
         |  CAST(n AS BIGINT) AS n_docs,
         |  CASE WHEN $da > 0 AND $db > 0 THEN
         |    ${Portable.sqlRatio9(s"$num / (sqrt($da) * sqrt($db))")}
         |  END AS corr
         |FROM agg1""".stripMargin
    }.mkString("\nUNION ALL\n")
    val stopList = Text.EnStopwords.map(w => s"'$w'").mkString(", ")
    s"""WITH qm AS (
       |  SELECT doc_id,
       |    len(string_split(text, ' '))::BIGINT AS lenv,
       |    $qMetricColsSql
       |  FROM documents
       |),
       |qx AS (
       |  SELECT doc_id, lenv,
       |    $qScoreSqlExpr
       |      AS score
       |  FROM qm
       |),
       |rg AS (SELECT doc_id,
       |         unnest(${Text.shinglesAllSql("string_split(text, ' ')",
                  RepetitionN)}) AS g
       |       FROM documents),
       |rc AS (SELECT doc_id, g, count(*) AS c FROM rg GROUP BY doc_id, g),
       |rp AS (SELECT doc_id, sum(c)::BIGINT AS total,
       |              count(*)::BIGINT AS n_distinct
       |       FROM rc GROUP BY doc_id),
       |rx AS (
       |  SELECT d.doc_id,
       |    ${Portable.sqlIntRatio9("rp.total - rp.n_distinct", "rp.total")} AS ratio
       |  FROM documents d LEFT JOIN rp USING (doc_id)
       |),
       |utf AS (
       |  SELECT doc_id, w, count(*)::BIGINT AS c
       |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w
       |        FROM documents)
       |  GROUP BY doc_id, w
       |),
       |ucw AS (SELECT doc_id, c, sum(c) OVER (PARTITION BY w) AS cnt
       |        FROM utf),
       |utot AS (SELECT CAST(sum(len(string_split(text, ' '))) AS DOUBLE)
       |               AS total FROM documents),
       |ux AS (
       |  SELECT doc_id, round(CAST(CAST(floor(round(sum(c * -ln(cnt / total)) / sum(c), 9) * 1e9 + 0.5) AS BIGINT) AS DOUBLE) / 1e9, 9) AS nllv
       |  FROM ucw, utot GROUP BY doc_id
       |),
       |sigf AS (
       |  SELECT q.doc_id,
       |    CAST(floor(q.score * 1e9 + 0.5) AS BIGINT) AS quality,
       |    CAST(floor(r.ratio * 1e9 + 0.5) AS BIGINT) AS rep,
       |    CAST(floor(u.nllv * 1e9 + 0.5) AS BIGINT) AS nll,
       |    q.lenv AS len
       |  FROM qx q JOIN rx r USING (doc_id) JOIN ux u USING (doc_id)
       |  WHERE r.ratio IS NOT NULL
       |),
       |agg1 AS (
       |  SELECT $moments
       |  FROM sigf
       |)
       |$pairSelects
       |ORDER BY sig_a, sig_b""".stripMargin
  }

  val all: Seq[Query] = Seq(

    // Wasserstein-1 drift: how much score mass moves how far between
    // one source and the rest — the magnitude twin of q191's KS.
    Query("q223_wasserstein_drift", (s, dir) => {
      val qs = Text.qualityScore(t(s, dir, "documents"), "text",
          Seq("source"))
        .select(col("source"), col("quality_score"))
      Quality.wassersteinDrift(qs.filter(col("source") === KsSourceA),
        qs.filter(col("source") =!= KsSourceA), "quality_score")
    },
    // q223: the q191 CDF-merge machinery plus lead(v9) step widths;
    // per-step exact-integer terms in DECIMAL(38,0), one division.
      s"""$qualityScoreSqlCtes,
         |av AS (SELECT quality_score AS v FROM qs
         |       WHERE source = '$KsSourceA'),
         |bv AS (SELECT quality_score AS v FROM qs
         |       WHERE source <> '$KsSourceA'),
         |ca2 AS (
         |  SELECT v, sum(c) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED
         |    PRECEDING AND CURRENT ROW)::BIGINT AS cum
         |  FROM (SELECT v, count(*)::BIGINT AS c FROM av GROUP BY v)
         |),
         |cb2 AS (
         |  SELECT v, sum(c) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED
         |    PRECEDING AND CURRENT ROW)::BIGINT AS cum
         |  FROM (SELECT v, count(*)::BIGINT AS c FROM bv GROUP BY v)
         |),
         |na AS (SELECT count(*)::BIGINT AS n FROM av),
         |nb AS (SELECT count(*)::BIGINT AS n FROM bv),
         |mg AS (
         |  SELECT v, ca2.cum AS ca, cb2.cum AS cb
         |  FROM ca2 FULL JOIN cb2 USING (v)
         |),
         |f AS (
         |  SELECT v,
         |    coalesce(last_value(ca IGNORE NULLS) OVER w, 0)::BIGINT AS ca,
         |    coalesce(last_value(cb IGNORE NULLS) OVER w, 0)::BIGINT AS cb
         |  FROM mg WINDOW w AS (ORDER BY v ROWS BETWEEN UNBOUNDED
         |    PRECEDING AND CURRENT ROW)
         |),
         |g AS (
         |  SELECT ca, cb,
         |    lead(CAST(floor(v * 1e9 + 0.5) AS BIGINT)) OVER (ORDER BY v)
         |      - CAST(floor(v * 1e9 + 0.5) AS BIGINT) AS dv9
         |  FROM f
         |),
         |t AS (
         |  SELECT count(*)::BIGINT AS nv,
         |    CAST(sum(CASE WHEN dv9 IS NOT NULL THEN
         |      CAST(abs(ca * nb.n - cb * na.n) AS DECIMAL(38,0))
         |        * CAST(dv9 AS DECIMAL(38,0)) END) AS DECIMAL(38,0)) AS w
         |  FROM g CROSS JOIN na CROSS JOIN nb
         |)
         |SELECT na.n AS n_a, nb.n AS n_b, t.nv AS n_values,
         |  CASE WHEN na.n > 0 AND nb.n > 0 THEN
         |    ${Portable.sqlIntRatio9("coalesce(t.w, 0)",
             "CAST(na.n AS HUGEINT) * nb.n * 1000000000")}
         |  END AS w1
         |FROM t CROSS JOIN na CROSS JOIN nb""".stripMargin),

    // Poisson-bootstrap percentile CI for the corpus mean quality —
    // keyed-hash resampling, exact order-statistic bounds.
    Query("q228_bootstrap_ci", (s, dir) => {
      val qs = Text.qualityScore(t(s, dir, "documents"), "text", Nil)
        .select(col("doc_id"), col("quality_score"))
      Quality.bootstrapMeanCi(qs, "doc_id", "quality_score",
        BootstrapB, BootstrapSalt)
    },
    // q228: the Poisson(1) inverse-CDF compares the RAW 60-bit hash
    // against Scala-computed literal thresholds in hash units (the
    // q170 literal discipline — pure integer comparisons, no float
    // scaling); resample means integerize; CI = exact order stats.
    {
      val wExpr = Quality.BootstrapCumHash
        .map(c => s"(CASE WHEN h >= $c THEN 1 ELSE 0 END)")
        .mkString(" + ")
      s"""$qualityScoreSqlCtes,
         |rows_ AS (
         |  SELECT doc_id,
         |    CAST(floor(round(CAST(quality_score AS DOUBLE), 9) * 1e9
         |      + 0.5) AS BIGINT) AS x9
         |  FROM qs
         |),
         |bs AS (SELECT unnest(range(0, $BootstrapB)) AS b),
         |u AS (
         |  SELECT b, x9,
         |    ${Portable.sqlHash("doc_id", s"'$BootstrapSalt'", "b")} AS h
         |  FROM rows_ CROSS JOIN bs
         |),
         |bm AS (
         |  SELECT b,
         |    ${Portable.sqlIntRatioScaledSigned("sum(w * x9)",
              "CAST(sum(w) AS HUGEINT) * 1000000000", 9)} AS m9
         |  FROM (SELECT b, x9, ($wExpr) AS w FROM u) _
         |  GROUP BY b HAVING sum(w) > 0
         |),
         |r AS (
         |  SELECT m9, row_number() OVER (ORDER BY m9, b)::BIGINT AS r,
         |    count(*) OVER ()::BIGINT AS nb
         |  FROM bm
         |),
         |ci AS (
         |  SELECT nb,
         |    min(CASE WHEN r = (nb * 25 + 999) // 1000 THEN m9 END)
         |      ::BIGINT AS lo9,
         |    min(CASE WHEN r = (nb * 975 + 999) // 1000 THEN m9 END)
         |      ::BIGINT AS hi9
         |  FROM r GROUP BY nb
         |),
         |nm AS (SELECT count(*)::BIGINT AS n, sum(x9)::BIGINT AS sx
         |       FROM rows_)
         |SELECT nm.n, ci.nb AS n_resamples,
         |  CASE WHEN nm.n > 0 THEN ${Portable.sqlRatio9(
             "CAST(nm.sx AS DOUBLE) / CAST(nm.n AS DOUBLE) / 1e9")}
         |  END AS mean,
         |  round(CAST(ci.lo9 AS DOUBLE) / 1e9, 9) AS lo95,
         |  round(CAST(ci.hi9 AS DOUBLE) / 1e9, 9) AS hi95
         |FROM ci CROSS JOIN nm""".stripMargin
    }),

    // Exact tie-correct Spearman between quality score and token
    // count — "do longer documents score higher", monotone-transform-
    // robust; both axes come out of the one qualityScore pass.
    Query("q230_spearman", (s, dir) => {
      Quality.spearman(Text.qualityScore(t(s, dir, "documents"), "text"),
        "quality_score", "n_tokens")
    },
    // q230: the identical 2x-midrank frames (2·cum − c + 1 per
    // distinct 1e9-integerized value), HUGEINT moment sums (exact,
    // like Spark's DECIMAL(38,0)), one num/(√d₁·√d₂) chain.
      s"""$qualityScoreSqlCtes,
         |b AS (
         |  SELECT
         |    CAST(floor(round(q.quality_score, 9) * 1e9 + 0.5)
         |      AS BIGINT) AS x,
         |    CAST(floor(round(len(string_split(d.text, ' '))::DOUBLE, 9)
         |      * 1e9 + 0.5) AS BIGINT) AS y
         |  FROM qs q JOIN documents d ON d.doc_id = q.doc_id
         |),
         |rx AS (
         |  SELECT x, (2 * cum - c + 1)::BIGINT AS r FROM (
         |    SELECT x, c, sum(c) OVER (ORDER BY x ROWS BETWEEN UNBOUNDED
         |      PRECEDING AND CURRENT ROW)::BIGINT AS cum
         |    FROM (SELECT x, count(*)::BIGINT AS c FROM b GROUP BY x) _) _
         |),
         |ry AS (
         |  SELECT y, (2 * cum - c + 1)::BIGINT AS r FROM (
         |    SELECT y, c, sum(c) OVER (ORDER BY y ROWS BETWEEN UNBOUNDED
         |      PRECEDING AND CURRENT ROW)::BIGINT AS cum
         |    FROM (SELECT y, count(*)::BIGINT AS c FROM b GROUP BY y) _) _
         |),
         |mo AS (
         |  SELECT count(*)::BIGINT AS n,
         |    sum(CAST(rx.r AS HUGEINT)) AS sx,
         |    sum(CAST(ry.r AS HUGEINT)) AS sy,
         |    sum(CAST(rx.r AS HUGEINT) * rx.r) AS sxx,
         |    sum(CAST(ry.r AS HUGEINT) * ry.r) AS syy,
         |    sum(CAST(rx.r AS HUGEINT) * ry.r) AS sxy
         |  FROM b JOIN rx USING (x) JOIN ry USING (y)
         |)
         |SELECT n,
         |  CASE WHEN CAST(n AS HUGEINT) * sxx - sx * sx > 0
         |        AND CAST(n AS HUGEINT) * syy - sy * sy > 0 THEN
         |    ${Portable.sqlRatio9(
              "CAST(CAST(n AS HUGEINT) * sxy - sx * sy AS DOUBLE)" +
                " / (sqrt(CAST(CAST(n AS HUGEINT) * sxx - sx * sx" +
                " AS DOUBLE)) * sqrt(CAST(CAST(n AS HUGEINT) * syy" +
                " - sy * sy AS DOUBLE)))")}
         |  END AS rho
         |FROM mo""".stripMargin),

    // Cohen's kappa of the q85/q186 self-classifier against truth —
    // chance-corrected agreement over the same confusion grid the
    // per-class report reads.
    Query("q231_cohen_kappa", (s, dir) => {
      val docs = t(s, dir, "documents")
      val pred = graft.ml.NaiveBayesText
        .classify(graft.ml.NaiveBayesText.train(docs, "text", "lang"),
          docs, "doc_id", "text")
        .join(docs.select(col("doc_id"), col("lang")), Seq("doc_id"))
      Quality.cohenKappa(pred, "lang", "pred_label")
    },
    // q231: the q186 NB pred chain, then kappa's exact integer form
    // (N·agree − Σrc) / (N² − Σrc) with full-outer margins.
      s"""$nbRankSqlCte,
         |pr AS (
         |  SELECT d.lang AS a, r.label AS b
         |  FROM rk r JOIN documents d ON d.doc_id = r.doc_id
         |  WHERE r.rk = 1
         |),
         |cells AS (SELECT a, b, count(*)::BIGINT AS c
         |          FROM pr GROUP BY 1, 2),
         |ra AS (SELECT a AS l, sum(c)::BIGINT AS ra FROM cells GROUP BY 1),
         |cb AS (SELECT b AS l, sum(c)::BIGINT AS cb FROM cells GROUP BY 1),
         |pec AS (
         |  SELECT sum(CAST(coalesce(ra, 0) AS HUGEINT)
         |    * coalesce(cb, 0)) AS pev
         |  FROM ra FULL JOIN cb USING (l)
         |),
         |tt AS (SELECT sum(c)::BIGINT AS n,
         |  sum(CASE WHEN a = b THEN c ELSE 0 END)::BIGINT AS agree
         |  FROM cells)
         |SELECT n, agree,
         |  CASE WHEN n > 0 THEN ${Portable.sqlIntRatio9("agree", "n")}
         |  END AS po,
         |  CASE WHEN n > 0 THEN ${Portable.sqlIntRatio9("pev",
              "CAST(n AS HUGEINT) * n")}
         |  END AS pe,
         |  CASE WHEN CAST(n AS HUGEINT) * n - pev > 0 THEN
         |    ${Portable.sqlIntRatioSigned9(
              "CAST(n AS HUGEINT) * agree - pev",
              "CAST(n AS HUGEINT) * n - pev")}
         |  END AS kappa
         |FROM tt CROSS JOIN pec""".stripMargin),

    // Mutual information (and NMI) between source and language — the
    // information-theoretic twin of q198's chi-square on the same
    // grid.
    Query("q233_mutual_information", (s, dir) => {
      Quality.mutualInformation(t(s, dir, "documents"), "source", "lang")
    },
    // q233: per-cell and per-margin 1e9-integerized p·ln terms summed
    // in BIGINT, NMI as one MI9/√(Ha9·Hb9) chain.
      s"""WITH cells AS (
         |  SELECT source AS a, lang AS b, count(*)::BIGINT AS c
         |  FROM documents GROUP BY 1, 2
         |),
         |nt AS (SELECT sum(c)::BIGINT AS n FROM cells),
         |ra AS (SELECT a, sum(c)::BIGINT AS ra FROM cells GROUP BY 1),
         |cb AS (SELECT b, sum(c)::BIGINT AS cb FROM cells GROUP BY 1),
         |mi AS (
         |  SELECT count(*)::BIGINT AS n_cells,
         |    sum(CAST(floor(round(
         |      (CAST(c AS DOUBLE) / CAST(nt.n AS DOUBLE))
         |      * ln(CAST(c AS DOUBLE) * CAST(nt.n AS DOUBLE)
         |        / (CAST(ra AS DOUBLE) * CAST(cb AS DOUBLE))), 9)
         |      * 1e9 + 0.5) AS BIGINT))::BIGINT AS mi9
         |  FROM cells JOIN ra USING (a) JOIN cb USING (b) CROSS JOIN nt
         |),
         |ha AS (
         |  SELECT sum(CAST(floor(round(
         |    -(CAST(ra AS DOUBLE) / CAST(nt.n AS DOUBLE))
         |    * ln(CAST(ra AS DOUBLE) / CAST(nt.n AS DOUBLE)), 9)
         |    * 1e9 + 0.5) AS BIGINT))::BIGINT AS h9
         |  FROM ra CROSS JOIN nt
         |),
         |hb AS (
         |  SELECT sum(CAST(floor(round(
         |    -(CAST(cb AS DOUBLE) / CAST(nt.n AS DOUBLE))
         |    * ln(CAST(cb AS DOUBLE) / CAST(nt.n AS DOUBLE)), 9)
         |    * 1e9 + 0.5) AS BIGINT))::BIGINT AS h9
         |  FROM cb CROSS JOIN nt
         |)
         |SELECT nt.n AS n, mi.n_cells,
         |  round(CAST(mi.mi9 AS DOUBLE) / 1e9, 9) AS mi,
         |  round(CAST(ha.h9 AS DOUBLE) / 1e9, 9) AS h_a,
         |  round(CAST(hb.h9 AS DOUBLE) / 1e9, 9) AS h_b,
         |  CASE WHEN ha.h9 > 0 AND hb.h9 > 0 THEN ${Portable.sqlRatio9(
              "CAST(mi.mi9 AS DOUBLE) / (sqrt(CAST(ha.h9 AS DOUBLE))" +
                " * sqrt(CAST(hb.h9 AS DOUBLE)))")}
         |  END AS nmi
         |FROM mi CROSS JOIN nt CROSS JOIN ha CROSS JOIN hb""".stripMargin),

    // Benford first-digit audit of extended price — digit extraction
    // by integer-string head on exact cents, expectation from the
    // literal integer table.
    Query("q234_benford", (s, dir) => {
      Quality.benfordAudit(t(s, dir, "lineitem"), "l_extendedprice")
        .orderBy("digit")
    },
    // q234: first digit of exact cents by integer-string head; the
    // Benford expectation from the SAME literal integers as the
    // engine ([[Quality.Benford9]]).
    {
      val grid = Quality.Benford9.zipWithIndex
        .map { case (p9, i) => s"(${i + 1}, ${p9})" }.mkString(", ")
      val share9 =
        Portable.sqlIntRatioScaled("coalesce(observed, 0)", "n", 9)
      s"""WITH v AS (
         |  SELECT CAST(floor(round(CAST(l_extendedprice AS DOUBLE), 2)
         |    * 1e2 + 0.5) AS BIGINT) AS cents
         |  FROM lineitem
         |),
         |d AS (
         |  SELECT CAST(substring(CAST(cents AS VARCHAR), 1, 1) AS INT)
         |    AS digit
         |  FROM v WHERE cents > 0
         |),
         |cnt AS (SELECT digit, count(*)::BIGINT AS observed
         |        FROM d GROUP BY 1),
         |grid AS (SELECT digit::INT AS digit, p9::BIGINT AS p9
         |         FROM (VALUES $grid) t(digit, p9)),
         |tot AS (SELECT sum(observed)::BIGINT AS n FROM cnt)
         |SELECT g.digit, coalesce(observed, 0)::BIGINT AS observed, n,
         |  CASE WHEN n > 0 THEN
         |    round(CAST($share9 AS DOUBLE) / 1e9, 9) END AS share,
         |  round(CAST(p9 AS DOUBLE) / 1e9, 9) AS benford_p,
         |  CASE WHEN n > 0 THEN
         |    round(CAST($share9 - p9 AS DOUBLE) / 1e9, 9) END AS excess
         |FROM grid g LEFT JOIN cnt USING (digit) CROSS JOIN tot
         |ORDER BY g.digit""".stripMargin
    }),

    // ECE/MCE over the q212 reliability bins — the one-number
    // calibration gates, every per-bin gap an exact integer.
    Query("q240_calibration_error", (s, dir) => {
      val qs = Text.qualityScore(t(s, dir, "documents"), "text",
          Seq("lang"))
        .select(col("lang"), col("quality_score"))
      Quality.calibrationError(qs, "quality_score",
        col("lang") === "en", IsoBins)
    },
    // q240: the q212 bins, per-bin gap |pos·1e9 − Σs9| exact, one
    // division for ECE, integer-backed max for MCE.
      s"""$calibBinsSqlCte,
         |g AS (
         |  SELECT n,
         |    abs(CAST(pos AS HUGEINT) * 1000000000 - ss) AS gap
         |  FROM b
         |)
         |SELECT sum(n)::BIGINT AS n, count(*)::BIGINT AS n_bins,
         |  CASE WHEN sum(n) > 0 THEN ${Portable.sqlIntRatio9("sum(gap)",
              "CAST(sum(n) AS HUGEINT) * 1000000000")}
         |  END AS ece,
         |  round(CAST(max(${Portable.sqlIntRatioScaled("gap",
             "CAST(n AS HUGEINT) * 1000000000", 9)})
         |    AS DOUBLE) / 1e9, 9) AS mce
         |FROM g""".stripMargin),

    // Token-weighted median quality per source — the median TOKEN's
    // quality, where the row median overweights short docs.
    Query("q241_weighted_median", (s, dir) => {
      Quality.weightedMedian(
        Text.qualityScore(t(s, dir, "documents"), "text", Seq("source")),
        "source", "quality_score", "n_tokens").orderBy("group")
    },
    // q241: weighted distinct-value CDF per source, lower weighted
    // median by the integer 2·cum ≥ W compare.
      s"""$qualityScoreSqlCtes,
         |wv AS (
         |  SELECT q.source AS "group", q.quality_score AS v,
         |    len(string_split(d.text, ' '))::BIGINT AS w
         |  FROM qs q JOIN documents d ON d.doc_id = q.doc_id
         |),
         |gv AS (SELECT "group", v, count(*)::BIGINT AS n,
         |         sum(w)::BIGINT AS gw
         |       FROM wv GROUP BY 1, 2),
         |cm AS (
         |  SELECT "group", v, n, gw,
         |    (sum(gw) OVER (PARTITION BY "group" ORDER BY v
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
         |      ::BIGINT AS cum,
         |    (sum(gw) OVER (PARTITION BY "group"))::BIGINT AS tot
         |  FROM gv
         |)
         |SELECT "group", sum(n)::BIGINT AS n_rows,
         |  max(tot)::BIGINT AS w_total,
         |  min(CASE WHEN 2 * cum >= tot THEN v END) AS median
         |FROM cm GROUP BY "group" ORDER BY "group"""".stripMargin),

    // Per-dimension embedding feature health: dead dims, scale
    // drift, stuck-at-zero — one wide-agg pass, d rows out.
    Query("q247_embedding_dim_stats", (s, dir) => {
      Quality.embeddingDimStats(t(s, dir, "embeddings"), "embedding")
        .orderBy("dim")
    },
    // q247: a dimension spine (data-driven length) indexes each
    // coordinate; identical integerized moment sums per dim.
      s"""WITH dm AS (
         |  SELECT unnest(range(1,
         |    (SELECT len(embedding) FROM embeddings LIMIT 1) + 1))
         |    AS dim
         |),
         |x AS (
         |  SELECT d.dim,
         |    CAST(floor(round(CAST(embedding[d.dim] AS DOUBLE), 9)
         |      * 1e9 + 0.5) AS BIGINT) AS x9
         |  FROM embeddings CROSS JOIN dm d
         |  WHERE embedding IS NOT NULL
         |    AND len(embedding) =
         |      (SELECT len(embedding) FROM embeddings LIMIT 1)
         |),
         |a AS (
         |  SELECT dim, count(*)::BIGINT AS n, sum(x9)::BIGINT AS s,
         |    sum(CAST(x9 AS HUGEINT) * x9) AS q,
         |    min(x9)::BIGINT AS lo, max(x9)::BIGINT AS hi,
         |    sum(CASE WHEN x9 = 0 THEN 1 ELSE 0 END)::BIGINT AS z
         |  FROM x GROUP BY dim
         |)
         |SELECT dim::INT AS dim, n,
         |  CASE WHEN n > 0 THEN ${Portable.sqlIntRatioSigned9("s",
              "CAST(n AS HUGEINT) * 1000000000")}
         |  END AS mean,
         |  CASE WHEN n > 0 THEN ${Portable.sqlRatio9(
              "sqrt(greatest(CAST(0 AS DOUBLE)," +
                " CAST(CAST(n AS HUGEINT) * q" +
                " - CAST(s AS HUGEINT) * s AS DOUBLE)))" +
                " / CAST(n AS DOUBLE) / 1e9")}
         |  END AS std,
         |  round(CAST(lo AS DOUBLE) / 1e9, 9) AS min,
         |  round(CAST(hi AS DOUBLE) / 1e9, 9) AS max,
         |  CASE WHEN n > 0 THEN ${Portable.sqlIntRatio9("z", "n")}
         |  END AS zero_frac
         |FROM a ORDER BY dim""".stripMargin),

    // L2-norm distribution audit: exact order-statistic quantiles
    // off the distinct-norm CDF — collapse / stray-giant detector.
    Query("q248_embedding_norms", (s, dir) => {
      Quality.embeddingNormProfile(t(s, dir, "embeddings"), "embedding")
    },
    // q248: per-vector exact Σx9², one sqrt chain to the 1e9 norm,
    // exact ⌈p·n⌉ order statistics off the distinct-norm CDF.
    {
      def qq(num: Int, name: String) =
        s"""round(CAST(min(CASE WHEN cum * 100 >= tt.n * $num
           |    THEN n9 END) AS DOUBLE) / 1e9, 9) AS $name""".stripMargin
      s"""WITH xs AS (
         |  SELECT vec_id,
         |    CAST(floor(round(CAST(unnest(embedding) AS DOUBLE), 9)
         |      * 1e9 + 0.5) AS BIGINT) AS y
         |  FROM embeddings WHERE embedding IS NOT NULL
         |),
         |rn AS (
         |  SELECT vec_id,
         |    CAST(floor(round(sqrt(CAST(sum(CAST(y AS HUGEINT) * y)
         |      AS DOUBLE)) / 1e9, 9) * 1e9 + 0.5) AS BIGINT) AS n9
         |  FROM xs GROUP BY vec_id
         |),
         |g AS (SELECT n9, count(*)::BIGINT AS c FROM rn GROUP BY n9),
         |cd AS (
         |  SELECT n9, c, (sum(c) OVER (ORDER BY n9 ROWS BETWEEN
         |    UNBOUNDED PRECEDING AND CURRENT ROW))::BIGINT AS cum
         |  FROM g
         |),
         |tt AS (
         |  SELECT sum(c)::BIGINT AS n,
         |    sum(CAST(n9 AS HUGEINT) * c) AS sn,
         |    sum(CASE WHEN n9 = 0 THEN c ELSE 0 END)::BIGINT AS n_zero
         |  FROM g
         |)
         |SELECT tt.n, tt.n_zero,
         |  CASE WHEN tt.n > 0 THEN ${Portable.sqlIntRatio9("tt.sn",
              "CAST(tt.n AS HUGEINT) * 1000000000")}
         |  END AS mean,
         |  ${qq(1, "p01")},
         |  ${qq(25, "p25")},
         |  ${qq(50, "p50")},
         |  ${qq(75, "p75")},
         |  ${qq(99, "p99")},
         |  round(CAST(min(n9) AS DOUBLE) / 1e9, 9) AS min,
         |  round(CAST(max(n9) AS DOUBLE) / 1e9, 9) AS max
         |FROM cd CROSS JOIN tt
         |GROUP BY tt.n, tt.sn, tt.n_zero""".stripMargin
    }),

    // Anisotropy: top principal direction of the coordinate
    // covariance by unrolled power iteration; the all-but-the-top
    // pre-flight for any cosine-based pipeline.
    Query("q252_anisotropy", (s, dir) => {
      Quality.embeddingAnisotropy(t(s, dir, "embeddings"), "embedding",
        EmbDims, PowerRounds).orderBy("dim")
    },
    // q252: the q180 Gramian chain to integerized covariance entries,
    // then the power-iteration rounds unrolled CTE-for-CTE with the
    // identical normalize / sign / Rayleigh chains.
    {
      def rnd(r: Int) =
        s"""w$r AS (SELECT cf.i, sum(CAST(c9 AS HUGEINT) * v) AS w
           |  FROM cf JOIN v${r - 1} USING (j) GROUP BY cf.i),
           |m$r AS (SELECT max(abs(w)) AS m FROM w$r),
           |v$r AS (SELECT i AS j,
           |  CAST(${Portable.sqlIntRatioScaledSigned("w", "m", 9)}
           |    AS BIGINT) AS v
           |  FROM w$r CROSS JOIN m$r)""".stripMargin
      s"""WITH ev AS (
         |  SELECT list_transform(embedding,
         |      x -> CAST(floor(CAST(x AS DOUBLE) * 1e6 + 0.5) AS BIGINT))
         |    AS xi
         |  FROM embeddings
         |  WHERE embedding IS NOT NULL AND len(embedding) = $EmbDims
         |),
         |n AS (SELECT count(*)::BIGINT AS n FROM ev),
         |d AS (SELECT unnest(range(1, ${EmbDims + 1}))::BIGINT AS i),
         |sums AS (
         |  SELECT i, sum(xi[i])::BIGINT AS s FROM ev, d GROUP BY i
         |),
         |prods AS (
         |  SELECT di.i AS i, dj.i AS j,
         |    sum(xi[di.i] * xi[dj.i])::BIGINT AS sp
         |  FROM ev, d di, d dj WHERE dj.i >= di.i GROUP BY 1, 2
         |),
         |tri AS (
         |  SELECT p.i, p.j,
         |    CAST(${Portable.sqlIntRatioScaledSigned(
              "CAST(n.n AS HUGEINT) * p.sp - CAST(si.s AS HUGEINT) * sj.s",
              "CAST(n.n AS HUGEINT) * n.n * 1000000000000", 9)}
         |      AS BIGINT) AS c9
         |  FROM prods p
         |  JOIN sums si ON si.i = p.i
         |  JOIN sums sj ON sj.i = p.j
         |  CROSS JOIN n
         |),
         |cf AS (SELECT i, j, c9 FROM tri
         |       UNION ALL
         |       SELECT j AS i, i AS j, c9 FROM tri WHERE i <> j),
         |v0 AS (SELECT i AS j, 1000000000::BIGINT AS v FROM d),
         |${(1 to PowerRounds).map(rnd).mkString(",\n")},
         |sg AS (SELECT CASE WHEN (SELECT v FROM v$PowerRounds
         |         ORDER BY abs(v) DESC, j ASC LIMIT 1) < 0
         |       THEN -1 ELSE 1 END AS s),
         |vs AS (SELECT j, (v * s)::BIGINT AS v
         |       FROM v$PowerRounds CROSS JOIN sg),
         |nm AS (SELECT sum(CAST(c9 AS HUGEINT) * vj.v * vi.v) AS num
         |       FROM cf JOIN vs vj ON vj.j = cf.j
         |       JOIN vs vi ON vi.j = cf.i),
         |dn AS (SELECT sum(CAST(v AS HUGEINT) * v) AS den FROM vs),
         |tr AS (SELECT sum(c9)::BIGINT AS tr9 FROM tri WHERE i = j)
         |SELECT j AS dim,
         |  round(CAST(v AS DOUBLE) / 1e9, 9) AS loading,
         |  CASE WHEN den > 0 THEN ${Portable.sqlIntRatioSigned9("num",
              "CAST(den AS HUGEINT) * 1000000000")}
         |  END AS eigenvalue,
         |  CASE WHEN den > 0 AND tr9 > 0 THEN ${Portable.sqlIntRatioSigned9(
              "num", "CAST(den AS HUGEINT) * tr9")}
         |  END AS explained_share
         |FROM vs CROSS JOIN nm CROSS JOIN dn CROSS JOIN tr
         |ORDER BY dim""".stripMargin
    }),

    // Join-fanout pre-flight on the q14 co-purchase self-join: the
    // exact output cardinality and the hottest part key, priced from
    // two count aggs before any wide join runs.
    Query("q253_join_fanout", (s, dir) => {
      val li = t(s, dir, "lineitem")
      Quality.joinFanout(li, "l_partkey", li, "l_partkey")
    },
    // q253: the same two compact key frames; the hottest key by
    // (pairs DESC, key ASC).
      """WITH ca AS (
        |  SELECT CAST(l_partkey AS VARCHAR) AS k, count(*)::BIGINT AS ca
        |  FROM lineitem GROUP BY 1
        |),
        |cb AS (
        |  SELECT CAST(l_partkey AS VARCHAR) AS k, count(*)::BIGINT AS cb
        |  FROM lineitem GROUP BY 1
        |),
        |j AS (
        |  SELECT ca.k, CAST(ca AS HUGEINT) * cb AS p
        |  FROM ca JOIN cb USING (k)
        |),
        |tp AS (SELECT
        |         (SELECT p FROM j ORDER BY p DESC, k LIMIT 1)
        |           AS max_key_pairs,
        |         (SELECT k FROM j ORDER BY p DESC, k LIMIT 1)
        |           AS top_key),
        |sa AS (SELECT count(*)::BIGINT AS n_keys_a,
        |         sum(ca)::BIGINT AS rows_a FROM ca),
        |sb AS (SELECT count(*)::BIGINT AS n_keys_b,
        |         sum(cb)::BIGINT AS rows_b FROM cb),
        |sj AS (SELECT count(*)::BIGINT AS n_common,
        |         sum(p) AS est_pairs FROM j)
        |SELECT n_keys_a, n_keys_b, n_common, rows_a, rows_b,
        |  CAST(est_pairs AS BIGINT) AS est_pairs,
        |  CAST(max_key_pairs AS BIGINT) AS max_key_pairs, top_key
        |FROM sj CROSS JOIN sa CROSS JOIN sb CROSS JOIN tp""".stripMargin),

    // Incremental data card: state built on the even half, the odd
    // half MERGED in, rendered — hashed against a full-corpus rebuild
    // oracle, so merge-equals-rebuild runs under the driver's gate.
    Query("q249_data_card_merge", (s, dir) => {
      val docs = t(s, dir, "documents")
      val st = Quality.corpusReportState(
        docs.filter(col("doc_id") % 2 === 0), "source", "lang", "text")
      Quality.corpusReportFinish(Quality.corpusReportMerge(st,
          docs.filter(col("doc_id") % 2 === 1), "source", "lang", "text"))
        .orderBy("source", "lang")
    },
    // q249: the FULL-corpus rebuild of the exact-integer card — the
    // engine's state-merge path must hash to this, which is the
    // merge-equals-rebuild law under the driver's gate.
      s"""$qualityScoreSqlCtes,
         |st AS (
         |  SELECT q.source AS source, q.lang AS lang,
         |    count(*)::BIGINT AS n_docs,
         |    sum(len(string_split(d.text, ' ')))::BIGINT AS n_tokens,
         |    sum(CAST(CAST(floor(round(quality_score, 9) * 1e9 + 0.5)
         |      AS BIGINT) AS HUGEINT)) AS sum_q9,
         |    min(CAST(floor(round(quality_score, 9) * 1e9 + 0.5)
         |      AS BIGINT))::BIGINT AS min_q9,
         |    max(CAST(floor(round(quality_score, 9) * 1e9 + 0.5)
         |      AS BIGINT))::BIGINT AS max_q9
         |  FROM qs q JOIN documents d ON d.doc_id = q.doc_id
         |  GROUP BY q.source, q.lang
         |)
         |SELECT source, lang, n_docs, n_tokens,
         |  CASE WHEN n_docs > 0 THEN ${Portable.sqlIntRatio9(
              "n_tokens", "n_docs")}
         |  END AS mean_tokens,
         |  CASE WHEN n_docs > 0 THEN ${Portable.sqlIntRatio9("sum_q9",
              "CAST(n_docs AS HUGEINT) * 1000000000")}
         |  END AS mean_quality,
         |  round(CAST(min_q9 AS DOUBLE) / 1e9, 9) AS min_quality,
         |  round(CAST(max_q9 AS DOUBLE) / 1e9, 9) AS max_quality
         |FROM st ORDER BY source, lang""".stripMargin),

    // Key-skew audit over the pair-gen hot key (the "should I salt
    // this join" pre-flight the q14 salted variant answers).
    Query("q141_key_skew", (s, dir) => {
      Quality.keySkew(t(s, dir, "lineitem"), "l_partkey")
    },
    // q141: exact count moments; entropy from the integerized-ln sum
    // (H = ln N − Σ c·x_c / (N·1e6)), identical shape both engines.
      s"""WITH kc AS (
        |  SELECT l_partkey AS k, count(*)::BIGINT AS c
        |  FROM lineitem GROUP BY l_partkey
        |),
        |kt AS (
        |  SELECT sum(c)::BIGINT AS top10_rows
        |  FROM (SELECT c FROM kc ORDER BY c DESC, k ASC LIMIT 10) _
        |),
        |km AS (
        |  SELECT count(*)::BIGINT AS n_keys, sum(c)::BIGINT AS n_rows,
        |    max(c)::BIGINT AS max_key_rows,
        |    CAST(sum(CAST(c AS DECIMAL(38,0)) *
        |      CAST(floor(ln(c) * 1e6 + 0.5) AS DECIMAL(38,0)))
        |      AS DECIMAL(38,0)) AS sclnc
        |  FROM kc
        |)
        |SELECT km.n_rows, km.n_keys, km.max_key_rows,
        |  ${Portable.sqlIntRatio9("km.max_key_rows", "km.n_rows")}
        |    AS max_key_share,
        |  kt.top10_rows,
        |  ${Portable.sqlIntRatio9("kt.top10_rows", "km.n_rows")}
        |    AS top10_share,
        |  ${Portable.sqlRatio9("ln(km.n_rows::DOUBLE)" +
            " - CAST(km.sclnc AS DOUBLE) / (km.n_rows::DOUBLE * 1e6)")}
        |    AS entropy
        |FROM km CROSS JOIN kt""".stripMargin),

    // Pairwise Pearson correlation of four curation signals, exact
    // decimal moments (do the stacked filters measure different
    // things?).
    Query("q139_signal_corr", (s, dir) => {
      val docs = t(s, dir, "documents")
      def i9(c: org.apache.spark.sql.Column) =
        floor(c * lit(1e9) + lit(0.5)).cast("long")
      val sig = Text.qualityScore(docs, "text")
        .select(col("doc_id"), col("n_tokens").as("len"),
          i9(col("quality_score")).as("quality"))
        .join(Text.repetitionStats(docs, "text", RepetitionN)
          .select(col("doc_id"), i9(col("dup_ngram_ratio")).as("rep")),
          Seq("doc_id"))
        .join(Text.unigramLogProb(docs, "text")
          .select(col("doc_id"), i9(col("unigram_nll")).as("nll")),
          Seq("doc_id"))
      Quality.signalCorrelation(sig, Seq("quality", "rep", "nll", "len"))
        .orderBy("sig_a", "sig_b")
    },
      q139OracleSql),

    // Independent-gate overlap matrix: every (lang, length,
    // top-token-concentration) pass/fail combination with counts —
    // the ablation view the sequential funnel can't produce.
    Query("q132_gate_overlap", (s, dir) => {
      val docs = t(s, dir, "documents")
      val conc = docs
        .select(col("doc_id"), explode(Text.tokens(col("text"))).as("w"))
        .groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("c"))
        .groupBy(col("doc_id"))
        .agg((max(col("c")).cast("double") / sum(col("c"))).as("topfrac"))
      Quality.gateOverlap(docs.join(conc, Seq("doc_id")), Seq(
          "lang_ok" -> (col("lang") === "en"),
          "len_ok" -> size(Text.tokens(col("text"))).between(10, 1000),
          "conc_ok" -> (col("topfrac") <= ConcMax)))
        .orderBy("lang_ok", "len_ok", "conc_ok")
    },
    // q132: gates evaluated independently; the flag tuple is the key.
      s"""WITH gc AS (
         |  SELECT doc_id, max(c)::DOUBLE / sum(c) AS topfrac
         |  FROM (SELECT doc_id, w, count(*)::BIGINT AS c
         |        FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w
         |              FROM documents) _
         |        GROUP BY doc_id, w) _
         |  GROUP BY doc_id
         |),
         |fl AS (
         |  SELECT (d.lang = 'en') AS lang_ok,
         |    (len(string_split(d.text, ' ')) BETWEEN 10 AND 1000) AS len_ok,
         |    (gc.topfrac <= $ConcMax) AS conc_ok
         |  FROM documents d JOIN gc USING (doc_id)
         |)
         |SELECT lang_ok, len_ok, conc_ok, count(*)::BIGINT AS n_docs,
         |  (CASE WHEN lang_ok THEN 0 ELSE 1 END
         |   + CASE WHEN len_ok THEN 0 ELSE 1 END
         |   + CASE WHEN conc_ok THEN 0 ELSE 1 END)::BIGINT AS n_gates_failed
         |FROM fl GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin),

    // Count–min sketch heavy-hitter audit: every token with true
    // frequency >= CmsMinCount, exact count vs sketch estimate —
    // the one-sided (est >= exact) commissioning report for the
    // bounded-state frequency path.
    Query("q121_cms_audit", (s, dir) => {
      Sketch.heavyHitterAudit(t(s, dir, "documents"), "text",
        CmsDepth, CmsWidth, CmsMinCount, CmsSalt)
        .orderBy("token")
    },
    // q121: the identical CMS table (portable keyed hash per (salt, r,
    // token)), exact counts as the candidate set, min-over-rows
    // estimates.
      s"""WITH tok AS (
         |  SELECT unnest(string_split(text, ' ')) AS w FROM documents
         |),
         |rs AS (SELECT unnest(range(0, $CmsDepth)) AS r),
         |sk AS (
         |  SELECT r, ${Portable.sqlHash(s"'$CmsSalt'", "r", "w")}
         |           % $CmsWidth AS c,
         |         count(*)::BIGINT AS cnt
         |  FROM tok CROSS JOIN rs GROUP BY 1, 2
         |),
         |exact AS (
         |  SELECT w AS token, count(*)::BIGINT AS exact FROM tok
         |  GROUP BY w HAVING count(*) >= $CmsMinCount
         |),
         |cells AS (
         |  SELECT e.token, rs.r,
         |    ${Portable.sqlHash(s"'$CmsSalt'", "rs.r", "e.token")}
         |      % $CmsWidth AS c
         |  FROM exact e CROSS JOIN rs
         |),
         |est AS (
         |  SELECT token, min(coalesce(sk.cnt, 0))::BIGINT AS est
         |  FROM cells LEFT JOIN sk ON cells.r = sk.r AND cells.c = sk.c
         |  GROUP BY token
         |)
         |SELECT token, exact, est, est - exact AS overestimate
         |FROM exact JOIN est USING (token)
         |ORDER BY token""".stripMargin),

    // Corpus fingerprint: order/partitioning-invariant one-row identity
    // stamp (XOR-fold of portable per-row hashes) — "trained on the
    // same data" made checkable.
    Query("q115_corpus_fingerprint", (s, dir) => {
      Quality.corpusFingerprint(t(s, dir, "documents"), "doc_id", "text")
    },
    // q115: the same per-row 60-bit hash XOR-folded; XOR keeps the
    // value in [0, 2^60) so both engines' BIGINTs agree bit-for-bit.
      s"""SELECT count(*) AS n_docs,
         |  CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens,
         |  bit_xor(${Portable.sqlHash("doc_id", "text")}) AS corpus_hash
         |FROM documents""".stripMargin),

    // Corpus version diff: the detailed twin of q115's stamp — one row
    // per status (added/removed/changed/unchanged) between two corpus
    // snapshots, with doc counts and token mass per side. The "new"
    // snapshot is derived deterministically from the fixture (every
    // 7th doc removed, every 5th survivor's text refreshed, every 11th
    // doc re-added under a shifted id), so both engines diff the SAME
    // two corpora and the full-outer-join classify is oracle-checked
    // across all four statuses.
    Query("q149_corpus_diff", (s, dir) => {
      val docs = t(s, dir, "documents")
      val refreshed = docs.filter(col("doc_id") % 7 =!= 0)
        .select(col("doc_id"),
          when(col("doc_id") % 5 === 0,
            concat(col("text"), lit(" refreshed")))
            .otherwise(col("text")).as("text"))
      val added = docs.filter(col("doc_id") % 11 === 0)
        .select((col("doc_id") + lit(DiffAddIdOffset)).as("doc_id"),
          col("text"))
      Quality.corpusDiff(docs, refreshed.unionByName(added),
          "doc_id", "text")
        .orderBy("status")
    },
    // q149: the same synthetic second snapshot (7-removal / 5-refresh /
    // 11-readd), classified by DIRECT text equality — md5 equality in
    // the engine is text equality here, so the oracle needs no hashing;
    // token masses are the shared whitespace tokenization.
      s"""WITH newd AS (
         |  SELECT doc_id,
         |    CASE WHEN doc_id % 5 = 0 THEN text || ' refreshed'
         |         ELSE text END AS text
         |  FROM documents WHERE doc_id % 7 <> 0
         |  UNION ALL
         |  SELECT doc_id + $DiffAddIdOffset, text
         |  FROM documents WHERE doc_id % 11 = 0
         |),
         |j AS (
         |  SELECT CASE WHEN o.doc_id IS NULL THEN 'added'
         |              WHEN n.doc_id IS NULL THEN 'removed'
         |              WHEN o.text = n.text THEN 'unchanged'
         |              ELSE 'changed' END AS status,
         |    len(string_split(o.text, ' '))::BIGINT AS t_old,
         |    len(string_split(n.text, ' '))::BIGINT AS t_new
         |  FROM documents o FULL OUTER JOIN newd n ON o.doc_id = n.doc_id
         |)
         |SELECT status, count(*) AS n_docs,
         |  coalesce(sum(t_old), 0)::BIGINT AS n_tokens_old,
         |  coalesce(sum(t_new), 0)::BIGINT AS n_tokens_new,
         |  (coalesce(sum(t_new), 0) - coalesce(sum(t_old), 0))::BIGINT
         |    AS token_delta
         |FROM j GROUP BY status ORDER BY status""".stripMargin),

    // Embedding-table data-quality audit: one-pass single-row profile
    // (id uniqueness, dim consistency, NULL/NaN/zero vectors) — the
    // ingest gate a similarity index runs before building.
    Query("q113_embedding_checks", (s, dir) => {
      Quality.embeddingChecks(t(s, dir, "embeddings"), "vec_id",
        "embedding")
    },
    // q113: the same per-vector flags via list ops; empty vectors count
    // as zero-vectors on both sides (coalesce matches Spark's 0.0 fold
    // identity over an empty array).
      """SELECT count(*) AS n_rows,
        |  count(DISTINCT vec_id) AS n_distinct_ids,
        |  CAST(sum(CASE WHEN embedding IS NULL THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_null_vec,
        |  count(DISTINCT CASE WHEN embedding IS NOT NULL
        |    THEN len(embedding) END) AS n_dims_distinct,
        |  CAST(min(CASE WHEN embedding IS NOT NULL
        |    THEN len(embedding) END) AS BIGINT) AS dim_min,
        |  CAST(max(CASE WHEN embedding IS NOT NULL
        |    THEN len(embedding) END) AS BIGINT) AS dim_max,
        |  CAST(sum(CASE WHEN len(list_filter(embedding,
        |      x -> isnan(x::DOUBLE))) > 0 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_nan_vec,
        |  CAST(sum(CASE WHEN coalesce(list_sum(list_transform(embedding,
        |      x -> abs(x::DOUBLE))), 0) = 0 AND embedding IS NOT NULL
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_zero_vec
        |FROM embeddings""".stripMargin),

    // Corpus data card: per-(source, lang) doc/token/quality rollup.
    Query("q75_corpus_report", (s, dir) => {
      Quality.corpusReport(t(s, dir, "documents"), "source", "lang", "text")
        .orderBy("source", "lang")
    },
    // q75: the q25 per-doc score CTE rolled up per (source, lang) —
    // means taken over the 9-dp-rounded per-doc scores on both sides.
      corpusReportOracleSql),

    // Per-language HLL cardinality audit: portable registers (keyed
    // hash, integer-only rho), exact-BIGINT harmonic denominator, raw
    // estimate next to the exact distinct and its error — the
    // commissioning report for the constant-state distinct-count path.
    Query("q163_hll_audit", (s, dir) => {
      Sketch.hllAudit(t(s, dir, "documents"), "text", "lang",
          HllBits, HllSalt)
        .withColumnRenamed("key", "lang")
        .orderBy("lang")
    },
    // q163: same registers from the same keyed hash; rho in pure
    // integer ops (bit_count of the trailing-zero mask); harmonic
    // denominator as one exact BIGINT; the estimate is a fixed IEEE
    // op sequence on exact inputs — bit-identical across engines.
      s"""WITH tok AS (
         |  SELECT lang, unnest(string_split(text, ' ')) AS w FROM documents
         |),
         |hh AS (
         |  SELECT lang, ${Portable.sqlHash(s"'$HllSalt'", "w")} AS h FROM tok
         |),
         |rr AS (
         |  SELECT lang, h % ${1L << HllBits} AS bucket,
         |         (h >> $HllBits) AS wb
         |  FROM hh
         |),
         |regs AS (
         |  SELECT lang, bucket,
         |    max(CASE WHEN wb = 0 THEN ${61 - HllBits}
         |             ELSE bit_count((wb & -wb) - 1) + 1 END)::BIGINT AS mr
         |  FROM rr GROUP BY 1, 2
         |),
         |pk AS (
         |  SELECT lang, count(*)::BIGINT AS n_registers_used,
         |    sum((1::BIGINT << (${61 - HllBits} - mr)))::BIGINT AS zu
         |  FROM regs GROUP BY lang
         |),
         |ex AS (
         |  SELECT lang, count(DISTINCT w)::BIGINT AS exact_distinct
         |  FROM tok GROUP BY lang
         |),
         |fin AS (
         |  SELECT pk.lang, n_registers_used,
         |    round(CAST(CAST(floor(round((CAST(709 AS DOUBLE) / CAST(1000 AS DOUBLE)) *
         |      (CAST(${(1L << HllBits) * (1L << HllBits)} AS DOUBLE) *
         |        CAST(${1L << (61 - HllBits)} AS DOUBLE)) /
         |      CAST(zu + (${1L << HllBits} - n_registers_used) *
         |        (1::BIGINT << ${61 - HllBits}) AS DOUBLE), 6) * 1e6 + 0.5) AS BIGINT) AS DOUBLE) / 1e6, 6) AS hll_est,
         |    exact_distinct
         |  FROM pk JOIN ex USING (lang)
         |)
         |SELECT lang, n_registers_used, hll_est, exact_distinct,
         |  (CAST(${Portable.sqlIntRatioScaledSigned(
             "(CAST(floor(hll_est * 1e6 + 0.5) AS HUGEINT)" +
               " - CAST(exact_distinct AS HUGEINT) * 1000000) * 100",
             "CAST(exact_distinct AS HUGEINT) * 1000000", 6)}
         |    AS DOUBLE) / 1e6)
         |    AS rel_err_pct
         |FROM fin ORDER BY lang""".stripMargin),

    // Exact embedding covariance (upper triangle, long form): the
    // Gramian one-pass over integerized coordinates — whitening/PCA
    // input and the anisotropy audit, bit-reproducible by exact LONG
    // accumulation.
    Query("q180_embed_cov", (s, dir) => {
      Quality.embeddingCovariance(t(s, dir, "embeddings"), "embedding",
          EmbDims)
        .orderBy("i", "j")
    },
    // q180: the same integerized coordinates summed relationally —
    // per-pair products in exact BIGINT, the covariance numerator in
    // HUGEINT, ONE cast to double.
      s"""WITH ev AS (
         |  SELECT list_transform(embedding,
         |      x -> CAST(floor(CAST(x AS DOUBLE) * 1e6 + 0.5) AS BIGINT))
         |    AS xi
         |  FROM embeddings
         |  WHERE embedding IS NOT NULL AND len(embedding) = $EmbDims
         |),
         |n AS (SELECT count(*)::BIGINT AS n FROM ev),
         |d AS (SELECT unnest(range(1, ${EmbDims + 1}))::BIGINT AS i),
         |sums AS (
         |  SELECT i, sum(xi[i])::BIGINT AS s FROM ev, d GROUP BY i
         |),
         |prods AS (
         |  SELECT di.i AS i, dj.i AS j,
         |    sum(xi[di.i] * xi[dj.i])::BIGINT AS sp
         |  FROM ev, d di, d dj WHERE dj.i >= di.i GROUP BY 1, 2
         |)
         |SELECT p.i, p.j, n.n, si.s AS sum_i, sj.s AS sum_j,
         |  p.sp AS sumprod,
         |  ${Portable.sqlIntRatioSigned9(
             "CAST(n.n AS HUGEINT) * p.sp - CAST(si.s AS HUGEINT) * sj.s",
             "CAST(n.n AS HUGEINT) * n.n * 1000000000000")} AS cov
         |FROM prods p
         |JOIN sums si ON si.i = p.i
         |JOIN sums sj ON sj.i = p.j
         |CROSS JOIN n
         |ORDER BY p.i, p.j""".stripMargin),

    // Per-dimension embedding mean drift between the two id-split
    // corpora — exact LONG sums, one double chain per mean, the
    // first-order re-embedding monitor.
    Query("q190_embed_drift", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      Quality.embeddingDrift(emb.filter(col("vec_id") < DriftSplitId),
          emb.filter(col("vec_id") >= DriftSplitId), "embedding", EmbDims)
        .orderBy("d")
    },
    // q190: the same integerized per-dim sums per side; means and the
    // delta are the identical double chains.
    {
      def side(as: String, cond: String): String =
        s"""e$as AS (
           |  SELECT list_transform(embedding,
           |      x -> CAST(floor(CAST(x AS DOUBLE) * 1e6 + 0.5) AS BIGINT))
           |    AS xi
           |  FROM embeddings
           |  WHERE $cond AND embedding IS NOT NULL
           |    AND len(embedding) = $EmbDims
           |),
           |n$as AS (SELECT count(*)::BIGINT AS n FROM e$as),
           |s$as AS (
           |  SELECT dd.d, sum(xi[dd.d])::BIGINT AS s
           |  FROM e$as, dd GROUP BY 1
           |)""".stripMargin
      s"""WITH dd AS (SELECT unnest(range(1, ${EmbDims + 1}))::BIGINT AS d),
         |${side("a", s"vec_id < $DriftSplitId")},
         |${side("b", s"vec_id >= $DriftSplitId")}
         |SELECT dd.d, na.n AS n_a, nb.n AS n_b,
         |  ${Portable.sqlIntRatioSigned9("sa.s",
             "CAST(na.n AS HUGEINT) * 1000000")} AS mean_a,
         |  ${Portable.sqlIntRatioSigned9("sb.s",
             "CAST(nb.n AS HUGEINT) * 1000000")} AS mean_b,
         |  ${Portable.sqlIntRatioSigned9(
             "CAST(sb.s AS HUGEINT) * na.n - CAST(sa.s AS HUGEINT) * nb.n",
             "CAST(na.n AS HUGEINT) * nb.n * 1000000")} AS delta
         |FROM dd JOIN sa ON sa.d = dd.d JOIN sb ON sb.d = dd.d
         |CROSS JOIN na CROSS JOIN nb
         |ORDER BY dd.d""".stripMargin
    }),

    // Join-size pre-flight: the exact self-join cardinality on
    // l_orderkey (= the pair-expansion cost) next to the CMS
    // inner-product estimate — est >= exact by construction, the
    // ratio prices the sketch width.
    Query("q194_join_size", (s, dir) => {
      val li = t(s, dir, "lineitem")
      // both sides of the self-join estimate read the SAME sketch —
      // materialize the d×w table once instead of running the
      // corpus-sized explode+count build per side (guide §1.2)
      val cms = graft.ops.Barrier.cut(
        Sketch.cmsTableKeyed(li, "l_orderkey", CmsJoinDepth,
          CmsJoinWidth, CmsJoinSalt))
      Sketch.joinSizeExact(li, li, "l_orderkey")
        .crossJoin(Sketch.joinSizeEstimate(cms, cms))
        .select(col("n_left"), col("n_right"), col("join_size"),
          col("est_size"),
          (col("est_size") - col("join_size")).as("overestimate"),
          Portable.intRatio9(col("est_size"), col("join_size"))
            .as("ratio"))
    },
    // q194: the same keyed CMS cells; exact = sum of per-key count
    // squares, estimate = min-over-rows inner product.
      s"""WITH ck AS (
         |  SELECT l_orderkey AS k, count(*)::BIGINT AS cnt
         |  FROM lineitem WHERE l_orderkey IS NOT NULL GROUP BY 1
         |),
         |ex AS (SELECT sum(cnt * cnt)::BIGINT AS join_size FROM ck),
         |nn AS (SELECT count(l_orderkey)::BIGINT AS n FROM lineitem),
         |cm AS (
         |  SELECT rr.r,
         |    ${Portable.sqlHash(s"'$CmsJoinSalt'", "rr.r", "l_orderkey")}
         |      % $CmsJoinWidth AS c,
         |    count(*)::BIGINT AS cnt
         |  FROM lineitem,
         |    (SELECT unnest(range(0, $CmsJoinDepth)) AS r) rr
         |  WHERE l_orderkey IS NOT NULL GROUP BY 1, 2
         |),
         |ip AS (SELECT r, sum(cnt * cnt)::BIGINT AS ip FROM cm GROUP BY r),
         |est AS (SELECT min(ip)::BIGINT AS est_size FROM ip)
         |SELECT nn.n AS n_left, nn.n AS n_right, ex.join_size,
         |  est.est_size,
         |  (est.est_size - ex.join_size)::BIGINT AS overestimate,
         |  ${Portable.sqlIntRatio9("est.est_size", "ex.join_size")}
         |    AS ratio
         |FROM ex CROSS JOIN est CROSS JOIN nn""".stripMargin),

    // k-anonymity / l-diversity release gate on the customer table:
    // QI = (nation, balance-thousand bucket), sensitive = segment —
    // exact group sizes and distinct-sensitive minima in one pass.
    Query("q204_k_anonymity", (s, dir) => {
      val c = t(s, dir, "customer")
        .withColumn("bal_bucket",
          floor(col("c_acctbal") / lit(1000.0)).cast("long"))
      Quality.kAnonymity(c, Seq("c_nationkey", "bal_bucket"),
        "c_mktsegment", KAnonK)
    },
    // q204: one QI agg, one rollup — counts exact, one division.
      s"""WITH c AS (
         |  SELECT c_nationkey,
         |    CAST(floor(c_acctbal / 1e3) AS BIGINT) AS bal_bucket,
         |    c_mktsegment
         |  FROM customer
         |),
         |g AS (
         |  SELECT c_nationkey, bal_bucket, count(*)::BIGINT AS sz,
         |    count(DISTINCT c_mktsegment)::BIGINT AS l
         |  FROM c GROUP BY 1, 2
         |)
         |SELECT sum(sz)::BIGINT AS n_rows, count(*)::BIGINT AS n_groups,
         |  min(sz)::BIGINT AS min_group_size,
         |  sum(CASE WHEN sz < $KAnonK THEN 1 ELSE 0 END)::BIGINT
         |    AS n_viol_groups,
         |  sum(CASE WHEN sz < $KAnonK THEN sz ELSE 0 END)::BIGINT
         |    AS n_viol_rows,
         |  ${Portable.sqlIntRatio9(
             s"sum(CASE WHEN sz < $KAnonK THEN sz ELSE 0 END)",
             "sum(sz)")} AS viol_share,
         |  min(l)::BIGINT AS min_l
         |FROM g""".stripMargin),

    // Isotonic (PAV) calibration of the quality score against the
    // lang=en label — the q199 ranker turned into a monotone
    // probability table, via the minimax closed form (no driver loop).
    Query("q207_isotonic_calibration", (s, dir) => {
      val qs = Text.qualityScore(t(s, dir, "documents"), "text",
          Seq("lang"))
        .select(col("lang"), col("quality_score"))
      Quality.isotonicCalibration(qs, "quality_score",
          col("lang") === "en", IsoBins)
        .orderBy("bucket")
    },
    // q207: the identical bucket agg, cumulative frame, integerized
    // pooled-rate grid and min/max lattice — buckets are distinct so
    // the default RANGE window frame equals Spark's ROWS frame.
      s"""$qualityScoreSqlCtes,
         |bk AS (
         |  SELECT least(floor(quality_score * $IsoBins), ${IsoBins - 1})
         |      ::BIGINT AS bucket,
         |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
         |  FROM qs
         |),
         |b AS (
         |  SELECT bucket, count(*)::BIGINT AS n, sum(y)::BIGINT AS pos
         |  FROM bk GROUP BY 1
         |),
         |c AS (
         |  SELECT bucket, n, pos,
         |    sum(n) OVER (ORDER BY bucket) AS cn,
         |    sum(pos) OVER (ORDER BY bucket) AS cp
         |  FROM b
         |),
         |grid AS (
         |  SELECT i.bucket AS bi, j.bucket AS bj,
         |    ${Portable.sqlIntRatioScaled("j.cp - (i.cp - i.pos)",
              "j.cn - (i.cn - i.n)", 9)} AS r9
         |  FROM c i JOIN c j ON i.bucket <= j.bucket
         |),
         |mn AS (
         |  SELECT bb.bucket AS bkt, g.bi, min(g.r9) AS m
         |  FROM grid g JOIN b bb
         |    ON g.bi <= bb.bucket AND g.bj >= bb.bucket
         |  GROUP BY 1, 2
         |),
         |f AS (SELECT bkt, max(m) AS f9 FROM mn GROUP BY 1)
         |SELECT b.bucket, b.n, b.pos,
         |  ${Portable.sqlIntRatio9("b.pos", "b.n")} AS raw_rate,
         |  round(CAST(CAST(floor(round(CAST(f.f9 AS DOUBLE) / 1e9, 9) * 1e9 + 0.5) AS BIGINT) AS DOUBLE) / 1e9, 9) AS fitted
         |FROM b JOIN f ON b.bucket = f.bkt ORDER BY b.bucket""".stripMargin),

    // Threshold sweep: every distinct quality score as an operating
    // point with exact confusion counts; the F1-argmax row flagged
    // (tie → highest threshold) — how the score becomes a gate.
    Query("q218_threshold_sweep", (s, dir) => {
      val qs = Text.qualityScore(t(s, dir, "documents"), "text",
          Seq("lang"))
        .select(col("lang"), col("quality_score"))
      Quality.thresholdSweep(qs, "quality_score", col("lang") === "en")
        .orderBy("threshold")
    },
    // q218: distinct-score CDF, descending cumulative windows, F1 as
    // one EXACT integral division at 1e9 (no double round() anywhere —
    // round(<raw double quotient>, 9) is driver-version-sensitive, the
    // r9/r10 hash-fail class); best row via ORDER BY (f19, s9) DESC
    // LIMIT 1, s9 recovered from the already-9dp-integerized score by
    // one exact IEEE multiply + floor. q256 is the STREAM-fed twin:
    // the Complete-mode count state re-derives this exact table, so
    // the final micro-batch hashes against the SAME oracle.
      thresholdSweepOracleSql),

    // Cumulative gains / lift at decile cuts from exact order
    // statistics — "gate the top k/10 of the corpus by score, how
    // much of the target class is captured".
    Query("q219_gains_table", (s, dir) => {
      val qs = Text.qualityScore(t(s, dir, "documents"), "text",
          Seq("lang"))
        .select(col("lang"), col("quality_score"))
      Quality.gainsTable(qs, "quality_score", col("lang") === "en", 10)
        .orderBy("tile")
    },
    // q219: the descending CDF again; cut k = first distinct score
    // whose cumulative count reaches ⌈kN/tiles⌉ (integer ceil-div).
      s"""$qualityScoreSqlCtes,
         |g AS (
         |  SELECT quality_score AS v, count(*)::BIGINT AS n,
         |    sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END)::BIGINT AS p
         |  FROM qs GROUP BY 1
         |),
         |cdf AS (
         |  SELECT v, sum(n) OVER w AS cum_n, sum(p) OVER w AS cum_p
         |  FROM g
         |  WINDOW w AS (ORDER BY v DESC ROWS BETWEEN
         |    UNBOUNDED PRECEDING AND CURRENT ROW)
         |),
         |tot AS (SELECT max(cum_n)::BIGINT AS nn,
         |        max(cum_p)::BIGINT AS pp FROM cdf),
         |sp AS (SELECT nn, pp, unnest(range(1, 11)) AS tile FROM tot),
         |sel AS (
         |  SELECT sp.tile, sp.nn, sp.pp, min(cdf.cum_n) AS n
         |  FROM sp JOIN cdf
         |    ON cdf.cum_n >= (sp.tile * sp.nn + 9) // 10
         |  GROUP BY 1, 2, 3
         |)
         |SELECT sel.tile, cdf.v AS threshold, cdf.cum_n::BIGINT AS n,
         |  cdf.cum_p::BIGINT AS pos,
         |  CASE WHEN sel.pp > 0 THEN
         |    ${Portable.sqlIntRatio9("cdf.cum_p", "sel.pp")} END AS gain,
         |  CASE WHEN sel.pp > 0 THEN
         |    ${Portable.sqlIntRatio9(
                "CAST(cdf.cum_p AS HUGEINT) * sel.nn",
                "CAST(cdf.cum_n AS HUGEINT) * sel.pp")} END AS lift
         |FROM sel JOIN cdf ON cdf.cum_n = sel.n
         |ORDER BY sel.tile""".stripMargin),

    // Per-source ROC-AUC leaderboard: within-group tie-adjusted AUC —
    // which slices the quality score actually ranks well on (q199 is
    // the global number; this is its fairness/robustness breakdown).
    Query("q220_auc_by_source", (s, dir) => {
      val qs = Text.qualityScore(t(s, dir, "documents"), "text",
          Seq("source", "lang"))
        .select(col("source"), col("lang"), col("quality_score"))
      Quality.aucByGroup(qs, "source", col("lang") === "en",
          "quality_score")
        .orderBy("source")
    },
    // q220: the q199 midrank identity per source partition — 2×R1 as
    // exact integers over each group's own distinct-score CDF.
      s"""$qualityScoreSqlCtes,
         |g AS (
         |  SELECT source, quality_score AS v,
         |    sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END)::BIGINT AS ca,
         |    sum(CASE WHEN lang = 'en' THEN 0 ELSE 1 END)::BIGINT AS cb
         |  FROM qs GROUP BY 1, 2
         |),
         |c AS (
         |  SELECT source, ca, cb, ca + cb AS cnt,
         |    coalesce(sum(ca + cb) OVER (PARTITION BY source ORDER BY v
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |      AS cum_before
         |  FROM g
         |),
         |a AS (
         |  SELECT source, sum(ca)::BIGINT AS n_pos,
         |    sum(cb)::BIGINT AS n_neg,
         |    sum(ca * (2 * cum_before + cnt + 1))::BIGINT AS r2
         |  FROM c GROUP BY 1
         |)
         |SELECT source, n_pos, n_neg,
         |  (r2 - n_pos * (n_pos + 1))::BIGINT AS u2_pos,
         |  CASE WHEN n_pos > 0 AND n_neg > 0 THEN
         |    ${Portable.sqlIntRatio9("r2 - n_pos * (n_pos + 1)",
             "2 * CAST(n_pos AS HUGEINT) * n_neg")} END AS auc
         |FROM a ORDER BY source""".stripMargin),

    // Reliability diagram of the quality score vs the lang=en label —
    // the per-bucket calibration table (mean forecast vs observed
    // rate vs bucket Brier) q207's PAV fit repairs.
    Query("q212_reliability_diagram", (s, dir) => {
      val qs = Text.qualityScore(t(s, dir, "documents"), "text",
          Seq("lang"))
        .select(col("lang"), col("quality_score"))
      Quality.reliabilityDiagram(qs, "quality_score",
          col("lang") === "en", IsoBins)
        .orderBy("bin")
    },
    // q212: the shared calibration-bucket CTE (exact DECIMAL sums of
    // s9 and squared error), three pinned double chains.
      s"""$calibBinsSqlCte
         |SELECT bin, n, pos,
         |  ${Portable.sqlIntRatio9("ss",
             "CAST(n AS HUGEINT) * 1000000000")} AS mean_score,
         |  ${Portable.sqlIntRatio9("pos", "n")} AS frac_pos,
         |  ${Portable.sqlIntRatio9("se",
             "CAST(n AS HUGEINT) * 1000000000 * 1000000000")}
         |    AS brier_bin
         |FROM b ORDER BY bin""".stripMargin),

    // Murphy decomposition of the same score's Brier: reliability /
    // resolution / uncertainty in one summary row — is the score
    // badly calibrated (fixable by q207) or just undiscriminating
    // (not fixable by any monotone map)?
    Query("q213_brier_decomposition", (s, dir) => {
      val qs = Text.qualityScore(t(s, dir, "documents"), "text",
          Seq("lang"))
        .select(col("lang"), col("quality_score"))
      Quality.brierDecomposition(qs, "quality_score",
          col("lang") === "en", IsoBins)
        .orderBy("n")
    },
    // q213: per-bucket REL/RES terms integerized at 1e9 then summed in
    // BIGINT (the chi-square discipline — no order-dependent double
    // accumulation), totals via one cross-joined 1-row frame.
      s"$calibBinsSqlCte,\n$brierDecompSqlTail"),

    // The >2.2e5-rows-per-bucket REL fallback (divide-before-square
    // pinned double chain, Quality.scala's operand-bound contract)
    // driven through the driver gate where it actually FIRES: a
    // synthetic 2M-row calibration frame — score = keyed-hash ‰,
    // label = a second keyed draw below the first, both recomputable
    // in either engine — puts ~400k rows in each of 5 buckets, past
    // the DECIMAL(38,0) bound q213's small real buckets never cross.
    // A hash match here proves the fallback chain's bit-parity in
    // production, not just in the spec fixture.
    Query("q276_brier_at_scale", (s, _) => {
      val k1 = (Portable.seededHash(col("id"), lit("bscore")) % 1000L)
        .as("__k1")
      val k2 = (Portable.seededHash(col("id"), lit("blabel")) % 1000L)
        .as("__k2")
      val cal = s.range(BrierScaleN).select(k1, k2)
        .select((col("__k1").cast("double") / lit(1000.0)).as("score"),
          (col("__k2") < col("__k1")).as("__y"))
      Quality.brierDecomposition(cal, "score", col("__y"), BrierScaleBins)
        .orderBy("n")
    },
    // q276: the same decomposition over a SYNTHETIC 2M-row calibration
    // frame (score = keyed-hash ‰, label = a second keyed draw below
    // the first — both engines recompute the rows exactly) whose 5
    // buckets each hold ~400k rows — PAST the 2.2e5 DECIMAL(38,0)
    // operand bound, so the REL divide-before-square fallback FIRES
    // under the gate (q213's real buckets never cross it).
      (s"""WITH ids AS (SELECT unnest(range(0, $BrierScaleN)) AS id),
          |hs AS (
          |  SELECT ${Portable.sqlHash("id", "'bscore'")} % 1000 AS k1,
          |         ${Portable.sqlHash("id", "'blabel'")} % 1000 AS k2
          |  FROM ids
          |),
          |bk AS (
          |  SELECT least(floor((k1 / 1000.0) * $BrierScaleBins),
          |      ${BrierScaleBins - 1})::BIGINT AS bin,
          |    CAST(floor(round(k1 / 1000.0, 9) * 1e9 + 0.5) AS BIGINT)
          |      AS s9,
          |    CASE WHEN k2 < k1 THEN 1 ELSE 0 END AS y
          |  FROM hs
          |),
          |b AS (
          |  SELECT bin, count(*)::BIGINT AS n, sum(y)::BIGINT AS pos,
          |    sum(CAST(s9 AS DECIMAL(38,0))) AS ss,
          |    sum(CAST((s9 - 1000000000*y)*(s9 - 1000000000*y)
          |      AS DECIMAL(38,0))) AS se
          |  FROM bk GROUP BY 1
          |),""".stripMargin + "\n" + brierDecompSqlTail)),

    // Leave-one-source-out ablation of the mean quality score —
    // algebra over exact integer sums, no per-source re-scan; the
    // ablation leaderboard ("removing which source raises the mean").
    Query("q201_loo_ablation", (s, dir) => {
      val qs = Text.qualityScore(t(s, dir, "documents"), "text",
          Seq("source"))
        .select(col("source"), col("quality_score"))
      Quality.leaveOneOut(qs, "source", "quality_score")
        .orderBy(desc("delta"), col("source"))
    },
    // q201: global-minus-group algebra over the same integerized sums.
      s"""$qualityScoreSqlCtes,
         |per AS (
         |  SELECT source, count(*)::BIGINT AS n_g,
         |    sum(CAST(floor(quality_score * 1e9 + 0.5)
         |      AS BIGINT))::BIGINT AS sg
         |  FROM qs GROUP BY source
         |),
         |tot AS (SELECT sum(n_g)::BIGINT AS n, sum(sg)::BIGINT AS s
         |        FROM per)
         |SELECT p.source, p.n_g,
         |  ${Portable.sqlIntRatio9("p.sg",
             "CAST(p.n_g AS HUGEINT) * 1000000000")} AS mean_g,
         |  CASE WHEN t.n > p.n_g THEN
         |    ${Portable.sqlIntRatio9("t.s - p.sg",
             "CAST(t.n - p.n_g AS HUGEINT) * 1000000000")}
         |  END AS mean_without,
         |  CASE WHEN t.n > p.n_g THEN
         |    ${Portable.sqlIntRatioSigned9(
             "(CAST(t.s AS HUGEINT) - p.sg) * t.n" +
               " - CAST(t.s AS HUGEINT) * (t.n - p.n_g)",
             "CAST(t.n AS HUGEINT) * (t.n - p.n_g) * 1000000000")}
         |  END AS delta
         |FROM per p CROSS JOIN tot t
         |ORDER BY delta DESC, p.source""".stripMargin),

    // Exact 10%-trimmed mean per source — interval arithmetic over
    // the per-source distinct-value CDF, no data sort.
    Query("q202_trimmed_mean", (s, dir) => {
      val qs = Text.qualityScore(t(s, dir, "documents"), "text",
          Seq("source"))
        .select(col("source"), col("quality_score"))
      Quality.trimmedMean(qs, "source", "quality_score", TrimNum, TrimDen)
        .orderBy("source")
    },
      s"""$qualityScoreSqlCtes,
         |cdf AS (
         |  SELECT source,
         |    CAST(floor(quality_score * 1e9 + 0.5) AS BIGINT) AS vi,
         |    count(*)::BIGINT AS c
         |  FROM qs GROUP BY 1, 2
         |),
         |w AS (
         |  SELECT source, vi, c,
         |    sum(c) OVER (PARTITION BY source ORDER BY vi ROWS BETWEEN
         |      UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT AS cum,
         |    sum(c) OVER (PARTITION BY source)::BIGINT AS n
         |  FROM cdf
         |),
         |kept AS (
         |  SELECT source, n, vi,
         |    greatest(0, least(cum, n - (n * $TrimNum) // $TrimDen)
         |      - greatest(cum - c + 1, (n * $TrimNum) // $TrimDen + 1)
         |      + 1)::BIGINT AS k
         |  FROM w
         |)
         |SELECT source, max(n)::BIGINT AS n, sum(k)::BIGINT AS n_kept,
         |  CASE WHEN sum(k) > 0 THEN
         |    ${Portable.sqlIntRatioSigned9("sum(k * vi)",
             "CAST(sum(k) AS HUGEINT) * 1000000000")}
         |  END AS trimmed_mean
         |FROM kept GROUP BY source ORDER BY source""".stripMargin),

    // Median / 3-MAD outlier report per source — exact lower medians
    // over integerized scores, both for the center and the deviation.
    Query("q203_mad_outliers", (s, dir) => {
      val qs = Text.qualityScore(t(s, dir, "documents"), "text",
          Seq("source"))
        .select(col("source"), col("quality_score"))
      Quality.madOutliers(qs, "source", "quality_score", MadK)
        .orderBy("source")
    },
    // q203: two exact lower medians (rank ceil(n/2) order statistics)
    // over integerized values, then the 3-MAD flag count.
      s"""$qualityScoreSqlCtes,
         |vi AS (
         |  SELECT source,
         |    CAST(floor(quality_score * 1e9 + 0.5) AS BIGINT) AS v
         |  FROM qs
         |),
         |m2 AS (
         |  SELECT source, v,
         |    sum(c) OVER (PARTITION BY source ORDER BY v ROWS BETWEEN
         |      UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT AS cum,
         |    sum(c) OVER (PARTITION BY source)::BIGINT AS n
         |  FROM (SELECT source, v, count(*)::BIGINT AS c FROM vi
         |        GROUP BY 1, 2)
         |),
         |med AS (
         |  SELECT source, min(v)::BIGINT AS med FROM m2
         |  WHERE cum >= (n + 1) // 2 GROUP BY source
         |),
         |dv AS (
         |  SELECT vi.source, abs(vi.v - med.med)::BIGINT AS d, med.med
         |  FROM vi JOIN med USING (source)
         |),
         |d2 AS (
         |  SELECT source, d,
         |    sum(c) OVER (PARTITION BY source ORDER BY d ROWS BETWEEN
         |      UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT AS cum,
         |    sum(c) OVER (PARTITION BY source)::BIGINT AS n
         |  FROM (SELECT source, d, count(*)::BIGINT AS c FROM dv
         |        GROUP BY 1, 2)
         |),
         |mad AS (
         |  SELECT source, min(d)::BIGINT AS mad FROM d2
         |  WHERE cum >= (n + 1) // 2 GROUP BY source
         |)
         |SELECT dv.source, count(*)::BIGINT AS n,
         |  round(CAST(CAST(floor(round(CAST(max(dv.med) AS DOUBLE) / 1e9, 9) * 1e9 + 0.5) AS BIGINT) AS DOUBLE) / 1e9, 9) AS median,
         |  round(CAST(CAST(floor(round(CAST(max(mad.mad) AS DOUBLE) / 1e9, 9) * 1e9 + 0.5) AS BIGINT) AS DOUBLE) / 1e9, 9) AS mad,
         |  sum(CASE WHEN dv.d > $MadK * mad.mad THEN 1 ELSE 0
         |    END)::BIGINT AS n_outliers
         |FROM dv JOIN mad USING (source)
         |GROUP BY dv.source ORDER BY dv.source""".stripMargin),

    // ROC-AUC of the quality score as a ranker for lang = en — exact
    // through the tie-adjusted U (no curve discretization).
    Query("q199_auc", (s, dir) => {
      val qs = Text.qualityScore(t(s, dir, "documents"), "text",
          Seq("lang"))
        .select(col("lang"), col("quality_score"))
      Quality.auc(qs, col("lang") === "en", "quality_score")
    },
    // q199: the q197 rank machinery on the en/non-en split, one
    // division to AUC.
      s"""$qualityScoreSqlCtes,
         |j AS (
         |  SELECT quality_score AS v,
         |    sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END)::BIGINT AS ca,
         |    sum(CASE WHEN lang <> 'en' THEN 1 ELSE 0 END)::BIGINT AS cb
         |  FROM qs GROUP BY 1
         |),
         |j2 AS (
         |  SELECT v, ca, cb, ca + cb AS cnt,
         |    coalesce(sum(ca + cb) OVER (ORDER BY v ROWS BETWEEN
         |      UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT
         |      AS cum_before
         |  FROM j
         |),
         |ag AS (
         |  SELECT sum(ca)::BIGINT AS n_a, sum(cb)::BIGINT AS n_b,
         |    sum(ca * (2 * cum_before + cnt + 1))::BIGINT AS r2
         |  FROM j2
         |)
         |SELECT n_a AS n_pos, n_b AS n_neg,
         |  (r2 - n_a * (n_a + 1))::BIGINT AS u2_pos,
         |  ${Portable.sqlIntRatio9("r2 - n_a * (n_a + 1)",
             "2 * CAST(n_a AS HUGEINT) * n_b")} AS auc
         |FROM ag""".stripMargin),

    // Population Stability Index of the quality score: the corpus
    // minus src0 as the baseline deciles, src0 as the comparison —
    // the model-monitoring standard next to KS/MWU.
    Query("q200_psi", (s, dir) => {
      val qs = Text.qualityScore(t(s, dir, "documents"), "text",
          Seq("source"))
        .select(col("source"), col("quality_score"))
      Quality.psi(qs.filter(col("source") =!= KsSourceA),
        qs.filter(col("source") === KsSourceA), "quality_score", PsiBins)
    },
    // q200: baseline decile boundaries as exact order statistics off
    // the distinct-value CDF; bins by strictly-below boundary counts;
    // per-bin terms in the classBalance integerization; any empty bin
    // on either side nulls the statistic.
      psiOracleSql),

    // Split-conformal (Mondrian, per-source) gate thresholds at 90%
    // coverage: the k = ceil((n+1)(1-alpha)) order statistic of each
    // source's calibration scores — a quality cut with a
    // distribution-free coverage contract.
    Query("q196_conformal_gate", (s, dir) => {
      val qs = Text.qualityScore(t(s, dir, "documents"), "text",
          Seq("source"))
        .select(col("source"), col("quality_score"))
      Sampling.conformalGate(qs, "source", "quality_score",
          ConformalAlphaNum, ConformalAlphaDen)
        .orderBy("source")
    },
    // q196: the order statistic at the exact-integer conformal rank;
    // tie values make the rank's VALUE deterministic regardless of
    // row_number tie order.
      s"""$qualityScoreSqlCtes,
         |r AS (
         |  SELECT source, quality_score,
         |    row_number() OVER (PARTITION BY source
         |      ORDER BY quality_score) AS rk
         |  FROM qs
         |),
         |kk AS (
         |  SELECT source, count(*)::BIGINT AS n,
         |    ((count(*) + 1) * ${ConformalAlphaDen - ConformalAlphaNum}
         |      + ${ConformalAlphaDen - 1}) // $ConformalAlphaDen AS k
         |  FROM qs GROUP BY source
         |)
         |SELECT kk.source, kk.n, kk.k::BIGINT AS k,
         |  r.quality_score AS threshold
         |FROM kk LEFT JOIN r ON r.source = kk.source AND r.rk = kk.k
         |ORDER BY kk.source""".stripMargin),

    // Tie-corrected Mann-Whitney U on the q191 split — the LOCATION
    // drift test next to KS's shape test, exact 2x-rank integers.
    Query("q197_mann_whitney", (s, dir) => {
      val qs = Text.qualityScore(t(s, dir, "documents"), "text",
          Seq("source"))
        .select(col("source"), col("quality_score"))
      Quality.mannWhitney(qs.filter(col("source") === KsSourceA),
        qs.filter(col("source") =!= KsSourceA), "quality_score")
    },
    // q197: the same 2x-rank integers (2.midrank = 2.cum_before +
    // cnt + 1), tie-corrected variance as one exact ratio, one double
    // chain to z.
      s"""$qualityScoreSqlCtes,
         |j AS (
         |  SELECT quality_score AS v,
         |    sum(CASE WHEN source = '$KsSourceA' THEN 1 ELSE 0
         |      END)::BIGINT AS ca,
         |    sum(CASE WHEN source <> '$KsSourceA' THEN 1 ELSE 0
         |      END)::BIGINT AS cb
         |  FROM qs GROUP BY 1
         |),
         |j2 AS (
         |  SELECT v, ca, cb, ca + cb AS cnt,
         |    coalesce(sum(ca + cb) OVER (ORDER BY v ROWS BETWEEN
         |      UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT
         |      AS cum_before
         |  FROM j
         |),
         |ag AS (
         |  SELECT sum(ca)::BIGINT AS n_a, sum(cb)::BIGINT AS n_b,
         |    sum(ca * (2 * cum_before + cnt + 1))::BIGINT AS r2,
         |    sum(cnt * cnt * cnt - cnt)::BIGINT AS t3
         |  FROM j2
         |),
         |fin AS (
         |  SELECT n_a, n_b,
         |    (r2 - n_a * (n_a + 1))::BIGINT AS u2_a,
         |    (n_a + n_b) AS nn, t3
         |  FROM ag
         |)
         |SELECT n_a, n_b, u2_a,
         |  CAST(u2_a AS DOUBLE) / 2.0 AS u_a,
         |  CASE WHEN n_a * n_b * ((nn + 1) * nn * (nn - 1) - t3) > 0 THEN
         |    round(CAST(CAST(floor(round((CAST(u2_a - n_a * n_b AS DOUBLE) / 2.0)
         |      / sqrt(CAST(n_a * n_b * ((nn + 1) * nn * (nn - 1) - t3)
         |               AS DOUBLE)
         |             / CAST(12 * nn * (nn - 1) AS DOUBLE)), 9) * 1e9 + 0.5) AS BIGINT) AS DOUBLE) / 1e9, 9)
         |  END AS z
         |FROM fin""".stripMargin),

    // Chi-square independence of source x lang with Cramer's V — "is
    // the language mix different across sources", every cell term an
    // exact integer ratio integerized then summed in LONG.
    Query("q198_chi_square", (s, dir) => {
      Quality.chiSquare(t(s, dir, "documents"), "source", "lang")
    },
    // q198: per-cell (O.N - r.c)^2/(N.r.c) in the pinned chain,
    // integerized and summed exactly; margins as windows over the
    // cell frame.
      """WITH obs AS (
        |  SELECT source AS a, lang AS b, count(*)::BIGINT AS o
        |  FROM documents GROUP BY 1, 2
        |),
        |cells AS (
        |  SELECT g.a, g.b, coalesce(obs.o, 0)::BIGINT AS o
        |  FROM (SELECT ra.a, cb.b
        |        FROM (SELECT DISTINCT a FROM obs) ra
        |        CROSS JOIN (SELECT DISTINCT b FROM obs) cb) g
        |  LEFT JOIN obs ON obs.a = g.a AND obs.b = g.b
        |),
        |m AS (
        |  SELECT a, b, o,
        |    sum(o) OVER (PARTITION BY a)::BIGINT AS r,
        |    sum(o) OVER (PARTITION BY b)::BIGINT AS c
        |  FROM cells
        |),
        |nn AS (SELECT count(*)::BIGINT AS n FROM documents),
        |t AS (
        |  SELECT a, b, CAST(floor(round(
        |    CAST(o * nn.n - r * c AS DOUBLE)
        |      * CAST(o * nn.n - r * c AS DOUBLE)
        |      / (CAST(nn.n AS DOUBLE) * CAST(r AS DOUBLE)
        |         * CAST(c AS DOUBLE)), 9) * 1e9 + 0.5) AS BIGINT) AS t9
        |  FROM m CROSS JOIN nn
        |),
        |ag AS (
        |  SELECT (SELECT n FROM nn) AS n,
        |    count(DISTINCT a)::BIGINT AS n_rows,
        |    count(DISTINCT b)::BIGINT AS n_cols,
        |    sum(t9)::BIGINT AS chi9
        |  FROM t
        |)
        |SELECT n, n_rows, n_cols,
        |  ((n_rows - 1) * (n_cols - 1))::BIGINT AS dof,
        |  CASE WHEN (n_rows - 1) * (n_cols - 1) > 0 THEN
        |    round(CAST(CAST(floor(round(CAST(chi9 AS DOUBLE) / 1e9, 9) * 1e9 + 0.5) AS BIGINT) AS DOUBLE) / 1e9, 9)
        |  END AS chi2,
        |  CASE WHEN (n_rows - 1) * (n_cols - 1) > 0 THEN
        |    round(CAST(CAST(floor(round(sqrt((CAST(chi9 AS DOUBLE) / 1e9)
        |      / (CAST(n AS DOUBLE)
        |         * CAST(least(n_rows - 1, n_cols - 1) AS DOUBLE))), 9) * 1e9 + 0.5) AS BIGINT) AS DOUBLE) / 1e9, 9)
        |  END AS cramers_v
        |FROM ag""".stripMargin),

    // The q191 statistic for EVERY source against its complement in
    // one pass — the drift leaderboard that answers "which source
    // moved" without a per-source corpus re-scan.
    Query("q195_ks_by_source", (s, dir) => {
      val qs = Text.qualityScore(t(s, dir, "documents"), "text",
          Seq("source"))
        .select(col("source"), col("quality_score"))
      Quality.ksDriftByGroup(qs, "source", "quality_score")
        .orderBy(desc("ks"), col("source"))
    },
    // q195: the per-group replay — group CDFs step-filled onto the
    // replicated global value frame (own jump before the probe at
    // equal v), gaps vs the complement in exact integers, per-group
    // argmax with min-score ties.
      s"""$qualityScoreSqlCtes,
         |ga AS (
         |  SELECT v, sum(c) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED
         |    PRECEDING AND CURRENT ROW)::BIGINT AS cml
         |  FROM (SELECT quality_score AS v, count(*)::BIGINT AS c
         |        FROM qs GROUP BY 1)
         |),
         |nn AS (SELECT count(*)::BIGINT AS n FROM qs),
         |pgc AS (
         |  SELECT source, v, sum(c) OVER (PARTITION BY source ORDER BY v
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT
         |    AS cg
         |  FROM (SELECT source, quality_score AS v, count(*)::BIGINT AS c
         |        FROM qs GROUP BY 1, 2)
         |),
         |gr AS (SELECT source, count(*)::BIGINT AS ng FROM qs
         |       GROUP BY source),
         |u AS (
         |  SELECT g.source, g.ng, a.v, a.cml, 0 AS isg,
         |    NULL::BIGINT AS cgv
         |  FROM gr g CROSS JOIN ga a
         |  UNION ALL
         |  SELECT p.source, NULL::BIGINT, p.v, NULL::BIGINT, 1, p.cg
         |  FROM pgc p
         |),
         |f AS (
         |  SELECT source, ng, v, cml, isg,
         |    coalesce(last_value(cgv IGNORE NULLS) OVER (
         |      PARTITION BY source ORDER BY v, isg DESC
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
         |      0)::BIGINT AS cg2
         |  FROM u
         |),
         |dd AS (
         |  SELECT source, ng, v,
         |    abs(cg2 * (nn.n - ng) - (cml - cg2) * ng)::BIGINT AS d
         |  FROM f CROSS JOIN nn WHERE isg = 0
         |),
         |top AS (
         |  SELECT source, ng, v AS ks_at, d AS ks_num,
         |    row_number() OVER (PARTITION BY source
         |      ORDER BY d DESC, v ASC) AS rn
         |  FROM dd QUALIFY rn = 1
         |)
         |SELECT t.source, t.ng AS n_g, t.ks_at, t.ks_num,
         |  CASE WHEN nn.n - t.ng > 0 THEN
         |    ${Portable.sqlIntRatio9("t.ks_num",
             "CAST(t.ng AS HUGEINT) * (nn.n - t.ng)")}
         |  END AS ks
         |FROM top t CROSS JOIN nn
         |ORDER BY ks DESC, t.source""".stripMargin),

    // Exact two-sample KS statistic between src0's quality-score
    // distribution and the rest of the corpus — integer CDF gaps over
    // merged distinct scores, one division at the end.
    Query("q191_ks_drift", (s, dir) => {
      val qs = Text.qualityScore(t(s, dir, "documents"), "text",
          Seq("source"))
        .select(col("source"), col("quality_score"))
      Quality.ksDrift(qs.filter(col("source") === KsSourceA),
        qs.filter(col("source") =!= KsSourceA), "quality_score")
    },
    // q191: both CDFs as inclusive running sums over distinct scores,
    // step-filled through the merged value set (IGNORE NULLS last), the
    // supremum as exact integer cross-products, min-score ties.
      s"""$qualityScoreSqlCtes,
         |av AS (SELECT quality_score AS v FROM qs
         |       WHERE source = '$KsSourceA'),
         |bv AS (SELECT quality_score AS v FROM qs
         |       WHERE source <> '$KsSourceA'),
         |ca2 AS (
         |  SELECT v, sum(c) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED
         |    PRECEDING AND CURRENT ROW)::BIGINT AS cum
         |  FROM (SELECT v, count(*)::BIGINT AS c FROM av GROUP BY v)
         |),
         |cb2 AS (
         |  SELECT v, sum(c) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED
         |    PRECEDING AND CURRENT ROW)::BIGINT AS cum
         |  FROM (SELECT v, count(*)::BIGINT AS c FROM bv GROUP BY v)
         |),
         |na AS (SELECT count(*)::BIGINT AS n FROM av),
         |nb AS (SELECT count(*)::BIGINT AS n FROM bv),
         |mg AS (
         |  SELECT v, ca2.cum AS ca, cb2.cum AS cb
         |  FROM ca2 FULL JOIN cb2 USING (v)
         |),
         |f AS (
         |  SELECT v,
         |    coalesce(last_value(ca IGNORE NULLS) OVER w, 0)::BIGINT AS ca,
         |    coalesce(last_value(cb IGNORE NULLS) OVER w, 0)::BIGINT AS cb
         |  FROM mg WINDOW w AS (ORDER BY v ROWS BETWEEN UNBOUNDED
         |    PRECEDING AND CURRENT ROW)
         |),
         |g AS (
         |  SELECT v, abs(ca * nb.n - cb * na.n)::BIGINT AS d
         |  FROM f CROSS JOIN na CROSS JOIN nb
         |),
         |top AS (SELECT v, d FROM g ORDER BY d DESC, v ASC LIMIT 1)
         |SELECT na.n AS n_a, nb.n AS n_b, top.v AS ks_at,
         |  top.d AS ks_num,
         |  ${Portable.sqlIntRatio9("top.d",
             "CAST(na.n AS HUGEINT) * nb.n")} AS ks
         |FROM top CROSS JOIN na CROSS JOIN nb""".stripMargin),

    // Label-balance audit on the embedding labels: share, integerized
    // Shannon entropy, max/min imbalance — the pre-training read on
    // any label column.
    Query("q185_class_balance", (s, dir) => {
      Quality.classBalance(t(s, dir, "embeddings"), "label")
        .orderBy("label")
    },
    // q185: per-label p·ln p integerized through the identical double
    // chain, summed exactly; share/imbalance are single divisions of
    // exact counts.
      s"""WITH c AS (
        |  SELECT label, count(*)::BIGINT AS n FROM embeddings
        |  GROUP BY label
        |),
        |t AS (SELECT sum(n)::BIGINT AS t FROM c),
        |pl AS (
        |  SELECT label, n,
        |    ${Portable.sqlIntRatio9("n", "t.t")} AS share,
        |    CAST(floor(round(
        |      (CAST(n AS DOUBLE) / CAST(t.t AS DOUBLE))
        |        * ln(CAST(n AS DOUBLE) / CAST(t.t AS DOUBLE)), 9)
        |      * 1e9 + 0.5) AS BIGINT) AS plogp
        |  FROM c CROSS JOIN t
        |)
        |SELECT label, n, share,
        |  round(CAST(CAST(floor(round(CAST(-(SELECT sum(plogp) FROM pl) AS DOUBLE) / 1e9, 9) * 1e9 + 0.5) AS BIGINT) AS DOUBLE) / 1e9, 9)
        |    AS entropy,
        |  ${Portable.sqlIntRatio9(
             "(SELECT max(n) FROM c)", "(SELECT min(n) FROM c)")}
        |    AS imbalance
        |FROM pl ORDER BY label""".stripMargin),

    // Per-class precision/recall/F1 of the q85 self-classifier —
    // exact rational metrics from the confusion cells (F1 in its
    // single-fraction 2tp/(2tp+fp+fn) form).
    Query("q186_classifier_report", (s, dir) => {
      val docs = t(s, dir, "documents")
      val model = graft.ml.NaiveBayesText.train(docs, "text", "lang")
      val pred = graft.ml.NaiveBayesText
        .classify(model, docs, "doc_id", "text")
        .join(docs.select(col("doc_id"), col("lang")), Seq("doc_id"))
      Quality.classifierReport(pred, "lang", "pred_label")
        .orderBy("label")
    },
    // q186: the UNCHANGED q85 rank chain feeds the confusion cells;
    // each metric is one division of exact integers (F1 in the
    // single-fraction form).
      s"""$nbRankSqlCte,
         |pr AS (
         |  SELECT r.doc_id, d.lang AS t, r.label AS p
         |  FROM rk r JOIN documents d ON d.doc_id = r.doc_id
         |  WHERE r.rk = 1
         |),
         |cells AS (SELECT t, p, count(*)::BIGINT AS c FROM pr GROUP BY 1, 2),
         |tpt AS (SELECT t AS label, c AS tp FROM cells WHERE t = p),
         |bt AS (SELECT t AS label, sum(c)::BIGINT AS support
         |       FROM cells GROUP BY 1),
         |bp AS (SELECT p AS label, sum(c)::BIGINT AS predicted
         |       FROM cells GROUP BY 1),
         |j AS (
         |  SELECT label,
         |    coalesce(support, 0)::BIGINT AS support,
         |    coalesce(tp, 0)::BIGINT AS tp,
         |    (coalesce(predicted, 0) - coalesce(tp, 0))::BIGINT AS fp,
         |    (coalesce(support, 0) - coalesce(tp, 0))::BIGINT AS fn
         |  FROM bt FULL JOIN bp USING (label) LEFT JOIN tpt USING (label)
         |)
         |SELECT label, support, tp, fp, fn,
         |  CASE WHEN tp + fp > 0 THEN
         |    ${Portable.sqlIntRatio9("tp", "tp + fp")}
         |  END AS precision,
         |  CASE WHEN tp + fn > 0 THEN
         |    ${Portable.sqlIntRatio9("tp", "tp + fn")}
         |  END AS recall,
         |  CASE WHEN 2 * tp + fp + fn > 0 THEN
         |    ${Portable.sqlIntRatio9("2 * tp", "2 * tp + fp + fn")}
         |  END AS f1
         |FROM j ORDER BY label""".stripMargin),

    // One CUBE pass over (source, lang): every composition margin plus
    // the grand total with doc/token mass, grouping_id-disambiguated.
    Query("q187_corpus_cube", (s, dir) => {
      Quality.corpusCube(t(s, dir, "documents"), Seq("source", "lang"),
          "text")
        .orderBy("grouping_id", "source", "lang")
    },
    // q187: DuckDB CUBE + GROUPING share Spark's bit convention
    // (first dimension = MSB) — verified empirically, pinned here.
      """SELECT source, lang,
        |  GROUPING(source, lang)::BIGINT AS grouping_id,
        |  count(*)::BIGINT AS n_docs,
        |  coalesce(sum(len(string_split(text, ' '))), 0)::BIGINT
        |    AS n_tokens
        |FROM documents
        |GROUP BY CUBE (source, lang)
        |ORDER BY grouping_id, source, lang""".stripMargin)
  )
}

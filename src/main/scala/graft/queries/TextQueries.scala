package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.SparkEntry._
import graft.ops._

/** Text analysis and tokenization: token statistics, quality signals,
  * language ID, n-gram LMs, BPE/WordPiece, TF-IDF/BM25 retrieval. */
private[graft] object TextQueries {

  /** q126 Zipf fit width — the top-N frequency ranks the ln-ln
    * regression runs over (fixed-size at any corpus scale). */
  val ZipfFitTopK = 500
  /** q127 ICT query-span length in tokens. */
  val IctSpanTokens = 8
  /** q129 calibration bin count (margin deciles). */
  val CalibBins = 10

  /** q56 keywords per document. */
  val TopKeywordsK = 3

  /** q63 multi-n repetition sizes — the full Gopher duplication-gate
    * set, computed in one corpus scan. */
  val RepetitionNs = Seq(2, 3, 4)
  /** q72 boilerplate gate: trigrams seen in more than `BoilerMaxDf`
    * documents are corpus boilerplate (the fixture's trigram df is
    * median 1 / p99 ≈ 4, so 3 marks a real minority of grams). */
  val BoilerN = 3
  val BoilerMaxDf = 3L

  /** q112 blocklist: two fixture-frequent terms + one absent, so hit,
    * multi-hit and clean documents all occur. */
  val BlockTerms: Seq[String] = Seq("slow", "spam", "stale")

  /** q81/q82 BPE merge rounds. 6 keeps the unrolled oracle CTE chain
    * readable while exercising multi-char merges (round 2+ pairs contain
    * round-1 outputs) on the fixture vocabulary. */
  val BpeNumMerges = 6
  /** BPE batched-learning width (q81/q82/q116): up to this many merges
    * accepted per round under the sequential-equivalence guard
    * ([[graft.ops.Bpe.learn]]) — the result is bit-identical to
    * batch = 1, which the sequential unrolled-CTE oracle re-proves
    * every round. */
  val BpeBatch = 4
  /** q79 bigram-LM interpolation weight on the bigram term. 0.75 is
    * exactly representable in binary, so 1−λ is too — the interpolation
    * constants can never drift between the engines' float parsers. */
  val BigramLambda = 0.75

  /** q94 strided context windows: 48-token windows every 32 tokens
    * (16-token overlap) — stride < chunk budget so consecutive windows
    * demonstrably overlap on the fixture docs. */
  val StrideWindowTokens = 48
  val StrideTokens = 32

  /** q96 OOV gate vocabulary size — small enough that the fixture
    * corpus has demonstrable OOV mass outside the top-500 tokens. */
  val OovVocabSize = 500
  /** q103 corpus-drift report: top-100 KL-contributing tokens between
    * the even- and odd-doc_id halves of the fixture corpus. */
  val DriftTopK = 100

  /** q123 length buckets: 8..64 against token lengths ~20..90 keeps
    * every branch live — small-doc clamp-up, mid buckets, and >max
    * overflow. */
  val LenMinBucket = 8
  val LenMaxBucket = 64

  /** q251 RAKE: corpus keyphrase count. */
  val RakeK = 20

  /** q152 Heaps audit: decile document prefixes. */
  val HeapsBuckets = 10

  /** q175/q176 retrieval split: documents below this id are the query
    * set, the rest are the retrieved corpus (disjoint, so no self-match
    * filter is needed on either list). */
  val RetrievalQueryDocs = 16L
  /** q175 BM25 df prune share — the fixture's ~31-token vocabulary has
    * df between 0.75·N and 0.81·N, so 0.78 genuinely splits it: the
    * head terms drop (the stopword lever fires) while the tail scores. */
  val Bm25MaxDfShare = 0.78
  /** q176 reciprocal-rank-fusion constant (Cormack et al., SIGIR'09's
    * published k = 60). */
  val RrfC = 60

  /** q181 collocation count floor — PMI's hapax-pair pathology gate. */
  val PmiMinCount = 5L

  /** q214 WordPiece mining: max piece length, occurrence-mass floor,
    * word-length cap (degenerate megatoken guard), report size. */
  val WpMaxPiece = 6
  val WpMinCount = 20L
  val WpMaxWordLen = 30
  val WpTopOut = 300

  /** q59/q146's planted-PII frame: the fixture text (which carries no
    * natural PII) augmented with one deterministic identifier of each
    * maskable type, keyed on doc_id — both the mask round-trip and the
    * per-source rollup read the same frame. */
  private def piiAugmented(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents").select(col("doc_id"), col("source"),
      concat(col("text"), lit(" contact user"),
        col("doc_id").cast("string"),
        lit("@mail.example.org via https://ex.org/u/"),
        col("doc_id").cast("string"), lit(" tel 555"),
        lpad(col("doc_id").cast("string"), 7, "0"),
        lit(" ph 555-"),
        lpad(pmod(col("doc_id"), lit(1000)).cast("string"), 3, "0"),
        lit("-"), lpad(pmod(col("doc_id"), lit(10000)).cast("string"), 4, "0"),
        lit(" ip 10."), pmod(col("doc_id"), lit(256)).cast("string"),
        lit(".0.7")).as("text"))

  /** DuckDB CTE chain for the q214/q216 WordPiece pipeline: word
    * counts → substring mine → minCount prune (singles always kept) →
    * per-position argmax jump table → the greedy chain as a recursive
    * pointer-chase (one jump per state — no aggregate inside the
    * recursion). Yields `chain(word, s)` + `jump`/`w` in scope; the
    * whole chain must be headed by WITH RECURSIVE. */
  private lazy val wordpieceCtesSql: String =
    s"""wc AS (
       |  SELECT word, count(*)::BIGINT AS cnt FROM (
       |    SELECT unnest(string_split(text, ' ')) AS word FROM documents)
       |  WHERE word <> '' GROUP BY 1
       |),
       |w AS (SELECT word, cnt FROM wc WHERE length(word) <= $WpMaxWordLen),
       |c1 AS (
       |  SELECT word, cnt, length(word) AS len,
       |    unnest(range(1, length(word) + 1)) AS s
       |  FROM w
       |),
       |cp AS (
       |  SELECT word, cnt, s, l, substring(word, CAST(s AS INT),
       |      CAST(l AS INT)) AS piece, (s = 1) AS ini
       |  FROM (
       |    SELECT word, cnt, s,
       |      unnest(range(1, least($WpMaxPiece, len - s + 1) + 1)) AS l
       |    FROM c1)
       |),
       |voc AS (
       |  SELECT piece, ini FROM cp GROUP BY piece, ini
       |  HAVING sum(cnt) >= $WpMinCount OR max(l) = 1
       |),
       |jump AS (
       |  SELECT cp.word, cp.cnt, cp.s, max(cp.l) AS jl
       |  FROM cp JOIN voc ON cp.piece = voc.piece AND cp.ini = voc.ini
       |  GROUP BY 1, 2, 3
       |),
       |chain AS (
       |  SELECT word, 1 AS s FROM w
       |  UNION ALL
       |  SELECT c.word, CAST(c.s + j.jl AS INTEGER) FROM chain c
       |  JOIN jump j ON j.word = c.word AND j.s = c.s
       |)""".stripMargin

  /** BPE oracle: the word-frequency CTE plus `k` UNROLLED learning
    * rounds. Round j reads `bseg(j-1)` (word, count, s=symbols list) and
    * produces `bb j` (the argmax pair: count DESC, l ASC, r ASC) and
    * `bseg j` (the segmentation after greedily applying it). The greedy
    * left-to-right non-overlapping apply is expressed with windows:
    * consecutive matches only arise for l = r (runs of one symbol), and
    * there the applied positions are the even offsets within each
    * gaps-and-islands run — exactly the Spark side's fold semantics. */
  private def bpeCtesSql(k: Int): String = {
    val head =
      s"""bwc AS MATERIALIZED (
         |  SELECT w AS word, count(*)::BIGINT AS count
         |  FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents) _
         |  WHERE w <> '' GROUP BY w
         |),
         |bseg0 AS MATERIALIZED (
         |  SELECT word, count,
         |    list_transform(range(1, length(word) + 1), i -> word[i:i]) AS s
         |  FROM bwc
         |)""".stripMargin
    val rounds = (1 to k).map { j =>
      val prev = s"bseg${j - 1}"
      s"""bp$j AS MATERIALIZED (
         |  SELECT s[i] AS l, s[i+1] AS r, sum(count)::BIGINT AS c
         |  FROM $prev, LATERAL (SELECT unnest(range(1, len(s))) AS i) _
         |  GROUP BY l, r
         |),
         |bb$j AS MATERIALIZED (SELECT l, r, c FROM bp$j ORDER BY c DESC, l, r LIMIT 1),
         |be$j AS MATERIALIZED (
         |  SELECT word, count, i, s[i] AS sym,
         |    CASE WHEN i < len(s) AND s[i] = (SELECT l FROM bb$j)
         |              AND s[i+1] = (SELECT r FROM bb$j)
         |         THEN 1 ELSE 0 END AS mt
         |  FROM $prev, LATERAL (SELECT unnest(range(1, len(s) + 1)) AS i) _
         |),
         |bm$j AS MATERIALIZED (
         |  SELECT word, i FROM (
         |    SELECT word, i, min(i) OVER (PARTITION BY word, isl) AS run_start
         |    FROM (
         |      SELECT word, i,
         |        i - row_number() OVER (PARTITION BY word ORDER BY i) AS isl
         |      FROM be$j WHERE mt = 1
         |    ) a
         |  ) b
         |  WHERE (i - run_start) % 2 = 0
         |),
         |bseg$j AS MATERIALIZED (
         |  SELECT e.word, e.count,
         |    list(CASE WHEN m.i IS NOT NULL
         |              THEN (SELECT l FROM bb$j) || (SELECT r FROM bb$j)
         |              ELSE e.sym END ORDER BY e.i) AS s
         |  FROM be$j e
         |  LEFT JOIN bm$j m ON e.word = m.word AND e.i = m.i
         |  LEFT JOIN bm$j p ON e.word = p.word AND e.i = p.i + 1
         |  WHERE p.i IS NULL
         |  GROUP BY e.word, e.count
         |)""".stripMargin
    }
    (head +: rounds).mkString(",\n")
  }

  /** DuckDB CTE chain mirroring [[graft.ops.Text.bm25TopK]] on the
    * q175 query/corpus split — ends with `rk` = (query_id, doc_id,
    * score_i, rnk ≤ [[TopK]]). Shared by q175 and q176 (the fusion
    * oracle embeds the UNCHANGED lexical body, the q109 discipline). */
  private val bm25SqlCtes: String =
    s"""WITH corpus AS (
       |  SELECT doc_id, text FROM documents
       |  WHERE doc_id >= $RetrievalQueryDocs
       |),
       |q AS (
       |  SELECT doc_id AS query_id, text FROM documents
       |  WHERE doc_id < $RetrievalQueryDocs
       |),
       |tf AS (
       |  SELECT doc_id, w, count(*)::BIGINT AS tf FROM (
       |    SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM corpus)
       |  GROUP BY 1, 2
       |),
       |st AS (
       |  SELECT doc_id, w, tf,
       |    sum(tf) OVER (PARTITION BY doc_id) AS dl,
       |    count(*) OVER (PARTITION BY w) AS df
       |  FROM tf
       |),
       |tot AS (
       |  SELECT count(*)::BIGINT AS n_docs,
       |    sum(len(string_split(text, ' ')))::BIGINT AS l_tot
       |  FROM corpus
       |),
       |qt AS (
       |  SELECT query_id, w, count(*)::BIGINT AS qtf FROM (
       |    SELECT query_id, unnest(string_split(text, ' ')) AS w FROM q)
       |  GROUP BY 1, 2
       |),
       |terms AS (
       |  SELECT qt.query_id, st.doc_id,
       |    qt.qtf * CAST(floor(
       |      round(CAST(CAST(floor(round(ln(1 + CAST(2 * tot.n_docs - 2 * st.df + 1 AS DOUBLE)
       |                  / CAST(2 * st.df + 1 AS DOUBLE)), 9) * 1e9 + 0.5) AS BIGINT) AS DOUBLE) / 1e9, 9)
       |      * (CAST(22 * st.tf * tot.l_tot AS DOUBLE)
       |         / CAST(10 * st.tf * tot.l_tot + 3 * tot.l_tot
       |                + 9 * st.dl * tot.n_docs AS DOUBLE))
       |      * 1e9 + 0.5) AS BIGINT) AS contrib
       |  FROM st JOIN qt USING (w) CROSS JOIN tot
       |  WHERE CAST(st.df AS DOUBLE)
       |    <= $Bm25MaxDfShare * CAST(tot.n_docs AS DOUBLE)
       |),
       |sc AS (
       |  SELECT query_id, doc_id, sum(contrib)::BIGINT AS score_i
       |  FROM terms GROUP BY 1, 2
       |),
       |rk AS (
       |  SELECT query_id, doc_id, score_i,
       |    CAST(row_number() OVER (PARTITION BY query_id
       |      ORDER BY score_i DESC, doc_id ASC) AS BIGINT) AS rnk
       |  FROM sc QUALIFY rnk <= $TopK
       |)""".stripMargin

  val all: Seq[Query] = Seq(

    // Jensen–Shannon divergence between the two corpus halves'
    // unigram mixes — the symmetric, bounded summary of q103's
    // one-way KL table.
    Query("q224_jensen_shannon", (s, dir) => {
      val d = t(s, dir, "documents")
      Text.jensenShannon(d.filter(col("doc_id") % 2 === 0),
        d.filter(col("doc_id") % 2 === 1), "text")
    },
    // q224: no smoothing — M > 0 wherever a term exists; per-token
    // terms integerized through identical double chains, LONG-summed.
    {
      val pa = "(CAST(ca AS DOUBLE) / CAST(na AS DOUBLE))"
      val pb = "(CAST(cb AS DOUBLE) / CAST(nb AS DOUBLE))"
      def term(p: String, q: String, c: String) =
        s"""CASE WHEN $c > 0 THEN
           |      CAST(floor(round($p * ln(CAST(2 AS DOUBLE) * $p
           |        / ($p + $q)), 9) * 1e9 + 0.5) AS BIGINT)
           |    ELSE 0 END""".stripMargin
      s"""WITH ta AS (
         |  SELECT w, count(*)::BIGINT AS c FROM (
         |    SELECT unnest(string_split(text, ' ')) AS w FROM documents
         |    WHERE doc_id % 2 = 0) _ GROUP BY w
         |),
         |tb AS (
         |  SELECT w, count(*)::BIGINT AS c FROM (
         |    SELECT unnest(string_split(text, ' ')) AS w FROM documents
         |    WHERE doc_id % 2 = 1) _ GROUP BY w
         |),
         |j AS (
         |  SELECT coalesce(ta.c, 0)::BIGINT AS ca,
         |         coalesce(tb.c, 0)::BIGINT AS cb
         |  FROM ta FULL JOIN tb ON ta.w = tb.w
         |),
         |tot AS (SELECT sum(ca)::BIGINT AS na, sum(cb)::BIGINT AS nb,
         |        count(*)::BIGINT AS v FROM j),
         |terms AS (
         |  SELECT na, nb, v,
         |    ${term(pa, pb, "ca")} AS t_a,
         |    ${term(pb, pa, "cb")} AS t_b
         |  FROM j CROSS JOIN tot
         |)
         |SELECT na AS n_a, nb AS n_b, v AS vocab,
         |  ${Portable.sqlIntRatioSigned9("sum(t_a) + sum(t_b)",
             "2000000000")} AS jsd
         |FROM terms GROUP BY na, nb, v""".stripMargin
    }),

    // Token-frequency concentration: Gini + head-mass shares over the
    // corpus unigram distribution — the assumption-free companion of
    // q126's fitted Zipf slope.
    Query("q225_token_concentration", (s, dir) => {
      Text.tokenConcentration(t(s, dir, "documents"), "text")
    },
    // q225: ranks ascending over the vocab frame; Gini numerator in
    // exact DECIMAL; head shares by integer ceil-div rank cuts.
      s"""WITH c AS (
         |  SELECT w, count(*)::BIGINT AS c FROM (
         |    SELECT unnest(string_split(text, ' ')) AS w FROM documents
         |  ) _ GROUP BY w
         |),
         |r AS (
         |  SELECT c, row_number() OVER (ORDER BY c ASC, w ASC)::BIGINT
         |      AS r,
         |    count(*) OVER ()::BIGINT AS v
         |  FROM c
         |),
         |a AS (
         |  SELECT v, sum(c)::BIGINT AS n,
         |    CAST(sum(CAST(r AS DECIMAL(38,0)) * CAST(c AS DECIMAL(38,0)))
         |      AS DECIMAL(38,0)) AS rc,
         |    sum(CASE WHEN r > v - (v + 99) // 100 THEN c ELSE 0 END)
         |      ::BIGINT AS t1,
         |    sum(CASE WHEN r > v - (v + 9) // 10 THEN c ELSE 0 END)
         |      ::BIGINT AS t10
         |  FROM r GROUP BY v
         |)
         |SELECT v AS vocab, n AS n_tokens,
         |  CASE WHEN v > 0 AND n > 0 THEN
         |    ${Portable.sqlIntRatioSigned9(
             "2 * CAST(rc AS HUGEINT) - CAST(v + 1 AS HUGEINT) * n",
             "CAST(v AS HUGEINT) * n")}
         |  END AS gini,
         |  CASE WHEN n > 0 THEN ${Portable.sqlIntRatio9("t1", "n")}
         |  END AS top1pct_share,
         |  CASE WHEN n > 0 THEN ${Portable.sqlIntRatio9("t10", "n")}
         |  END AS top10pct_share
         |FROM a""".stripMargin),

    // Flesch-Kincaid grade per doc — map-only regex counts, one
    // pinned grade chain.
    Query("q244_readability", (s, dir) => {
      Text.readability(t(s, dir, "documents"), "text").orderBy("doc_id")
    },
    // q244: the identical RE2 counts and the identical 0.39/11.8/15.59
    // double chain (constants CAST to DOUBLE — DuckDB decimal-literal
    // hazard).
      s"""WITH c AS (
        |  SELECT doc_id,
        |    len(list_filter(string_split(text, ' '), w -> w <> ''))
        |      ::BIGINT AS n_words,
        |    greatest(1, len(regexp_extract_all(text, '[.!?]+')))
        |      ::BIGINT AS n_sentences,
        |    len(regexp_extract_all(lower(text), '[aeiouy]+'))
        |      ::BIGINT AS n_syllables
        |  FROM documents
        |)
        |SELECT doc_id, n_words, n_sentences, n_syllables,
        |  ${Portable.sqlIntRatioSigned9(
            "39 * CAST(n_words AS HUGEINT) * n_words" +
              " + 1180 * CAST(n_syllables AS HUGEINT) * n_sentences" +
              " - 1559 * CAST(n_sentences AS HUGEINT) * n_words",
            "100 * CAST(n_sentences AS HUGEINT) * n_words")} AS fk_grade
        |FROM c WHERE n_words > 0 ORDER BY doc_id""".stripMargin),

    // RAKE corpus keyphrases: stopword-delimited phrase runs,
    // deg/freq word scores, exact integer phrase sums, one top-k.
    Query("q251_rake_keyphrases", (s, dir) => {
      Text.rakeKeyphrases(t(s, dir, "documents"), "text", RakeK)
    },
    // q251: the same break/score/assembly chain — zipped unnest for
    // positions, window phrase ids, deg/freq integerized once,
    // ordered string_agg assembly.
    {
      val stopList = Text.EnStopwords.map(w => s"'$w'").mkString(", ")
      s"""WITH tok AS (
         |  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS w,
         |    unnest(range(1, len(string_split(lower(text), ' ')) + 1))
         |      AS pos
         |  FROM documents
         |),
         |mk AS (
         |  SELECT doc_id, pos, w,
         |    CASE WHEN w IN ($stopList) OR w = '' THEN 1 ELSE 0 END
         |      AS st
         |  FROM tok
         |),
         |ph AS (
         |  SELECT doc_id, pos, w, st,
         |    sum(st) OVER (PARTITION BY doc_id ORDER BY pos ROWS
         |      BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pid
         |  FROM mk
         |),
         |wl AS (
         |  SELECT doc_id, pid, pos, w,
         |    count(*) OVER (PARTITION BY doc_id, pid) AS len
         |  FROM ph WHERE st = 0
         |),
         |ws AS (
         |  SELECT w, CAST(${Portable.sqlIntRatioScaled("sum(len)",
              "count(*)", 9)} AS BIGINT) AS ws9
         |  FROM wl GROUP BY w
         |),
         |pr AS (
         |  SELECT wl.doc_id, wl.pid,
         |    string_agg(wl.w, ' ' ORDER BY wl.pos) AS phrase,
         |    count(*)::BIGINT AS n_words, sum(ws.ws9)::BIGINT AS s9
         |  FROM wl JOIN ws USING (w)
         |  GROUP BY wl.doc_id, wl.pid
         |),
         |ag AS (
         |  SELECT phrase, max(n_words)::BIGINT AS n_words,
         |    count(*)::BIGINT AS n_occurrences, max(s9)::BIGINT AS s9
         |  FROM pr GROUP BY phrase
         |)
         |SELECT phrase, n_words, n_occurrences,
         |  round(CAST(s9 AS DOUBLE) / 1e9, 9) AS score
         |FROM ag ORDER BY s9 DESC, phrase LIMIT $RakeK""".stripMargin
    }),

    // Corpus-health Zipf audit: one-row token-frequency profile with an
    // exact-integer least-squares ln-ln fit over the top-500 terms.
    Query("q126_zipf_audit", (s, dir) => {
      Text.zipfAudit(t(s, dir, "documents"), "text", ZipfFitTopK)
    },
    // q126: every regression sum runs exactly over integers/DECIMAL(38,0)
    // and the normal equations are formed in exact decimal before ONE
    // cast to double — bit-identical slope/intercept/r2 cross-engine
    // (the 1e6-scaled floor(+0.5) per-term ln rounding absorbs libm's
    // 1-ulp differences).
      s"""WITH ztf AS (
         |  SELECT w, count(*)::BIGINT AS c
         |  FROM (SELECT unnest(string_split(text, ' ')) AS w
         |        FROM documents) _
         |  GROUP BY w
         |),
         |zroll AS (
         |  SELECT count(*)::BIGINT AS vocab_size,
         |    sum(c)::BIGINT AS total_tokens,
         |    sum(CASE WHEN c = 1 THEN 1 ELSE 0 END)::BIGINT AS hapax_count
         |  FROM ztf
         |),
         |ztop AS (
         |  SELECT c, row_number() OVER (ORDER BY c DESC, w ASC) AS rank
         |  FROM ztf ORDER BY c DESC, w ASC LIMIT $ZipfFitTopK
         |),
         |zxy AS (
         |  SELECT rank, c,
         |    CAST(floor(ln(rank) * 1e6 + 0.5) AS BIGINT) AS x,
         |    CAST(floor(ln(c) * 1e6 + 0.5) AS BIGINT) AS y
         |  FROM ztop
         |),
         |zfit AS (
         |  SELECT count(*)::BIGINT AS n,
         |    sum(x)::BIGINT AS sx,
         |    sum(y)::BIGINT AS sy,
         |    sum(x * y)::BIGINT AS sxy,
         |    sum(x * x)::BIGINT AS sxx,
         |    sum(y * y)::BIGINT AS syy,
         |    sum(CASE WHEN rank <= 100 THEN c ELSE 0 END)::BIGINT
         |      AS top100_tokens
         |  FROM zxy
         |),
         |zd AS (
         |  SELECT n, top100_tokens,
         |    CAST(n AS HUGEINT) * sxy - CAST(sx AS HUGEINT) * sy AS dxy,
         |    CAST(n AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx AS dxx,
         |    CAST(n AS HUGEINT) * syy - CAST(sy AS HUGEINT) * sy AS dyy,
         |    CAST(sy AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sxy
         |      AS anum
         |  FROM zfit
         |)
         |SELECT zroll.vocab_size, zroll.total_tokens, zroll.hapax_count,
         |  zd.top100_tokens, zd.n AS fit_terms,
         |  CASE WHEN dxx <> 0 THEN
         |    ${Portable.sqlIntRatioSigned9("dxy", "dxx")}
         |  END AS zipf_slope,
         |  CASE WHEN dxx <> 0 THEN
         |    ${Portable.sqlIntRatioSigned9("anum", "dxx * 1000000")}
         |  END AS zipf_intercept,
         |  CASE WHEN dxx <> 0 AND dyy <> 0 THEN
         |    round(CAST(CAST(floor(round(CAST(dxy AS DOUBLE)
         |      * CAST(dxy AS DOUBLE) / (CAST(dxx AS DOUBLE)
         |      * CAST(dyy AS DOUBLE)), 9) * 1e9 + 0.5) AS BIGINT)
         |      AS DOUBLE) / 1e9, 9) END AS zipf_r2
         |FROM zroll CROSS JOIN zd""".stripMargin),

    // Inverse-Cloze-Task contrastive pairs: deterministic span-out
    // (query, passage-with-span-removed) retrieval pretraining pairs.
    Query("q127_ict_pairs", (s, dir) => {
      Text.ictPairs(t(s, dir, "documents"), "doc_id", "text", IctSpanTokens)
        .orderBy("doc_id")
    },
    // q127: same keyed-hash offset draw as the Spark side; DuckDB list
    // slices are 1-based inclusive, l[1:0] is empty.
      s"""WITH it AS (
         |  SELECT doc_id, string_split(text, ' ') AS t,
         |    len(string_split(text, ' '))::BIGINT AS n
         |  FROM documents
         |),
         |ia AS (
         |  SELECT doc_id, t, n,
         |    ${Portable.sqlHash("doc_id", "'ict'")}
         |      % (n - $IctSpanTokens + 1) AS a
         |  FROM it WHERE n >= ${2 * IctSpanTokens}
         |)
         |SELECT doc_id, n AS n_tokens, a AS span_start,
         |  array_to_string(t[(a + 1):(a + $IctSpanTokens)], ' ') AS query,
         |  array_to_string(
         |    list_concat(t[1:a], t[(a + $IctSpanTokens + 1):n]), ' ')
         |    AS passage
         |FROM ia ORDER BY doc_id""".stripMargin),

    // Margin-calibration report of the q85 classifier: decile bins by
    // 9-dp-rounded margin, exact per-bin accuracy.
    Query("q129_nb_calibration", (s, dir) => {
      val docs = t(s, dir, "documents")
      val model = graft.ml.NaiveBayesText.train(docs, "text", "lang")
      val scored = graft.ml.NaiveBayesText
        .classify(model, docs, "doc_id", "text")
        .join(docs.select(col("doc_id"), col("lang")), Seq("doc_id"))
        .withColumn("correct", col("pred_label") === col("lang"))
      graft.ml.NaiveBayesText.calibration(scored, "doc_id", CalibBins)
        .orderBy("bin")
    },
    // q129: the q85 rank chain, binned — margins 9-dp-rounded BEFORE
    // the ntile order (doc_id tiebreak) so bin boundaries are
    // bit-deterministic cross-engine; accuracy is a ratio of exact
    // integer counts.
      s"""$nbRankSqlCte,
         |cl AS (
         |  SELECT r.doc_id, (r.label = d.lang) AS correct,
         |    round(CAST(CAST(floor(round(r.avg_logp - r.s2, 9) * 1e9 + 0.5) AS BIGINT) AS DOUBLE) / 1e9, 9) AS m
         |  FROM rk r JOIN documents d ON d.doc_id = r.doc_id
         |  WHERE r.rk = 1
         |),
         |cb AS (
         |  SELECT doc_id, correct, m,
         |    ntile($CalibBins) OVER (ORDER BY m DESC, doc_id ASC) AS bin
         |  FROM cl
         |)
         |SELECT bin::BIGINT AS bin, count(*)::BIGINT AS n_docs,
         |  sum(CASE WHEN correct THEN 1 ELSE 0 END)::BIGINT AS n_correct,
         |  round(CAST(CAST(floor(round(sum(CASE WHEN correct THEN 1 ELSE 0 END)::DOUBLE
         |    / count(*), 9) * 1e9 + 0.5) AS BIGINT) AS DOUBLE) / 1e9, 9) AS accuracy,
         |  round(CAST(CAST(floor(round(max(m), 9) * 1e9 + 0.5) AS BIGINT) AS DOUBLE) / 1e9, 9) AS max_margin, round(CAST(CAST(floor(round(min(m), 9) * 1e9 + 0.5) AS BIGINT) AS DOUBLE) / 1e9, 9) AS min_margin
         |FROM cb GROUP BY bin ORDER BY bin""".stripMargin),

    // Content-defined chunking: CDC boundaries at adjacent-token-pair
    // hash ≡ 0 mod divisor — revision-stable chunk dedup units.
    Query("q135_chunks_cdc", (s, dir) => {
      Text.chunkContentDefined(t(s, dir, "documents"), "text",
        CdcDivisor, "cdc").orderBy("doc_id", "chunk_idx")
    },
    // q135: the CDC pair-hash boundary and its running sum, relational
    // on both sides.
      s"""WITH $cdcChunkCtes
         |SELECT doc_id, chunk_idx, n_tokens, chunk
         |FROM cdcch ORDER BY doc_id, chunk_idx""".stripMargin),

    // Token statistics (whitespace + word-regex + BPE estimate).
    Query("q24_token_stats", (s, dir) => {
      Text.tokenStats(t(s, dir, "documents"), "text").orderBy("doc_id")
    },
      s"""SELECT doc_id,
         |  len(string_split(text, ' '))::BIGINT AS n_ws_tokens,
         |  len(regexp_extract_all(text, '${Text.WordPattern}'))::BIGINT AS n_word_tokens,
         |  length(text)::BIGINT AS n_chars,
         |  ${Portable.sqlIntRatio9("length(text)",
             "len(string_split(text, ' '))")} AS mean_tok_len,
         |  ceil(length(text) / 4.0)::BIGINT AS est_bpe_tokens
         |FROM documents ORDER BY doc_id""".stripMargin),

    // Quality scoring (length / alpha / digit / stopword heuristics).
    Query("q25_quality_score", (s, dir) => {
      Text.qualityScore(t(s, dir, "documents"), "text").orderBy("doc_id")
    },
      s"""WITH m AS (
         |  SELECT doc_id,
         |    $qMetricColsSql
         |  FROM documents
         |)
         |SELECT doc_id, qct AS n_tokens,
         |  ${Portable.sqlIntRatio9("qca", "qcl")} AS alpha_ratio,
         |  ${Portable.sqlIntRatio9("qcd", "qcl")} AS digit_ratio,
         |  ${Portable.sqlIntRatio9("qcs", "qct")} AS stopword_ratio,
         |  qok::BIGINT AS len_ok,
         |  $qScoreSqlExpr
         |    AS quality_score
         |FROM m ORDER BY doc_id""".stripMargin),

    // Language ID via stopword profiles with pinned tiebreak.
    Query("q26_langid", (s, dir) => {
      Text.languageId(t(s, dir, "documents"), "text").orderBy("doc_id")
    },
      s"""WITH profile(plang, w) AS (VALUES ${Text.langProfileSql}),
         |tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
         |hits AS (
         |  SELECT t.doc_id, p.plang, count(*) AS n
         |  FROM tok t JOIN profile p ON t.w = p.w GROUP BY t.doc_id, p.plang
         |),
         |best AS (
         |  SELECT doc_id, plang, n,
         |         row_number() OVER (PARTITION BY doc_id
         |           ORDER BY n DESC, plang ASC) AS r
         |  FROM hits
         |)
         |SELECT d.doc_id, coalesce(b.plang, 'und') AS pred_lang,
         |       coalesce(b.n, 0)::BIGINT AS n_hits, d.lang
         |FROM documents d LEFT JOIN (SELECT * FROM best WHERE r = 1) b
         |  USING (doc_id)
         |ORDER BY d.doc_id""".stripMargin),

    // Corpus document-frequency / IDF table.
    Query("q45_idf_table", (s, dir) => {
      Text.idfTable(t(s, dir, "documents"), "text").orderBy("w")
    },
      """WITH tok AS (
        |  SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS w
        |  FROM documents
        |),
        |dfreq AS (SELECT w, count(*) AS df FROM tok GROUP BY w),
        |n AS (SELECT count(*) AS n_docs FROM documents)
        |SELECT w, df, round(CAST(CAST(floor(round(ln(n_docs::DOUBLE / df), 9) * 1e9 + 0.5) AS BIGINT) AS DOUBLE) / 1e9, 9) AS idf
        |FROM dfreq, n ORDER BY w""".stripMargin),

    // Per-doc top-k TF-IDF keywords (tf x corpus idf, deterministic
    // lexicographic tie-break).
    Query("q56_top_keywords", (s, dir) => {
      Text.topKeywords(t(s, dir, "documents"), "text", TopKeywordsK)
        .orderBy("doc_id", "rank")
    },
    // q56: tf joins the (rounded) idf on the token; rank ties break on
    // the token string — total order per doc, so row_number agrees.
      s"""WITH tok AS (
         |  SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
         |),
         |tf AS (SELECT doc_id, w, count(*) AS tf FROM tok GROUP BY 1, 2),
         |dtok AS (
         |  SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS w
         |  FROM documents
         |),
         |dfreq AS (SELECT w, count(*) AS df FROM dtok GROUP BY w),
         |n AS (SELECT count(*) AS n_docs FROM documents),
         |idf AS (SELECT w, round(CAST(CAST(floor(round(ln(n_docs::DOUBLE / df), 9) * 1e9 + 0.5) AS BIGINT) AS DOUBLE) / 1e9, 9) AS idf FROM dfreq, n),
         |wtd AS (
         |  SELECT tf.doc_id, tf.w, tf.tf, round(CAST(CAST(floor(round(tf.tf * idf.idf, 9) * 1e9 + 0.5) AS BIGINT) AS DOUBLE) / 1e9, 9) AS tfidf
         |  FROM tf JOIN idf USING (w)
         |),
         |rk AS (
         |  SELECT doc_id, w, tf, tfidf, row_number()
         |    OVER (PARTITION BY doc_id ORDER BY tfidf DESC, w ASC) AS rank
         |  FROM wtd
         |)
         |SELECT doc_id, rank::BIGINT AS rank, w AS token, tf, tfidf
         |FROM rk WHERE rank <= $TopKeywordsK ORDER BY doc_id, rank""".stripMargin),

    // Gopher-style repetition quality signals (bigram dup / top-gram
    // concentration).
    Query("q58_repetition", (s, dir) => {
      Text.repetitionStats(t(s, dir, "documents"), "text", RepetitionN)
        .orderBy("doc_id")
    },
      s"""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
         |g AS (SELECT doc_id,
         |        unnest(${Text.shinglesAllSql("t", RepetitionN)}) AS g
         |      FROM toks),
         |c AS (SELECT doc_id, g, count(*) AS c FROM g GROUP BY doc_id, g),
         |p AS (SELECT doc_id, sum(c)::BIGINT AS total,
         |             count(*)::BIGINT AS n_distinct, max(c) AS topc
         |      FROM c GROUP BY doc_id)
         |SELECT d.doc_id,
         |  coalesce(p.total, 0)::BIGINT AS n_ngrams,
         |  coalesce(p.n_distinct, 0)::BIGINT AS n_distinct,
         |  ${Portable.sqlIntRatio9("p.total - p.n_distinct", "p.total")} AS dup_ngram_ratio,
         |  ${Portable.sqlIntRatio9("p.topc", "p.total")} AS top_ngram_ratio
         |FROM documents d LEFT JOIN p USING (doc_id)
         |ORDER BY d.doc_id""".stripMargin),

    // Length-bucketed batching audit: per power-of-two capacity
    // bucket, the docs/tokens/padding/overflow a dynamic-batching
    // loader would pay — the report that prices q67 vs q122 policies.
    Query("q123_length_buckets", (s, dir) => {
      Text.lengthBuckets(t(s, dir, "documents"), "text",
        LenMinBucket, LenMaxBucket)
        .orderBy("bucket")
    },
    // q123: the identical CASE chain over the shared bucket constant
    // list.
    {
      val bs = Text.lengthBucketList(LenMinBucket, LenMaxBucket)
      val bucketCase = "CASE " +
        bs.init.map(b => s"WHEN n <= $b THEN ${b}").mkString(" ") +
        s" ELSE ${bs.last} END"
      s"""WITH d AS (
         |  SELECT len(string_split(text, ' '))::BIGINT AS n FROM documents
         |),
         |b AS (SELECT ($bucketCase)::BIGINT AS bucket, n FROM d)
         |SELECT bucket, count(*)::BIGINT AS docs, sum(n)::BIGINT AS tokens,
         |  sum(bucket - least(n, $LenMaxBucket))::BIGINT AS padding,
         |  sum(greatest(n - $LenMaxBucket, 0))::BIGINT AS overflow
         |FROM b GROUP BY bucket ORDER BY bucket""".stripMargin
    }),

    // Multi-n repetition stats: the full Gopher gate set n in {2,3,4}
    // in ONE corpus scan (PlanSpec pins the single tokenization).
    Query("q63_repetition_multi", (s, dir) => {
      Text.repetitionStatsMulti(t(s, dir, "documents"), "text", RepetitionNs)
        .orderBy("doc_id", "n")
    },
    // q63: per-n twin of q58 — one gram CTE per n, unioned; the (doc, n)
    // spine cross-joins the n list so gram-less (doc, n) cells keep NULL
    // ratios exactly like the Spark side's literal-array explode.
    {
      val gramCtes = RepetitionNs.map(n =>
        s"""  SELECT doc_id, ${n}::BIGINT AS n,
           |    unnest(${Text.shinglesAllSql("t", n)}) AS g FROM toks""".stripMargin)
        .mkString("\n  UNION ALL\n")
      s"""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
         |g AS (
         |$gramCtes
         |),
         |c AS (SELECT doc_id, n, g, count(*) AS c FROM g GROUP BY doc_id, n, g),
         |p AS (SELECT doc_id, n, sum(c)::BIGINT AS total,
         |             count(*)::BIGINT AS n_distinct, max(c) AS topc
         |      FROM c GROUP BY doc_id, n)
         |SELECT d.doc_id, nn.n::BIGINT AS n,
         |  coalesce(p.total, 0)::BIGINT AS n_ngrams,
         |  coalesce(p.n_distinct, 0)::BIGINT AS n_distinct,
         |  ${Portable.sqlIntRatio9("p.total - p.n_distinct", "p.total")} AS dup_ngram_ratio,
         |  ${Portable.sqlIntRatio9("p.topc", "p.total")} AS top_ngram_ratio
         |FROM documents d
         |CROSS JOIN (SELECT unnest([${RepetitionNs.mkString(", ")}]) AS n) nn
         |LEFT JOIN p ON p.doc_id = d.doc_id AND p.n = nn.n
         |ORDER BY d.doc_id, n""".stripMargin
    }),

    // Heaps-law corpus-health audit: cumulative vocabulary-growth curve
    // over decile document prefixes + exact-integer ln-ln fit of the
    // Heaps exponent — the growth twin of q126's Zipf shape check.
    Query("q152_heaps_audit", (s, dir) => {
      Text.heapsAudit(t(s, dir, "documents"), "doc_id", "text",
        HeapsBuckets).orderBy("bucket")
    },
    // q152: the same first-occurrence trick relationally — each type's
    // birth bucket from min(doc_id), cumulative window sums over the
    // decile rollup, and q126's exact-integer ln-ln fit discipline on
    // the cumulative (tokens, vocab) points.
      s"""WITH spine AS (
         |  SELECT doc_id, len(string_split(text, ' '))::BIGINT AS n,
         |         ntile($HeapsBuckets) OVER (ORDER BY doc_id) AS bucket
         |  FROM documents
         |),
         |fs AS (
         |  SELECT w, min(doc_id) AS fid
         |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w
         |        FROM documents) _
         |  GROUP BY w
         |),
         |born AS (
         |  SELECT s.bucket, count(*)::BIGINT AS new_types
         |  FROM fs JOIN spine s ON fs.fid = s.doc_id
         |  GROUP BY s.bucket
         |),
         |curve AS (
         |  SELECT m.bucket::BIGINT AS bucket,
         |    CAST(sum(m.n_docs) OVER w AS BIGINT) AS n_docs,
         |    CAST(sum(m.n_toks) OVER w AS BIGINT) AS n_tokens,
         |    CAST(sum(coalesce(b.new_types, 0)) OVER w AS BIGINT) AS vocab,
         |    coalesce(b.new_types, 0)::BIGINT AS new_types
         |  FROM (SELECT bucket, count(*)::BIGINT AS n_docs,
         |          sum(n)::BIGINT AS n_toks
         |        FROM spine GROUP BY bucket) m
         |  LEFT JOIN born b USING (bucket)
         |  WINDOW w AS (ORDER BY m.bucket
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |),
         |pts AS (
         |  SELECT CAST(floor(ln(n_tokens) * 1e6 + 0.5) AS BIGINT) AS x,
         |         CAST(floor(ln(vocab) * 1e6 + 0.5) AS BIGINT) AS y
         |  FROM curve WHERE n_tokens > 0 AND vocab > 0
         |),
         |fit AS (
         |  SELECT count(*)::BIGINT AS n,
         |    sum(x)::BIGINT AS sx, sum(y)::BIGINT AS sy,
         |    sum(x * y)::BIGINT AS sxy, sum(x * x)::BIGINT AS sxx,
         |    sum(y * y)::BIGINT AS syy
         |  FROM pts
         |),
         |hd AS (
         |  SELECT
         |    CAST(n AS HUGEINT) * sxy - CAST(sx AS HUGEINT) * sy AS dxy,
         |    CAST(n AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx AS dxx,
         |    CAST(n AS HUGEINT) * syy - CAST(sy AS HUGEINT) * sy AS dyy
         |  FROM fit
         |)
         |SELECT c.bucket, c.n_docs, c.n_tokens, c.vocab, c.new_types,
         |  CASE WHEN dxx <> 0 THEN
         |    ${Portable.sqlIntRatioSigned9("dxy", "dxx")}
         |  END AS heaps_beta,
         |  CASE WHEN dxx <> 0 AND dyy <> 0 THEN
         |    round(CAST(CAST(floor(round(CAST(dxy AS DOUBLE)
         |      * CAST(dxy AS DOUBLE) / (CAST(dxx AS DOUBLE)
         |      * CAST(dyy AS DOUBLE)), 9) * 1e9 + 0.5) AS BIGINT)
         |      AS DOUBLE) / 1e9, 9) END AS heaps_r2
         |FROM curve c CROSS JOIN hd ORDER BY c.bucket""".stripMargin),

    // C4-style blocklist report: per-doc occurrence/type counts of
    // blocklisted tokens — map-only, the list rides as a codegen
    // literal; the canonical gate is n_blocked == 0.
    Query("q112_blocklist", (s, dir) => {
      Text.blocklistStats(t(s, dir, "documents"), "text", BlockTerms)
        .orderBy("doc_id")
    },
    // q112: same token-membership counts via list_filter/list_distinct
    // (list_intersect's dedup semantics are avoided on both sides: the
    // distinct count is explicitly distinct-of-filtered).
    {
      val lst = BlockTerms.map(t => s"'$t'").mkString("[", ", ", "]")
      s"""SELECT doc_id,
         |  len(string_split(text, ' '))::BIGINT AS n_tokens,
         |  len(list_filter(string_split(text, ' '),
         |    t -> list_contains($lst, t)))::BIGINT AS n_blocked,
         |  len(list_distinct(list_filter(string_split(text, ' '),
         |    t -> list_contains($lst, t))))::BIGINT AS n_blocked_types,
         |  CASE WHEN len(string_split(text, ' ')) > 0 THEN
         |    ${Portable.sqlIntRatio9(
              s"len(list_filter(string_split(text, ' '), " +
                s"t -> list_contains($lst, t)))",
              "len(string_split(text, ' '))")}
         |  END AS blocked_ratio
         |FROM documents ORDER BY doc_id""".stripMargin
    }),

    // Blocklist scrub: the rewrite companion to q112 — listed tokens
    // removed from the text instead of dropping the document.
    Query("q117_blocklist_scrub", (s, dir) => {
      Text.blocklistScrub(t(s, dir, "documents"), "text", BlockTerms)
        .orderBy("doc_id")
    },
    // q117: q112's membership test driving a rewrite — kept tokens
    // re-join on single spaces (double-space artifacts at removal
    // sites are identical in both engines).
    {
      val lst = BlockTerms.map(t => s"'$t'").mkString("[", ", ", "]")
      s"""SELECT doc_id,
         |  array_to_string(list_filter(string_split(text, ' '),
         |    t -> NOT list_contains($lst, t)), ' ') AS text,
         |  len(list_filter(string_split(text, ' '),
         |    t -> list_contains($lst, t)))::BIGINT AS n_removed
         |FROM documents ORDER BY doc_id""".stripMargin
    }),

    // TF-IDF cosine document pairs: inverted-index weighted similarity
    // (rare shared terms dominate), the q55 Jaccard path's complement.
    Query("q84_tfidf_pairs", (s, dir) => {
      Similarity.tfidfCosinePairs(t(s, dir, "documents"), "doc_id", "text",
        TfidfTau, TfidfMaxDf)
        .orderBy("id_a", "id_b")
    },
    // q84: the same tf/df/norm windows as the Spark side; pairs meet on
    // the term posting lists, cosine compared on the rounded value.
      s"""WITH ${tfidfPairsCtes(TfidfTau, TfidfMaxDf)}
         |SELECT id_a, id_b, cos_tfidf FROM tfpairs
         |ORDER BY id_a, id_b""".stripMargin),

    // Trained Naive-Bayes language classifier: exact-count train on the
    // labeled corpus, argmax score per doc with the runner-up margin and
    // a label-agreement flag — the learned quality-filter slot, and a
    // label-noise report (margin ~ confidence, !correct ~ suspect label).
    Query("q85_nb_classify", (s, dir) => {
      val docs = t(s, dir, "documents")
      val model = graft.ml.NaiveBayesText.train(docs, "text", "lang")
      graft.ml.NaiveBayesText.classify(model, docs, "doc_id", "text")
        .join(docs.select(col("doc_id"), col("lang")), Seq("doc_id"))
        .select(col("doc_id"), col("lang"), col("pred_label"),
          (col("pred_label") === col("lang")).as("correct"),
          Portable.ratio9(col("avg_logp")).as("avg_logp"),
          Portable.ratio9(col("margin")).as("margin"))
        .orderBy("doc_id")
    },
    // q85: identical NB math — the −n_d·ln(tokens_c+V) factoring keeps
    // the seen join INNER (unseen pairs contribute exactly 0), argmax by
    // (score DESC, label ASC) row_number, runner-up margin via lead().
      s"""$nbRankSqlCte
         |SELECT r.doc_id, d.lang, r.label AS pred_label,
         |  (r.label = d.lang) AS correct,
         |  round(CAST(CAST(floor(round(r.avg_logp, 9) * 1e9 + 0.5) AS BIGINT) AS DOUBLE) / 1e9, 9) AS avg_logp,
         |  round(CAST(CAST(floor(round(r.avg_logp - r.s2, 9) * 1e9 + 0.5) AS BIGINT) AS DOUBLE) / 1e9, 9) AS margin
         |FROM rk r JOIN documents d ON d.doc_id = r.doc_id
         |WHERE r.rk = 1
         |ORDER BY r.doc_id""".stripMargin),

    // BPE merge learning: the subword-tokenizer training loop over the
    // corpus word-frequency table — deterministic (count DESC, pair ASC
    // tiebreak), so the learned merge table is oracle-checkable.
    Query("q81_bpe_merges", (s, dir) => {
      Bpe.learn(Bpe.wordCounts(t(s, dir, "documents"), "text"),
          BpeNumMerges, batch = BpeBatch)
        .merges.orderBy("rank")
    },
    // q81: the unrolled learning rounds; each round's argmax pair is one
    // row of the merge table (an exhausted round's empty bb CTE simply
    // contributes no row, mirroring the Spark loop's early stop).
    {
      val rows = (1 to BpeNumMerges).map(j =>
        s"""SELECT CAST($j AS BIGINT) AS rank, l AS "left", r AS "right",
           |  l || r AS merged, c AS pair_count FROM bb$j""".stripMargin)
        .mkString("\nUNION ALL\n")
      s"""WITH ${bpeCtesSql(BpeNumMerges)}
         |$rows
         |ORDER BY rank""".stripMargin
    }),

    // BPE encoding: every document re-segmented through the learned
    // word→subword table (dictionary join, corpus never char-split).
    Query("q82_bpe_encode", (s, dir) => {
      val docs = t(s, dir, "documents")
      val learned = Bpe.learn(Bpe.wordCounts(docs, "text"),
        BpeNumMerges, batch = BpeBatch)
      Bpe.encode(docs, "text", learned.vocab).orderBy("doc_id")
    },
    // q82: documents meet the final segmentation by word; OOV words
    // (none on the self-trained fixture, but the branch is live) fall
    // back to character symbols.
    {
      val k = BpeNumMerges
      s"""WITH ${bpeCtesSql(k)},
         |etok AS (
         |  SELECT doc_id, i AS pos, t[i] AS word
         |  FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents) _,
         |       LATERAL (SELECT unnest(range(1, len(t) + 1)) AS i) __
         |  WHERE t[i] <> ''
         |),
         |eseg AS (
         |  SELECT e.doc_id, e.pos,
         |    coalesce(v.s, list_transform(range(1, length(e.word) + 1),
         |                                 i -> e.word[i:i])) AS syms
         |  FROM etok e LEFT JOIN bseg$k v ON e.word = v.word
         |)
         |SELECT doc_id, count(*)::BIGINT AS n_words,
         |  sum(len(syms))::BIGINT AS n_bpe_tokens,
         |  array_to_string(flatten(list(syms ORDER BY pos)), ' ') AS bpe_text
         |FROM eseg GROUP BY doc_id
         |ORDER BY doc_id""".stripMargin
    }),

    // Tokenizer fertility report: subword tokens per word and chars per
    // token for each (source, lang) slice — the tokenizer-evaluation
    // rollup that flags slices the merges under-serve.
    Query("q116_tokenizer_fertility", (s, dir) => {
      val docs = t(s, dir, "documents")
      val learned = Bpe.learn(Bpe.wordCounts(docs, "text"),
        BpeNumMerges, batch = BpeBatch)
      Bpe.fertility(docs, "text", learned.vocab, Seq("source", "lang"))
        .orderBy("source", "lang")
    },
    // q116: q82's word→segmentation join rolled straight up to the
    // (source, lang) slice — tokens per word and chars per token; only
    // docs with at least one word count toward n_docs.
    {
      val k = BpeNumMerges
      s"""WITH ${bpeCtesSql(k)},
         |ftok AS (
         |  SELECT source, lang, doc_id, t[i] AS word
         |  FROM (SELECT source, lang, doc_id, string_split(text, ' ') AS t
         |        FROM documents) _,
         |       LATERAL (SELECT unnest(range(1, len(t) + 1)) AS i) __
         |  WHERE t[i] <> ''
         |),
         |fseg AS (
         |  SELECT f.source, f.lang, f.doc_id,
         |    length(f.word)::BIGINT AS chars,
         |    coalesce(len(v.s), length(f.word))::BIGINT AS toks
         |  FROM ftok f LEFT JOIN bseg$k v ON f.word = v.word
         |)
         |SELECT source, lang, count(DISTINCT doc_id)::BIGINT AS n_docs,
         |  count(*)::BIGINT AS n_words, sum(toks)::BIGINT AS n_tokens,
         |  sum(chars)::BIGINT AS n_chars,
         |  ${Portable.sqlIntRatio9("sum(toks)", "count(*)")} AS fertility,
         |  ${Portable.sqlIntRatio9("sum(chars)", "sum(toks)")}
         |    AS chars_per_token
         |FROM fseg GROUP BY source, lang
         |ORDER BY source, lang""".stripMargin
    }),

    // Interpolated bigram LM NLL: corpus-trained KenLM-lite fluency
    // score; first token scores unigram, the rest λ·P(w|v)+(1−λ)·P(w).
    Query("q79_bigram_nll", (s, dir) => {
      Text.bigramLogProb(t(s, dir, "documents"), "text", BigramLambda)
        .orderBy("doc_id")
    },
    // q79: the per-doc (v, w, c) frame joins the corpus bigram table;
    // the bigram denominator and unigram counts are group-bys over that
    // compact table (= the Spark side's window sums); first-token rows
    // carry the chr(2) sentinel predecessor and score unigram-only.
      s"""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
         |pairs AS (
         |  SELECT doc_id,
         |    CASE WHEN i = 1 THEN chr(2) ELSE t[i-1] END AS v, t[i] AS w
         |  FROM toks, LATERAL (SELECT unnest(range(1, len(t) + 1)) AS i) _
         |),
         |bid AS (SELECT doc_id, v, w, count(*)::BIGINT AS c
         |        FROM pairs GROUP BY doc_id, v, w),
         |bic AS (SELECT v, w, sum(c)::BIGINT AS cnt_vw FROM bid GROUP BY v, w),
         |unic AS (SELECT w, sum(cnt_vw)::BIGINT AS cnt_w FROM bic GROUP BY w),
         |pref AS (SELECT v, sum(cnt_vw)::BIGINT AS cnt_v FROM bic GROUP BY v),
         |tot AS (SELECT sum(cnt_vw)::DOUBLE AS total FROM bic)
         |SELECT bid.doc_id, sum(c)::BIGINT AS n_tokens,
         |  round(CAST(CAST(floor(round(sum(c * -ln(CASE WHEN v = chr(2) THEN cnt_w / total
         |    ELSE CAST($BigramLambda AS DOUBLE) * cnt_vw / cnt_v +
         |         CAST(${1 - BigramLambda} AS DOUBLE) * cnt_w / total
         |    END)) / sum(c), 9) * 1e9 + 0.5) AS BIGINT) AS DOUBLE) / 1e9, 9) AS bigram_nll
         |FROM bid
         |JOIN bic USING (v, w)
         |JOIN unic USING (w)
         |JOIN pref USING (v)
         |CROSS JOIN tot
         |GROUP BY bid.doc_id
         |ORDER BY bid.doc_id""".stripMargin),

    // CCNet-style unigram-LM quality proxy: mean negative log-likelihood
    // of each doc's tokens under the corpus unigram distribution.
    Query("q71_unigram_nll", (s, dir) => {
      Text.unigramLogProb(t(s, dir, "documents"), "text").orderBy("doc_id")
    },
    // q71: corpus-wide token count per w is a window sum over the tf
    // frame; the total-token scalar is its own aggregate — both sides
    // compute mean NLL as sum(c * -ln(cnt/total)) / sum(c), 9 dp.
      s"""WITH tf AS (
         |  SELECT doc_id, w, count(*)::BIGINT AS c
         |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w
         |        FROM documents)
         |  GROUP BY doc_id, w
         |),
         |cw AS (SELECT doc_id, c, sum(c) OVER (PARTITION BY w) AS cnt FROM tf),
         |tot AS (SELECT CAST(sum(len(string_split(text, ' '))) AS DOUBLE)
         |               AS total FROM documents)
         |SELECT doc_id, sum(c)::BIGINT AS n_tokens,
         |       round(CAST(CAST(floor(round(sum(c * -ln(cnt / total)) / sum(c), 9) * 1e9 + 0.5) AS BIGINT) AS DOUBLE) / 1e9, 9) AS unigram_nll
         |FROM cw, tot
         |GROUP BY doc_id
         |ORDER BY doc_id""".stripMargin),

    // CCNet perplexity buckets: per-language head/middle/tail NLL
    // terciles — the canonical quality-mixture tiers (train on
    // head+middle, downsample tail). Deterministic tie-break on the
    // rounded NLL then doc_id.
    Query("q90_ppl_buckets", (s, dir) => {
      Text.perplexityBuckets(t(s, dir, "documents"), "text", "lang")
        .orderBy("doc_id")
    },
    // q90: the q71 NLL CTEs, lang joined back, ntile(3) per language
    // over the ROUNDED NLL (then doc_id) — both engines split the same
    // ordering, so the tier boundary is deterministic.
      s"""WITH tf AS (
         |  SELECT doc_id, w, count(*)::BIGINT AS c
         |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w
         |        FROM documents)
         |  GROUP BY doc_id, w
         |),
         |cw AS (SELECT doc_id, c, sum(c) OVER (PARTITION BY w) AS cnt FROM tf),
         |tot AS (SELECT CAST(sum(len(string_split(text, ' '))) AS DOUBLE)
         |               AS total FROM documents),
         |nll AS (
         |  SELECT doc_id, sum(c)::BIGINT AS n_tokens,
         |         round(CAST(CAST(floor(round(sum(c * -ln(cnt / total)) / sum(c), 9) * 1e9 + 0.5) AS BIGINT) AS DOUBLE) / 1e9, 9) AS unigram_nll
         |  FROM cw, tot GROUP BY doc_id
         |),
         |b AS (
         |  SELECT n.doc_id, n.n_tokens, n.unigram_nll, d.lang,
         |    ntile(3) OVER (PARTITION BY d.lang
         |      ORDER BY n.unigram_nll ASC, n.doc_id ASC) AS bucket_idx
         |  FROM nll n JOIN documents d ON d.doc_id = n.doc_id
         |)
         |SELECT doc_id, n_tokens, unigram_nll, lang, bucket_idx,
         |  CASE WHEN bucket_idx = 1 THEN 'head'
         |       WHEN bucket_idx = 3 THEN 'tail'
         |       ELSE 'middle' END AS bucket
         |FROM b ORDER BY doc_id""".stripMargin),

    // Cross-document boilerplate fractions: trigrams with corpus df >
    // BoilerMaxDf are boilerplate; per-doc occurrence + distinct ratios.
    Query("q72_boilerplate", (s, dir) => {
      Text.boilerplateStats(t(s, dir, "documents"), "text", BoilerN,
        BoilerMaxDf).orderBy("doc_id")
    },
    // q72: gram df is a window count over the distinct (doc, gram)
    // frame; ratios stay un-coalesced so gram-less docs get NULLs.
      s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks
         |           FROM documents),
         |occ AS (SELECT doc_id,
         |               unnest(${Text.shinglesAllSql("toks", BoilerN)}) AS g
         |        FROM t),
         |per AS (SELECT doc_id, g, count(*)::BIGINT AS c
         |        FROM occ GROUP BY doc_id, g),
         |wdf AS (SELECT doc_id, g, c, count(*) OVER (PARTITION BY g) AS df
         |        FROM per),
         |agg AS (
         |  SELECT doc_id, sum(c)::BIGINT AS n_grams,
         |    sum(CASE WHEN df > $BoilerMaxDf THEN c ELSE 0 END)::BIGINT
         |      AS n_boiler_grams,
         |    count(*)::BIGINT AS n_distinct,
         |    sum(CASE WHEN df > $BoilerMaxDf THEN 1 ELSE 0 END)::BIGINT
         |      AS n_boiler_distinct
         |  FROM wdf GROUP BY doc_id
         |)
         |SELECT d.doc_id,
         |  coalesce(a.n_grams, 0)::BIGINT AS n_grams,
         |  coalesce(a.n_boiler_grams, 0)::BIGINT AS n_boiler_grams,
         |  ${Portable.sqlIntRatio9("a.n_boiler_grams", "a.n_grams")}
         |    AS boiler_ratio,
         |  coalesce(a.n_distinct, 0)::BIGINT AS n_distinct,
         |  coalesce(a.n_boiler_distinct, 0)::BIGINT AS n_boiler_distinct,
         |  ${Portable.sqlIntRatio9("a.n_boiler_distinct",
              "a.n_distinct")}
         |    AS boiler_distinct_ratio
         |FROM documents d LEFT JOIN agg a USING (doc_id)
         |ORDER BY d.doc_id""".stripMargin),

    // PII masking over deterministically injected emails/URLs/phones/
    // IPs/digit runs (the fixture corpus is PII-free, so both engines
    // append the same synthetic contact block per doc before masking).
    // The pmod bounds keep every lpad input at or under the pad width —
    // lpad truncation semantics for over-long inputs are engine-specific.
    Query("q59_pii_mask", (s, dir) => {
      Text.maskPii(piiAugmented(s, dir), "text").orderBy("doc_id")
    },
    // q59: masking order URL -> email -> phone -> IPv4 -> long digits,
    // each count taken on that stage's input (patterns interpolated
    // from Text so the two engines can never drift)
      s"""WITH aug AS (
         |  SELECT doc_id,
         |    text || ' contact user' || doc_id::VARCHAR ||
         |    '@mail.example.org via https://ex.org/u/' || doc_id::VARCHAR ||
         |    ' tel 555' || lpad(doc_id::VARCHAR, 7, '0') ||
         |    ' ph 555-' || lpad((doc_id % 1000)::VARCHAR, 3, '0') ||
         |    '-' || lpad((doc_id % 10000)::VARCHAR, 4, '0') ||
         |    ' ip 10.' || (doc_id % 256)::VARCHAR || '.0.7' AS text
         |  FROM documents
         |), st AS (
         |  SELECT doc_id, text,
         |    regexp_replace(text, '${Text.UrlRe}', '<URL>', 'g') AS u
         |  FROM aug
         |), st2 AS (
         |  SELECT doc_id, text, u,
         |    regexp_replace(u, '${Text.EmailRe}', '<EMAIL>', 'g') AS e
         |  FROM st
         |), st3 AS (
         |  SELECT doc_id, text, u, e,
         |    regexp_replace(e, '${Text.PhoneRe}', '<PHONE>', 'g') AS p
         |  FROM st2
         |), st4 AS (
         |  SELECT doc_id, text, u, e, p,
         |    regexp_replace(p, '${Text.Ipv4Re}', '<IP>', 'g') AS i
         |  FROM st3
         |)
         |SELECT doc_id,
         |  regexp_replace(i, '${Text.LongNumRe}', '<NUM>', 'g') AS masked,
         |  len(regexp_extract_all(text, '${Text.UrlRe}'))::BIGINT AS n_urls,
         |  len(regexp_extract_all(u, '${Text.EmailRe}'))::BIGINT AS n_emails,
         |  len(regexp_extract_all(e, '${Text.PhoneRe}'))::BIGINT AS n_phones,
         |  len(regexp_extract_all(p, '${Text.Ipv4Re}'))::BIGINT AS n_ips,
         |  len(regexp_extract_all(i, '${Text.LongNumRe}'))::BIGINT AS n_long_nums
         |FROM st4 ORDER BY doc_id""".stripMargin),

    // Per-source PII-density rollup over the same planted-PII frame:
    // the data-card line saying which sources leak identifiers.
    Query("q146_pii_by_source", (s, dir) => {
      Text.piiReport(piiAugmented(s, dir), "text", "source")
        .orderBy("source")
    },
    // q146: the q59 planted-PII chain (source carried through), rolled
    // up per source with the same staged counts.
      s"""WITH aug AS (
         |  SELECT doc_id, source,
         |    text || ' contact user' || doc_id::VARCHAR ||
         |    '@mail.example.org via https://ex.org/u/' || doc_id::VARCHAR ||
         |    ' tel 555' || lpad(doc_id::VARCHAR, 7, '0') ||
         |    ' ph 555-' || lpad((doc_id % 1000)::VARCHAR, 3, '0') ||
         |    '-' || lpad((doc_id % 10000)::VARCHAR, 4, '0') ||
         |    ' ip 10.' || (doc_id % 256)::VARCHAR || '.0.7' AS text
         |  FROM documents
         |), st AS (
         |  SELECT doc_id, source, text,
         |    regexp_replace(text, '${Text.UrlRe}', '<URL>', 'g') AS u
         |  FROM aug
         |), st2 AS (
         |  SELECT doc_id, source, text, u,
         |    regexp_replace(u, '${Text.EmailRe}', '<EMAIL>', 'g') AS e
         |  FROM st
         |), st3 AS (
         |  SELECT doc_id, source, text, u, e,
         |    regexp_replace(e, '${Text.PhoneRe}', '<PHONE>', 'g') AS p
         |  FROM st2
         |), st4 AS (
         |  SELECT doc_id, source, text, u, e, p,
         |    regexp_replace(p, '${Text.Ipv4Re}', '<IP>', 'g') AS i
         |  FROM st3
         |), pcn AS (
         |  SELECT source,
         |    len(regexp_extract_all(text, '${Text.UrlRe}'))::BIGINT AS nu,
         |    len(regexp_extract_all(u, '${Text.EmailRe}'))::BIGINT AS ne,
         |    len(regexp_extract_all(e, '${Text.PhoneRe}'))::BIGINT AS np,
         |    len(regexp_extract_all(p, '${Text.Ipv4Re}'))::BIGINT AS ni,
         |    len(regexp_extract_all(i, '${Text.LongNumRe}'))::BIGINT AS nn
         |  FROM st4
         |)
         |SELECT source, count(*)::BIGINT AS n_docs,
         |  sum(CASE WHEN nu + ne + np + ni + nn > 0 THEN 1 ELSE 0 END)
         |    ::BIGINT AS docs_with_pii,
         |  sum(nu)::BIGINT AS n_urls, sum(ne)::BIGINT AS n_emails,
         |  sum(np)::BIGINT AS n_phones, sum(ni)::BIGINT AS n_ips,
         |  sum(nn)::BIGINT AS n_long_nums,
         |  ${Portable.sqlIntRatio9(
             "sum(CASE WHEN nu + ne + np + ni + nn > 0 THEN 1 ELSE 0 END)",
             "count(*)")} AS pii_doc_ratio
         |FROM pcn GROUP BY source ORDER BY source""".stripMargin),

    // C4-style normalization (lowercase, strip, collapse whitespace).
    Query("q46_normalize", (s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"), Text.normalize(col("text")).as("norm"))
        .withColumn("n_chars", length(col("norm")).cast("long"))
        .orderBy("doc_id")
    },
      """SELECT doc_id,
        |  trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'),
        |       ' +', ' ', 'g')) AS norm,
        |  length(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'),
        |       ' +', ' ', 'g')))::BIGINT AS n_chars
        |FROM documents ORDER BY doc_id""".stripMargin),

    // Token-budget chunking: documents -> <=64-token training rows.
    Query("q47_chunks", (s, dir) => {
      Text.chunk(t(s, dir, "documents"), "text", 64)
        .orderBy("doc_id", "chunk_idx")
    },
    // q47: chunk i is the 1-based inclusive slice t[i*64+1 : i*64+64]
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |ch AS (
        |  SELECT doc_id, i AS chunk_idx,
        |    array_to_string(t[i*64+1 : i*64+64], ' ') AS chunk,
        |    len(t[i*64+1 : i*64+64])::BIGINT AS n_tokens
        |  FROM toks, LATERAL (SELECT unnest(range(0, (len(t) + 63) // 64)) AS i) _
        |)
        |SELECT doc_id, chunk_idx, n_tokens, chunk FROM ch
        |ORDER BY doc_id, chunk_idx""".stripMargin),

    // Strided context windows: 48-token windows every 32 tokens — the
    // overlapping long-context-LM variant of q47's disjoint chunks.
    Query("q94_chunks_strided", (s, dir) => {
      Text.chunkStrided(t(s, dir, "documents"), "text",
        StrideWindowTokens, StrideTokens)
        .orderBy("doc_id", "window_idx")
    },
    // q94: window i covers the 1-based inclusive slice
    // t[i*stride+1 : i*stride+window]; starts while i*stride < len.
      s"""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
         |w AS (
         |  SELECT doc_id, i AS window_idx, (i*$StrideTokens)::BIGINT AS start_tok,
         |    array_to_string(t[i*$StrideTokens+1 : i*$StrideTokens+$StrideWindowTokens], ' ') AS chunk,
         |    len(t[i*$StrideTokens+1 : i*$StrideTokens+$StrideWindowTokens])::BIGINT AS n_tokens
         |  FROM toks, LATERAL
         |    (SELECT unnest(range(0, (len(t) - 1) // $StrideTokens + 1)) AS i) _
         |)
         |SELECT doc_id, window_idx, start_tok, n_tokens, chunk FROM w
         |ORDER BY doc_id, window_idx""".stripMargin),

    // Per-doc OOV stats against the corpus top-500 token vocabulary.
    Query("q96_oov_stats", (s, dir) => {
      Text.oovStats(t(s, dir, "documents"), "text", OovVocabSize)
        .orderBy("doc_id")
    },
    // q96: vocab = top-500 tokens by (count DESC, token ASC) — the
    // same deterministic tiebreak as the Spark TakeOrderedAndProject.
      s"""WITH tok AS (
         |  SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
         |),
         |vc AS (
         |  SELECT w FROM (SELECT w, count(*) AS c FROM tok GROUP BY w
         |                 ORDER BY c DESC, w ASC LIMIT $OovVocabSize) _
         |)
         |SELECT t.doc_id, count(*)::BIGINT AS n_tokens,
         |  sum(CASE WHEN vc.w IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_oov,
         |  ${Portable.sqlIntRatio9(
             "sum(CASE WHEN vc.w IS NULL THEN 1 ELSE 0 END)",
             "count(*)")} AS oov_ratio
         |FROM tok t LEFT JOIN vc ON t.w = vc.w
         |GROUP BY t.doc_id ORDER BY doc_id""".stripMargin),

    // Corpus drift: top KL(A||B)-contributing tokens between the even-
    // and odd-doc_id halves of the corpus (snapshot-vs-snapshot audit).
    Query("q103_unigram_drift", (s, dir) => {
      val d = t(s, dir, "documents")
      Text.unigramDrift(d.filter(col("doc_id") % 2 === 0),
          d.filter(col("doc_id") % 2 === 1), "text", DriftTopK)
        .orderBy(col("kl_term").desc, col("w").asc)
    },
    // q103: add-half smoothed unigram probs over the union vocab; every
    // numerator/denominator is an exact x.5 double from integer counts,
    // so the division/ln/product chain is bit-identical cross-engine.
      s"""WITH ca AS (
         |  SELECT w, count(*)::BIGINT AS ca FROM (
         |    SELECT unnest(string_split(text, ' ')) AS w FROM documents
         |    WHERE doc_id % 2 = 0) _ GROUP BY w
         |),
         |cb AS (
         |  SELECT w, count(*)::BIGINT AS cb FROM (
         |    SELECT unnest(string_split(text, ' ')) AS w FROM documents
         |    WHERE doc_id % 2 = 1) _ GROUP BY w
         |),
         |j AS (
         |  SELECT coalesce(ca.w, cb.w) AS w, coalesce(ca.ca, 0) AS ca,
         |         coalesce(cb.cb, 0) AS cb
         |  FROM ca FULL OUTER JOIN cb ON ca.w = cb.w
         |),
         |tot AS (SELECT sum(ca)::DOUBLE AS na, sum(cb)::DOUBLE AS nb,
         |               count(*)::DOUBLE AS v FROM j),
         |p AS (
         |  SELECT w, ca, cb, na, nb, v,
         |         (ca + 0.5) / (na + 0.5 * v) AS pa,
         |         (cb + 0.5) / (nb + 0.5 * v) AS pb
         |  FROM j, tot
         |)
         |SELECT w,
         |  ${Portable.sqlIntRatio9("2 * ca + 1",
             "CAST(2 * na AS BIGINT) + CAST(v AS BIGINT)")} AS p_a,
         |  ${Portable.sqlIntRatio9("2 * cb + 1",
             "CAST(2 * nb AS BIGINT) + CAST(v AS BIGINT)")} AS p_b,
         |  round(CAST(CAST(floor(round(pa * ln(pa / pb), 9) * 1e9 + 0.5) AS BIGINT) AS DOUBLE) / 1e9, 9) AS kl_term
         |FROM p ORDER BY kl_term DESC, w ASC LIMIT $DriftTopK""".stripMargin),

    // Per-source lexical-diversity data-card rollup: token/type/hapax
    // counts, TTR, hapax share — template-heavy and noisy sources
    // surface even when per-doc quality averages look fine.
    Query("q110_lexical_diversity", (s, dir) => {
      Text.lexicalDiversity(t(s, dir, "documents"), "text", "source")
        .orderBy("source")
    },
    // q110: per-source type/token/hapax rollup over the same
    // whitespace tokenization as every text oracle.
      s"""WITH tf AS (
         |  SELECT source, w, count(*)::BIGINT AS c FROM (
         |    SELECT source, unnest(string_split(text, ' ')) AS w
         |    FROM documents) _
         |  GROUP BY source, w
         |),
         |per AS (
         |  SELECT source, CAST(sum(c) AS BIGINT) AS n_tokens,
         |    count(*)::BIGINT AS n_types,
         |    CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_hapax
         |  FROM tf GROUP BY source
         |),
         |d AS (SELECT source, count(*)::BIGINT AS n_docs
         |      FROM documents GROUP BY source)
         |SELECT d.source, d.n_docs,
         |  coalesce(per.n_tokens, 0) AS n_tokens,
         |  coalesce(per.n_types, 0) AS n_types,
         |  ${Portable.sqlIntRatio9("per.n_types", "per.n_tokens")} AS ttr,
         |  coalesce(per.n_hapax, 0) AS n_hapax,
         |  ${Portable.sqlIntRatio9("per.n_hapax", "per.n_types")}
         |    AS hapax_ratio
         |FROM d LEFT JOIN per USING (source)
         |ORDER BY source""".stripMargin),

    // BM25 ranked retrieval: the low-id documents query the rest of
    // the corpus — exact rational tf-norm, 9dp idf, per-term
    // integerized contributions summed in LONG (lexical retrieval the
    // hybrid/hard-negative/decontamination stacks build on).
    Query("q175_bm25_topk", (s, dir) => {
      val docs = t(s, dir, "documents")
      Text.bm25TopK(
          docs.filter(col("doc_id") >= RetrievalQueryDocs)
            .select(col("doc_id"), col("text")),
          docs.filter(col("doc_id") < RetrievalQueryDocs)
            .select(col("doc_id").as("query_id"), col("text")),
          "text", TopK, Bm25MaxDfShare)
        .orderBy("query_id", "rnk")
    },
    // q175: the exact-rational BM25 — idf 9dp-rounded (the q56 ln
    // discipline), tf-norm a ratio of exact BIGINTs (k1 = 6/5,
    // b = 3/4 clear every denominator), per-term contributions
    // integerized then summed in BIGINT.
      s"""$bm25SqlCtes
         |SELECT query_id, rnk, doc_id, score_i,
         |  round(CAST(CAST(floor(round(CAST(score_i AS DOUBLE) / 1e9, 9) * 1e9 + 0.5) AS BIGINT) AS DOUBLE) / 1e9, 9) AS score
         |FROM rk ORDER BY query_id, rnk""".stripMargin),

    // Hybrid retrieval: the q175 lexical list fused with the exact
    // embedding-cosine list (same query/corpus split on the embeddings
    // table) by reciprocal-rank fusion — ranks only, exact integer
    // weights 1e9 div (60 + rank).
    Query("q176_rrf_hybrid", (s, dir) => {
      val docs = t(s, dir, "documents")
      val lex = Text.bm25TopK(
          docs.filter(col("doc_id") >= RetrievalQueryDocs)
            .select(col("doc_id"), col("text")),
          docs.filter(col("doc_id") < RetrievalQueryDocs)
            .select(col("doc_id").as("query_id"), col("text")),
          "text", TopK, Bm25MaxDfShare)
        .select(col("query_id"), col("doc_id"), col("rnk"))
      val emb = t(s, dir, "embeddings")
      val sem = Similarity.cosineTopK(
          emb.filter(col("vec_id") >= RetrievalQueryDocs),
          emb.filter(col("vec_id") < RetrievalQueryDocs), TopK)
        .select(col("probe_id").as("query_id"),
          col("vec_id").as("doc_id"), col("rnk"))
      RecEval.rrfFuse(Seq(lex, sem), RrfC, TopK)
        .orderBy("query_id", "rnk")
    },
    // q176: the UNCHANGED q175 lexical body + the q16-shaped exact
    // cosine list on the same split, fused by exact integer
    // 1e9 div (60 + rank) weights.
      s"""$bm25SqlCtes,
         |emb AS (
         |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE))
         |    AS v
         |  FROM embeddings
         |),
         |cp AS (SELECT vec_id, v FROM emb
         |       WHERE vec_id >= $RetrievalQueryDocs),
         |pp AS (SELECT vec_id AS query_id, v AS pv FROM emb
         |       WHERE vec_id < $RetrievalQueryDocs),
         |cs AS (
         |  SELECT query_id, vec_id AS doc_id,
         |    ${Portable.sqlRatio9(cosSql("v", "pv"))} AS cos
         |  FROM cp, pp
         |),
         |semr AS (
         |  SELECT query_id, doc_id,
         |    CAST(row_number() OVER (PARTITION BY query_id
         |      ORDER BY cos DESC, doc_id ASC) AS BIGINT) AS rnk
         |  FROM cs QUALIFY rnk <= $TopK
         |),
         |u AS (
         |  SELECT query_id, doc_id, rnk FROM rk
         |  UNION ALL
         |  SELECT query_id, doc_id, rnk FROM semr
         |),
         |f AS (
         |  SELECT query_id, doc_id, count(*)::BIGINT AS n_lists,
         |    sum(CAST(floor(1000000000 / ($RrfC + rnk)) AS BIGINT))::BIGINT
         |      AS rrf_i
         |  FROM u GROUP BY 1, 2
         |),
         |fr AS (
         |  SELECT query_id, doc_id, n_lists, rrf_i,
         |    CAST(row_number() OVER (PARTITION BY query_id
         |      ORDER BY rrf_i DESC, doc_id ASC) AS BIGINT) AS rnk
         |  FROM f QUALIFY rnk <= $TopK
         |)
         |SELECT query_id, rnk, doc_id, n_lists, rrf_i,
         |  round(CAST(CAST(floor(round(CAST(rrf_i AS DOUBLE) / 1e9, 9) * 1e9 + 0.5) AS BIGINT) AS DOUBLE) / 1e9, 9) AS rrf
         |FROM fr ORDER BY query_id, rnk""".stripMargin),

    // PMI collocation table: adjacent-pair mutual information over the
    // corpus (count-floored), with the normalized [-1,1] variant —
    // the phrase-mining table a phrase-aware tokenizer consumes.
    Query("q181_pmi_collocations", (s, dir) => {
      Text.pmiCollocations(t(s, dir, "documents"), "text", PmiMinCount)
        .orderBy("w1", "w2")
    },
    // q181: the same exact-integer ratio inside one ln per score (the
    // q56 discipline); NPMI NULL at the one-bigram-corpus edge.
    {
      val ratio = "CAST(b.cnt_xy AS DOUBLE) * CAST(t_u AS DOUBLE)" +
        " * CAST(t_u AS DOUBLE) / CAST(ux.c AS DOUBLE)" +
        " / CAST(uy.c AS DOUBLE) / CAST(t_b AS DOUBLE)"
      s"""WITH tok AS (SELECT string_split(text, ' ') AS t FROM documents),
         |bp AS (
         |  SELECT unnest(list_transform(range(1, len(t)),
         |    i -> {'w1': t[i], 'w2': t[i + 1]})) AS p
         |  FROM tok
         |),
         |big AS (
         |  SELECT p.w1 AS w1, p.w2 AS w2, count(*)::BIGINT AS cnt_xy
         |  FROM bp GROUP BY 1, 2
         |),
         |uni AS (
         |  SELECT w, count(*)::BIGINT AS c
         |  FROM (SELECT unnest(t) AS w FROM tok) GROUP BY w
         |),
         |tu AS (SELECT sum(c)::BIGINT AS t_u FROM uni),
         |tb AS (SELECT sum(cnt_xy)::BIGINT AS t_b FROM big)
         |SELECT b.w1, b.w2, b.cnt_xy, ux.c AS c_x, uy.c AS c_y,
         |  round(CAST(CAST(floor(round(ln($ratio), 9) * 1e9 + 0.5) AS BIGINT) AS DOUBLE) / 1e9, 9) AS pmi,
         |  CASE WHEN b.cnt_xy < t_b THEN
         |    round(CAST(CAST(floor(round(ln($ratio)
         |      / -ln(CAST(b.cnt_xy AS DOUBLE) / CAST(t_b AS DOUBLE)), 9) * 1e9 + 0.5) AS BIGINT) AS DOUBLE) / 1e9, 9)
         |  END AS npmi
         |FROM big b JOIN uni ux ON ux.w = b.w1
         |           JOIN uni uy ON uy.w = b.w2
         |CROSS JOIN tu CROSS JOIN tb
         |WHERE b.cnt_xy >= $PmiMinCount
         |ORDER BY b.w1, b.w2""".stripMargin
    }),

    // WordPiece fertility: the q116 tokenizer-evaluation rollup per
    // (source, lang) slice, with the mined-vocab greedy segmentation
    // instead of learned BPE merges — the head-to-head that prices
    // the one-pass vocab against the learning loop.
    Query("q216_wordpiece_fertility", (s, dir) => {
      val docs = t(s, dir, "documents")
      val wcnt = Bpe.wordCounts(docs, "text")
        .filter(length(col("word")) <= WpMaxWordLen)
      val vocab = Bpe.wordpieceVocab(wcnt, WpMaxPiece, WpMinCount)
      val seg = Bpe.wordpieceSegment(wcnt, vocab, WpMaxPiece)
        .select(col("word"), col("pieces").as("symbols"))
      Bpe.fertility(docs, "text", seg, Seq("source", "lang"))
        .orderBy("source", "lang")
    },
    // q216: the q116 fertility rollup over the WordPiece segmentation
    // — per-word token counts are the chain-state counts; words over
    // the length cap fall back to character segmentation (the same
    // OOV convention as Bpe.fertility).
      s"""WITH RECURSIVE $wordpieceCtesSql,
         |-- chain carries the terminal state (s = len+1, no jump);
         |-- pieces are the states that HAVE a jump
         |wl AS (SELECT c.word, count(*)::BIGINT AS toks FROM chain c
         |       JOIN jump j ON j.word = c.word AND j.s = c.s
         |       GROUP BY 1),
         |ftok AS (
         |  SELECT source, lang, doc_id, t[i] AS word
         |  FROM (SELECT source, lang, doc_id, string_split(text, ' ') AS t
         |        FROM documents) _,
         |       LATERAL (SELECT unnest(range(1, len(t) + 1)) AS i) __
         |  WHERE t[i] <> ''
         |),
         |fseg AS (
         |  SELECT f.source, f.lang, f.doc_id,
         |    length(f.word)::BIGINT AS chars,
         |    coalesce(wl.toks, length(f.word))::BIGINT AS toks
         |  FROM ftok f LEFT JOIN wl ON f.word = wl.word
         |)
         |SELECT source, lang, count(DISTINCT doc_id)::BIGINT AS n_docs,
         |  count(*)::BIGINT AS n_words, sum(toks)::BIGINT AS n_tokens,
         |  sum(chars)::BIGINT AS n_chars,
         |  ${Portable.sqlIntRatio9("sum(toks)", "count(*)")} AS fertility,
         |  ${Portable.sqlIntRatio9("sum(chars)", "sum(toks)")}
         |    AS chars_per_token
         |FROM fseg GROUP BY source, lang
         |ORDER BY source, lang""".stripMargin),

    // WordPiece tokenizer end-to-end on the corpus vocabulary:
    // frequency-mined position-aware pieces, greedy longest-match
    // segmentation (no learning loop — the one-pass alternative to
    // q81's BPE), reported as the corpus subword-frequency table.
    Query("q214_wordpiece_tokens", (s, dir) => {
      val wcnt = Bpe.wordCounts(t(s, dir, "documents"), "text")
        .filter(length(col("word")) <= WpMaxWordLen)
      val vocab = Bpe.wordpieceVocab(wcnt, WpMaxPiece, WpMinCount)
      Bpe.wordpieceSegment(wcnt, vocab, WpMaxPiece)
        .select(explode(col("pieces")).as("token"), col("count"))
        .groupBy(col("token")).agg(sum(col("count")).as("n"))
        .orderBy(col("n").desc, col("token"))
        .limit(WpTopOut)
    },
    // q214: the identical mine→prune→jump pipeline; the greedy chain
    // is a recursive pointer-chase over the per-position argmax jump
    // table (one jump per state — no aggregate in the recursion).
      s"""WITH RECURSIVE $wordpieceCtesSql,
         |toks AS (
         |  SELECT c.word, j.cnt,
         |    CASE WHEN c.s = 1
         |      THEN substring(c.word, CAST(c.s AS INT), CAST(j.jl AS INT))
         |      ELSE '##' || substring(c.word, CAST(c.s AS INT),
         |        CAST(j.jl AS INT)) END AS token
         |  FROM chain c JOIN jump j ON j.word = c.word AND j.s = c.s
         |)
         |SELECT token, sum(cnt)::BIGINT AS n FROM toks GROUP BY 1
         |ORDER BY n DESC, token LIMIT $WpTopOut""".stripMargin)
  )
}

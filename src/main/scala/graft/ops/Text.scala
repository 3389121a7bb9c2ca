package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for LLM-training-data pipelines (SURVEY.md §7.4):
  * tokenization, token counting, shingling, quality scoring, language ID,
  * document fingerprinting, SimHash.
  *
  * These generalize the reference's basket/vocab pipeline
  * (`pipeline/data_preprocessing/data_prep.py:47-105`) from product-id
  * sequences to token sequences: a document is a basket of words. All
  * operators are per-row column expressions (map-only, no shuffle) except
  * where a groupBy is semantically required — the 100 TB posture is "the
  * corpus never moves; only signatures/fingerprints do".
  *
  * Every stochastic-looking choice (hash seeds, profiles) is a pure
  * function of row content via [[Portable]], so results are bit-for-bit
  * reproducible and DuckDB-oracle-able.
  */
object Text {

  /** Whitespace tokenization — single-space split, matching DuckDB
    * `string_split(text, ' ')` exactly (fixture text is single-spaced). */
  def tokens(text: Column): Column = split(text, " ")

  /** Word-regex tokenization (BPE-ish lower bound): maximal runs of
    * letters or digits. Same RE2-safe pattern both engines. */
  val WordPattern = "[a-zA-Z]+|[0-9]+"
  def wordTokens(text: Column): Column =
    regexp_extract_all(text, lit(WordPattern), lit(0))

  /** Distinct token n-gram shingles of an array column; empty when the
    * document has fewer than n tokens. Native single-pass expression
    * ([[graft.functions.TokenShingles]], r15) — value-identical to the
    * previous `transform(sequence…)` + `concat_ws` + `array_distinct`
    * chain (TextSpec pins it) but ~an order of magnitude cheaper: the
    * HOF chain ran interpreted and re-bound a lambda per element.
    * DuckDB oracle twin unchanged ([[shinglesSql]]). */
  def shingles(toks: Column, n: Int): Column =
    graft.functions.TokenShingles.col(toks, n, distinct = true)

  /** DuckDB fragment: distinct n-gram shingles of list column `t`. */
  def shinglesSql(t: String, n: Int): String = {
    val parts = (0 until n).map(o => s"$t[i+$o]").mkString(", ")
    s"list_distinct(list_transform(range(1, greatest(0, len($t) - ${n - 2})), " +
      s"i -> concat_ws(' ', $parts)))"
  }

  /** DuckDB fragment: ALL n-gram shingles (repeats kept) of list `t` —
    * the oracle twin of the non-distinct gram array [[repetitionStats]]
    * counts over. */
  def shinglesAllSql(t: String, n: Int): String = {
    val parts = (0 until n).map(o => s"$t[i+$o]").mkString(", ")
    s"list_transform(range(1, greatest(0, len($t) - ${n - 2})), " +
      s"i -> concat_ws(' ', $parts))"
  }

  /** Per-document token statistics: whitespace tokens, word tokens, chars,
    * mean token length, and the ~4-chars-per-token BPE estimate. */
  def tokenStats(df: DataFrame, textCol: String): DataFrame =
    df.select(col("doc_id"),
      size(tokens(col(textCol))).cast("long").as("n_ws_tokens"),
      size(wordTokens(col(textCol))).cast("long").as("n_word_tokens"),
      length(col(textCol)).cast("long").as("n_chars"),
      Portable.intRatio9(length(col(textCol)).cast("long"),
        size(tokens(col(textCol))).cast("long")).as("mean_tok_len"),
      ceil(length(col(textCol)) / lit(4.0)).cast("long").as("est_bpe_tokens"))

  /** English-stopword mini-list used by the quality score (public,
    * standard top stopwords). */
  val EnStopwords: Seq[String] =
    Seq("the", "a", "an", "and", "of", "to", "in", "is", "it", "that")

  /** Per-document quality metrics + composite score — the length /
    * punctuation / stopword-ratio heuristics of C4/Gopher-style cleaning,
    * as pure scalar expressions (map-only). Score is a clamped weighted
    * sum, rounded for cross-engine float stability. */
  def qualityScore(df: DataFrame, textCol: String): DataFrame =
    qualityScore(df, textCol, Nil)

  /** The composite `quality_score` of [[qualityScore]] as ONE scalar
    * column — same integral arithmetic, same NULL-on-empty guard —
    * for consumers that need only the score (the curation funnel's
    * quality gate computes it once into its persisted frame and
    * filters on the stored value; no join, no second projection).
    * Value-identical to `qualityScore(df, c)("quality_score")`
    * (TextSpec pins it). */
  def qualityScoreColumn(t: Column): Column = {
    val toks = tokens(t)
    val nT = size(toks).cast("long")
    val nC = length(t).cast("long")
    val aC = nC - length(regexp_replace(t, "[a-z A-Z]", "")).cast("long")
    val dC = nC - length(regexp_replace(t, "[0-9]", "")).cast("long")
    val sC = segmentHits(t, EnStopwords)
    val ok = when(nT >= 10 && nT <= 1000, lit(1L)).otherwise(lit(0L))
    val dec = "decimal(38,0)"
    val num = lit(4L) * ok * nC.cast(dec) * nT +
      lit(3L) * aC.cast(dec) * nT + lit(2L) * sC.cast(dec) * nC +
      (nC - dC).cast(dec) * nT
    val den = lit(10L) * nC.cast(dec) * nT
    val s9 = least(lit(1000000000L),
      greatest(lit(0L), Portable.intRatioScaled(num, den, 9)))
    when(nC > 0 && nT > 0, s9.cast("double") / lit(1e9))
  }

  /** [[repetitionStats]]'s `dup_ngram_ratio` as ONE scalar column over
    * an already-materialized gram ARRAY (e.g. `shinglesAll(toks, n)`):
    * `1 − distinct/total` of the (non-distinct) n-gram multiset, NULL
    * when the document has no n-grams (fewer than n tokens) — exactly
    * the relational op's semantics (left-join NULL there, guarded
    * `when` here; TextSpec pins value equality). Map-only: the funnel's
    * repetition gate computes this once into its persisted frame
    * instead of paying the explode + two doc-keyed shuffles + join-back
    * of the full relational report.
    *
    * Pass a column attribute from a lower projection, not the gram
    * expression itself: the ratio references its input three times (two
    * sizes + distinct), so an inlined expression re-builds the grams per
    * reference (the funnel computes `__g` once next to `__t`; likewise
    * the tokens under it — inlining `split` re-runs it per `element_at`,
    * the documented fingerprints trap). */
  def dupNgramRatioFromGrams(grams: Column): Column = {
    val total = size(grams).cast("long")
    when(total > 0, Portable.intRatio9(
      total - size(array_distinct(grams)).cast("long"), total))
  }

  /** [[qualityScore]] with extra input columns passed through — lets a
    * rollup ([[Quality.corpusReport]]) group the per-doc scores without
    * a corpus-sized join back to the metadata. */
  def qualityScore(df: DataFrame, textCol: String,
                   keep: Seq[String]): DataFrame = {
    val t = col(textCol)
    val toks = tokens(t)
    val nT = size(toks).cast("long")
    val nC = length(t).cast("long")
    val aC = nC - length(regexp_replace(t, "[a-z A-Z]", "")).cast("long")
    val dC = nC - length(regexp_replace(t, "[0-9]", "")).cast("long")
    // stopword hits via one codegen'd regex segment scan instead of the
    // interpreted filter-isin HOF — value-identical ([[segmentHits]]),
    // and this op runs on every curation gate's hot path
    val sC = segmentHits(t, EnStopwords)
    val ok = when(nT >= 10 && nT <= 1000, lit(1L)).otherwise(lit(0L))
    // score = 0.4·ok + 0.3·a/L + 0.2·s/T + 0.1·(L−d)/L with cleared
    // denominators — (4·ok·L·T + 3·a·T + 2·s·L + (L−d)·T)/(10·L·T) —
    // so the composite is ONE exact integral division, clamped in
    // integer land: no double round() of a raw quotient anywhere (the
    // q218/q219 driver-version-sensitivity class).
    val dec = "decimal(38,0)"
    val num = lit(4L) * ok * nC.cast(dec) * nT +
      lit(3L) * aC.cast(dec) * nT + lit(2L) * sC.cast(dec) * nC +
      (nC - dC).cast(dec) * nT
    val den = lit(10L) * nC.cast(dec) * nT
    val s9 = least(lit(1000000000L),
      greatest(lit(0L), Portable.intRatioScaled(num, den, 9)))
    // intRatio9's contract is "caller guards den > 0": empty text has
    // nC = 0 (and a null doc nulls nT), so every ratio short-circuits
    // to NULL via when() instead of tripping ANSI DIVIDE_BY_ZERO (the
    // batch funnels filter empties upstream, but this is a public
    // operator run over raw documents)
    df.select(col("doc_id") +: keep.map(col) ++: Seq(
      nT.as("n_tokens"),
      when(nC > 0, Portable.intRatio9(aC, nC)).as("alpha_ratio"),
      when(nC > 0, Portable.intRatio9(dC, nC)).as("digit_ratio"),
      when(nT > 0, Portable.intRatio9(sC, nT)).as("stopword_ratio"),
      ok.as("len_ok"),
      when(nC > 0 && nT > 0, s9.cast("double") / lit(1e9))
        .as("quality_score")): _*)
  }

  /** Stopword profile per language for the n-gram/stopword language-ID
    * heuristic — tiny public word lists; scoring is hit-count per language
    * with deterministic tiebreak (count DESC, lang ASC), 'und' when no
    * profile word occurs. */
  val LangProfile: Seq[(String, String)] = Seq(
    "en" -> "the", "en" -> "a", "en" -> "of", "en" -> "and", "en" -> "is",
    "de" -> "der", "de" -> "die", "de" -> "und", "de" -> "das", "de" -> "ist",
    "fr" -> "le", "fr" -> "la", "fr" -> "et", "fr" -> "les", "fr" -> "est",
    "es" -> "el", "es" -> "los", "es" -> "que", "es" -> "y", "es" -> "es",
    "zh" -> "的", "zh" -> "是", "zh" -> "了", "zh" -> "在", "zh" -> "不")

  /** DuckDB VALUES list mirroring [[LangProfile]]. */
  def langProfileSql: String =
    LangProfile.map { case (l, w) => s"('$l','$w')" }.mkString(", ")

  /** Language ID: join exploded tokens against the profile, argmax hits
    * per doc (count DESC, lang ASC), left-join back with 'und' fallback.
    * The profile is broadcast; the token explode never leaves its
    * partition until the per-doc count agg. */
  def languageId(df: DataFrame, textCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val spark = df.sparkSession
    import spark.implicits._
    val profile = LangProfile.toDF("plang", "w")
    val hits = df.select(col("doc_id"), explode(tokens(col(textCol))).as("w"))
      .join(broadcast(profile), Seq("w"))
      .groupBy(col("doc_id"), col("plang"))
      .agg(count(lit(1)).as("n"))
    val best = hits.withColumn("r", row_number().over(
        Window.partitionBy(col("doc_id"))
          .orderBy(desc("n"), asc("plang"))))
      .filter(col("r") === 1)
      .select(col("doc_id"), col("plang"), col("n"))
    df.select(col("doc_id"), col("lang"))
      .join(best, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("plang"), lit("und")).as("pred_lang"),
        coalesce(col("n"), lit(0L)).as("n_hits"),
        col("lang"))
  }

  /** Count of `split(text, " ")` segments exactly equal to one of
    * `words`, as a pure codegen'd expression: a segment equals w iff
    * the padded string `' ' + text + ' '` contains `' w '` at that
    * position, so `regexp_count` with space lookarounds counts EXACT
    * token membership — for ANY text, not just normalized text
    * (consecutive spaces make empty segments, which no non-empty word
    * matches; a tab or newline glued to a word fails the lookaround
    * exactly as it fails `==`). Replaces the interpreted
    * `size(filter(toks, isin))` HOF — one native regex scan of the
    * string instead of an array traversal + array allocation per call
    * (the r15 streaming-gate measurement: the 5-language HOF fold
    * alone cost 1.5 s over the sf0.1 corpus). `words` must be
    * non-empty, space-free and regex-meta-free (the profile/stopword
    * lists are). */
  private[graft] def segmentHits(text: Column, words: Seq[String]): Column =
    regexp_count(concat(lit(" "), text, lit(" ")),
      lit(words.mkString("(?<= )(", "|", ")(?= )"))).cast("long")

  /** Map-only TEXT form of [[languageId]] — hit counts via
    * [[segmentHits]] (one codegen'd regex scan per profile language);
    * the argmax folds in ascending language order with a strict `>`,
    * which reproduces [[languageId]]'s (count DESC, lang ASC) tiebreak
    * and its 'und' fallback exactly (TextSpec pins equality on the
    * full fixture corpus). */
  def langIdTextColumn(text: Column): Column = {
    val byLang = LangProfile.groupBy(_._1).view
      .mapValues(_.map(_._2)).toSeq.sortBy(_._1)
    byLang.foldLeft(struct(lit(0L).as("n"), lit("und").as("l"))) {
      case (acc, (lg, ws)) =>
        val n = segmentHits(text, ws)
        when(n > acc.getField("n"),
          struct(n.as("n"), lit(lg).as("l"))).otherwise(acc)
    }.getField("l")
  }

  /** Map-only column form of [[languageId]] — the STREAM-SAFE language
    * gate: no explode, no aggregation, no window, so it runs inside a
    * `writeStream` pipeline in append mode where the relational form
    * (groupBy + rank) cannot. Token-array compatibility wrapper over
    * [[langIdTextColumn]]: `array_join(toks, " ")` reconstructs the
    * exact space-delimited segment list the counts are defined over
    * (tokens never contain a space — they came from splitting on it),
    * so the two forms are value-identical; callers holding the TEXT
    * should call [[langIdTextColumn]] directly and skip the join. */
  def langIdColumn(toks: Column): Column =
    langIdTextColumn(array_join(toks, " "))

  /** C4-style text normalization: lowercase, non-alphanumeric → space,
    * collapse space runs, trim. Pure per-row scalar chain (map-only),
    * identical regex semantics in the DuckDB oracle (its regexp_replace
    * needs the 'g' flag; Spark's replaces all matches by default). */
  def normalize(text: Column): Column =
    trim(regexp_replace(
      regexp_replace(lower(text), "[^a-z0-9 ]", " "), " +", " "))

  /** Token-budget document chunking — the training-data step that turns
    * documents into ≤ chunkTokens-token training rows on whitespace
    * boundaries. Per-row array expression (tokens materialized once in
    * their own projection — no re-split per chunk), chunks exploded to
    * (doc_id, chunk_idx, n_tokens, chunk); the fan-out stays inside the
    * partition, no shuffle. Every doc emits ≥ 1 chunk (split() never
    * yields an empty array, so the sequence bound is always ≥ 0 — no
    * descending-sequence trap). */
  def chunk(df: DataFrame, textCol: String, chunkTokens: Int): DataFrame = {
    require(chunkTokens > 0, s"chunkTokens must be > 0, got $chunkTokens")
    val c = chunkTokens
    val chunks = expr(
      s"""transform(sequence(0, (size(__t) + ${c - 1}) div $c - 1),
         |  i -> struct(
         |    concat_ws(' ', slice(__t, i * $c + 1, $c)) AS chunk,
         |    size(slice(__t, i * $c + 1, $c)) AS n_toks))""".stripMargin)
    df.select(col("doc_id"), tokens(col(textCol)).as("__t"))
      .select(col("doc_id"), posexplode_outer(chunks).as(Seq("chunk_idx", "ch")))
      .filter(col("ch").isNotNull)
      .select(col("doc_id"), col("chunk_idx").cast("long").as("chunk_idx"),
        col("ch.n_toks").cast("long").as("n_tokens"),
        col("ch.chunk").as("chunk"))
  }

  /** Content-defined chunking — the CDC (rsync/LBFS) boundary rule at
    * token granularity: a new chunk starts at token i whenever the
    * keyed hash of the adjacent pair (tokenᵢ₋₁, tokenᵢ) is ≡ 0 mod
    * `divisor`, giving chunks of expected length `divisor` whose
    * boundaries move WITH the content. Unlike [[chunk]]'s fixed grid,
    * inserting or deleting a prefix shifts only the chunks up to the
    * next boundary — every later chunk re-aligns bit-identically
    * (TextSpec pins the law), which is what makes chunk-hash dedup and
    * incremental storage work across document revisions.
    *
    * Returns (doc_id, chunk_idx 0-based, n_tokens, chunk).
    *
    * Shape: posexplode → ONE doc-keyed window shuffle evaluating both
    * the pair-hash boundary flag (lag) and its running sum (the chunk
    * index) under whole-stage codegen, then a (doc, chunk) rollup
    * reassembling token order — the same codegen-over-HOF trade as
    * [[fingerprints]]. Per-doc rows bound every partition; no skew
    * trap at corpus scale. */
  def chunkContentDefined(df: DataFrame, textCol: String, divisor: Int,
                          salt: String): DataFrame = {
    require(divisor >= 2, s"divisor must be >= 2, got $divisor")
    import org.apache.spark.sql.expressions.Window
    val wOrd = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    df.select(col("doc_id"),
        posexplode(tokens(col(textCol))).as(Seq("pos", "tok")))
      .withColumn("__prev", lag(col("tok"), 1).over(wOrd))
      .withColumn("__b", when(col("__prev").isNotNull &&
          pmod(Portable.seededHash(col("__prev"), col("tok"), lit(salt)),
            lit(divisor.toLong)) === 0L, 1L)
        .otherwise(0L))
      .withColumn("chunk_idx", sum(col("__b")).over(wOrd))
      .groupBy(col("doc_id"), col("chunk_idx"))
      .agg(count(lit(1)).as("n_tokens"),
        concat_ws(" ", transform(
          sort_array(collect_list(struct(col("pos").as("p"),
            col("tok").as("t")))), x => x.getField("t"))).as("chunk"))
  }

  /** Strided context windows — the overlapping variant of [[chunk]] used
    * when training long-context LMs: a window of `windowTokens` tokens
    * starts every `stride` tokens (stride < window ⇒ consecutive windows
    * overlap by window − stride tokens, the standard sliding-window
    * evaluation/training shape). Windows start at token offsets 0,
    * stride, 2·stride, … while the offset lands inside the document;
    * the final windows truncate at the document end rather than pad.
    *
    * Same 100 TB posture as [[chunk]]: tokens materialize once in their
    * own projection, the window fan-out is a per-row array expression
    * exploded in-partition — map-only, no shuffle, and the output is
    * ~window/stride × the corpus token count (callers pick the overlap
    * they are willing to store). Every doc emits ≥ 1 window (split()
    * never yields an empty array). */
  def chunkStrided(df: DataFrame, textCol: String, windowTokens: Int,
                   stride: Int): DataFrame = {
    require(windowTokens > 0, s"windowTokens must be > 0, got $windowTokens")
    require(stride > 0, s"stride must be > 0, got $stride")
    val w = windowTokens
    val windows = expr(
      s"""transform(sequence(0, (size(__t) - 1) div $stride),
         |  i -> struct(
         |    (i * $stride) AS start_tok,
         |    concat_ws(' ', slice(__t, i * $stride + 1, $w)) AS chunk,
         |    size(slice(__t, i * $stride + 1, $w)) AS n_toks))""".stripMargin)
    df.select(col("doc_id"), tokens(col(textCol)).as("__t"))
      .select(col("doc_id"),
        posexplode_outer(windows).as(Seq("window_idx", "ch")))
      .filter(col("ch").isNotNull)
      .select(col("doc_id"), col("window_idx").cast("long").as("window_idx"),
        col("ch.start_tok").cast("long").as("start_tok"),
        col("ch.n_toks").cast("long").as("n_tokens"),
        col("ch.chunk").as("chunk"))
  }

  /** Per-document out-of-vocabulary stats against the corpus top-K token
    * vocabulary — the coverage gate a tokenizer/embedding consumer needs:
    * documents whose tokens mostly fall outside the vocab (rare scripts,
    * noise, encoding damage) are cheap to flag before training. Vocab =
    * the `vocabSize` most frequent whitespace tokens, ties broken by
    * token ascending (deterministic, oracle-able — the same contract as
    * [[graft.ops.Vocab]]'s top-K).
    *
    * Relational shape: one token-keyed count agg builds the candidate
    * counts, the top-K selection is an `orderBy().limit()` — Spark's
    * `TakeOrderedAndProject`, a distributed per-partition top-K merge,
    * NOT a single-partition rank window over the (possibly 100M-row)
    * distinct-token table. The per-doc count is a doc-keyed agg over the
    * exploded tokens with the vocab met map-side via a broadcast left
    * join (vocabSize rows — never a corpus shuffle). Output: (doc_id,
    * n_tokens, n_oov, oov_ratio ∈ [0,1], rounded 9dp). */
  def oovStats(df: DataFrame, textCol: String, vocabSize: Int): DataFrame = {
    require(vocabSize > 0, s"vocabSize must be > 0, got $vocabSize")
    val tok = df.select(col("doc_id"),
      explode(tokens(col(textCol))).as("__w"))
    val vocab = tok.groupBy(col("__w")).agg(count(lit(1)).as("__c"))
      .orderBy(col("__c").desc, col("__w").asc).limit(vocabSize)
      .select(col("__w"), lit(1).as("__in"))
    tok.join(broadcast(vocab), Seq("__w"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("__in").isNull, 1L).otherwise(0L)).as("n_oov"))
      .select(col("doc_id"), col("n_tokens"), col("n_oov"),
        Portable.intRatio9(col("n_oov"), col("n_tokens")).as("oov_ratio"))
  }

  /** Length-bucketed batching audit: documents bucket to the smallest
    * power-of-two capacity ≥ their token count (clamped to
    * [minBucket, maxBucket]), and the report prices each bucket's
    * padding — the waste a dynamic-batching loader pays when every
    * sequence in a batch pads to the bucket capacity. Tokens beyond
    * `maxBucket` are `overflow` (what the loader truncates or
    * [[chunk]] must split upstream). Output per bucket:
    * (bucket, docs, tokens, padding, overflow) with
    * padding = Σ (bucket − min(n, maxBucket)).
    *
    * Together with [[graft.ops.Sampling.pack]] (zero waste, split
    * docs) and [[graft.ops.Sampling.packWhole]] (whole docs, padded
    * bins) this completes the batching-policy triangle: this report is
    * how the three are compared on a real corpus before choosing.
    *
    * Scale shape: the bucket is a chained CASE over ~log2(max/min)
    * constants — map-only, codegen'd, no lambda; the rollup's key
    * space IS those constants, so the shuffle is at most a dozen rows
    * per map task. */
  def lengthBuckets(df: DataFrame, textCol: String,
                    minBucket: Int, maxBucket: Int): DataFrame = {
    val bs = lengthBucketList(minBucket, maxBucket)
    val n = size(tokens(col(textCol))).cast("long")
    val bucket = bs.init.foldRight(lit(bs.last.toLong): Column) {
      (b, rest) => when(n <= b, lit(b.toLong)).otherwise(rest)
    }
    df.select(bucket.as("bucket"), n.as("__n"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("docs"),
        sum(col("__n")).as("tokens"),
        sum(col("bucket") - least(col("__n"), lit(maxBucket.toLong)))
          .as("padding"),
        sum(greatest(col("__n") - maxBucket, lit(0L))).as("overflow"))
  }

  /** The power-of-two capacities [[lengthBuckets]] buckets into —
    * shared with the oracle generator so both engines case over the
    * identical constant list. */
  def lengthBucketList(minBucket: Int, maxBucket: Int): Seq[Int] = {
    require(minBucket >= 1 && maxBucket >= minBucket,
      s"need 1 <= minBucket <= maxBucket, got $minBucket, $maxBucket")
    Iterator.iterate(minBucket)(_ * 2).takeWhile(_ < maxBucket).toSeq :+
      maxBucket
  }

  /** Per-group percentile calibration of a score column — SQL
    * `percent_rank() OVER (PARTITION BY group ORDER BY score)` with
    * identical tie semantics, so scores from sources with different
    * scales (one crawl's 0.6 is another's 0.9) become comparable
    * percentile ranks before a global quality cut or mixing policy.
    *
    * The naive window puts every row of a group in ONE partition — a
    * hot-source straggler sorting the full corpus slice at 100 TB.
    * This form never does: one (group, score) count agg compacts the
    * corpus (map-side combine), the cumulative window runs over that
    * compact frame only (partitions bounded by distinct scores per
    * group), and rows get their rank back through a (group, score)-
    * keyed equi join. Ties share a rank exactly as `percent_rank`
    * defines — (#strictly-lower rows) / (n − 1) — so the result is
    * bit-identical to the single-partition window. Groups of one row
    * get 0.0 (the SQL convention). Appends `pct_rank` (rounded 9dp);
    * `scoreCol` must be deterministic and exactly joinable (integers
    * or already-rounded doubles like [[qualityScore]]'s). */
  def scorePercentiles(df: DataFrame, scoreCol: String,
                       groupCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sc = df.groupBy(col(groupCol), col(scoreCol))
      .agg(count(lit(1)).as("__c"))
    val byScore = Window.partitionBy(col(groupCol))
      .orderBy(col(scoreCol).asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val whole = Window.partitionBy(col(groupCol))
    val ranks = sc
      .withColumn("__below",
        coalesce(sum(col("__c")).over(byScore), lit(0L)))
      .withColumn("__n", sum(col("__c")).over(whole))
      .select(col(groupCol), col(scoreCol),
        when(col("__n") > 1,
          Portable.intRatio9(col("__below"), col("__n") - lit(1)))
          .otherwise(lit(0.0)).as("pct_rank"))
    df.join(ranks, Seq(groupCol, scoreCol))
  }

  /** Gopher-style repetition signals (the duplication quality filters of
    * Rae et al. 2021 §A1.1, which length/stopword heuristics like
    * [[qualityScore]] cannot see): per document, the n-gram duplication
    * ratio `1 − distinct/total` and the fraction of all n-grams claimed
    * by the single most frequent one. High values flag boilerplate,
    * keyword spam and degenerate repetition. `n = 1` measures plain
    * token repetition; Gopher uses n in 2..4.
    *
    * Relational shape: explode all n-grams (in-partition fan-out, the
    * non-distinct twin of the [[shingles]] arrays) → one (doc, gram)
    * count agg → one per-doc agg — both shuffles keyed on the doc id,
    * group sizes bounded per document, nothing corpus-sized. Documents
    * with fewer than n tokens have no n-grams: counts 0, ratios NULL
    * (identical in the DuckDB oracle; spec-pinned).
    *
    * Delegates to [[repetitionStatsMulti]] with a one-element `ns` —
    * same plan shape, same results (q58 pins the hash). */
  def repetitionStats(df: DataFrame, textCol: String, n: Int): DataFrame = {
    require(n >= 1, s"n must be >= 1, got $n")
    repetitionStatsMulti(df, textCol, Seq(n))
      .select(col("doc_id"), col("n_ngrams"), col("n_distinct"),
        col("dup_ngram_ratio"), col("top_ngram_ratio"))
  }

  /** [[repetitionStats]] for SEVERAL n-gram sizes in ONE corpus scan —
    * Gopher's duplication gate reads n ∈ {2,3,4} together, and the
    * per-n call form pays one tokenize+explode pass per n. Here the
    * tokens materialize once, each n's (non-distinct) gram array is
    * tagged with its n inside the same projection, and ONE generate
    * explodes the concatenation — PlanSpec pins a single `split` for
    * three n values. Output: one row per (doc_id, n) with the same
    * stats columns as [[repetitionStats]]; docs with fewer than n
    * tokens get counts 0 and NULL ratios for that n.
    *
    * Scale shape is unchanged from the single-n form: the explode
    * fan-out stays in-partition, both aggregations key on the doc id
    * (now with n alongside — group sizes still bounded per document),
    * and the (doc, n) spine is a map-only literal-array explode. */
  def repetitionStatsMulti(df: DataFrame, textCol: String,
                           ns: Seq[Int]): DataFrame = {
    require(ns.nonEmpty, "ns must be non-empty")
    require(ns.forall(_ >= 1), s"every n must be >= 1: ${ns.mkString(",")}")
    require(ns.distinct.size == ns.size, s"ns must be distinct: ${ns.mkString(",")}")
    // Tokens materialized in their OWN projection before the gram HOFs —
    // the fingerprints trap: expression trees are not DAG-shared, so an
    // inlined split(text) would re-run per element_at (2n× per gram;
    // measured ~7× the single-n query's cost at sf0.1). explode_OUTER +
    // isNotNull — the Generate-pushdown trap: bare explode re-derives
    // the gram HOF below the projection.
    val tagged = concat(ns.map(n =>
      transform(shinglesAll(col("__t"), n), g =>
        struct(lit(n.toLong).as("n"), g.as("g")))): _*)
    val grams = df
      .select(col("doc_id"), tokens(col(textCol)).as("__t"))
      .select(col("doc_id"), explode_outer(tagged).as("__ng"))
      .filter(col("__ng").isNotNull)
      .select(col("doc_id"), col("__ng.n").as("n"), col("__ng.g").as("g"))
    val per = grams.groupBy(col("doc_id"), col("n"), col("g"))
      .agg(count(lit(1)).as("__c"))
      .groupBy(col("doc_id"), col("n"))
      .agg(sum(col("__c")).as("__total"),
        count(lit(1)).as("__distinct"),
        max(col("__c")).as("__top"))
    df.select(col("doc_id"), explode(typedLit(ns.map(_.toLong))).as("n"))
      .join(per, Seq("doc_id", "n"), "left")
      .select(col("doc_id"), col("n"),
        coalesce(col("__total"), lit(0L)).as("n_ngrams"),
        coalesce(col("__distinct"), lit(0L)).as("n_distinct"),
        // un-coalesced operands: no-gram docs yield NULL ratios, never 0/0
        Portable.intRatio9(col("__total") - col("__distinct"),
          col("__total")).as("dup_ngram_ratio"),
        Portable.intRatio9(col("__top"), col("__total"))
          .as("top_ngram_ratio"))
  }

  /** Token-level blocklist report — the C4-style "bad words" signal:
    * per document, occurrence and distinct-type counts of tokens on a
    * supplied blocklist. The canonical gate drops any document with a
    * single hit (C4's List-of-Dirty-Naughty-Words rule); the counts
    * form lets a softer policy threshold on hit DENSITY instead, which
    * is why the report is the operator and the gate a one-line filter.
    *
    * Entirely MAP-ONLY: the blocklist rides into codegen as a literal
    * array and every row answers from `filter`/`array_intersect` over
    * its own tokens — no join, no shuffle, no broadcast round-trip; at
    * 100 TB this is a pure scan. The per-token membership test is a
    * linear probe of the list, so the form is sized for the standard
    * curated lists (hundreds of terms); for a dictionary-scale list,
    * tokenize + join a broadcast term table instead (the
    * [[unigramLogProb]] tf shape). Matching is EXACT on whitespace
    * tokens — normalize/casefold upstream ([[normalize]]) so "Bad" and
    * "bad." hit; substring matching would false-positive on innocent
    * compounds (the classic over-blocking failure).
    *
    * Output: (doc_id, n_tokens, n_blocked, n_blocked_types,
    * blocked_ratio) — blocked_ratio NULL for token-less docs. */
  def blocklistStats(df: DataFrame, textCol: String,
                     terms: Seq[String]): DataFrame = {
    require(terms.nonEmpty, "blocklist must not be empty")
    val lst = typedLit(terms.distinct)
    val toks = tokens(col(textCol))
    // tokens materialized in their own projection: the three HOF
    // consumers below would each re-run an inlined split (the measured
    // interpreted-lambda trap, see [[topKeywords]])
    df.select(col("doc_id"), toks.as("__t"))
      .select(col("doc_id"),
        size(col("__t")).cast("long").as("n_tokens"),
        size(filter(col("__t"), t => array_contains(lst, t)))
          .cast("long").as("n_blocked"),
        size(array_distinct(filter(col("__t"), t => array_contains(lst, t))))
          .cast("long").as("n_blocked_types"))
      .select(col("doc_id"), col("n_tokens"), col("n_blocked"),
        col("n_blocked_types"),
        // un-coalesced: token-less docs yield NULL, never 0/0
        when(col("n_tokens") > 0,
          Portable.intRatio9(col("n_blocked"), col("n_tokens")))
          .as("blocked_ratio"))
  }

  /** Blocklist scrub — the REWRITE companion to [[blocklistStats]]:
    * tokens on the list are removed from the text (the masking policy
    * some pipelines prefer over C4's whole-document drop, which throws
    * away every clean sentence around one hit). Returns (doc_id, text,
    * n_removed) with the scrubbed text under the input column's name,
    * so the frame drops into any downstream stage unchanged.
    *
    * Same contract as the report: exact whitespace-token matching
    * (normalize/casefold upstream), the list rides into codegen as a
    * literal array, and the whole operator is MAP-ONLY — one scan, no
    * join, no shuffle at any scale. Adjacent-separator artifacts are
    * real (removing a mid-sentence token leaves a double space exactly
    * like [[maskPii]]'s number scrub) and preserved identically by the
    * oracle, so the rewrite is bit-reproducible across engines. */
  def blocklistScrub(df: DataFrame, textCol: String,
                     terms: Seq[String]): DataFrame = {
    require(terms.nonEmpty, "blocklist must not be empty")
    val lst = typedLit(terms.distinct)
    // tokens materialized once (the interpreted-HOF re-run trap)
    df.select(col("doc_id"), tokens(col(textCol)).as("__t"))
      .select(col("doc_id"),
        concat_ws(" ",
          filter(col("__t"), t => !array_contains(lst, t))).as(textCol),
        size(filter(col("__t"), t => array_contains(lst, t)))
          .cast("long").as("n_removed"))
  }

  /** Per-source lexical-diversity profile — the corpus-health numbers
    * (beyond volume) a data card should carry per source: token count,
    * type (distinct-token) count, type-token ratio, and the hapax
    * fraction (types occurring exactly once). A source whose TTR or
    * hapax share collapses is template/boilerplate-heavy or
    * machine-generated; one whose hapax share explodes is noisy
    * (OCR garbage, random identifiers) — both are mixture red flags
    * that per-doc quality scores average away.
    *
    * Shape: one tokenize → one (source, token) count (token-level
    * shuffle with map-side combine — hot stopwords are keyed per
    * source and partially aggregated, no single-key hotspot) → one
    * low-cardinality per-source rollup. Doc counts ride a separate
    * map-only agg on the source column; token-less sources report 0s
    * and NULL ratios (never 0/0). */
  def lexicalDiversity(df: DataFrame, textCol: String,
                       sourceCol: String): DataFrame = {
    val tf = df
      .select(col(sourceCol).as("source"),
        explode_outer(tokens(col(textCol))).as("__w"))
      .filter(col("__w").isNotNull)
      .groupBy(col("source"), col("__w"))
      .agg(count(lit(1)).as("__c"))
    val per = tf.groupBy(col("source"))
      .agg(sum(col("__c")).as("__tok"), count(lit(1)).as("__typ"),
        sum(when(col("__c") === 1, 1L).otherwise(0L)).as("__hap"))
    df.groupBy(col(sourceCol).as("source"))
      .agg(count(lit(1)).as("n_docs"))
      .join(per, Seq("source"), "left")
      .select(col("source"), col("n_docs"),
        coalesce(col("__tok"), lit(0L)).as("n_tokens"),
        coalesce(col("__typ"), lit(0L)).as("n_types"),
        // un-coalesced operands: token-less sources yield NULL ratios
        Portable.intRatio9(col("__typ"), col("__tok")).as("ttr"),
        coalesce(col("__hap"), lit(0L)).as("n_hapax"),
        Portable.intRatio9(col("__hap"), col("__typ"))
          .as("hapax_ratio"))
  }

  /** PII scrubbing for training corpora: URLs, emails,
    * separator-formatted phone numbers, IPv4 addresses and long digit
    * runs replaced by typed placeholder tokens, with per-doc match
    * counts for the audit funnel. Pure per-row regex chain — map-only,
    * no shuffle, and the patterns use only syntax with identical
    * semantics in Java regex (Spark) and RE2 (DuckDB), so the oracle
    * masks byte-identically. Masking order is fixed and significant:
    * URLs first (they embed '@', dotted hosts and digits), then emails
    * (they embed digits and dots), then phones (dot-separated forms
    * would otherwise half-match the IP pattern), then IPv4, then
    * standalone digit runs of ≥ 7 (account numbers; shorter runs are
    * too often legitimate quantities). Phone separators are `-` and
    * `.` only — a space-tolerant form would swallow legitimate
    * quantity lists ("100 1000 10000"). Counts are taken on the input
    * of each stage, so a URL's digits are never also counted as a
    * long number, and a phone's groups never as an IP. */
  val UrlRe = "https?://[^ ]+"
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val PhoneRe = "[0-9]{3}[-.][0-9]{3,4}[-.][0-9]{4}"
  val Ipv4Re = "(?:[0-9]{1,3}\\.){3}[0-9]{1,3}"
  val LongNumRe = "[0-9]{7,}"

  /** The masked text alone, as a column expression — for pipelines that
    * scrub in-place inside an existing projection ([[graft.app.CorpusPipeline]])
    * without a join. Same fixed masking order as [[maskPii]]. */
  def piiMasked(t: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(
          regexp_replace(
            regexp_replace(t, UrlRe, "<URL>"),
            EmailRe, "<EMAIL>"),
          PhoneRe, "<PHONE>"),
        Ipv4Re, "<IP>"),
      LongNumRe, "<NUM>")

  def maskPii(df: DataFrame, textCol: String): DataFrame = {
    val t = col(textCol)
    val urlMasked = regexp_replace(t, UrlRe, "<URL>")
    val emailMasked = regexp_replace(urlMasked, EmailRe, "<EMAIL>")
    val phoneMasked = regexp_replace(emailMasked, PhoneRe, "<PHONE>")
    val ipMasked = regexp_replace(phoneMasked, Ipv4Re, "<IP>")
    df.select(col("doc_id"),
      regexp_replace(ipMasked, LongNumRe, "<NUM>").as("masked"),
      regexp_count(t, lit(UrlRe)).cast("long").as("n_urls"),
      regexp_count(urlMasked, lit(EmailRe)).cast("long").as("n_emails"),
      regexp_count(emailMasked, lit(PhoneRe)).cast("long").as("n_phones"),
      regexp_count(phoneMasked, lit(Ipv4Re)).cast("long").as("n_ips"),
      regexp_count(ipMasked, lit(LongNumRe)).cast("long")
        .as("n_long_nums"))
  }

  /** Per-group PII-density rollup over [[maskPii]]'s audit counts —
    * the data-card line that says WHICH sources leak identifiers (and
    * of what kind) before anyone reads a sample: per `groupCol`, doc
    * count, docs carrying any maskable span, per-type span totals and
    * the affected-doc ratio. High-ratio sources get routed to heavier
    * scrubbing or dropped; the per-type mix distinguishes a
    * URL-heavy crawl (harmless) from a phone-number-laden one (not).
    *
    * Shape: the map-only mask/count projection, one doc-keyed join of
    * the pruned (id, group) spine, one low-cardinality rollup. */
  def piiReport(df: DataFrame, textCol: String,
                groupCol: String): DataFrame = {
    val m = maskPii(df, textCol)
    val total = Seq("n_urls", "n_emails", "n_phones", "n_ips",
      "n_long_nums").map(col).reduce(_ + _)
    df.select(col("doc_id"), col(groupCol))
      .join(m, Seq("doc_id"))
      .withColumn("__tot", total)
      .groupBy(col(groupCol))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("__tot") > 0, 1L).otherwise(0L)).as("docs_with_pii"),
        sum(col("n_urls")).as("n_urls"),
        sum(col("n_emails")).as("n_emails"),
        sum(col("n_phones")).as("n_phones"),
        sum(col("n_ips")).as("n_ips"),
        sum(col("n_long_nums")).as("n_long_nums"))
      .withColumn("pii_doc_ratio",
        Portable.intRatio9(col("docs_with_pii"),
          col("n_docs")))
  }

  /** Corpus document-frequency / IDF table: one row per distinct token
    * with (df, idf = ln(N / df)) — the plain unsmoothed variant
    * (idf 0 for a token in every document). TF-IDF weighting, stopword
    * discovery, and vocabulary pruning all read from this table.
    *
    * Shape: per-doc DISTINCT tokens (map-only array op) → explode → one
    * hash agg keyed on token; the corpus count joins in as a broadcast
    * 1-row aggregate, so the whole thing is lazy (no driver-side
    * count()) and the token agg is the only data-sized shuffle. */
  def idfTable(df: DataFrame, textCol: String): DataFrame = {
    val nDocs = df.agg(count(lit(1)).as("n_docs"))
    df.select(col("doc_id"),
        explode(array_distinct(tokens(col(textCol)))).as("w"))
      .groupBy(col("w"))
      .agg(count(lit(1)).as("df"))
      .crossJoin(broadcast(nDocs))
      .select(col("w"), col("df"),
        Portable.ratio9(log(col("n_docs").cast("double") / col("df")))
          .as("idf"))
  }

  /** Per-document top-k TF-IDF keywords — the document-tagging step a
    * curation pipeline runs after [[idfTable]]: term frequency per
    * (doc, token), weight by the corpus IDF, keep each document's k
    * highest-weighted tokens (ties broken lexicographically, so the
    * result is deterministic and oracle-able).
    *
    * Scale posture: the corpus is tokenized ONCE, by construction —
    * the document frequency is a window count over the tf frame
    * (tf rows are per-(doc, distinct-token), so the per-token row
    * count IS df), not a join against [[idfTable]], whose call form
    * re-tokenized the whole corpus for the second side (and a shared-
    * subtree join can't be trusted to dedupe: the optimizer prunes tf
    * out of the df branch, breaking exchange reuse). Only a column-
    * pruned count(*) scan remains for the corpus size. PlanSpec pins
    * exactly one tokenizing scan. The tf agg shuffles on
    * (doc, token), the df window on the token — both uniform by
    * construction (a token's window group is ≤ n_docs rows, never
    * corpus-sized); the top-k window partitions by doc_id. Values are
    * identical to joining [[idfTable]]'s output (q56 oracle). */
  def topKeywords(df: DataFrame, textCol: String, k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    import org.apache.spark.sql.expressions.Window
    val tf = df.select(col("doc_id"),
        explode_outer(tokens(col(textCol))).as("w"))
      .filter(col("w").isNotNull)
      .groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("tf"))
    val nDocs = df.agg(count(lit(1)).as("n_docs"))
    tf.withColumn("df", count(lit(1)).over(Window.partitionBy(col("w"))))
      .crossJoin(broadcast(nDocs))
      .withColumn("idf",
        Portable.ratio9(log(col("n_docs").cast("double") / col("df"))))
      .withColumn("tfidf", Portable.ratio9(col("tf") * col("idf")))
      .withColumn("rank", row_number().over(Window.partitionBy(col("doc_id"))
        .orderBy(desc("tfidf"), asc("w"))).cast("long"))
      .filter(col("rank") <= k)
      .select(col("doc_id"), col("rank"), col("w").as("token"),
        col("tf"), col("tfidf"))
  }

  /** BM25 ranked retrieval (Robertson & Zaragoza, FnTIR'09 — the
    * Okapi BM25 scoring function with Lucene's non-negative idf
    * variant `ln(1 + (N − df + ½)/(df + ½))`), of a query frame against
    * a document corpus: the lexical-retrieval half of every
    * hybrid-search / hard-negative-mining / eval-decontamination
    * pipeline. `k1 = 1.2`, `b = 0.75` (the textbook operating point)
    * are baked in as EXACT rationals — with `k1 = 6/5`, `b = 3/4` and
    * `avgdl = L/N` the length-normalized term weight clears every
    * denominator:
    *
    *   tf·(k1+1) / (tf + k1(1−b+b·dl/avgdl))
    *     = 22·tf·L / (10·tf·L + 3·L + 9·dl·N)
    *
    * — a ratio of two exact BIGINTs. Cross-engine determinism: idf is
    * 9dp-rounded (the q56 discipline), each term's contribution
    * `qtf · ⌊idf₉ · tfnorm · 1e9 + ½⌋` integerizes per (query, term,
    * doc) row, and the document score accumulates those LONGs exactly —
    * summation order can never move a bit. Ties rank by doc_id.
    *
    * `maxDfShare` prunes postings of terms with df > share·N — the
    * stopword lever: at 100 TB a head term's posting list is
    * corpus-sized and contributes ≈0 idf; pruning it bounds the
    * per-term join fan-out (the q119/q55 `maxDf` posture). `dl` counts
    * ALL tokens (length normalization sees the document the user wrote,
    * not the pruned one).
    *
    * Shape: the corpus tokenizes ONCE into the (doc, token) tf frame;
    * df and dl are windows over tf (per-token partition ≤ N rows,
    * per-doc partition ≤ distinct-tokens rows — never corpus-sized);
    * the 1-row (N, L) aggregate joins in broadcast from a second
    * map-only scan; the query-term frame is broadcast (queries ≪
    * corpus, the retrieval invariant); the score agg shuffles on
    * (query_id, doc_id) and the top-k window partitions by query.
    *
    * Returns (query_id, rnk ≤ k, doc_id, score_i, score) with
    * `score_i` the exact 1e9-scaled integer and `score` its readable
    * 9dp double. */
  def bm25TopK(corpus: DataFrame, queries: DataFrame, textCol: String,
               k: Int, maxDfShare: Double = 1.0): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(maxDfShare > 0.0 && maxDfShare <= 1.0,
      s"maxDfShare must be in (0, 1], got $maxDfShare")
    import org.apache.spark.sql.expressions.Window
    val tf = corpus.select(col("doc_id"),
        explode_outer(tokens(col(textCol))).as("w"))
      .filter(col("w").isNotNull)
      .groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("tf"))
    val totals = corpus.agg(count(lit(1)).as("n_docs"),
      coalesce(sum(size(tokens(col(textCol))).cast("long")), lit(0L))
        .as("l_tot"))
    val qt = queries.select(col("query_id"),
        explode_outer(tokens(col(textCol))).as("w"))
      .filter(col("w").isNotNull)
      .groupBy(col("query_id"), col("w")).agg(count(lit(1)).as("qtf"))
    val idf9 = round(log(lit(1.0) +
      (lit(2L) * col("n_docs") - lit(2L) * col("df") + lit(1L))
        .cast("double") /
      (lit(2L) * col("df") + lit(1L)).cast("double")), 9)
    val tfnorm = (lit(22L) * col("tf") * col("l_tot")).cast("double") /
      (lit(10L) * col("tf") * col("l_tot") + lit(3L) * col("l_tot") +
        lit(9L) * col("dl") * col("n_docs")).cast("double")
    tf.withColumn("df", count(lit(1)).over(Window.partitionBy(col("w"))))
      .withColumn("dl", sum(col("tf")).over(Window.partitionBy(col("doc_id"))))
      .join(broadcast(qt), Seq("w"))
      .crossJoin(broadcast(totals))
      .filter(col("df").cast("double") <=
        lit(maxDfShare) * col("n_docs").cast("double"))
      .withColumn("contrib",
        col("qtf") * floor(idf9 * tfnorm * lit(1e9) + lit(0.5)).cast("long"))
      .groupBy(col("query_id"), col("doc_id"))
      .agg(sum(col("contrib")).as("score_i"))
      .withColumn("rnk", row_number().over(Window.partitionBy(col("query_id"))
        .orderBy(desc("score_i"), asc("doc_id"))).cast("long"))
      .filter(col("rnk") <= k)
      .select(col("query_id"), col("rnk"), col("doc_id"), col("score_i"),
        round(col("score_i").cast("double") / lit(1e9), 9).as("score"))
  }

  /** Per-document unigram language-model score — the CCNet-style (Wenzek
    * et al., LREC'20) "LM quality" proxy with the corpus itself as the
    * model: `unigram_nll` is the mean negative log-likelihood of the
    * document's tokens under the corpus unigram distribution
    * (p(w) = corpus occurrences of w / total corpus tokens). Low NLL =
    * stereotypical text, high NLL = rare-token-heavy text; curation
    * gates trim BOTH tails. Deterministic, so DuckDB-oracle-able —
    * unlike a trained KenLM it needs no external model artifact.
    *
    * Returns (doc_id, n_tokens, unigram_nll), NLL rounded to 9 dp.
    *
    * Shape: the corpus tokenizes ONCE into the (doc, token) tf frame
    * (one data-sized shuffle); the corpus-wide token count per w is a
    * window sum over tf (a token's partition is ≤ n_docs rows, never
    * corpus-sized — same trick as [[topKeywords]]'s df, avoiding a
    * self-join that would re-tokenize); the total-token scalar joins in
    * as a broadcast 1-row aggregate from a second, map-only,
    * column-pruned scan (sum of per-row token counts — no shuffle, no
    * explode). Final agg keys on doc_id. Lazy end to end. */
  def unigramLogProb(df: DataFrame, textCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tf = df.select(col("doc_id"),
        explode_outer(tokens(col(textCol))).as("w"))
      .filter(col("w").isNotNull)
      .groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("c"))
    val total = df.agg(
      sum(size(tokens(col(textCol)))).cast("double").as("__total"))
    tf.withColumn("cnt", sum(col("c")).over(Window.partitionBy(col("w"))))
      .crossJoin(broadcast(total))
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n_tokens"),
        Portable.ratio9(sum(col("c") * -log(col("cnt") / col("__total"))) /
          sum(col("c"))).as("unigram_nll"))
  }

  /** Corpus-drift report: the top-k tokens driving the unigram KL
    * divergence KL(A‖B) between two corpora — the monitoring check a
    * continuously-refreshed training corpus runs against its previous
    * snapshot (or train vs eval): which tokens got more probable in A
    * than B, and by how much of the total divergence?
    *
    * Add-half (Jeffreys) smoothing over the UNION vocabulary keeps
    * every log finite: p_X(w) = (c_X(w) + 0.5) / (N_X + 0.5·V). Every
    * numerator/denominator is an exact x.5 double built from integer
    * counts, so both engines divide the same values and the ln/product
    * chain is bit-identical (the same cross-engine ln parity
    * [[unigramLogProb]] relies on). Output: (w, p_a, p_b, kl_term =
    * p_a·ln(p_a/p_b), all rounded 9dp), the k largest kl_term (ties →
    * token asc) — positive terms are A-overrepresented tokens; the
    * unrounded terms sum to KL(A‖B) over the full vocab.
    *
    * Shape: one token-keyed count agg per corpus (map-side combine) →
    * token-keyed full-outer join of the two COMPACT count frames →
    * broadcast 1-row totals → map-side arithmetic → distributed
    * `TakeOrderedAndProject` top-k. Nothing corpus-sized shuffles
    * after the counts, and the joined count frame sits behind a
    * [[Barrier]] (EAGER, like [[graft.ops.Events.funnel]]) so the
    * totals aggregate reads the materialized vocab-sized frame instead
    * of re-tokenizing both corpora — each corpus is scanned exactly
    * once (PlanSpec-pinned). */
  def unigramDrift(a: DataFrame, b: DataFrame, textCol: String,
                   k: Int): DataFrame = {
    require(k > 0, s"k must be > 0, got $k")
    def counts(df: DataFrame, as: String) =
      df.select(explode(tokens(col(textCol))).as("w"))
        .groupBy(col("w")).agg(count(lit(1)).as(as))
    val j = Barrier.cut(
      counts(a, "__ca").join(counts(b, "__cb"), Seq("w"), "full_outer")
        .select(col("w"),
          coalesce(col("__ca"), lit(0L)).as("__ca"),
          coalesce(col("__cb"), lit(0L)).as("__cb")))
    val tot = j.agg(sum("__ca").cast("double").as("__na"),
      sum("__cb").cast("double").as("__nb"),
      count(lit(1)).cast("double").as("__v"))
    j.crossJoin(broadcast(tot))
      .withColumn("__pa",
        (col("__ca") + lit(0.5)) / (col("__na") + lit(0.5) * col("__v")))
      .withColumn("__pb",
        (col("__cb") + lit(0.5)) / (col("__nb") + lit(0.5) * col("__v")))
      .select(col("w"),
        // smoothed p = (c+½)/(n+½v) cleared to (2c+1)/(2n+v) — exact
        Portable.intRatio9(lit(2L) * col("__ca") + 1L,
          lit(2L) * col("__na").cast("long") + col("__v").cast("long"))
          .as("p_a"),
        Portable.intRatio9(lit(2L) * col("__cb") + 1L,
          lit(2L) * col("__nb").cast("long") + col("__v").cast("long"))
          .as("p_b"),
        Portable.ratio9(col("__pa") * log(col("__pa") / col("__pb")))
          .as("kl_term"))
      .orderBy(col("kl_term").desc, col("w").asc)
      .limit(k)
  }

  /** RAKE keyphrase extraction (Rose et al. '10) — corpus-level top-k
    * multi-word keyphrases: candidate phrases are the maximal runs of
    * non-stopword tokens (stopwords and empty tokens are the phrase
    * BREAKS — the contract; punctuation-aware splitting would extend
    * the break set), each word scores deg(w)/freq(w) with
    * deg(w) = Σ over the word's phrase occurrences of the phrase
    * length (frequency + co-occurrence, RAKE's ratio that favors
    * words living in long phrases), and a phrase scores the sum of
    * its word scores. The keyword table [[topKeywords]] can't see
    * multi-word terms; RAKE is the standard cheap phrase miner.
    *
    * Cross-engine determinism: word scores integerize at 1e9 (ONE
    * pinned division each); phrase scores are exact LONG sums of
    * those integers; identical phrase TEXT always reproduces the
    * identical score (word stats are corpus-level), so the distinct-
    * phrase rollup is well-defined; final rank is (score9 DESC,
    * phrase) — deterministic.
    *
    * Shape: one tokenize, per-doc position windows (the sessionize
    * per-key bound), a corpus word-stat agg joined back by word, a
    * (doc, phrase)-keyed assembly, a distinct-phrase rollup, one
    * distributed top-k. Returns k rows:
    * (phrase, n_words, n_occurrences, score). */
  def rakeKeyphrases(df: DataFrame, textCol: String,
                     k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(k >= 1, s"k must be >= 1, got $k")
    val toks = df
      .select(col("doc_id"),
        posexplode(tokens(lower(col(textCol)))).as(Seq("pos", "w")))
      .withColumn("__stop",
        col("w").isin(EnStopwords.map(x => x: Any): _*) || col("w") === "")
    val wDoc = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val words = toks
      .withColumn("__pid", sum(when(col("__stop"), 1L).otherwise(0L))
        .over(wDoc))
      .filter(!col("__stop"))
      .select(col("doc_id"), col("__pid"), col("pos"), col("w"))
    val withLen = words
      .withColumn("__len", count(lit(1))
        .over(Window.partitionBy(col("doc_id"), col("__pid"))))
    val wordScore = withLen.groupBy(col("w"))
      .agg(count(lit(1)).as("__freq"), sum(col("__len")).as("__deg"))
      .select(col("w"),
        Portable.intRatioScaled(col("__deg"), col("__freq"), 9)
          .as("__ws9"))
    val phrases = withLen.join(wordScore, Seq("w"))
      .groupBy(col("doc_id"), col("__pid"))
      .agg(concat_ws(" ", transform(
          sort_array(collect_list(struct(col("pos"), col("w")))),
          s => s.getField("w"))).as("phrase"),
        count(lit(1)).as("n_words"), sum(col("__ws9")).as("__s9"))
    phrases.groupBy(col("phrase"))
      .agg(max(col("n_words")).as("n_words"),
        count(lit(1)).as("n_occurrences"), max(col("__s9")).as("__s9"))
      .orderBy(col("__s9").desc, col("phrase"))
      .limit(k)
      .select(col("phrase"), col("n_words"), col("n_occurrences"),
        round(col("__s9").cast("double") / lit(1e9), 9).as("score"))
  }

  /** Flesch–Kincaid grade-level readability per document (Kincaid
    * '75) — the classic prose-complexity heuristic a quality funnel
    * reads next to [[qualityScore]]: grade = 0.39·(words/sentences) +
    * 11.8·(syllables/word) − 15.59. Counts are pure RE2-safe regex
    * counts identical in both engines ([[maskPii]]'s discipline):
    * sentences = runs of [.!?] (min 1 — headline-style docs have no
    * terminator), syllables ≈ vowel-group runs [aeiouy]+ of the
    * lowercased text (the standard cheap proxy; stated as the
    * CONTRACT, not an approximation to some truer count). Map-only —
    * no join, no shuffle; the grade is ONE pinned double chain over
    * the three exact integer counts, constants written as double
    * literals in both engines.
    *
    * Returns one row per doc with ≥1 word:
    * (doc_id, n_words, n_sentences, n_syllables, fk_grade). */
  def readability(df: DataFrame, textCol: String): DataFrame = {
    val words = size(filter(tokens(col(textCol)), w => w =!= ""))
      .cast("long")
    val sents = greatest(lit(1L),
      size(regexp_extract_all(col(textCol), lit("[.!?]+"), lit(0)))
        .cast("long"))
    val sylls = size(regexp_extract_all(lower(col(textCol)),
      lit("[aeiouy]+"), lit(0))).cast("long")
    df.select(col("doc_id"), words.as("n_words"), sents.as("n_sentences"),
        sylls.as("n_syllables"))
      .filter(col("n_words") > 0L)
      // grade = 0.39·W/S + 11.8·Y/W − 15.59 with cleared denominators:
      // (39·W² + 1180·Y·S − 1559·S·W) / (100·S·W) — ONE exact signed
      // integral division (the q218/q219 discipline)
      .withColumn("fk_grade", {
        val dec = "decimal(38,0)"
        val w = col("n_words").cast(dec)
        val s = col("n_sentences").cast(dec)
        val y = col("n_syllables").cast(dec)
        Portable.intRatioSigned9(
          lit(39L) * w * w + lit(1180L) * y * s - lit(1559L) * s * w,
          lit(100L) * s * w)
      })
  }

  /** Jensen–Shannon divergence between two corpora's unigram
    * distributions — the SYMMETRIC, bounded ([0, ln 2]) complement of
    * [[unigramDrift]]'s one-way KL terms: JSD(A,B) = ½KL(A‖M) +
    * ½KL(B‖M), M = ½(A+B). Because every token present in either
    * corpus has M > 0, NO smoothing is needed (absent-side terms are
    * the exact p·ln 2 limit) — the number is a pure function of the
    * observed counts, which keeps both engines on identical ground.
    *
    * Cross-engine determinism: per-token terms p_a·ln(2p_a/(p_a+p_b))
    * (and the b twin) integerize at 1e9 through ONE pinned double
    * chain each and sum in LONG; the ½ weights fold in at the end
    * inside [[Portable.ratio9]]. A zero count contributes exactly 0
    * to its own side (0·ln → 0 by convention, realized as a when()).
    *
    * Shape: one token-keyed full-outer count join (the unigramDrift
    * frame), a broadcast 1-row total, one rollup. Returns ONE row:
    * (n_a, n_b, vocab, jsd) — 0 = identical mixes, ln 2 = disjoint. */
  def jensenShannon(a: DataFrame, b: DataFrame,
                    textCol: String): DataFrame = {
    def counts(df: DataFrame, as: String) =
      df.select(explode(tokens(col(textCol))).as("w"))
        .groupBy(col("w")).agg(count(lit(1)).as(as))
    val j = counts(a, "__ca").join(counts(b, "__cb"), Seq("w"),
        "full_outer")
      .select(col("w"),
        coalesce(col("__ca"), lit(0L)).as("__ca"),
        coalesce(col("__cb"), lit(0L)).as("__cb"))
    val tot = j.agg(sum("__ca").as("__na"), sum("__cb").as("__nb"),
      count(lit(1)).as("__v"))
    val pa = col("__ca").cast("double") / col("__na").cast("double")
    val pb = col("__cb").cast("double") / col("__nb").cast("double")
    def term9(p: Column, q: Column, c: Column) =
      when(c > 0L,
        floor(round(p * log(lit(2.0) * p / (p + q)), 9) * lit(1e9) +
          lit(0.5)).cast("long")).otherwise(lit(0L))
    j.crossJoin(broadcast(tot))
      .select(col("__na"), col("__nb"), col("__v"),
        term9(pa, pb, col("__ca")).as("__ta"),
        term9(pb, pa, col("__cb")).as("__tb"))
      .groupBy(col("__na"), col("__nb"), col("__v"))
      .agg(sum(col("__ta")).as("__sa"), sum(col("__tb")).as("__sb"))
      .select(col("__na").as("n_a"), col("__nb").as("n_b"),
        col("__v").as("vocab"),
        Portable.intRatioSigned9(col("__sa") + col("__sb"),
          lit(2000000000L)).as("jsd"))
  }

  /** Token-frequency concentration report — the Gini coefficient over
    * the corpus unigram distribution plus the head-mass shares (top-1%
    * / top-10% of TYPES' share of TOKENS): the one-row "how Zipfian is
    * this corpus" summary a mixture designer reads next to
    * [[zipfAudit]]'s fitted slope (Gini prices concentration without
    * assuming the power law fits). Exact integer arithmetic end to
    * end: with counts c₁ ≤ … ≤ c_V ranked ascending,
    * G = (2·Σ r·c_r − (V+1)·N) / (V·N) — every sum an exact LONG
    * (DECIMAL for the rank products), ONE final division
    * ([[Portable.ratio9]]).
    *
    * Shape: token-keyed count agg, then ranks via ONE bounded window
    * over the VOCAB frame ordered by (count, token) — the repo's
    * distinct-value discipline (never a data sort); head shares read
    * off the same ranked frame. Returns ONE row: (vocab, n_tokens,
    * gini, top1pct_share, top10pct_share). */
  def tokenConcentration(df: DataFrame, textCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val counts = df.select(explode(tokens(col(textCol))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("__c"))
    val wAll = Window.orderBy(col("__c").asc, col("w").asc)
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val ranked = counts
      .withColumn("__r", row_number()
        .over(Window.orderBy(col("__c").asc, col("w").asc)).cast("long"))
      .withColumn("__v", count(lit(1)).over(wAll))
      // top shares count from the COMMON end: the top p% of types are
      // ranks > V − ⌈p·V⌉ (ceil by integer arithmetic)
      .withColumn("__k1", expr("(__v + 99) div 100"))
      .withColumn("__k10", expr("(__v + 9) div 10"))
    ranked
      .groupBy(col("__v"))
      .agg(sum(col("__c")).as("n_tokens"),
        sum(col("__r").cast(dec) * col("__c").cast(dec)).as("__rc"),
        sum(when(col("__r") > col("__v") - col("__k1"), col("__c"))
          .otherwise(0L)).as("__t1"),
        sum(when(col("__r") > col("__v") - col("__k10"), col("__c"))
          .otherwise(0L)).as("__t10"))
      .select(col("__v").as("vocab"), col("n_tokens"),
        when(col("__v") > 0L && col("n_tokens") > 0L,
          Portable.intRatioSigned9(
            lit(2).cast(dec) * col("__rc") -
              (col("__v") + 1L).cast(dec) * col("n_tokens").cast(dec),
            col("__v").cast(dec) * col("n_tokens"))).as("gini"),
        when(col("n_tokens") > 0L,
          Portable.intRatio9(col("__t1"), col("n_tokens")))
          .as("top1pct_share"),
        when(col("n_tokens") > 0L,
          Portable.intRatio9(col("__t10"), col("n_tokens")))
          .as("top10pct_share"))
  }

  /** CCNet-style perplexity bucketing (Wenzek et al., LREC'20 §4.3):
    * within each language, documents split into `nBuckets` equal-count
    * NLL tiers — `head` (most corpus-fluent), `middle`, `tail` — and a
    * pre-training mixture keeps/weights buckets per language (the
    * canonical recipe trains on head+middle and drops or downsamples
    * tail). The score is [[unigramLogProb]]'s mean NLL; the tier split
    * is `ntile` over (9-dp-rounded NLL, doc_id) so the boundary is
    * bit-deterministic cross-engine (an unrounded float sort key could
    * order two engines differently inside 1e-9).
    *
    * Returns (doc_id, n_tokens, unigram_nll, lang, bucket_idx ∈ 1..n,
    * bucket). Token-less documents have no NLL and drop, as in
    * [[unigramLogProb]].
    *
    * Shape: everything up to the per-doc NLL is [[unigramLogProb]]'s
    * single-tokenize plan; the language column joins back doc-keyed
    * from a two-column pruned scan. The `ntile` partitions by LANGUAGE
    * — a per-lang sort of DOC-level rows (one row per document, not
    * per token), the same per-key sort bound as [[Events.sessionize]];
    * at extreme doc counts per language, bucket by assigning against
    * exact per-lang count thresholds from a first pass (the
    * [[Events.sessionizeBucketed]] two-phase trick) — the fixture-scale
    * form here is the oracle-able reference semantics. */
  def perplexityBuckets(df: DataFrame, textCol: String, langCol: String,
                        nBuckets: Int = 3): DataFrame = {
    require(nBuckets >= 2, s"nBuckets must be >= 2, got $nBuckets")
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("lang"))
      .orderBy(col("unigram_nll").asc, col("doc_id").asc)
    unigramLogProb(df, textCol)
      .join(df.select(col("doc_id"), col(langCol).as("lang")), Seq("doc_id"))
      .withColumn("bucket_idx", ntile(nBuckets).over(w))
      .withColumn("bucket",
        when(col("bucket_idx") === 1, lit("head"))
          .when(col("bucket_idx") === nBuckets, lit("tail"))
          .otherwise(lit("middle")))
  }

  /** Interpolated bigram LM negative log-likelihood — the KenLM-style
    * fluency signal (CCNet / RedPajama quality filtering) computed from
    * the corpus itself, with no external model artifact: token w after
    * predecessor v scores ln(λ·P(w|v) + (1−λ)·P(w)), a document's first
    * token scores its unigram probability, and the document's NLL is the
    * mean over its tokens. Corpus-stereotypical text scores low,
    * rare-continuation text high; curation gates trim both tails.
    * Deterministic ⇒ DuckDB-oracle-able, unlike a trained KenLM.
    * Complements [[unigramLogProb]], which cannot see word ORDER.
    *
    * Returns (doc_id, n_tokens, bigram_nll), NLL rounded to 9 dp.
    *
    * Shape: ONE tokenize and ONE data-sized shuffle. Tokens shift-zip
    * into (prev, cur) pairs per row (a document's first pair gets a
    * sentinel prev), explode, and group to the (doc, v, w) count frame,
    * which passes a [[Barrier]] (the op is eager like
    * [[Dedup.dedupNear]]) — the corpus-level tables and the final join
    * all read the cut, so the explode+shuffle runs once. The corpus
    * bigram table is a compact groupBy over the cut; P(w|v)'s
    * denominator and the unigram counts are window sums over THAT
    * vocabulary-sized frame (partitions ≤ distinct predecessors /
    * continuations per word — never n_docs-sized, the hot-stopword
    * partition trap a window over the per-doc frame would hit); the
    * total-token scalar broadcasts as a 1-row aggregate. Final agg keys
    * on doc_id. */
  def bigramLogProb(df: DataFrame, textCol: String,
                    lambda: Double): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(lambda >= 0 && lambda <= 1, s"lambda in [0,1], got $lambda")
    // document-start sentinel: a control char no tokenizer emits, so it
    // never collides with a real token (DuckDB twin: chr(2)); written as
    // a unicode escape, not a raw control char, per Portable.Sep
    val sent = "\u0002"
    val toks = df.select(col("doc_id"), tokens(col(textCol)).as("__t"))
    val shifted = concat(array(lit(sent)),
      slice(col("__t"), lit(1), greatest(size(col("__t")) - 1, lit(0))))
    val pairs = toks
      .select(col("doc_id"), zip_with(shifted, col("__t"),
        (v, w) => struct(v.as("v"), w.as("w"))).as("__ps"))
      .select(col("doc_id"), explode_outer(col("__ps")).as("__p"))
      .filter(col("__p").isNotNull)
      .select(col("doc_id"), col("__p.v").as("v"), col("__p.w").as("w"))
    val bid = Barrier.cut(
      pairs.groupBy(col("doc_id"), col("v"), col("w"))
        .agg(count(lit(1)).as("c")))
    val bic = bid.groupBy(col("v"), col("w")).agg(sum(col("c")).as("cnt_vw"))
    val scored = bic
      .withColumn("cnt_w", sum(col("cnt_vw")).over(Window.partitionBy(col("w"))))
      .withColumn("cnt_v", sum(col("cnt_vw")).over(Window.partitionBy(col("v"))))
    val tot = bic.agg(sum(col("cnt_vw")).cast("double").as("__total"))
    val p = when(col("v") === sent, col("cnt_w") / col("__total"))
      .otherwise(lit(lambda) * col("cnt_vw") / col("cnt_v") +
        lit(1 - lambda) * col("cnt_w") / col("__total"))
    bid.join(scored, Seq("v", "w"))
      .crossJoin(broadcast(tot))
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n_tokens"),
        Portable.ratio9(sum(col("c") * -log(p)) / sum(col("c")))
          .as("bigram_nll"))
  }

  /** Corpus collocation mining by pointwise mutual information (Church
    * & Hanks, CL'90; the word2phrase scoring family): adjacent token
    * pairs that co-occur far above chance — "new york", "machine
    * learning" — ranked by PMI = ln(p(xy)/(p(x)p(y))) and its
    * normalized variant NPMI = PMI/−ln(p(xy)) (Bouma'09; the textbook
    * [−1, 1] bound is exact when the unigram and bigram totals
    * coincide and approximate on real corpora, where they differ by
    * one per document — a short-corpus NPMI can exceed 1).
    * The output table drives phrase-aware tokenization (join phrases
    * before BPE), collocation features, and MWE vocabularies.
    *
    * `minCount` floors the pair count — PMI's textbook failure mode is
    * hapax pairs of hapax words scoring ln(T) (maximal!), so unfloored
    * output is noise at any corpus size.
    *
    * Cross-engine determinism: all counts are exact BIGINTs;
    * p(xy)/(p(x)p(y)) clears to the integer ratio cnt_xy·T_u²/(c_x·
    * c_y·T_b), formed in ONE pinned double op chain; each ln rounds to
    * 9 dp only after the full expression (the q56 ln discipline). NPMI
    * is NULL when cnt_xy = T_b (−ln(p)=0 — a one-bigram corpus has no
    * normalizable score).
    *
    * Shape: two tokenizing scans — the bigram pair frame (zip_with of
    * the token array against its own tail, map-only before its count
    * agg) and the unigram count frame — each materialized behind a
    * [[Barrier]] so the unigram table feeds BOTH endpoint joins and
    * its own 1-row total WITHOUT re-tokenizing (a shared-subtree join
    * re-derives, the q56 lesson), and the bigram total likewise reads
    * the counted frame. Endpoint joins are token-keyed equi-joins
    * (vocab-sized right sides — at 100 TB a Heaps-law vocabulary is
    * too big to broadcast, so they shuffle by token, bounded by the
    * pair table itself). EAGER like [[graft.ops.Events.funnel]].
    * Returns (w1, w2, cnt_xy, c_x, c_y, pmi, npmi). */
  def pmiCollocations(df: DataFrame, textCol: String,
                      minCount: Long): DataFrame = {
    require(minCount >= 1, s"minCount must be >= 1, got $minCount")
    val toks = df.select(tokens(col(textCol)).as("__t"))
    val n1 = greatest(size(col("__t")) - 1, lit(0))
    val big = Barrier.cut(toks
      .select(explode(zip_with(
        slice(col("__t"), lit(1), n1), slice(col("__t"), lit(2), n1),
        (a, b) => struct(a.as("w1"), b.as("w2")))).as("__p"))
      .select(col("__p.w1").as("w1"), col("__p.w2").as("w2"))
      .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("cnt_xy")))
    val uni = Barrier.cut(df
      .select(explode(tokens(col(textCol))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("c")))
    val totU = uni.agg(sum(col("c")).as("t_u"))
    val totB = big.agg(sum(col("cnt_xy")).as("t_b"))
    val ratio = col("cnt_xy").cast("double") *
      col("t_u").cast("double") * col("t_u").cast("double") /
      col("c_x").cast("double") / col("c_y").cast("double") /
      col("t_b").cast("double")
    val pxy = col("cnt_xy").cast("double") / col("t_b").cast("double")
    big.filter(col("cnt_xy") >= minCount)
      .join(uni.select(col("w").as("w1"), col("c").as("c_x")), Seq("w1"))
      .join(uni.select(col("w").as("w2"), col("c").as("c_y")), Seq("w2"))
      .crossJoin(broadcast(totU))
      .crossJoin(broadcast(totB))
      .select(col("w1"), col("w2"), col("cnt_xy"), col("c_x"), col("c_y"),
        Portable.ratio9(log(ratio)).as("pmi"),
        when(col("cnt_xy") < col("t_b"),
          Portable.ratio9(log(ratio) / -log(pxy))).as("npmi"))
  }

  /** Cross-document boilerplate statistics (the RefinedWeb / C4 "seen
    * everywhere" signal): an n-gram is boilerplate when its document
    * frequency exceeds `maxDf` — navigation chrome, license headers,
    * templated disclaimers. Per document, counts of total vs boilerplate
    * gram OCCURRENCES and DISTINCT grams, with 9-dp ratios; a curation
    * gate drops documents whose text is mostly corpus-wide boilerplate.
    * Complements [[repetitionStats]], which scores WITHIN-document
    * repetition only and cannot see a phrase stamped across documents.
    *
    * Returns one row per input document: (doc_id, n_grams,
    * n_boiler_grams, boiler_ratio, n_distinct, n_boiler_distinct,
    * boiler_distinct_ratio); docs with fewer than n tokens have zero
    * counts and NULL ratios (never 0/0 — same contract as
    * [[repetitionStats]]).
    *
    * Shape: one tokenizing scan → (doc, gram) count agg (the only
    * data-sized shuffle); the gram's document frequency is a window
    * COUNT over that grouped frame (rows are distinct (doc, gram), so
    * the per-gram partition size IS df, bounded by n_docs — no
    * re-tokenizing self-join); final agg keys on doc_id; the doc spine
    * left-joins so gram-less docs survive. A stop-gram list at 100 TB
    * falls out of the same frame (filter df > maxDf, project grams). */
  def boilerplateStats(df: DataFrame, textCol: String, n: Int,
                       maxDf: Long): DataFrame = {
    require(n >= 1, s"n must be >= 1, got $n")
    require(maxDf >= 1, s"maxDf must be >= 1, got $maxDf")
    import org.apache.spark.sql.expressions.Window
    val boiler = col("df") > maxDf
    val per = df
      .select(col("doc_id"), tokens(col(textCol)).as("__t"))
      .select(col("doc_id"), explode_outer(shinglesAll(col("__t"), n)).as("g"))
      .filter(col("g").isNotNull)
      .groupBy(col("doc_id"), col("g")).agg(count(lit(1)).as("c"))
      .withColumn("df", count(lit(1)).over(Window.partitionBy(col("g"))))
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n_grams"),
        sum(when(boiler, col("c")).otherwise(lit(0L))).as("n_boiler_grams"),
        count(lit(1)).as("n_distinct"),
        sum(when(boiler, lit(1L)).otherwise(lit(0L))).as("n_boiler_distinct"))
    df.select(col("doc_id")).join(per, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("n_boiler_grams"), lit(0L)).as("n_boiler_grams"),
        Portable.intRatio9(col("n_boiler_grams"), col("n_grams"))
          .as("boiler_ratio"),
        coalesce(col("n_distinct"), lit(0L)).as("n_distinct"),
        coalesce(col("n_boiler_distinct"), lit(0L)).as("n_boiler_distinct"),
        Portable.intRatio9(col("n_boiler_distinct"), col("n_distinct"))
          .as("boiler_distinct_ratio"))
  }

  /** Winnowing document fingerprints (Schleimer et al., SIGMOD'03 — the
    * MOSS algorithm): hash every k-token gram, slide a window of w hashes,
    * keep each window's minimum, dedupe. A document's fingerprint set is
    * position-robust: shared fingerprints ⇒ shared k-gram runs.
    * Documents with fewer than k+w-1 tokens emit nothing (no full window).
    * Output is (doc_id, fp) exploded.
    *
    * Relational shape: hash each k-gram ONCE (O(n) codegen'd Hash60
    * calls in a map-only projection), explode to (doc_id, pos, h), then
    * the per-window minimum is a window-function `min` over
    * `rowsBetween(0, w-1)` in position order, keeping only positions
    * with a full w-hash window, then distinct. The all-array HOF form
    * ([[fingerprintsHof]], kept as the spec-pinned reference impl) is
    * shuffle-free but evaluates `array_min(slice(...))` per window in
    * interpreted lambdas — O(n·w) uncodegen'd work per doc; here the
    * narrow (doc_id, pos, h) shuffle buys whole-stage codegen for the
    * sliding minimum. Both shuffles (window + distinct) are keyed on
    * doc_id / (doc_id, fp) — bounded per-doc rows, no skew trap at
    * corpus scale. */
  def fingerprints(df: DataFrame, textCol: String, k: Int, w: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // Materialize tokens, then the hash array, each in their own
    // projection: expression trees are not DAG-shared and interpreted HOF
    // lambdas get no common-subexpression elimination, so an inlined
    // split(text) would re-run per element_at (k x per gram).
    val hashed = df
      .select(col("doc_id"), tokens(col(textCol)).as("__t"))
      .select(col("doc_id"),
        transform(shinglesAll(col("__t"), k), g =>
          Portable.seededHash(g)).as("hs"))
      // posexplode_OUTER + isNotNull, deliberately: a plain posexplode
      // makes the optimizer infer `size(hs) > 0` and push it below the
      // projection, substituting (= re-deriving) the whole hash
      // expression tree at the scan (see PlanSpec's regression test).
      .select(col("doc_id"), size(col("hs")).as("__n"),
        posexplode_outer(col("hs")).as(Seq("pos", "h")))
      .filter(col("h").isNotNull)
    val win = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
      .rowsBetween(Window.currentRow, w - 1)
    hashed
      .withColumn("fp", min(col("h")).over(win))
      // only positions with a full w-hash window are fingerprint windows
      .filter(col("pos") <= col("__n") - w)
      .select(col("doc_id"), col("fp"))
      .distinct()
  }

  /** [[fingerprints]] in per-row higher-order-function form — shuffle-free
    * (map-only) but interpreted: `array_min(slice(hs, i, w))` per window.
    * Kept as the reference implementation the TextSpec pins the relational
    * form against; prefer [[fingerprints]] on anything large. */
  def fingerprintsHof(df: DataFrame, textCol: String, k: Int, w: Int): DataFrame = {
    val grams = shinglesAll(col("__t"), k)
    val hashed = df
      .select(col("doc_id"), tokens(col(textCol)).as("__t"))
      .select(col("doc_id"),
        transform(grams, g => Portable.seededHash(g)).as("hs"))
    val hs = col("hs")
    val nWin = size(hs) - lit(w - 1)
    val fps = array_distinct(transform(sequence(lit(1), nWin), i =>
      array_min(slice(hs, i, lit(w)))))
    hashed
      // docs with fewer than w k-grams have no full window (and a negative
      // nWin would make sequence() count DOWN) — guard before transform
      .filter(size(hs) >= w)
      .select(col("doc_id"), fps.as("fps"))
      .select(col("doc_id"), explode_outer(col("fps")).as("fp"))
      .filter(col("fp").isNotNull)
  }

  /** Corpus-health Zipf audit — one row profiling the token-frequency
    * distribution: vocabulary size, total tokens, hapax count, top-100
    * mass, and a least-squares fit of ln(freq) ~ ln(rank) over the top
    * `fitTopK` terms (Zipf's law predicts slope ≈ −1 for natural
    * language; a much flatter slope flags template/boilerplate-heavy
    * corpora, a much steeper one vocabulary collapse). The "is this
    * snapshot still natural language" check a continuously-refreshed
    * corpus runs next to [[unigramDrift]].
    *
    * Cross-engine determinism: the regression inputs are per-term ln
    * values scaled to 1e6 and floor(+0.5)-rounded to integers (the
    * [[Quantize]] half-up idiom — a 1-ulp cross-engine ln difference
    * survives the rounding), every sum runs exactly over integers /
    * DECIMAL(38,0), and the normal-equation numerators and denominators
    * are formed in exact decimal arithmetic with ONE cast to double
    * before the final division — so slope/intercept/r² are bit-identical
    * across engines AND partitionings (no float-sum order sensitivity;
    * the regression's catastrophic cancellation happens on exact
    * integers, where it is exact).
    *
    * Shape: one token-keyed count agg (map-side combine) behind a
    * [[Barrier]] (read twice: rollup + fit); the rollup is a full agg
    * over the compact vocab frame; the fit input is a distributed
    * `TakeOrderedAndProject` top-`fitTopK` — the rank window orders ≤
    * fitTopK rows, never a vocab-sized sort. Both 1-row frames
    * broadcast-cross-join. Nothing corpus-sized moves after the count,
    * and the fit frame is fixed-size at any corpus scale. */
  def zipfAudit(df: DataFrame, textCol: String,
                fitTopK: Int = 500): DataFrame = {
    // >= 100, not >= 2: `top100_tokens` is computed INSIDE the
    // top-fitTopK frame (one TakeOrdered instead of two), so a smaller
    // fit window would silently report top-fitTopK mass under the
    // top-100 name.
    require(fitTopK >= 100, s"fitTopK must be >= 100, got $fitTopK")
    import org.apache.spark.sql.expressions.Window
    val tf = Barrier.cut(
      df.select(explode(tokens(col(textCol))).as("w"))
        .groupBy(col("w")).agg(count(lit(1)).as("c")))
    val rollup = tf.agg(
      count(lit(1)).as("vocab_size"),
      sum(col("c")).as("total_tokens"),
      sum(when(col("c") === 1, 1L).otherwise(0L)).as("hapax_count"))
    val dec = "decimal(38,0)"
    val top = tf.orderBy(desc("c"), asc("w")).limit(fitTopK)
      .withColumn("rank", row_number()
        .over(Window.orderBy(desc("c"), asc("w"))).cast("long"))
      .withColumn("x", floor(log(col("rank")) * lit(1e6) + lit(0.5)))
      .withColumn("y", floor(log(col("c")) * lit(1e6) + lit(0.5)))
    val fit = top.agg(
      count(lit(1)).cast(dec).as("n"),
      sum(col("x")).cast(dec).as("sx"),
      sum(col("y")).cast(dec).as("sy"),
      sum((col("x") * col("y")).cast(dec)).as("sxy"),
      sum((col("x") * col("x")).cast(dec)).as("sxx"),
      sum((col("y") * col("y")).cast(dec)).as("syy"),
      sum(when(col("rank") <= 100, col("c")).otherwise(0L))
        .as("top100_tokens"))
    val dxy = col("n") * col("sxy") - col("sx") * col("sy")
    val dxx = col("n") * col("sxx") - col("sx") * col("sx")
    val dyy = col("n") * col("syy") - col("sy") * col("sy")
    val aNum = col("sy") * col("sxx") - col("sx") * col("sxy")
    val z = lit(0).cast(dec)
    broadcast(rollup).crossJoin(broadcast(fit))
      .select(col("vocab_size"), col("total_tokens"), col("hapax_count"),
        col("top100_tokens"), col("n").cast("long").as("fit_terms"),
        when(dxx =!= z, Portable.intRatioSigned9(dxy, dxx))
          .as("zipf_slope"),
        when(dxx =!= z, Portable.intRatioSigned9(aNum,
          dxx * lit(1000000L))).as("zipf_intercept"),
        // r2's exact form (dxy²/(dxx·dyy)) needs ~40 digits — past
        // DECIMAL(38,0)/HUGEINT — so it stays a documented
        // single-division float chain over the exact integer moments
        when(dxx =!= z && dyy =!= z,
          Portable.ratio9(dxy.cast("double") * dxy.cast("double") /
            (dxx.cast("double") * dyy.cast("double")))).as("zipf_r2"))
  }

  /** Corpus-health Heaps audit — the vocabulary-GROWTH twin of
    * [[zipfAudit]]: split the corpus into `buckets` equal-count document
    * prefixes in id order and report the cumulative V(N) curve — per
    * prefix, cumulative docs / tokens / distinct types plus the types
    * born in that bucket — and the least-squares Heaps exponent β̂ of
    * ln V ~ ln N (Heaps '78 predicts β ≈ 0.4–0.6 for natural language;
    * β near 0 flags a saturated or templated vocabulary — exactly the
    * fixture defect the round-8 scaling study tripped over — and β
    * near 1 flags id-like token pollution). Run next to [[zipfAudit]]
    * on every corpus refresh: Zipf checks the frequency SHAPE at a
    * point, Heaps checks that the vocabulary still GROWS like text.
    *
    * Relational shape — the curve never rescans a prefix: each type's
    * FIRST document (min id over its postings, one token-keyed agg
    * with map-side combine) assigns it to the bucket where it is born,
    * and cumulative sums over the ≤`buckets`-row rollup reconstruct V
    * at every prefix; token mass cumulates the same way from the doc
    * spine. The ntile bucketing orders the (id) spine only — narrow
    * n_docs rows, the audit-twin sort contract (sample at extreme
    * scale) shared with the exact-dedup chain. β̂ reuses [[zipfAudit]]'s
    * cross-engine discipline: 1e6-quantized ln on exact integer
    * cumulatives, DECIMAL(38,0) normal equations, ONE cast to double.
    *
    * Returns one row per bucket:
    * (bucket, n_docs, n_tokens, vocab, new_types, heaps_beta,
    * heaps_r2) — n_docs/n_tokens/vocab cumulative, β̂/r² constant. */
  def heapsAudit(df: DataFrame, idCol: String, textCol: String,
                 buckets: Int = 10): DataFrame = {
    require(buckets >= 2, s"buckets must be >= 2, got $buckets")
    import org.apache.spark.sql.expressions.Window
    val toks = df.select(col(idCol).as("__id"), tokens(col(textCol)).as("__t"))
    val spine = Barrier.cut(
      toks.select(col("__id"), size(col("__t")).cast("long").as("__n"))
        .withColumn("bucket",
          ntile(buckets).over(Window.orderBy(col("__id"))).cast("long")))
    val born = toks.select(col("__id"), explode(col("__t")).as("__w"))
      .groupBy(col("__w")).agg(min(col("__id")).as("__fid"))
      .join(spine.select(col("__id").as("__fid"), col("bucket")), Seq("__fid"))
      .groupBy(col("bucket")).agg(count(lit(1)).as("new_types"))
    val w = Window.orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val curve = Barrier.cut(
      spine.groupBy(col("bucket"))
        .agg(count(lit(1)).as("__d"), sum(col("__n")).as("__m"))
        .join(born, Seq("bucket"), "left")
        .na.fill(0L, Seq("new_types"))
        // ≤ buckets rows: the cumulative window is provably bounded
        .select(col("bucket"),
          sum(col("__d")).over(w).as("n_docs"),
          sum(col("__m")).over(w).as("n_tokens"),
          sum(col("new_types")).over(w).as("vocab"),
          col("new_types")))
    val dec = "decimal(38,0)"
    val pts = curve.filter(col("n_tokens") > 0 && col("vocab") > 0)
      .withColumn("x", floor(log(col("n_tokens")) * lit(1e6) + lit(0.5)))
      .withColumn("y", floor(log(col("vocab")) * lit(1e6) + lit(0.5)))
    val fit = pts.agg(
      count(lit(1)).cast(dec).as("n"),
      sum(col("x")).cast(dec).as("sx"),
      sum(col("y")).cast(dec).as("sy"),
      sum((col("x") * col("y")).cast(dec)).as("sxy"),
      sum((col("x") * col("x")).cast(dec)).as("sxx"),
      sum((col("y") * col("y")).cast(dec)).as("syy"))
    val dxy = col("n") * col("sxy") - col("sx") * col("sy")
    val dxx = col("n") * col("sxx") - col("sx") * col("sx")
    val dyy = col("n") * col("syy") - col("sy") * col("sy")
    val z = lit(0).cast(dec)
    curve.crossJoin(broadcast(fit))
      .select(col("bucket"), col("n_docs"), col("n_tokens"), col("vocab"),
        col("new_types"),
        when(dxx =!= z, Portable.intRatioSigned9(dxy, dxx))
          .as("heaps_beta"),
        // r2: see zipfAudit — exact form exceeds 128-bit range
        when(dxx =!= z && dyy =!= z,
          Portable.ratio9(dxy.cast("double") * dxy.cast("double") /
            (dxx.cast("double") * dyy.cast("double")))).as("heaps_r2"))
  }

  /** Inverse-Cloze-Task contrastive pairs (Lee et al., ACL'19 — the
    * DPR/Contriever retrieval-pretraining data op): for each document
    * long enough, pull one deterministic `spanTokens`-token window out
    * as the "query" and keep the document WITH THE WINDOW REMOVED as
    * the "passage" — the (query, positive-passage) pairs a dense
    * retriever trains on, generated from raw text with no labels. The
    * window offset is a keyed-hash draw ([[Portable]]) over the valid
    * range, so extraction is bit-reproducible across runs, partitions
    * and engines — no RNG state. Docs with fewer than 2×spanTokens
    * tokens drop: a pair whose passage is shorter than its query
    * teaches nothing.
    *
    * Returns (id, n_tokens, span_start 0-based, query, passage).
    *
    * Map-only — tokenize, hash, slice, rejoin per row; the corpus never
    * shuffles at any scale. */
  def ictPairs(df: DataFrame, idCol: String, textCol: String,
               spanTokens: Int): DataFrame = {
    require(spanTokens >= 1, s"spanTokens must be >= 1, got $spanTokens")
    val k = spanTokens
    df.select(col(idCol), tokens(col(textCol)).as("__t"))
      .withColumn("__n", size(col("__t")).cast("long"))
      .filter(col("__n") >= 2L * k)
      .withColumn("span_start",
        pmod(Portable.seededHash(col(idCol), lit("ict")),
          col("__n") - lit(k.toLong) + lit(1L)))
      .select(col(idCol), col("__n").as("n_tokens"), col("span_start"),
        array_join(slice(col("__t"), (col("span_start") + 1).cast("int"),
          lit(k)), " ").as("query"),
        array_join(concat(
          slice(col("__t"), lit(1), col("span_start").cast("int")),
          slice(col("__t"), (col("span_start") + k + 1).cast("int"),
            (col("__n") - col("span_start") - k).cast("int"))), " ")
          .as("passage"))
  }

  /** All (non-distinct) k-gram shingles — winnowing and occurrence-
    * weighted gram features ([[Sampling.dsirScores]]) need positional
    * k-grams, not the distinct set. Native single-pass expression
    * ([[graft.functions.TokenShingles]], r15 — see [[shingles]]).
    * DuckDB twin: [[shinglesAllSql]]. */
  def shinglesAll(toks: Column, n: Int): Column =
    graft.functions.TokenShingles.col(toks, n, distinct = false)

  /** [[Dedup.SimHashBits]]-bit SimHash from a pre-hashed token array
    * (`array<bigint>` of 60-bit [[Portable]] hashes): bit b of the
    * fingerprint is set when the sum over tokens of ±1 (by bit b of the
    * token's hash) is ≥ 0. Pure per-row expression (map-only). Takes the
    * HASH array, not the token array, so the md5 work happens once per
    * token in a prior projection instead of once per (token, bit). The
    * DuckDB oracle computes the identical value relationally. */
  def simhash(hashCol: String): Column =
    expr(
      s"""aggregate(sequence(0, ${Dedup.SimHashBits - 1}), CAST(0 AS BIGINT), (acc, b) -> acc +
         |  IF(aggregate($hashCol, CAST(0 AS BIGINT), (a2, h) -> a2 +
         |       IF(((shiftright(h, b)) & 1) = 1,
         |          CAST(1 AS BIGINT), CAST(-1 AS BIGINT))) >= 0,
         |     shiftleft(CAST(1 AS BIGINT), b), CAST(0 AS BIGINT)))""".stripMargin)

  /** Winnowing fingerprints (Schleimer, Wilkerson & Aiken, SIGMOD'03 —
    * the MOSS local fingerprinting scheme): hash every positional
    * k-gram, slide a window of `w` consecutive gram hashes, keep each
    * window's MINIMUM hash; the per-document fingerprint set is the
    * distinct selected hashes. The winnowing guarantee: any shared
    * token run of length ≥ w + k − 1 contributes at least one COMMON
    * fingerprint to both documents, while expected density is ~2/(w+1)
    * of all grams — position-robust overlap detection at a fraction of
    * the full-shingle index (q55) cost, the plagiarism/quote-detection
    * primitive.
    *
    * This implementation fingerprints the hash VALUE (not the (value,
    * position) pair of the paper): the overlap report only consumes
    * values, dropping positions keeps the selection rule identical in
    * both engines without an argmin tie-break, and the ≥-one-common-
    * fingerprint guarantee is on values anyway. Documents with fewer
    * than w grams winnow their single full-span window (≥ 1
    * fingerprint per non-empty document).
    *
    * Shape: one tokenize → positional grams ([[shinglesAll]]) →
    * posexplode → per-doc ROWS window min (partitioned by doc — never
    * global) → distinct. Map-side until the final per-doc distinct.
    * Returns (idCol, fp). */
  def winnowFingerprints(df: DataFrame, idCol: String, textCol: String,
                         k: Int, w: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(k >= 1 && w >= 1, s"k and w must be >= 1, got k=$k w=$w")
    val grams = df
      .select(col(idCol), posexplode_outer(
        shinglesAll(tokens(col(textCol)), k)))
      .filter(col("col").isNotNull)
      .select(col(idCol), (col("pos") + 1).as("__p"),
        Portable.seededHash(col("col")).as("__h"),
        count(lit(1)).over(
          Window.partitionBy(col(idCol))).as("__np"))
    val win = Window.partitionBy(col(idCol)).orderBy(col("__p"))
      .rowsBetween(Window.currentRow, w - 1)
    grams
      .withColumn("__fp", min(col("__h")).over(win))
      .filter(col("__p") <= greatest(col("__np") - lit(w - 1), lit(1L)))
      .select(col(idCol), col("__fp").as("fp"))
      .distinct()
  }

  /** Pairwise overlap report over [[winnowFingerprints]] output: for
    * every document pair sharing ≥ `minShared` fingerprints,
    * (id_a < id_b, n_shared, n_a, n_b, containment = n_shared /
    * min(n_a, n_b)) — n_a/n_b are fingerprint-set sizes AFTER the
    * `maxDf` posting prune, the same restricted-universe contract as
    * [[Dedup.jaccardPairsExact]] (a fingerprint shared by more than
    * `maxDf` documents is boilerplate, not plagiarism, and its
    * posting list is the quadratic hot key at corpus scale).
    *
    * Shape: df-prune → fingerprint-keyed self-join (posting lists
    * only — the corpus never self-joins) → pair-keyed count → two
    * broadcast-size joins for the set sizes. */
  def winnowOverlap(fps: DataFrame, idCol: String, maxDf: Long,
                    minShared: Long): DataFrame = {
    require(maxDf >= 1, s"maxDf must be >= 1, got $maxDf")
    require(minShared >= 1, s"minShared must be >= 1, got $minShared")
    val posts = Barrier.cut(fps.select(col(idCol), col("fp")))
    val kept = posts.join(
      posts.groupBy(col("fp")).agg(count(lit(1)).as("__df"))
        .filter(col("__df") <= maxDf).select(col("fp")),
      Seq("fp"))
    val sizes = kept.groupBy(col(idCol)).agg(count(lit(1)).as("__sz"))
    kept.select(col("fp"), col(idCol).as("id_a"))
      .join(kept.select(col("fp"), col(idCol).as("id_b")), Seq("fp"))
      .filter(col("id_a") < col("id_b"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
      .join(sizes.select(col(idCol).as("id_a"), col("__sz").as("n_a")),
        Seq("id_a"))
      .join(sizes.select(col(idCol).as("id_b"), col("__sz").as("n_b")),
        Seq("id_b"))
      .select(col("id_a"), col("id_b"), col("n_shared"), col("n_a"),
        col("n_b"),
        Portable.intRatio9(col("n_shared"), least(col("n_a"), col("n_b")))
          .as("containment"))
  }
}

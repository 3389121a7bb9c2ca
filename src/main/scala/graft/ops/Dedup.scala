package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for LLM-training-data pipelines (SURVEY.md
  * §7.4): exact (content-hash groupBy), MinHash+LSH near-dup, SimHash
  * near-dup, n-gram Jaccard verification, embedding-cosine near-dup.
  *
  * 100 TB posture: a corpus is never compared pairwise. Every near-dup
  * path is signature → band/bucket → shuffle keyed on the bucket →
  * candidate pairs only within buckets → exact verify on the candidates.
  * The only all-pairs computation ever materialized is |candidates|,
  * which LSH keeps near-linear in the true near-dup count. Signatures are
  * map-only column expressions; persist the signature table when several
  * downstream stages reuse it.
  *
  * All randomness is keyed [[Portable]] hashing → reproducible across
  * engines; every operator here is DuckDB-oracle-able.
  */
object Dedup {

  // ---- exact ------------------------------------------------------------

  /** Exact-duplicate groups: md5 over the content column. Returns one row
    * per distinct content value: (content_hash, n_docs, keep_id) where
    * keep_id is the smallest doc id (the canonical survivor). */
  def exactGroups(df: DataFrame, idCol: String, contentCol: String): DataFrame =
    df.groupBy(md5(col(contentCol).cast("binary")).as("content_hash"))
      .agg(count(lit(1)).as("n_docs"), min(col(idCol)).as("keep_id"))

  /** Exact dedup: keep the smallest id per distinct content value.
    * Equivalent to `dropDuplicates(contentCol)` but with a deterministic
    * survivor (dropDuplicates keeps an arbitrary row). */
  def dedupExact(df: DataFrame, idCol: String, contentCol: String): DataFrame =
    df.join(exactGroups(df, idCol, contentCol)
        .select(col("keep_id").as(idCol)), Seq(idCol))

  /** Incremental exact dedup: rows of `df` whose content value already
    * appears in `existing` are dropped — the daily-ingest pattern
    * (today's crawl vs the historical index) where re-deduplicating
    * the whole corpus per batch would be quadratic over time. The
    * existing side reduces to its DISTINCT content hashes (at rest
    * this is the stored dedup index — 16 bytes/doc, not the corpus),
    * and the batch anti-joins it on the hash — one batch-sized
    * shuffle; the historical corpus is never re-scanned beyond its
    * hash column. In-batch duplicates are NOT removed here — compose
    * with [[dedupExact]] for that. */
  def dedupExactAgainst(df: DataFrame, existing: DataFrame, idCol: String,
                        contentCol: String): DataFrame = {
    val hashes = existing
      .select(md5(col(contentCol).cast("binary")).as("__h")).distinct()
    df.withColumn("__h", md5(col(contentCol).cast("binary")))
      .join(hashes, Seq("__h"), "left_anti")
      .drop("__h")
  }

  /** [[dedupExactAgainst]] with a Bloom prefilter — the daily-ingest
    * shape for a LARGE batch against a HUGE historical index. The
    * anti-join alone shuffles the whole batch; but most of a typical
    * crawl batch is new content, and a Bloom filter over the index
    * hashes proves "definitely new" map-side with zero shuffle. Rows
    * whose hash the filter rejects CANNOT be in the index (no false
    * negatives) and skip the join entirely; only Bloom-positive rows
    * (true dups + the `fpp` false-positive sliver) reach the exact
    * anti-join verify, so the join's streamed side shrinks from |batch|
    * to ~|dups| + fpp·|batch|. Output is EXACTLY [[dedupExactAgainst]]
    * (the verify join removes Bloom false positives) — the sketch only
    * prunes work, never changes the answer; a spec pins the equality
    * and the oracle hash-checks it end-to-end (q105).
    *
    * Mechanics: the filter is built DISTRIBUTED by Spark's
    * `BloomFilterAggregate` (partial filters merge like any agg — one
    * pass over the index's hash column, never a driver-side item loop),
    * and the final bitmap rides to executors as a binary literal inside
    * the codegen'd `BloomFilterMightContain` predicate — the same
    * machinery Spark's runtime-filter optimization injects for shuffle
    * joins, applied deliberately because we know the join is an
    * anti-join on a stored index. Size it honestly: `expectedItems` ≈
    * the index's distinct-hash count; bits = optimalNumOfBits(n, fpp)
    * (~1.2 GiB at 10^9 items / 1% fpp — driver and every executor hold
    * one copy, the broadcast-dim budget). The index side itself is
    * scanned twice (once building the filter, once as the verify join's
    * build side) but only its 16-byte hash column — at rest that IS the
    * stored dedup index, the corpus text is never re-read.
    *
    * `existing` empty → null filter aggregate → batch returned as-is
    * (nothing to drop), matching the anti-join. */
  def dedupExactAgainstBloom(df: DataFrame, existing: DataFrame,
                             idCol: String, contentCol: String,
                             expectedItems: Long = 1L << 20,
                             fpp: Double = 0.01): DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    import org.apache.spark.sql.graftbridge.ColumnBridge
    import org.apache.spark.sql.types.BinaryType
    import org.apache.spark.util.sketch.BloomFilter
    require(expectedItems >= 1, s"expectedItems must be >= 1, got $expectedItems")
    require(fpp > 0 && fpp < 1, s"fpp must be in (0, 1), got $fpp")
    val hashes = existing
      .select(md5(col(contentCol).cast("binary")).as("__h")).distinct()
    val bfAgg = new BloomFilterAggregate(
      ColumnBridge.expression(xxhash64(col("__h"))),
      Literal(expectedItems),
      Literal(BloomFilter.optimalNumOfBits(expectedItems, fpp)))
      .toAggregateExpression()
    val bfBytes = hashes.select(ColumnBridge.column(bfAgg).as("__bf"))
      .head.getAs[Array[Byte]](0)
    if (bfBytes == null) return df // empty index: nothing to drop
    val withH = df.withColumn("__h", md5(col(contentCol).cast("binary")))
    val mightContain = ColumnBridge.column(BloomFilterMightContain(
      Literal.create(bfBytes, BinaryType),
      ColumnBridge.expression(xxhash64(col("__h")))))
    val definitelyNew = withH.filter(!mightContain)
    val verified = withH.filter(mightContain)
      .join(hashes, Seq("__h"), "left_anti")
    definitelyNew.unionByName(verified).drop("__h")
  }

  /** Incremental NEAR dedup: rows of `df` that Jaccard-match (≥ tau)
    * ANY document of the existing corpus are dropped. Same
    * MinHash→LSH machinery as [[dedupNear]], but the candidate join
    * runs ACROSS the two sides (new bands × existing bands on the
    * bucket key) instead of self-joining — no new-vs-new and no
    * existing-vs-existing pairs are ever generated. At scale the
    * existing side's band table is the persisted dedup index
    * (numPerms longs + bands hashes per doc); only the batch is
    * signed per run, and the bucket join shuffles band rows, never
    * documents. In-batch near-dups are NOT removed — compose with
    * [[dedupNear]]/[[dedupNearClustered]]. */
  def dedupNearAgainst(df: DataFrame, idCol: String, shingled: DataFrame,
                       existingShingled: DataFrame, numPerms: Int,
                       bands: Int, rpb: Int, tau: Double): DataFrame = {
    val bNew = lshBands(minhashSignatures(shingled, idCol, numPerms),
        idCol, bands, rpb)
      .select(col("band"), col("bh"), col(idCol).as("__new"))
    val bEx = lshBands(minhashSignatures(existingShingled, idCol, numPerms),
        idCol, bands, rpb)
      .select(col("band"), col("bh"), col(idCol).as("__ex"))
    val cands = bNew.join(bEx, Seq("band", "bh"))
      .select(col("__new"), col("__ex")).distinct()
    val sa = shingled.select(col(idCol).as("__new"), col("shingles").as("__sha"))
    val sb = existingShingled
      .select(col(idCol).as("__ex"), col("shingles").as("__shb"))
    val drops = cands.join(sa, Seq("__new")).join(sb, Seq("__ex"))
      .filter(Portable.intRatio9(
        size(array_intersect(col("__sha"), col("__shb"))).cast("long"),
        size(array_union(col("__sha"), col("__shb"))).cast("long"))
        >= tau)
      .select(col("__new").as(idCol)).distinct()
    df.join(drops, Seq(idCol), "left_anti")
  }

  // ---- MinHash + LSH ----------------------------------------------------

  /** MinHash signature: permutation p's component is the minimum keyed
    * hash over the document's shingle set. Input must carry `idCol` and a
    * `shingles` array column ([[Text.shingles]]); documents with no
    * shingles are dropped (no signature is definable).
    *
    * Shape: explode shingles → ONE codegen'd [[graft.functions.Hash60]]
    * digest per shingle → numPerms [[graft.functions.MinHashMix]]
    * multiply-mod mixes (~ns each) → partial+final min-aggregate back
    * to one row per doc. Three shapes were measured before this one:
    * the all-array `transform` lambdas (interpreted — Spark doesn't
    * codegen higher-order-function bodies, ~2x), the round-4..12
    * explode form with one FULL MD5 digest per (shingle, perm) — 16x
    * the digests at 16 perms, the thread-sampled map-side bill of the
    * 5M-doc funnel run — and a fully MAP-ONLY per-row
    * [[graft.functions.MinHashSig]] projection, which priced the
    * digests right but REGRESSED the q43/q51 near-dup family ~4x:
    * without the groupBy there is no exchange below the band
    * self-join, so each join side re-derived the whole
    * tokenize→shingle→sign chain from the scan (and CollapseProject
    * inlined the signature into every element_at). The narrow shuffle
    * (numPerms longs per doc after map-side combine) buys exchange
    * REUSE for every downstream self-join — it is the cheap half of
    * the trade at any scale. Output: (idCol, sig: array<bigint>). */
  def minhashSignatures(df: DataFrame, idCol: String, numPerms: Int): DataFrame = {
    val perShingle = df
      // explode_OUTER + isNotNull: a plain explode makes the optimizer
      // infer size(shingles) > 0 and push it below the projection,
      // re-deriving the whole shingle expression at the scan (see the
      // PlanSpec regression test); empty-shingle docs drop either way
      .select(col(idCol), explode_outer(col("shingles")).as("__s"))
      .filter(col("__s").isNotNull)
      .select(col(idCol) +: (0 until numPerms).map(p =>
        graft.functions.MinHashMix(
          Portable.seededHash(col("__s")), p).as(s"__h$p")): _*)
    // one digest feeds all mixes: the collapsed projection repeats
    // Hash60(__s) per perm SYNTACTICALLY, but whole-stage codegen's
    // subexpression elimination evaluates it once per row (the r12
    // form's per-perm Hash60(__s, p) digests were DISTINCT expressions
    // no CSE could merge — that one-character difference is the 16x)
    perShingle
      .groupBy(col(idCol))
      .agg(min(col("__h0")).as("__m0"),
        (1 until numPerms).map(p => min(col(s"__h$p")).as(s"__m$p")): _*)
      .select(col(idCol),
        array((0 until numPerms).map(p => col(s"__m$p")): _*).as("sig"))
  }

  /** LSH banding: split the signature into `bands` bands of `rpb` rows,
    * hash each band → (doc, band, band_hash). Docs sharing any band hash
    * are candidate pairs. b bands of r rows ⇒ the S-curve collision
    * probability 1-(1-j^r)^b; 4×4 over 16 perms targets j ≳ 0.5. */
  def lshBands(sigs: DataFrame, idCol: String, bands: Int, rpb: Int): DataFrame = {
    val bandStructs = array((0 until bands).map { b =>
      val keys = (1 to rpb).map(r => element_at(col("sig"), b * rpb + r))
      struct(lit(b).as("band"), Portable.seededHash(keys :+ lit(b): _*).as("bh"))
    }: _*)
    sigs.select(col(idCol), explode(bandStructs).as("bnd"))
      .select(col(idCol), col("bnd.band").as("band"), col("bnd.bh").as("bh"))
  }

  /** Candidate pairs: self-join of band hashes — the one shuffle of the
    * MinHash pipeline, keyed on (band, band_hash) so only docs in the
    * same bucket ever meet. Returns distinct (id_a < id_b).
    *
    * The band frame is cut behind a [[Barrier]] first (r15): both
    * self-join sides consume it, and Spark plans are trees — without
    * the cut the whole upstream signature chain (shingle explode +
    * 16-perm min aggregate) executed once PER SIDE for callers whose
    * input is not already cached. bands × 3 longs per doc — trivially
    * cheap to materialize. */
  def lshCandidatePairs(bandsDf: DataFrame, idCol: String): DataFrame = {
    val cut = Barrier.cut(bandsDf.select(col(idCol), col("band"), col("bh")))
    val a = cut.select(col("band"), col("bh"), col(idCol).as("id_a"))
    val b = cut.select(col("band"), col("bh"), col(idCol).as("id_b"))
    a.join(b, Seq("band", "bh"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b")).distinct()
  }

  /** Exact Jaccard verification of candidate pairs against the shingle
    * sets: |A∩B| / |A∪B| on the distinct-shingle arrays. Joins the (small)
    * candidate set back to the signatures' shingles — two hash joins keyed
    * on doc id. Keeps pairs with jaccard ≥ tau. */
  def jaccardVerify(cands: DataFrame, shingled: DataFrame, idCol: String,
                    tau: Double): DataFrame = {
    val sa = shingled.select(col(idCol).as("id_a"), col("shingles").as("sh_a"))
    val sb = shingled.select(col(idCol).as("id_b"), col("shingles").as("sh_b"))
    cands.join(sa, Seq("id_a")).join(sb, Seq("id_b"))
      .withColumn("jaccard", Portable.intRatio9(
        size(array_intersect(col("sh_a"), col("sh_b"))).cast("long"),
        size(array_union(col("sh_a"), col("sh_b"))).cast("long")))
      .filter(col("jaccard") >= tau)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** The verified near-dup pair list of a shingled frame — the full
    * MinHash→LSH→Jaccard chain ([[minhashSignatures]] → [[lshBands]] →
    * [[lshCandidatePairs]] → [[jaccardVerify]]): (id_a, id_b, jaccard),
    * id_a < id_b, jaccard ≥ tau. */
  private[graft] def nearDupPairs(shingled: DataFrame, idCol: String,
                                  numPerms: Int, bands: Int, rpb: Int,
                                  tau: Double): DataFrame = {
    val sigs = minhashSignatures(shingled, idCol, numPerms)
    val cands = lshCandidatePairs(lshBands(sigs, idCol, bands, rpb), idCol)
    jaccardVerify(cands, shingled, idCol, tau)
  }

  /** Chunk-level dedup-rate audit — the storage/training-mass savings
    * estimate over a chunked corpus (the consumer
    * [[graft.ops.Text.chunkContentDefined]] exists for): chunks
    * grouped by content hash, rolled up to one row of totals — how
    * many chunk instances are redundant copies and how many tokens
    * they carry. Content-defined boundaries make this estimate
    * revision-robust; on fixed-grid chunks it still measures exact
    * chunk duplication.
    *
    * `nTokensCol` rides the hash groupBy (identical text ⇒ identical
    * token count, so max() is exact). Shape: one hash-keyed count agg
    * (uniform by construction) + a 1-row rollup — the corpus text
    * never moves beyond its hash. */
  def chunkDedupRate(chunks: DataFrame, chunkCol: String,
                     nTokensCol: String): DataFrame =
    chunks
      .groupBy(md5(col(chunkCol).cast("binary")).as("__h"))
      .agg(count(lit(1)).as("__c"), max(col(nTokensCol)).as("__t"))
      .agg(sum(col("__c")).as("n_chunks"),
        count(lit(1)).as("n_unique_chunks"),
        sum(col("__c") - 1).as("dup_chunks"),
        sum(col("__c") * col("__t")).as("n_tokens"),
        sum((col("__c") - 1) * col("__t")).as("dup_tokens"))
      .select(col("n_chunks"), col("n_unique_chunks"), col("dup_chunks"),
        Portable.intRatio9(col("dup_chunks"), col("n_chunks"))
          .as("dup_chunk_ratio"),
        col("n_tokens"), col("dup_tokens"),
        Portable.intRatio9(col("dup_tokens"), col("n_tokens"))
          .as("dup_token_ratio"))

  /** Incremental chunk-level scrub against a stored chunk index — the
    * delta-crawl consumer [[graft.ops.Text.chunkContentDefined]]'s
    * revision-stable boundaries exist for: re-chunk the NEW batch,
    * drop every chunk whose content hash is already in the historical
    * index (`storedHashes`, one `chunk_hash` column — the index a
    * prior run stored), and REWRITE each document from its surviving
    * chunks in order. Because boundaries are content-defined, an
    * edited document re-aligns with its previous revision after the
    * edit region, so unchanged spans dedup away even though the
    * document as a whole is "new" — the sub-document dedup neither
    * exact ([[dedupExactAgainst]]) nor near ([[dedupNearAgainst]])
    * row-level dedup can do. Documents scrubbed to nothing report
    * empty text (callers drop them, the
    * [[graft.app.CorpusPipeline]] span-scrub convention).
    *
    * Returns (id, n_chunks, n_dropped, text_scrubbed).
    *
    * Shape: the chunker's one doc-keyed window shuffle, a LEFT ANTI
    * equi join on the chunk hash (uniform key; the stored side is
    * 16 bytes/chunk at rest), and one doc-keyed reassembly rollup plus
    * the chunk-count rollup from the pre-join frame — the batch is
    * chunked once behind a [[Barrier]]. */
  def scrubChunksAgainst(df: DataFrame, idCol: String, textCol: String,
                         divisor: Int, salt: String,
                         storedHashes: DataFrame): DataFrame = {
    val chunks = Barrier.cut(
      Text.chunkContentDefined(
        df.select(col(idCol).as("doc_id"), col(textCol)), textCol,
        divisor, salt))
    val totals = chunks.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_chunks"))
    val kept = chunks
      .join(storedHashes.select(
          col("chunk_hash").as("__sh")),
        md5(col("chunk").cast("binary")) === col("__sh"), "left_anti")
    val rebuilt = kept.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("__kept"),
        concat_ws(" ", transform(
          sort_array(collect_list(struct(col("chunk_idx").as("i"),
            col("chunk").as("c")))), x => x.getField("c")))
          .as("text_scrubbed"))
    totals.join(rebuilt, Seq("doc_id"), "left")
      .select(col("doc_id").as(idCol), col("n_chunks"),
        (col("n_chunks") - coalesce(col("__kept"), lit(0L)))
          .as("n_dropped"),
        coalesce(col("text_scrubbed"), lit("")).as("text_scrubbed"))
  }

  /** Per-document n-gram novelty — how much genuinely NEW text each
    * document contributes to the corpus in id order: the fraction of
    * its distinct shingles whose FIRST corpus occurrence (minimum doc
    * id over documents containing the shingle) is this document. The
    * marginal-contribution audit behind data-curriculum and
    * crawl-refresh decisions — a snapshot whose tail documents show
    * near-zero novelty is re-crawling what the corpus already has, a
    * signal neither pairwise near-dup (needs a similar PAIR) nor
    * boilerplate df gates (need many repeats) surface.
    *
    * Takes the shingled frame ((idCol, shingles) — [[minhashSignatures]]'s
    * input shape) so the gram size and tokenization stay the caller's
    * choice. Docs with no shingles report 0 counts and NULL ratio (the
    * [[graft.ops.Text.boilerplateStats]] convention).
    *
    * Shape: explode → per-shingle first-owner as a window min (a
    * shingle's partition is ≤ n_docs rows, never corpus-sized — the
    * same bound as boilerplate's df window) → doc-keyed rollup → spine
    * left-join (the spine scan prunes to the id column). Two keyed
    * shuffles, nothing corpus-sized beyond the exploded gram frame. */
  def noveltyStats(shingled: DataFrame, idCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val per = shingled
      .select(col(idCol), explode_outer(col("shingles")).as("g"))
      .filter(col("g").isNotNull)
      .withColumn("__first", min(col(idCol)).over(Window.partitionBy(col("g"))))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_distinct"),
        sum(when(col("__first") === col(idCol), 1L).otherwise(0L))
          .as("n_novel"))
    shingled.select(col(idCol)).join(per, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_distinct"), lit(0L)).as("n_distinct"),
        coalesce(col("n_novel"), lit(0L)).as("n_novel"),
        Portable.intRatio9(col("n_novel"), col("n_distinct"))
          .as("novelty_ratio"))
  }

  /** Dedup threshold-sensitivity curve — what a τ choice actually
    * costs: from a similarity pair list ([[jaccardPairsExact]] /
    * [[jaccardVerify]] output, unfiltered or low-τ), each document
    * collapses to its MAXIMUM pair similarity, histogrammed into
    * `buckets` equal τ bins with a descending cumulative — row
    * (tau_floor, n_docs, cum_docs_ge) says "raising the dedup
    * threshold to tau_floor would touch cum_docs_ge documents". The
    * tuning curve a data team reads before committing a τ to the
    * curation funnel, where the per-τ survivor count would otherwise
    * cost one clustering run per candidate value.
    *
    * Bucket boundaries are floor(max_jaccard · buckets) on the
    * 9dp-rounded jaccard. The multiply itself is IEEE double (e.g.
    * 0.35 · 20 = 6.999…, binning one bucket low) — cross-engine parity
    * holds because both engines evaluate the IDENTICAL expression on
    * identical 9dp inputs, not because the edge placement is exact;
    * a reader who needs exact edges should bin on the integer 9dp
    * representation instead. Shape: one explode + id-keyed max over
    * the ALREADY-BOUNDED pair list, a `buckets`-row histogram, and a
    * cumulative window over ≤ buckets+1 rows. */
  def dedupSensitivity(pairs: DataFrame, buckets: Int = 20): DataFrame = {
    require(buckets >= 2, s"buckets must be >= 2, got $buckets")
    import org.apache.spark.sql.expressions.Window
    val w = Window.orderBy(col("bucket").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    pairs
      .select(explode(array(col("id_a"), col("id_b"))).as("id"),
        col("jaccard"))
      .groupBy(col("id")).agg(max(col("jaccard")).as("__mj"))
      .withColumn("bucket", floor(col("__mj") * buckets).cast("long"))
      .groupBy(col("bucket")).agg(count(lit(1)).as("n_docs"))
      .withColumn("cum_docs_ge", sum(col("n_docs")).over(w))
      .select(Portable.intRatio9(col("bucket"), lit(buckets.toLong))
          .as("tau_floor"),
        col("n_docs"), col("cum_docs_ge"))
  }

  /** Cross-source duplication matrix — the near-dup pair list
    * ([[jaccardVerify]] / [[jaccardPairsExact]] output) rolled up by
    * the SOURCE pair it connects: for each unordered (source_a,
    * source_b) cell, how many near-dup pairs bridge the two sources and
    * at what mean similarity. The corpus-composition diagnostic a data
    * team reads before mixing crawls — a hot off-diagonal cell means
    * two "independent" sources are substantially the same crawl (double
    * mixture weight), a hot diagonal cell a source that is internally
    * templated; both are invisible in the pairwise list itself.
    *
    * Cells are unordered (least/greatest of the two source names), so
    * A×B and B×A land in one cell regardless of pair orientation.
    *
    * Scale: two id-keyed equi joins of the narrow (id, source)
    * projection against the ALREADY-BOUNDED pair list (LSH/banding made
    * it near-dups only, never all-pairs), then a rollup keyed on the
    * (source, source) cell — cardinality = sources², a handful. The
    * corpus text never moves. */
  def dupSourceMatrix(pairs: DataFrame, meta: DataFrame, idCol: String,
                      groupCol: String): DataFrame = {
    val a = meta.select(col(idCol).as("id_a"), col(groupCol).as("__ga"))
    val b = meta.select(col(idCol).as("id_b"), col(groupCol).as("__gb"))
    pairs.join(a, Seq("id_a")).join(b, Seq("id_b"))
      .select(least(col("__ga"), col("__gb")).as("source_a"),
        greatest(col("__ga"), col("__gb")).as("source_b"), col("jaccard"))
      .groupBy(col("source_a"), col("source_b"))
      .agg(count(lit(1)).as("n_pairs"),
        // jaccard is exactly k/1e9: integerize per pair (lossless),
        // sum exactly, ONE division
        Portable.intRatio9(
          sum(floor(col("jaccard") * lit(1e9) + lit(0.5)).cast("long")),
          count(lit(1)).cast("decimal(38,0)") * lit(1000000000L))
          .as("avg_jaccard"))
  }

  /** EXACT n-gram-Jaccard similarity join via an inverted shingle
    * index — the ground-truth counterpart of the MinHash/LSH pipeline
    * (no banding recall loss): pairs meet through posting lists (docs
    * sharing ≥ 1 sufficiently-rare shingle), and Jaccard comes from the
    * shared-shingle COUNT plus the two set sizes
    * (|A∩B| / (|A|+|B|−|A∩B|)) — no per-pair list intersection ever
    * materializes.
    *
    * `maxDf` drops posting lists longer than `maxDf` docs — the skew
    * lever: one stop-shingle in k docs alone yields k² candidate rows.
    * Under pruning, BOTH the intersection and the set sizes are
    * measured over the surviving (df ≤ maxDf) shingle universe, so the
    * score is the well-defined "Jaccard restricted to rare shingles" —
    * not a deflated hybrid of pruned counts over full sizes. With
    * maxDf ≥ the corpus's max document frequency nothing is pruned and
    * the result is plain exact Jaccard (the q55 wiring; DedupSpec pins
    * both regimes).
    *
    * 100 TB posture: one explode, one shingle-keyed self-join (shuffle
    * on the shingle — uniform once hot shingles are pruned), one
    * pair-keyed count agg. Candidate volume is Σ_sh df², bounded above
    * by maxDf · Σ_sh df. Prefer [[lshCandidatePairs]] when approximate
    * recall is acceptable; this is the exact path.
    *
    * CANDIDATE-MASS PRE-FLIGHT (the [[graft.ops.Er.editJoin]]
    * contract, same default budget): before the posting self-join
    * launches, its mass Σ_sh df² (over the maxDf-surviving shingles —
    * an upper bound on candidate rows; self-matches counted here,
    * excluded by the join) is priced from the posting-count frame. If
    * it exceeds `maxCandidatePairs` the join does NOT run: with
    * `autoSample = false` (default) the call throws, naming the
    * measured mass and the escape hatches (tighten maxDf — the skew
    * lever removes mass quadratically per hot shingle — raise the
    * budget, sample, or use the banded path); with `autoSample =
    * true` the DOCUMENT set is deterministically subsampled
    * (xxhash64(id, seed) bucket filter) by √(budget/mass) per round
    * until the re-measured mass fits, and the result is the exact
    * Jaccard join OF THE SAMPLED corpus — the q119/q145 sample-only
    * audit contract (measured: the exact chain went 32–43× across the
    * sf1→sf10 decade while the banded path it audits stayed ~4×). */
  def jaccardPairsExact(shingled: DataFrame, idCol: String, tau: Double,
                        maxDf: Long,
                        maxCandidatePairs: Long = Er.DefaultMaxCandidatePairs,
                        autoSample: Boolean = false,
                        sampleSeed: Long = 42L): DataFrame = {
    require(maxDf >= 1, s"maxDf must be >= 1, got $maxDf")
    require(maxCandidatePairs >= 1,
      s"maxCandidatePairs must be >= 1, got $maxCandidatePairs")
    // ONE shingle explosion, checkpointed: the df filter, both self-join
    // sides and the set sizes all reuse it — without the barrier the
    // interpreted-HOF shingle pipeline recomputes once per branch
    // (measured 4x the whole query at sf0.1, the q27/q28 lambda trap).
    // explode_OUTER + isNotNull, never bare explode: the non-outer form
    // pushes a Filter that re-derives the whole shingle HOF per row
    // (measured 13x this stage's cost at sf0.1)
    val allPosts = Barrier.cut(shingled
      .select(col(idCol), explode_outer(col("shingles")).as("__sh"))
      .filter(col("__sh").isNotNull))
    // posting-count frame (shingle-bounded, barriered: read by the mass
    // agg and the df filter) + the exactly-priced join mass
    def priced(posts: DataFrame): (DataFrame, BigDecimal) = {
      val dfs = Barrier.cut(posts.groupBy(col("__sh"))
        .agg(count(lit(1)).as("__df"))
        .filter(col("__df") <= maxDf))
      val m = dfs.agg(coalesce(
          sum(col("__df").cast("decimal(38,0)") * col("__df")),
          lit(0).cast("decimal(38,0)")).as("__m"))
        .head.getDecimal(0)
      (dfs, BigDecimal(m))
    }
    var posts = allPosts
    var (dfs, mass) = priced(posts)
    var fraction = 1.0
    var rounds = 0
    while (mass > BigDecimal(maxCandidatePairs)) {
      if (!autoSample) throw new IllegalArgumentException(
        s"jaccardPairsExact pre-flight: the posting self-join would " +
          s"generate $mass candidate rows, over the budget of " +
          s"$maxCandidatePairs. The exact audit is sample-only at this " +
          "corpus size: tighten maxDf (each pruned hot shingle removes " +
          "df² mass), pass autoSample = true to run it on a " +
          "deterministic uniform document sample, raise " +
          "maxCandidatePairs if the cluster can pay for the shuffle, " +
          "or use the banded path (minhashSignatures/lshCandidatePairs" +
          "/jaccardVerify), which scales linearly.")
      rounds += 1
      require(rounds <= 8, "jaccardPairsExact auto-sample did not " +
        s"converge in 8 rounds (mass $mass vs budget " +
        s"$maxCandidatePairs) — the shingle universe is too skewed for " +
        "a uniform document sample; tighten maxDf or use the banded " +
        "path instead")
      // pair mass scales ~fraction² for a self-join; 0.9 safety margin
      fraction *= math.max(1e-6, 0.9 *
        math.sqrt((BigDecimal(maxCandidatePairs) / mass).toDouble))
      posts = Barrier.cut(allPosts.filter(
        pmod(xxhash64(col(idCol), lit(sampleSeed)), lit(1000000000L)) <
          lit(math.max(1L, math.ceil(fraction * 1e9).toLong))))
      val r = priced(posts)
      dfs = r._1
      mass = r._2
    }
    val kept = posts.join(dfs.select(col("__sh")), Seq("__sh"))
    // shingle arrays are distinct per doc, so |A| = the doc's post count
    // — counted over KEPT posts, the same universe as the intersection
    val sizes = kept.groupBy(col(idCol)).agg(count(lit(1)).as("__sz"))
    val inter = kept.select(col("__sh"), col(idCol).as("id_a"))
      .join(kept.select(col("__sh"), col(idCol).as("id_b")), Seq("__sh"))
      .filter(col("id_a") < col("id_b"))
      .groupBy(col("id_a"), col("id_b")).agg(count(lit(1)).as("__i"))
    inter
      .join(sizes.select(col(idCol).as("id_a"), col("__sz").as("__sza")),
        Seq("id_a"))
      .join(sizes.select(col(idCol).as("id_b"), col("__sz").as("__szb")),
        Seq("id_b"))
      .withColumn("jaccard", Portable.intRatio9(col("__i"),
        col("__sza") + col("__szb") - col("__i")))
      .filter(col("jaccard") >= tau)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** EXACT n-gram CONTAINMENT join — the asymmetric sibling of
    * [[jaccardPairsExact]]: score = |A∩B| / min(|A|, |B|), i.e. how much
    * of the SMALLER document's shingle set the pair shares. Jaccard is
    * blind to subset duplication — a paragraph quoted whole inside a
    * 100× longer page scores |A|/|B| ≈ 0.01 Jaccard but 1.0 containment
    * — and web-scale corpora are full of exactly that shape (quoted
    * snippets, syndicated excerpts, boilerplate-wrapped reposts), which
    * is why production dedups (e.g. the ExactSubstr/suffix-array line
    * of work) treat containment as its own signal. Output:
    * (id_a < id_b, sz_a, sz_b, containment) for pairs ≥ `tau`.
    *
    * Shape and posture are [[jaccardPairsExact]]'s verbatim — one
    * checkpointed explode, df-pruned posting lists (`maxDf` is the same
    * skew lever, and under pruning the score is containment restricted
    * to the rare-shingle universe, sizes measured over KEPT posts like
    * the intersection), shingle-keyed self-join, pair-keyed count. Only
    * the final scalar differs: min-size denominator instead of the
    * union size. */
  def containmentPairsExact(shingled: DataFrame, idCol: String, tau: Double,
                            maxDf: Long): DataFrame = {
    require(maxDf >= 1, s"maxDf must be >= 1, got $maxDf")
    val posts = Barrier.cut(shingled
      .select(col(idCol), explode_outer(col("shingles")).as("__sh"))
      .filter(col("__sh").isNotNull))
    val kept = posts.join(
      posts.groupBy(col("__sh")).agg(count(lit(1)).as("__df"))
        .filter(col("__df") <= maxDf).select(col("__sh")),
      Seq("__sh"))
    val sizes = kept.groupBy(col(idCol)).agg(count(lit(1)).as("__sz"))
    val inter = kept.select(col("__sh"), col(idCol).as("id_a"))
      .join(kept.select(col("__sh"), col(idCol).as("id_b")), Seq("__sh"))
      .filter(col("id_a") < col("id_b"))
      .groupBy(col("id_a"), col("id_b")).agg(count(lit(1)).as("__i"))
    inter
      .join(sizes.select(col(idCol).as("id_a"), col("__sz").as("sz_a")),
        Seq("id_a"))
      .join(sizes.select(col(idCol).as("id_b"), col("__sz").as("sz_b")),
        Seq("id_b"))
      .withColumn("containment", Portable.intRatio9(col("__i"),
        least(col("sz_a"), col("sz_b"))))
      .filter(col("containment") >= tau)
      .select(col("id_a"), col("id_b"), col("sz_a"), col("sz_b"),
        col("containment"))
  }

  /** MinHash-LSH recall audit against the exact-Jaccard ground truth —
    * per similarity band, how many true near-pairs the banding scheme
    * recovered. Banding recall is an S-curve in the similarity
    * (P[candidate] = 1 − (1 − j^r)^b), so a scalar recall hides exactly
    * the borderline-τ band where pairs go missing; this report shows
    * the curve empirically, which is how a production dedup tunes
    * (bands, rowsPerBand) before trusting the LSH path at scale.
    * Output: (sim_band = ⌊jaccard·10⌋, n_true, n_found, recall) —
    * LSH-verified pairs are a subset of the exact pairs whenever
    * `maxDf` prunes nothing, so recall ≤ 1 per band by construction.
    *
    * Shape: the shingle frame materializes once behind a [[Barrier]]
    * (EAGER, the multi-read convention) and feeds three consumers: the
    * exact posting-list join ([[jaccardPairsExact]] — the expensive
    * side, which is why this is an AUDIT run on a sample or at
    * commissioning time, not a steady-state pipeline stage), the
    * signature pass, and the candidate verify. Everything downstream of
    * the pair frames is pair-keyed and band-bucketed; the final rollup
    * is 11 rows. */
  def lshRecallReport(shingled: DataFrame, idCol: String, numPerms: Int,
                      bands: Int, rpb: Int, tau: Double,
                      maxDf: Long): DataFrame = {
    val sh = Barrier.cut(shingled)
    val exact = jaccardPairsExact(sh, idCol, tau, maxDf)
    val found = nearDupPairs(sh, idCol, numPerms, bands, rpb, tau)
      .select(col("id_a").as("__fa"), col("id_b").as("__fb"),
        lit(1L).as("__hit"))
    exact
      .join(found, col("id_a") === col("__fa") &&
        col("id_b") === col("__fb"), "left")
      .groupBy(floor(col("jaccard") * 10).cast("long").as("sim_band"))
      .agg(count(lit(1)).as("n_true"), count(col("__hit")).as("n_found"))
      .select(col("sim_band"), col("n_true"), col("n_found"),
        Portable.intRatio9(col("n_found"), col("n_true"))
          .as("recall"))
  }

  /** Benchmark decontamination: training documents sharing at least
    * `minShared` distinct n-gram shingles with ANY eval-set document —
    * the standard pre-training hygiene step (eval answers leaking into
    * the corpus inflate downstream scores). Both inputs are
    * (id, shingles) frames like every dedup operator ([[graft.ops.Text.shingles]]).
    * Returns (idCol, eval_id, shared_ngrams) for every contaminated
    * pair; feed the distinct ids to a left-anti join to scrub.
    *
    * 100 TB posture: the EVAL side is benchmark-sized by definition, so
    * by default its posting list broadcasts — the training corpus meets
    * it in a map-side broadcast hash join and NEVER shuffles
    * document-sized data; the only aggregation is the (train, eval)
    * pair count, bounded by matches, not corpus size (PlanSpec pins the
    * broadcast). Exact counting over distinct shingles — no MinHash
    * recall loss, the property a decontamination audit needs.
    *
    * `broadcastEval = false` is the escape hatch for a LARGE held-out
    * corpus (one whose posting list would not fit the driver): the hint
    * is dropped and the join shuffles both sides on the shingle —
    * identical output (DedupSpec pins equality of the two paths), no
    * driver OOM, at the price of shuffling the training posting list
    * once. */
  def contamination(shingledTrain: DataFrame, shingledEval: DataFrame,
                    idCol: String, minShared: Long,
                    broadcastEval: Boolean = true): DataFrame = {
    require(minShared >= 1, s"minShared must be >= 1, got $minShared")
    // explode_OUTER + isNotNull — the Generate-pushdown trap (see
    // jaccardPairsExact)
    def posts(df: DataFrame, as: String) = df
      .select(col(idCol).as(as), explode_outer(col("shingles")).as("__sh"))
      .filter(col("__sh").isNotNull)
    val evalPosts = posts(shingledEval, "eval_id")
    posts(shingledTrain, idCol)
      .join(if (broadcastEval) broadcast(evalPosts) else evalPosts, Seq("__sh"))
      .groupBy(col(idCol), col("eval_id"))
      .agg(count(lit(1)).as("shared_ngrams"))
      .filter(col("shared_ngrams") >= minShared)
  }

  /** Decontamination threshold-sensitivity curve —
    * [[dedupSensitivity]]'s question asked of the eval-overlap bar:
    * each training document scores its WORST overlap with any single
    * eval document (max shared distinct shingles — exactly the
    * statistic [[contamination]]'s `minShared` thresholds), and the
    * report gives, per observed max-shared value m, the document count
    * at m and the descending cumulative — how many training docs a
    * `minShared = m` bar would flag. One run prices EVERY candidate
    * threshold; without it each bar costs its own contamination pass.
    *
    * Shape: [[contamination]]'s posting join at minShared = 1 (same
    * `broadcastEval` contract — the training corpus never shuffles in
    * broadcast mode), one doc-keyed max agg, one count rollup keyed on
    * the shared-count value, and the cumulative as a window over that
    * compact frame (rows ≤ the largest eval document's shingle count —
    * an audited-bounded global window like the vocab-sized ones). */
  def contaminationSensitivity(shingledTrain: DataFrame,
                               shingledEval: DataFrame, idCol: String,
                               broadcastEval: Boolean = true): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.orderBy(col("max_shared").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    contamination(shingledTrain, shingledEval, idCol, 1L, broadcastEval)
      .groupBy(col(idCol)).agg(max(col("shared_ngrams")).as("max_shared"))
      .groupBy(col("max_shared")).agg(count(lit(1)).as("n_docs"))
      .withColumn("cum_docs_ge", sum(col("n_docs")).over(w))
  }

  /** Per-EVAL-document contamination coverage — the eval-integrity
    * audit that complements [[contamination]]'s train-side scrub list:
    * for each eval document, the fraction of its distinct shingles
    * that appear ANYWHERE in the training corpus. A benchmark row at
    * high coverage is effectively memorizable from training data even
    * when no single training document crosses the pairwise
    * `minShared` bar (its shingles can be spread over MANY training
    * docs — exactly the case the pairwise report misses), so this is
    * the number an eval-set release should publish per row.
    *
    * Shape (train never shuffles): the eval shingle spine (distinct
    * shingles over the whole eval set — eval-sized) broadcasts; the
    * training posts meet it map-side in a left_semi and collapse to
    * the ≤|spine| matched-shingle set. That hit set joins back to the
    * per-doc eval posts (both eval-sized, one doc-keyed agg). The
    * training corpus is read once, filtered map-side, and contributes
    * no corpus-sized shuffle — same posture as [[contamination]],
    * with the same `broadcastEval = false` escape hatch for an eval
    * set too large to broadcast.
    *
    * Output: one row per eval document —
    * (eval_id, n_shingles, n_contaminated, coverage); shingle-less
    * docs report counts 0 and a NULL coverage (never 0/0). */
  def contaminationCoverage(shingledTrain: DataFrame,
                            shingledEval: DataFrame, idCol: String,
                            broadcastEval: Boolean = true): DataFrame = {
    // explode_OUTER + isNotNull — the Generate-pushdown trap (see
    // jaccardPairsExact); the eval posts feed two consumers (spine and
    // coverage agg), so they pass a Barrier and materialize once
    val evalPosts = Barrier.cut(shingledEval
      .select(col(idCol).as("eval_id"), explode_outer(col("shingles")).as("__sh"))
      .filter(col("__sh").isNotNull))
    val evalSpine = evalPosts.select(col("__sh")).distinct()
    val hit = shingledTrain
      .select(explode_outer(col("shingles")).as("__sh"))
      .filter(col("__sh").isNotNull)
      .join(if (broadcastEval) broadcast(evalSpine) else evalSpine,
        Seq("__sh"), "left_semi")
      .distinct()
    val per = evalPosts
      .join(hit.withColumn("__hit", lit(1L)), Seq("__sh"), "left")
      .groupBy(col("eval_id"))
      .agg(count(lit(1)).as("__n"), count(col("__hit")).as("__c"))
    shingledEval.select(col(idCol).as("eval_id")).distinct()
      .join(per, Seq("eval_id"), "left")
      .select(col("eval_id"),
        coalesce(col("__n"), lit(0L)).as("n_shingles"),
        coalesce(col("__c"), lit(0L)).as("n_contaminated"),
        // un-coalesced operands: shingle-less docs yield NULL, never 0/0
        Portable.intRatio9(col("__c"), col("__n"))
          .as("coverage"))
  }

  /** Near-dedup applied: the corpus with near-duplicates REMOVED —
    * the full MinHash→LSH→Jaccard pipeline ([[nearDupPairs]]) driving a
    * greedy keep-smallest-id policy: a document is dropped iff it
    * Jaccard-matches (≥ tau) ANY smaller-id document. Greedy on the
    * verified pair list, not transitive-closure clustering — the
    * standard corpus-dedup practice (connected components would need an
    * iterative join); for a chain a~b~c (a<b<c) both b and c drop even
    * when a≁c directly, same survivors as clustering with min-id
    * representatives when every chain link is verified.
    *
    * Shape: the drop-set is `distinct id_b` of the verified pairs
    * (id_a < id_b by construction, so id_b is always the larger) and the
    * removal is a left-anti join — the corpus shuffles once, keyed on
    * id. */
  def dedupNear(df: DataFrame, idCol: String, shingled: DataFrame,
                numPerms: Int, bands: Int, rpb: Int, tau: Double): DataFrame = {
    val drops = nearDupPairs(shingled, idCol, numPerms, bands, rpb, tau)
      .select(col("id_b").as(idCol)).distinct()
    df.join(drops, Seq(idCol), "left_anti")
  }

  /** Connected-components clustering of a verified near-dup pair list
    * ((id_a, id_b), id_a < id_b — [[jaccardVerify]] output or any
    * undirected edge list): every document that appears in a pair is
    * labeled with its component's MINIMUM id. Returns
    * (idCol, cluster_rep), one row per distinct paired document —
    * the "cluster representative table" corpus-dedup users want when
    * survivors must be one-per-transitive-cluster rather than
    * [[dedupNear]]'s greedy drop-any-id_b (greedy can keep BOTH b and a
    * of a component when only (b,c) and (a,c) verified — clustering
    * keeps exactly min(a,b,c); DedupSpec contrasts them).
    *
    * Algorithm: iterative min-label propagation with path halving.
    * Labels start as the vertex id; each round every vertex takes the
    * min of its own and its neighbors' labels, then jumps to its
    * label's label (labels only decrease and always name a component
    * member, so the jump stays inside the component). The jump halves
    * pointer-chain depth each round, so rounds needed are
    * O(log diameter) — web-scale dup chains (shingle drift) converge
    * in a handful of rounds where plain propagation would need
    * diameter rounds. Stops when no label changed; throws if `maxIters`
    * rounds pass without convergence (non-minimal labels would silently
    * break the cluster contract downstream).
    *
    * Scale posture: per round, one hash join of labels onto the edge
    * list keyed on vertex id + one min-groupBy — both shuffle only the
    * (vertex, label) pairs, never document contents. Labels pass a
    * [[Barrier]] each round: the convergence action doesn't recompute
    * the chain, lineage doesn't double per iteration, and in LOCAL
    * checkpoint mode out-of-scope round RDDs are reclaimed by the
    * ContextCleaner. With a checkpoint directory set the barriers are
    * RELIABLE checkpoints — a lost executor on a multi-hour cluster run
    * recomputes nothing (set one for production dedup; the
    * executor-local fallback dies with the executor) — but reliable
    * checkpoint FILES of superseded rounds are deleted only when
    * `spark.cleaner.referenceTracking.cleanCheckpoints=true` (default
    * false; read at context creation): set it, or budget checkpoint
    * storage ∝ rounds — see the [[Barrier]] scaladoc.
    * The convergence check is one tiny action per round on a
    * |vertices|-row frame — the standard trade for a data-dependent
    * fixpoint. */
  def nearDupClusters(verifiedPairs: DataFrame, idCol: String,
                      maxIters: Int = 30): DataFrame = {
    require(maxIters >= 1, s"maxIters must be >= 1, got $maxIters")
    // undirected: propagate across the edge in both directions.
    // Checkpointed FIRST: the edge list joins into every round, and
    // without the barrier each iteration would recompute the whole
    // upstream pipeline that produced the pairs (for the q51 wiring
    // that's the full MinHash→LSH→Jaccard chain — measured 5x the
    // entire query cost at sf0.1).
    val edges = Barrier.cut(
      verifiedPairs.select(col("id_a").as("__src"), col("id_b").as("__dst"))
        .union(verifiedPairs.select(col("id_b").as("__src"), col("id_a").as("__dst"))))
    var labels = Barrier.cut(edges.select(col("__src").as("__v")).distinct()
      .withColumn("__lbl", col("__v")))
    // one propagation round: (next labels, did any label change)
    def round(lbl: DataFrame): (DataFrame, Boolean) = {
      // neighbor's current label, keyed to the receiving vertex (every
      // vertex has >= 1 neighbor — it came from the edge list)
      val fromNbr = edges
        .join(lbl.withColumnRenamed("__v", "__src"), Seq("__src"))
        .groupBy(col("__dst").as("__v"))
        .agg(min(col("__lbl")).as("__nl"))
      // checkpointed: the path-halving step self-joins this frame, and
      // without the barrier the neighbor-min join would run twice
      val merged = Barrier.cut(lbl.join(fromNbr, Seq("__v"))
        .select(col("__v"), col("__lbl").as("__old"),
          least(col("__lbl"), col("__nl")).as("__m")))
      // path halving: adopt the label OF the label (left join — the
      // labeled vertex may sit in another partition of `merged`;
      // coalesce keeps __m when the jump target resolves to itself)
      val next = Barrier.cut(merged
        .join(merged.select(col("__v").as("__m"), col("__m").as("__mm")),
          Seq("__m"), "left")
        .select(col("__v"), coalesce(col("__mm"), col("__m")).as("__lbl"),
          (coalesce(col("__mm"), col("__m")) =!= col("__old")).as("__chg")))
      val changed = next.filter(col("__chg")).limit(1).count() > 0
      (next.select(col("__v"), col("__lbl")), changed)
    }
    var converged = false
    var it = 0
    while (!converged && it < maxIters) {
      val (next, changed) = round(labels)
      labels = next
      converged = !changed
      it += 1
    }
    // Labels can stabilize IN round maxIters (convergence only shows one
    // no-change round later) — confirm with a pure check before failing.
    // A genuinely capped exit means labels are NOT component minima, and
    // returning them would silently violate the one-survivor-per-cluster
    // contract downstream (dedupNearClustered). Fail loudly instead.
    if (!converged && round(labels)._2) throw new IllegalStateException(
      s"nearDupClusters did not converge within $maxIters rounds " +
        "(path-halving needs ~log2(component diameter) rounds; raise maxIters)")
    labels.select(col("__v").as(idCol), col("__lbl").as("cluster_rep"))
  }

  /** Near-dedup applied with TRANSITIVE clustering: the corpus reduced
    * to one representative (min id) per connected component of the
    * verified near-dup graph — the clustering twin of [[dedupNear]]'s
    * greedy policy (which can keep several docs of one component; see
    * [[nearDupClusters]]). Unpaired documents survive untouched.
    *
    * Shape: full MinHash→LSH→Jaccard pipeline → [[nearDupClusters]] →
    * the drop-set is every clustered doc that is NOT its component's
    * rep — removal is one left-anti join keyed on id, same as
    * [[dedupNear]]. */
  def dedupNearClustered(df: DataFrame, idCol: String, shingled: DataFrame,
                         numPerms: Int, bands: Int, rpb: Int, tau: Double,
                         maxIters: Int = 30): DataFrame = {
    val verified = nearDupPairs(shingled, idCol, numPerms, bands, rpb, tau)
    val drops = nearDupClusters(verified, idCol, maxIters)
      .filter(col(idCol) =!= col("cluster_rep"))
      .select(col(idCol))
    df.join(drops, Seq(idCol), "left_anti")
  }

  /** Soft dedup — the weighting alternative to dropping near-duplicates
    * (keep every copy, downweight so each CLUSTER contributes one unit
    * of training mass): weight = 1 / |connected component|, singletons
    * (docs in no verified pair) weigh 1. Dropping loses the natural
    * distribution of phrasings inside a cluster; soft weights keep it
    * while removing the duplication bias — the loss-reweighting twin of
    * [[dedupNearClustered]]'s hard policy.
    *
    * `clusters` is [[nearDupClusters]] output — (idCol, cluster_rep)
    * for docs in ≥ 1 verified pair. Returns every `df` row as
    * (idCol, cluster_rep, csize, weight), weight rounded to 9 dp.
    *
    * Shape: one id-keyed left join (cluster labels are pair-involved
    * docs only — far smaller than the corpus) and one cluster-keyed
    * window count; a giant cluster is one window partition, but its
    * size is bounded by the near-dup component itself, not the corpus. */
  def softDedupWeights(df: DataFrame, idCol: String,
                       clusters: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    df.select(col(idCol))
      .join(clusters, Seq(idCol), "left")
      .withColumn("cluster_rep", coalesce(col("cluster_rep"), col(idCol)))
      .withColumn("csize",
        count(lit(1)).over(Window.partitionBy(col("cluster_rep"))))
      .withColumn("weight", Portable.intRatio9(lit(1L), col("csize")))
  }

  /** Per-source near-duplication audit — the first report a curation
    * run reads: how duplicated is each slice of the corpus? Per
    * `sourceCol` value: total docs, docs belonging to a near-dup
    * cluster (every cluster has ≥ 2 members by construction, so
    * membership itself marks a duplicate), distinct post-dedup
    * documents attributable to the source (cluster representatives for
    * clustered docs, the doc itself for singletons — a cluster spanning
    * sources counts once in each source it touches), and the
    * duplicate-doc rate. `clusters` is [[nearDupClusters]] output.
    *
    * Shape: one id-keyed equi join (the cluster table holds only
    * pair-involved docs) + one low-cardinality source-keyed agg with
    * map-side partials — nothing corpus-sized survives the shuffle. */
  def dupStats(df: DataFrame, idCol: String, sourceCol: String,
               clusters: DataFrame): DataFrame =
    df.select(col(idCol), col(sourceCol))
      .join(clusters, Seq(idCol), "left")
      .groupBy(col(sourceCol))
      .agg(
        count(lit(1)).as("n_docs"),
        count(col("cluster_rep")).as("n_dup_docs"),
        countDistinct(coalesce(col("cluster_rep"), col(idCol)))
          .as("n_post_dedup"),
        Portable.intRatio9(count(col("cluster_rep")), count(lit(1)))
          .as("dup_rate"))

  /** Quality-aware near-dedup survivor policy: keep, per near-dup
    * cluster, the row with the HIGHEST `scoreCol` (ties → smallest id)
    * instead of [[dedupNearClustered]]'s smallest-id row. Real curation
    * pipelines keep the best copy of a duplicated document — the
    * cleanest extraction, not the one that happened to get the lowest
    * id. Singletons (docs in no verified pair) survive unchanged.
    *
    * `clusters` is [[nearDupClusters]] output. Returns the surviving
    * `df` rows with their `cluster_rep` label (so callers can audit
    * which cluster each survivor represents).
    *
    * Shape: one id-keyed left join against the pair-involved-docs-only
    * cluster table, then one cluster-keyed `row_number` window —
    * partitions bounded by cluster size, never corpus-sized. The score
    * must be deterministic (e.g. [[Text.qualityScore]]'s 9-dp rounded
    * score) for the policy to be reproducible across engines. */
  def dedupNearClusteredBest(df: DataFrame, idCol: String, scoreCol: String,
                             clusters: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    df.join(clusters, Seq(idCol), "left")
      .withColumn("cluster_rep", coalesce(col("cluster_rep"), col(idCol)))
      .withColumn("__rn", row_number().over(
        Window.partitionBy(col("cluster_rep"))
          .orderBy(col(scoreCol).desc, col(idCol).asc)))
      .filter(col("__rn") === 1).drop("__rn")
  }

  /** Leakage-free train/validation split: assign whole near-dup CLUSTERS
    * to a split, so a document and its near-duplicate can never land on
    * opposite sides of the train/valid boundary (the classic eval-leak
    * a row-wise random split commits whenever the corpus has near-dups).
    *
    * The split is a pure function of the cluster representative: the
    * first 4 hex digits of `md5(cluster_rep as string)` compared against
    * `floor(validFrac · 16^4)` — deterministic, seedless, identical in
    * any engine with md5 (the DuckDB oracle compares the same hex
    * prefix lexicographically), and uniform because md5 is. Expected
    * valid share ≈ validFrac of CLUSTERS (not documents — a split that
    * held the document share fixed would have to break clusters).
    *
    * `clusters` is [[nearDupClusters]] output; docs in no verified pair
    * are their own singleton cluster. Returns every `df` row as
    * (idCol, cluster_rep, split ∈ {"train","valid"}).
    *
    * Shape: one id-keyed left join against the (pair-involved-docs-only)
    * cluster table, then a map-only hash — no window, no extra shuffle;
    * strictly cheaper than [[softDedupWeights]]. */
  def leakageFreeSplit(df: DataFrame, idCol: String, clusters: DataFrame,
                       validFrac: Double): DataFrame = {
    require(validFrac >= 0 && validFrac <= 1,
      s"validFrac must be in [0,1], got $validFrac")
    // validFrac = 1 would format as 5-hex-digit "10000", which sorts
    // BELOW "ffff" lexicographically; "g" sorts above every hex digit.
    val thresh =
      if (validFrac >= 1) "g" else f"${math.floor(validFrac * 65536).toInt}%04x"
    df.select(col(idCol))
      .join(clusters, Seq(idCol), "left")
      .withColumn("cluster_rep", coalesce(col("cluster_rep"), col(idCol)))
      .withColumn("split",
        when(substring(md5(col("cluster_rep").cast("string")), 1, 4)
          < lit(thresh), "valid").otherwise("train"))
  }

  // ---- SimHash ----------------------------------------------------------

  /** SimHash fingerprint width. 60 bits (the full [[Portable]] hash
    * width): a 32-bit fingerprint saturates on web-scale corpora —
    * unrelated documents start colliding within small Hamming radii —
    * and its byte bands give only 256 bucket values, so the
    * within-bucket candidate join goes quadratic. 60 bits keeps random
    * collisions negligible and makes each of the 4 bands 15 bits wide
    * (32768 bucket values per band). */
  val SimHashBits = 60
  /** Bands for [[simhashPairs]]: 4 × 15-bit — pigeonhole guarantees
    * recall for Hamming ≤ 3. */
  val SimHashBands = 4
  val SimHashBandBits: Int = SimHashBits / SimHashBands

  /** Per-doc [[SimHashBits]]-bit SimHash over whitespace tokens.
    *
    * Relational shape — explode tokens, hash each once, then ONE
    * aggregation computing all signed bit-sums as codegen'd
    * `sum(case)` columns, reassembled into the fingerprint. The per-row
    * higher-order-function form ([[Text.simhash]]) is shuffle-free but
    * its lambdas evaluate interpreted (~5x slower measured); here the
    * narrow shuffle (60 longs per doc after map-side combine) buys full
    * whole-stage codegen, and the aggregate doubles as a materialization
    * barrier for downstream banding. Matches the DuckDB oracle's
    * relational form exactly (docs with zero tokens emit nothing). */
  def simhashes(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val bitSums = (0 until SimHashBits).map { b =>
      sum(when(shiftright(col("__h"), b).bitwiseAND(lit(1L)) === 1L, 1L)
        .otherwise(-1L)).as(s"__b$b")
    }
    val assemble = (0 until SimHashBits).map { b =>
      when(col(s"__b$b") >= 0, lit(1L << b)).otherwise(lit(0L))
    }.reduce(_ + _)
    df.select(col(idCol), explode_outer(Text.tokens(col(textCol))).as("__w"))
      .filter(col("__w").isNotNull)
      .select(col(idCol), Portable.seededHash(col("__w")).as("__h"))
      .groupBy(col(idCol))
      .agg(bitSums.head, bitSums.tail: _*)
      .select(col(idCol), assemble.as("simhash"))
  }

  /** SimHash near-dup pairs with Hamming distance ≤ maxHam, found via
    * banding: split the [[SimHashBits]]-bit fingerprint into
    * [[SimHashBands]] bands of [[SimHashBandBits]] bits; by pigeonhole,
    * pairs within Hamming ≤ [[SimHashBands]]−1 share at least one exact
    * band, so bucketing on (band_index, band_value) finds all of them
    * with one bucket-keyed shuffle — never a pairwise scan. 15-bit bands
    * give 32768 bucket values per band, so buckets stay small and the
    * within-bucket join stays near-linear as the corpus grows (the
    * round-2 byte-banding had 256, a quadratic-bucket scale trap). */
  def simhashPairs(sims: DataFrame, idCol: String, maxHam: Int): DataFrame = {
    require(maxHam < SimHashBands,
      s"$SimHashBands bands only guarantee recall for hamming <= ${SimHashBands - 1}")
    val bandMask = (1L << SimHashBandBits) - 1
    // both self-join sides read the fingerprint frame — cut it so a
    // MAP-ONLY upstream computes once (r15: the q154 chain re-ran
    // encode→decode→aHash PER SIDE without this — [[simhashBandAudit]]
    // had the barrier, this op did not); 16 bytes/doc, trivially cheap
    val cut = Barrier.cut(sims.select(col(idCol), col("simhash")))
    val banded = cut.select(col(idCol), col("simhash"),
        explode(array((0 until SimHashBands).map(b =>
          struct(lit(b).as("band"),
            shiftright(col("simhash"), SimHashBandBits * b)
              .bitwiseAND(lit(bandMask)).as("bv"))): _*))
          .as("bnd"))
      .select(col(idCol), col("simhash"), col("bnd.band").as("band"),
        col("bnd.bv").as("bv"))
    val a = banded.select(col("band"), col("bv"), col(idCol).as("id_a"),
      col("simhash").as("sh_a"))
    val b = banded.select(col("band"), col("bv"), col(idCol).as("id_b"),
      col("simhash").as("sh_b"))
    a.join(b, Seq("band", "bv"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        bit_count(col("sh_a").bitwiseXOR(col("sh_b"))).cast("long").as("hamming"))
      // filter BEFORE distinct: hamming is functional of the pair, so the
      // result is identical, but the dedup shuffle then carries only the
      // accepted pairs instead of every band collision
      .filter(col("hamming") <= maxHam)
      .distinct()
  }

  /** Band-collision Hamming histogram — the commissioning audit for a
    * SimHash/perceptual-hash dedup: every DISTINCT pair meeting in ≥ 1
    * band, rolled up per Hamming distance. Before trusting a `maxHam`
    * threshold at scale, this is the report that shows where the
    * corpus's collision mass sits (a healthy corpus has a gap between
    * the near-dup spike at low Hamming and the random-collision hump
    * near bits/2); it also measures band-join pressure directly — the
    * histogram's total IS the candidate-pair volume the
    * [[simhashPairs]] shuffle would carry. Output: (hamming, n_pairs).
    *
    * Same shape as [[simhashPairs]] minus the threshold: bucket-keyed
    * self-join, pair-distinct, then a rollup whose key space is ≤ the
    * fingerprint width. */
  def simhashBandAudit(sims: DataFrame, idCol: String): DataFrame = {
    val bandMask = (1L << SimHashBandBits) - 1
    // both self-join sides read the fingerprint frame — cut it so a
    // MAP-ONLY upstream (e.g. [[graft.ops.Multimodal.perceptualHashes]],
    // which re-decodes the payload per branch) computes once;
    // [[simhashes]]-fed callers pay one no-op cache of an 16-byte/doc
    // frame (PlanSpec pins the single payload scan)
    val cut = Barrier.cut(sims.select(col(idCol), col("simhash")))
    val banded = cut.select(col(idCol), col("simhash"),
        explode(array((0 until SimHashBands).map(b =>
          struct(lit(b).as("band"),
            shiftright(col("simhash"), SimHashBandBits * b)
              .bitwiseAND(lit(bandMask)).as("bv"))): _*))
          .as("bnd"))
      .select(col(idCol), col("simhash"), col("bnd.band").as("band"),
        col("bnd.bv").as("bv"))
    val a = banded.select(col("band"), col("bv"), col(idCol).as("id_a"),
      col("simhash").as("sh_a"))
    val b = banded.select(col("band"), col("bv"), col(idCol).as("id_b"),
      col("simhash").as("sh_b"))
    a.join(b, Seq("band", "bv"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        bit_count(col("sh_a").bitwiseXOR(col("sh_b"))).cast("long")
          .as("hamming"))
      .distinct()
      .groupBy(col("hamming")).agg(count(lit(1)).as("n_pairs"))
  }

  // ---- embedding-cosine -------------------------------------------------

  /** Sign-random-projection bucket per vector: bit p = (v · w_p ≥ 0) with
    * plane weights w_p[i] = unif(planeOffset + p, i) − 0.5 derived from
    * the portable hash (no RNG state — reproducible and oracle-able).
    * Map-only.
    *
    * The weight matrix depends only on (plane, dim), so it is computed
    * ONCE driver-side — with the very same [[graft.functions.Hash60]]
    * digest function the runtime expression would use, so values are
    * bit-identical to the DuckDB oracle's per-row hashing — and embedded
    * as a literal. The per-row work is then one [[graft.functions.FoldDot]]
    * per plane against its literal weight array — a tight codegen'd
    * multiply-add loop with the SAME sequential accumulation order as the
    * oracle's `list_sum` fold (a relational SUM could flip the sign of a
    * near-zero projection and change the bucket).
    *
    * The vector dimension is probed from a SINGLE row (`head()` compiles
    * to a limit-1 job — never a full scan; embedding columns are
    * fixed-dimension by contract).
    *
    * Sizing `planes` at scale: buckets ≈ 2^planes, so within-bucket
    * candidate joins stay near-linear only when
    * planes ≈ log2(N / targetBucketSize). A fixture-sized default would
    * be a scale trap, so `planes` is a required argument; for recall,
    * OR multiple independent tables via `planeOffset` (table t passes
    * offset t·planes — distinct contiguous plane ranges, so table 0 is
    * bit-identical to the single-table form; see
    * [[graft.ops.Ann.annTopKMulti]]) rather than lowering `planes`. */
  def srpBuckets(df: DataFrame, idCol: String, vecCol: String,
                 planes: Int, planeOffset: Int = 0,
                 carry: Seq[String] = Nil): DataFrame =
    df.select(col(idCol) +: carry.map(col) :+ col(vecCol) :+
      srpBucketExpr(probeDim(df, vecCol), vecCol, planes, planeOffset)
        .as("bucket"): _*)

  /** Vector dimension probed from a SINGLE row (limit-1 job, never a
    * full scan; embedding columns are fixed-dimension by contract). */
  private def probeDim(df: DataFrame, vecCol: String): Int =
    df.select(size(col(vecCol)).as("n")).head().getInt(0)

  /** The bucket column itself: planes-bit SRP code with plane indices
    * [planeOffset, planeOffset + planes). One codegen'd FoldDot per
    * plane; weights computed once driver-side (see [[srpBuckets]]). */
  private def srpBucketExpr(dim: Int, vecCol: String,
                            planes: Int, planeOffset: Int): Column = {
    import org.apache.spark.unsafe.types.UTF8String
    val weights: Seq[Seq[Double]] = (0 until planes).map { p =>
      (1 to dim).map { i =>
        val h = graft.functions.Hash60.compute(Array(
          UTF8String.fromString((planeOffset + p).toString),
          UTF8String.fromString(i.toString)))
        h / Portable.TwoPow60 - 0.5
      }
    }
    (0 until planes).map { p =>
      when(graft.functions.FoldDot(col(vecCol), typedLit(weights(p))) >= 0,
        lit(1L << p)).otherwise(lit(0L))
    }.reduce(_ + _)
  }

  /** OR-amplification: `numTables` independent SRP codes per vector in
    * ONE pass over the data — table t uses the contiguous plane range
    * [t·planes, (t+1)·planes), so table 0 is bit-identical to
    * [[srpBuckets]]. Output: (idCol, table, bucket), one row per table —
    * candidate joins key on (table, bucket). numTables · planes FoldDots
    * per row, all codegen'd; the corpus is still scanned once, which at
    * 100 TB beats per-table scans by the table count. */
  def srpBucketsMulti(df: DataFrame, idCol: String, vecCol: String,
                      planes: Int, numTables: Int): DataFrame = {
    require(numTables >= 1, s"numTables must be >= 1, got $numTables")
    val dim = probeDim(df, vecCol)
    val codes = array((0 until numTables).map(t0 =>
      srpBucketExpr(dim, vecCol, planes, t0 * planes)): _*)
    df.select(col(idCol), posexplode(codes).as(Seq("table", "bucket")))
  }

  /** Embedding near-dup pairs: SRP-bucket the vectors, join within
    * buckets only (shuffle keyed on bucket), exact cosine ≥ tau on the
    * candidates. Recall is approximate (vectors in different buckets are
    * never compared) — more planes ⇒ fewer, purer candidates. */
  def embeddingNearDup(df: DataFrame, idCol: String, vecCol: String,
                       planes: Int, tau: Double): DataFrame = {
    val bucketed = srpBuckets(df, idCol, vecCol, planes)
    // raw float arrays straight into FoldDot-backed cosine — element casts
    // happen inside the codegen'd fold, no interpreted transform() copy
    val a = bucketed.select(col("bucket"), col(idCol).as("id_a"),
      col(vecCol).as("v_a"))
    val b = bucketed.select(col("bucket"), col(idCol).as("id_b"),
      col(vecCol).as("v_b"))
    a.join(b, Seq("bucket"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("cos",
        round(Similarity.cosine(col("v_a"), col("v_b")), 9))
      .filter(col("cos") >= tau)
      // a pair shares exactly one bucket value, so no dedup is needed
      .select(col("id_a"), col("id_b"), col("cos"))
  }

  /** SemDeDup cluster assignment (Abbas et al. 2023, arXiv:2303.09540):
    * each vector goes to its argmax-cosine centroid (ties broken by
    * smaller centroid id — deterministic and oracle-able). `centroids`
    * is any (idCol, vecCol) frame — k-means centers on a real run; the
    * q73 oracle pins the first-k-rows choice. Returns the input columns
    * plus (cluster, cos_centroid), cosine rounded to 9 dp.
    *
    * Shape: centroids broadcast (k rows), the corpus streams through a
    * map-side cross join and collapses back to one row per id via a
    * `max_by` hash aggregate on struct(cos, -cluster) — partial-agg
    * (map-side combine) keeps the shuffle at one row per (id, partition),
    * and no sort-window touches the k-times-fanned frame. */
  def semanticAssign(df: DataFrame, idCol: String, vecCol: String,
                     centroids: DataFrame): DataFrame = {
    val cen = centroids.select(col(idCol).as("__cid"),
      col(vecCol).as("__cv"))
    val passCols = df.columns.toSeq
    df.crossJoin(broadcast(cen))
      .withColumn("__cos",
        round(Similarity.cosine(col(vecCol), col("__cv")), 9))
      .groupBy(col(idCol))
      .agg(
        max_by(struct((passCols.filter(_ != idCol).map(col) ++
            Seq(col("__cid"), col("__cos"))): _*),
          struct(col("__cos"), -col("__cid"))).as("__b"))
      .select(col(idCol) +: (passCols.filter(_ != idCol)
          .map(c => col(s"__b.$c").as(c)) ++
        Seq(col("__b.__cid").as("cluster"),
          col("__b.__cos").as("cos_centroid"))): _*)
  }

  /** SemDeDup apply: cluster via [[semanticAssign]], then inside each
    * cluster drop every vector that has a semantic duplicate
    * (cosine ≥ tau) with a smaller id — the same keep-min survivor
    * policy as [[dedupNear]], so results are deterministic. Returns the
    * survivors as (idCol, cluster, cos_centroid).
    *
    * Scale shape: the assignment frame is read three times (both pair
    * sides + the survivor base), so it materializes once behind a
    * [[Barrier]] (EAGER, like [[dedupNear]]'s posting cuts); the pair
    * join keys on the cluster — never all-pairs across the corpus. The
    * within-cluster join IS quadratic per cluster by design (that is
    * SemDeDup's verify step): k controls it. Size k ≈ N / targetClusterSize
    * exactly as the paper does (they use k-means with k in the tens of
    * thousands at web scale); a fixture-sized k here would be a scale
    * trap, so k is whatever `centroids` carries — the caller's lever. */
  def semanticDedup(df: DataFrame, idCol: String, vecCol: String,
                    centroids: DataFrame, tau: Double): DataFrame = {
    val assign = Barrier.cut(
      semanticAssign(df, idCol, vecCol, centroids)
        .select(col(idCol), col(vecCol), col("cluster"),
          col("cos_centroid")))
    val a = assign.select(col("cluster"), col(idCol).as("__ida"),
      col(vecCol).as("__va"))
    val b = assign.select(col("cluster"), col(idCol).as("__idb"),
      col(vecCol).as("__vb"))
    val dominated = a.join(b, Seq("cluster"))
      .filter(col("__ida") < col("__idb"))
      .filter(round(Similarity.cosine(col("__va"), col("__vb")), 9) >= tau)
      .select(col("__idb").as(idCol)).distinct()
    assign.join(dominated, Seq(idCol), "left_anti")
      .select(col(idCol), col("cluster"), col("cos_centroid"))
  }

  // ---- repeated-span scrub (substring-level dedup) ----------------------

  /** Repeated-span scrub — substring-level exact deduplication at k-token
    * granularity (Lee et al., "Deduplicating Training Data Makes Language
    * Models Better", ACL'22: long spans repeated across a corpus are
    * memorization fuel; the ExactSubstr pass keeps ONE copy globally and
    * removes the rest). Every k-token window is hashed ([[Portable]], so
    * the DuckDB oracle reproduces it); a window occurrence is a DUPLICATE
    * when the same gram has an earlier occurrence anywhere in the corpus
    * (earlier = lexicographically smaller (id, position) — the globally
    * first occurrence is the canonical copy that survives). Tokens covered
    * by at least one duplicate window are scrubbed; the document's
    * remaining tokens re-join in order. Unlike document-level dedup
    * ([[dedupExact]], [[dedupNear]]) this REWRITES text instead of
    * dropping rows, and unlike the document-gating
    * [[Text.boilerplateStats]] it removes the offending spans while
    * keeping the rest of the document.
    *
    * Returns one row per input document:
    * (id, n_tokens, n_removed, text_scrubbed) — n_removed counts scrubbed
    * tokens; clean documents pass through with their text untouched.
    *
    * Relational shape (one tokenize of the source, no pairwise compare):
    * the (id, text, tokens) frame passes a [[Barrier]] — windows, the
    * rebuild and the output spine all read the materialized cut, so the
    * source is scanned once and the op is eager like its siblings
    * [[dedupNear]]/[[semanticDedup]]. Window hashes are a codegen'd md5
    * projection posexploded to (id, pos, h); each gram's canonical
    * occurrence is a groupBy(h) partial-agg `min(struct(id, pos))` —
    * map-side combine absorbs the skew of mega-repeated spans — filtered
    * to multi-occurrence grams, so the join back on h meets only the
    * duplicate-gram subset. Duplicate windows fan out their k covered
    * token indices; only documents that actually lost a token go through
    * the rebuild (left_semi on the dirty-doc spine) — at a realistic
    * duplication rate the expensive ordered re-assembly touches a small
    * corpus fraction. All post-hash shuffles key on h, (id, idx) or id —
    * bounded per-gram / per-document, never corpus-pairwise. */
  def scrubRepeatedSpans(df: DataFrame, idCol: String, textCol: String,
                         k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val id = col(idCol)
    val toks = Barrier.cut(df.select(id, col(textCol),
      Text.tokens(col(textCol)).as("__t")))
    val occ = toks
      .select(id, transform(Text.shinglesAll(col("__t"), k), g =>
        Portable.seededHash(g)).as("__hs"))
      .select(id, posexplode_outer(col("__hs")).as(Seq("__p0", "__h")))
      .filter(col("__h").isNotNull)
      .select(id, (col("__p0") + 1).as("pos"), col("__h"))
    val dupGrams = occ.groupBy(col("__h"))
      .agg(min(struct(id, col("pos"))).as("__first"),
        count(lit(1)).as("__n"))
      .filter(col("__n") > 1)
      .select(col("__h"), col("__first"))
    val removed = occ.join(dupGrams, Seq("__h"))
      .filter(struct(id, col("pos")) =!= col("__first"))
      .select(id,
        explode(sequence(col("pos"), col("pos") + lit(k - 1))).as("idx"))
      .distinct()
    val dirty = removed.select(id).distinct()
    val rebuilt = toks
      .select(id, posexplode_outer(col("__t")).as(Seq("__p0", "__tok")))
      .filter(col("__tok").isNotNull)
      .select(id, (col("__p0") + 1).as("idx"), col("__tok"))
      .join(dirty, Seq(idCol), "left_semi")
      .join(removed.withColumn("__rm", lit(1)), Seq(idCol, "idx"), "left")
      .groupBy(id)
      // when(...) with no otherwise -> NULL for removed tokens, and
      // collect_list skips NULLs: a fully-scrubbed document still gets a
      // group row (empty list -> empty string), never its original text
      .agg(sort_array(collect_list(when(col("__rm").isNull,
        struct(col("idx"), col("__tok"))))).as("__kept"))
      .select(id, concat_ws(" ",
        transform(col("__kept"), s => s("__tok"))).as("__scrubbed"))
    val remCounts = removed.groupBy(id).agg(count(lit(1)).as("__nrem"))
    toks.select(id, col(textCol), size(col("__t")).cast("long").as("n_tokens"))
      .join(remCounts, Seq(idCol), "left")
      .join(rebuilt, Seq(idCol), "left")
      .select(id, col("n_tokens"),
        coalesce(col("__nrem"), lit(0L)).as("n_removed"),
        coalesce(col("__scrubbed"), col(textCol)).as("text_scrubbed"))
  }
}

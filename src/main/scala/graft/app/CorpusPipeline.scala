package graft.app

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.ops.{Barrier, Dedup, Sampling, Sources, Text}

/** LLM training-data curation, end-to-end — the 100 TB use case the
  * extension operators exist for (SURVEY.md §7.4), composed into the
  * standard corpus funnel:
  *
  *   documents → (optional) PII scrub → normalize → language gate
  *     → quality gate → (optional) Gopher repetition gate
  *     → (optional) boilerplate gate → (optional) perplexity-tier gate
  *     → exact dedup → near-dedup (MinHash→LSH→Jaccard, connected
  *     components, one survivor per transitive cluster)
  *     → (optional) decontamination → (optional) repeated-span scrub
  *     → token-budget chunking → (optionally) partitioned parquet
  *
  * Every stage is one of the library's spec'd/oracle'd operators; this
  * object only sequences them, so the whole funnel inherits their scale
  * posture: map-only gates, hash-keyed dedup (never all-pairs), in-
  * partition chunk fan-out. The heavily-multi-read frames persist in
  * BOTH modes: `normed` (every downstream branch hangs off it, and
  * Spark plans are trees, not DAGs — unpersisted, the lazy chunk plan
  * multiplied to ~120 source scans; one with the persist,
  * accumulator-spec-pinned), `quality` (repetition gate + exact dedup
  * + count each read it), the exact-dedup survivors (shingling,
  * chunking, count), the shingle arrays (read three times inside the
  * near-dedup — re-deriving the interpreted shingle HOF per read is
  * the measured 2-4x trap), and the near-dedup survivors (chunking +
  * count). The cheap single-join frames between them (`inLang`,
  * `good`) persist only for the funnel counts' duration — caching
  * them in the lazy path measured ~40% of q62's steady-state cost
  * for a bounded ×2 recompute saving. Funnel mode unpersists the
  * gates after the counts; everything still cached comes back via
  * `Result.persisted`.
  */
object CorpusPipeline {

  /** Funnel knobs; defaults mirror the oracle queries' parameters.
    *
    * `scrubPii` masks URLs/emails/phones/IPs/long digit runs
    * ([[Text.maskPii]]) BEFORE normalization — normalize strips the
    * '@'/':'/'/' characters the PII patterns key on, so the order is
    * load-bearing. It also means two documents differing only in
    * contact details dedup as the duplicates they are.
    * `maxDupNgramRatio` adds the Gopher duplication gate
    * ([[Text.repetitionStats]]) after the quality gate; docs too short
    * to have n-grams (NULL ratio) pass. `None` skips the stage
    * entirely — no dead scan.
    *
    * `maxBoilerRatio` adds the cross-document boilerplate gate
    * ([[Text.boilerplateStats]]) after the repetition gate: documents
    * whose `boilerN`-gram occurrences are mostly corpus-wide
    * boilerplate (grams seen in more than `boilerMaxDf` documents)
    * drop. Unlike the repetition gate it sees ACROSS documents —
    * templated chrome stamped on thousands of pages. Size
    * `boilerMaxDf` to the corpus (it is an absolute document count);
    * too-short docs (NULL ratio) pass, `None` skips the stage.
    *
    * `blocklist` adds the C4-style bad-words gate
    * ([[Text.blocklistStats]]) after the quality gate: any document
    * containing a blocklisted token drops. Map-only (the list is a
    * codegen literal) — the cheapest gate in the funnel; `None` skips
    * the stage.
    *
    * `pplKeepTiers` adds the CCNet perplexity-tier gate
    * ([[Text.perplexityBuckets]]) after the boilerplate gate: each
    * language's surviving docs split into `pplBuckets` equal-count
    * NLL tiers and only the named tiers (canonically
    * `Set("head", "middle")`) continue. The unigram model trains on
    * the post-gate survivors, so text the earlier gates rejected
    * never shapes it. `None` skips the stage — no extra scan.
    *
    * `minQualityPct` adds a RELATIVE quality cut to the absolute one:
    * keep only docs at or above that per-source percentile of the
    * quality score (computed over all in-lang docs via
    * [[Text.scorePercentiles]]) — "the top X% of each source", so
    * sources whose extraction scores run hot or cold are cut fairly.
    *
    * `keepBestQuality` switches the near-dedup survivor policy from
    * min-id to highest-[[Text.qualityScore]] per cluster (ties →
    * min id) — keep the cleanest copy of a duplicated document, not
    * the one with the smallest id ([[Dedup.dedupNearClusteredBest]]).
    *
    * `packSeqTokens` additionally emits the survivors packed into
    * fixed-length training sequences ([[graft.ops.Sampling.pack]]) in
    * `Result.packed` — the GPT-2-style consumer shape (cross-document
    * concatenation, zero padding waste), next to the per-document
    * `chunks` (which never cross documents). The two consumers read
    * the SAME persisted survivor frame; pick per training recipe.
    *
    * `scrubSpanK` adds the repeated-span scrub
    * ([[Dedup.scrubRepeatedSpans]], ExactSubstr-style) AFTER near-dedup
    * and decontamination: k-token spans already seen earlier in the
    * surviving corpus are removed from the text (the globally-first
    * occurrence stays), and documents scrubbed down to nothing drop.
    * It sits last among the dedup stages deliberately — document-level
    * dedup first shrinks the corpus the span index is built over, and
    * span-scrubbing earlier would perturb the quality/repetition gates'
    * signals. The only funnel stage that REWRITES text rather than
    * filtering rows; chunking and packing consume the scrubbed text.
    *
    * `evalDocs` adds benchmark DECONTAMINATION between near-dedup and
    * chunking ([[Dedup.contamination]]): a (doc_id, text) frame of
    * held-out eval documents; any surviving training doc sharing ≥
    * `contaminationMinShared` distinct `shingleN`-gram shingles with
    * any eval doc is dropped. The eval text passes the SAME scrub +
    * normalize chain as the corpus, so shingles compare like with
    * like. The stage sits after near-dedup so the posting join sees
    * the already-deduped (smallest) corpus. `broadcastEval = false`
    * is the large-eval-corpus escape hatch — see
    * [[Dedup.contamination]]. */
  case class Config(
      keepLangs: Set[String] = Set("en"),
      minQuality: Double = 0.5,
      shingleN: Int = 3,
      minhashPerms: Int = 16,
      bands: Int = 4,
      rowsPerBand: Int = 4,
      jaccardTau: Double = 0.5,
      chunkTokens: Int = 64,
      scrubPii: Boolean = false,
      maxDupNgramRatio: Option[Double] = None,
      repetitionN: Int = 2,
      maxBoilerRatio: Option[Double] = None,
      boilerN: Int = 3,
      boilerMaxDf: Long = 1000L,
      minQualityPct: Option[Double] = None,
      blocklist: Option[Seq[String]] = None,
      pplKeepTiers: Option[Set[String]] = None,
      pplBuckets: Int = 3,
      keepBestQuality: Boolean = false,
      evalDocs: Option[DataFrame] = None,
      contaminationMinShared: Long = 5L,
      broadcastEval: Boolean = true,
      scrubSpanK: Option[Int] = None,
      packSeqTokens: Option[Int] = None,
      packShards: Int = 16,
      packSalt: String = "pack",
      // Storage level for every intermediate the funnel persists. The
      // default suits the test rig; at real scale (100 TB corpus,
      // memory-pressured executors) set DISK_ONLY so the persisted
      // normalized/survivor frames never churn the block manager's
      // memory pool. Counts and hashes are storage-level-invariant
      // (CorpusPipelineSpec pins the law).
      storageLevel: StorageLevel = StorageLevel.MEMORY_AND_DISK)

  /** Final chunk table + the per-stage survivor counts (empty when
    * `collectFunnel = false`) + every frame [[curate]] left persisted
    * for the chunk table's benefit: a long-lived session should
    * `result.persisted.foreach(_.unpersist())` once the chunks are
    * consumed ([[curateToParquet]] does this itself after the sink
    * write). `survivors` is the final post-dedup/scrub document frame
    * (persisted; (doc_id, text, lang, source) with the funnel's
    * normalized text) — the input [[exportShards]] consumes. */
  case class Result(chunks: DataFrame, funnel: Seq[(String, Long)],
                    persisted: Seq[DataFrame] = Seq.empty,
                    packed: Option[DataFrame] = None,
                    survivors: Option[DataFrame] = None)

  /** Run the funnel over a `documents`-shaped frame
    * (doc_id, text, lang, source).
    *
    * `collectFunnel = true` adds one count() action per stage boundary —
    * the operational visibility every real curation run wants. The
    * normalized frame and the two gate frames (language, quality) are
    * persisted for the funnel's duration and unpersisted before
    * returning, so every gate pipeline executes exactly ONCE: the
    * languageId explode → broadcast-join → window chain runs once
    * (during the language count) and each later count reads caches —
    * the source is scanned exactly TWICE (input count + the normalize
    * materialization), independent of funnel depth
    * (CorpusPipelineSpec pins the bound with an accumulator-
    * instrumented source). Pass `false` to skip the per-stage counts:
    * the source is then scanned exactly ONCE in total (the persists
    * are registered either way — spec-pinned). Note the near-dedup
    * fixpoint still runs AT THE CALL in both modes ([[graft.ops.Barrier]]
    * is eager; see README's API conventions).
    *
    * The dedup-side persisted frames (survivors, shingles, exact — and
    * in lazy mode with the repetition gate on, the quality frame) stay
    * cached so the returned `chunks` stays cheap to consume; they are
    * handed back in `Result.persisted` — unpersist them when done, or
    * prefer [[curateToParquet]], which unpersists after the sink
    * write. */
  def curate(docs: DataFrame, cfg: Config = Config(),
             collectFunnel: Boolean = true): Result = {
    val f = curateFrames(docs, cfg, collectFunnel)
    f.result.copy(persisted = f.persisted, survivors = Some(f.survivors))
  }

  /** Funnel-to-training-shards EXPORT: the three individually
    * certified loader-side pieces composed behind one call over the
    * funnel's survivor frame — the epoch plan
    * ([[graft.ops.Sampling.epochFactors]], q104) computed over the
    * SURVIVORS' own token mass, realized into repeated copies
    * ([[graft.ops.Sampling.applyEpochFactors]], q114; copy identity
    * doc_id·1024 + epoch_copy, the q143 packing-determinism rule), cut
    * into fixed training sequences ([[graft.ops.Sampling.pack]], q67),
    * and summarized per shard ([[graft.ops.Sources.shardManifest]],
    * q107) with a per-shard order-independent content hash — so one
    * manifest hash certifies the ENTIRE raw-docs → training-shards
    * product (the q274 gate).
    *
    * Returns (packed sequences, manifest). Scale shape: everything
    * upstream of the packer is map-side over the persisted survivor
    * frame (the epoch fan-out is an in-partition explode); the packer
    * pays one shard-keyed shuffle; the manifest is a shard-keyed
    * rollup of the packed frame — nothing corpus-sized moves twice. */
  def exportShards(survivors: DataFrame, weights: Map[String, Double],
                   tokenBudget: Long, realizeSalt: String,
                   seqTokens: Int, shards: Int,
                   packSalt: String = "pack"): (DataFrame, DataFrame) = {
    val src = survivors.select(col("doc_id"), col("source"), col("text"))
    // The epoch plan is ≤ |sources| rows but its input is a corpus-
    // sized token-count groupBy — collect it ONCE into a LocalRelation
    // (a ≤sources-row probe, the q141/q253 class) so the bound check
    // below is free and the realize join broadcasts a local frame
    // instead of re-deriving the groupBy per consumer.
    val planned = Sampling.epochFactors(src, "source", "text", weights,
      tokenBudget)
    val fRows = planned.collect()
    // The realized-copy identity below is doc_id·1024 + epoch_copy, so
    // a source whose epoch factor reaches 1023 (epoch_copy = ⌊f⌋+1 =
    // 1024) would SILENTLY alias copy 1024 of doc N onto copy 0 of
    // doc N+1 and reorder packing — and the oracle, using the same
    // formula, would still agree. Fence the bound loudly instead: a
    // ≥1023x epoch plan is a mis-sized budget, not a real mixture.
    val maxFactor = fRows.map(_.getAs[Double]("factor"))
      .foldLeft(0.0)(math.max)
    require(maxFactor < 1023.0,
      s"exportShards: max epoch factor $maxFactor >= 1023 would overflow " +
        "the doc_id*1024 + epoch_copy realized-copy identity; raise the " +
        "source weight floor or lower tokenBudget")
    val factors = survivors.sparkSession.createDataFrame(
      java.util.Arrays.asList(fRows: _*), planned.schema)
    val realized = Sampling.applyEpochFactors(src, "doc_id", "source",
        factors, realizeSalt)
      .select((col("doc_id") * 1024 + col("epoch_copy")).as("doc_id"),
        col("text"))
    val packed = Sampling.pack(realized, "doc_id", "text", seqTokens,
      shards, packSalt)
    // ONE shard-keyed aggregation producing the manifest columns AND
    // the content hash (r15): the previous shardManifest + groupBy +
    // join shape aggregated `packed` twice and re-ran the packer's
    // window shuffle per branch — same rows, same columns, same order
    // as [[Sources.shardManifest]]'s renamed output joined with the
    // hash rollup (the q274/q277 oracles pin it).
    val manifest = packed.groupBy(col("shard"))
      .agg(count(lit(1)).as("n_seqs"),
        sum(size(graft.ops.Text.tokens(col("seq"))).cast("long"))
          .as("n_tokens"),
        sum(length(col("seq")).cast("long")).as("n_chars"),
        min(col("seq_idx")).as("min_seq"),
        max(col("seq_idx")).as("max_seq"),
        bit_xor(graft.ops.Portable.seededHash(col("seq_idx"), col("seq")))
          .as("content_hash"))
    (packed, manifest)
  }

  /** Internal hand-off between [[curate]] and [[curateToParquet]]:
    * the result plus the final survivor frame (post near-dedup and,
    * when configured, post decontamination; persisted — the sink's
    * source-tag join reads it instead of re-scanning the input) and
    * every still-persisted frame for the caller to unpersist. */
  private case class Frames(result: Result, survivors: DataFrame,
                            persisted: Seq[DataFrame])

  /** [[curate]] and land the chunk table as parquet partitioned by the
    * survivor's source — the layout downstream training readers prune
    * on. The write materializes everything, so the internally persisted
    * frames are unpersisted before returning (re-consuming the returned
    * `chunks` afterwards re-derives the funnel; read the sink instead).
    * The source tag joins in from the PERSISTED survivor frame (chunk
    * doc_ids are exactly its ids), never by re-scanning the input. */
  def curateToParquet(docs: DataFrame, outPath: String,
                      cfg: Config = Config()): Result = {
    val f = curateFrames(docs, cfg, collectFunnel = true)
    val withSource = f.result.chunks.join(
      f.survivors.select(col("doc_id"), col("source")), Seq("doc_id"))
    Sources.writeParquetPartitioned(withSource, outPath, Seq("source"))
    f.persisted.foreach(_.unpersist())
    f.result
  }

  private def curateFrames(docs: DataFrame, cfg: Config,
                           collectFunnel: Boolean): Frames = {
    // optional PII scrub FIRST — before normalize, which strips the
    // very characters the URL/email patterns match on (see Config doc).
    // Column-level mask inside the projection: no join, no extra scan.
    val scrubbed =
      if (!cfg.scrubPii) docs
      else docs.select(col("doc_id"), Text.piiMasked(col("text")).as("text"),
        col("lang"), col("source"))

    // normalize next so the gates, dedup shingles and chunks all see
    // canonical text; normalization can empty a document (all symbols).
    //
    // r15 optimization (guide §2.4 — remove shuffles outright): every
    // PER-ROW gate signal — the language prediction, the quality
    // composite, and (when the gate is on) the Gopher duplication
    // ratio — is computed ONCE into this projection and materialized
    // by the persist, so each downstream gate is a FILTER on a stored
    // column. The previous shape derived each signal relationally
    // (explode → agg → survivor-id frame) and joined the ids back,
    // paying per gate one aggregation (up to two corpus-keyed
    // shuffles) plus a corpus-sized join — per funnel query, the
    // language + quality + repetition gates cost 5 exchanges and 3
    // joins that a scan can answer. The cache is also the evaluation
    // barrier: filters over InMemoryTableScan read stored values, so
    // no Catalyst rule can duplicate the kernels (the streaming twin
    // uses [[graft.functions.Stable]] for the same guarantee).
    // ALWAYS persist-registered (persist is metadata; in lazy mode
    // nothing materializes before the fixpoint construction): Spark
    // plans are trees, not DAGs, and every downstream branch hangs off
    // this frame — unpersisted, the lazy chunk plan multiplied to ~120
    // SOURCE SCANS (measured at sf0.01; one scan with the persist,
    // accumulator-spec-pinned).
    // `__t` rides a lower projection so the gram HOF's element_at
    // references share ONE split (the fingerprints trap); it is NOT
    // part of the persisted schema.
    val normedBase = scrubbed.select(col("doc_id"),
        Text.normalize(col("text")).as("text"), col("lang"), col("source"))
      .filter(length(col("text")) > 0)
    val gateCols = Seq(
        Text.langIdTextColumn(col("text")).as("__pred_lang"),
        Text.qualityScoreColumn(col("text")).as("__q")) ++
      cfg.maxDupNgramRatio.map(_ =>
        Text.dupNgramRatioFromGrams(col("__g")).as("__dup")).toSeq
    val withToks = normedBase.withColumn("__t", Text.tokens(col("text")))
    val withGrams = cfg.maxDupNgramRatio match {
      case None => withToks
      case Some(_) => withToks.withColumn("__g",
        Text.shinglesAll(col("__t"), cfg.repetitionN))
    }
    val normed = withGrams
      .select(Seq("doc_id", "text", "lang", "source").map(col) ++
        gateCols: _*)
      .persist(cfg.storageLevel)

    // language gate on the n-gram-profile PREDICTION, not the source-
    // provided tag (at corpus scale the tag is missing or wrong).
    // [[Text.langIdTextColumn]] is the spec-pinned map-only twin of
    // the relational [[Text.languageId]] — same prediction, same
    // tiebreak, zero shuffles.
    val inLang = normed.filter(
      col("__pred_lang").isin(cfg.keepLangs.toSeq: _*))

    // quality gate: length/alpha/stopword/digit composite, stored in
    // `__q` — the absolute cut is a pure filter. With `minQualityPct`
    // the absolute cut is ANDed with a per-source percentile cut
    // ("keep each source's top slice") — the ranks come from
    // [[Text.scorePercentiles]]'s compact (source, score) frame over
    // ALL in-lang docs (a genuine corpus aggregation — the one quality
    // path that keeps its join), so one source's score inflation never
    // crowds out another's documents.
    val quality = cfg.minQualityPct match {
      case None => inLang.filter(col("__q") >= cfg.minQuality)
      case Some(pct) =>
        // survivor ids behind a [[Barrier]] in BOTH modes: the gate
        // output is no longer persisted (it is a join over the cached
        // normed frame), so the rank aggregation would otherwise
        // re-run once per downstream read (exact dedup reads ×2)
        val ranked = Barrier.cut(Text.scorePercentiles(
            inLang.select(col("doc_id"), col("source"),
              col("__q").as("quality_score")),
            "quality_score", "source")
          .filter(col("quality_score") >= cfg.minQuality &&
            col("pct_rank") >= pct)
          .select("doc_id"))
        inLang.join(ranked, Seq("doc_id"))
    }

    // optional C4-style blocklist gate: drop any document containing a
    // blocklisted token — the one-line any-hit filter over the row's
    // own tokens ([[Text.blocklistStats]]'s n_blocked == 0 rule as a
    // predicate; the list is a codegen literal). Map-only, no join.
    val clean = cfg.blocklist match {
      case None => quality
      case Some(terms) =>
        val lst = typedLit(terms.distinct)
        quality.filter(!exists(Text.tokens(col("text")),
          t => array_contains(lst, t)))
    }

    // optional Gopher duplication gate: drop degenerate-repetition docs
    // (boilerplate/spam) the quality composite cannot see. NULL ratios
    // (docs too short for an n-gram) pass; unset = no `__dup` column
    // is even computed. A filter on the stored ratio — the previous
    // relational form paid an n-gram explode + two doc-keyed shuffles
    // + a join-back per funnel run.
    val good = cfg.maxDupNgramRatio match {
      case None => clean
      case Some(maxDup) =>
        clean.filter(col("__dup").isNull || col("__dup") <= maxDup)
    }

    // optional cross-document boilerplate gate: drop docs that are
    // mostly corpus-wide boilerplate grams (df > boilerMaxDf). Reads
    // its input twice (stats + join) over the cached parents — the
    // same bounded-x2 contract as the repetition gate above.
    val gated = cfg.maxBoilerRatio match {
      case None => good
      case Some(maxB) =>
        val ids = Text.boilerplateStats(good, "text", cfg.boilerN,
            cfg.boilerMaxDf)
          .filter(col("boiler_ratio").isNull ||
            col("boiler_ratio") <= maxB)
          .select("doc_id")
        val surv = good.join(
          if (collectFunnel) ids else Barrier.cut(ids), Seq("doc_id"))
        if (collectFunnel) surv.persist(cfg.storageLevel)
        else surv
    }

    // optional CCNet perplexity-tier gate: per-language NLL tiers over
    // the gated survivors (the unigram model trains on THIS subset —
    // post-gate text, so spam the earlier gates dropped never shapes
    // the model), keeping the configured tiers (canonically
    // head+middle). Reads its input three times (tf explode, token
    // total, lang join) over the cached parents — the bounded-×3
    // sibling of the ×2 gate contract above.
    val tiered = cfg.pplKeepTiers match {
      case None => gated
      case Some(keep) =>
        // the NLL model + tier join read `gated` five times (tf explode,
        // token total, lang join, survivor join, downstream dedup) — at
        // ×3-per-read gate-chain re-derivation that compounds, so in
        // lazy mode the gate frame persists here (funnel mode already
        // persists it; `ne quality` guards the no-gates case where it
        // IS the always-persisted quality frame). Registered in
        // `extraPersisted` for caller unpersist. The tier-survivor IDS
        // additionally pass a [[Barrier]] in lazy mode (see the
        // repetition gate note), so downstream multi-reads never re-run
        // the NLL/ntile chain.
        if (!collectFunnel && (gated ne quality))
          gated.persist(cfg.storageLevel)
        val ids = Text.perplexityBuckets(gated, "text", "lang",
            cfg.pplBuckets)
          .filter(col("bucket").isin(keep.toSeq: _*))
          .select("doc_id")
        val surv = gated.join(
          if (collectFunnel) ids else Barrier.cut(ids), Seq("doc_id"))
        if (collectFunnel) surv.persist(cfg.storageLevel)
        else surv
    }

    // exact dedup (hash-groupBy, deterministic min-id survivor), then
    // near-dedup with the transitive-cluster policy: min-id by default,
    // or the highest-quality copy per cluster (keepBestQuality). The
    // gate-signal columns stop here: everything from the dedup joins
    // on keeps the original (doc_id, text, lang, source) schema, so
    // the extra bytes never ride a dedup shuffle.
    val postGates = tiered.select(
      col("doc_id"), col("text"), col("lang"), col("source"))
    val exact = Dedup.dedupExact(postGates, "doc_id", "text")
      .persist(cfg.storageLevel)
    val shingled = exact.select(col("doc_id"),
        Text.shingles(Text.tokens(col("text")), cfg.shingleN).as("shingles"))
      .persist(cfg.storageLevel)
    val near = (if (!cfg.keepBestQuality)
        Dedup.dedupNearClustered(exact, "doc_id", shingled,
          cfg.minhashPerms, cfg.bands, cfg.rowsPerBand, cfg.jaccardTau)
      else {
        val verified = Dedup.nearDupPairs(shingled, "doc_id",
          cfg.minhashPerms, cfg.bands, cfg.rowsPerBand, cfg.jaccardTau)
        // score as a scalar column over the persisted exact frame —
        // value-identical to the relational qualityScore and saves
        // its doc_id self-join (r15; guide §2.4)
        val scored = exact.withColumn("quality_score",
          Text.qualityScoreColumn(col("text")))
        Dedup.dedupNearClusteredBest(scored, "doc_id", "quality_score",
            Dedup.nearDupClusters(verified, "doc_id"))
          .drop("quality_score", "cluster_rep")
      }).persist(cfg.storageLevel)

    // optional benchmark decontamination: drop survivors sharing too
    // many shingles with the eval set. Eval text passes the SAME
    // scrub+normalize chain, and the training side reuses the cached
    // `shingled` frame (restricted to near survivors) — no re-shingling.
    // Persisted like its dedup siblings: the anti-join is read by the
    // chunk build and the funnel count.
    val decon = cfg.evalDocs match {
      case None => near
      case Some(eval) =>
        val evalMasked =
          if (!cfg.scrubPii) eval
          else eval.select(col("doc_id"), Text.piiMasked(col("text")).as("text"))
        val evalShingled = evalMasked
          .select(col("doc_id"), Text.normalize(col("text")).as("text"))
          .filter(length(col("text")) > 0)
          .select(col("doc_id"), Text.tokens(col("text")).as("__t"))
          .select(col("doc_id"),
            Text.shingles(col("__t"), cfg.shingleN).as("shingles"))
        val drops = Dedup.contamination(
            shingled.join(near.select(col("doc_id")), Seq("doc_id")),
            evalShingled, "doc_id",
            cfg.contaminationMinShared, cfg.broadcastEval)
          .select(col("doc_id")).distinct()
        near.join(drops, Seq("doc_id"), "left_anti")
          .persist(cfg.storageLevel)
    }

    // optional repeated-span scrub: rewrite survivor text, removing
    // k-token spans whose first occurrence lives elsewhere in the
    // surviving corpus; docs scrubbed to nothing drop. Eager (the op's
    // internal barrier), like the near-dedup fixpoint before it; reads
    // the persisted survivor frame once. The scrubbed frame persists
    // because chunking, packing, the sink's source join and the funnel
    // count all read it.
    val spanScrubbed = cfg.scrubSpanK match {
      case None => decon
      case Some(k) =>
        val s = Dedup.scrubRepeatedSpans(decon, "doc_id", "text", k)
          .filter(length(col("text_scrubbed")) > 0)
          .select(col("doc_id"), col("text_scrubbed").as("text"))
        decon.drop("text").join(s, Seq("doc_id"))
          .persist(cfg.storageLevel)
    }

    val chunks = Text.chunk(spanScrubbed, "text", cfg.chunkTokens)
    // optional packed-sequence consumer — reads the same persisted
    // survivor frame as the chunker; no extra funnel stages upstream
    val packed = cfg.packSeqTokens.map(l =>
      graft.ops.Sampling.pack(spanScrubbed, "doc_id", "text", l,
        cfg.packShards, cfg.packSalt))

    val funnel =
      if (!collectFunnel) Seq.empty
      else {
        // count order matters: `exact` (persisted) materializes from the
        // cached gates BEFORE they unpersist, so nothing downstream ever
        // re-runs a gate pipeline
        val gateCounts = Seq("quality" -> quality.count()) ++
          (if (cfg.blocklist.isEmpty) Seq.empty
           else Seq("blocklist" -> clean.count())) ++
          (if (cfg.maxDupNgramRatio.isEmpty) Seq.empty
           else Seq("repetition" -> good.count())) ++
          (if (cfg.maxBoilerRatio.isEmpty) Seq.empty
           else Seq("boilerplate" -> gated.count())) ++
          (if (cfg.pplKeepTiers.isEmpty) Seq.empty
           else Seq("perplexity" -> tiered.count()))
        val scrubCounts =
          (if (cfg.evalDocs.isEmpty) Seq.empty
           else Seq("decontaminated" -> decon.count())) ++
          (if (cfg.scrubSpanK.isEmpty) Seq.empty
           else Seq("span_scrub" -> spanScrubbed.count()))
        val counts = Seq(
          "input" -> docs.count(),
          "normalized_non_empty" -> normed.count(),
          "language" -> inLang.count()) ++ gateCounts ++ Seq(
          "exact_dedup" -> exact.count(),
          "near_dedup" -> near.count()) ++ scrubCounts ++ Seq(
          "chunks" -> chunks.count()) ++
          packed.map(p => "packed_sequences" -> p.count()).toSeq
        // only the corpus-aggregation gates (boilerplate, perplexity)
        // persist their outputs now — the per-row gates are filters
        // over the normed cache and have nothing to unpersist
        if (tiered ne gated) tiered.unpersist()
        if (gated ne good) gated.unpersist()
        normed.unpersist()
        counts
      }
    // lazy mode keeps normed cached (the one always-persisted
    // multi-read frame — every gate filter reads its stored columns) —
    // hand it to the caller alongside the dedup-side frames for
    // unpersist after consumption
    val extraPersisted =
      if (collectFunnel) Seq.empty
      else Seq(normed) ++
        (if (cfg.pplKeepTiers.isDefined && (gated ne quality)) Seq(gated)
         else Seq.empty)
    val deconPersisted = if (decon ne near) Seq(decon) else Seq.empty
    val scrubPersisted =
      if (spanScrubbed ne decon) Seq(spanScrubbed) else Seq.empty
    Frames(Result(chunks, funnel, packed = packed), spanScrubbed,
      scrubPersisted ++ deconPersisted ++ Seq(near, shingled, exact) ++
        extraPersisted)
  }
}

package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity operators (SURVEY.md §2.3 J5, §2.6 M3/M6, §7.4).
  *
  * Reference: `pipeline/model_train/model_train.py:14-49`
  * (`SimilarityCallback.run_sim`) — for each probe product, cosine against
  * the whole embedding matrix, drop self (P3), sort desc, top-20 (P6),
  * map names (J2/J3), `"; "`-concat (A7).
  *
  * Two engine forms:
  *  - [[coPurchaseTopK]]: the relational flagship (SURVEY.md §7.2) — the
  *    same report computed from co-occurrence counts instead of a trained
  *    embedding; fully deterministic and oracle-able.
  *  - [[cosineTopK]]: the vector form over an `array<float>` embedding
  *    column — brute-force exact k-NN: probes broadcast, one pass over the
  *    corpus, per-probe top-k. At 100 TB the corpus side stays partitioned;
  *    only the k·|probes| result rows move. The ANN (LSH-bucketed) scale
  *    path lives in [[Ann]].
  */
object Similarity {

  /** Dot product of two numeric-array columns — left-to-right fold in
    * double precision; sequential order makes the result reproducible (and
    * oracle-matchable) regardless of partitioning. Evaluated by the native
    * codegen'd [[graft.functions.FoldDot]] expression, bit-identical to
    * the declarative `aggregate(zip_with(a, b, _*_), 0.0, _+_)` form but
    * one tight loop instead of interpreted HOF lambdas. */
  def dot(a: Column, b: Column): Column = graft.functions.FoldDot(a, b)

  /** L2 norm of a double-array column. */
  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Cosine similarity of two double-array columns. */
  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** M3 relational flagship: top-k co-purchase neighbors per target from a
    * skip-gram pair stream. Rank by co-occurrence count desc with pinned
    * tiebreak (cnt DESC, context ASC); self pairs never occur (pair gen
    * excludes pos_t == pos_c, and identical items at different positions
    * are real co-occurrence). Returns (target, context, cnt, rnk ≤ k).
    *
    * `salts` > 1 routes the co-occurrence count through
    * [[Pairs.saltedCounts]] — the skew lever for hot (target, context)
    * keys (a viral product pair at 100 TB): stage one spreads a hot key
    * over `salts` reducers, stage two sums the ≤ `salts` partials.
    * Counts are algebraic, so the result is IDENTICAL for every `salts`
    * (the law is proven in PairsSpec; SimilaritySpec re-checks it through
    * this entry point) — choose by cluster skew, not by semantics. The
    * salt is a keyed hash of the full pair row, so placement is
    * deterministic run-to-run. */
  def coPurchaseTopK(pairs: DataFrame, k: Int, salts: Int = 1): DataFrame = {
    val co =
      if (salts <= 1)
        pairs.groupBy(col("target"), col("context"))
          .agg(count(lit(1)).as("cnt"))
      else
        Pairs.saltedCounts(pairs, Seq("target", "context"),
          pairs.columns.toSeq.map(col), salts)
    co.withColumn("rnk",
        row_number().over(Window.partitionBy(col("target"))
          .orderBy(desc("cnt"), asc("context"))))
      .filter(col("rnk") <= k)
  }

  /** [[coPurchaseTopK]] with the salt count CHOSEN by the
    * [[Quality.autoSalts]] skew pre-flight instead of supplied by the
    * caller — the production wiring for a pair stream whose skew is
    * unknown: probe the (target, context) key's mass, take
    * ⌈max_key_share × parallelism⌉ salts clamped to the `floorSalts`..
    * parallelism band, and run the salted two-stage count with it.
    * Values are identical for every salt choice (the saltedCounts law),
    * so the probe affects only the physical shuffle layout — measured
    * cost at toy scale is one extra pruned pass over the pair lineage,
    * which is why the oracle-gated q14 keeps an explicit constant and
    * this form is its own gated query (q147). */
  def coPurchaseTopKAuto(pairs: DataFrame, k: Int, parallelism: Int,
                         floorSalts: Int = 1): DataFrame = {
    // The probe and the salted count are TWO consumers of the pair
    // lineage (encode join → basket window → skip-gram self-join) —
    // materialize it once behind a barrier so the pre-flight costs a
    // re-read, not a full second derivation (guide §1.2: don't compute
    // things twice; the r15 simhashPairs/LSH pattern). Values are salt-
    // invariant either way, so this changes plan shape only.
    val cut = graft.ops.Barrier.cut(pairs)
    val salts = math.max(floorSalts, Quality.autoSalts(
      cut, Seq("target", "context"), parallelism))
    coPurchaseTopK(cut, k, salts)
  }

  /** J5/M3 vector form: exact cosine top-k of every probe against the
    * corpus. `probes` must be small (broadcast); self-matches dropped by
    * id (P3). Scores rounded to 9 dp for stable cross-engine compare.
    * Returns (probe_id, vec_id, cos, rnk ≤ k). */
  def cosineTopK(corpus: DataFrame, probes: DataFrame, k: Int): DataFrame = {
    // raw arrays straight into the FoldDot-backed cosine — element casts
    // happen inside the codegen'd fold, no interpreted transform() copy
    val c = corpus.select(col("vec_id"), col("embedding").as("v"))
    val p = probes.select(col("vec_id").as("probe_id"),
      col("embedding").as("pv"))
    c.crossJoin(broadcast(p))
      .filter(col("vec_id") =!= col("probe_id"))
      .withColumn("cos", Portable.ratio9(cosine(col("v"), col("pv"))))
      .withColumn("rnk",
        row_number().over(Window.partitionBy(col("probe_id"))
          .orderBy(desc("cos"), asc("vec_id"))))
      .filter(col("rnk") <= k)
      .select(col("probe_id"), col("vec_id"), col("cos"), col("rnk"))
  }

  /** Margin-based parallel-pair mining (Artetxe & Schwenk, ACL'19 §3;
    * the CCMatrix/LASER bitext-mining score): a raw cosine threshold
    * cannot separate true cross-corpus pairs from "hubs" — vectors that
    * are uniformly close to everything — so each candidate cosine is
    * RATIO-NORMALIZED by its two endpoints' neighborhood density:
    *
    *   margin(x,y) = cos(x,y) / ((avgTopK(x→Y) + avgTopK(y→X)) / 2)
    *
    * and a pair is mined iff it is the MUTUAL best match by margin and
    * margin ≥ `tau` (τ slightly above 1 = "this pair beats its own
    * neighborhoods", the published operating point). The same score
    * mines aligned pairs across any two embedded corpora: translations
    * across languages, near-synonym products across catalogs,
    * caption↔image across modalities.
    *
    * Cross-engine determinism: cosines are rounded to 9 dp then
    * integerized (·1e9) per pair; the top-k penalty sums accumulate in
    * exact BIGINT; the margin is formed as the integer ratio
    * 2k·cos_i / (sx+sy) and cast to double ONCE — both engines divide
    * the same two exact integers. A zero penalty sum (margin undefined)
    * drops the pair.
    *
    * Shape: one cross join with the Y side broadcast (mining is always
    * big-corpus × small-corpus per batch), then two bounded windows
    * over the pair frame — each partition holds at most |Y| (resp. the
    * X batch) rows. At 100 TB both sides are large: generate candidates
    * from shared SRP buckets ([[graft.ops.Dedup.srpBuckets]]) and
    * compute the penalties within the retrieved sets — the standard
    * ANN-mining posture (CCMatrix mines 32B pairs exactly this way);
    * the exact form here is the oracle-able ground truth the
    * approximate path is audited against (the q119 recall pattern).
    * Returns (x_id, y_id, cos, margin), mutual-best rows only. */
  def marginMine(xs: DataFrame, ys: DataFrame, k: Int,
                 tau: Double): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val x = xs.select(col("vec_id").as("x_id"), col("embedding").as("xv"))
    val y = ys.select(col("vec_id").as("y_id"), col("embedding").as("yv"))
    val scored = x.crossJoin(broadcast(y))
      .withColumn("cos", Portable.ratio9(cosine(col("xv"), col("yv"))))
      .withColumn("__ci", floor(col("cos") * 1e9 + lit(0.5)).cast("long"))
      .select(col("x_id"), col("y_id"), col("cos"), col("__ci"))
    mineScored(scored, k, tau)
  }

  /** The SRP-bucketed scale path of [[marginMine]]: candidates come
    * from shared sign-random-projection buckets
    * ([[graft.ops.Dedup.srpBuckets]] — same deterministic plane family
    * as the ANN/near-dup paths), and the top-k penalty neighborhoods
    * are computed WITHIN the retrieved candidate sets — exactly the
    * approximation a FAISS-backed production miner makes (CCMatrix
    * mines its 32B pairs this way). Neither side is broadcast and the
    * only shuffle keys on the bucket code, so both corpora can be
    * 100 TB. Recall is approximate (aligned pairs landing in different
    * buckets are unseen — OR more plane tables via
    * [[graft.ops.Dedup.srpBucketsMulti]] to recover them); audit the
    * loss against [[marginMine]]'s exact truth on a sample, the
    * q161/q162 pattern. */
  def marginMineBucketed(xs: DataFrame, ys: DataFrame, k: Int,
                         tau: Double, planes: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val bx = graft.ops.Dedup.srpBuckets(xs, "vec_id", "embedding", planes)
      .select(col("bucket"), col("vec_id").as("x_id"),
        col("embedding").as("xv"))
    val by = graft.ops.Dedup.srpBuckets(ys, "vec_id", "embedding", planes)
      .select(col("bucket"), col("vec_id").as("y_id"),
        col("embedding").as("yv"))
    // one bucket code per vector, so a pair meets in at most one bucket
    // — no candidate dedup needed
    val scored = bx.join(by, Seq("bucket"))
      .withColumn("cos", Portable.ratio9(cosine(col("xv"), col("yv"))))
      .withColumn("__ci", floor(col("cos") * 1e9 + lit(0.5)).cast("long"))
      .select(col("x_id"), col("y_id"), col("cos"), col("__ci"))
    mineScored(scored, k, tau)
  }

  /** Shared mining tail: exact-integer top-k penalties, margin as one
    * integer ratio, mutual-best + τ gate over a candidate frame of
    * (x_id, y_id, cos, __ci). */
  private def mineScored(scored: DataFrame, k: Int,
                         tau: Double): DataFrame = {
    val ranked = scored
      .withColumn("__rx", row_number().over(Window.partitionBy(col("x_id"))
        .orderBy(desc("__ci"), asc("y_id"))))
      .withColumn("__ry", row_number().over(Window.partitionBy(col("y_id"))
        .orderBy(desc("__ci"), asc("x_id"))))
    val sx = ranked.filter(col("__rx") <= k)
      .groupBy(col("x_id")).agg(sum(col("__ci")).as("__sx"))
    val sy = ranked.filter(col("__ry") <= k)
      .groupBy(col("y_id")).agg(sum(col("__ci")).as("__sy"))
    val margins = scored
      .join(sx, Seq("x_id")).join(sy, Seq("y_id"))
      .filter(col("__sx") + col("__sy") =!= 0L)
      .withColumn("margin", {
        // signed/signed exact ratio: normalize the denominator sign
        // into the numerator so the integral division sees den > 0
        val den = col("__sx") + col("__sy")
        val num = col("__ci") * lit(2L * k)
        Portable.intRatioSigned9(when(den < 0, -num).otherwise(num),
          abs(den))
      })
    margins
      .withColumn("__bx", row_number().over(Window.partitionBy(col("x_id"))
        .orderBy(desc("margin"), asc("y_id"))))
      .withColumn("__by", row_number().over(Window.partitionBy(col("y_id"))
        .orderBy(desc("margin"), asc("x_id"))))
      .filter(col("__bx") === 1 && col("__by") === 1 &&
        col("margin") >= tau)
      .select(col("x_id"), col("y_id"), col("cos"), col("margin"))
  }

  /** Matryoshka truncation (Kusupati et al., NeurIPS'22 — the
    * MRL-embedding serving trick): keep only the FIRST `dims`
    * coordinates of each vector. With matryoshka-trained embeddings the
    * information-densest prefix approximates the full-vector geometry,
    * so retrieval runs at dims/D of the memory and dot-product cost;
    * [[cosineTopK]] renormalizes inside the cosine, so no explicit
    * renorm is needed. Pair with [[graft.ops.Ann.recallReport]] against
    * the full-dimension top-k to MEASURE what a truncation costs before
    * committing an index to it (the q150 report). Map-only slice —
    * at 100 TB this is the cheap half of the index-sizing decision. */
  def truncateEmbeddings(emb: DataFrame, dims: Int): DataFrame = {
    require(dims >= 1, s"dims must be >= 1, got $dims")
    emb.select(col("vec_id"), slice(col("embedding"), 1, dims).as("embedding"))
  }

  /** Johnson–Lindenstrauss ±1 random projection — the dimension-
    * reduction path for embeddings that were NOT matryoshka-trained
    * (truncating those just throws information away; a dense random
    * projection preserves pairwise geometry with JL's distortion
    * bound): out_j = Σ_i s_ji·x_i with s_ji = ±1 decided by the
    * [[graft.ops.Portable]] keyed hash of ("jl"+j, i) — the Achlioptas
    * sign family, reproducible across runs, partitions and engines
    * with no stored projection matrix. Cosine is scale-invariant, so
    * the 1/√k JL normalization is unnecessary for retrieval and
    * omitted.
    *
    * Exactness: ±1 weights make every product an exact float in
    * double (the same trick that keeps [[cosineTopK]] oracle-exact),
    * and the result narrows to float32 like [[meanPoolEmbeddings]] so
    * downstream products stay exact too. Map-only — one codegen'd
    * [[graft.functions.FoldDot]] per output dimension, weights
    * computed once driver-side; the corpus never shuffles. Pair with
    * [[graft.ops.Ann.recallReport]] against the full-dimension exact
    * top-k to price the reduction (q155 — directly comparable to
    * q150's matryoshka truncation at the same output width). */
  def randomProject(emb: DataFrame, outDims: Int): DataFrame = {
    require(outDims >= 1, s"outDims must be >= 1, got $outDims")
    import org.apache.spark.unsafe.types.UTF8String
    // fixed-dimension by contract: probe one row, never a scan
    val dim = emb.select(size(col("embedding")).as("n")).head().getInt(0)
    val signs: Seq[Seq[Double]] = (0 until outDims).map { j =>
      (1 to dim).map { i =>
        val h = graft.functions.Hash60.compute(Array(
          UTF8String.fromString("jl" + j), UTF8String.fromString(i.toString)))
        if (h / Portable.TwoPow60 < 0.5) -1.0 else 1.0
      }
    }
    emb.select(col("vec_id"),
      array(signs.map(w =>
        graft.functions.FoldDot(col("embedding"), typedLit(w))
          .cast("float")): _*).as("embedding"))
  }

  /** Group-embedding mean pooling — order2vec/user2vec, the standard
    * serving recipe DOWNSTREAM of a trained item embedding: given a
    * (group, member) membership frame and the item-embedding table, the
    * group's embedding is the per-dimension MEAN of its members'
    * vectors (duplicate members count per occurrence — a basket with
    * the same product twice weighs it twice, matching the bag
    * semantics a sequence model would see). The pooled frame drops
    * straight back into [[cosineTopK]]/[[graft.ops.Ann]] — similar
    * ORDERS from item embeddings, no second training.
    *
    * Exactness (the cross-engine float-mean discipline): each float32
    * coordinate widens to double exactly, integerizes once
    * (floor(x·1e9 + ½)), sums run exactly in LONG keyed on the group
    * (exact while Σ|x_i|·1e9 per (group, dim) stays under 2^63 —
    * ~9.2e9 units of absolute coordinate mass, i.e. even a 100M-member
    * group of unit-scale floats), and the mean leaves integer land
    * ONCE — the exact sum widens to double and two IEEE divisions (by
    * n, by 1e9) produce the same bits on every engine (no round() in
    * the path: decimal rounding of a full-mantissa double is
    * implementation-defined at the last ulp) — so the pooled vectors
    * are bit-identical across partitionings and engines (no float-sum
    * order sensitivity). The result stores at the ITEM table's float32
    * width: beyond being what a serving index would keep, float32
    * coordinates make every downstream cosine's products exact in
    * double (24-bit × 24-bit mantissas), which is what keeps
    * [[cosineTopK]] over pooled vectors 9-dp oracle-matchable — full-
    * mantissa doubles would leak last-ulp fold differences into the
    * 9th digit.
    *
    * Shape: one membership-keyed equi join, then ONE wide hash agg —
    * dim sum columns + a count per group, all map-side combined, so
    * the shuffle carries one dim-wide row per (group, map partition).
    * (The previous posexplode form shuffled members × dims skinny
    * rows — 64× the row overhead and 4× the wall time on the q153
    * bench path — and reassembled through a collect_list; the wide-agg
    * form rebuilds the array in the output projection for free.)
    * Returns (vec_id = group id, embedding: array<float>). */
  def meanPoolEmbeddings(membership: DataFrame, groupCol: String,
                         memberCol: String, emb: DataFrame): DataFrame = {
    // fixed-dimension by contract: probe one row, never a scan
    val dim = emb.select(size(col("embedding")).as("n")).head().getInt(0)
    val joined = membership
      .select(col(groupCol).as("__g"), col(memberCol).as("vec_id"))
      .join(emb.select(col("vec_id"), col("embedding")), Seq("vec_id"))
    val sums = (0 until dim).map(i =>
      sum(floor(element_at(col("embedding"), i + 1).cast("double")
        * lit(1e9) + lit(0.5)).cast("long")).as(s"__s$i"))
    joined.groupBy(col("__g"))
      .agg(count(lit(1)).as("__n"), sums: _*)
      .select(col("__g").as("vec_id"),
        // no round(): the exact integer sum widens to double and the
        // two IEEE divisions are bit-deterministic on every engine —
        // a round(x, 9) here would REINTRODUCE engine skew, exactly
        // what the float32 narrowing below then fails to hide
        array((0 until dim).map(i =>
          (col(s"__s$i").cast("double") / col("__n") / lit(1e9))
            .cast("float")): _*).as("embedding"))
  }

  /** Matryoshka recall CURVE — the q150 report swept over every prefix
    * length in ONE corpus pass: per (dims, probe), recall of the exact
    * top-k under the first-`dims` prefix against the full-dimension
    * exact top-k (`dimsList`'s last entry must be the full dimension —
    * it is the reference set). This is the index-sizing decision table:
    * read down the dims column until recall drops below the serving
    * bar, and that prefix is the memory/dot-cost the index pays.
    *
    * Shape: one broadcast cross-join scores ALL prefix cosines per
    * row (the slices share the row — |dims| cosine expressions in one
    * projection, not |dims| corpus scans); per-(probe, dims) top-k via
    * a probe×dims-partitioned rank window; the tiny ranked frame passes
    * a [[graft.ops.Barrier]] (read once as reference, once per curve
    * point) and the recall join is q109's shape with a dims spine. */
  def matryoshkaCurve(corpus: DataFrame, probes: DataFrame,
                      dimsList: Seq[Int], k: Int): DataFrame = {
    require(dimsList.nonEmpty && dimsList == dimsList.sorted &&
      dimsList.distinct == dimsList,
      s"dimsList must be sorted distinct, got $dimsList")
    require(dimsList.forall(_ >= 1), s"dims must be >= 1, got $dimsList")
    val full = dimsList.last
    val c = corpus.select(col("vec_id"), col("embedding").as("v"))
    val p = probes.select(col("vec_id").as("probe_id"),
      col("embedding").as("pv"))
    val scored = c.crossJoin(broadcast(p))
      .filter(col("vec_id") =!= col("probe_id"))
      .select(col("probe_id"), col("vec_id"),
        explode(array(dimsList.map(d => struct(lit(d.toLong).as("dims"),
          Portable.ratio9(
            cosine(slice(col("v"), 1, d), slice(col("pv"), 1, d)))
            .as("cos"))): _*)).as("s"))
      .select(col("probe_id"), col("vec_id"),
        col("s.dims").as("dims"), col("s.cos").as("cos"))
    val ranked = Barrier.cut(scored
      .withColumn("rnk", row_number().over(
        Window.partitionBy(col("probe_id"), col("dims"))
          .orderBy(desc("cos"), asc("vec_id"))))
      .filter(col("rnk") <= k)
      .select(col("probe_id"), col("vec_id"), col("dims")))
    val ex = ranked.filter(col("dims") === full.toLong)
      .select(col("probe_id"), col("vec_id"))
    val exCnt = ex.groupBy(col("probe_id"))
      .agg(count(lit(1)).as("n_exact"))
    val hits = ranked.join(ex, Seq("probe_id", "vec_id"))
      .groupBy(col("dims"), col("probe_id"))
      .agg(count(lit(1)).as("n_hit"))
    exCnt.crossJoin(ranked.select(col("dims")).distinct())
      .join(hits, Seq("dims", "probe_id"), "left")
      .select(col("dims"), col("probe_id"), col("n_exact"),
        coalesce(col("n_hit"), lit(0L)).as("n_hit"),
        Portable.intRatio9(coalesce(col("n_hit"), lit(0L)),
          col("n_exact")).as("recall"))
  }

  /** M6: best-row selection — explicit `orderBy(asc(objective)).limit(1)`
    * (the reference does this via a fragile pandas positional idiom,
    * `post_process.py:60-68`; SURVEY.md N3). */
  def bestRow(df: DataFrame, objectiveCol: String): DataFrame =
    df.orderBy(asc(objectiveCol)).limit(1)

  /** M7: tuning-table enrichment — dense `iteration` index in start-time
    * order (`tuning_analysis.py:30-41`). */
  def withIteration(df: DataFrame, orderCol: String): DataFrame =
    df.withColumn("iteration",
      row_number().over(Window.orderBy(asc(orderCol))))

  /** A7: ordered `"; "`-concat report line per target —
    * `Series.str.cat(sep="; ")` over the ranked neighbor names
    * (`model_train.py:48`). Expects (target, name, rnk). */
  def neighborReport(ranked: DataFrame): DataFrame =
    ranked.groupBy(col("target"))
      .agg(concat_ws("; ",
        array_sort(collect_list(struct(col("rnk"), col("name"))))
          .getField("name")).as("neighbors"))

  /** TF-IDF cosine document-similarity pairs — the weighted complement
    * to the set-based [[Dedup.jaccardPairsExact]]: documents score by
    * the cosine of their ln(N/df)-weighted term vectors, so sharing a
    * RARE term means far more than sharing a stopword. Returns
    * (id_a, id_b, cos_tfidf) for pairs with cosine ≥ tau (compared on
    * the 9-dp-rounded value, both engines).
    *
    * Relational shape (inverted index, never all-pairs): one tokenize
    * into the (doc, term, tf) frame; df is a window count over that
    * grouped frame (partition = the term's posting list, ≤ n_docs rows
    * — the [[Text.topKeywords]] trick, no re-tokenizing join); N joins
    * in as a broadcast 1-row aggregate; the per-doc L2 norm is a window
    * sum over the doc partition. The normalized posting list passes a
    * [[Barrier]] (both join sides read the cut — one tokenize total,
    * like q55), then pairs meet through a term-keyed equi self-join.
    * `maxDf` prunes hot terms from the JOIN (their posting lists are
    * quadratic candidate factories and their idf ≈ 0 contributes least)
    * — the documented skew lever; norms keep every term, so pruning
    * only ever underestimates a cosine. Documents whose every term has
    * df = N carry a zero vector (all idf 0) and drop — cosine is
    * undefined for them. */
  def tfidfCosinePairs(df: DataFrame, idCol: String, textCol: String,
                       tau: Double, maxDf: Long): DataFrame = {
    require(maxDf >= 1, s"maxDf must be >= 1, got $maxDf")
    val id = col(idCol)
    val tf = df.select(id,
        explode_outer(Text.tokens(col(textCol))).as("term"))
      .filter(col("term").isNotNull && col("term") =!= "")
      .groupBy(id, col("term")).agg(count(lit(1)).as("tf"))
    val n = df.agg(count(lit(1)).cast("double").as("__n"))
    val posts = Barrier.cut(tf
      .withColumn("df", count(lit(1)).over(Window.partitionBy(col("term"))))
      .crossJoin(broadcast(n))
      .withColumn("w", col("tf") * log(col("__n") / col("df")))
      .withColumn("norm",
        sqrt(sum(col("w") * col("w")).over(Window.partitionBy(id))))
      .filter(col("norm") > 0)
      .filter(col("df") <= maxDf)
      .select(id, col("term"), (col("w") / col("norm")).as("u")))
    val a = posts.select(col("term"), id.as("id_a"), col("u").as("ua"))
    val b = posts.select(col("term"), id.as("id_b"), col("u").as("ub"))
    a.join(b, Seq("term"))
      .filter(col("id_a") < col("id_b"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(Portable.ratio9(sum(col("ua") * col("ub"))).as("cos_tfidf"))
      .filter(col("cos_tfidf") >= tau)
  }
}

package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Entity-resolution operators: exact edit-distance similarity join
  * over a string catalog (the "merge these near-identical product /
  * vendor / author names" cleanup every large catalog needs), built
  * on segment filtering (PassJoin; Li, Deng, Wang & Feng, PVLDB'11 —
  * public literature), NOT heuristic blocking.
  *
  * Why segments and not prefix/length blocking: a pair within edit
  * distance k can disagree in its first AND last characters, so
  * prefix/suffix blocking silently loses recall; length-band blocking
  * alone degenerates to O(V²) inside a band. The pigeonhole fact
  * behind PassJoin is loss-free: split a string into k+1 segments —
  * any string within edit distance k aligns at least one segment with
  * ZERO errors, so that segment appears verbatim in the other string,
  * shifted by at most k positions (the errors before it). Candidate
  * generation therefore joins indexed segments against enumerated
  * probe substrings on (content, segment#, indexed length) — a plain
  * hash-shuffle join keyed on short substrings — and misses nothing.
  *
  * 100 TB posture: per string the probe side enumerates at most
  * (2k+1)·(k+1)·(2k+1) substrings (k=2 → 75) — linear in the catalog,
  * never all-pairs. The join key includes the segment INDEX and the
  * indexed string's LENGTH, which splits common-substring buckets the
  * way LSH bands split shingle buckets; verification is the banded
  * O(k·n) [[functions.levenshtein]] with an early-exit threshold, on
  * candidates only. Catalog strings are deduplicated up front, so the
  * join runs on distinct names with multiplicities carried as counts
  * (the vocab-bounded frame, not the row frame).
  *
  * ASCII/BMP note: `length`/`substring` count characters identically
  * in Spark and DuckDB for BMP text; the synthetic fixtures are ASCII.
  */
object Er {

  /** Default candidate-pair budget for the [[editJoin]] pre-flight.
    * The exact segment join is loss-free but still quadratic in the
    * worst case (a low-entropy catalog where every name shares
    * segments); 2e9 candidate pairs ≈ a few hundred GB of shuffled
    * id-pair tuples — the point where the exact audit stops being an
    * audit and starts being the job. Beyond it, callers must raise the
    * budget explicitly or use the banded near-dup path ([[Dedup]]
    * MinHash/LSH), which scales linearly. Measured basis: the sf1
    * decade fixture's 197k part names generate 92M candidates; the
    * sf10 run (~2M names) DNF'd a 48 GB single JVM — the budget trips
    * between the two. */
  val DefaultMaxCandidatePairs: Long = 2000000000L

  /** Segment start (1-based) for segment `i` of a length-`l` string
    * split into k+1 segments, even partition: the first (k+1 − l mod
    * (k+1)) segments get ⌊l/(k+1)⌋ chars, the rest one more. */
  private def segStart(i: Column, l: Column, k: Int): Column = {
    val m = lit(k + 1)
    val q = (l / m).cast("long")
    val r = l % m
    when(i < m - r, i * q).otherwise((m - r) * q + (i - (m - r)) * (q + 1)) +
      lit(1)
  }

  /** Segment length for segment `i` of a length-`l` string. */
  private def segLen(i: Column, l: Column, k: Int): Column = {
    val m = lit(k + 1)
    (l / m).cast("long") + when(i >= m - (l % m), 1L).otherwise(0L)
  }

  /** Exact edit-distance similarity self-join: every unordered pair
    * of DISTINCT values of `strCol` with levenshtein distance in
    * [1, k], with the pair's row multiplicities. Returns (name_a,
    * name_b, dist, n_a, n_b) with name_a < name_b — exact and
    * complete (no blocking recall loss; the completeness law is
    * asserted against a brute-force all-pairs join in ErSpec).
    *
    * Strings shorter than k+1 characters cannot host k+1 non-empty
    * segments; they can only be within k of strings no longer than
    * 2k, so the (tiny, alphabet-bounded) short pool is paired against
    * that bounded pool directly and unioned in — completeness holds
    * for every length.
    *
    * CANDIDATE-MASS PRE-FLIGHT: before the candidate join launches,
    * its exact output size Σ cntProbe·cntSeg is priced from the two
    * (vocab-bounded) key-count frames — the [[Quality.joinFanout]]
    * two-agg form on the segment join key, plus the short-pool cross
    * size. If it exceeds `maxCandidatePairs` the join does NOT run:
    * the call throws, naming the measured mass and the escape
    * hatches. */
  def editJoin(df: DataFrame, strCol: String, k: Int,
               maxCandidatePairs: Long = DefaultMaxCandidatePairs): DataFrame = {
    require(k >= 1, s"edit-distance threshold k must be >= 1, got $k")
    require(maxCandidatePairs >= 1,
      s"maxCandidatePairs must be >= 1, got $maxCandidatePairs")
    import org.apache.spark.sql.expressions.Window
    // Distinct names get DENSE integer ids (one bounded vocab-sized
    // sort) and every corpus-scale frame below carries ids + hashed
    // segments instead of strings: the candidate join on a low-entropy
    // catalog (q206's sf1 decade: 92M raw candidates from 197k names
    // built out of ~200 common words) shuffles long tuples instead of
    // ~70-char string pairs, and the pair dedup compares 16 bytes, not
    // strings — measured 77 s → ~25 s at that scale, same output.
    // The name dimension is vocab-bounded, so it broadcasts back in
    // for the banded-levenshtein verify.
    // the id window is a bounded single-task sort of the VOCAB, but it
    // leaves the frame on one partition and re-executes per branch (six
    // consumers) — barrier it and re-spread, or every downstream
    // explode runs single-threaded
    val all = Barrier.cut(
      df.groupBy(col(strCol).as("s"))
        .agg(count(lit(1)).as("n"))
        .select(col("s"), col("n"), length(col("s")).cast("long").as("l"))
        .withColumn("id", row_number().over(Window.orderBy(col("s")))
          .cast("long"))
        .repartition(col("id")))

    val cand = candidateFrames(all, k)
    if (cand.mass > BigDecimal(maxCandidatePairs))
      throw new IllegalArgumentException(
        s"editJoin pre-flight: the segment join would generate " +
          s"${cand.mass} candidate pairs, over the budget of " +
          s"$maxCandidatePairs. Raise maxCandidatePairs " +
          "if the cluster can pay for the shuffle, or use the banded " +
          "near-dup path (Dedup MinHash/LSH), which scales linearly.")
    verifiedPairs(all, cand, k)
  }

  /** The two candidate-generation frames plus their exactly-priced
    * join mass (an upper bound on candidate pairs: self-matches are
    * counted here, excluded by the join). Both frames are barriered —
    * each is read twice (the mass aggs, then the candidate join) and
    * neither exceeds vocab × (2k+1)(k+1)(2k+1) rows even when the
    * candidate JOIN OUTPUT would be quadratic. */
  private final case class CandFrames(segs: DataFrame, probes: DataFrame,
                                      mass: BigDecimal)

  private def candidateFrames(strs: DataFrame, k: Int): CandFrames = {
    val longs = strs.filter(col("l") >= k + 1)

    // index side: the k+1 segments of every long string, seg hashed —
    // a 64-bit collision only ADDS a candidate (verify kills it);
    // completeness never depends on hash injectivity
    val segs = Barrier.cut(longs
      .select(col("id").as("idb"), col("s").as("sb"), col("l").as("lb"),
        explode(sequence(lit(0L), lit(k.toLong))).as("i"))
      .select(col("idb"), col("lb"), col("i"),
        xxhash64(col("sb").substr(segStart(col("i"), col("lb"), k),
          segLen(col("i"), col("lb"), k))).as("segh")))

    // probe side: for each candidate indexed length l2 ∈ [l−k, l+k]
    // (≥ k+1), each segment slot, each shift d ∈ [−k, k], the probe
    // substring at the segment's position-in-l2 plus d — deduplicated
    // on the join key before the shuffle.
    val probes = Barrier.cut(longs
      .select(col("id").as("ida"), col("s").as("sa"), col("l").as("la"),
        explode(sequence(lit(-k.toLong), lit(k.toLong))).as("dl"))
      .withColumn("l2", col("la") + col("dl"))
      .filter(col("l2") >= k + 1)
      .select(col("ida"), col("sa"), col("la"), col("l2"),
        explode(sequence(lit(0L), lit(k.toLong))).as("i"))
      .select(col("ida"), col("sa"), col("la"), col("l2"), col("i"),
        explode(sequence(lit(-k.toLong), lit(k.toLong))).as("d"))
      .withColumn("pst", segStart(col("i"), col("l2"), k) + col("d"))
      .withColumn("pln", segLen(col("i"), col("l2"), k))
      .filter(col("pst") >= 1 && col("pst") <= col("la") - col("pln") + 1)
      .select(col("ida"), col("l2"), col("i"),
        xxhash64(col("sa").substr(col("pst"), col("pln"))).as("segh"))
      .distinct())

    // exact join-output mass from the per-key multiplicities — the
    // joinFanout two-agg form on the composite segment key; a 1-row
    // driver probe, never the candidate frame itself
    val dec = "decimal(38,0)"
    val pk = probes.groupBy(col("segh"), col("i"), col("l2"))
      .agg(count(lit(1)).cast(dec).as("__ca"))
    val sk = segs.groupBy(col("segh").as("__sh"), col("i").as("__si"),
        col("lb"))
      .agg(count(lit(1)).cast(dec).as("__cb"))
    val longMass = pk.join(sk,
        pk("segh") === sk("__sh") && pk("i") === sk("__si") &&
          pk("l2") === sk("lb"))
      .agg(sum(col("__ca") * col("__cb")).as("m")).head().getDecimal(0)
    val shortRow = strs.agg(
      sum(when(col("l") <= k, 1L).otherwise(0L)).as("ns"),
      sum(when(col("l") <= 2L * k, 1L).otherwise(0L)).as("np")).head()
    val shortMass =
      if (shortRow.isNullAt(0)) BigDecimal(0)
      else BigDecimal(shortRow.getLong(0)) * BigDecimal(shortRow.getLong(1))
    val mass = Option(longMass).map(BigDecimal(_)).getOrElse(BigDecimal(0)) +
      shortMass
    CandFrames(segs, probes, mass)
  }

  private def verifiedPairs(strs: DataFrame, cand: CandFrames,
                            k: Int): DataFrame = {
    val candLong = cand.probes.join(cand.segs,
        cand.probes("segh") === cand.segs("segh") &&
          cand.probes("i") === cand.segs("i") &&
          cand.probes("l2") === cand.segs("lb") &&
          cand.probes("ida") =!= cand.segs("idb"))
      .select(col("ida"), col("idb"))

    // short pool: strings of length ≤ k vs the (≤ 2k)-length pool —
    // both alphabet-bounded, broadcast on the short side.
    val shorts = strs.filter(col("l") <= k).select(col("id").as("ida"))
    val pool = strs.filter(col("l") <= 2L * k).select(col("id").as("idb"))
    val candShort = broadcast(shorts).crossJoin(pool)
      .filter(col("ida") =!= col("idb"))

    // dedup on the 16-byte id pair, then broadcast the vocab-sized
    // name dimension back in for the banded verify
    val cands = candLong.union(candShort)
      .select(least(col("ida"), col("idb")).as("id_a"),
        greatest(col("ida"), col("idb")).as("id_b"))
      .distinct()
    val dims = strs.select(col("id"), col("s"), col("n"))
    val verified = cands
      .join(broadcast(dims.select(col("id").as("id_a"),
        col("s").as("sa2"), col("n").as("na2"))), Seq("id_a"))
      .join(broadcast(dims.select(col("id").as("id_b"),
        col("s").as("sb2"), col("n").as("nb2"))), Seq("id_b"))
      .withColumn("dist",
        levenshtein(col("sa2"), col("sb2"), k).cast("long"))
      .filter(col("dist") >= 1 && col("dist") <= k)
    verified
      .select(least(col("sa2"), col("sb2")).as("name_a"),
        greatest(col("sa2"), col("sb2")).as("name_b"), col("dist"),
        when(col("sa2") < col("sb2"), col("na2")).otherwise(col("nb2"))
          .as("n_a"),
        when(col("sa2") < col("sb2"), col("nb2")).otherwise(col("na2"))
          .as("n_b"))
  }

  /** End-to-end entity resolution over a string catalog: the
    * [[editJoin]] match graph closed TRANSITIVELY into entity clusters
    * (connected components — "bolt"~"bolts"~"bolt s" merge even when
    * the endpoints exceed k), with the survivorship policy catalogs
    * actually use: the canonical form of an entity is its most
    * frequent variant (row multiplicity), ties to the lexicographically
    * smallest — deterministic, no "first seen wins".
    *
    * Returns one row per DISTINCT value of `strCol`: (name, n_rows,
    * canonical, n_variants, cluster_rows) — the rewrite table a
    * normalization pass joins on (name → canonical), with the audit
    * columns (how big is the entity, how much mass moves) in the same
    * frame. Unmatched names are their own canonical (n_variants = 1).
    *
    * 100 TB posture: every stage is vocab-bounded — candidate pairs
    * from the loss-free segment join, components via the near-dup
    * clusterer ([[Dedup.nearDupClusters]]: union-find on the driver
    * while the match graph fits its edge budget, checkpoint-barriered
    * path-halving rounds past it; names compare in UTF-8 byte order, as
    * Spark's `min` does), survivorship one agg + one window over the
    * distinct-name frame. The row frame is touched only by the caller's
    * final join.
    *
    * Inherits [[editJoin]]'s candidate-mass pre-flight: over budget it
    * throws (full-catalog resolution at that scale belongs to the
    * banded near-dup path). */
  def resolveEntities(df: DataFrame, strCol: String, k: Int,
                      maxCandidatePairs: Long = DefaultMaxCandidatePairs): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val strs = df.groupBy(col(strCol).as("name"))
      .agg(count(lit(1)).as("n_rows"))
    val pairs = editJoin(df, strCol, k, maxCandidatePairs)
      .select(col("name_a").as("id_a"), col("name_b").as("id_b"))
    val clusters = Dedup.nearDupClusters(pairs, "name")
    val labeled = strs.join(clusters, Seq("name"), "left")
      .select(col("name"), col("n_rows"),
        coalesce(col("cluster_rep"), col("name")).as("__rep"))
    // survivor per component: max multiplicity, tie min name — one
    // window pass over the component partition (bounded: one row per
    // distinct name), deterministic by the full order-by
    val wOrd = Window.partitionBy(col("__rep"))
      .orderBy(col("n_rows").desc, col("name"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val wAll = Window.partitionBy(col("__rep"))
    labeled.select(col("name"), col("n_rows"),
      first(col("name")).over(wOrd).as("canonical"),
      count(lit(1)).over(wAll).as("n_variants"),
      sum(col("n_rows")).over(wAll).as("cluster_rows"))
  }
}

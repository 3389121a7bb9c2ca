package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Count–min sketch (Cormode & Muthukrishnan 2005) over the corpus
  * token stream — the sub-linear-state twin of the exact frequency
  * aggregation ([[Vocab]] top-K, `data_prep.py:120-135`'s counter).
  *
  * The exact count shuffles one row per DISTINCT token; at 100 TB the
  * distinct-token universe (URLs, ids, typos) is itself huge and
  * skewed. The sketch shuffles at most `depth × width` counter cells
  * per map partition regardless of corpus size — frequency estimation
  * whose shuffle volume is a CONSTANT chosen up front (ε = e/width
  * relative error, δ = e^−depth failure probability), which is how a
  * streaming/heavy-hitter path sizes its state.
  *
  * Every hash is [[Portable]] keyed (row index + token), so the sketch
  * is bit-reproducible across runs, partitionings and engines — the
  * DuckDB oracle builds the identical table, and the one-sided CMS
  * guarantee (estimate ≥ true count, always) is a testable law, not a
  * probabilistic claim.
  */
object Sketch {

  /** The d×w counter table: for each depth row r, every token
    * occurrence increments cell (r, hash_r(token) mod width). Output:
    * (r, c, cnt) — at most depth × width rows.
    *
    * Scale shape: explode fans each token into `depth` cells
    * IN-PARTITION; the groupBy's map-side combine collapses them to
    * ≤ depth × width partial rows per map task before the (tiny,
    * bounded) shuffle. Nothing corpus-sized ever moves. */
  def cmsTable(df: DataFrame, textCol: String, depth: Int, width: Int,
               salt: String): DataFrame = {
    require(depth >= 1, s"depth must be >= 1, got $depth")
    require(width >= 1, s"width must be >= 1, got $width")
    df.select(explode_outer(Text.tokens(col(textCol))).as("__w"))
      .filter(col("__w").isNotNull)
      .select(col("__w"), explode(lit((0 until depth).toArray)).as("r"))
      .select(col("r"),
        pmod(Portable.seededHash(lit(salt), col("r"), col("__w")),
          lit(width.toLong)).as("c"))
      .groupBy(col("r"), col("c")).agg(count(lit(1)).as("cnt"))
  }

  /** Point estimates for candidate tokens: est(t) = min over depth
    * rows of the counter cell t hashes into (missing cell → 0, an
    * exact zero). `candidates` is a one-column frame of tokens to
    * query — at scale the candidate set comes from per-partition local
    * heavy hitters or an external watchlist, NOT a corpus-wide
    * distinct (that would reintroduce the shuffle the sketch avoids).
    * Output: (token, est).
    *
    * Scale shape: the sketch table is ≤ depth × width rows →
    * broadcast; candidates × depth meet it map-side. */
  def cmsEstimates(sketch: DataFrame, candidates: DataFrame,
                   tokenCol: String, depth: Int, width: Int,
                   salt: String): DataFrame = {
    require(depth >= 1, s"depth must be >= 1, got $depth")
    require(width >= 1, s"width must be >= 1, got $width")
    candidates
      .select(col(tokenCol), explode(lit((0 until depth).toArray)).as("r"))
      .select(col(tokenCol), col("r"),
        pmod(Portable.seededHash(lit(salt), col("r"), col(tokenCol)),
          lit(width.toLong)).as("c"))
      .join(broadcast(sketch), Seq("r", "c"), "left")
      .groupBy(col(tokenCol))
      .agg(min(coalesce(col("cnt"), lit(0L))).as("est"))
  }

  /** CMS counter table over a KEY column (the [[cmsTable]] shape with
    * the join key as the item) — the sketch a join-size estimator
    * reads. Output: (r, c, cnt), ≤ depth × width rows. */
  def cmsTableKeyed(df: DataFrame, keyCol: String, depth: Int, width: Int,
                    salt: String): DataFrame = {
    require(depth >= 1, s"depth must be >= 1, got $depth")
    require(width >= 1, s"width must be >= 1, got $width")
    df.select(col(keyCol).as("__k"))
      .filter(col("__k").isNotNull)
      .select(col("__k"), explode(lit((0 until depth).toArray)).as("r"))
      .select(col("r"),
        pmod(Portable.seededHash(lit(salt), col("r"), col("__k")),
          lit(width.toLong)).as("c"))
      .groupBy(col("r"), col("c")).agg(count(lit(1)).as("cnt"))
  }

  /** EXACT equi-join output cardinality: |a ⋈ b on key| = Σ_k
    * c_a(k)·c_b(k) — the ground truth the sketch estimate is audited
    * against, and the pre-flight number for any pair expansion (a
    * self-join's Σ c² IS the skip-gram/association fan-out cost).
    * Shape: per-side key-count aggs, one key-equi join of count
    * frames (key-cardinality-sized, never row-sized), one 1-row sum.
    * Returns (n_left, n_right, join_size). */
  def joinSizeExact(a: DataFrame, b: DataFrame, keyCol: String): DataFrame = {
    def counts(df: DataFrame, as: String) =
      df.select(col(keyCol).as("__k")).filter(col("__k").isNotNull)
        .groupBy(col("__k")).agg(count(lit(1)).as(as))
    val na = a.agg(count(col(keyCol)).as("n_left"))
    val nb = b.agg(count(col(keyCol)).as("n_right"))
    counts(a, "__ca").join(counts(b, "__cb"), Seq("__k"))
      .agg(coalesce(sum(col("__ca") * col("__cb")), lit(0L))
        .as("join_size"))
      .crossJoin(broadcast(na)).crossJoin(broadcast(nb))
      .select(col("n_left"), col("n_right"), col("join_size"))
  }

  /** CMS join-size estimate (the AGMS/CM inner-product estimator,
    * Alon–Matias–Szegedy '96 / Cormode–Muthukrishnan '05): for each
    * depth row, the inner product of the two sketches' counter rows;
    * the estimate is the MIN over rows. Never an underestimate —
    * colliding keys only ADD cross terms — so `est ≥ exact` is a LAW
    * (spec-pinned), and est/exact prices the width. This is the
    * optimizer-style cardinality pre-flight at sketch cost: the two
    * sides never meet, only their d×w tables do.
    *
    * Shape: both sketches are ≤ d×w rows — the join is sketch-sized
    * and broadcast. Returns ONE row: (est_size). */
  def joinSizeEstimate(cmsA: DataFrame, cmsB: DataFrame): DataFrame =
    cmsA.join(broadcast(cmsB.toDF("r", "c", "__cnt_b")), Seq("r", "c"))
      .groupBy(col("r"))
      .agg(sum(col("cnt") * col("__cnt_b")).as("__ip"))
      .agg(min(col("__ip")).as("est_size"))

  /** HyperLogLog registers per key (Flajolet et al., AofA'07): each
    * token occurrence hashes once ([[Portable]] keyed — bit-identical
    * across runs, partitionings and engines), the low `bits` bits pick
    * one of m = 2^`bits` registers, and the register keeps the MAX of
    * ρ = (trailing zeros of the remaining hash bits) + 1. Duplicates
    * are absorbed by the max, which is the whole point: COUNT DISTINCT
    * without a distinct.
    *
    * The exact distinct shuffles one row per DISTINCT value per key; at
    * 100 TB the value universe is itself huge. The registers shuffle at
    * most m rows per (key, map partition) — constant state chosen up
    * front (relative error ≈ 1.04/√m), and register tables from
    * disjoint shards/days MERGE by pairwise max, so the sketch
    * composes across ingestion batches for free (the same property
    * that makes it the industry-standard approx-distinct: Spark's own
    * `approx_count_distinct` is an HLL++ — opaque bytes, engine-pinned;
    * this one is a plain (key, bucket, max_rho) table any engine can
    * read, merge, and audit).
    *
    * ρ is computed in pure integer ops — `bit_count((w & −w) − 1) + 1`
    * — so no float log ever runs; the zero suffix (probability 2^−54)
    * caps ρ at its max. Output: (key, bucket, max_rho). */
  def hllRegisters(df: DataFrame, textCol: String, keyCol: String,
                   bits: Int, salt: String): DataFrame = {
    require(bits >= 4 && bits <= 16, s"bits must be in [4,16], got $bits")
    val m = 1L << bits
    val maxRho = 61 - bits // 60-bit hash leaves 60-bits suffix bits
    val tok = df
      .select(col(keyCol).as("key"),
        explode_outer(Text.tokens(col(textCol))).as("__w"))
      .filter(col("__w").isNotNull)
      .select(col("key"),
        Portable.seededHash(lit(salt), col("__w")).as("__h"))
    tok
      .select(col("key"), pmod(col("__h"), lit(m)).as("bucket"),
        shiftright(col("__h"), bits).as("__wb"))
      .select(col("key"), col("bucket"),
        when(col("__wb") === 0L, lit(maxRho.toLong))
          .otherwise((bit_count(col("__wb").bitwiseAND(-col("__wb")) - 1)
            + lit(1)).cast("long")).as("rho"))
      .groupBy(col("key"), col("bucket"))
      .agg(max(col("rho")).as("max_rho"))
  }

  /** Per-key raw HLL estimate from a register table — the serving-side
    * half of [[hllAudit]] (same exact-BIGINT harmonic sum, same fixed
    * IEEE op sequence; see there for the determinism and small-range
    * notes). Output: (key, n_registers_used, hll_est). */
  def hllEstimate(regs: DataFrame, bits: Int): DataFrame = {
    val m = 1L << bits
    val maxRho = 61 - bits
    val (aNum, aDen) = hllAlpha(bits)
    regs.groupBy(col("key"))
      .agg(count(lit(1)).as("n_registers_used"),
        sum(expr(s"shiftleft(CAST(1 AS BIGINT), " +
          s"CAST($maxRho - max_rho AS INT))")).as("__zu"))
      .withColumn("__z",
        col("__zu") + (lit(m) - col("n_registers_used")) *
          lit(1L << maxRho))
      .select(col("key"), col("n_registers_used"),
        Portable.ratioAt((lit(aNum.toDouble) / lit(aDen.toDouble)) *
          (lit((m * m).toDouble) * lit(math.pow(2.0, maxRho))) /
          col("__z").cast("double"), 6).as("hll_est"))
  }

  /** Per-key HLL cardinality audit: the raw HLL estimate next to the
    * exact distinct count and the relative error — the commissioning
    * report that validates a register width before the sketch path is
    * trusted at scale (the CMS [[heavyHitterAudit]] pattern; pays the
    * exact distinct ON PURPOSE, run it on a sample).
    *
    * Cross-engine determinism: the harmonic denominator is formed in
    * exact BIGINT — register j contributes 2^(maxρ − M_j), empty
    * registers 2^maxρ — so Z is one exact integer and the estimate
    * α·m²·2^maxρ / Z is a fixed sequence of IEEE ops on exact inputs,
    * identical in both engines. α uses Flajolet's published constants
    * (α₁₆/α₃₂/α₆₄ exact rationals; the 0.7213/(1+1.079/m) formula as
    * an exact integer ratio for m ≥ 128). The small-range
    * linear-counting correction (m·ln(m/V)) is intentionally NOT
    * applied — cross-engine ln is not bit-stable, and this is an
    * AUDIT: its exact twin is the ground truth, so the raw estimator's
    * small-range bias is exactly what the report should show. Output:
    * (key, n_registers_used, hll_est, exact_distinct, rel_err_pct). */
  def hllAudit(df: DataFrame, textCol: String, keyCol: String,
               bits: Int, salt: String): DataFrame = {
    val tok = df
      .select(col(keyCol).as("key"),
        explode_outer(Text.tokens(col(textCol))).as("__w"))
      .filter(col("__w").isNotNull)
    val exact = tok.groupBy(col("key"))
      .agg(countDistinct(col("__w")).as("exact_distinct"))
    hllEstimate(hllRegisters(df, textCol, keyCol, bits, salt), bits)
      .join(exact, Seq("key"))
      .select(col("key"), col("n_registers_used"), col("hll_est"),
        col("exact_distinct"),
        {
          // hll_est is exactly k/1e6: recover k and clear denominators
          // so the percent error is ONE exact signed integral division
          val dec = "decimal(38,0)"
          val k6 = floor(col("hll_est") * lit(1e6) + lit(0.5)).cast("long")
          (Portable.intRatioScaledSigned(
            (k6.cast(dec) - col("exact_distinct").cast(dec) *
              lit(1000000L)) * lit(100L),
            col("exact_distinct").cast(dec) * lit(1000000L), 6)
            .cast("double") / lit(1e6)).as("rel_err_pct")
        })
  }

  /** Flajolet's bias-correction constant as an exact rational. */
  private[ops] def hllAlpha(bits: Int): (Long, Long) = bits match {
    case 4 => (673L, 1000L)
    case 5 => (697L, 1000L)
    case 6 => (709L, 1000L)
    case _ =>
      val m = 1L << bits // 0.7213/(1 + 1.079/m) = 7213000m/(10^4(1000m+1079))
      (7213000L * m, 10000L * (1000L * m + 1079L))
  }

  /** Heavy-hitter audit: every token whose TRUE corpus frequency is
    * ≥ `minCount`, with its sketch estimate alongside — the
    * commissioning report that validates a (depth, width) choice
    * before the sketch path is trusted at scale. Output:
    * (token, exact, est, overestimate = est − exact ≥ 0; the CMS
    * one-sided error law, pinned by SketchSpec for EVERY token).
    *
    * This audit intentionally pays the exact token-keyed aggregation
    * (it is the ground truth being compared against) — run it on a
    * sample or at commissioning time; the steady-state path is
    * [[cmsTable]] + [[cmsEstimates]] alone. */
  def heavyHitterAudit(df: DataFrame, textCol: String, depth: Int,
                       width: Int, minCount: Long, salt: String): DataFrame = {
    val exact = df
      .select(explode_outer(Text.tokens(col(textCol))).as("token"))
      .filter(col("token").isNotNull)
      .groupBy(col("token")).agg(count(lit(1)).as("exact"))
      .filter(col("exact") >= minCount)
    val sketch = cmsTable(df, textCol, depth, width, salt)
    cmsEstimates(sketch, exact.select(col("token")), "token",
        depth, width, salt)
      .join(exact, Seq("token"))
      .select(col("token"), col("exact"), col("est"),
        (col("est") - col("exact")).as("overestimate"))
  }
}

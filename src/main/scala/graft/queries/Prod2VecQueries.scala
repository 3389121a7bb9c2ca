package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.SparkEntry._
import graft.ops._
import graft.ml.Prod2Vec

/** The reference prod2vec pipeline: vocab, baskets, skip-gram pairs,
  * negatives, Word2Vec, co-purchase neighbours, recommender evaluation
  * and the co-purchase graph. */
private[graft] object Prod2VecQueries {

  /** Skip-gram window (reference `config/prod2vec_config.yaml:26`; N1). */
  val WindowW = 4
  /** Basket cap (reference `config/prod2vec_config.yaml:28`). */
  val MaxBasketLen = 50
  /** Negatives per positive pair (`config/prod2vec_config.yaml:27`). */
  val NumNs = 4
  /** Subsampling factor (Keras default 1e-5 is tuned for 35k-word corpora;
    * 1e-3 keeps fixture-scale pair counts meaningful). */
  val SamplingFactor = 1e-3

  /** Salts for the flagship co-occurrence count (the hot-pair skew
    * lever, [[graft.ops.Pairs.saltedCounts]]): counts are algebraic so
    * any value yields the identical result — running the oracle gate
    * with salts > 1 keeps the lever exercised, not just spec'd. The
    * constant is not taken on faith either: q147 runs the SAME report
    * through [[graft.ops.Similarity.coPurchaseTopKAuto]], where the
    * [[graft.ops.Quality.autoSalts]] skew pre-flight chooses the count
    * (this value as floor), and hash-matches the same oracle. */
  val CoocSalts = 4

  private val vocabSqlCte =
    s"""WITH vocab AS (
       |  SELECT product_id AS pid, cnt, idx FROM (
       |    SELECT l_partkey AS product_id, count(*) AS cnt,
       |           row_number() OVER (ORDER BY count(*) DESC, l_partkey ASC) AS idx
       |    FROM lineitem GROUP BY l_partkey
       |  ) v WHERE idx <= ${VocabK - 1}
       |)""".stripMargin

  /** J2/J3 name joins + ordering shared by q14 (manual salts) and q147
    * (auto-salted): ranked (target, context, cnt, rnk) -> the named
    * co-purchase report. */
  private def copurchaseReport(s: SparkSession, dir: String,
                               topk: DataFrame): DataFrame = {
    val v = vocab(s, dir).select(col("idx"), col("product_id"))
    val p = t(s, dir, "part").select(col("p_partkey"), col("p_name"))
    topk
      .join(broadcast(v.withColumnRenamed("idx", "target")
        .withColumnRenamed("product_id", "target_pid")), Seq("target"))
      .join(broadcast(v.withColumnRenamed("idx", "context")
        .withColumnRenamed("product_id", "neighbor_pid")), Seq("context"))
      .join(broadcast(p.withColumnRenamed("p_partkey", "target_pid")
        .withColumnRenamed("p_name", "target_name")), Seq("target_pid"))
      .join(broadcast(p.withColumnRenamed("p_partkey", "neighbor_pid")
        .withColumnRenamed("p_name", "neighbor_name")), Seq("neighbor_pid"))
      .select(col("target_pid"), col("neighbor_pid"), col("target_name"),
        col("neighbor_name"), col("cnt"), col("rnk").cast("long").as("rnk"))
      .orderBy("target_pid", "rnk")
  }

  /** Skip-gram positive pairs (A6'+P7+A9): encode lineitem through the
    * vocab, shuffled-deterministic positions per order (seeded hash order,
    * l_partkey tiebreak — hash ties can only occur between rows of the
    * same item, so the pair multiset is well-defined), cap at
    * [[MaxBasketLen]], window [[WindowW]].
    *
    * Zero-shuffle-after-groupBy form: one hash agg builds the ordered
    * basket arrays, pair expansion is a per-row array expression
    * ([[Pairs.orderedBaskets]] + [[Pairs.skipGramPairsFromBaskets]]) —
    * the relational window+self-join form ([[Pairs.positions]] +
    * [[Pairs.skipGramPairs]]) computes the identical pair multiset
    * (PairsSpec proves it) but shuffles twice. */
  private def pairs(s: SparkSession, dir: String): DataFrame = {
    val enc = Vocab.encode(t(s, dir, "lineitem"), "l_partkey", vocab(s, dir))
    val baskets = Pairs.orderedBaskets(enc, "l_orderkey", "idx",
      Seq(Portable.seededHash(col("l_orderkey"), col("l_linenumber"),
        col("l_partkey")).as("__h"), col("l_partkey").as("__pid")),
      MaxBasketLen)
    Pairs.skipGramPairsFromBaskets(baskets, WindowW)
  }

  /** DuckDB CTEs mirroring [[pairs]] bit-for-bit (extends [[vocabSqlCte]]
    * with enc → seq → pairs). */
  private val pairsSqlCte: String = {
    val h = Portable.sqlHash("order_id", "ln", "pid")
    s"""$vocabSqlCte,
       |enc AS (
       |  SELECT l.l_orderkey AS order_id, l.l_linenumber AS ln,
       |         l.l_partkey AS pid, coalesce(v.idx, 0) AS item
       |  FROM lineitem l LEFT JOIN vocab v ON l.l_partkey = v.pid
       |),
       |seq AS (
       |  SELECT order_id, item, pos FROM (
       |    SELECT order_id, item,
       |           row_number() OVER (PARTITION BY order_id
       |             ORDER BY $h, pid) - 1 AS pos
       |    FROM enc
       |  ) WHERE pos < $MaxBasketLen
       |),
       |pairs AS (
       |  SELECT t.order_id, t.pos AS pos_t, c.pos AS pos_c,
       |         t.item AS target, c.item AS context
       |  FROM seq t JOIN seq c ON t.order_id = c.order_id
       |  WHERE t.pos <> c.pos AND abs(t.pos - c.pos) <= $WindowW
       |    AND t.item <> 0 AND c.item <> 0
       |)""".stripMargin
  }

  /** q169 offline rec-eval: hash-keyed order split (fold 0 of 10 is the
    * eval set) and the hit-rate curve up to the report's TopK. */
  val RecEvalSalt = "recEval"
  val RecEvalFolds = 10L

  /** q153 order2vec: part key → fixture vec_id mapping modulus (the
    * fixture embedding table's id range; parts whose mapped id is
    * absent at a small SF drop identically on both engines). */
  val PoolMod = 500L
  /** q153 probes: orders with id below this. */
  val OrderProbeMax = 8L

  /** q177 triangle graph: co-purchase edges keep only parts below this
    * id — a FIXED node universe at every SF (the graph densifies as SF
    * grows instead of exploding in nodes), non-degenerate at sf0.01
    * (≈390 nodes / 4.7k edges / 3.5k triangles measured). */
  val TriPartMax = 400L

  /** q229 k-core: the membership threshold and the unrolled peel
    * rounds (mirrored round-for-round in the oracle CTE chain). */
  val KCoreK = 3
  val KCoreRounds = 4

  /** q238 HITS: unrolled mutual-reinforcement rounds (mirrored
    * round-for-round in the oracle CTE chain). */
  val HitsRounds = 2

  /** q246 Apriori triples: minimum basket support (user-day
    * event-type baskets). */
  val TriSupport = 50L

  /** q188 association-rule co-presence floor — 2 keeps a live rule set
    * on the sparse part-capped fixture (246 directional rules at
    * sf0.01; a floor of 5 empties it). */
  val AssocMinOrders = 2L

  /** q208 RBO persistence parameter (Webber et al.'s p = 0.9: ~86% of
    * the weight mass in the top 10). */
  val RboP = 0.9

  /** A12 probe sample: validSize draws from the validWindow most
    * frequent items (`prod2vec_config.yaml:38-39`, scaled to fixtures). */
  val ValidWindow = 50
  val ValidSize = 10

  /** q37's stored embedding-table directory (M4 at rest) — same per-SF
    * keying and [[SfToken]] oracle convention as
    * `StorageQueries.q144IdxPath`. */
  def q37EmbPath(dir: String): String =
    "/root/repo/target/q37_emb_" + dir.split('/').last

  /** q37's persisted MODEL directory (S8 at rest) — the trained model
    * round-trips through [[graft.ml.Prod2Vec.save]]/`load` before the
    * embedding table is extracted, so model persistence sits INSIDE the
    * oracle-verified chain (the reference's train → save → load →
    * post-process handoff, `model_train.py:131` / `post_process.py:89`). */
  def q37ModelPath(dir: String): String =
    "/root/repo/target/q37_model_" + dir.split('/').last

  /** q16's oracle (exact brute-force cosine top-k) — a val so q109's
    * recall report can embed the identical exact side. */
  /** q14's oracle — a val because q147 (the auto-salted form of the
    * same report) shares it verbatim. */
  private def q14OracleSql: String =
    s"""$pairsSqlCte,
       |cooc AS (
       |  SELECT target, context, count(*) AS cnt
       |  FROM pairs GROUP BY target, context
       |),
       |topk AS (
       |  SELECT target, context, cnt,
       |         row_number() OVER (PARTITION BY target
       |           ORDER BY cnt DESC, context ASC) AS rnk
       |  FROM cooc
       |)
       |SELECT vt.pid AS target_pid, vc.pid AS neighbor_pid,
       |       pt.p_name AS target_name, pc.p_name AS neighbor_name,
       |       t.cnt, t.rnk
       |FROM topk t
       |JOIN vocab vt ON t.target = vt.idx
       |JOIN vocab vc ON t.context = vc.idx
       |JOIN part pt ON vt.pid = pt.p_partkey
       |JOIN part pc ON vc.pid = pc.p_partkey
       |WHERE t.rnk <= $TopK
       |ORDER BY target_pid, rnk""".stripMargin

  /** Shared q169/q170 rec-eval oracle prefix: vocab, fold-split enc,
    * trainer-ordered baskets per fold, train-fold cooc, leave-last-out
    * held-outs, candidate ranks (rh) and the eligible-order total
    * (tot). Bar-margined — interpolate at the TOP of a stripMargin
    * host. */
  private def recEvalSqlPrefix: String = {
    val h = Portable.sqlHash("order_id", "ln", "pid")
    def seqSql(cond: String, as: String): String =
      s"""$as AS (
         |  SELECT order_id, item, pos FROM (
         |    SELECT order_id, item,
         |           row_number() OVER (PARTITION BY order_id
         |             ORDER BY $h, pid) - 1 AS pos
         |    FROM enc WHERE $cond
         |  ) WHERE pos < $MaxBasketLen
         |)""".stripMargin
    s"""$vocabSqlCte,
       |enc AS (
       |  SELECT l.l_orderkey AS order_id, l.l_linenumber AS ln,
       |         l.l_partkey AS pid, coalesce(v.idx, 0) AS item,
       |         ${Portable.sqlHash(s"'$RecEvalSalt'", "l.l_orderkey")}
       |           % $RecEvalFolds AS fold
       |  FROM lineitem l LEFT JOIN vocab v ON l.l_partkey = v.pid
       |),
       |${seqSql("fold <> 0", "seqt")},
       |cooc AS (
       |  SELECT t.item AS target, c.item AS context,
       |         count(*)::BIGINT AS cnt
       |  FROM seqt t JOIN seqt c ON t.order_id = c.order_id
       |  WHERE t.pos <> c.pos AND abs(t.pos - c.pos) <= $WindowW
       |    AND t.item <> 0 AND c.item <> 0
       |  GROUP BY 1, 2
       |),
       |${seqSql("fold = 0", "seqe")},
       |eb AS (SELECT order_id, max(pos) AS lastpos FROM seqe
       |       GROUP BY 1 HAVING count(*) >= 2),
       |held AS (SELECT e.order_id, s.item AS heldout
       |         FROM eb e JOIN seqe s ON s.order_id = e.order_id
       |           AND s.pos = e.lastpos),
       |ctx AS (SELECT s.order_id, s.item AS c
       |        FROM eb e JOIN seqe s ON s.order_id = e.order_id
       |          AND s.pos < e.lastpos),
       |scf AS (
       |  SELECT s.order_id, s.cand, sum(s.cnt)::BIGINT AS score
       |  FROM (SELECT x.order_id, co.context AS cand, co.cnt
       |        FROM ctx x JOIN cooc co ON co.target = x.c) s
       |  WHERE NOT EXISTS (SELECT 1 FROM ctx x
       |    WHERE x.order_id = s.order_id AND x.c = s.cand)
       |  GROUP BY 1, 2
       |),
       |rk AS (
       |  SELECT order_id, cand,
       |    row_number() OVER (PARTITION BY order_id
       |      ORDER BY score DESC, cand) AS rnk
       |  FROM scf
       |),
       |rh AS (SELECT r.order_id, r.rnk FROM rk r
       |       JOIN held h ON h.order_id = r.order_id
       |         AND r.cand = h.heldout),
       |tot AS (SELECT count(*)::BIGINT AS n_orders FROM eb)""".stripMargin
  }

  val all: Seq[Query] = Seq(

    // S1+P1+A1-ish pricing rollup (scan, project, hash agg) — also the
    // bench headline. Catalyst prunes the scan to the 6 referenced columns.
    Query("q1_pricing_summary", (s, dir) => {
      import s.implicits._
      t(s, dir, "lineitem")
        .groupBy($"l_returnflag", $"l_linestatus")
        .agg(
          sum($"l_quantity").as("sum_qty"),
          sum($"l_extendedprice").as("sum_base_price"),
          sum($"l_extendedprice" * (lit(1.0) - $"l_discount")).as("sum_disc_price"),
          avg($"l_quantity").as("avg_qty"),
          count(lit(1)).as("count_order"))
        .orderBy($"l_returnflag", $"l_linestatus")
    },
      """SELECT l_returnflag, l_linestatus,
        |  sum(l_quantity) AS sum_qty,
        |  sum(l_extendedprice) AS sum_base_price,
        |  sum(l_extendedprice * (1.0 - l_discount)) AS sum_disc_price,
        |  avg(l_quantity) AS avg_qty,
        |  count(*) AS count_order
        |FROM lineitem GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin),

    // A2: frequency count + top-K with pinned tiebreak (SURVEY N2).
    Query("q2_vocab_topk", (s, dir) => {
      Vocab.topK(t(s, dir, "lineitem"), "l_partkey", VocabK)
    },
      s"""SELECT l_partkey AS product_id, count(*) AS cnt
         |FROM lineitem GROUP BY l_partkey
         |ORDER BY cnt DESC, product_id ASC LIMIT ${VocabK - 1}""".stripMargin),

    // A3: dense index assignment, UNK reserved at 0.
    Query("q3_vocab_index", (s, dir) => {
      vocab(s, dir).withColumn("idx", col("idx").cast("long"))
        .orderBy("idx")
    },
      s"""$vocabSqlCte
         |SELECT pid AS product_id, cnt, idx FROM vocab ORDER BY idx""".stripMargin),

    // J4+A4: integer-encode the fact table through the vocab, OOV → 0.
    // Broadcast left join — fact side streams, no shuffle.
    Query("q4_unk_recode", (s, dir) => {
      val li = t(s, dir, "lineitem")
      Vocab.encode(li, "l_partkey", vocab(s, dir))
        .select(col("l_orderkey"), col("l_linenumber"),
          col("l_partkey").as("product_id"), col("idx").cast("long").as("idx"))
        .orderBy("l_orderkey", "l_linenumber")
    },
      s"""$vocabSqlCte
         |SELECT l.l_orderkey, l.l_linenumber, l.l_partkey AS product_id,
         |       coalesce(v.idx, 0) AS idx
         |FROM lineitem l LEFT JOIN vocab v ON l.l_partkey = v.pid
         |ORDER BY l.l_orderkey, l.l_linenumber""".stripMargin),

    // A4 standalone: OOV occurrence count (unk_count, data_prep.py:103).
    Query("q5_unk_count", (s, dir) => {
      val li = t(s, dir, "lineitem")
      val v = vocab(s, dir).select(col("product_id"))
      li.join(broadcast(v), li("l_partkey") === v("product_id"), "left_anti")
        .agg(count(lit(1)).as("unk_count"))
    },
      s"""$vocabSqlCte
         |SELECT count(*) AS unk_count
         |FROM lineitem l LEFT JOIN vocab v ON l.l_partkey = v.pid
         |WHERE v.pid IS NULL""".stripMargin),

    // A1 canonical: group-collect baskets (sorted-array string form so the
    // oracle hash is order-insensitive within the basket).
    Query("q6_baskets", (s, dir) => {
      import s.implicits._
      t(s, dir, "lineitem")
        .groupBy($"l_orderkey".as("order_id"))
        .agg(count(lit(1)).as("basket_size"),
          concat_ws(",", sort_array(collect_list($"l_partkey"))).as("basket"))
        .orderBy("order_id")
    },
      """SELECT l_orderkey AS order_id, count(*) AS basket_size,
        |  array_to_string(list(l_partkey ORDER BY l_partkey), ',') AS basket
        |FROM lineitem GROUP BY l_orderkey ORDER BY order_id""".stripMargin),

    // A1 profile: basket-size histogram off the collected baskets —
    // the distribution a data team reads before choosing P7's
    // truncation cap.
    Query("q222_basket_lengths", (s, dir) => {
      Baskets.lengthHistogram(
        Baskets.sortedBaskets(t(s, dir, "lineitem")
          .select(col("l_orderkey"), col("l_partkey")),
          "l_orderkey", "l_partkey"))
        .orderBy("basket_len")
    },
      """SELECT basket_len, count(*)::BIGINT AS n_baskets FROM (
        |  SELECT count(*)::BIGINT AS basket_len
        |  FROM lineitem GROUP BY l_orderkey)
        |GROUP BY basket_len ORDER BY basket_len""".stripMargin),

    // k-core membership over the q177 co-purchase graph: the dense
    // cluster vs stringy periphery split, synchronous peel.
    Query("q229_kcore", (s, dir) => {
      val lp = t(s, dir, "lineitem")
        .filter(col("l_partkey") < TriPartMax)
        .select(col("l_orderkey").as("o"), col("l_partkey").as("p"))
        .distinct()
      val edges = lp.toDF("o", "pa").join(lp.toDF("o", "pb"), Seq("o"))
        .filter(col("pa") < col("pb"))
        .select(col("pa"), col("pb"))
      Graph.kCore(edges, "pa", "pb", KCoreK, KCoreRounds).orderBy("id")
    },
    // q229: the q177 edge build, then the synchronous peel unrolled
    // round-for-round; membership from the final round's degrees,
    // converged = the last round removed nothing. Each round reads the
    // previous round's CTEs more than once, so DuckDB, which inlines a
    // CTE at every reference, re-derived the edge build a number of
    // times exponential in the round count: 281.6 s on sf0.01 (DuckDB
    // 1.0, 4-core host). Materialized, each CTE runs once: 0.02 s.
    {
      def degs(e: String, d: String) =
        s"""$d AS MATERIALIZED (
           |  SELECT id, count(*)::BIGINT AS deg FROM (
           |    SELECT lo AS id FROM $e UNION ALL SELECT hi FROM $e) _
           |  GROUP BY id
           |)""".stripMargin
      def round(i: Int) =
        s"""k$i AS MATERIALIZED (
           |  SELECT id FROM d${i - 1} WHERE deg >= $KCoreK),
           |e$i AS MATERIALIZED (
           |  SELECT e.lo, e.hi FROM e${i - 1} e
           |  JOIN k$i a ON e.lo = a.id JOIN k$i b ON e.hi = b.id
           |),
           |${degs(s"e$i", s"d$i")}""".stripMargin
      s"""WITH lp AS MATERIALIZED (
         |  SELECT DISTINCT l_orderkey AS o, l_partkey AS p
         |  FROM lineitem WHERE l_partkey < $TriPartMax
         |),
         |e0 AS MATERIALIZED (
         |  SELECT DISTINCT a.p AS lo, b.p AS hi
         |  FROM lp a JOIN lp b ON a.o = b.o AND a.p < b.p
         |),
         |${degs("e0", "d0")},
         |${(1 to KCoreRounds).map(round).mkString(",\n")},
         |core AS (SELECT id FROM d$KCoreRounds WHERE deg >= $KCoreK),
         |cnt3 AS (SELECT count(*)::BIGINT AS c
         |         FROM e${KCoreRounds - 1}),
         |cnt4 AS (SELECT count(*)::BIGINT AS c FROM e$KCoreRounds)
         |SELECT d0.id, d0.deg AS degree,
         |  core.id IS NOT NULL AS in_kcore,
         |  cnt3.c = cnt4.c AS converged
         |FROM d0 LEFT JOIN core ON d0.id = core.id
         |CROSS JOIN cnt3 CROSS JOIN cnt4
         |ORDER BY d0.id""".stripMargin
    }),

    // HITS on the order->product bipartite graph — hub orders and
    // authority products, an all-integer normalized walk.
    Query("q238_hits", (s, dir) => {
      val lp = t(s, dir, "lineitem")
        .filter(col("l_partkey") < TriPartMax)
        .select(col("l_orderkey").as("o"), col("l_partkey").as("p"))
        .distinct()
      Graph.hits(lp, "o", "p", HitsRounds).orderBy("role", "id")
    },
    // q238: the HITS half-rounds unrolled — HUGEINT raw sums and the
    // same integer floor-division normalizer each half-round.
    {
      def half(i: Int) =
        s"""ar$i AS (SELECT dst, sum(h) AS raw
           |  FROM lp JOIN h${i - 1} USING (src) GROUP BY dst),
           |at$i AS (SELECT sum(raw) AS tot FROM ar$i),
           |a$i AS (SELECT dst,
           |  CAST((CAST(raw AS HUGEINT) * 1000000000) // tot AS BIGINT)
           |    AS a
           |  FROM ar$i CROSS JOIN at$i),
           |hr$i AS (SELECT src, sum(a) AS raw
           |  FROM lp JOIN a$i USING (dst) GROUP BY src),
           |ht$i AS (SELECT sum(raw) AS tot FROM hr$i),
           |h$i AS (SELECT src,
           |  CAST((CAST(raw AS HUGEINT) * 1000000000) // tot AS BIGINT)
           |    AS h
           |  FROM hr$i CROSS JOIN ht$i)""".stripMargin
      s"""WITH lp AS (
         |  SELECT DISTINCT l_orderkey AS src, l_partkey AS dst
         |  FROM lineitem WHERE l_partkey < $TriPartMax
         |),
         |h0 AS (SELECT DISTINCT src, 1000000000::BIGINT AS h FROM lp),
         |${(1 to HitsRounds).map(half).mkString(",\n")}
         |SELECT src AS id, 'hub' AS role,
         |  round(CAST(h AS DOUBLE) / 1e9, 9) AS score FROM h$HitsRounds
         |UNION ALL
         |SELECT dst AS id, 'authority' AS role,
         |  round(CAST(a AS DOUBLE) / 1e9, 9) AS score FROM a$HitsRounds
         |ORDER BY role, id""".stripMargin
    }),

    // Apriori frequent triples over user-day event-type baskets —
    // which activity triads co-occur within a user's day; the
    // level-wise prune that makes level 3 feasible.
    Query("q246_frequent_triples", (s, dir) => {
      val ud = Sources.eventsNs(s, dir)
        .select(concat_ws("#", col("user_id"),
          expr("ts div 86400000000000")).as("bk"), col("event_type"))
      Baskets.frequentTriples(ud, "bk", "event_type", TriSupport)
        .orderBy("item_a", "item_b", "item_c")
    },
    // q246: the ground-truth 3-way ordered basket self-join — the
    // Apriori-pruned engine plan must return exactly this set.
      s"""WITH bi AS (
         |  SELECT DISTINCT CAST(user_id AS VARCHAR) || '#'
         |      || CAST(epoch_ns(ts) // 86400000000000 AS VARCHAR) AS b,
         |    event_type AS i
         |  FROM events
         |)
         |SELECT x.i AS item_a, y.i AS item_b, z.i AS item_c,
         |  count(*)::BIGINT AS support
         |FROM bi x
         |JOIN bi y ON x.b = y.b AND x.i < y.i
         |JOIN bi z ON x.b = z.b AND y.i < z.i
         |GROUP BY 1, 2, 3 HAVING count(*) >= $TriSupport
         |ORDER BY item_a, item_b, item_c""".stripMargin),

    // The aggregation-side skew lever under the driver gate: the q10
    // co-occurrence counts re-derived through saltedCounts' two-stage
    // (keys, salt) → keys shape must hash against q10's own oracle —
    // counts are algebraic, so salting is IDENTITY on the result (the
    // PairsSpec law, now driver-certified). The salt is a keyed
    // Portable hash of the pair's identity columns, so placement is
    // deterministic across runs and partitionings.
    Query("q271_salted_cooc", (s, dir) => {
      Pairs.saltedCounts(pairs(s, dir), Seq("target", "context"),
          Seq(col("order_id"), col("pos_t"), col("pos_c")), 8)
        .withColumn("target", col("target").cast("long"))
        .withColumn("context", col("context").cast("long"))
        .orderBy("target", "context")
    },
    // q271: salting is identity on algebraic counts — q10's own SQL.
      s"""$pairsSqlCte
         |SELECT target, context, count(*) AS cnt
         |FROM pairs GROUP BY target, context
         |ORDER BY target, context""".stripMargin),

    // Q1 (quality): one-pass per-column null profile of lineitem.
    Query("q7_quality_nulls", (s, dir) => {
      Quality.report(t(s, dir, "lineitem"))
    },
    {
      val cols = Seq("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
        "l_quantity", "l_extendedprice", "l_discount", "l_tax",
        "l_returnflag", "l_linestatus", "l_shipdate")
      "SELECT count(*) AS n_rows, " +
        cols.map(c =>
          s"CAST(sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nulls_$c")
          .mkString(", ") +
        " FROM lineitem"
    }),

    // Q5 (quality): primary-key uniqueness on the catalog dim.
    Query("q8_pk_check", (s, dir) => {
      t(s, dir, "part")
        .agg(count(lit(1)).as("n_rows"),
          countDistinct(col("p_partkey")).as("n_distinct"))
    },
      "SELECT count(*) AS n_rows, count(DISTINCT p_partkey) AS n_distinct FROM part"),

    // P2/A6: distinct-count gates (data_quality_checks.py:45-46).
    Query("q9_distinct_counts", (s, dir) => {
      t(s, dir, "lineitem")
        .agg(countDistinct(col("l_partkey")).as("n_products"),
          countDistinct(col("l_orderkey")).as("n_orders"))
    },
      """SELECT count(DISTINCT l_partkey) AS n_products,
        |       count(DISTINCT l_orderkey) AS n_orders FROM lineitem""".stripMargin),

    // A6'+P7+A9: skip-gram pair co-occurrence counts (deterministic
    // shuffled positions, window W, UNK excluded).
    Query("q10_skipgram_cooc", (s, dir) => {
      pairs(s, dir)
        .groupBy(col("target"), col("context"))
        .agg(count(lit(1)).as("cnt"))
        .withColumn("target", col("target").cast("long"))
        .withColumn("context", col("context").cast("long"))
        .orderBy("target", "context")
    },
      s"""$pairsSqlCte
         |SELECT target, context, count(*) AS cnt
         |FROM pairs GROUP BY target, context
         |ORDER BY target, context""".stripMargin),

    // A8: Zipf-rank subsampling table (Keras make_sampling_table formula).
    Query("q11_sampling_table", (s, dir) => {
      Pairs.samplingTable(s, VocabK, SamplingFactor)
        .withColumn("keep_prob", Portable.ratio9(col("keep_prob")))
        .orderBy("idx")
    },
      s"""SELECT idx, round(CAST(CAST(floor(round(keep_prob, 9) * 1e9 + 0.5) AS BIGINT) AS DOUBLE) / 1e9, 9) AS keep_prob FROM (
         |${Pairs.samplingTableSql(VocabK, SamplingFactor)}
         |) ORDER BY idx""".stripMargin),

    // A8 applied: pairs surviving the frequent-target subsampling draw.
    Query("q12_subsampled_pairs", (s, dir) => {
      Pairs.subsample(pairs(s, dir), Pairs.samplingTable(s, VocabK, SamplingFactor))
        .groupBy(col("target").cast("long").as("target"))
        .agg(count(lit(1)).as("n_pairs"))
        .orderBy("target")
    },
      s"""$pairsSqlCte,
         |sampling AS (
         |${Pairs.samplingTableSql(VocabK, SamplingFactor)}
         |)
         |SELECT p.target, count(*) AS n_pairs
         |FROM pairs p JOIN sampling s ON p.target = s.idx
         |WHERE ${Portable.sqlUnif("p.order_id", "p.pos_t", "p.target")} < s.keep_prob
         |GROUP BY p.target ORDER BY p.target""".stripMargin),

    // A10+A11: log-uniform negatives per positive pair, exploded.
    Query("q13_negatives", (s, dir) => {
      Pairs.negatives(pairs(s, dir), NumNs, VocabK)
        .select(col("order_id"), col("pos_t").cast("long").as("pos_t"),
          col("pos_c").cast("long").as("pos_c"),
          col("target").cast("long").as("target"),
          col("context").cast("long").as("context"),
          posexplode(col("negatives")).as(Seq("k", "neg")))
        .withColumn("k", col("k").cast("long"))
        .withColumn("neg", col("neg").cast("long"))
        .orderBy("order_id", "pos_t", "pos_c", "k")
    },
    {
      val u = Portable.sqlUnif("order_id", "pos_t", "pos_c", "k")
      s"""$pairsSqlCte
         |SELECT order_id, pos_t, pos_c, target, context, k,
         |       least(${VocabK - 1},
         |         CAST(floor(exp($u * ln(${VocabK + 1}.0))) AS BIGINT) - 1) AS neg
         |FROM pairs, (SELECT unnest(generate_series(0, ${NumNs - 1})) AS k) ks
         |ORDER BY order_id, pos_t, pos_c, k""".stripMargin
    }),

    // §7.2 flagship (M3 relational): top-K co-purchase neighbors per part,
    // ranked by co-occurrence, names joined back (J2+J3).
    Query("q14_copurchase_topk", (s, dir) =>
      copurchaseReport(s, dir,
        Similarity.coPurchaseTopK(pairs(s, dir), TopK, CoocSalts)),
      q14OracleSql),

    // q14 through the AUTO-salted production wiring: the keySkew
    // pre-flight chooses the salt count (floor = CoocSalts keeps the
    // salted path open on the uniform fixture) — same report, same
    // oracle SQL, because salted counts are salt-invariant; the probe's
    // cost is this query's own bench row, not a tax on q14.
    Query("q147_auto_salted_topk", (s, dir) =>
      copurchaseReport(s, dir,
        Similarity.coPurchaseTopKAuto(pairs(s, dir), TopK,
          s.sparkContext.defaultParallelism, floorSalts = CoocSalts)),
    // identical SQL by design: the auto-chosen salt count changes only
    // the physical shuffle, never a value (saltedCounts law)
      q14OracleSql),

    // A7: ordered "; "-concat neighbor report per target (model_train.py:48).
    Query("q15_neighbor_report", (s, dir) => {
      val ranked = queries("q14_copurchase_topk")(s, dir)
        .select(col("target_pid").as("target"),
          col("neighbor_name").as("name"), col("rnk"))
      Similarity.neighborReport(ranked)
        .withColumnRenamed("target", "target_pid")
        .orderBy("target_pid")
    },
      s"""$pairsSqlCte,
         |cooc AS (
         |  SELECT target, context, count(*) AS cnt
         |  FROM pairs GROUP BY target, context
         |),
         |topk AS (
         |  SELECT target, context, cnt,
         |         row_number() OVER (PARTITION BY target
         |           ORDER BY cnt DESC, context ASC) AS rnk
         |  FROM cooc
         |)
         |SELECT vt.pid AS target_pid,
         |       string_agg(pc.p_name, '; ' ORDER BY t.rnk) AS neighbors
         |FROM topk t
         |JOIN vocab vt ON t.target = vt.idx
         |JOIN vocab vc ON t.context = vc.idx
         |JOIN part pc ON vc.pid = pc.p_partkey
         |WHERE t.rnk <= $TopK
         |GROUP BY vt.pid ORDER BY target_pid""".stripMargin),

    // J5/M3 vector form: exact cosine top-K of 5 probe vectors against the
    // embeddings corpus (brute-force ANN baseline, SURVEY §7.4).
    Query("q16_cosine_topk", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.cosineTopK(emb, emb.filter(col("vec_id") < 5), TopK)
        .withColumn("rnk", col("rnk").cast("long"))
        .orderBy("probe_id", "rnk")
    },
      q16OracleSql),

    // TPC-H Q5-shaped multi-way join: revenue by (region, nation) with
    // the local-supplier condition — exercises Catalyst join planning
    // (broadcast dims, shuffle joins between facts, partial aggs).
    Query("q44_region_revenue", (s, dir) => {
      val li = t(s, dir, "lineitem")
      val ord = t(s, dir, "orders")
      val cust = t(s, dir, "customer")
      val supp = t(s, dir, "supplier")
      val nat = t(s, dir, "nation")
      val reg = t(s, dir, "region")
      li.join(ord, li("l_orderkey") === ord("o_orderkey"))
        .join(cust, ord("o_custkey") === cust("c_custkey"))
        .join(supp, li("l_suppkey") === supp("s_suppkey")
          && cust("c_nationkey") === supp("s_nationkey"))
        .join(broadcast(nat), supp("s_nationkey") === nat("n_nationkey"))
        .join(broadcast(reg), nat("n_regionkey") === reg("r_regionkey"))
        .groupBy(col("r_name"), col("n_name"))
        // per-row round to integer cents, then an integer sum: a plain
        // double SUM's accumulation order differs between engines (and
        // between partitionings) in the low bits — integer cents are
        // exact, order-free, and hash-stable
        .agg(sum(round(col("l_extendedprice") * (lit(1.0) - col("l_discount"))
            * 100, 0).cast("long")).as("revenue_cents"),
          count(lit(1)).as("n_items"))
        .orderBy("r_name", "n_name")
    },
    // per-row integer cents (see the Spark side): order-free exact sum
      """SELECT r_name, n_name,
        |  CAST(sum(CAST(round(l_extendedprice * (1.0 - l_discount) * 100, 0)
        |    AS BIGINT)) AS BIGINT) AS revenue_cents,
        |  count(*) AS n_items
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name, n_name
        |ORDER BY r_name, n_name""".stripMargin),

    // order2vec serving: baskets mean-pool their items' embeddings
    // (exact-decimal per-dimension means — bit-stable at any
    // partitioning) and the pooled ORDER vectors feed the same exact
    // top-k report the item embeddings use — similar orders from item
    // embeddings, no second training. Items map to the fixture
    // embedding table by pmod(part, PoolMod).
    Query("q153_order2vec_topk", (s, dir) => {
      val mem = t(s, dir, "lineitem").select(
        col("l_orderkey").cast("long").as("order_id"),
        pmod(col("l_partkey"), lit(PoolMod)).cast("long").as("vec_id"))
      val pooled = Barrier.cut(Similarity.meanPoolEmbeddings(
        mem, "order_id", "vec_id", t(s, dir, "embeddings")))
      Similarity.cosineTopK(pooled,
          pooled.filter(col("vec_id") < OrderProbeMax), TopK)
        .withColumn("rnk", col("rnk").cast("long"))
        .orderBy("probe_id", "rnk")
    },
    // q153: the pooling oracle mirrors the exact-decimal mean — widen
    // float32 → double, integerize once at 1e9, exact integer sums per
    // (order, dim), ONE cast back — then the q16 cosine/rank shape over
    // the pooled lists. Dims are 1-based here vs 0-based posexplode in
    // the engine; dim is only a group/order key, so the lists agree.
      s"""WITH mem AS (
         |  SELECT l_orderkey AS gid, l_partkey % $PoolMod AS vec_id
         |  FROM lineitem
         |),
         |px AS (
         |  SELECT mem.gid, d.i AS dim,
         |    CAST(floor(CAST(e.embedding[d.i] AS DOUBLE) * 1e9 + 0.5)
         |      AS BIGINT) AS xi
         |  FROM mem JOIN embeddings e ON mem.vec_id = e.vec_id,
         |       (SELECT unnest(range(1, $EmbDims + 1)) AS i) d
         |),
         |pv AS (
         |  SELECT gid, dim,
         |    CAST(CAST(sum(xi) AS DOUBLE) / count(*) / 1e9 AS FLOAT) AS v
         |  FROM px GROUP BY gid, dim
         |),
         |pool AS (
         |  SELECT gid, list(CAST(v AS DOUBLE) ORDER BY dim) AS emb
         |  FROM pv GROUP BY gid
         |),
         |sc AS (
         |  SELECT p.gid AS probe_id, c.gid AS vec_id,
         |    ${Portable.sqlRatio9(cosSql("c.emb", "p.emb"))} AS cos
         |  FROM pool c, pool p
         |  WHERE p.gid < $OrderProbeMax AND c.gid <> p.gid
         |)
         |SELECT probe_id, vec_id, cos,
         |       CAST(row_number() OVER (PARTITION BY probe_id
         |         ORDER BY cos DESC, vec_id ASC) AS BIGINT) AS rnk
         |FROM sc
         |QUALIFY rnk <= $TopK
         |ORDER BY probe_id, rnk""".stripMargin),

    // Offline recommender evaluation — closes the loop the reference
    // leaves open: train the co-occurrence model on 9/10 of the orders
    // (hash fold), hold out each eval basket's last item in trainer
    // order, and report hit-rate@k for k = 1..10. Leakage-free by
    // construction (eval pairs never enter the model).
    Query("q169_rec_eval", (s, dir) => {
      val enc = Vocab.encode(t(s, dir, "lineitem"), "l_partkey",
        vocab(s, dir))
      val fold = pmod(Portable.seededHash(lit(RecEvalSalt),
        col("l_orderkey")), lit(RecEvalFolds))
      def baskets(e: DataFrame) =
        Pairs.orderedBaskets(e, "l_orderkey", "idx",
          Seq(Portable.seededHash(col("l_orderkey"), col("l_linenumber"),
            col("l_partkey")).as("__h"), col("l_partkey").as("__pid")),
          MaxBasketLen)
      val cooc = Pairs.skipGramPairsFromBaskets(
          baskets(enc.filter(fold =!= 0)), WindowW)
        .groupBy(col("target"), col("context"))
        .agg(count(lit(1)).as("cnt"))
      RecEval.hitRateCurve(baskets(enc.filter(fold === 0)), cooc, TopK)
        .orderBy("k")
    },
    // q169: the trainer's own basket order and pair rule rebuilt per
    // fold — cooc from fold≠0 only, leave-last-out on fold 0, NOT
    // EXISTS for the in-cart exclusion, q14's tie order for ranking.
      s"""$recEvalSqlPrefix,
         |ks AS (SELECT unnest(range(1, ${TopK + 1}))::BIGINT AS k),
         |hits AS (SELECT ks.k, count(*)::BIGINT AS n_hits
         |         FROM ks, rh WHERE rh.rnk <= ks.k GROUP BY ks.k)
         |SELECT ks.k AS k, tot.n_orders,
         |  coalesce(hits.n_hits, 0)::BIGINT AS n_hits,
         |  ${Portable.sqlIntRatio9("coalesce(hits.n_hits, 0)",
              "tot.n_orders")}
         |    AS hit_rate
         |FROM ks CROSS JOIN tot LEFT JOIN hits ON hits.k = ks.k
         |ORDER BY ks.k""".stripMargin),

    // Graded rank metrics over the q169 protocol: MRR and NDCG at the
    // report cutoff, plus coverage (held-outs scored at all) — the
    // numbers that separate "ranked it somewhere" from "ranked it
    // first", in exact shared-literal integer units.
    Query("q170_rec_eval_graded", (s, dir) => {
      val enc = Vocab.encode(t(s, dir, "lineitem"), "l_partkey",
        vocab(s, dir))
      val fold = pmod(Portable.seededHash(lit(RecEvalSalt),
        col("l_orderkey")), lit(RecEvalFolds))
      def baskets(e: DataFrame) =
        Pairs.orderedBaskets(e, "l_orderkey", "idx",
          Seq(Portable.seededHash(col("l_orderkey"), col("l_linenumber"),
            col("l_partkey")).as("__h"), col("l_partkey").as("__pid")),
          MaxBasketLen)
      val cooc = Pairs.skipGramPairsFromBaskets(
          baskets(enc.filter(fold =!= 0)), WindowW)
        .groupBy(col("target"), col("context"))
        .agg(count(lit(1)).as("cnt"))
      RecEval.rankMetrics(baskets(enc.filter(fold === 0)), cooc, TopK)
    },
    // q170: the q169 prefix + the exact shared-literal metric tables —
    // the SAME Scala-computed integers land in both engines.
    {
      val rr = graft.ops.RecEval.rrTable(TopK).mkString("[", ", ", "]")
      val dcg = graft.ops.RecEval.dcgTable(TopK).mkString("[", ", ", "]")
      s"""$recEvalSqlPrefix
         |SELECT $TopK::BIGINT AS k, tot.n_orders,
         |  (SELECT count(*) FROM rh)::BIGINT AS n_ranked,
         |  ${Portable.sqlIntRatio9(
             s"(SELECT coalesce(sum(CASE WHEN rnk <= $TopK" +
               s" THEN ($rr)[rnk] ELSE 0 END), 0) FROM rh)",
             "CAST(tot.n_orders AS HUGEINT) * 1000000000")} AS mrr,
         |  ${Portable.sqlIntRatio9(
             s"(SELECT coalesce(sum(CASE WHEN rnk <= $TopK" +
               s" THEN ($dcg)[rnk] ELSE 0 END), 0) FROM rh)",
             "CAST(tot.n_orders AS HUGEINT) * 1000000000")} AS ndcg
         |FROM tot""".stripMargin
    }),

    // A12: deterministic validation-probe sample from the frequent head.
    Query("q33_valid_sample", (s, dir) => {
      vocab(s, dir)
        .filter(col("idx") <= ValidWindow)
        .orderBy(Portable.unif(col("product_id"), lit("valid")), col("idx"))
        .limit(ValidSize)
        .withColumn("idx", col("idx").cast("long"))
        .select(col("idx"), col("product_id"))
        .orderBy("idx")
    },
      s"""$vocabSqlCte
         |SELECT idx, pid AS product_id FROM (
         |  SELECT idx::BIGINT AS idx, pid FROM vocab
         |  WHERE idx <= $ValidWindow
         |  ORDER BY ${Portable.sqlUnif("pid", "'valid'")}, idx
         |  LIMIT $ValidSize
         |) ORDER BY idx""".stripMargin),

    // A11: assembled (contexts, labels) training tensors.
    Query("q34_tensors", (s, dir) => {
      Pairs.assemble(Pairs.negatives(pairs(s, dir), NumNs, VocabK), NumNs)
        .select(col("order_id"),
          col("pos_t").cast("long").as("pos_t"),
          col("pos_c").cast("long").as("pos_c"),
          col("target").cast("long").as("target"),
          array_join(col("contexts"), ",").as("contexts"),
          array_join(col("labels"), ",").as("labels"))
        .orderBy("order_id", "pos_t", "pos_c")
    },
    {
      val negs = (0 until NumNs).map { k =>
        val u = Portable.sqlUnif("order_id", "pos_t", "pos_c", k.toString)
        s"least(${VocabK - 1}, CAST(floor(exp($u * ln(${VocabK + 1}.0))) AS BIGINT) - 1)"
      }
      s"""$pairsSqlCte
         |SELECT order_id, pos_t, pos_c, target,
         |  concat_ws(',', context, ${negs.mkString(", ")}) AS contexts,
         |  '1,${Seq.fill(NumNs)("0").mkString(",")}' AS labels
         |FROM pairs
         |ORDER BY order_id, pos_t, pos_c""".stripMargin
    }),

    // M1-M4 + S8 verified end-to-end (the round-7 red cell): train
    // Word2Vec single-partition on deterministically ordered baskets
    // (first 10k by order_id — a stable vocab at bounded, jitter-free
    // cost at any SF; the library path has no cap), PERSIST the model
    // and reload it (S8 — the reference's train/post-process process
    // boundary), STORE the reloaded model's embedding table (M4) as
    // parquet, then compute the model_train.py:14-49 report —
    // self-excluded cosine top-5 with the J3 name joins — FROM the
    // stored table. The oracle reads the SAME Spark-written parquet
    // (q144 interchange pattern), so the compare hash-verifies
    // save + load + extraction + store + scan + report exactly,
    // independent of SGD stochasticity; training determinism itself is
    // the seeded single-partition law in Prod2VecSpec.
    Query("q37_w2v_synonyms", (s, dir) => {
      val path = q37EmbPath(dir)
      val li = t(s, dir, "lineitem")
      val basketDf = Prod2Vec.baskets(li).orderBy("order_id").limit(10000)
      val model = Prod2Vec.train(basketDf,
        Prod2Vec.Params(numPartitions = 1))
      Prod2Vec.save(model, q37ModelPath(dir))
      val loaded = Prod2Vec.load(q37ModelPath(dir))
      Prod2Vec.embeddings(loaded).repartition(1)
        .write.mode("overwrite").parquet(path)
      val emb = s.read.parquet(path)
      val probes = emb.orderBy("vec_id").limit(3)
      val p = t(s, dir, "part")
        .select(col("p_partkey").cast("long"), col("p_name"))
      Similarity.cosineTopK(emb, probes, 5)
        .join(broadcast(p.toDF("probe_id", "probe_name")), Seq("probe_id"))
        .join(broadcast(p.toDF("vec_id", "neighbor_name")), Seq("vec_id"))
        .select(col("probe_id"), col("probe_name"), col("vec_id"),
          col("neighbor_name"), col("cos"),
          col("rnk").cast("long").as("rnk"))
        .orderBy("probe_id", "rnk")
    },
    // q37: the oracle reads the SPARK-WRITTEN embedding parquet (q144
    // interchange pattern) — the stored-table report is exact SQL even
    // though the training that produced the table is not.
      s"""WITH emb AS (
         |  SELECT vec_id,
         |         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
         |  FROM read_parquet('${q37EmbPath(SfToken)}/*.parquet')
         |),
         |p AS (
         |  SELECT vec_id AS probe_id, v AS pv
         |  FROM emb ORDER BY vec_id LIMIT 3
         |),
         |sc AS (
         |  SELECT probe_id, vec_id, ${Portable.sqlRatio9(cosSql("v", "pv"))} AS cos
         |  FROM emb, p WHERE vec_id <> probe_id
         |),
         |r AS (
         |  SELECT probe_id, vec_id, cos,
         |    CAST(row_number() OVER (PARTITION BY probe_id
         |      ORDER BY cos DESC, vec_id ASC) AS BIGINT) AS rnk
         |  FROM sc QUALIFY rnk <= 5
         |)
         |SELECT r.probe_id, pp.p_name AS probe_name, r.vec_id,
         |  pn.p_name AS neighbor_name, r.cos, r.rnk
         |FROM r JOIN part pp ON r.probe_id = pp.p_partkey
         |       JOIN part pn ON r.vec_id = pn.p_partkey
         |ORDER BY r.probe_id, r.rnk""".stripMargin),

    // Per-node triangle count + local clustering coefficient over the
    // part-capped co-purchase graph — degree-ordered orientation, two
    // equi-joins, exact integer counts (clique-vs-hub separation the
    // pairwise dedup scores can't see).
    Query("q177_triangles", (s, dir) => {
      val lp = t(s, dir, "lineitem")
        .filter(col("l_partkey") < TriPartMax)
        .select(col("l_orderkey").as("o"), col("l_partkey").as("p"))
        .distinct()
      val edges = lp.toDF("o", "pa").join(lp.toDF("o", "pb"), Seq("o"))
        .filter(col("pa") < col("pb"))
        .select(col("pa"), col("pb"))
      Graph.triangles(edges, "pa", "pb").orderBy("id")
    },
    // q177: degree-ordered orientation replayed relationally — every
    // triangle counted at its unique two-out-edge source, per-node
    // counts by exploding the three corners, coefficient = one double
    // division over exact integers.
      s"""WITH lp AS (
         |  SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem
         |  WHERE l_partkey < $TriPartMax
         |),
         |e AS (
         |  SELECT DISTINCT a.p AS lo, b.p AS hi
         |  FROM lp a JOIN lp b ON a.o = b.o AND a.p < b.p
         |),
         |deg AS (
         |  SELECT id, count(*)::BIGINT AS deg FROM (
         |    SELECT lo AS id FROM e UNION ALL SELECT hi FROM e)
         |  GROUP BY id
         |),
         |o AS (
         |  SELECT
         |    CASE WHEN dl.deg < dh.deg OR (dl.deg = dh.deg AND e.lo < e.hi)
         |         THEN e.lo ELSE e.hi END AS src,
         |    CASE WHEN dl.deg < dh.deg OR (dl.deg = dh.deg AND e.lo < e.hi)
         |         THEN e.hi ELSE e.lo END AS dst,
         |    CASE WHEN dl.deg < dh.deg OR (dl.deg = dh.deg AND e.lo < e.hi)
         |         THEN dh.deg ELSE dl.deg END AS ddeg
         |  FROM e JOIN deg dl ON dl.id = e.lo JOIN deg dh ON dh.id = e.hi
         |),
         |tri AS (
         |  SELECT o1.src AS u, o1.dst AS v, o2.dst AS w
         |  FROM o o1 JOIN o o2 ON o1.src = o2.src
         |    AND (o1.ddeg < o2.ddeg
         |         OR (o1.ddeg = o2.ddeg AND o1.dst < o2.dst))
         |  JOIN o o3 ON o3.src = o1.dst AND o3.dst = o2.dst
         |),
         |pn AS (
         |  SELECT id, count(*)::BIGINT AS n_triangles FROM (
         |    SELECT u AS id FROM tri
         |    UNION ALL SELECT v FROM tri
         |    UNION ALL SELECT w FROM tri)
         |  GROUP BY id
         |)
         |SELECT d.id, d.deg,
         |  coalesce(pn.n_triangles, 0)::BIGINT AS n_triangles,
         |  CASE WHEN d.deg >= 2 THEN
         |    round(CAST(CAST(floor(round(CAST(2 * coalesce(pn.n_triangles, 0) AS DOUBLE)
         |          / CAST(d.deg * (d.deg - 1) AS DOUBLE), 9) * 1e9 + 0.5) AS BIGINT) AS DOUBLE) / 1e9, 9)
         |  END AS clustering_coeff
         |FROM deg d LEFT JOIN pn USING (id)
         |ORDER BY d.id""".stripMargin),

    // Directional association rules over order baskets: support /
    // confidence / lift from exact per-transaction-distinct counts —
    // the retail twin of q181's PMI (lift = e^PMI), floored at 5
    // co-present orders.
    Query("q188_assoc_rules", (s, dir) => {
      Pairs.associationRules(t(s, dir, "lineitem")
          .filter(col("l_partkey") < TriPartMax),
          "l_orderkey", "l_partkey", AssocMinOrders)
        .orderBy("antecedent", "consequent")
    },
    // q188: per-transaction-distinct counts; each metric one pinned
    // double chain over exact BIGINTs.
      s"""WITH ti AS (
         |  SELECT DISTINCT l_orderkey AS t, l_partkey AS i FROM lineitem
         |  WHERE l_partkey < $TriPartMax
         |),
         |pc AS (
         |  SELECT a.i AS a, b.i AS b, count(*)::BIGINT AS c_ab
         |  FROM ti a JOIN ti b ON a.t = b.t AND a.i <> b.i
         |  GROUP BY 1, 2 HAVING count(*) >= $AssocMinOrders
         |),
         |ic AS (SELECT i, count(*)::BIGINT AS c FROM ti GROUP BY i),
         |n AS (SELECT count(DISTINCT t)::BIGINT AS n_orders FROM ti)
         |SELECT p.a AS antecedent, p.b AS consequent, n.n_orders,
         |  ia.c AS c_a, ib.c AS c_b, p.c_ab,
         |  round(CAST(CAST(floor(round(CAST(p.c_ab AS DOUBLE) / CAST(n.n_orders AS DOUBLE), 9) * 1e9 + 0.5) AS BIGINT) AS DOUBLE) / 1e9, 9)
         |    AS support,
         |  round(CAST(CAST(floor(round(CAST(p.c_ab AS DOUBLE) / CAST(ia.c AS DOUBLE), 9) * 1e9 + 0.5) AS BIGINT) AS DOUBLE) / 1e9, 9)
         |    AS confidence,
         |  round(CAST(CAST(floor(round(CAST(n.n_orders AS DOUBLE) * CAST(p.c_ab AS DOUBLE)
         |        / CAST(ia.c AS DOUBLE) / CAST(ib.c AS DOUBLE), 9) * 1e9 + 0.5) AS BIGINT) AS DOUBLE) / 1e9, 9)
         |    AS lift
         |FROM pc p JOIN ic ia ON ia.i = p.a JOIN ic ib ON ib.i = p.b
         |CROSS JOIN n
         |ORDER BY antecedent, consequent""".stripMargin),

    // Rank-Biased Overlap between the full-dim exact top-10 and the
    // 16-dim matryoshka top-10 per probe — q150 asks "did the
    // neighbors survive truncation", this asks "in the same ORDER":
    // rbo_norm = 1 means the truncated index ranks identically.
    Query("q208_rank_rbo", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val probes = emb.filter(col("vec_id") < 5)
      RecEval.rboAtDepth(
        Similarity.cosineTopK(emb, probes, TopK),
        Similarity.cosineTopK(
          Similarity.truncateEmbeddings(
            emb.select(col("vec_id"), col("embedding")), TruncDims),
          Similarity.truncateEmbeddings(
            probes.select(col("vec_id"), col("embedding")), TruncDims),
          TopK),
        "probe_id", "vec_id", "rnk", TopK, RboP)
        .orderBy("probe_id")
    },
    // q208: both rankings as q150's CTEs; a common pair first counts
    // at k = max(rank_a, rank_b), so each contributes the literal
    // weight suffix sum W9(max) — the integers come from the SAME
    // rboSuffixW9 table the engine consumes.
    {
      val suf = RecEval.rboSuffixW9(TopK, RboP)
      s"""WITH ap AS (
         |${exactTopKSqlOn(s"embedding[1:$TruncDims]")}
         |), ex AS (
         |$q16OracleSql
         |),
         |j AS (
         |  SELECT ex.probe_id,
         |    ([${suf.mkString(", ")}])
         |      [greatest(ex.rnk, ap.rnk)::INT] AS w9
         |  FROM ex JOIN ap
         |    ON ex.probe_id = ap.probe_id AND ex.vec_id = ap.vec_id
         |),
         |ag AS (
         |  SELECT probe_id, count(*)::BIGINT AS n_common,
         |    sum(w9)::BIGINT AS r9
         |  FROM j GROUP BY 1
         |),
         |pr AS (SELECT DISTINCT probe_id FROM ex)
         |SELECT pr.probe_id,
         |  coalesce(ag.n_common, 0)::BIGINT AS n_common,
         |  round(CAST(CAST(floor(round(CAST(coalesce(ag.r9, 0) AS DOUBLE) / 1e9, 9) * 1e9 + 0.5) AS BIGINT) AS DOUBLE) / 1e9, 9) AS rbo,
         |  ${Portable.sqlIntRatio9("coalesce(ag.r9, 0)",
             s"${suf.sum}")} AS rbo_norm
         |FROM pr LEFT JOIN ag USING (probe_id)
         |ORDER BY probe_id""".stripMargin
    })
  )
}

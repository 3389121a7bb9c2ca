package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Graph centrality over relational edge lists (SURVEY.md §7.4) — the
  * curation signal that needs the whole similarity GRAPH, not per-pair
  * scores: a document tied to many well-connected near-duplicates is
  * boilerplate-adjacent; an isolated one is novel. PageRank over the
  * [[Similarity.tfidfCosinePairs]] edges is the standard instance
  * (Page et al. 1999), and the same operator ranks any undirected pair
  * list (co-purchase graphs, shared-fingerprint graphs).
  *
  * Numeric contract — SCALED-INTEGER arithmetic, not floats: a
  * float-summed fixpoint accumulates error in partition order, so after
  * k rounds two engines (or two cluster layouts) disagree in the low
  * bits and a hash compare is meaningless. Instead every rank is a
  * BIGINT numerator over `scale` (default 10^12) and each round is
  * integer-only (`div` truncation, which equals floor for these
  * non-negative values — identical in Spark and DuckDB):
  * {{{
  *   r_{t+1}(v) = ((100-d)·(scale div N)) div 100
  *              + (d · Σ_{u~v} (r_t(u) div deg(u))) div 100
  * }}}
  * Integer addition is associative, so the result is bit-identical for
  * every partitioning, engine, and summation order — the fixpoint twin
  * of the [[Portable]] keyed-hash determinism rule. Truncation loses
  * < deg(u) units of 10^-12 mass per node per round (PageRank's
  * ordering is unaffected at any realistic scale; GraphSpec pins ≥99%
  * mass retention on the fixture graph).
  *
  * Scale posture (edge list ≫ memory): each round is one src-keyed
  * equi join of the adjacency against the rank frame and one dst-keyed
  * partial-agg sum — both shuffles keyed, nothing quadratic, node
  * count N arrives as a broadcast 1-row aggregate. The adjacency
  * (edges + out-degree) sits behind one [[Barrier]] and is re-read
  * per round; each round's rank frame passes its own barrier so
  * lineage stays O(1) across iterations (the [[Dedup.nearDupClusters]]
  * fixpoint discipline). A hub node's incoming sum is a single hot
  * reduce key; its contributions still arrive as partial aggregates
  * per map task, so the skew ceiling is the merge of ≤ #tasks
  * partials, not the hub's degree. EAGER like [[Events.funnel]]: the
  * barriers materialize at call time — `iters` Spark jobs run before
  * the returned frame is consumed.
  */
object Graph {

  /** PageRank over an undirected pair list (each edge once, any
    * orientation). Returns (id, r) with r the scaled-integer rank —
    * r/scale ≈ the PageRank probability, at the classic damping
    * factor 0.85 (integer percent: 85/100). Nodes are the edge
    * endpoints; isolated vertices don't participate (no edges → no
    * rank flow — filter them in, degree 0, would just hold teleport
    * mass). */
  def pageRank(pairs: DataFrame, aCol: String, bCol: String, iters: Int,
               scale: Long = 1000000000000L): DataFrame = {
    require(iters >= 0, s"iters must be >= 0, got $iters")
    require(scale > 0, s"scale must be positive, got $scale")
    // materialize the INPUT edge list first: Spark plans are trees, so
    // without this cut an expensive upstream (e.g. the tf-idf pair
    // join) would be re-derived four times below — twice for the
    // symmetrized union, once each under the degree agg and the
    // adjacency join (measured 4x the pair-join cost on q86 before
    // the cut; every later read hits the checkpoint store instead)
    val p0 = Barrier.cut(
      pairs.select(col(aCol).as("src"), col(bCol).as("dst")))
    val sym = p0.union(p0.select(col("dst").as("src"), col("src").as("dst")))
    val deg = sym.groupBy("src").agg(count(lit(1)).as("deg"))
    // adjacency with out-degree, materialized once, read every round
    val adj = Barrier.cut(sym.join(deg, "src"))
    val n = deg.agg(count(lit(1)).as("__n"))
    val base = s"(CAST($scale AS BIGINT) div __n)"
    var r = Barrier.cut(deg.select(col("src").as("id"))
      .crossJoin(broadcast(n))
      .selectExpr("id", s"$base AS r"))
    for (_ <- 1 to iters) {
      val flows = adj.join(r, adj("src") === r("id"))
        .selectExpr("dst", "r div deg AS c")
        .groupBy("dst").agg(sum("c").as("s"))
      r = Barrier.cut(flows.crossJoin(broadcast(n))
        .selectExpr("dst AS id",
          s"((15 * $base) div 100) + ((85 * s) div 100) AS r"))
    }
    r
  }

  /** Synchronous label-propagation communities (Raghavan et al. 2007)
    * over an undirected pair list — the density-sensitive third member
    * of the graph family: connected components merge through ANY path
    * (one stray edge fuses two clusters), PageRank ranks but does not
    * partition; LPA gives every node the label a MAJORITY of its
    * neighbors hold, so sparse bridges do not merge dense groups.
    *
    * Determinism, closed textbook-style: init label(v) = v; each round
    * every node SIMULTANEOUSLY takes the most frequent label among its
    * neighbors, ties to the smallest label; isolated-this-round nodes
    * keep theirs. (Asynchronous/randomized update order — the paper's
    * default — is unreplayable; the synchronous form can oscillate on
    * bipartite structures, which a fixed `iters` makes a deterministic,
    * oracle-able outcome rather than a hang.)
    *
    * Per round: one adjacency×labels equi join, one (node, label)
    * count with map-side combine, one argmax via min_by — shuffles key
    * on node ids throughout; rounds chain through [[Barrier]] cuts like
    * [[pageRank]]. Returns (id, community). */
  def labelPropagation(pairs: DataFrame, aCol: String, bCol: String,
                       iters: Int): DataFrame = {
    require(iters >= 0, s"iters must be >= 0, got $iters")
    val p0 = Barrier.cut(
      pairs.select(col(aCol).as("src"), col(bCol).as("dst")))
    val sym = Barrier.cut(
      p0.union(p0.select(col("dst").as("src"), col("src").as("dst")))
        .filter(col("src") =!= col("dst")).distinct())
    var labels = Barrier.cut(sym.select(col("src").as("id")).distinct()
      .select(col("id"), col("id").as("community")))
    for (_ <- 1 to iters) {
      val counts = sym
        .join(labels, sym("dst") === labels("id"))
        .groupBy(sym("src").as("node"), col("community"))
        .agg(count(lit(1)).as("__c"))
      val winners = counts.groupBy(col("node"))
        .agg(min_by(col("community"), struct(-col("__c"), col("community")))
          .as("__w"))
      labels = Barrier.cut(labels
        .join(winners, labels("id") === winners("node"), "left")
        .select(col("id"), coalesce(col("__w"), col("community"))
          .as("community")))
    }
    labels
  }

  /** Per-node triangle count and local clustering coefficient over an
    * undirected pair list — the density signal the component/community
    * operators can't give: a node's neighbors being neighbors OF EACH
    * OTHER separates a genuine duplicate cluster (clique-like,
    * coefficient → 1) from a hub that merely touches everything
    * (star-like, coefficient → 0). The same number drives motif
    * features on co-purchase graphs (Watts & Strogatz 1998).
    *
    * Algorithm: degree-ordered orientation (Suri & Vassilvitskii,
    * WWW'11 — the MapReduce triangle standard). Each edge is directed
    * from its lower endpoint in the total order (deg, id); every
    * triangle then has EXACTLY ONE source node with two out-edges, so
    * counting = (wedge from the out-adjacency) ⋈ (closing oriented
    * edge). Orientation bounds out-degree by O(√m) regardless of raw
    * degree skew — a celebrity node's million-edge star generates NO
    * wedges at the star center: every star edge orients from its
    * degree-1 leaf INTO the hub, so the hub has out-degree 0 and each
    * leaf out-degree 1 — no node fans out. Both joins are
    * equi-joins (src; then (v,w)) — nothing quadratic, no broadcast of
    * anything data-sized, safe at 100 TB edge lists.
    *
    * Input edges may arrive in any orientation with duplicates;
    * self-loops are dropped, duplicates collapse. All arithmetic on
    * counts is exact integer; the coefficient
    * `2T / (deg·(deg−1))` leaves integer land with one double division
    * (9 dp). Nodes of degree 1 have no possible triangle — coefficient
    * NULL (no evidence), count 0. Returns (id, deg, n_triangles,
    * clustering_coeff) — one row per node with ≥1 edge. */
  def triangles(pairs: DataFrame, aCol: String, bCol: String): DataFrame = {
    val e = Barrier.cut(pairs
      .select(least(col(aCol), col(bCol)).as("lo"),
        greatest(col(aCol), col(bCol)).as("hi"))
      .filter(col("lo") =!= col("hi"))
      .distinct())
    val deg = e.select(col("lo").as("id"))
      .union(e.select(col("hi").as("id")))
      .groupBy(col("id")).agg(count(lit(1)).as("deg"))
    // orient each edge from the (deg, id)-smaller endpoint
    val withDegs = e
      .join(deg.select(col("id").as("lo"), col("deg").as("ldeg")), Seq("lo"))
      .join(deg.select(col("id").as("hi"), col("deg").as("hdeg")), Seq("hi"))
    val loFirst = col("ldeg") < col("hdeg") ||
      (col("ldeg") === col("hdeg") && col("lo") < col("hi"))
    val o = Barrier.cut(withDegs.select(
      when(loFirst, col("lo")).otherwise(col("hi")).as("src"),
      when(loFirst, col("hi")).otherwise(col("lo")).as("dst"),
      when(loFirst, col("hdeg")).otherwise(col("ldeg")).as("ddeg")))
    // wedges (src → v, src → w) with v before w in the same total
    // order, closed by the oriented edge (v → w)
    val o1 = o.select(col("src"), col("dst").as("v"), col("ddeg").as("vdeg"))
    val o2 = o.select(col("src"), col("dst").as("w"), col("ddeg").as("wdeg"))
    val wedges = o1.join(o2, Seq("src"))
      .filter(col("vdeg") < col("wdeg") ||
        (col("vdeg") === col("wdeg") && col("v") < col("w")))
    val tris = wedges.join(
      o.select(col("src").as("v"), col("dst").as("w")), Seq("v", "w"))
      .select(col("src").as("u"), col("v"), col("w"))
    val perNode = tris.select(explode(array(col("u"), col("v"), col("w")))
        .as("id"))
      .groupBy(col("id")).agg(count(lit(1)).as("n_triangles"))
    deg.join(perNode, Seq("id"), "left")
      .select(col("id"), col("deg"),
        coalesce(col("n_triangles"), lit(0L)).as("n_triangles"))
      .withColumn("clustering_coeff",
        when(col("deg") >= 2, Portable.intRatio9(
          lit(2L) * col("n_triangles"),
          col("deg") * (col("deg") - lit(1L)))))
  }

  /** k-core peeling (Seidman '83; the [[triangles]] density signal
    * turned into a MEMBERSHIP: the k-core is the maximal subgraph
    * where every node keeps degree ≥ k after everyone below it is
    * removed — the standard "dense cluster vs stringy periphery"
    * split for a near-dup / co-occurrence graph). Synchronous peeling
    * unrolled `rounds` times: each round recomputes degrees over the
    * SURVIVING subgraph and drops every node under k at once —
    * deterministic (no peel order), and each round is one degree agg
    * + one semi-join, behind a [[Barrier]] like the other fixpoints.
    * Peeling converges in ≤ |V| rounds but in practice a handful;
    * `rounds` is the caller's explicit (and oracle-unrollable) bound,
    * with `converged` reporting whether the LAST round still removed
    * anything (false = the peel is exact, the GraphSpec law).
    *
    * Returns one row per ORIGINAL node: (id, degree — original —,
    * in_kcore, converged). */
  def kCore(pairs: DataFrame, aCol: String, bCol: String, k: Int,
            rounds: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(rounds >= 1 && rounds <= 64,
      s"rounds must be in [1,64], got $rounds")
    val e0 = Barrier.cut(pairs
      .select(least(col(aCol), col(bCol)).as("lo"),
        greatest(col(aCol), col(bCol)).as("hi"))
      .filter(col("lo") =!= col("hi"))
      .distinct())
    def degrees(e: DataFrame) = e.select(col("lo").as("id"))
      .union(e.select(col("hi").as("id")))
      .groupBy(col("id")).agg(count(lit(1)).as("deg"))
    val orig = Barrier.cut(degrees(e0))
    var prev = e0
    var edges = e0
    for (_ <- 1 to rounds) {
      val keep = degrees(edges).filter(col("deg") >= k)
        .select(col("id"))
      prev = edges
      edges = Barrier.cut(edges
        .join(keep.withColumnRenamed("id", "lo"), Seq("lo"), "left_semi")
        .join(keep.withColumnRenamed("id", "hi"), Seq("hi"), "left_semi")
        .select(col("lo"), col("hi")))
    }
    // only the last round decides `converged`: two counts per call
    val lastRemoved = prev.count() - edges.count()
    val core = degrees(edges).filter(col("deg") >= k).select(col("id"))
    orig
      .join(core.withColumn("__in", lit(true)), Seq("id"), "left")
      .select(col("id"), col("deg").as("degree"),
        coalesce(col("__in"), lit(false)).as("in_kcore"),
        lit(lastRemoved == 0L).as("converged"))
  }

  /** HITS hubs & authorities (Kleinberg '99) on a DIRECTED edge set,
    * unrolled `rounds` times — on the order→product bipartite graph
    * this reads "an order is a good hub if it holds authoritative
    * products; a product is authoritative if good hubs hold it", the
    * mutual-reinforcement ranking PageRank's single score can't
    * express. Each half-round is one edge-keyed join + agg + L1
    * normalization; mirrored round-for-round in the oracle CTE chain
    * (the q86 PageRank discipline).
    *
    * Cross-engine determinism is TOTAL — no floats anywhere: scores
    * live as 1e9-scaled LONGs, the normalizer is exact integer
    * division (raw·1e9 div Σraw, products carried in DECIMAL(38,0)),
    * and both engines floor identically. L1 (not the textbook L2)
    * normalization keeps the fixpoint direction identical while
    * avoiding a cross-engine sqrt per round; ranks and ratios are
    * unchanged (normalization is a per-round positive scalar).
    *
    * Shape: per round two shuffled equi-joins on the edge keys +
    * map-side-combined aggs + a 1-row total broadcast, behind
    * [[Barrier]]s like the other fixpoints. Returns one row per node
    * side: (id, role ∈ hub|authority, score — the L1-normalized
    * 9 dp share). */
  def hits(edges: DataFrame, srcCol: String, dstCol: String,
           rounds: Int): DataFrame = {
    require(rounds >= 1 && rounds <= 8,
      s"rounds must be in [1,8], got $rounds")
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val e = Barrier.cut(edges
      .select(col(srcCol).as("src"), col(dstCol).as("dst")).distinct())
    def normalize(raw: DataFrame, idc: String, out: String) = {
      val tot = raw.agg(sum(col("__raw").cast(dec)).as("__tot"))
      Barrier.cut(raw.crossJoin(broadcast(tot))
        .select(col(idc),
          expr("CAST((CAST(__raw AS DECIMAL(38,0)) * 1000000000)" +
            " div __tot AS BIGINT)").as(out)))
    }
    var hubs = Barrier.cut(
      e.select(col("src")).distinct().withColumn("h", lit(1000000000L)))
    var auths: DataFrame = null
    for (_ <- 1 to rounds) {
      auths = normalize(e.join(hubs, Seq("src"))
        .groupBy(col("dst")).agg(sum(col("h")).as("__raw")), "dst", "a")
      hubs = normalize(e.join(auths, Seq("dst"))
        .groupBy(col("src")).agg(sum(col("a")).as("__raw")), "src", "h")
    }
    hubs.select(col("src").as("id"), lit("hub").as("role"),
        round(col("h").cast("double") / lit(1e9), 9).as("score"))
      .unionByName(auths.select(col("dst").as("id"),
        lit("authority").as("role"),
        round(col("a").cast("double") / lit(1e9), 9).as("score")))
  }
}

package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

class GraphSpec extends SparkSpec {
  import spark.implicits._

  private val S = 1000000000000L

  test("pageRank: one round of the path graph matches hand-computed integers") {
    // 1 - 2 - 3: deg(1)=deg(3)=1, deg(2)=2, N=3, base = S div 3
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("a", "b")
    val r = Graph.pageRank(pairs, "a", "b", iters = 1)
      .orderBy("id").as[(Long, Long)].collect()
    // base = 333333333333; teleport = (15*base) div 100 = 49999999999
    // endpoints: 85*(base div 2) div 100 = 141666666666 -> 191666666665
    // center: 85*(2*base) div 100 = 566666666666 -> 616666666665
    assert(r.sameElements(Seq(
      (1L, 191666666665L), (2L, 616666666665L), (3L, 191666666665L))))
  }

  test("pageRank: zero iterations returns the uniform start vector") {
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("a", "b")
    val r = Graph.pageRank(pairs, "a", "b", iters = 0)
      .as[(Long, Long)].collect().toMap
    assert(r == Map(1L -> 333333333333L, 2L -> 333333333333L,
      3L -> 333333333333L))
  }

  test("pageRank: star center dominates; mass stays within truncation loss") {
    val pairs = (1L to 6L).map(l => (0L, l)).toDF("a", "b")
    val r = Graph.pageRank(pairs, "a", "b", iters = 8)
      .as[(Long, Long)].collect().toMap
    val leaves = (1L to 6L).map(r)
    assert(leaves.distinct.size == 1, "symmetric leaves must tie exactly")
    assert(r(0L) > leaves.head * 2, "hub must dominate leaf ranks")
    val mass = r.values.sum
    assert(mass <= S && mass > (S * 99) / 100,
      s"mass $mass outside the truncation-loss envelope")
  }

  test("pageRank: bit-identical across runs and partitionings") {
    val docs = Sources.table(spark, sf("sf0.001"), "documents")
    val edges = Similarity.tfidfCosinePairs(docs, "doc_id", "text",
      tau = 0.8, maxDf = 100000L)
    val a = Graph.pageRank(edges, "id_a", "id_b", iters = 4)
      .as[(Long, Long)].collect().toMap
    val b = Graph.pageRank(edges.repartition(7), "id_a", "id_b", iters = 4)
      .as[(Long, Long)].collect().toMap
    assert(a.nonEmpty && a == b)
    assert(a.values.forall(_ > 0))
  }

  test("pageRank: a well-connected clique node outranks a pendant node") {
    // clique {1,2,3,4} plus a pendant 5 attached to 1
    val pairs = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
      (3L, 4L), (1L, 5L)).toDF("a", "b")
    val r = Graph.pageRank(pairs, "a", "b", iters = 8)
      .as[(Long, Long)].collect().toMap
    assert(r(1L) > r(2L), "degree-4 node must outrank degree-3")
    assert(Seq(2L, 3L, 4L).forall(k => r(k) > r(5L)),
      "pendant node must rank last")
  }

  test("labelPropagation: disjoint triangles converge to their min " +
      "labels; a single bridge edge does NOT fuse two dense groups " +
      "(the property connected components cannot offer)") {
    val bridge = Seq((1L, 2L), (1L, 3L), (2L, 3L),
      (4L, 5L), (4L, 6L), (5L, 6L), (3L, 4L)).toDF("a", "b")
    val got = Graph.labelPropagation(bridge, "a", "b", 3)
      .as[(Long, Long)].collect().toMap
    // hand-simulated synchronous rounds with min-ties: after 3 rounds
    // the triangles hold two distinct communities despite the bridge
    assert(Seq(1L, 2L, 3L).map(got).distinct.size == 1)
    assert(Seq(4L, 5L, 6L).map(got).distinct.size == 1)
    assert(got(1L) != got(4L), s"bridge fused the triangles: $got")
    // disjoint triangles: min label wins each
    val two = Seq((1L, 2L), (1L, 3L), (2L, 3L),
      (4L, 5L), (4L, 6L), (5L, 6L)).toDF("a", "b")
    val g2 = Graph.labelPropagation(two, "a", "b", 3)
      .as[(Long, Long)].collect().toMap
    assert(g2 == Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
      4L -> 4L, 5L -> 4L, 6L -> 4L))
    // determinism across partitionings
    val g3 = Graph.labelPropagation(bridge.repartition(5), "a", "b", 3)
      .as[(Long, Long)].collect().toMap
    assert(g3 == got)
  }

  private def triMap(df: org.apache.spark.sql.DataFrame)
      : Map[Long, (Long, Long, Option[Double])] =
    df.collect().map(r => r.getLong(0) ->
      ((r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) None else Some(r.getDouble(3))))).toMap

  test("triangles: triangle + pendant — counts and coefficients by hand") {
    // triangle {1,2,3}; pendant 4 on node 1
    val pairs = Seq((1L, 2L), (1L, 3L), (2L, 3L), (1L, 4L)).toDF("a", "b")
    val got = triMap(Graph.triangles(pairs, "a", "b"))
    // node 1: deg 3, 1 triangle, c = 2*1/(3*2) = 1/3 (9dp)
    assert(got(1L) == ((3L, 1L, Some(0.333333333))))
    assert(got(2L) == ((2L, 1L, Some(1.0))))
    assert(got(3L) == ((2L, 1L, Some(1.0))))
    // pendant: degree 1, no triangle possible, coefficient undefined
    assert(got(4L) == ((1L, 0L, None)))
  }

  test("triangles: K4 is all-1.0; star is all-0.0 at the center") {
    val k4 = (for { i <- 1L to 4L; j <- (i + 1) to 4L } yield (i, j))
      .toDF("a", "b")
    val gk = triMap(Graph.triangles(k4, "a", "b"))
    // every K4 node: deg 3, C(3,2) = 3 triangles through it, coeff 1
    assert((1L to 4L).forall(n => gk(n) == ((3L, 3L, Some(1.0)))))
    val star = (1L to 6L).map(l => (0L, l)).toDF("a", "b")
    val gs = triMap(Graph.triangles(star, "a", "b"))
    assert(gs(0L) == ((6L, 0L, Some(0.0))),
      "star center: many neighbor pairs, none adjacent")
    assert((1L to 6L).forall(n => gs(n) == ((1L, 0L, None))))
  }

  test("triangles: duplicates, reversed edges and self-loops collapse; " +
      "result is partitioning-invariant") {
    val clean = Seq((1L, 2L), (1L, 3L), (2L, 3L), (1L, 4L)).toDF("a", "b")
    val dirty = Seq((1L, 2L), (2L, 1L), (1L, 2L), (3L, 1L), (2L, 3L),
      (1L, 4L), (4L, 4L)).toDF("a", "b")
    val a = triMap(Graph.triangles(clean, "a", "b"))
    val b = triMap(Graph.triangles(dirty, "a", "b"))
    val c = triMap(Graph.triangles(dirty.repartition(7), "a", "b"))
    assert(a == b && b == c)
  }

  test("triangles: total count is right on the fixture co-purchase graph " +
      "(each corner counted once: sum of per-node counts = 3 * total)") {
    val li = Sources.table(spark, sf("sf0.001"), "lineitem")
      .filter(col("l_partkey") < 400L)
      .select(col("l_orderkey").as("o"), col("l_partkey").as("p"))
      .distinct()
    val edges = li.toDF("o", "pa").join(li.toDF("o", "pb"), Seq("o"))
      .filter(col("pa") < col("pb")).select("pa", "pb")
    val r = Graph.triangles(edges, "pa", "pb")
      .agg(sum("n_triangles"), sum(when(col("deg") >= 1, 1L))).head()
    val cornerSum = r.getLong(0)
    assert(cornerSum % 3 == 0, "every triangle must contribute 3 corners")
    assert(r.getLong(1) > 0)
  }

  test("kCore: triangle with a tail — k=2 core keeps the triangle, " +
      "drops the tail; peel converges") {
    // 1-2-3 triangle, 3-4-5 path tail
    val pairs = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (4L, 5L))
      .toDF("a", "b")
    val r = Graph.kCore(pairs, "a", "b", k = 2, rounds = 4)
      .orderBy("id").as[(Long, Long, Boolean, Boolean)].collect()
    assert(r.map(x => (x._1, x._3)).toSeq ==
      Seq((1L, true), (2L, true), (3L, true), (4L, false), (5L, false)))
    // original degrees preserved; 3 has the tail edge too
    assert(r.map(x => (x._1, x._2)).toMap ==
      Map(1L -> 2L, 2L -> 2L, 3L -> 3L, 4L -> 2L, 5L -> 1L))
    assert(r.forall(_._4), "4 rounds converge on this graph")
  }

  test("kCore: a pure cycle is its own 2-core; k=3 empties it") {
    val cyc = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L)).toDF("a", "b")
    val k2 = Graph.kCore(cyc, "a", "b", k = 2, rounds = 2)
      .as[(Long, Long, Boolean, Boolean)].collect()
    assert(k2.forall(_._3) && k2.forall(_._4))
    val k3 = Graph.kCore(cyc, "a", "b", k = 3, rounds = 4)
      .as[(Long, Long, Boolean, Boolean)].collect()
    assert(k3.forall(!_._3) && k3.forall(_._4))
  }

  test("kCore: a path still peeling in its last round reports " +
      "converged = false; the convergence check counts once per call") {
    // 1-2-3-4-5 at k = 2: round 1 drops the two end edges, leaving 2-3-4
    val path = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L)).toDF("a", "b")
    val r = Graph.kCore(path, "a", "b", k = 2, rounds = 1)
      .orderBy("id").as[(Long, Long, Boolean, Boolean)].collect()
    assert(r.map(x => (x._1, x._3)).toSeq == Seq((1L, false), (2L, false),
      (3L, true), (4L, false), (5L, false)))
    assert(r.forall(!_._4), "the last round removed edges")
    // three rounds peel the whole path; the third removes nothing
    val full = Graph.kCore(path, "a", "b", k = 2, rounds = 3)
      .as[(Long, Long, Boolean, Boolean)].collect()
    assert(full.forall(x => !x._3 && x._4))
    // a 4-cycle is its own 2-core: every round keeps the same edges, so
    // each count reads the same frame and starts the same jobs
    val cyc = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L)).toDF("a", "b")
    def counts(rounds: Int) = jobSites(s"kcore-count-$rounds") {
      Graph.kCore(cyc, "a", "b", k = 2, rounds = rounds)
    }.count(_.contains("count at Graph.scala"))
    assert(counts(1) > 0 && counts(4) == counts(1))
  }

  test("hits: one round of the 2-hub star matches hand-computed " +
      "integer floors; L1 mass within floor loss of 1") {
    // o1 -> {p1, p2}, o2 -> {p1}: a1 = (2/3, 1/3);
    // h1 raw = (999999999, 666666666), tot = 1666666665 -> (0.6, 0.4)
    val e = Seq((1L, 10L), (1L, 20L), (2L, 10L)).toDF("src", "dst")
    val r = Graph.hits(e, "src", "dst", rounds = 1)
      .as[(Long, String, Double)].collect()
      .map(x => (x._2, x._1) -> x._3).toMap
    assert(r(("authority", 10L)) == 0.666666666)
    assert(r(("authority", 20L)) == 0.333333333)
    assert(r(("hub", 1L)) == 0.6)
    assert(r(("hub", 2L)) == 0.4)
    // floor normalization: each role's mass in (1 - 1e-6, 1]
    Seq("hub", "authority").foreach { role =>
      val m = r.collect { case ((ro, _), s) if ro == role => s }.sum
      assert(m <= 1.0 + 1e-9 && m > 1.0 - 1e-6, s"$role mass $m")
    }
  }
}

package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

class ErSpec extends SparkSpec {
  import spark.implicits._

  /** Brute-force ground truth: all unordered distinct-value pairs with
    * levenshtein in [1, k], via a cross join — the O(V²) plan editJoin
    * exists to avoid, usable here because V is tiny. */
  private def brute(df: DataFrame, c: String, k: Int): Set[(String, String, Long)] = {
    val s = df.select(col(c).as("s")).distinct()
    s.crossJoin(s.select(col("s").as("t")))
      .filter(col("s") < col("t"))
      .select(col("s"), col("t"),
        levenshtein(col("s"), col("t")).cast("long").as("d"))
      .filter(col("d") >= 1 && col("d") <= k)
      .as[(String, String, Long)].collect().toSet
  }

  private def got(df: DataFrame, c: String, k: Int): Set[(String, String, Long)] =
    Er.editJoin(df, c, k)
      .select(col("name_a"), col("name_b"), col("dist"))
      .as[(String, String, Long)].collect().toSet

  test("editJoin: complete vs brute force — typos, length skew, " +
      "first+last-char edits that prefix/suffix blocking would miss") {
    val names = Seq(
      "cat", "cart", "carts", "bat", "cast",
      "red bolt", "old bolt", "red bolts", "redd bolt",
      "xylophone", "hello world", "hello, world",
      // first AND last char differ, distance 2 — the blocking killer
      "aria", "brian".dropRight(1), // "bria"
      "small ring", "small ping")
    val df = names.flatMap(n => Seq(n, n)).toDF("name") // multiplicity 2
    for (k <- 1 to 3) {
      assert(got(df, "name", k) == brute(df, "name", k), s"k=$k")
    }
  }

  test("editJoin: short strings (len <= k) pair through the short pool") {
    val df = Seq("a", "ab", "abc", "b", "bc", "abcd", "zz", "z")
      .toDF("name")
    for (k <- 1 to 2)
      assert(got(df, "name", k) == brute(df, "name", k), s"k=$k")
  }

  test("resolveEntities: transitive merge beyond k; canonical = max " +
      "multiplicity with min-name ties; singletons self-canonical") {
    // bolt(3) ~1~ bolts(1) ~1~ boltss(1): bolt..boltss dist 2 > k=1
    // but same component; canonical = bolt (count 3).
    // ring(2) ~1~ rings(2): tie on count -> min name "ring".
    // xylophone: singleton.
    val df = (Seq.fill(3)("bolt") ++ Seq("bolts", "boltss") ++
      Seq.fill(2)("ring") ++ Seq.fill(2)("rings") ++ Seq("xylophone"))
      .toDF("name")
    val r = Er.resolveEntities(df, "name", 1)
      .as[(String, Long, String, Long, Long)].collect().toSet
    assert(r == Set(
      ("bolt", 3L, "bolt", 3L, 5L),
      ("bolts", 1L, "bolt", 3L, 5L),
      ("boltss", 1L, "bolt", 3L, 5L),
      ("ring", 2L, "ring", 2L, 4L),
      ("rings", 2L, "ring", 2L, 4L),
      ("xylophone", 1L, "xylophone", 1L, 1L)))
    val rp = Er.resolveEntities(df.repartition(5), "name", 1)
      .as[(String, Long, String, Long, Long)].collect().toSet
    assert(rp == r, "partitioning-invariant")
  }

  test("editJoin pre-flight: tight budget throws naming the measured " +
      "mass; generous budget is a no-op") {
    val names = Seq(
      "cat", "cart", "carts", "bat", "cast",
      "red bolt", "old bolt", "red bolts", "redd bolt",
      "xylophone", "hello world", "hello, world",
      "aria", "bria", "small ring", "small ping")
    val df = names.flatMap(n => Seq(n, n)).toDF("name")
    val full = brute(df, "name", 2)

    // tight budget: the join must NOT run
    val ex = intercept[IllegalArgumentException] {
      Er.editJoin(df, "name", 2, maxCandidatePairs = 1L).count()
    }
    assert(ex.getMessage.contains("pre-flight") &&
      ex.getMessage.contains("candidate pairs, over the budget of 1."),
      ex.getMessage)

    // generous budget: pre-flight passes, result identical to brute
    val g = Er.editJoin(df, "name", 2, maxCandidatePairs = 1000000L)
      .select(col("name_a"), col("name_b"), col("dist"))
      .as[(String, String, Long)].collect().toSet
    assert(g == full)
  }

  test("resolveEntities pre-flight: tight budget throws; a budget that " +
      "fits resolves every name") {
    val df = (Seq.fill(3)("bolt") ++ Seq("bolts", "boltss") ++
      Seq.fill(2)("ring") ++ Seq.fill(2)("rings") ++ Seq("xylophone"))
      .toDF("name")
    intercept[IllegalArgumentException] {
      Er.resolveEntities(df, "name", 1, maxCandidatePairs = 1L).count()
    }
    val r = Er.resolveEntities(df, "name", 1, maxCandidatePairs = 1000000L)
      .as[(String, Long, String, Long, Long)].collect()
    assert(r.map(_._1).toSet ==
      Set("bolt", "bolts", "boltss", "ring", "rings", "xylophone"))
    assert(r.forall { case (_, n, _, nv, cr) => n >= 1 && nv >= 1 && cr >= n })
  }

  test("editJoin: multiplicities carried; exact dups never pair; " +
      "partitioning-invariant") {
    val df = Seq("bolt", "bolt", "bolt", "bold", "jolt")
      .toDF("name")
    val r = Er.editJoin(df, "name", 1)
      .as[(String, String, Long, Long, Long)].collect().toSet
    assert(r == Set(("bold", "bolt", 1L, 1L, 3L), ("bolt", "jolt", 1L, 3L, 1L)))
    val rp = Er.editJoin(df.repartition(7), "name", 1)
      .as[(String, String, Long, Long, Long)].collect().toSet
    assert(rp == r)
  }
}

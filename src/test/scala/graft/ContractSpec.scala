package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.queries.Query

/** The driver contract's own invariants — cheap structural checks that
  * catch a dangling registry entry at `sbt test` time instead of at the
  * driver's oracle gate. */
class ContractSpec extends AnyFunSuite {
  test("every query has an oracle and every oracle has a query") {
    val n = SparkEntry.registry.size
    assert(SparkEntry.queries.size == n && SparkEntry.oracleSql.size == n)
    SparkEntry.registry.foreach(q =>
      assert(q.oracle.trim.nonEmpty, s"${q.name} has empty oracle SQL"))
  }

  test("query names and q-numbers are unique and well-formed") {
    // the registry Seq, not the derived maps: a Map keeps one of two
    // equal keys, so a name declared twice would vanish from it
    val names = SparkEntry.registry.map(_.name)
    assert(names.distinct.size == names.size,
      names.diff(names.distinct).sorted)
    assert(names.forall(_.matches("q\\d+_[a-z0-9_]+")), names.filterNot(
      _.matches("q\\d+_[a-z0-9_]+")))
    // q-numbers are unique too: two names sharing a number would make
    // ledger references ambiguous
    val nums = names.map(_.takeWhile(_ != '_'))
    assert(nums.distinct.size == nums.size, nums.diff(nums.distinct).sorted)
  }

  test("the registry union rejects a repeated name or q-number") {
    def q(name: String) = Query(name, (s, _) => s.emptyDataFrame, "SELECT 1")
    val ok = Seq(q("q1_a"), q("q2_b"))
    assert(Query.distinct(ok) == ok)
    val byName = intercept[IllegalArgumentException](
      Query.distinct(ok :+ q("q1_a")))
    assert(byName.getMessage.contains("q1_a"))
    val byNum = intercept[IllegalArgumentException](
      Query.distinct(ok :+ q("q2_c")))
    assert(byNum.getMessage.contains("q2"))
  }

  test("oracle SQL never pins a scale factor: sink-interchange paths " +
      "carry the __SF__ token, not a literal sfN directory") {
    SparkEntry.oracleSql.foreach { case (name, sql) =>
      assert(!sql.matches("(?s).*target/[a-z0-9_]+_sf0?\\.\\d+.*"),
        s"$name pins a literal SF dir — use SfToken")
    }
  }
}

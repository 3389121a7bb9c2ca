package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One certified query: its Spark body, run on a session and a scale
  * factor directory, and the DuckDB SQL its result must hash-match.
  * Declaring both in one record gives every query exactly one oracle. */
private[graft] final case class Query(
    name: String,
    run: (SparkSession, String) => DataFrame,
    oracle: String)

private[graft] object Query {

  /** `qs` unchanged once no two records share a name or a q-number (the
    * `qN` prefix); otherwise fails, naming the repeats. */
  def distinct(qs: Seq[Query]): Seq[Query] = {
    def repeats(keys: Seq[String]): Seq[String] =
      keys.groupBy(identity).collect { case (k, v) if v.size > 1 => k }
        .toSeq.sorted
    val names = qs.map(_.name)
    require(repeats(names).isEmpty,
      s"query names declared twice: ${repeats(names).mkString(", ")}")
    val nums = names.map(_.takeWhile(_ != '_'))
    require(repeats(nums).isEmpty,
      s"q-numbers declared twice: ${repeats(nums).mkString(", ")}")
    qs
  }
}

package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // optional 3rd arg: regex over query names, for fast local iteration
    val Array(sfDir, outDir) = args.take(2)
    val nameFilter = args.lift(2).map(_.r)
    // Bench's session posture (AQE, coalescing, skew-join): the
    // correctness dump checks the plans the bench times
    val spark = graft.conf.Sessions.forMain("graft-verify")
    new java.io.File(outDir).mkdirs()
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // Sink-interchange oracles (q41/q106/q144) embed SfToken in their
    // read paths; substitute the ACTIVE sf basename so the oracle reads
    // the files this run's Spark side just wrote — valid at every SF.
    val sfBase = sfDir.stripSuffix("/").split('/').last
    val json = SparkEntry.oracleSql
      .map { case (k, v) =>
        s"${q(k)}: ${q(v.replace(SparkEntry.SfToken, sfBase))}" }
      .mkString("{", ",", "}")
    // Written BEFORE the query loop (it depends only on the declared
    // SQL, not on any query result): round 15's driver verify produced
    // an EMPTY correctness artifact (VERIFY_r15 n_queries: 0) — if that
    // run died or was cut off mid-loop, an end-of-run oracle_sql.json
    // write zeroes the whole round, whereas with the file first every
    // query dump completed before the cut remains scoreable.
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    SparkEntry.queries
      .filter { case (name, _) =>
        nameFilter.forall(_.findFirstIn(name).isDefined) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}

package graft

/** Scratch plan-capture harness (not part of the driver contract):
  * writes `.explain("formatted")` output for the named queries to
  * `plans/<tag>/<query>_<suffix>.txt` — the optimization rounds' plan
  * evidence files. Runs in [[Bench]]'s session
  * ([[graft.conf.Sessions.forMain]]) so the captured plan is the plan
  * the bench actually runs.
  *
  * Usage: runMain graft.PlanDump <tag> <suffix> <query...>
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val Array(tag, suffix) = args.take(2)
    val names = args.drop(2).toSeq
    val spark = graft.conf.Sessions.forMain("graft-plandump")
    val dir = java.nio.file.Paths.get("plans", tag)
    java.nio.file.Files.createDirectories(dir)
    names.foreach { n =>
      try {
        val df = SparkEntry.queries(n)(spark, sfDir)
        val txt = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        java.nio.file.Files.writeString(dir.resolve(s"${n}_$suffix.txt"), txt)
        println(s"[plandump] wrote ${n}_$suffix.txt (${txt.length} chars)")
      } catch { case e: Throwable =>
        System.err.println(s"[plandump] $n failed: $e")
      }
    }
    spark.stop()
  }
}

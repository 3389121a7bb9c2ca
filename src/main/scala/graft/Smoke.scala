package graft

/** Mirrors the driver's t1 smoke: `SparkEntry.entry` must return rows > 0
  * on sf0.001. Run: `sbt "runMain graft.Smoke"`. */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = graft.conf.Sessions.forMain("graft-smoke")
    val df = SparkEntry.entry(spark)
    val n = df.count()
    df.show(5, truncate = false)
    println(s"ENTRY_ROWS=$n")
    spark.stop()
    assert(n > 0, "entry returned no rows")
  }
}

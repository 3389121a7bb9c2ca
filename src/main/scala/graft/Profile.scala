package graft

/** Scratch profiling harness (not part of the driver contract).
  *
  * Times each named query in Bench's session, after [[Bench.warmUp]],
  * with [[Bench.timeOnce]] (full-output xxhash64 checksum, System.gc()
  * outside the timed region), over
  * two BACK-TO-BACK timings per query — and prints pass1/pass2/min, so
  * its numbers are directly comparable to the driver's BENCH artifact
  * when adjudicating a drift. Heap comes from the forked JVM's -Xmx
  * (`SPARK_DRIVER_MEM=48g sbt "runMain graft.Profile q62..."` — a
  * `spark.driver.memory` conf here would be a no-op in an
  * already-running local-mode JVM).
  *
  * Usage: runMain graft.Profile [queryName...]  (default: all, sorted)
  */
object Profile {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.conf.Sessions.forMain("graft-profile")
    Bench.warmUp(spark, sfDir)
    val names = if (args.nonEmpty) args.toSeq
      else SparkEntry.queries.keys.toSeq.sorted
    names.foreach { n =>
      val passes = Seq.fill(2)(Map(n -> Bench.timeOnce(spark, sfDir, n)))
      val Seq((_, min)) = Bench.minFold(Seq(n), passes)
      val err = Bench.allFailMessage(n, passes).fold("")(e => s"  error=${e._2}")
      println(f"$n%-28s pass1=${passes(0)(n)._1}%8.2f s  " +
        f"pass2=${passes(1)(n)._1}%8.2f s  min=$min%8.2f s$err")
    }
    spark.stop()
  }
}

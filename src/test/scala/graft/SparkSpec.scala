package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for specs — one session per suite. */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  def sf(name: String): String = s"/root/testdata/$name"

  /** Call sites of the Spark jobs `body` starts, in start order (each
    * job's result stage is named for its call site): a listener over a
    * job group, drained by a marker job. A job that a SQL execution
    * runs also names, in brackets, the call site of the action that
    * started the execution — adaptive execution submits its stages
    * from a thread pool, so their own call site names no caller. */
  def jobSites(group: String)(body: => Unit): Seq[String] = {
    import scala.jdk.CollectionConverters._
    import org.apache.spark.scheduler._
    val sc = spark.sparkContext
    val marker = "at SparkSpec.scala"
    val sites = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val execSites =
      new java.util.concurrent.ConcurrentHashMap[String, String]()
    val listener = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
          execSites.put(s.executionId.toString, s.description)
        case _ =>
      }
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null &&
            e.properties.getProperty("spark.jobGroup.id") == group)
          sites.add(e.stageInfos.maxBy(_.stageId).name +
            Option(e.properties.getProperty("spark.sql.execution.id"))
              .flatMap(id => Option(execSites.get(id)))
              .fold("")(site => s" [$site]"))
    }
    sc.addSparkListener(listener)
    // no group description: a SQL execution then takes its caller's
    // call site as its description
    sc.setJobGroup(group, null)
    try {
      body
      // the listener bus delivers in order: once the marker job is
      // seen, every job `body` started has been seen before it
      sc.parallelize(Seq(1), 1).count()
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (!sites.asScala.exists(_.contains(marker)) &&
          System.nanoTime() < deadline) Thread.sleep(20)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
    assert(sites.asScala.exists(_.contains(marker)), "marker job not seen")
    sites.asScala.toSeq.takeWhile(!_.contains(marker))
  }
}

object SparkSpec {
  /** Built with the engine's `file:` filesystem ([[graft.conf.Sessions]]'
    * `LocalFsConfs`): Hadoop caches the first `file:` `FileSystem` of
    * the JVM for every later suite, so it must be the class the engine
    * runs. */
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .config(graft.conf.Sessions.LocalFsConfs)
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft-warehouse").toString)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

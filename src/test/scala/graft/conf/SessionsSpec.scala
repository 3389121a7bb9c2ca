package graft.conf

import java.net.URI
import org.apache.hadoop.fs.{FileContext, FileSystem}

class SessionsSpec extends graft.SparkSpec {

  test("recommendedConfs: the documented production contract, validated") {
    val c = Sessions.recommendedConfs(2048, 128L << 20)
    // the Barrier reliable-mode GC contract (context-creation-time conf)
    assert(c("spark.cleaner.referenceTracking.cleanCheckpoints") == "true")
    // AQE + skew handling on
    assert(c("spark.sql.adaptive.enabled") == "true" &&
      c("spark.sql.adaptive.skewJoin.enabled") == "true" &&
      c("spark.sql.adaptive.coalescePartitions.enabled") == "true")
    // sized, not defaulted
    assert(c("spark.sql.shuffle.partitions") == "2048")
    assert(c("spark.sql.files.maxPartitionBytes") == (128L << 20).toString)
    // oracle-parity timestamp semantics
    assert(c("spark.sql.session.timeZone") == "UTC" &&
      c("spark.sql.legacy.parquet.nanosAsLong") == "true")
    intercept[IllegalArgumentException] { Sessions.recommendedConfs(0, 1L << 30) }
    intercept[IllegalArgumentException] { Sessions.recommendedConfs(64, 1024L) }
  }

  test("recommendedConfs carries the fork-free file: classes; a session " +
      "built with them resolves file: to them through both Hadoop APIs") {
    val c = Sessions.recommendedConfs(4, 128L << 20)
    assert(Sessions.LocalFsConfs.keySet == Set("spark.hadoop.fs.file.impl",
      "spark.hadoop.fs.AbstractFileSystem.file.impl"))
    assert(Sessions.LocalFsConfs.forall { case (k, v) => c.get(k).contains(v) })
    // the spec session is built with the same map (graft.SparkSpec)
    val hc = spark.sparkContext.hadoopConfiguration
    val fs = FileSystem.get(URI.create("file:///"), hc)
    assert(fs.getClass == classOf[ForkFreeLocalFileSystem])
    assert(FileSystem.getLocal(hc).getRaw.getClass ==
      classOf[ForkFreeRawLocalFileSystem])
    val afs = FileContext.getLocalFSFileContext(hc).getDefaultFileSystem
    assert(afs.getClass == classOf[ForkFreeLocalFs])
    assert(afs.asInstanceOf[ForkFreeLocalFs].getRawFs.getClass ==
      classOf[ForkFreeRawLocalFs])
  }

  // Comments are blanked first (graft.SourceScan), so a scaladoc that
  // names the builder does not count. The match spans layout
  // (`SparkSession\n.builder()`) and also catches the
  // `SparkSession.Builder` class and a selector import of `builder`.
  // Limit: a bare `builder()` after a wildcard `import SparkSession._`
  // is not caught.
  private val builderCall =
    raw"SparkSession\s*\.\s*(?:\{[^}]*)?\b[Bb]uilder\b".r
  private def buildsSession(src: String): Boolean =
    builderCall.findFirstIn(graft.SourceScan.stripComments(src)).isDefined

  test("only conf/Sessions.scala builds a SparkSession under src/main") {
    assert(buildsSession("val s = SparkSession\n  .builder()\n  .getOrCreate()"))
    assert(buildsSession("import org.apache.spark.sql.SparkSession.{builder => b}"))
    assert(buildsSession("new SparkSession.Builder()"))
    assert(!buildsSession("/** use SparkSession.builder here */ val x = 1"))
    assert(!buildsSession("// SparkSession.builder\nval x = 1"))
    val builders = graft.SourceScan.mainFilesMatching(builderCall)
    assert(builders == Set("graft/conf/Sessions.scala"),
      s"SparkSession.builder outside conf/Sessions.scala: " +
        (builders - "graft/conf/Sessions.scala").toSeq.sorted.mkString(", "))
  }
}

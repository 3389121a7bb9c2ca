package graft.conf

import java.net.URI
import java.nio.file.{Files, Path => NioPath}
import scala.jdk.CollectionConverters._
import scala.util.Try
import graft.SparkSpec
import graft.ops.Sources
import graft.streaming.StreamOps
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileContext, FileStatus, FileSystem, Path,
  RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode

class LocalFsSpec extends SparkSpec {
  import spark.implicits._

  private val conf = {
    val c = new Configuration()
    c.set("fs.permissions.umask-mode", "027")
    c
  }
  private def init[F <: FileSystem](fs: F): F = {
    fs.initialize(URI.create("file:///"), conf); fs }
  private val ours = init(new ForkFreeRawLocalFileSystem)
  private val hadoop = init(new RawLocalFileSystem)
  /** FileContexts over our `ForkFreeLocalFs` and Hadoop's `LocalFs`. */
  private def fileContext(ours: Boolean): FileContext = {
    val c = new Configuration(conf)
    if (ours) c.set("fs.AbstractFileSystem.file.impl",
      classOf[ForkFreeLocalFs].getName)
    FileContext.getFileContext(URI.create("file:///"), c)
  }

  private def mode(p: NioPath): Int =
    Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0xfff
  private def octal(m: Int): String = f"0$m%o"
  private def perm(m: String) =
    FsPermission.createImmutable(Integer.parseInt(m, 8).toShort)
  private def hp(p: NioPath) = new Path(p.toUri)

  private type Make = (Boolean, NioPath) => Unit
  private def fs(isOurs: Boolean): FileSystem = if (isOurs) ours else hadoop
  /** `make` through our class and through Hadoop's, on twin paths:
    * the modes that land, (ours, Hadoop's). */
  private def twinModes(root: NioPath, name: String)(make: Make): (Int, Int) = {
    val (a, b) = (root.resolve(s"ours-$name"), root.resolve(s"hadoop-$name"))
    make(true, a); make(false, b)
    (mode(a), mode(b))
  }

  test("setPermission, create and mkdirs land the bits Hadoop's chmod " +
      "path lands on a twin path, 0000 to 0777, under a umask") {
    val root = Files.createTempDirectory("graft-localfs-mode")
    for (m <- Seq("0000", "0600", "0644", "0700", "0755", "0777")) {
      val cases = Seq[(String, Make)](
        ("setPermission on a file", (o, p) => {
          Files.createFile(p); fs(o).setPermission(hp(p), perm(m)) }),
        ("setPermission on a directory", (o, p) => {
          Files.createDirectory(p); fs(o).setPermission(hp(p), perm(m)) }),
        ("create with a permission", (o, p) => fs(o)
          .create(hp(p), perm(m), false, 4096, 1.toShort, 1L << 20, null)
          .close()),
        ("mkdirs with a permission", (o, p) =>
          assert(fs(o).mkdirs(hp(p), perm(m)))),
        // FileContext.mkdir applies the conf's umask (027) first
        ("FileContext.mkdir", (o, p) =>
          fileContext(o).mkdir(hp(p), perm(m), false)))
      for (((what, make), i) <- cases.zipWithIndex) {
        val (a, b) = twinModes(root, s"$m-$i")(make)
        assert(a == b, s"$what, $m: ours ${octal(a)}, Hadoop ${octal(b)}")
        if (what == "FileContext.mkdir" && m == "0777")
          assert(a == Integer.parseInt("750", 8), "umask 027 not applied")
      }
    }
  }

  test("setPermission keeps Hadoop's chmod answer for a sticky bit and " +
      "on a setgid directory") {
    val root = Files.createTempDirectory("graft-localfs-special")
    val (sticky, hadoopSticky) = twinModes(root, "sticky") { (o, p) =>
      Files.createDirectory(p)
      fs(o).setPermission(hp(p),
        new FsPermission(Integer.parseInt("1777", 8).toShort))
    }
    assert(sticky == hadoopSticky && sticky == Integer.parseInt("1777", 8))
    val (setgid, hadoopSetgid) = twinModes(root, "setgid") { (o, p) =>
      Files.createDirectory(p)
      Files.setAttribute(p, "unix:mode",
        Integer.valueOf(Integer.parseInt("2755", 8)))
      fs(o).setPermission(hp(p), perm("0700"))
    }
    // chmod NNNN keeps a directory's S_ISGID
    assert(setgid == hadoopSetgid && setgid == Integer.parseInt("2700", 8),
      s"ours ${octal(setgid)}, Hadoop ${octal(hadoopSetgid)}")
  }

  /** The fields a status reports (`FileStatus.equals` is path only);
    * a failure is its exception class. */
  private def status(s: => FileStatus): Either[String, Seq[Any]] =
    Try(s).toEither.left.map(_.getClass.getName).map { s =>
      Seq(s.getPath, s.getLen, s.isDirectory, s.isSymlink,
        s.getModificationTime, s.getPermission, s.getOwner, s.getGroup,
        if (s.isSymlink) s.getSymlink else None) }

  test("getFileLinkStatus: a file's or directory's is its getFileStatus; " +
      "a symlink's is Hadoop's answer, through both Hadoop APIs") {
    val root = Files.createTempDirectory("graft-localfs-link")
    val file = Files.writeString(root.resolve("f"), "abc")
    val dir = Files.createDirectory(root.resolve("d"))
    for (p <- Seq(file, dir)) {
      assert(status(ours.getFileLinkStatus(hp(p))) ==
        status(ours.getFileStatus(hp(p))))
      assert(status(ours.getFileLinkStatus(hp(p))) ==
        status(hadoop.getFileLinkStatus(hp(p))))
    }
    val link = Files.createSymbolicLink(root.resolve("l"), file)
    val dangling = Files.createSymbolicLink(root.resolve("x"),
      root.resolve("missing"))
    val missing = root.resolve("missing")
    // a scheme-less path is one `readlink` resolves; a `file:` one is not
    for (p <- Seq(link, dangling, missing);
         path <- Seq(hp(p), new Path(p.toString))) {
      assert(status(ours.getFileLinkStatus(path)) ==
        status(hadoop.getFileLinkStatus(path)), s"$path")
      assert(status(fileContext(ours = true).getFileLinkStatus(path)) ==
        status(fileContext(ours = false).getFileLinkStatus(path)), s"$path")
    }
    assert(status(ours.getFileLinkStatus(new Path(link.toString)))
      .exists(_(3) == true), "a resolvable symlink reads as a link")
  }

  /** Commands of the processes Hadoop's filesystem classes start in
    * this JVM while `body` runs (JFR `jdk.ProcessStart`, kept when a
    * frame of its stack is in `org.apache.hadoop.fs`). The stack filter
    * leaves out one-time JVM-wide probes such as Spark's executor
    * metrics running `getconf PAGESIZE` at its first heartbeat. */
  private def fsProcessStarts(body: => Unit): Seq[String] = {
    val rec = new jdk.jfr.Recording()
    rec.enable("jdk.ProcessStart").withStackTrace()
    val out = Files.createTempFile("graft-process-starts", ".jfr")
    try {
      rec.start()
      try body finally rec.stop()
      rec.dump(out)
      jdk.jfr.consumer.RecordingFile.readAllEvents(out).asScala.toSeq
        .filter(_.getEventType.getName == "jdk.ProcessStart")
        .filter(_.getStackTrace.getFrames.asScala.exists(
          _.getMethod.getType.getName.startsWith("org.apache.hadoop.fs.")))
        .map(_.getString("command"))
    } finally { rec.close(); Files.deleteIfExists(out) }
  }

  test("Hadoop's filesystem starts no process: a partitioned parquet " +
      "write and two checkpointed sessionWindows triggers") {
    val root = Files.createTempDirectory("graft-localfs-fork")
    val df = (0 until 60).map(i => (i.toLong, i % 3)).toDF("id", "part")
    def work(tag: String): Unit = {
      Sources.writeParquetPartitioned(df, root.resolve(s"pq-$tag").toString,
        Seq("part"))
      implicit val sqlCtx = spark.sqlContext
      val in = MemoryStream[(Long, Long, Long, String, Double)]
      val q = StreamOps.sessionWindows(
          in.toDF().toDF("event_id", "ts", "user_id", "event_type", "value"),
          "30 minutes", "1 hour")
        .writeStream.format("noop")
        .option("checkpointLocation", root.resolve(s"ckpt-$tag").toString)
        .outputMode(OutputMode.Append).start()
      try {
        in.addData((1L, 0L, 1L, "click", 1.0)); q.processAllAvailable()
        in.addData((2L, 7200L * 1000000000L, 2L, "view", 2.0))
        q.processAllAvailable()
      } finally q.stop()
    }
    work("warm") // class loading and Hadoop's one-time Shell probe
    val starts = fsProcessStarts(work("measured"))
    if (starts.nonEmpty) fail(s"${starts.size} process starts, first: " +
      starts.take(3).mkString("; "))
  }
}

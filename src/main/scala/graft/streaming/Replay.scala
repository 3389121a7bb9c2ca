package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, OutputMode, StreamingQuery}
import org.apache.spark.sql.types.StructType

/** Finite stream replay — the harness the streaming certifications
  * (q255–q270, q277) run on: stage a batch frame as N parquet files
  * in a temp dir, read it back through the `maxFilesPerTrigger=1`
  * file source (so N files are N micro-batches), drain the started
  * query (`processAllAvailable`, then `stop`), and delete every temp
  * dir in a `finally` — a query that throws while draining is still
  * stopped and leaves no staging behind.
  *
  * A production stream watches its landing directory directly; the
  * staging here is certification plumbing that turns a fixture table
  * into a deterministic arrival sequence. */
private[graft] object Replay {

  /** Remove a temp staging tree — best-effort; a leftover temp dir
    * must never fail a query. */
  private def deleteRecursively(path: String): Unit =
    try {
      import scala.jdk.CollectionConverters._
      val root = java.nio.file.Paths.get(path)
      java.nio.file.Files.walk(root).iterator().asScala.toSeq
        .sortBy(-_.getNameCount)
        .foreach(p => java.nio.file.Files.deleteIfExists(p))
    } catch { case _: Throwable => () }

  /** A fresh temp dir the caller owns (q263's parquet sink, which the
    * returned frame reads after the harness exits). */
  def tempDir(tag: String): String =
    java.nio.file.Files.createTempDirectory(tag).toString

  /** Run `body` with a fresh temp dir, deleted after `body` returns or
    * throws. */
  def withTempDir[A](tag: String)(body: String => A): A = {
    val dir = tempDir(tag)
    try body(dir) finally deleteRecursively(dir)
  }

  /** Append `df` to `dir` as `files` parquet files (one per non-empty
    * partition). Appending, so a second call adds files to a live
    * source dir (q263's restart). */
  def stageFiles(df: DataFrame, dir: String, files: Int = 4): Unit =
    df.repartition(files).write.mode("append").parquet(dir)

  /** The replay source: the parquet files under `dir`, one file per
    * micro-batch. */
  def source(s: SparkSession, schema: StructType, dir: String): DataFrame =
    s.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(dir)

  /** [[replayStaged]] over `df` staged as `files` parquet files. */
  def replay[A](df: DataFrame, tag: String, files: Int = 4)(
      query: DataFrame => A): A =
    replayStaged(df.sparkSession, df.schema, tag)(
      stageFiles(df, _, files))(query)

  /** Fill a fresh temp dir with `stage`, run `query` over the replay
    * [[source]] on it, and delete the dir after. `query` must drain
    * its stream before returning ([[drain]], [[toMemory]],
    * [[lastBatch]]). */
  def replayStaged[A](s: SparkSession, schema: StructType, tag: String)(
      stage: String => Unit)(query: DataFrame => A): A =
    withTempDir(s"${tag}_stream_src") { dir =>
      stage(dir)
      query(source(s, schema, dir))
    }

  /** [[replayStaged]] over the events frame `ev` staged with
    * [[stageEventsWithSentinels]]. */
  def replayWithSentinels[A](ev: DataFrame, tag: String, delayMs: Long,
                             widthMs: Long)(query: DataFrame => A): A =
    replayStaged(ev.sparkSession, ev.schema, tag)(
      stageEventsWithSentinels(ev, _, delayMs, widthMs))(query)

  /** Process everything the query's sources hold, then stop it —
    * stopped even when processing throws. */
  def drain(q: StreamingQuery): Unit =
    try q.processAllAvailable() finally q.stop()

  /** Drain `out` into a uniquely named Append-mode memory sink and
    * return the sink's table (rows held in memory, so the staging may
    * go). */
  def toMemory(out: DataFrame, tag: String): DataFrame = {
    val sink = s"${tag}_sink_${java.util.UUID.randomUUID().toString
      .replace("-", "")}"
    drain(StreamOps.toMemorySink(out, sink, OutputMode.Append))
    out.sparkSession.table(sink)
  }

  /** Run `emit` with a callback that keeps the rows of the latest frame
    * handed to it, and return that frame as a local DataFrame.
    * Nothing emitted (e.g. an empty filtered frame staged no part
    * files) fails with `ifNone`, not an opaque NPE downstream. */
  def lastFrame(s: SparkSession, ifNone: String)(
      emit: (DataFrame => Unit) => Unit): DataFrame = {
    val last = new java.util.concurrent.atomic.AtomicReference[
      (Array[Row], StructType)]()
    emit(df => last.set((df.collect(), df.schema)))
    val v = last.get()
    require(v != null, ifNone)
    s.createDataFrame(java.util.Arrays.asList(v._1: _*), v._2)
  }

  /** Start the foreachBatch writer `wire` builds around its sink, drain
    * it, and return the LAST micro-batch's frame — for the Complete-mode
    * monitors, whose final batch is the table over all rows seen. */
  def lastBatch(s: SparkSession)(
      wire: ((DataFrame, Long) => Unit) => DataStreamWriter[Row]): DataFrame =
    lastFrame(s, "stream produced no micro-batches") { keep =>
      drain(wire((batch, _) => keep(batch)).start())
    }

  /** Run `body` (a stream-start/processAllAvailable harness) with
    * `spark.sql.shuffle.partitions` at `min(n, session setting)`,
    * restoring the session value after, also when `body` throws.
    *
    * Why: a stateful micro-batch operator instantiates one state store
    * per shuffle partition, and every store pays a delta-file write +
    * commit per micro-batch — cost proportional to the partition
    * count, not the data — and a stream-static join pays the same
    * per-trigger exchange tax. Two measured counts:
    *   - 4 (the default) for stateful operators: below it the saved
    *     commits no longer pay for the lost compute parallelism
    *     (q259's stream-stream interval join: 8.1 s at 2 partitions,
    *     5.7 s at 4);
    *   - 1 for the stateless stream-static gates (q260, q270), whose
    *     only cost is the exchange: q270 3.5 s at 1 partition against
    *     5.2 s.
    * The session setting stays the ceiling, so a production deployment
    * sizes its state by sizing `spark.sql.shuffle.partitions`.
    *
    * The count is fixed at a query's first start: Spark records
    * `spark.sql.shuffle.partitions` in the checkpoint's offset log, and
    * a stateful query restarted from that checkpoint keeps it whatever
    * the session says at restart (StreamOpsSpec pins it). States are
    * hash-partitioned, so the setting changes layout, never results. */
  def withStatePartitions[A](s: SparkSession, n: Int = 4)(body: => A): A = {
    val prev = s.conf.get("spark.sql.shuffle.partitions")
    s.conf.set("spark.sql.shuffle.partitions", math.min(n, prev.toInt).toString)
    try body
    finally s.conf.set("spark.sql.shuffle.partitions", prev)
  }

  /** Stage the 5-column events frame into `staged` as 4 parquet files
    * plus two far-future sentinel rows (user_id −1 / event_type
    * "__wm_sentinel__" — key values absent from the fixture), for the
    * watermark-driven streaming certifications (q257/q261/q262/q268). The
    * file source replays files in MODIFICATION-TIME order, so the
    * sentinels' mtimes are pushed explicitly after the fixture files —
    * a deterministic two-extra-batch tail, no sleeps. With watermark
    * delay `delayMs` the sentinels advance the final watermark to
    * max(ts) + 3·widthMs — past every real window/session end — while
    * their own key's window/session stays OPEN forever (wm never
    * reaches maxTs + delayMs + 2·widthMs), so sentinels flush every
    * real group and emit nothing themselves, in stream OR batch. */
  private def stageEventsWithSentinels(ev: DataFrame, staged: String,
                                       delayMs: Long, widthMs: Long): Unit = {
    val s = ev.sparkSession
    ev.repartition(4).write.mode("overwrite").parquet(staged)
    val maxTs = ev.agg(max(col("ts"))).head().getLong(0)
    val s1 = maxTs + (delayMs + 2 * widthMs) * 1000000L
    def listed() = new java.io.File(staged).listFiles()
      .filter(f => f.getName.endsWith(".parquet")).map(_.toPath).toSet
    import s.implicits._
    def appendSentinel(ts: Long, mtimeBump: Long): Unit = {
      val before = listed()
      Seq((-1L, ts, -1L, "__wm_sentinel__", 0.0))
        .toDF("event_id", "ts", "user_id", "event_type", "value")
        .repartition(1).write.mode("append").parquet(staged)
      val t = java.nio.file.attribute.FileTime.fromMillis(
        System.currentTimeMillis() + mtimeBump)
      (listed() -- before).foreach(
        java.nio.file.Files.setLastModifiedTime(_, t))
    }
    appendSentinel(s1, 60000L)
    appendSentinel(s1 + widthMs * 1000000L, 120000L)
  }
}

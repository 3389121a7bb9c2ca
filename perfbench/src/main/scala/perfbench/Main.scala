package perfbench

import java.io.{File, PrintWriter}
import scala.collection.mutable
import org.apache.spark.sql.SparkSession
import graft.conf.Sessions

/** Runs one workload in this JVM and writes its raw record (set-up
  * times, job times, operation latencies, check outcomes; with tracing,
  * Spark jobs, triggers and spans) as JSON for `run.py` to summarise.
  *
  * Usage: perfbench.Main <workload> <seed> <seconds> <trace 0|1> <cores> <workdir> <out.json>
  */
object Main {
  val SetupRounds = 3

  def session(cores: Int, work: String): SparkSession = {
    val b = SparkSession.builder().master(s"local[$cores]").appName("perfbench")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.sql.streaming.numRecentProgressUpdates", "10000")
    val spark = Sessions.recommendedConfs(2 * cores, 128L << 20)
      .foldLeft(b) { case (acc, (k, v)) => acc.config(k, v) }.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  private val t00 = System.nanoTime()
  private def phase(what: String): Unit =
    System.err.println(f"[perfbench] ${Workloads.seconds(t00)}%7.2f s  $what")

  def main(args: Array[String]): Unit = {
    val Array(name, seedS, secondsS, traceS, coresS, work, outPath) = args
    val (seed, seconds, trace, cores) = (seedS.toLong, secondsS.toDouble, traceS == "1", coresS.toInt)
    val workload = Workloads(name)
    Heap.install()

    // set-up, repeated: fresh session, inputs generated and staged
    val setupS = mutable.ArrayBuffer[Double]()
    var spark: SparkSession = null
    for (r <- 1 to SetupRounds) {
      val t0 = System.nanoTime()
      if (spark != null) { workload.close(); spark.stop() }
      spark = session(cores, work)
      workload.setup(spark, seed, s"$work/data")
      setupS += Workloads.seconds(t0)
      phase(s"set-up round $r")
    }

    val jobs = mutable.ArrayBuffer[(Int, Boolean, JobOut)]()
    def runJob(i: Int, traced: Boolean): Unit = {
      Spans.iter = i
      val out = try Spans("job") { workload.job(spark, i) }
      catch { case e: Exception => JobOut(0, 0, Nil, Some(s"${e.getClass.getName}: ${e.getMessage}")) }
      out.error.foreach(e => System.err.println(s"[perfbench] job $i failed: $e"))
      jobs += ((i, traced, out))
    }
    for (w <- 1 to workload.warmups) runJob(-w, traced = false) // checked like every job
    phase("warm-up")
    val warm = jobs.toSeq
    jobs.clear()

    val jobL = new JobListener
    val trigL = new TriggerListener
    Heap.peakBytes = 0L
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    // A batch workload measures its one job, cold, as a fresh application
    // does. A windowed one starts a job while one like the last still
    // ends inside the window. A traced run mixes untraced and traced jobs
    // so tracing overhead is measured in the same JVM: a batch run makes
    // five (cold, then traced/untraced/untraced/traced, which cancels a
    // linear warm-up trend), a windowed run alternates, at least two.
    val (minJobs, maxJobs) =
      if (!workload.windowed) { if (trace) (5, 5) else (1, 1) }
      else (if (trace) 2 else 1, Int.MaxValue)
    var i = 1
    var last = 0.0
    while (!workload.exhausted &&
        (i <= minJobs || (i <= maxJobs && System.nanoTime() + last * 1e9 < deadline))) {
      val traced = trace && (if (workload.windowed) i % 2 == 0 else i == 2 || i == 5)
      if (traced) {
        spark.sparkContext.addSparkListener(jobL); spark.streams.addListener(trigL)
        Spans.enabled = true
      }
      runJob(i, traced)
      last = jobs.last._3.wallS
      if (traced) {
        Spans.enabled = false
        org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
        spark.sparkContext.removeSparkListener(jobL); spark.streams.removeListener(trigL)
      }
      i += 1
    }
    phase(s"measured ${jobs.size} jobs")
    val peakHeapMb = Heap.peakBytes / 1048576.0
    workload.close()
    spark.stop()

    phase("stopped")
    val all = warm ++ jobs.toSeq
    val w = new PrintWriter(new File(outPath), "UTF-8")
    try w.write(Json.obj(
      "workload" -> name, "seed" -> seed, "cores" -> cores, "trace" -> trace,
      "setup_s" -> setupS.toSeq,
      "attempted" -> all.size, "failed" -> all.count(_._3.error.isDefined),
      "errors" -> all.flatMap(_._3.error),
      "jobs" -> jobs.toSeq.map { case (i, t, o) =>
        Json.obj("iter" -> i, "traced" -> t, "wall_s" -> o.wallS, "cpu_s" -> o.cpuS, "ops_ms" -> o.opsMs,
          "ok" -> o.error.isEmpty) },
      "peak_heap_mb" -> peakHeapMb,
      "spark_jobs" -> jobL.jobs.values.toSeq.map { j =>
        Json.obj("id" -> j.id, "iter" -> j.iter, "start" -> j.start, "end" -> j.end,
          "stream" -> j.streamQuery, "callsite" -> j.callSite, "parent" -> j.parentSpan,
          "tasks" -> j.tasks, "failed_tasks" -> j.failedTasks, "task_ms" -> j.taskMs,
          "cpu_ns" -> j.cpuNs, "gc_ms" -> j.gcMs, "shuffle_write" -> j.shuffleWrite,
          "shuffle_read" -> j.shuffleRead, "spill" -> j.spill, "output" -> j.output) },
      "triggers" -> trigL.triggers.toSeq.map { t =>
        Json.obj("iter" -> t.iter, "batch" -> t.batch, "rows" -> t.inputRows,
          "durations" -> t.durations, "state_rows" -> t.stateRows,
          "state_bytes" -> t.stateBytes, "state_commit_ms" -> t.stateCommitMs) },
      "spans" -> Spans.done.toSeq.map { s =>
        Json.obj("id" -> s.id, "name" -> s.name, "start" -> s.start, "end" -> s.end,
          "parent" -> s.parent, "iter" -> s.iter) }
    ).s)
    finally w.close()
  }
}

/** Minimal JSON writer for the raw record. */
object Json {
  def obj(kv: (String, Any)*): Raw = Raw(kv.map { case (k, v) => s"${str(k)}:${enc(v)}" }.mkString("{", ",", "}"))
  case class Raw(s: String) { override def toString: String = s }
  private def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""; case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
  private def enc(v: Any): String = v match {
    case r: Raw => r.s
    case s: String => str(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case b: Boolean => b.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => m.map { case (k, x) => s"${str(k.toString)}:${enc(x)}" }.mkString("{", ",", "}")
    case xs: Seq[_] => xs.map(enc).mkString("[", ",", "]")
    case null => "null"
    case other => str(other.toString)
  }
}

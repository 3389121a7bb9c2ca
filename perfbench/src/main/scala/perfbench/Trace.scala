package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.util.concurrent.atomic.AtomicLong
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One recorded interval: a benchmark call into a layer, or (parent set
  * by the listener) a Spark job that call started. Times are epoch ms. */
case class Span(id: Long, name: String, start: Long, end: Long,
                parent: Long, iter: Int)

/** Spans around the benchmark's own calls. Off unless `enabled`; a span
  * is then only a pair of clock reads and a list append. */
object Spans {
  @volatile var enabled = false
  @volatile var iter = 0
  private val ids = new AtomicLong(0)
  private val stack = mutable.Stack[Long]()
  @volatile private var top = 0L
  val done = mutable.ArrayBuffer[Span]()

  /** Innermost open span (0 when none), read by the listener thread. */
  def current: Long = top

  def apply[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val parent = top
      stack.push(id); top = id
      val t0 = System.currentTimeMillis()
      try body
      finally {
        val t1 = System.currentTimeMillis()
        stack.pop(); top = if (stack.isEmpty) 0L else stack.top
        done.synchronized { done += Span(id, name, t0, t1, parent, iter) }
      }
    }
}

/** Per-job record assembled from listener events. */
final class JobRec(val id: Int, val start: Long, val streamQuery: String,
                   val callSite: String, val parentSpan: Long, val iter: Int) {
  var end = 0L
  var tasks = 0L; var failedTasks = 0L
  var taskMs = 0L; var cpuNs = 0L; var gcMs = 0L
  var shuffleWrite = 0L; var shuffleRead = 0L; var spill = 0L; var output = 0L
}

/** Streaming progress of one trigger, with the job it belongs to. */
case class Trigger(iter: Int, batch: Long, inputRows: Long,
                   durations: Map[String, Long], stateRows: Long,
                   stateBytes: Long, stateCommitMs: Long)

/** The traced run's `SparkListener`: jobs, their call sites (from the
  * SQL execution that ran them, or the job's final stage for non-SQL
  * jobs) and their task metrics. */
class JobListener extends SparkListener {
  private val execSites = mutable.Map[Long, String]()
  private val stageJob = mutable.Map[Int, JobRec]()
  val jobs = mutable.LinkedHashMap[Int, JobRec]()

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => synchronized {
      execSites(s.executionId) = s.description + "\n" + s.details }
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    def prop(k: String) = props.flatMap(p => Option(p.getProperty(k)))
    val execId = prop("spark.sql.execution.id").map(_.toLong).getOrElse(-1L)
    val last = if (e.stageInfos.isEmpty) None else Some(e.stageInfos.maxBy(_.stageId))
    val site = execSites.getOrElse(execId,
      last.map(s => s.name + "\n" + s.details).getOrElse(""))
    val rec = new JobRec(e.jobId, e.time, prop("sql.streaming.queryId").getOrElse(""),
      site, Spans.current, Spans.iter)
    jobs(e.jobId) = rec
    e.stageIds.foreach(s => if (!stageJob.contains(s)) stageJob(s) = rec)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageJob.get(e.stageId).foreach { r =>
      r.tasks += 1
      if (!e.taskInfo.successful) r.failedTasks += 1
      r.taskMs += e.taskInfo.duration
      Option(e.taskMetrics).foreach { m =>
        r.cpuNs += m.executorCpuTime
        r.gcMs += m.jvmGCTime
        r.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        r.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        r.spill += m.diskBytesSpilled + m.memoryBytesSpilled
        r.output += m.outputMetrics.bytesWritten
      }
    }
  }
}

/** Trigger progress for every streaming query. The untraced run reads
  * the same numbers from `StreamingQuery.recentProgress` instead. */
class TriggerListener extends StreamingQueryListener {
  val triggers = mutable.ArrayBuffer[Trigger]()
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    val ops = p.stateOperators.toSeq
    synchronized {
      triggers += Trigger(Spans.iter, p.batchId, p.numInputRows,
        p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
        ops.map(_.numRowsTotal).sum, ops.map(_.memoryUsedBytes).sum, ops.map(_.commitTimeMs).sum)
    }
  }
}

/** Peak heap still live after a collection, from GC notifications. */
object Heap {
  @volatile var peakBytes = 0L
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet

  def install(): Unit =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case em: NotificationEmitter =>
        em.addNotificationListener(new NotificationListener {
          def handleNotification(n: Notification, hb: Any): Unit =
            if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
              val info = GarbageCollectionNotificationInfo.from(
                n.getUserData.asInstanceOf[CompositeData])
              val live = info.getGcInfo.getMemoryUsageAfterGc.asScala
                .collect { case (k, u) if heapPools(k) => u.getUsed }.sum
              if (live > peakBytes) peakBytes = live
            }
        }, null, null)
      case _ =>
    }
}

package graftbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentLinkedQueue
import javax.management.{Notification, NotificationEmitter}
import javax.management.openmbean.CompositeData

import scala.jdk.CollectionConverters._

import com.sun.management.GarbageCollectionNotificationInfo
import graft.sql.GraftContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval on the trace timeline (`System.nanoTime` domain). */
final case class Span(op: Int, name: String, start: Long, end: Long)

/** The traced run's in-memory record. Spans and counters are recorded
  * only while `on`; each is tagged with the op current at the moment it
  * is recorded. That attribution is exact because the client is a single
  * closed loop and the harness drains Spark's listener bus at the end of
  * every traced op, so no event of one op is delivered during another.
  * Nothing is written out until the run ends. */
final class Trace {
  @volatile var on = false
  @volatile var op = -1

  val spans = new ConcurrentLinkedQueue[Span]()
  private val counters = new java.util.concurrent.ConcurrentHashMap[(Int, String), java.lang.Double]()
  val executions = new ConcurrentLinkedQueue[(Int, QueryExecution)]()

  // listener timestamps are wall-clock milliseconds; map them onto nanoTime
  private val wallOffsetNs = System.currentTimeMillis() * 1000000L - System.nanoTime()
  def msToNanos(ms: Long): Long = ms * 1000000L - wallOffsetNs

  /** Stop-the-world collections over the whole run. The JVM reports a
    * pause after it has ended, on a thread of its own, so pauses are
    * matched to ops by time, not tagged with the current op. */
  val gcPauses = new ConcurrentLinkedQueue[(Long, Long)]()

  // collection times are milliseconds of JVM uptime; map them onto nanoTime
  private val uptimeOffsetNs =
    System.nanoTime() - ManagementFactory.getRuntimeMXBean.getUptime * 1000000L
  def uptimeMsToNanos(ms: Long): Long = ms * 1000000L + uptimeOffsetNs

  def span(name: String, start: Long, end: Long): Unit =
    if (on) spans.add(Span(op, name, start, end))

  def add(name: String, v: Double): Unit =
    if (on) counters.merge((op, name), v, (a, b) => a + b)

  def counter(op: Int, name: String): Double =
    Option(counters.get((op, name))).map(_.doubleValue).getOrElse(0.0)

  def timed[T](name: String)(f: => T): T = {
    val t0 = System.nanoTime()
    try f finally span(name, t0, System.nanoTime())
  }
}

/** The SQL layer as the servers see it, with a span around each public
  * entry point they call. Snapshot rebuilds are detected from outside: a
  * read whose DataFrame belongs to a session not seen before was planned
  * on a freshly built snapshot. */
final class TracingContext(spark: SparkSession, dataDir: String, trace: Trace)
    extends GraftContext(spark, dataDir) {

  @volatile private var lastSession: SparkSession = _
  /** Counted in every timed op, traced or not (a rebuild is rare and its
    * count must not depend on which rounds are traced). */
  @volatile var counting = false
  @volatile var rebuilds = 0
  val rebuildMs = new ConcurrentLinkedQueue[Double]()

  override def executeRead(sql: String, db: Option[String]): DataFrame = {
    val t0 = System.nanoTime()
    val df = super.executeRead(sql, db)
    val t1 = System.nanoTime()
    trace.span("sql.execute_read", t0, t1)
    if (df.sparkSession ne lastSession) {
      lastSession = df.sparkSession
      if (counting) {
        rebuilds += 1
        // the read's own analysis ran inside the call too; the rest is the rebuild
        val analysis = df.queryExecution.tracker.phases.get("analysis").map(_.durationMs).getOrElse(0L)
        if (trace.on) rebuildMs.add((t1 - t0) / 1e6 - analysis)
      }
    }
    df
  }

  override def execute(sql: String): DataFrame =
    trace.timed(if (isReadOnly(sql)) "sql.execute_read" else "sql.execute_write")(super.execute(sql))

  override def versionFingerprint(df: DataFrame): Seq[(String, Long)] =
    trace.timed("sql.fingerprint")(super.versionFingerprint(df))
}

/** Catalyst phases of every query execution, and the executions
  * themselves (their scan metrics are read once the op has finished). */
final class PhaseListener(trace: Trace) extends QueryExecutionListener {
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    record(qe)

  private def record(qe: QueryExecution): Unit = if (trace.on) {
    qe.tracker.phases.foreach { case (phase, s) =>
      trace.span("catalyst." + phase, trace.msToNanos(s.startTimeMs), trace.msToNanos(s.endTimeMs))
    }
    trace.executions.add((trace.op, qe))
  }
}

/** Spark scheduler work per op: jobs (with their wall interval), stages,
  * tasks and the tasks' metrics. */
final class ExecListener(trace: Trace) extends SparkListener {
  private val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, java.lang.Long]()

  override def onJobStart(e: SparkListenerJobStart): Unit = if (trace.on) {
    jobStart.put(e.jobId, e.time)
    trace.add("exec.jobs", 1)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobStart.remove(e.jobId)).foreach { t0 =>
      trace.span("exec.job", trace.msToNanos(t0), trace.msToNanos(e.time))
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    trace.add("exec.stages", 1)
    trace.add("exec.tasks", e.stageInfo.numTasks)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Option(e.taskMetrics).foreach { m =>
    trace.add("exec.task_ms", m.executorRunTime)
    trace.add("exec.task_deser_ms", m.executorDeserializeTime)
    trace.add("exec.task_gc_ms", m.jvmGCTime)
    trace.add("exec.shuffle_bytes", m.shuffleWriteMetrics.bytesWritten)
    trace.add("exec.spill_bytes", m.memoryBytesSpilled + m.diskBytesSpilled)
    trace.add("exec.input_bytes", m.inputMetrics.bytesRead)
  }
}

object Trace extends AdaptiveSparkPlanHelper {

  /** Start recording: listeners on the root session (snapshot sessions
    * are clones and inherit its query-execution listeners). */
  def install(spark: SparkSession, trace: Trace): Unit = {
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .listenerManager.register(new PhaseListener(trace))
    spark.sparkContext.addSparkListener(new ExecListener(trace))
    ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case bean: NotificationEmitter =>
        bean.addNotificationListener((n: Notification, _: AnyRef) =>
          if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
            val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
            // concurrent cycles run beside the application; only pauses stop it
            if (!info.getGcName.contains("Concurrent")) trace.gcPauses.add(
              (trace.uptimeMsToNanos(info.getGcInfo.getStartTime), trace.uptimeMsToNanos(info.getGcInfo.getEndTime)))
          }, null, null)
      case _ =>
    }
  }

  /** Files read and files in the pinned snapshot, over the graft-table
    * scans of an execution. */
  def graftScanFiles(qe: QueryExecution): (Long, Long) = {
    val scans = collect(qe.executedPlan) {
      case s: FileSourceScanExec if s.relation.location.isInstanceOf[graft.lake.GraftFileIndex] => s
    }
    (scans.map(s => s.metrics.get("numFiles").map(_.value).getOrElse(0L)).sum,
      scans.map(_.relation.location.inputFiles.length.toLong).sum)
  }

  /** Bytes written through Hadoop's `file` scheme (its local file system
    * counts bytes but not operations). */
  def fsBytesWritten(): Long =
    org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala.filter(_.getScheme == "file")
      .map(_.getBytesWritten).sum

  def gcMillis(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ > 0).sum

  /** Total length of the union of intervals. */
  def unionLength(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }
}

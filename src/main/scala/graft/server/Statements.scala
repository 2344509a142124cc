package graft.server

import java.util.concurrent.{ConcurrentHashMap, Executors, ScheduledFuture, TimeUnit}

import org.apache.spark.{JobExecutionStatus, SparkContext}
import org.apache.spark.sql.SparkSession

/** Statement-scoped job-group control: every serving-tier statement runs
  * under its own Spark job group so it can be cancelled MID-FLIGHT — from
  * a pg-wire CancelRequest, an HTTP client that disconnected while the
  * response was streaming, or a per-statement timeout.
  *
  * Why this must exist at all: DataFusion (the reference engine,
  * `src/frontend/postgres.rs:49-75`) gets drop-to-abort for free — the
  * frontend drops the result stream and the plan unwinds. Spark does not:
  * submitted jobs keep every executor they hold until they finish or are
  * told to stop. At 100 TB a runaway statement (fat-fingered cross join,
  * missing partition filter) otherwise occupies the cluster for hours
  * with nobody listening for the result.
  *
  * Mechanics: `setJobGroup(id, …, interruptOnCancel = true)` tags every
  * job the calling thread triggers while `run` is active (toLocalIterator
  * submits its per-partition jobs on the consuming thread, so streamed
  * results are covered for their whole lifetime, not just the first job).
  * `cancel` marks the group and calls `cancelJobGroup`, which kills the
  * group's ACTIVE jobs and interrupts their task threads; the consuming
  * thread then sees Spark's cancellation exception, which `run` maps to
  * the typed [[Statements.Cancelled]] so frontends can answer with the
  * protocol-correct error (pg SQLSTATE 57014, HTTP 408) instead of a
  * generic 500/XX000. Cancellation is best-effort between jobs (pg
  * semantics): driver-side work between two jobs finishes its statement.
  */
object Statements {

  /** A statement terminated by cancel/timeout rather than by failure. */
  final class Cancelled(reason: String) extends RuntimeException(reason)

  // one daemon timer arms every statement timeout; cancellation itself is
  // cheap (a scheduler message), so a shared thread never becomes a bottleneck
  private val timer = Executors.newSingleThreadScheduledExecutor((r: Runnable) => {
    val t = new Thread(r, "graft-stmt-timeout"); t.setDaemon(true); t
  })

  // groupId -> human-readable cancel reason; presence means "this group
  // was cancelled — map the next failure out of it to Cancelled"
  private val cancelled = new ConcurrentHashMap[String, String]()

  private val seq = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Fresh process-unique job-group id for one statement scope. */
  def newGroupId(prefix: String): String = s"$prefix-${seq.incrementAndGet()}"

  /** Per-statement FAIR-scheduler pools, from a BOUNDED ring. Job groups
    * isolate cancellation but not scheduling: under Spark's default FIFO
    * root, one monster scan queues every floor query behind it until it
    * finishes — the reference gets per-query fairness for free from
    * tokio (`src/frontend/http.rs` serving). With
    * `spark.scheduler.mode=FAIR` (set by ServerMain/probes at session
    * build; it cannot change after SparkContext start) each statement
    * runs in its own pool, and FAIR's root scheduler round-robins task
    * slots ACROSS pools — the monster degrades floor latency by its
    * share, not by its runtime. The ring is bounded because Spark never
    * removes on-demand pools from the root: a pool per statement would
    * leak Pool objects (and per-scheduling-round iteration cost) forever
    * on a long-lived server. 64 pools = up to 64 CONCURRENT statements
    * with zero sharing; past that, statements share pools FIFO (two
    * simultaneous monsters landing 64 apart is the only way a floor
    * query queues behind one). Statements run in the "default" pool —
    * same behavior as FIFO mode — when the session was not built with
    * FAIR; the property set below is ignored there. */
  private val PoolRing = 64

  /** Write the FAIR allocation file for the statement-pool ring and
    * return its path (for `spark.scheduler.allocation.file`, set at
    * session build). Every pool gets `minShare` task slots: a pool BELOW
    * its minShare is scheduled before any weight-based sharing, so a
    * freshly arrived floor query's first tasks pre-empt the next wave of
    * a long scan's backlog instead of waiting for their 1/N weight share
    * — this is what keeps the floor's tail (not just its median) flat
    * under a monster scan (ProbeServe fairness leg measures both).
    * minShare is a scheduling PRIORITY, not a reservation: an idle pool
    * consumes nothing. */
  def writeFairPoolsFile(minShare: Int = 2): String = {
    val f = java.nio.file.Files.createTempFile("graft-fair-pools", ".xml")
    val pools = (0 until PoolRing).map { i =>
      s"""  <pool name="graft-pool-$i"><schedulingMode>FIFO</schedulingMode><weight>1</weight><minShare>$minShare</minShare></pool>"""
    }.mkString("\n")
    java.nio.file.Files.writeString(f,
      s"""<?xml version="1.0"?>\n<allocations>\n$pools\n</allocations>\n""")
    f.toFile.deleteOnExit()
    f.toString
  }

  private[server] def poolFor(groupId: String): String = {
    val i = groupId.lastIndexOf('-')
    val n =
      try groupId.substring(i + 1).toLong
      catch { case _: NumberFormatException => (groupId.hashCode.toLong & 0x7fffffffL) }
    s"graft-pool-${n % PoolRing}"
  }

  /** Cancel `groupId`: kills its ACTIVE jobs and fails its FUTURE job
    * submissions (sticky — a cancel that lands in the gap between two of
    * a statement's jobs, e.g. after the broadcast job and before the main
    * one, still stops the statement at its next submission). Idempotent.
    * GroupIds are PER-STATEMENT ([[newGroupId]] per `run`), so a stale
    * cancel — or a stale timeout timer — can never leak into the
    * connection's next statement. */
  def cancel(spark: SparkSession, groupId: String, reason: String): Unit = {
    cancelled.put(groupId, reason)
    // a cancel racing the statement's completion can land AFTER run()'s
    // finally removed the entry — and groupIds are never reused, so that
    // entry would otherwise live forever on a long-lived server. The
    // timer guarantees removal; 15 min is far past any window in which
    // run() could still need the reason.
    timer.schedule(new Runnable {
      def run(): Unit = { cancelled.remove(groupId); () }
    }, 15, TimeUnit.MINUTES)
    spark.sparkContext.cancelJobGroupAndFutureJobs(groupId, reason)
    sweep(spark.sparkContext, groupId, reason)
  }

  // groupIds whose statement is inside `run`
  private val inFlight = ConcurrentHashMap.newKeySet[String]()

  /** Cancel the group's jobs again every 100 ms while its statement runs.
    * The future-jobs mark does not stop a map-stage job — the kind AQE
    * submits for each shuffle stage — so a cancel landing between a
    * statement's broadcast job and its first shuffle stage would
    * otherwise let that stage run to completion (seen: a timed-out cross
    * join kept all four slots for minutes). */
  private def sweep(sc: SparkContext, groupId: String, reason: String): Unit =
    timer.schedule(new Runnable {
      def run(): Unit = if (inFlight.contains(groupId)) {
        val st = sc.statusTracker
        if (st.getJobIdsForGroup(groupId).exists(j =>
            st.getJobInfo(j).exists(_.status == JobExecutionStatus.RUNNING)))
          sc.cancelJobGroup(groupId, reason)
        sweep(sc, groupId, reason)
      }
    }, 100, TimeUnit.MILLISECONDS)

  /** Upper bound on [[awaitTasksEnded]]'s wait: past any kill latency
    * seen, so only a task that ignores its interrupt outlasts it. */
  private val TaskDrainMs = 60000L

  /** Wait, up to [[TaskDrainMs]], until no stage of `groupId`'s jobs has a
    * running task. A cancelled job ends at once, but its killed tasks
    * keep their slots until they next check for interruption — for a
    * codegen'd nested-loop join, a range batch of streamed rows later:
    * 1–5 s on 4 cores beside a 2-core JVM, over 10 s beside six busy
    * processes — and a statement submitted meanwhile queues behind them
    * and can time out too. The status store keeps up: each task's end
    * reaches it within milliseconds of the task's finish. Waiting here
    * hands the connection back only once the slots are free; an overrun
    * is logged, not thrown, since the statement's answer is already
    * "cancelled". */
  private def awaitTasksEnded(spark: SparkSession, groupId: String): Unit = {
    // the status store lags the scheduler (rate-limited task counts, often
    // 0 for tasks that started together) until the bus delivers the stage end
    org.apache.spark.sql.GraftSessions.drainListeners(spark)
    val st = spark.sparkContext.statusTracker
    def activeTasks: Int = st.getJobIdsForGroup(groupId).toSeq
      .flatMap(j => st.getJobInfo(j).toSeq.flatMap(_.stageIds.toSeq))
      .flatMap(s => st.getStageInfo(s).toSeq)
      .map(_.numActiveTasks).sum
    val deadline = System.nanoTime() + TaskDrainMs * 1000000L
    while (activeTasks > 0 && System.nanoTime() < deadline) Thread.sleep(20)
    val left = activeTasks
    if (left > 0)
      ServerLog.warn(s"cancelled statement [$groupId] still has $left running tasks " +
        s"after $TaskDrainMs ms")
  }

  /** Run `f` with the calling thread's jobs tagged to `groupId`,
    * cancelling the group after `timeoutMs` (0 = no timeout). Throws
    * [[Cancelled]] when the group was cancelled while `f` ran.
    * `groupId` must be FRESH for this statement (newGroupId) — group
    * cancellation is sticky, so a reused id would inherit old cancels. */
  def run[T](spark: SparkSession, groupId: String, desc: String,
             timeoutMs: Long)(f: => T): T = {
    val sc = spark.sparkContext
    inFlight.add(groupId)
    sc.setJobGroup(groupId, desc.take(256), interruptOnCancel = true)
    // per-statement fair-share pool (see poolFor): thread-local, cleared
    // in the finally with the job group
    sc.setLocalProperty("spark.scheduler.pool", poolFor(groupId))
    val deadline: Option[ScheduledFuture[_]] =
      if (timeoutMs > 0)
        Some(timer.schedule(new Runnable {
          def run(): Unit =
            cancel(spark, groupId, s"statement timeout after ${timeoutMs} ms [$groupId]")
        }, timeoutMs, TimeUnit.MILLISECONDS))
      else None
    try f
    catch {
      // Spark surfaces a cancelled job as a generic SparkException
      // ("cancelled as part of job group …"); the marker disambiguates a
      // cancel/timeout from a real failure that raced one
      case e: Throwable =>
        val reason = cancelled.get(groupId)
        if (reason == null) throw e
        awaitTasksEnded(spark, groupId)
        throw new Cancelled(reason)
    } finally {
      deadline.foreach(_.cancel(false))
      sc.clearJobGroup()
      sc.setLocalProperty("spark.scheduler.pool", null)
      inFlight.remove(groupId)
      cancelled.remove(groupId)
    }
  }
}

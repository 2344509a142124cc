package graft.tools

import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.GraftSessions
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Where a SparkEntry query's wall time goes, on the bench's own session
  * (`Sessions.Batch`, so the numbers transfer to Bench 1:1). Per query,
  * from its fastest of `reps` runs (data cache cleared before each, after
  * one warm-up run):
  *  - wall time and DataFrame build time (Scala-side plan building and
  *    eager collects);
  *  - Catalyst phases, summed over every QueryExecution the query
  *    triggers (broadcast builds and collect subqueries included);
  *  - jobs, stages and tasks; task, deserialize and GC time;
  *  - shuffle read/write, memory and disk spill, peak execution memory;
  *  - generated classes Janino compiled (`CodegenMetrics`) and the time
  *    it took, in the reported run and in the warm-up run (`cold`): a
  *    warm query whose plan text is stable compiles nothing;
  *  - one indented line per stage.
  *
  *   scripts/run.sh graft.tools.Profile <sfDir> <query|substr,...> [reps=3]
  *
  * Session overrides go through SPARK_GRAFT_CONF; a constrained-heap
  * spill run is e.g.
  *   SPARK_DRIVER_MEM=1200m SPARK_GRAFT_CONF=graft.forceScalePaths=true \
  *     scripts/run.sh graft.tools.Profile /tmp/sf1 q46,tx29,ev35 1
  */
object Profile {

  /** Task totals of one stage. */
  final class Stage(val id: Int) {
    var name = ""
    var wallMs, tasks, taskMs, deserMs, gcMs = 0L
    var shuffleRead, shuffleWrite, memSpill, diskSpill, peakExec = 0L
  }

  /** What one run of a query did, filled by the listeners. */
  final class Run {
    val stages = new ConcurrentHashMap[Int, Stage]()
    val phasesMs = new ConcurrentHashMap[String, java.lang.Long]()
    @volatile var jobs, executions = 0
    var wall, build = 0.0
    var compiles, compileNs = 0L
    def stage(id: Int): Stage = stages.computeIfAbsent(id, new Stage(_))
    def all: Seq[Stage] = stages.values.asScala.toSeq.sortBy(_.id)
    def sum(f: Stage => Long): Long = all.map(f).sum
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: graft.tools.Profile <sfDir> <query|substr,...> [reps]")
    val sfDir = args(0)
    val wanted = args(1).split(',').map(_.trim).filter(_.nonEmpty).toSeq
    val reps = args.lift(2).map(_.toInt).getOrElse(3)
    val spark = graft.Sessions.build(graft.Sessions.Batch, Some(sfDir))
    graft.Tables.register(spark, sfDir)

    @volatile var run = new Run
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = run.jobs += 1
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val si = e.stageInfo
        val st = run.stage(si.stageId)
        st.name = si.name.takeWhile(_ != '\n').take(60)
        st.tasks = si.numTasks
        st.wallMs = si.completionTime.getOrElse(0L) - si.submissionTime.getOrElse(0L)
      }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        Option(e.taskMetrics).foreach { m =>
          val st = run.stage(e.stageId)
          st.taskMs += Option(e.taskInfo).fold(0L)(_.duration)
          st.deserMs += m.executorDeserializeTime
          st.gcMs += m.jvmGCTime
          st.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          st.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          st.memSpill += m.memoryBytesSpilled
          st.diskSpill += m.diskBytesSpilled
          st.peakExec = math.max(st.peakExec, m.peakExecutionMemory)
        }
    })
    def phases(qe: QueryExecution): Unit = {
      val r = run
      r.executions += 1
      qe.tracker.phases.foreach { case (phase, s) =>
        r.phasesMs.merge(phase, s.durationMs, (a, b) => a + b)
      }
    }
    spark.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = phases(qe)
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = phases(qe)
    })

    val names = graft.SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => wanted.exists(n.contains) }
    require(names.nonEmpty, s"no SparkEntry query matches ${wanted.mkString(",")}")
    def once(fn: (org.apache.spark.sql.SparkSession, String) => org.apache.spark.sql.DataFrame): Run = {
      spark.catalog.clearCache()
      GraftSessions.drainListeners(spark)
      run = new Run
      val r = run
      val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val cNs0 = CodeGenerator.compileTime
      val t0 = System.nanoTime()
      val df = fn(spark, sfDir)
      val t1 = System.nanoTime()
      df.write.mode("overwrite").format("noop").save()
      r.wall = (System.nanoTime() - t0) / 1e9
      r.build = (t1 - t0) / 1e9
      r.compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0
      r.compileNs = CodeGenerator.compileTime - cNs0
      GraftSessions.drainListeners(spark)
      r
    }

    def mb(b: Long): String = f"${b / 1048576.0}%.2fM"
    def s(ms: Long): String = f"${ms / 1e3}%.3f"
    val heapMb = Runtime.getRuntime.maxMemory() >> 20
    println(s"[profile] sf=${new java.io.File(sfDir).getName} " +
      s"cpus=${spark.sparkContext.defaultParallelism} " +
      s"width=${spark.conf.get("spark.sql.shuffle.partitions")} reps=$reps heap=${heapMb}M")
    println(f"${"query"}%-28s ${"wall"}%7s ${"build"}%7s ${"qe"}%3s ${"jobs"}%4s ${"stg"}%4s " +
      f"${"tasks"}%5s ${"taskSec"}%8s ${"deser"}%6s ${"gc"}%6s ${"shufR"}%8s ${"shufW"}%8s " +
      f"${"memSpill"}%8s ${"dskSpill"}%8s ${"peakExec"}%8s ${"cg"}%3s ${"cgMs"}%7s " +
      f"${"coldCg"}%6s ${"coldMs"}%7s  phases(s)")
    names.foreach { case (name, fn) =>
      try {
        val cold = once(fn) // warm-up: codegen, footers, JIT
        val r = (1 to reps).map(_ => once(fn)).minBy(_.wall)
        val ph = r.phasesMs.asScala.toSeq.sortBy(_._1)
          .map { case (k, v) => s"$k=${s(v)}" }.mkString(" ")
        println(f"$name%-28s ${r.wall}%7.3f ${r.build}%7.3f ${r.executions}%3d ${r.jobs}%4d " +
          f"${r.all.size}%4d ${r.sum(_.tasks)}%5d ${s(r.sum(_.taskMs))}%8s " +
          f"${s(r.sum(_.deserMs))}%6s ${s(r.sum(_.gcMs))}%6s ${mb(r.sum(_.shuffleRead))}%8s " +
          f"${mb(r.sum(_.shuffleWrite))}%8s ${mb(r.sum(_.memSpill))}%8s " +
          f"${mb(r.sum(_.diskSpill))}%8s ${mb(r.all.map(_.peakExec).maxOption.getOrElse(0L))}%8s " +
          f"${r.compiles}%3d ${r.compileNs / 1e6}%7.1f ${cold.compiles}%6d ${cold.compileNs / 1e6}%7.1f  $ph")
        r.all.foreach { st =>
          println(f"  stage ${st.id}%4d ${s(st.wallMs)}%7s tasks=${st.tasks}%-4d " +
            f"task=${s(st.taskMs)} deser=${s(st.deserMs)} gc=${s(st.gcMs)} " +
            s"shufR=${mb(st.shuffleRead)} shufW=${mb(st.shuffleWrite)} " +
            s"spill=${mb(st.memSpill)}/${mb(st.diskSpill)} peak=${mb(st.peakExec)}  ${st.name}")
        }
      } catch {
        case scala.util.control.NonFatal(e) =>
          println(s"$name FAILED ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(200)}")
      }
    }
    spark.stop()
  }
}

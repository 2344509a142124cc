package graftbench

import java.io.File

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Command line of the harness JVM (see graftbench/run.py, which builds
  * the harness and passes these through):
  *   --workload pipeline|serve_write  --seed N  --seconds S
  *   --trace 0|1  --work DIR  [--sf DIR]  [--record-reference FILE]
  * Prints one `GRAFTBENCH_RESULT {json}` line on stdout. */
final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
                      work: String, sfDir: String, recordReference: Option[String])

object Args {
  /** The test tables (TESTDATA.md): the operator suite runs at sf0.1 like
    * `graft.Bench` (and honours its SPARK_GRAFT_SF_DIR); the served
    * workload loads sf0.01 into the lake. */
  def defaultData(workload: String): String = {
    val root = System.getProperty("user.home") + "/testdata/"
    if (workload == "pipeline") sys.env.getOrElse("SPARK_GRAFT_SF_DIR", root + "sf0.1") else root + "sf0.01"
  }

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.stripPrefix("--") -> v
      case other => throw new IllegalArgumentException(s"bad arguments: ${other.mkString(" ")}")
    }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"--$k is required"))
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble, need("trace") == "1",
      need("work"),
      m.get("sf").getOrElse(defaultData(need("workload"))),
      m.get("record-reference"))
  }
}

/** One timed op as the client saw it. `klass` is read, reval or write;
  * `via` is http, pg or local (in-process pipeline query). */
final case class OpRecord(round: Int, pos: Int, kind: String, klass: String, via: String,
                          start: Long, end: Long, bytes: Long, notModified: Boolean, traced: Boolean) {
  def ms: Double = (end - start) / 1e6
}

/** What an op returns: bytes received, whether the server answered 304,
  * and a verifier run after the op's clock stops (null when right). */
final case class Outcome(bytes: Long, notModified: Boolean, verify: () => String)

/** Runs ops, times them and keeps the trace bookkeeping around each one:
  * in traced ops, I/O and GC counters are read before and after, and the
  * listener bus is drained so every Spark event of the op is attributed
  * to it before the next op starts. */
final class Recorder(spark: SparkSession, val trace: Option[Trace], lakeDir: Option[File]) {
  val ops = ArrayBuffer[OpRecord]()
  val failures = ArrayBuffer[String]()
  val catalogLoadMs = ArrayBuffer[Double]()
  var timing = false // false during set-up and warm-up
  var tracedRounds = 0
  private var currentRound = -1

  def traced: Boolean = trace.exists(_.on)

  /** Lake metadata reads and listings (the lake's own counters), files
    * created under the lake, bytes written through Hadoop's `file`
    * scheme, and JVM GC time. */
  private def ioCounters(): Seq[(String, Double)] = Seq(
    "lake.fs_read_ops" -> graft.lake.LakeIO.fileReads.get.toDouble,
    "lake.fs_list_ops" -> graft.lake.LakeIO.listCalls.get.toDouble,
    "lake.fs_write_ops" -> lakeDir.map(d => Main.fileCount(d).toDouble).getOrElse(0.0),
    "lake.fs_bytes_written" -> Trace.fsBytesWritten().toDouble,
    "jvm.gc_ms" -> Trace.gcMillis().toDouble)

  def op(pos: Int, kind: String, klass: String, via: String)(body: => Outcome): Unit = {
    trace.foreach(_.op = pos)
    val before = if (traced) ioCounters() else null
    val t0 = System.nanoTime()
    val outcome = try Right(body) catch { case e: Exception => Left(e) }
    val t1 = System.nanoTime()
    if (traced) {
      org.apache.spark.GraftBenchBus.drain(spark.sparkContext)
      val t = trace.get
      ioCounters().zip(before).foreach { case ((name, v1), (_, v0)) => t.add(name, v1 - v0) }
    }
    val problem = outcome match {
      case Left(e) => s"$kind at $pos failed: $e"
      case Right(o) =>
        val p = try o.verify() catch { case e: Exception => s"unreadable answer: $e" }
        Option(p).map(p => s"$kind at $pos: $p").orNull
    }
    if (timing) {
      ops += OpRecord(currentRound, pos, kind, klass, via, t0, t1, outcome.map(_.bytes).getOrElse(0L),
        outcome.exists(_.notModified), traced)
      if (problem != null) failures += problem
    } else if (problem != null) throw new IllegalStateException("warm-up " + problem)
  }

  /** Timed rounds: whole rounds until their ops add up to `seconds`, at
    * least two (four when traced, for the traced/untraced pairs). In a
    * traced run rounds alternate A B B A: traced, untraced, untraced,
    * traced, so the untraced rounds measure the tracing overhead on the
    * same sequence and a state that grows with time favours neither. */
  def window(seconds: Double, firstRound: Int)(round: Int => Unit): Unit = {
    timing = true
    var k = 0
    def elapsed = ops.map(_.ms).sum / 1000.0
    while (k < (if (trace.isDefined) 4 else 2) || elapsed < seconds) {
      trace.foreach { t =>
        org.apache.spark.GraftBenchBus.drain(spark.sparkContext)
        t.on = k % 4 == 0 || k % 4 == 3
        if (t.on) tracedRounds += 1
      }
      currentRound = firstRound + k
      round(firstRound + k)
      trace.foreach(_.on = false)
      k += 1
    }
    timing = false
    ops.foreach(o => System.err.println(f"[graftbench] op ${o.pos} ${o.kind} ${o.via} ${o.ms}%.1f ms"))
  }
}

object Stats {
  /** Linear interpolation between closest ranks: on a few dozen samples
    * drawn from several op kinds it moves less between runs than the
    * nearest rank does. */
  def percentile(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val h = (s.size - 1) * p
      val lo = math.floor(h).toInt
      s(lo) + (h - lo) * (s(math.min(lo + 1, s.size - 1)) - s(lo))
    }
  def median(xs: Seq[Double]): Double = percentile(xs, 0.5)
  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
}

/** Host diagnostics: CPU time stolen by the hypervisor over an interval. */
object Host {
  def cpuTimes(): Array[Long] = {
    val line = java.nio.file.Files.readAllLines(java.nio.file.Paths.get("/proc/stat")).asScala
      .find(_.startsWith("cpu ")).getOrElse("cpu 0")
    line.trim.split("\\s+").drop(1).map(_.toLong)
  }
  /** Steal share (%) between two `cpuTimes` samples. */
  def stealPct(a: Array[Long], b: Array[Long]): Double = {
    val d = b.zip(a).map { case (x, y) => x - y }
    val total = d.take(8).sum
    if (total <= 0 || d.length < 8) 0.0 else 100.0 * d(7) / total
  }
}

/** A run's outcome: ops attempted, what failed, the metrics (name,
  * value, unit) and the host's steal share over the timed window. */
final case class Result(attempted: Int, failures: Seq[String], metrics: Main.Metrics, stealPct: Double)

object Main {
  type Metrics = Seq[(String, Double, String)]

  /** Exits the JVM either way: Spark and the servers leave non-daemon
    * threads behind. */
  def main(argv: Array[String]): Unit = {
    try report(Args.parse(argv))
    catch {
      case e: Throwable =>
        e.printStackTrace()
        System.exit(1)
    }
    System.exit(0)
  }

  private def report(args: Args): Unit = {
    val Result(attempted, opFailures, metrics, stealPct) = args.workload match {
      case "pipeline" => Pipeline.run(args)
      case "serve_write" => Serve.run(args)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    // the traced run's coverage check: spans must account for the ops' time
    val failures = opFailures ++ metrics.collect {
      case ("trace.covered_ops_pct", v, _) if v < 95.0 =>
        f"trace coverage: spans cover 95%% of the wall in only $v%.1f%% of traced ops"
    }
    failures.take(20).foreach(f => System.err.println("[graftbench] FAILED " + f))
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val root = mapper.createObjectNode()
    root.put("correct", failures.isEmpty)
    root.put("attempted", attempted)
    root.put("failed", failures.size)
    val ms = root.putObject("metrics")
    metrics.foreach { case (name, v, unit) =>
      val o = ms.putObject(name); o.put("value", v); o.put("unit", unit)
    }
    root.putObject("diagnostics").put("host.steal_pct", stealPct)
    // every other line of the JVM's output goes to stderr
    System.out.println("GRAFTBENCH_RESULT " + mapper.writeValueAsString(root))
    System.out.flush()
  }

  /** Progress on stderr: seconds since JVM start at each set-up step. */
  def log(step: String): Unit = System.err.println(f"[graftbench] ${sinceJvmStart()}%.2fs $step")

  /** Seconds from JVM start until now. */
  def sinceJvmStart(): Double =
    (System.currentTimeMillis() - java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0

  /** Live heap after full collections, MB. */
  def heapLiveMb(): Double = {
    val mem = java.lang.management.ManagementFactory.getMemoryMXBean
    (0 until 3).foreach(_ => mem.gc())
    mem.getHeapMemoryUsage.getUsed / 1048576.0
  }

  def fileCount(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).map(_.map(fileCount).sum).getOrElse(0L) else 1L

  def dirBytes(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).map(_.map(dirBytes).sum).getOrElse(0L) else f.length

  /** Spark settings every workload shares: scratch space inside the run's
    * work directory, no UI. */
  def baseBuilder(args: Args, cpus: Int): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.local.dir", args.work + "/spark-local")
      .config("spark.sql.warehouse.dir", args.work + "/warehouse")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.codegen.cache.maxEntries", "4096")

  /** End-to-end metrics every workload reports (untraced run). */
  def endToEnd(rec: Recorder, setupS: Double, heapMb: Double): Metrics = {
    // each figure per round, then the median round: one round slowed by
    // the host or a collection does not move it. Every round holds the same
    // mix, so a round's percentile falls at the same place in it, while one
    // over pooled rounds falls between the slowest repeat of one kind of op
    // and the fastest of the next.
    val rounds = rec.ops.groupBy(_.round).values.map(_.map(_.ms).toSeq).toSeq
    def perRound(f: Seq[Double] => Double): Double = Stats.median(rounds.map(f))
    Seq(
      ("setup_s", setupS, "s"),
      ("ops_per_s", perRound(r => r.size / (r.sum / 1000.0)), "1/s"),
      ("op_p50_ms", perRound(Stats.median), "ms"),
      ("op_p90_ms", perRound(Stats.percentile(_, 0.9)), "ms"),
      ("heap_live_mb", heapMb, "MB"))
  }

  /** Per-layer metrics from a traced run (see graftbench/README.md for
    * each definition). */
  def perLayer(rec: Recorder, ctx: Option[TracingContext], stealPct: Double, lakeMb: Double,
               lakeState: (Double, Double)): Metrics = {
    val t = rec.trace.get
    val traced = rec.ops.filter(_.traced).toSeq
    val untraced = rec.ops.filterNot(_.traced).toSeq
    val n = math.max(1, traced.size).toDouble
    val spans = t.spans.asScala.toSeq.groupBy(_.op)
    def opSpans(o: OpRecord, pred: String => Boolean): Seq[(Long, Long)] =
      spans.getOrElse(o.pos, Nil).filter(s => pred(s.name))
        .map(s => (math.max(s.start, o.start), math.min(s.end, o.end)))
    def perOp(counter: String): Double = traced.map(o => t.counter(o.pos, counter)).sum / n
    def spanMs(name: String, ops: Seq[OpRecord]): Seq[Double] =
      ops.flatMap(o => spans.getOrElse(o.pos, Nil).filter(_.name == name).map(s => (s.end - s.start) / 1e6))

    // Execution set-up (codegen, scan planning, adaptive re-planning, job
    // submission): from the end of query planning, or of the statement's
    // previous job, to the start of each job.
    def prepare(o: OpRecord): Seq[(Long, Long)] = {
      val ends = opSpans(o, n => n == "catalyst.planning" || n == "exec.job").map(_._2)
      opSpans(o, _ == "exec.job").flatMap { case (start, _) =>
        ends.filter(_ <= start).maxOption.map(anchor => (anchor, start))
      }
    }
    // collection pauses inside the op (the JVM's share of its wall)
    val pauses = t.gcPauses.asScala.toSeq
    def gc(o: OpRecord): Seq[(Long, Long)] =
      pauses.map { case (s, e) => (math.max(s, o.start), math.min(e, o.end)) }.filter(p => p._2 > p._1)
    def layers(o: OpRecord): Seq[(Long, Long)] = opSpans(o, _ => true) ++ prepare(o) ++ gc(o)
    // the server's self time: the op's wall minus every layer span (request
    // parsing before the first span, encoding and sending after the last,
    // and whatever falls between spans)
    def selfMs(o: OpRecord): Double = (o.end - o.start - Trace.unionLength(layers(o))) / 1e6
    // coverage: layer spans plus the server's time before the first and
    // after the last span; a gap between two spans is unaccounted time
    def coverage(o: OpRecord): Double = {
      val iv = layers(o)
      if (iv.isEmpty) 0.0
      else {
        val head = iv.map(_._1).min - o.start
        val tail = o.end - iv.map(_._2).max
        (Trace.unionLength(iv) + math.max(0L, head) + math.max(0L, tail)).toDouble / (o.end - o.start)
      }
    }
    // every traced op that falls short goes to the log with the spans around
    // its largest uncovered gap, so a shortfall can be traced to its cause
    traced.filter(coverage(_) < 0.95).foreach { o =>
      val named = spans.getOrElse(o.pos, Nil).map(s => (s.name, math.max(s.start, o.start), math.min(s.end, o.end))) ++
        prepare(o).map { case (s, e) => ("exec.prepare", s, e) } ++ gc(o).map { case (s, e) => ("jvm.gc", s, e) }
      val sorted = named.filter(s => s._3 > s._2).sortBy(_._2)
      var reach = Long.MinValue
      var before = "start"
      var gap = (0L, "", "")
      sorted.foreach { case (name, s, e) =>
        if (reach != Long.MinValue && s - reach > gap._1) gap = (s - reach, before, name)
        if (e > reach) { reach = e; before = name }
      }
      System.err.println(f"[graftbench] coverage ${o.kind} at ${o.pos}: ${100 * coverage(o)}%.1f%% of ${o.ms}%.1f ms; " +
        f"largest gap ${gap._1 / 1e6}%.1f ms between ${gap._2} and ${gap._3}; " +
        sorted.map { case (n, s, e) => f"$n ${(s - o.start) / 1e6}%.1f-${(e - o.start) / 1e6}%.1f" }.mkString(", "))
    }
    val scans = t.executions.asScala.toSeq.filter(e => traced.exists(_.pos == e._1))
      .map(e => Trace.graftScanFiles(e._2))
    val readOps = traced.count(_.klass == "read")
    val revals = rec.ops.filter(_.kind == "reval")
    def rate(xs: Seq[OpRecord]) = xs.size / math.max(1e-9, xs.map(_.ms).sum / 1000.0)
    val families = Seq("q", "dd", "sim", "tx", "ev", "gr", "em", "mm", "p")
    Seq(
      ("server.http_self_ms", Stats.median(traced.filter(_.via == "http").map(selfMs)), "ms"),
      ("server.pg_self_ms", Stats.median(traced.filter(_.via == "pg").map(selfMs)), "ms"),
      ("server.bytes_out_per_op", Stats.mean(traced.filter(_.via != "local").map(_.bytes.toDouble)), "bytes"),
      ("server.not_modified_ratio",
        if (revals.isEmpty) 0.0 else revals.count(_.notModified).toDouble / revals.size, "ratio"),
      ("sql.execute_read_ms", Stats.mean(spanMs("sql.execute_read", traced)), "ms"),
      ("sql.execute_write_ms", Stats.mean(spanMs("sql.execute_write", traced)), "ms"),
      ("sql.fingerprint_ms", Stats.mean(spanMs("sql.fingerprint", traced)), "ms"),
      ("sql.snapshot_rebuilds", ctx.map(_.rebuilds.toDouble).getOrElse(0.0), "count"),
      ("sql.snapshot_rebuild_ms", ctx.map(c => Stats.mean(c.rebuildMs.asScala.toSeq)).getOrElse(0.0), "ms"),
      ("catalyst.analysis_ms", spanMs("catalyst.analysis", traced).sum / n, "ms"),
      ("catalyst.optimization_ms", spanMs("catalyst.optimization", traced).sum / n, "ms"),
      ("catalyst.planning_ms", spanMs("catalyst.planning", traced).sum / n, "ms"),
      ("exec.jobs_per_op", perOp("exec.jobs"), "count"),
      ("exec.stages_per_op", perOp("exec.stages"), "count"),
      ("exec.tasks_per_op", perOp("exec.tasks"), "count"),
      ("exec.job_ms_per_op", traced.map(o => Trace.unionLength(opSpans(o, _ == "exec.job")) / 1e6).sum / n, "ms"),
      ("exec.prepare_ms_per_op", traced.map(o => Trace.unionLength(prepare(o)) / 1e6).sum / n, "ms"),
      ("exec.task_ms_per_op", perOp("exec.task_ms"), "ms"),
      ("exec.task_deser_ms_per_op", perOp("exec.task_deser_ms"), "ms"),
      ("exec.task_gc_ms_per_op", perOp("exec.task_gc_ms"), "ms"),
      ("exec.shuffle_bytes_per_op", perOp("exec.shuffle_bytes"), "bytes"),
      ("exec.spill_bytes_per_op", perOp("exec.spill_bytes"), "bytes"),
      ("exec.input_bytes_per_op", perOp("exec.input_bytes"), "bytes"),
      ("lake.files_scanned_per_read", if (readOps == 0) 0.0 else scans.map(_._1).sum.toDouble / readOps, "count"),
      ("lake.files_pruned_ratio",
        if (scans.map(_._2).sum == 0) 0.0 else 1.0 - scans.map(_._1).sum.toDouble / scans.map(_._2).sum, "ratio"),
      ("lake.versions_total", lakeState._1, "count"),
      ("lake.live_files", lakeState._2, "count"),
      ("lake.fs_read_ops_per_op", perOp("lake.fs_read_ops"), "count"),
      ("lake.fs_list_ops_per_op", perOp("lake.fs_list_ops"), "count"),
      ("lake.fs_write_ops_per_op", perOp("lake.fs_write_ops"), "count"),
      ("lake.fs_bytes_written_per_op", perOp("lake.fs_bytes_written"), "bytes"),
      ("catalog.load_ms", Stats.mean(rec.catalogLoadMs.toSeq), "ms")
    ) ++ families.map { f =>
      // family wall per traced round
      val fam = traced.filter(_.kind.takeWhile(_.isLetter) == f)
      (s"ops.${f}_s", fam.map(_.ms).sum / 1000.0 / math.max(1, rec.tracedRounds), "s")
    } ++ Seq(
      ("jvm.gc_ms_per_op", perOp("jvm.gc_ms"), "ms"),
      ("trace.overhead_pct", 100.0 * (rate(untraced) / rate(traced) - 1.0), "%"),
      ("trace.covered_ops_pct", 100.0 * traced.count(coverage(_) >= 0.95) / n, "%"),
      ("host.steal_pct", stealPct, "%"),
      ("read_p50_ms", Stats.median(rec.ops.filter(_.klass == "read").map(_.ms).toSeq), "ms"),
      ("reval_p50_ms", Stats.median(revals.map(_.ms).toSeq), "ms"),
      ("write_p50_ms", Stats.median(rec.ops.filter(_.klass == "write").map(_.ms).toSeq), "ms"),
      ("lake_mb", lakeMb, "MB"))
  }
}

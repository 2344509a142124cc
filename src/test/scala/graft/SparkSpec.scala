package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session for engine specs (one per suite, local[4]). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  /** A session on the same context with what `Sessions.tune` installs
    * (the planner's small-sort strategy and kernel hoist); `spark` itself
    * stays stock. */
  lazy val tuned: SparkSession = graft.Sessions.tune(spark.newSession())

  /** Runs `body` with the size-gated operators' driver-or-cluster switch
    * forced to the distributed path (`on`) or left to input size, on `s`. */
  def withScalePaths[A](on: Boolean = true, s: SparkSession = spark)(body: => A): A = {
    s.conf.set(graft.ops.ScalePath.Conf, on)
    try body finally s.conf.unset(graft.ops.ScalePath.Conf)
  }

  /** Jobs started on this thread while `f` runs (the listener bus is
    * asynchronous: a marker job on the same thread drains it). */
  def jobsStartedBy(f: => Unit): Int = {
    val group = s"jobs-${System.nanoTime()}"
    val started = new java.util.concurrent.atomic.AtomicInteger
    val drained = new java.util.concurrent.CountDownLatch(1)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")).foreach {
          case `group` => started.incrementAndGet()
          case g if g == group + "-end" => drained.countDown()
          case _ =>
        }
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "measured")
      try f finally sc.clearJobGroup()
      sc.setJobGroup(group + "-end", "marker")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      assert(drained.await(30, java.util.concurrent.TimeUnit.SECONDS), "listener bus never drained")
      started.get
    } finally sc.removeSparkListener(listener)
  }

  /** `f`'s result and the job-group id (null outside a group) of every
    * job started, on any thread, while it ran. */
  def jobGroupsDuring[A](f: => A): (A, Seq[String]) = {
    val groups = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        groups.add(Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull)
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val a = f
      org.apache.spark.sql.GraftSessions.drainListeners(spark)
      (a, groups.toArray(Array.empty[String]).toSeq)
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  /** Classes Janino compiled while `f` ran (Spark's process-wide codegen
    * metric: the driver's compiles and the tasks' alike). */
  def compiles(f: => Any): Long = {
    val before = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    f
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
  }

  def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString
}

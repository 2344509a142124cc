package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanExec, FilterExec, ProjectExec, SparkPlan, TakeOrderedAndProjectExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._

/** What `Sessions.tune` installs in the planner: a small global sort runs
  * in one task with no range-sampling job (`plan.SmallSort`), and a
  * filter evaluates each graft kernel once per row (`plan.HoistKernels`).
  * Both move cost only; each test checks the answer too.
  */
class PlannerSpec extends SparkSpec {

  private val dir = sys.props("user.home") + "/testdata/sf0.01"

  /** The benchmark's `pipeline` round: each query family's flagship. */
  private val flagships = Seq("q01", "dd1", "sim1", "tx1", "ev1", "gr1", "em1", "mm1", "p1")
  private val byPrefix = SparkEntry.queries.map { case (n, fn) => n.takeWhile(_ != '_') -> fn }

  /** The Batch profile's AQE-off planning on `s`. */
  private def batch(s: SparkSession): SparkSession = {
    s.conf.set("spark.sql.adaptive.enabled", "false"); s
  }
  private lazy val stock = batch(spark.newSession())
  private lazy val small = batch(tuned)

  private def flagship(s: SparkSession, q: String): DataFrame = byPrefix(q)(s, dir)
  private def plan(df: DataFrame): String = df.queryExecution.executedPlan.toString

  test("every flagship plans no range exchange and starts one job fewer") {
    for (q <- flagships) {
      assert(plan(flagship(stock, q)).contains("rangepartitioning"), q)
      val p = plan(flagship(small, q))
      assert(!p.contains("rangepartitioning") && p.contains("Exchange SinglePartition"), s"$q:\n$p")
      val before = jobsStartedBy(flagship(stock, q).collect())
      val after = jobsStartedBy(flagship(small, q).collect())
      assert(after === before - 1, q)
    }
  }

  test("forced scale paths bring the range exchange back, with the same rows in the same order") {
    for (q <- flagships) {
      val one = flagship(small, q).collect().toSeq
      withScalePaths(s = small) {
        val df = flagship(small, q)
        assert(plan(df).contains("rangepartitioning"), q)
        assert(df.collect().toSeq === one, q)
      }
    }
  }

  test("ORDER BY ... LIMIT still plans TakeOrderedAndProject with no added exchange") {
    Seq(small, stock).foreach(Tables.register(_, dir))
    val top = "SELECT o_orderkey, o_totalprice FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 5"
    // the outer sort's input already sits in one partition
    for (q <- Seq(top, s"SELECT * FROM ($top) ORDER BY o_orderkey")) {
      val df = small.sql(q)
      val p = df.queryExecution.executedPlan
      assert(p.collect { case t: TakeOrderedAndProjectExec => t }.size === 1, p.toString)
      assert(p.collect { case e: ShuffleExchangeExec => e }.isEmpty, p.toString)
      assert(df.collect().toSeq === stock.sql(q).collect().toSeq)
    }
  }

  /** marker_counts calls the plan evaluates (a scan's data filters only
    * repeat the filter above it). */
  private def kernelCalls(p: SparkPlan): Int = p.collect {
    case n if !n.isInstanceOf[FileSourceScanExec] =>
      n.expressions.map(_.collect { case k: functions.TextExprs.MarkerCounts => k }.size).sum
  }.sum

  test("p1 filters on hoisted kernel columns: one marker_counts per documents scan") {
    val p = flagship(small, "p1").queryExecution.executedPlan
    val kernelFilters = p.collect {
      case f: FilterExec if f.condition.exists(_.isInstanceOf[functions.TotalKernel]) => f
    }
    assert(kernelFilters.isEmpty, p.toString)
    val docScans = p.collect {
      case s: FileSourceScanExec if s.relation.location.rootPaths.exists(_.toString.contains("documents")) => s
    }
    assert(docScans.size === 3)
    // the stock plan spells it 53 times: 48 in the language filter, 3 in
    // the quality filter, one in each projection above them
    assert(kernelCalls(flagship(stock, "p1").queryExecution.executedPlan) === 53)
    assert(kernelCalls(p) <= 2 * docScans.size, p.toString)
    assert(flagship(small, "p1").collect().toSeq === flagship(stock, "p1").collect().toSeq)
  }

  test("a divide that a CASE guards stays in its branch; the hoisted kernel answers") {
    import small.implicits._
    val path = tmpDir("graft-hoist") + "/t"
    Seq(("the a of in", 0L), ("der die das", 1L), ("x y z w", 2L), ("a b c d e f", 3L), ("u v", 2L))
      .toDF("text", "n").write.parquet(path)
    val t = small.read.parquet(path)
    val words = element_at(functions.TextExprs.token_counts(col("text")), 1)
    // ANSI: an unguarded divide by the n = 0 row fails the query
    val err = intercept[Exception](t.filter(words / col("n") > 1).collect())
    assert(err.toString.contains("DIVIDE_BY_ZERO"), err.toString)
    val guarded = t.filter(when(col("n") === 0, false)
      .otherwise(words / col("n") > 1 && words / col("n") < 3))
    val p = guarded.queryExecution.executedPlan
    val hoisting = p.collect { case pr: ProjectExec if pr.projectList.exists(_.exists(
      _.isInstanceOf[functions.TextExprs.TokenCounts])) => pr }
    assert(hoisting.size === 1, p.toString)
    assert(!hoisting.head.projectList.exists(_.exists(_.isInstanceOf[org.apache.spark.sql.catalyst.expressions.Divide])))
    assert(guarded.collect().map(_.getString(0)).toSet === Set("x y z w", "a b c d e f"))
  }
}

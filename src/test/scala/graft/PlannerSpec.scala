package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanExec, FilterExec, ProjectExec, SparkPlan, TakeOrderedAndProjectExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._

/** What `Sessions.tune` installs in the planner: a small global sort runs
  * in one task with no range-sampling job (`plan.SmallSort`), a filter
  * evaluates each graft kernel once per row (`plan.HoistKernels`), and a
  * scan's comparison literals are bound out of its generated code
  * (`plan.BindLiterals`). All move cost only; each test checks the answer
  * too.
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

  /** One parquet file with a column of each bindable type, and NULLs. */
  private lazy val typed: String = {
    val path = tmpDir("graft-bind") + "/t"
    spark.range(-500, 500).selectExpr(
      "CAST(id % 100 AS TINYINT) AS ti", "CAST(id * 3 AS SMALLINT) AS si", "CAST(id * 7 AS INT) AS i",
      "id * 1000003 AS l", "CAST(id / 8.0 AS FLOAT) AS f", "CAST(id / 16.0 AS DOUBLE) AS d",
      "date_add(DATE'1969-12-01', CAST(id AS INT)) AS dt",
      "CAST(timestamp_micros(id * 3600000000) AS TIMESTAMP_NTZ) AS ntz",
      "timestamp_micros(id * 3600000000) AS ts",
      "CASE WHEN id % 10 = 0 THEN NULL ELSE id END AS n")
      .union(spark.sql("SELECT CAST(0 AS TINYINT), CAST(0 AS SMALLINT), 0, CAST(-9223372036854775808 AS BIGINT), " +
        "CAST('NaN' AS FLOAT), CAST('NaN' AS DOUBLE), DATE'1900-01-01', TIMESTAMP_NTZ'1960-01-01 00:00:00', " +
        "TIMESTAMP'1960-01-01 00:00:00', CAST(NULL AS BIGINT)"))
      .union(spark.sql("SELECT CAST(1 AS TINYINT), CAST(1 AS SMALLINT), 1, 9223372036854775807, " +
        "CAST('Infinity' AS FLOAT), CAST('-Infinity' AS DOUBLE), DATE'2100-01-01', TIMESTAMP_NTZ'2100-01-01 00:00:00', " +
        "TIMESTAMP'2100-01-01 00:00:00', 0"))
      .union(spark.sql("SELECT CAST(2 AS TINYINT), CAST(2 AS SMALLINT), 2, 0, " +
        "CAST('-0.0' AS FLOAT), CAST('-0.0' AS DOUBLE), DATE'1970-01-01', TIMESTAMP_NTZ'1970-01-01 00:00:00', " +
        "TIMESTAMP'1970-01-01 00:00:00', 1"))
      .coalesce(1).write.parquet(path)
    path
  }

  /** Comparison templates over [[typed]], each with two values. */
  private val templates: Seq[(String, String => String, String, String)] = Seq(
    ("TINYINT =", v => s"SELECT count(*), sum(l) FROM typed WHERE ti = CAST($v AS TINYINT)", "7", "-13"),
    ("SMALLINT <", v => s"SELECT count(*), sum(i) FROM typed WHERE si < CAST($v AS SMALLINT)", "30", "-300"),
    ("INT >=", v => s"SELECT count(*), sum(si) FROM typed WHERE i >= $v", "70", "-7"),
    ("BIGINT =", v => s"SELECT * FROM typed WHERE l = $v", "5000015", "-1000003"),
    ("BIGINT BETWEEN", v => s"SELECT count(*), sum(i) FROM typed WHERE l BETWEEN $v AND $v + 50000000", "0", "-300000000"),
    ("FLOAT >", v => s"SELECT count(*), sum(i) FROM typed WHERE f > CAST($v AS FLOAT)", "1.5", "-20.25"),
    ("DOUBLE <=", v => s"SELECT count(*), sum(i) FROM typed WHERE d <= $v", "0.5", "-7.0625"),
    ("DATE <", v => s"SELECT count(*), sum(i) FROM typed WHERE dt < DATE'$v'", "1970-02-01", "1969-03-15"),
    ("TIMESTAMP_NTZ <", v => s"SELECT count(*), sum(i) FROM typed WHERE ntz < TIMESTAMP_NTZ'$v'",
      "1970-01-02 00:00:00", "1969-12-20 12:00:00"),
    ("TIMESTAMP >", v => s"SELECT count(*), sum(i) FROM typed WHERE ts > TIMESTAMP'$v'",
      "1970-01-02 00:00:00", "1969-12-20 12:00:00"))

  test("a scan's comparison templates compile nothing for a new value") {
    small.read.parquet(typed).createOrReplaceTempView("typed")
    spark.read.parquet(typed).createOrReplaceTempView("typed")
    for ((name, sql, v1, v2) <- templates) {
      small.sql(sql(v1)).collect()
      var got: Seq[org.apache.spark.sql.Row] = Nil
      assert(compiles { got = small.sql(sql(v2)).collect().toSeq } === 0, name)
      assert(got.map(_.toString).sorted === spark.sql(sql(v2)).collect().toSeq.map(_.toString).sorted, name)
    }
  }

  test("bound values answer as interpreted evaluation does: NaN, -0.0, infinities, extremes, NULL") {
    val interpreted = spark.newSession()
    interpreted.conf.set("spark.sql.codegen.wholeStage", "false")
    interpreted.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    Seq(small, interpreted).foreach(_.read.parquet(typed).createOrReplaceTempView("typed"))
    val probes = Seq(
      "d = CAST('NaN' AS DOUBLE)", "d > CAST('NaN' AS DOUBLE)", "d < CAST('NaN' AS DOUBLE)",
      "f <=> CAST('NaN' AS FLOAT)", "f >= CAST('NaN' AS FLOAT)",
      "d = -0.0D", "d <= -0.0D", "f = CAST(-0.0 AS FLOAT)", "f < CAST(-0.0 AS FLOAT)",
      "d = CAST('-Infinity' AS DOUBLE)", "d > CAST('-Infinity' AS DOUBLE)",
      "f = CAST('Infinity' AS FLOAT)", "f < CAST('Infinity' AS FLOAT)",
      "l = -9223372036854775808L", "l > -9223372036854775808L", "l <= -9223372036854775808L",
      "l >= 9223372036854775807L",
      "dt < DATE'1969-12-15'", "dt = DATE'1900-01-01'", "dt <=> DATE'1969-12-31'",
      "ntz < TIMESTAMP_NTZ'1960-01-01 00:00:01'", "ts >= TIMESTAMP'1969-12-31 23:00:00'",
      "n = CAST(NULL AS BIGINT)", "n <=> CAST(NULL AS BIGINT)", "n <=> 3L", "n < 5L",
      "ti > CAST(-3 AS TINYINT)", "si <= CAST(-32768 AS SMALLINT)", "i BETWEEN -70 AND 70")
    for (p <- probes) {
      val q = s"SELECT ti, si, i, l, f, d, dt, ntz, ts, n FROM typed WHERE $p"
      val df = small.sql(q)
      val rows = df.collect().map(_.toString).sorted.toSeq
      assert(rows === interpreted.sql(q).collect().map(_.toString).sorted.toSeq, p)
    }
    // the two ends of BETWEEN bind; the scan keeps the literals it pushes
    val between = small.sql("SELECT i FROM typed WHERE l BETWEEN 5 AND 9000000").queryExecution.executedPlan
    val filter = between.collect { case f: FilterExec => f }.head
    assert(filter.condition.collect { case b: graft.plan.BoundValue => b }.size === 2, between.toString)
    val scan = between.collect { case s: FileSourceScanExec => s }.head
    assert(scan.metadata("PushedFilters").contains("GreaterThanOrEqual(l,5)"), scan.metadata)
    assert(!scan.expressions.exists(_.exists(_.isInstanceOf[graft.plan.BoundValue])), scan.toString)
    assert(filter.toString.contains("(l#") && filter.toString.contains(">= 5)"), filter.toString)
  }
}

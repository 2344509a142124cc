package graft

import org.apache.spark.sql.SparkSession

/** GraftExtensions must make engine functions available to a PLAIN
  * SparkSession via spark.sql.extensions — no GraftContext involved. */
class ExtensionsSpec extends org.scalatest.funsuite.AnyFunSuite {
  /** A fresh plain session with the extension, stopped afterwards. */
  private def withExtensionSession(f: SparkSession => Unit): Unit = {
    // spark.sql.extensions is a STATIC conf: it only takes effect when the
    // SparkContext itself is created with it. Stop any context a previous
    // suite left running so the builder constructs a fresh one; stop ours
    // afterwards so later suites likewise build fresh (suites run
    // sequentially in the forked test JVM).
    SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
      .foreach(_.sparkContext.stop())
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val spark = SparkSession.builder()
      .master("local[2]")
      .appName("graft-ext-test")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    try f(spark)
    finally {
      spark.stop()
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
    }
  }

  test("spark.sql.extensions=graft.GraftExtensions exposes dot_q in SQL") {
    withExtensionSession { spark =>
      val r = spark.sql("SELECT dot_q(array(1L, 2L, 3L), array(4L, 5L, 6L)) AS d")
        .collect().head.getLong(0)
      assert(r === 32L)
      // bloom sketch + probe round-trip through pure SQL (scalar subquery
      // folds the sketch into the probing plan)
      val hits = spark.sql(
        """SELECT id, might_contain(
          |  (SELECT bloom_filter_agg(id * 37) FROM range(0, 50)), id * 37) AS hit
          |FROM range(0, 100)""".stripMargin)
        .collect().map(row => (row.getLong(0), row.getBoolean(1)))
      assert(hits.filter(_._1 < 50).forall(_._2), "no false negatives")
      assert(hits.count(x => x._1 >= 50 && x._2) < 25, "fp rate sane")
      // KLL persistence round-trip in pure SQL: partial sketches per
      // bucket, merged + estimated; n=160 <= k retains everything, so
      // the p50/p90 reads are exact inclusive order statistics
      val kll = spark.sql(
        """WITH part AS (SELECT id % 4 AS b, kll_sketch(id + 1, 200) AS sk
          |              FROM range(0, 160) GROUP BY 1)
          |SELECT kll_est(sk, 200, 0.5, 0.9) AS q FROM part""".stripMargin)
        .collect().head.getSeq[Long](0)
      assert(kll === Seq(80L, 144L))
      // scalar read of ONE persisted binary
      val one = spark.sql(
        """SELECT kll_quantiles((SELECT kll_sketch(id + 1, 200) FROM range(0, 100)), 0.25)""")
        .collect().head.getSeq[Long](0)
      assert(one === Seq(25L))
      // KMV bottom-k sketch: 3 smallest distinct md5 digests, ascending
      val kmv = spark.sql(
        "SELECT min_k_md5(CAST(id % 10 AS STRING), 3) FROM range(0, 100)")
        .collect().head.getSeq[String](0)
      assert(kmv.length === 3 && kmv === kmv.sorted && kmv.distinct.length === 3)
    }
  }

  test("the extension injects the DataFusion-name compat aliases") {
    withExtensionSession { spark =>
      val r = spark.sql("SELECT strpos('graft', 'af') AS p, make_array(1, 2) AS a").collect().head
      assert(r.getInt(0) === 3)
      assert(r.getSeq[Int](1) === Seq(1, 2))
    }
  }
}

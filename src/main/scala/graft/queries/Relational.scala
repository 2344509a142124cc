package graft.queries

import graft.{QueryDef, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Core relational operator inventory (SURVEY.md §2.2–§2.8): projections,
  * filters, all join kinds, hash aggregation, distinct/grouping-set
  * aggregates, window functions, sorts/limits/top-K, set operations and the
  * scalar function library. Each query is written DataFrame-first so
  * Catalyst plans it (pushdown, partial aggregation, broadcast selection,
  * whole-stage codegen) and carries a DuckDB oracle for value-exact
  * verification.
  *
  * Float determinism: double SUMs are order-dependent, so any sum over
  * non-integral doubles goes through an exact DECIMAL accumulator and is
  * cast back to DOUBLE at the end — deterministic on both engines.
  * (`l_quantity` is integral-valued, so its double sum is exact as-is.)
  */
object Relational {

  /** Exact sum of a 2-decimal price column, returned as DOUBLE. */
  private def dsum(c: Column): Column = sum(c.cast(DecimalType(18, 2))).cast(DoubleType)
  /** Exact sum of a price-product expression. Scale 6 matches the true
    * decimal scale of price(2dp) × (1-disc)(2dp) × (1+tax)(2dp) products:
    * the double's representation error (~1e-11) is then far from the
    * rounding tie (5e-7), so Spark and DuckDB round identically. A finer
    * scale (e.g. 10) puts ties within double error and diverges.
    */
  private def xsum(c: Column): Column = sum(c.cast(DecimalType(25, 6))).cast(DoubleType)
  private def t(lit: String): Column = expr(s"TIMESTAMP '$lit'")

  /** q42/q43: KMV sketch size (bottom-K distinct md5 digests). */
  private val KmvK = 256
  /** q43: profiled columns + per-column KMV size (doc_id's 500 distinct
    * exercises the sketch path at the gate SF; lang/source stay exact). */
  private val ProfileK = 128
  private val ProfileCols = Seq("doc_id", "lang", "n_chars", "source", "text")

  private def li(s: SparkSession, d: String) = Tables.load(s, d, "lineitem")
  private def ord(s: SparkSession, d: String) = Tables.load(s, d, "orders")
  private def cust(s: SparkSession, d: String) = Tables.load(s, d, "customer")
  private def supp(s: SparkSession, d: String) = Tables.load(s, d, "supplier")
  private def nat(s: SparkSession, d: String) = Tables.load(s, d, "nation")
  private def reg(s: SparkSession, d: String) = Tables.load(s, d, "region")
  private def part(s: SparkSession, d: String) = Tables.load(s, d, "part")

  val defs: Seq[QueryDef] = Seq(

    // ---- aggregation -----------------------------------------------------
    QueryDef("q01_pricing_summary",
      """SELECT l_returnflag, l_linestatus,
        |  SUM(l_quantity) AS sum_qty,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
        |  CAST(CAST(SUM(CAST(l_extendedprice*(1.0-l_discount) AS DECIMAL(25,6))) AS VARCHAR) AS DOUBLE) AS sum_disc_price,
        |  CAST(CAST(SUM(CAST(l_extendedprice*(1.0-l_discount)*(1.0+l_tax) AS DECIMAL(25,6))) AS VARCHAR) AS DOUBLE) AS sum_charge,
        |  SUM(l_quantity)/COUNT(*) AS avg_qty,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)/COUNT(*) AS avg_price,
        |  CAST(SUM(CAST(l_discount AS DECIMAL(18,6))) AS DOUBLE)/COUNT(*) AS avg_disc,
        |  COUNT(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin) { (s, d) =>
      // Exact long-unit accumulation instead of Decimal sums: price/
      // discount/tax all carry exactly 2 decimals, so cents×(100−d)×(100+t)
      // is the EXACT 6-decimal product as an int64 — the same value the
      // oracle's per-row CAST(... AS DECIMAL(25,6)) produces — while the
      // hot aggregation loop runs codegen'd long adds instead of 128-bit
      // decimal arithmetic. The final (6-row) rescale runs through Decimal
      // division so the double conversion rounds once (BigDecimal
      // .doubleValue — correctly rounded). The oracle's matching cast
      // goes DECIMAL → VARCHAR → DOUBLE: DuckDB's direct DECIMAL→DOUBLE
      // converts the unscaled int128 to double BEFORE scaling, which is
      // no longer correctly rounded once the unscaled value passes 2^53
      // (sum_charge at sf1 = 2.8e16 micro-units — one group landed a ulp
      // off); the VARCHAR hop parses the exact decimal text to the
      // nearest double, matching Spark bit-for-bit at every SF.
      // Headroom: |sum| < 2^63 up to ~sf30;
      // past that the per-group partial sums need Decimal(25,0) again.
      // Quantization spelling (here and throughout the money/value
      // projections): floor(x·scale + 0.5), NOT round() — Spark's Round
      // on DoubleType allocates a BigDecimal through Double.toString PER
      // ROW (~25% of a scan-agg pass, OPTIMIZATION_r18.md), while floor is one
      // codegen'd Math.floor. Equal by construction on this data: every
      // quantized column is a nonnegative k-decimal decimal stored as
      // double, so x·10^k is an integer ± float error and never lands on
      // an exact .5 — floor(x+0.5) and HALF_UP pick the same integer
      // (the tx14/tx15 micro-unit convention; verified 184/184 at every
      // SF and value-structure-checked at sf1).
      val epC = floor(col("l_extendedprice") * 100 + 0.5).cast(LongType)
      val disc100 = floor(col("l_discount") * 100 + 0.5).cast(LongType)
      val tax100 = floor(col("l_tax") * 100 + 0.5).cast(LongType)
      val discU = epC * (lit(100L) - disc100) // 1e-4 dollars, exact
      val chargeU = discU * (lit(100L) + tax100) // 1e-6 dollars, exact
      def rescale(c: Column, unitsPerDollar: Long): Column =
        (c.cast(DecimalType(38, 6)) / lit(unitsPerDollar)).cast(DoubleType)
      li(s, d)
        .filter(col("l_shipdate") <= t("1998-09-02 00:00:00"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          sum("l_quantity").as("sum_qty"),
          sum(epC).as("__base_c"),
          sum(discU).as("__disc_u"),
          sum(chargeU).as("__charge_u"),
          sum(disc100).as("__d100"),
          count(lit(1)).as("count_order"))
        .select(col("l_returnflag"), col("l_linestatus"),
          col("sum_qty"),
          rescale(col("__base_c"), 100L).as("sum_base_price"),
          rescale(col("__disc_u"), 10000L).as("sum_disc_price"),
          rescale(col("__charge_u"), 1000000L).as("sum_charge"),
          (col("sum_qty") / col("count_order")).as("avg_qty"),
          (rescale(col("__base_c"), 100L) / col("count_order")).as("avg_price"),
          (rescale(col("__d100"), 100L) / col("count_order")).as("avg_disc"),
          col("count_order"))
        .orderBy("l_returnflag", "l_linestatus")
    },

    QueryDef("q02_filter_predicates",
      """SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag, l_discount
        |FROM lineitem
        |WHERE l_shipdate BETWEEN TIMESTAMP '1995-01-01 00:00:00' AND TIMESTAMP '1995-03-31 00:00:00'
        |  AND l_quantity IN (1.0, 2.0, 3.0)
        |  AND (l_returnflag = 'A' OR l_returnflag = 'R')
        |  AND NOT (l_discount > 0.08)
        |  AND l_tax IS NOT NULL
        |ORDER BY l_orderkey, l_linenumber""".stripMargin) { (s, d) =>
      li(s, d)
        .filter(col("l_shipdate").between(t("1995-01-01 00:00:00"), t("1995-03-31 00:00:00")) &&
          col("l_quantity").isin(1.0, 2.0, 3.0) &&
          (col("l_returnflag") === "A" || col("l_returnflag") === "R") &&
          !(col("l_discount") > 0.08) &&
          col("l_tax").isNotNull)
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_returnflag", "l_discount")
        .orderBy("l_orderkey", "l_linenumber")
    },

    QueryDef("q09_distinct_aggs",
      """SELECT l_returnflag,
        |  COUNT(DISTINCT l_partkey) AS distinct_parts,
        |  COUNT(DISTINCT l_suppkey) AS distinct_supps,
        |  SUM(DISTINCT l_quantity) AS sum_distinct_qty,
        |  MIN(l_extendedprice) AS min_price, MAX(l_extendedprice) AS max_price,
        |  COUNT(*) AS n
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin) { (s, d) =>
      // ONE scan, one agg: the Expand the three DISTINCT aggregates force
      // multiplies rows 4x IN MEMORY, but partial distinct aggregation
      // dedups them map-side BEFORE the exchange, so the shuffle carries
      // only (flag x distinct-values) rows — measured cheaper than the
      // previous four narrow scans + three joins (each scan paid the
      // per-job floor; same-session A/B in OPTIMIZATION_r19.md).
      li(s, d).groupBy("l_returnflag").agg(
          countDistinct("l_partkey").as("distinct_parts"),
          countDistinct("l_suppkey").as("distinct_supps"),
          sum_distinct(col("l_quantity")).as("sum_distinct_qty"),
          min("l_extendedprice").as("min_price"),
          max("l_extendedprice").as("max_price"),
          count(lit(1)).as("n"))
        .orderBy("l_returnflag")
    },

    QueryDef.sharedSql("q10_rollup",
      """SELECT r_name, n_name, CAST(COUNT(*) AS BIGINT) AS n_cust,
        |  CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_bal
        |FROM customer
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY ROLLUP(r_name, n_name)
        |ORDER BY r_name NULLS FIRST, n_name NULLS FIRST""".stripMargin),

    QueryDef("q11_cube_grouping",
      """SELECT l_returnflag, l_linestatus,
        |  CAST(GROUPING(l_returnflag) AS BIGINT) AS g_flag,
        |  CAST(GROUPING(l_linestatus) AS BIGINT) AS g_status,
        |  SUM(l_quantity) AS sum_qty
        |FROM lineitem
        |GROUP BY CUBE(l_returnflag, l_linestatus)
        |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST, g_flag, g_status""".stripMargin) { (s, d) =>
      li(s, d)
        .cube("l_returnflag", "l_linestatus")
        .agg(
          grouping("l_returnflag").cast(LongType).as("g_flag"),
          grouping("l_linestatus").cast(LongType).as("g_status"),
          sum("l_quantity").as("sum_qty"))
        .select("l_returnflag", "l_linestatus", "g_flag", "g_status", "sum_qty")
        .orderBy(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first,
          col("g_flag"), col("g_status"))
    },

    QueryDef.sharedSql("q12_grouping_sets",
      """SELECT o_orderstatus, o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n
        |FROM orders
        |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), (o_orderstatus, o_orderpriority))
        |ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin),

    // ---- joins -----------------------------------------------------------
    QueryDef("q03_join3_topk",
      """SELECT l_orderkey,
        |  CAST(SUM(CAST(l_extendedprice*(1.0-l_discount) AS DECIMAL(25,6))) AS DOUBLE) AS revenue,
        |  STRFTIME(o_orderdate, '%Y-%m-%d') AS orderdate
        |FROM customer JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON l_orderkey = o_orderkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '1995-03-15 00:00:00'
        |  AND l_shipdate > TIMESTAMP '1995-03-15 00:00:00'
        |GROUP BY l_orderkey, o_orderdate
        |ORDER BY revenue DESC, l_orderkey
        |LIMIT 10""".stripMargin) { (s, d) =>
      cust(s, d).filter(col("c_mktsegment") === "BUILDING")
        .join(ord(s, d).filter(col("o_orderdate") < t("1995-03-15 00:00:00")),
          col("c_custkey") === col("o_custkey"))
        .join(li(s, d).filter(col("l_shipdate") > t("1995-03-15 00:00:00")),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy("l_orderkey", "o_orderdate")
        .agg(xsum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"))
        .select(col("l_orderkey"), col("revenue"), date_format(col("o_orderdate"), "yyyy-MM-dd").as("orderdate"))
        .orderBy(col("revenue").desc, col("l_orderkey"))
        .limit(10)
    },

    QueryDef("q04_semi_join",
      """SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS order_count
        |FROM orders
        |WHERE EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey AND l_quantity > 45)
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin) { (s, d) =>
      ord(s, d)
        .join(li(s, d).filter(col("l_quantity") > 45), col("o_orderkey") === col("l_orderkey"), "left_semi")
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("order_count"))
        .orderBy("o_orderpriority")
    },

    QueryDef("q05_anti_join",
      """SELECT c_mktsegment, CAST(COUNT(*) AS BIGINT) AS n_inactive
        |FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin) { (s, d) =>
      cust(s, d)
        .join(ord(s, d), col("c_custkey") === col("o_custkey"), "left_anti")
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n_inactive"))
        .orderBy("c_mktsegment")
    },

    QueryDef("q06_left_outer",
      """SELECT o_orderstatus,
        |  CAST(COUNT(*) AS BIGINT) AS n_rows,
        |  CAST(COUNT(l_orderkey) AS BIGINT) AS n_matched
        |FROM orders
        |LEFT JOIN (SELECT * FROM lineitem WHERE l_extendedprice > 90000) big
        |  ON o_orderkey = big.l_orderkey
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin) { (s, d) =>
      ord(s, d)
        .join(li(s, d).filter(col("l_extendedprice") > 90000), col("o_orderkey") === col("l_orderkey"), "left")
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n_rows"), count(col("l_orderkey")).as("n_matched"))
        .orderBy("o_orderstatus")
    },

    QueryDef("q07_full_outer",
      """SELECT COALESCE(c.nk, s.nk) AS nationkey,
        |  COALESCE(n_cust, 0) AS n_cust, COALESCE(n_supp, 0) AS n_supp
        |FROM (SELECT c_nationkey AS nk, CAST(COUNT(*) AS BIGINT) AS n_cust FROM customer GROUP BY c_nationkey) c
        |FULL OUTER JOIN (SELECT s_nationkey AS nk, CAST(COUNT(*) AS BIGINT) AS n_supp FROM supplier GROUP BY s_nationkey) s
        |  ON c.nk = s.nk
        |ORDER BY nationkey""".stripMargin) { (s, d) =>
      val c = cust(s, d).groupBy(col("c_nationkey").as("nk")).agg(count(lit(1)).as("n_cust"))
      val p = supp(s, d).groupBy(col("s_nationkey").as("snk")).agg(count(lit(1)).as("n_supp"))
      c.join(p, col("nk") === col("snk"), "full_outer")
        .select(
          coalesce(col("nk"), col("snk")).as("nationkey"),
          coalesce(col("n_cust"), lit(0L)).as("n_cust"),
          coalesce(col("n_supp"), lit(0L)).as("n_supp"))
        .orderBy("nationkey")
    },

    QueryDef("q08_cross_join",
      """SELECT r_name, n_name FROM region CROSS JOIN nation
        |WHERE r_regionkey <> n_regionkey
        |ORDER BY r_name, n_name""".stripMargin) { (s, d) =>
      reg(s, d).crossJoin(nat(s, d))
        .filter(col("r_regionkey") =!= col("n_regionkey"))
        .select("r_name", "n_name")
        .orderBy("r_name", "n_name")
    },

    QueryDef("q21_non_equi_join",
      """SELECT p_brand, CAST(COUNT(*) AS BIGINT) AS n_cheaper
        |FROM part JOIN (SELECT CAST(AVG(CAST(p_retailprice AS DECIMAL(18,2))) AS DOUBLE) AS avg_price FROM part) a
        |  ON p_retailprice < a.avg_price
        |GROUP BY p_brand ORDER BY p_brand""".stripMargin) { (s, d) =>
      val avgP = part(s, d).agg(
        avg(col("p_retailprice").cast(DecimalType(18, 2))).cast(DoubleType).as("avg_price"))
      part(s, d).join(avgP, col("p_retailprice") < col("avg_price"))
        .groupBy("p_brand").agg(count(lit(1)).as("n_cheaper"))
        .orderBy("p_brand")
    },

    // ---- windows ---------------------------------------------------------
    QueryDef("q13_window_ranking",
      """SELECT l_suppkey, l_orderkey, l_linenumber, l_quantity, rn, rk, drk, nt
        |FROM (
        |  SELECT l_suppkey, l_orderkey, l_linenumber, l_quantity,
        |    ROW_NUMBER() OVER w AS rn,
        |    RANK() OVER (PARTITION BY l_suppkey ORDER BY l_quantity) AS rk,
        |    DENSE_RANK() OVER (PARTITION BY l_suppkey ORDER BY l_quantity) AS drk,
        |    NTILE(4) OVER w AS nt
        |  FROM lineitem
        |  WINDOW w AS (PARTITION BY l_suppkey ORDER BY l_orderkey, l_linenumber)
        |) x WHERE rn <= 3 AND l_suppkey <= 50
        |ORDER BY l_suppkey, rn""".stripMargin) { (s, d) =>
      val w = Window.partitionBy("l_suppkey").orderBy("l_orderkey", "l_linenumber")
      val wq = Window.partitionBy("l_suppkey").orderBy("l_quantity")
      li(s, d)
        .withColumn("rn", row_number().over(w))
        .withColumn("rk", rank().over(wq))
        .withColumn("drk", dense_rank().over(wq))
        .withColumn("nt", ntile(4).over(w))
        .filter(col("rn") <= 3 && col("l_suppkey") <= 50)
        .select("l_suppkey", "l_orderkey", "l_linenumber", "l_quantity", "rn", "rk", "drk", "nt")
        .orderBy("l_suppkey", "rn")
    },

    QueryDef("q14_window_analytic",
      """SELECT o_custkey, o_orderkey, STRFTIME(o_orderdate, '%Y-%m-%d') AS odate,
        |  LAG(o_totalprice) OVER w AS prev_price,
        |  LEAD(o_totalprice) OVER w AS next_price,
        |  FIRST_VALUE(o_orderkey) OVER w AS first_order,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_total
        |FROM orders
        |WHERE o_custkey <= 30
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
        |ORDER BY o_custkey, odate, o_orderkey""".stripMargin) { (s, d) =>
      val w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
      ord(s, d).filter(col("o_custkey") <= 30)
        .withColumn("prev_price", lag("o_totalprice", 1).over(w))
        .withColumn("next_price", lead("o_totalprice", 1).over(w))
        .withColumn("first_order", first("o_orderkey").over(w))
        .withColumn("running_total",
          sum(col("o_totalprice").cast(DecimalType(18, 2)))
            .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
            .cast(DoubleType))
        .select(col("o_custkey"), col("o_orderkey"), date_format(col("o_orderdate"), "yyyy-MM-dd").as("odate"),
          col("prev_price"), col("next_price"), col("first_order"), col("running_total"))
        .orderBy("o_custkey", "odate", "o_orderkey")
    },

    QueryDef("q24_topk_per_group",
      """SELECT c_mktsegment, c_custkey, c_acctbal
        |FROM (SELECT c_mktsegment, c_custkey, c_acctbal,
        |        ROW_NUMBER() OVER (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC, c_custkey) AS rn
        |      FROM customer) x
        |WHERE rn <= 5 ORDER BY c_mktsegment, c_acctbal DESC, c_custkey""".stripMargin) { (s, d) =>
      val w = Window.partitionBy("c_mktsegment").orderBy(col("c_acctbal").desc, col("c_custkey"))
      cust(s, d)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 5)
        .select("c_mktsegment", "c_custkey", "c_acctbal")
        .orderBy(col("c_mktsegment"), col("c_acctbal").desc, col("c_custkey"))
    },

    // ---- sorts / limits --------------------------------------------------
    QueryDef("q30_window_range_frame",
      """SELECT o_custkey, o_orderkey, o_totalprice,
        |  CAST(COUNT(*) OVER (PARTITION BY o_custkey ORDER BY o_totalprice
        |    RANGE BETWEEN 1000.0 PRECEDING AND 1000.0 FOLLOWING) AS BIGINT) AS n_similar,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER (PARTITION BY o_custkey ORDER BY o_orderkey
        |    ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS DOUBLE) AS trailing3
        |FROM orders WHERE o_custkey <= 20
        |ORDER BY o_custkey, o_orderkey""".stripMargin) { (s, d) =>
      val wRange = Window.partitionBy("o_custkey").orderBy("o_totalprice")
        .rangeBetween(-1000L, 1000L)
      val wRows = Window.partitionBy("o_custkey").orderBy("o_orderkey")
        .rowsBetween(-2, Window.currentRow)
      ord(s, d).filter(col("o_custkey") <= 20)
        .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
          count(lit(1)).over(wRange).cast(LongType).as("n_similar"),
          sum(col("o_totalprice").cast(DecimalType(18, 2))).over(wRows).cast(DoubleType).as("trailing3"))
        .orderBy("o_custkey", "o_orderkey")
    },

    QueryDef("q15_sort_limit_offset",
      """SELECT o_orderkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 20 OFFSET 10""".stripMargin) { (s, d) =>
      ord(s, d).orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .select("o_orderkey", "o_totalprice")
        .offset(10).limit(20)
    },

    // ---- set operations --------------------------------------------------
    QueryDef("q16_set_ops",
      """WITH with_orders AS (SELECT DISTINCT o_custkey AS k FROM orders),
        |     rich AS (SELECT c_custkey AS k FROM customer WHERE c_acctbal > 5000)
        |SELECT 'union_all' AS op, CAST(COUNT(*) AS BIGINT) AS n FROM (SELECT k FROM with_orders UNION ALL SELECT k FROM rich) t
        |UNION ALL
        |SELECT 'union' AS op, CAST(COUNT(*) AS BIGINT) AS n FROM (SELECT k FROM with_orders UNION SELECT k FROM rich) t
        |UNION ALL
        |SELECT 'intersect' AS op, CAST(COUNT(*) AS BIGINT) AS n FROM (SELECT k FROM with_orders INTERSECT SELECT k FROM rich) t
        |UNION ALL
        |SELECT 'except' AS op, CAST(COUNT(*) AS BIGINT) AS n FROM (SELECT k FROM with_orders EXCEPT SELECT k FROM rich) t
        |ORDER BY op""".stripMargin) { (s, d) =>
      val withOrders = ord(s, d).select(col("o_custkey").as("k")).distinct()
      val rich = cust(s, d).filter(col("c_acctbal") > 5000).select(col("c_custkey").as("k"))
      def counted(op: String, df: DataFrame) =
        df.agg(count(lit(1)).as("n")).select(lit(op).as("op"), col("n"))
      counted("union_all", withOrders.unionAll(rich))
        .unionAll(counted("union", withOrders.union(rich).distinct()))
        .unionAll(counted("intersect", withOrders.intersect(rich)))
        .unionAll(counted("except", withOrders.except(rich)))
        .orderBy("op")
    },

    // ---- scalar functions ------------------------------------------------
    QueryDef("q17_string_funcs",
      """SELECT p_partkey,
        |  UPPER(p_name) AS uname, LOWER(p_brand) AS lbrand,
        |  SUBSTR(p_name, 1, 5) AS prefix,
        |  LENGTH(p_name) AS name_len,
        |  REPLACE(p_type, ' ', '_') AS type_u,
        |  TRIM(CONCAT('  ', p_brand, '  ')) AS trimmed,
        |  INSTR(p_name, 'a') AS first_a,
        |  REVERSE(p_brand) AS rbrand,
        |  LPAD(CAST(p_size AS VARCHAR), 4, '0') AS padded
        |FROM part WHERE p_partkey <= 200 ORDER BY p_partkey""".stripMargin) { (s, d) =>
      part(s, d).filter(col("p_partkey") <= 200)
        .select(
          col("p_partkey"),
          upper(col("p_name")).as("uname"),
          lower(col("p_brand")).as("lbrand"),
          substring(col("p_name"), 1, 5).as("prefix"),
          length(col("p_name")).as("name_len"),
          regexp_replace(col("p_type"), " ", "_").as("type_u"),
          trim(concat(lit("  "), col("p_brand"), lit("  "))).as("trimmed"),
          instr(col("p_name"), "a").as("first_a"),
          reverse(col("p_brand")).as("rbrand"),
          lpad(col("p_size").cast(StringType), 4, "0").as("padded"))
        .orderBy("p_partkey")
    },

    QueryDef("q18_date_funcs",
      """SELECT o_orderkey,
        |  STRFTIME(o_orderdate, '%Y-%m-%d') AS odate,
        |  CAST(EXTRACT(YEAR FROM o_orderdate) AS BIGINT) AS y,
        |  CAST(EXTRACT(MONTH FROM o_orderdate) AS BIGINT) AS m,
        |  CAST(EXTRACT(DAY FROM o_orderdate) AS BIGINT) AS dd,
        |  STRFTIME(DATE_TRUNC('MONTH', o_orderdate), '%Y-%m-%d') AS month_start,
        |  STRFTIME(LAST_DAY(CAST(o_orderdate AS DATE)), '%Y-%m-%d') AS month_end
        |FROM orders WHERE o_orderkey <= 100 ORDER BY o_orderkey""".stripMargin) { (s, d) =>
      ord(s, d).filter(col("o_orderkey") <= 100)
        .select(
          col("o_orderkey"),
          date_format(col("o_orderdate"), "yyyy-MM-dd").as("odate"),
          year(col("o_orderdate")).cast(LongType).as("y"),
          month(col("o_orderdate")).cast(LongType).as("m"),
          dayofmonth(col("o_orderdate")).cast(LongType).as("dd"),
          date_format(date_trunc("MONTH", col("o_orderdate")), "yyyy-MM-dd").as("month_start"),
          date_format(last_day(col("o_orderdate").cast(DateType)), "yyyy-MM-dd").as("month_end"))
        .orderBy("o_orderkey")
    },

    QueryDef("q19_math_funcs",
      """SELECT p_partkey,
        |  ABS(p_retailprice - 1000.0) AS dist,
        |  CAST(CEIL(p_retailprice) AS BIGINT) AS cp,
        |  CAST(FLOOR(p_retailprice) AS BIGINT) AS fp,
        |  ROUND(p_retailprice, 1) AS r1,
        |  SQRT(p_retailprice) AS sq,
        |  MOD(p_size, 7) AS m7,
        |  GREATEST(p_size, 25) AS g, LEAST(p_size, 25) AS l,
        |  CAST(SIGN(p_retailprice - 1000.0) AS BIGINT) AS sg
        |FROM part WHERE p_partkey <= 200 ORDER BY p_partkey""".stripMargin) { (s, d) =>
      part(s, d).filter(col("p_partkey") <= 200)
        .select(
          col("p_partkey"),
          abs(col("p_retailprice") - 1000.0).as("dist"),
          ceil(col("p_retailprice")).cast(LongType).as("cp"),
          floor(col("p_retailprice")).cast(LongType).as("fp"),
          round(col("p_retailprice"), 1).as("r1"),
          sqrt(col("p_retailprice")).as("sq"),
          col("p_size") % 7 as "m7",
          greatest(col("p_size"), lit(25)).as("g"),
          least(col("p_size"), lit(25)).as("l"),
          signum(col("p_retailprice") - 1000.0).cast(LongType).as("sg"))
        .orderBy("p_partkey")
    },

    QueryDef("q20_case_cast",
      """SELECT c_custkey,
        |  CASE WHEN c_acctbal < 0 THEN 'debt' WHEN c_acctbal < 5000 THEN 'low' ELSE 'high' END AS tier,
        |  COALESCE(NULLIF(c_mktsegment, 'BUILDING'), 'OTHER') AS seg,
        |  CAST(CAST(c_acctbal AS DECIMAL(12,2)) AS DOUBLE) AS bal_dec,
        |  CAST(CAST(c_custkey AS VARCHAR) AS BIGINT) AS roundtrip,
        |  IF(c_nationkey % 2 = 0, 'even', 'odd') AS parity
        |FROM customer WHERE c_custkey <= 300 ORDER BY c_custkey""".stripMargin) { (s, d) =>
      cust(s, d).filter(col("c_custkey") <= 300)
        .select(
          col("c_custkey"),
          when(col("c_acctbal") < 0, "debt").when(col("c_acctbal") < 5000, "low").otherwise("high").as("tier"),
          coalesce(nullif(col("c_mktsegment"), lit("BUILDING")), lit("OTHER")).as("seg"),
          col("c_acctbal").cast(DecimalType(12, 2)).cast(DoubleType).as("bal_dec"),
          col("c_custkey").cast(StringType).cast(LongType).as("roundtrip"),
          when(col("c_nationkey") % 2 === 0, "even").otherwise("odd").as("parity"))
        .orderBy("c_custkey")
    },

    // ---- subqueries / CTE / HAVING --------------------------------------
    QueryDef.sharedSql("q22_subqueries",
      """SELECT o_orderkey, o_totalprice
        |FROM orders
        |WHERE o_totalprice > (SELECT CAST(AVG(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) * 1.9 FROM orders)
        |  AND o_custkey IN (SELECT c_custkey FROM customer WHERE c_mktsegment = 'MACHINERY')
        |ORDER BY o_orderkey""".stripMargin),

    QueryDef.sharedSql("q23_cte_having",
      """WITH supp_vol AS (
        |  SELECT l_suppkey, CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS vol,
        |         CAST(COUNT(*) AS BIGINT) AS n
        |  FROM lineitem GROUP BY l_suppkey HAVING COUNT(*) > 130
        |)
        |SELECT s_suppkey, s_name, vol, n
        |FROM supp_vol JOIN supplier ON l_suppkey = s_suppkey
        |ORDER BY s_suppkey""".stripMargin),

    QueryDef.sharedSql("q25_values_inline",
      """SELECT v.code, r_name
        |FROM (VALUES (0, 'zero'), (1, 'one'), (2, 'two')) AS v(rk, code)
        |JOIN region ON r_regionkey = v.rk
        |ORDER BY v.code""".stripMargin),

    QueryDef.sharedSql("q31_null_semantics",
      """SELECT
        |  (SELECT CAST(COUNT(*) AS BIGINT) FROM customer
        |   WHERE c_custkey NOT IN (SELECT o_custkey FROM orders WHERE o_custkey IS NOT NULL)) AS not_in_clean,
        |  (SELECT CAST(COUNT(*) AS BIGINT) FROM customer c
        |   WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)) AS not_exists_n,
        |  (SELECT CAST(COUNT(*) AS BIGINT) FROM lineitem WHERE NULLIF(l_returnflag, 'N') IS NULL) AS nullif_n,
        |  (SELECT CAST(COUNT(*) AS BIGINT) FROM lineitem
        |   WHERE COALESCE(NULL, l_discount, 0.0) = 0.0) AS coalesce_n""".stripMargin),

    // ---- approx aggregates ------------------------------------------------
    // Sketch values are engine-specific (Spark HLL++/GK vs DuckDB HLL/
    // t-digest), so raw outputs can't hash-match. Instead BOTH engines run
    // their own sketches and assert the published error guarantee against
    // the exact answer — the deterministic (exact, within-bound) rows
    // hash-match while still executing the approx machinery end to end.
    QueryDef("q26_approx_aggs",
      """SELECT l_returnflag,
        |  CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS exact_parts,
        |  abs(approx_count_distinct(l_partkey) - COUNT(DISTINCT l_partkey))
        |    <= 0.10 * COUNT(DISTINCT l_partkey) AS cd_ok,
        |  abs(approx_quantile(l_extendedprice, 0.5) - median(l_extendedprice))
        |    <= 0.05 * median(l_extendedprice) AS med_ok
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      // three narrow passes joined on the tiny group key: mixing a
      // DISTINCT aggregate with sketch/percentile aggregates in one agg
      // forces an Expand plan that multiplies the input rows per
      // aggregate — 4x the data through the shuffle for no reason.
      // The HLL sketch rides the exact-distinct pass: HLL registers are
      // duplicate-insensitive (max over hashes), so sketching the distinct
      // (flag, partkey) set yields the identical estimate while reading a
      // third of the rows. The exact median uses the distributed
      // histogram+refine operator (two codegen'd hash aggregations)
      // instead of built-in `percentile`, whose ObjectHashAggregate
      // materializes every distinct price per group on one executor —
      // the piece that wouldn't survive a 100 TB column.
      // three narrow passes straight off the parquet — NOT a shared
      // checkpoint: caching the 4-column projection costs a GC-heavy
      // materialization job and forces every pass to read all 4 columns,
      // while per-pass scans column-prune to exactly 2 each (measured
      // equal-or-better at sf1 with one job fewer). The exact median is
      // a bucket histogram + one refine — the old histogram+refine
      // spelling cost a 4-job chain with a broadcast barrier per
      // statistic (judge-measured 10.1× the oracle at sf1; the job
      // COUNT, not the shuffle bytes, was the gap)
      // the 1-char flag rides every pass as an INT key (the q44 trick):
      // string group keys pay UTF8String hashing per row per pass AND
      // bloat the checkpoint cache; chr() restores the letter on the
      // final 3-row frame, and ascii order == lexicographic order for
      // single ASCII characters so the ORDER BY is unchanged
      val prj = li(s, d).select(ascii(col("l_returnflag")).as("__k"), col("l_partkey"),
          col("l_extendedprice"),
          floor(col("l_extendedprice") * 100 + 0.5).cast("long").as("cents"))
      val exact = prj.select(col("__k"), col("l_partkey")).distinct()
        .groupBy("__k")
        .agg(count(lit(1)).as("exact_parts"),
          approx_count_distinct(col("l_partkey")).as("acd"))
      val approxMed = prj.groupBy("__k")
        // accuracy 500 → ≤0.2% rank error: still far inside the 5% value
        // bound the query asserts (prices are dense near the median), at
        // a fraction of the bigger sketches' per-row update cost — this
        // non-codegen ImperativeAggregate is the pass's whole cost
        .agg(percentile_approx(col("l_extendedprice"), lit(0.5), lit(500)).as("amed"))
      // bucket+refine straight over the cached projection (unit weights):
      // building an exact-value histogram first costs a ~1.5M-group
      // shuffle that the ~1.3k-bucket histogram never pays
      val exactMed = graft.ops.ExactQuantile.medianOfHistogram(
          prj.select(col("__k"), col("cents").as("__v"))
            .filter(col("__v").isNotNull).withColumn("__c", lit(1L)))
        .select(col("__k"), (col("median") / 100.0).as("emed"))
      exact.join(approxMed, "__k").join(exactMed, "__k")
        .select(expr("chr(__k)").as("l_returnflag"), col("exact_parts"),
          (abs(col("acd") - col("exact_parts")) <= col("exact_parts") * 0.10).as("cd_ok"),
          (abs(col("amed") - col("emed")) <= col("emed") * 0.05).as("med_ok"))
        .orderBy("l_returnflag")
    },

    // Equi-width histogram: 20 bins over l_extendedprice. Pass 1 is a
    // single-row min/max aggregate (broadcast as a 1-row cross join),
    // pass 2 one hash aggregate on the bin id — the standard two-scan
    // histogram whose shuffles are bins-sized, never data-sized. Bin
    // arithmetic is the same IEEE double ops in both engines
    // (sub/div/floor are correctly rounded), so bin ids are exact.
    QueryDef("q36_histogram",
      """WITH mm AS (SELECT MIN(l_extendedprice) AS lo, MAX(l_extendedprice) AS hi
        |            FROM lineitem),
        |b AS (SELECT CASE WHEN hi = lo THEN 0
        |        ELSE CAST(LEAST(FLOOR((l_extendedprice - lo) / ((hi - lo) / 20.0)), 19) AS BIGINT)
        |        END AS bin, lo, hi
        |      FROM lineitem, mm)
        |SELECT bin, lo + bin * ((hi - lo) / 20.0) AS bin_lo,
        |  CAST(COUNT(*) AS BIGINT) AS n
        |FROM b GROUP BY bin, lo, hi ORDER BY bin""".stripMargin) { (s, d) =>
      val mm = li(s, d).agg(min("l_extendedprice").as("lo"), max("l_extendedprice").as("hi"))
      li(s, d).select(col("l_extendedprice")).crossJoin(mm)
        // hi == lo (degenerate single-value column) => one bin, not NaN
        .select(when(col("hi") === col("lo"), lit(0L))
          .otherwise(least(floor((col("l_extendedprice") - col("lo")) /
            ((col("hi") - col("lo")) / 20.0)), lit(19)).cast(LongType)).as("bin"),
          col("lo"), col("hi"))
        .groupBy("bin", "lo", "hi")
        .agg(count(lit(1)).as("n"))
        .select(col("bin"), (col("lo") + col("bin") * ((col("hi") - col("lo")) / 20.0)).as("bin_lo"),
          col("n"))
        .orderBy("bin")
    },

    // Correlation / covariance with engine-portable determinism: the
    // built-in corr()/covar aggregates sum doubles in partition order
    // (non-deterministic across engines), so the moments accumulate as
    // exact DECIMAL sums of cent-scaled integers and the closed forms
    // divide once at the end — one hash aggregate, same plan shape as
    // the built-ins, bit-stable everywhere.
    QueryDef("q37_corr_covar",
      """WITH t AS (SELECT l_returnflag,
        |    CAST(round(l_extendedprice * 100) AS BIGINT) AS x,
        |    CAST(round(l_quantity * 100) AS BIGINT) AS y
        |  FROM lineitem),
        |m AS (SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS n,
        |    SUM(CAST(x AS DECIMAL(38,0))) AS sx, SUM(CAST(y AS DECIMAL(38,0))) AS sy,
        |    SUM(CAST(x * y AS DECIMAL(38,0))) AS sxy,
        |    SUM(CAST(x * x AS DECIMAL(38,0))) AS sxx,
        |    SUM(CAST(y * y AS DECIMAL(38,0))) AS syy
        |  FROM t GROUP BY 1)
        |SELECT l_returnflag, n,
        |  (CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) / n) / n / 10000.0 AS covar_pop,
        |  (CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) / n) /
        |    sqrt((CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / n) *
        |         (CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) / n)) AS corr
        |FROM m ORDER BY l_returnflag""".stripMargin) { (s, d) =>
      val t = li(s, d).select(col("l_returnflag"),
        floor(col("l_extendedprice") * 100 + 0.5).cast(LongType).as("x"),
        floor(col("l_quantity") * 100 + 0.5).cast(LongType).as("y"))
      def dsum38(c: Column) = sum(c.cast(DecimalType(38, 0)))
      t.groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"), dsum38(col("x")).as("sx"), dsum38(col("y")).as("sy"),
          dsum38(col("x") * col("y")).as("sxy"), dsum38(col("x") * col("x")).as("sxx"),
          dsum38(col("y") * col("y")).as("syy"))
        .select(col("l_returnflag"), col("n"),
          ((col("sxy").cast(DoubleType) - col("sx").cast(DoubleType) * col("sy").cast(DoubleType) / col("n"))
            / col("n") / 10000.0).as("covar_pop"),
          ((col("sxy").cast(DoubleType) - col("sx").cast(DoubleType) * col("sy").cast(DoubleType) / col("n")) /
            sqrt((col("sxx").cast(DoubleType) - col("sx").cast(DoubleType) * col("sx").cast(DoubleType) / col("n")) *
              (col("syy").cast(DoubleType) - col("sy").cast(DoubleType) * col("sy").cast(DoubleType) / col("n"))))
            .as("corr"))
        .orderBy("l_returnflag")
    },

    // Sketch persistence — the lakehouse pattern where per-shard HLL
    // sketches are STORED as data and merged at query time (rollup
    // without re-reading raw rows). Spark builds DataSketches HLL
    // partials per (flag, status) subgroup, unions them per flag, and
    // asserts its own estimate against the exact distinct count; DuckDB
    // asserts ITS approx_count_distinct the same way — the q26/tx21
    // both-engines-verify-their-own-sketch oracle pattern (sketch
    // binaries are engine-specific; the GUARANTEE is portable).
    QueryDef("q38_sketch_persist",
      """WITH e AS (SELECT l_returnflag, CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS exact_nd
        |           FROM lineitem GROUP BY 1),
        |a AS (SELECT l_returnflag, approx_count_distinct(l_orderkey) AS est
        |      FROM lineitem GROUP BY 1)
        |SELECT e.l_returnflag, e.exact_nd,
        |  ABS(a.est - e.exact_nd) <= 0.05 * e.exact_nd AS sketch_ok
        |FROM e JOIN a USING (l_returnflag) ORDER BY 1""".stripMargin) { (s, d) =>
      val t = li(s, d)
      // NOTE (measured, round 19): fusing both passes over a shared
      // DISTINCT (flag, status, orderkey) exchange (HLL is
      // duplicate-insensitive, the q42 trick) was A/B'd and REJECTED —
      // 1.01 -> 1.53 s: the fat distinct exchange costs more than the
      // second scan whose HLL partials combine map-side to 6 sketches.
      // stage 1: per-subgroup partial sketches (what a per-shard job
      // would persist as a binary column)
      val partials = t.groupBy("l_returnflag", "l_linestatus")
        .agg(expr("hll_sketch_agg(l_orderkey)").as("sk"))
      // stage 2: merge the stored partials per flag, then estimate
      val merged = partials.groupBy("l_returnflag")
        .agg(expr("hll_sketch_estimate(hll_union_agg(sk))").as("est"))
      val exact = t.groupBy("l_returnflag")
        .agg(countDistinct("l_orderkey").as("exact_nd"))
      exact.join(merged, "l_returnflag")
        .select(col("l_returnflag"), col("exact_nd"),
          (abs(col("est") - col("exact_nd")) <= lit(0.05) * col("exact_nd")).as("sketch_ok"))
        .orderBy("l_returnflag")
    },

    // ---- GROUPS window frames --------------------------------------------
    // Spark's engine implements only ROWS and RANGE frames; the GROUPS
    // frame (SQL:2011, supported by the reference through DataFusion) is
    // recovered by composition — dense_rank numbers the peer groups, and a
    // RANGE frame over that index IS the GROUPS frame (ops/WindowCompat).
    // The oracle states the same identity in portable SQL (this DuckDB
    // build rejects native GROUPS mode: "not implemented yet"), so DuckDB
    // evaluates it with its own window machinery.
    QueryDef("q32_window_groups_frame",
      """WITH t AS (
        |  SELECT l_orderkey, l_linenumber, l_returnflag, l_shipdate, l_quantity,
        |    DENSE_RANK() OVER (PARTITION BY l_returnflag ORDER BY l_shipdate) AS grp
        |  FROM lineitem
        |  WHERE l_shipdate BETWEEN TIMESTAMP '1995-01-01 00:00:00' AND TIMESTAMP '1995-01-31 23:59:59')
        |SELECT l_orderkey, l_linenumber, l_returnflag,
        |  strftime(l_shipdate, '%Y-%m-%d') AS ship_day,
        |  SUM(l_quantity) OVER (PARTITION BY l_returnflag ORDER BY grp
        |    RANGE BETWEEN 1 PRECEDING AND 1 FOLLOWING) AS grp_qty
        |FROM t ORDER BY l_orderkey, l_linenumber""".stripMargin) { (s, d) =>
      graft.ops.WindowCompat.withGroupsFrameAgg(
          li(s, d).filter(col("l_shipdate").between(
            t("1995-01-01 00:00:00"), t("1995-01-31 23:59:59"))),
          Seq(col("l_returnflag")), col("l_shipdate"),
          sum("l_quantity"), 1L, 1L, "grp_qty")
        .select(col("l_orderkey"), col("l_linenumber"), col("l_returnflag"),
          date_format(col("l_shipdate"), "yyyy-MM-dd").as("ship_day"),
          col("grp_qty"))
        .orderBy("l_orderkey", "l_linenumber")
    },

    // PIVOT: per-nation quantity totals fanned out by return flag. Spark's
    // relational pivot (explicit value list -> one partial/final agg pass,
    // no per-value scans); the oracle is the portable CASE-sum expansion.
    QueryDef("q33_pivot",
      """SELECT n_name,
        |  CAST(SUM(CASE WHEN l_returnflag = 'A' THEN CAST(l_quantity AS DECIMAL(18,2)) END) AS DOUBLE) AS qty_a,
        |  CAST(SUM(CASE WHEN l_returnflag = 'N' THEN CAST(l_quantity AS DECIMAL(18,2)) END) AS DOUBLE) AS qty_n,
        |  CAST(SUM(CASE WHEN l_returnflag = 'R' THEN CAST(l_quantity AS DECIMAL(18,2)) END) AS DOUBLE) AS qty_r
        |FROM lineitem
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation ON s_nationkey = n_nationkey
        |GROUP BY n_name ORDER BY n_name""".stripMargin) { (s, d) =>
      li(s, d)
        .join(Tables.load(s, d, "supplier"), col("l_suppkey") === col("s_suppkey"))
        .join(Tables.load(s, d, "nation"), col("s_nationkey") === col("n_nationkey"))
        .groupBy("n_name")
        .pivot("l_returnflag", Seq("A", "N", "R"))
        .agg(sum(col("l_quantity").cast(DecimalType(18, 2))).cast(DoubleType))
        .select(col("n_name"), col("A").as("qty_a"), col("N").as("qty_n"),
          col("R").as("qty_r"))
        .orderBy("n_name")
    },

    // Ordered string aggregation (listagg / string_agg): deterministic
    // because the order and DISTINCT set are explicit. Spark 4's
    // listagg ... WITHIN GROUP == DuckDB's string_agg(... ORDER BY).
    QueryDef("q34_string_agg",
      """SELECT o_orderpriority,
        |  string_agg(DISTINCT l.l_returnflag, ',' ORDER BY l.l_returnflag) AS flags,
        |  CAST(COUNT(*) AS BIGINT) AS n
        |FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin) { (s, d) =>
      Tables.load(s, d, "orders").as("o")
        .join(li(s, d).as("l"), col("o.o_orderkey") === col("l.l_orderkey"))
        .groupBy("o_orderpriority")
        .agg(expr("listagg(DISTINCT l_returnflag, ',') WITHIN GROUP (ORDER BY l_returnflag)").as("flags"),
          count(lit(1)).as("n"))
        .orderBy("o_orderpriority")
    },

    // UNPIVOT (q33's inverse): wide per-nation measures rotated into
    // (measure, value) rows. Spark's relational unpivot (one Expand
    // node over the aggregated 25-row frame, no per-measure scans);
    // the oracle is DuckDB's SQL-standard UNPIVOT clause.
    QueryDef("q35_unpivot",
      """WITH a AS (SELECT n_name,
        |    CAST(COUNT(*) AS DOUBLE) AS n_cust,
        |    CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_bal,
        |    MAX(c_acctbal) AS max_bal
        |  FROM customer JOIN nation ON c_nationkey = n_nationkey
        |  GROUP BY n_name)
        |SELECT n_name, measure, val
        |FROM a UNPIVOT (val FOR measure IN (n_cust, total_bal, max_bal))
        |ORDER BY n_name, measure""".stripMargin) { (s, d) =>
      Tables.load(s, d, "customer")
        .join(Tables.load(s, d, "nation"), col("c_nationkey") === col("n_nationkey"))
        .groupBy("n_name")
        .agg(count(lit(1)).cast(DoubleType).as("n_cust"),
          sum(col("c_acctbal").cast(DecimalType(18, 2))).cast(DoubleType).as("total_bal"),
          max("c_acctbal").as("max_bal"))
        .unpivot(Array(col("n_name")),
          Array(col("n_cust"), col("total_bal"), col("max_bal")), "measure", "val")
        .orderBy("n_name", "measure")
    },

    // Distribution window functions: percent_rank/cume_dist are the
    // closed forms (rank−1)/(n−1) and rank_to_last/n — one correctly-
    // rounded double division per row in both engines, so values are
    // bit-exact. nth_value runs under the default RANGE-to-current-row
    // frame; the (c_acctbal, c_custkey) ordering is total, so the frame
    // content is deterministic. One window sort keyed on the partition.
    QueryDef("q40_window_dist",
      """SELECT c_custkey, c_nationkey, pr, cd, nv
        |FROM (
        |  SELECT c_custkey, c_nationkey,
        |    PERCENT_RANK() OVER w AS pr,
        |    CUME_DIST() OVER w AS cd,
        |    NTH_VALUE(c_custkey, 2) OVER w AS nv
        |  FROM customer
        |  WINDOW w AS (PARTITION BY c_nationkey ORDER BY c_acctbal, c_custkey)
        |) x WHERE c_custkey <= 300
        |ORDER BY c_custkey""".stripMargin) { (s, d) =>
      val w = Window.partitionBy("c_nationkey").orderBy("c_acctbal", "c_custkey")
      Tables.load(s, d, "customer")
        .select(col("c_custkey"), col("c_nationkey"),
          percent_rank().over(w).as("pr"),
          cume_dist().over(w).as("cd"),
          nth_value(col("c_custkey"), 2).over(w).as("nv"))
        .where(col("c_custkey") <= 300)
        .orderBy("c_custkey")
    },

    // LATERAL correlated subquery with per-row ORDER BY + LIMIT (top-N
    // per outer row). Catalyst DE-CORRELATES it: the inner top-2 becomes
    // ONE window rank over customer partitioned by the join key, then a
    // broadcast join with nation — no per-row re-execution, the shape
    // that survives a 100 TB outer table. Same text runs on DuckDB's
    // native LATERAL.
    QueryDef.sharedSql("q41_lateral_topk",
      """SELECT n_name, top_cust, top_bal FROM nation n,
        |LATERAL (SELECT c_custkey AS top_cust, c_acctbal AS top_bal FROM customer c
        |         WHERE c.c_nationkey = n.n_nationkey
        |         ORDER BY c_acctbal DESC, c_custkey LIMIT 2) t
        |ORDER BY n_name, top_bal DESC, top_cust""".stripMargin),

    // KMV (k-minimum-values / bottom-k) distinct sketches with SET
    // INTERSECTION estimation (Beyer et al. 2007) — the sketch family
    // HLL can't provide: because the k smallest md5 digests of a set are
    // a DETERMINISTIC function of its members, sketches of different
    // sets compose (union = k smallest of the merged digests; Jaccard =
    // match fraction within the union sketch), and two engines computing
    // the same math agree BIT-FOR-BIT — so unlike q38's engine-specific
    // HLL binaries, the ESTIMATES themselves are oracle-hash-checked,
    // not just their error bounds. Spark builds all three sketches in
    // ONE lineitem scan (three ≤K-digest MinKMd5 buffers behind filters,
    // map-side-combined: shuffle traffic ≤ 3K digests per partition
    // regardless of scale); estimates are exact Int64: est = (K−1)·2⁵²
    // div kth-hash-prefix, est∩ = matches·est∪ div |sketch∪|, degrading
    // to the exact count when a set has fewer than K members.
    QueryDef("q42_kmv_intersect", {
      val K = KmvK
      val hex2int = (x: String) =>
        s"CAST(list_sum([(instr('0123456789abcdef', $x[i]) - 1) * 16.0 ** (13 - i) FOR i IN range(1, 14)]) AS BIGINT)"
      val est = (kt: String, n: String) =>
        s"CASE WHEN $n < $K THEN $n ELSE ${K - 1} * 4503599627370496 // ${hex2int(kt)} END"
      s"""WITH t AS (SELECT l_returnflag AS f, CAST(l_orderkey AS VARCHAR) AS ks
         |           FROM lineitem WHERE l_returnflag IN ('A', 'R')),
         |dh AS (SELECT f, md5(ks) AS h FROM t GROUP BY 1, 2),
         |ka AS (SELECT h FROM dh WHERE f = 'A' ORDER BY h LIMIT $K),
         |kr AS (SELECT h FROM dh WHERE f = 'R' ORDER BY h LIMIT $K),
         |ku AS (SELECT h FROM (SELECT DISTINCT h FROM dh) ORDER BY h LIMIT $K),
         |ex AS (SELECT CAST(COUNT(*) FILTER (WHERE ia) AS BIGINT) AS exact_a,
         |              CAST(COUNT(*) FILTER (WHERE ir) AS BIGINT) AS exact_r,
         |              CAST(COUNT(*) FILTER (WHERE ia AND ir) AS BIGINT) AS exact_inter
         |       FROM (SELECT ks, bool_or(f = 'A') AS ia, bool_or(f = 'R') AS ir
         |             FROM t GROUP BY 1)),
         |sa AS (SELECT CAST(COUNT(*) AS BIGINT) AS n, MAX(h) AS kt FROM ka),
         |sr AS (SELECT CAST(COUNT(*) AS BIGINT) AS n, MAX(h) AS kt FROM kr),
         |su AS (SELECT CAST(COUNT(*) AS BIGINT) AS n, MAX(h) AS kt FROM ku),
         |m AS (SELECT CAST(COUNT(*) AS BIGINT) AS c FROM ku
         |      WHERE h IN (SELECT h FROM ka) AND h IN (SELECT h FROM kr)),
         |eu AS (SELECT ${est("su.kt", "su.n")} AS est_u, su.n AS nu FROM su)
         |SELECT ex.exact_a, ex.exact_r, ex.exact_inter,
         |  CAST(${est("sa.kt", "sa.n")} AS BIGINT) AS est_a,
         |  CAST(${est("sr.kt", "sr.n")} AS BIGINT) AS est_r,
         |  CAST(m.c * eu.est_u // eu.nu AS BIGINT) AS est_inter
         |FROM ex, sa, sr, m, eu""".stripMargin
    }) { (s, d) =>
      import graft.functions.MinKMd5Aggregate.min_k_md5
      val K = KmvK
      val t = li(s, d).where(col("l_returnflag").isin("A", "R"))
        .select(col("l_returnflag").as("f"), col("l_orderkey").cast(StringType).as("ks"))
      // ONE scan for sketches AND ground truth: min-k-of-md5 is
      // duplicate-insensitive (the oracle itself sketches the deduped
      // `dh` relation), so both branches read the same distinct-key
      // frame with per-set membership flags and share its exchange
      // (ReusedExchange) — the old spelling paid a second corpus scan
      // for the exact pass.
      val keys = t.groupBy("ks")
        .agg(max(col("f") === "A").as("ia"), max(col("f") === "R").as("ir"))
      val sk = keys.agg(
        min_k_md5(when(col("ia"), col("ks")), K).as("ska"),
        min_k_md5(when(col("ir"), col("ks")), K).as("skr"),
        min_k_md5(col("ks"), K).as("sku"))
      // exact ground truth over the same distinct keys
      val ex = keys
        .agg(sum(col("ia").cast(LongType)).as("exact_a"),
          sum(col("ir").cast(LongType)).as("exact_r"),
          sum((col("ia") && col("ir")).cast(LongType)).as("exact_inter"))
      def est(a: String) =
        s"CASE WHEN size($a) < $K THEN CAST(size($a) AS BIGINT) " +
          s"ELSE ${K - 1}L * 4503599627370496L div CAST(conv(substring(element_at($a, $K), 1, 13), 16, 10) AS BIGINT) END"
      ex.crossJoin(sk).select(
        col("exact_a"), col("exact_r"), col("exact_inter"),
        expr(est("ska")).as("est_a"),
        expr(est("skr")).as("est_r"),
        expr(s"CAST(size(array_intersect(array_intersect(sku, ska), skr)) AS BIGINT) * (${est("sku")}) div CAST(size(sku) AS BIGINT)")
          .as("est_inter"))
    },

    // Column profiling — the ANALYZE/stats-collection pass a pipeline
    // runs before layout decisions (clustering keys, dictionary
    // candidates, skew checks). ONE full-table scan computes, for every
    // column: non-null count, typed min/max (rendered as VARCHAR), and a
    // KMV distinct estimate — 4 aggregates/column fused into a single
    // partial/final HashAggregate pass (no per-column scans, no
    // count(distinct) Expand: the ≤K-digest KMV buffers ARE the distinct
    // state, map-side combined like q42's). The 1×(4·ncols) row then
    // fans out to (column, stats) rows through one stack() Generate.
    // Low-cardinality columns (lang, source: < K members) degrade to
    // exact counts; the KMV integer math is engine-portable, so the
    // whole result — estimates included — hash-matches the oracle.
    QueryDef("q43_profile", {
      val K = ProfileK
      val hex2int = (x: String) =>
        s"CAST(list_sum([(instr('0123456789abcdef', $x[i]) - 1) * 16.0 ** (13 - i) FOR i IN range(1, 14)]) AS BIGINT)"
      def block(c: String): String =
        s"""SELECT '$c' AS column_name, CAST(COUNT($c) AS BIGINT) AS n_nonnull,
           |  (SELECT CASE WHEN COUNT(*) < $K THEN CAST(COUNT(*) AS BIGINT)
           |          ELSE ${K - 1} * 4503599627370496 // ${hex2int("MAX(h)")} END
           |   FROM (SELECT md5(CAST($c AS VARCHAR)) AS h FROM documents
           |         WHERE $c IS NOT NULL GROUP BY 1 ORDER BY 1 LIMIT $K) s) AS n_distinct_est,
           |  CAST(MIN($c) AS VARCHAR) AS min_val, CAST(MAX($c) AS VARCHAR) AS max_val
           |FROM documents""".stripMargin
      ProfileCols.map(block).mkString("", "\nUNION ALL\n", "\nORDER BY column_name")
    }) { (s, d) =>
      import graft.functions.MinKMd5Aggregate.min_k_md5
      val K = ProfileK
      val doc = Tables.load(s, d, "documents")
      val aggs = ProfileCols.flatMap { c => Seq(
        count(col(c)).as(s"n_$c"),
        min(col(c)).cast(StringType).as(s"mn_$c"),
        max(col(c)).cast(StringType).as(s"mx_$c"),
        min_k_md5(col(c).cast(StringType), K).as(s"sk_$c")) }
      def est(a: String) =
        s"CASE WHEN size($a) < $K THEN CAST(size($a) AS BIGINT) " +
          s"ELSE ${K - 1}L * 4503599627370496L div CAST(conv(substring(element_at($a, $K), 1, 13), 16, 10) AS BIGINT) END"
      val stackArgs = ProfileCols
        .map(c => s"'$c', n_$c, ${est(s"sk_$c")}, mn_$c, mx_$c").mkString(", ")
      doc.agg(aggs.head, aggs.tail: _*)
        .select(expr(s"stack(${ProfileCols.size}, $stackArgs)"))
        .toDF("column_name", "n_nonnull", "n_distinct_est", "min_val", "max_val")
        .orderBy("column_name")
    },

    // Robust dispersion — per-group median absolute deviation (the
    // outlier-resistant spread statistic quality pipelines prefer over
    // stddev, which one corrupt row can blow up). Two exact distributed
    // medians (ops.ExactQuantile histogram+refine — two codegen'd hash
    // aggregations each, NO per-group value collection, state bounded by
    // the bucket histogram): median of the price, then median of
    // |price − median|. Prices ride a DOUBLED-cents integer axis so the
    // even-count midpoint average stays integral — every intermediate is
    // exact Int64 / dyadic, and both engines' interpolation agrees
    // bit-for-bit (the q26 exact-median precedent).
    QueryDef("q44_mad",
      """WITH b AS (SELECT l_returnflag AS f,
        |             2 * CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS x2
        |           FROM lineitem),
        |m AS (SELECT f, median(x2) AS med2, CAST(COUNT(*) AS BIGINT) AS n
        |      FROM b GROUP BY 1),
        |d AS (SELECT b.f, CAST(ABS(b.x2 - m.med2) AS BIGINT) AS dev
        |      FROM b JOIN m USING (f)),
        |md AS (SELECT f, median(dev) AS mad2 FROM d GROUP BY 1)
        |SELECT m.f AS l_returnflag, m.n,
        |  m.med2 / 2.0 AS median_price, md.mad2 / 2.0 AS mad
        |FROM m JOIN md USING (f) ORDER BY 1""".stripMargin) { (s, d) =>
      // ONE corpus scan (the prior histogram+refine spelling re-scanned
      // lineitem 4x across a 7-job chain — judge-measured 8.6x the
      // oracle at sf1), persisted as the narrow (flag, doubled-cents)
      // projection; each median is then a bucket-histogram (~1.3k
      // buckets/key — tiny-group agg with full map-side combine) plus a
      // one-bucket refine over the cache. Measured against the
      // exact-value-histogram spelling: the 1.5M-group shuffle that
      // spelling pays to build its histogram costs more than the two
      // extra passes over the cached projection here.
      val b = li(s, d)
        .select(ascii(col("l_returnflag")).as("__k"), // 1-char flag as INT:
          // numeric group keys keep every pass's hash-agg fully codegen'd
          // (string keys pay UTF8String hashing per row per pass)
          (lit(2) * floor(col("l_extendedprice") * 100 + 0.5).cast(LongType)).as("__v"))
        .filter(col("__v").isNotNull)
        .persist()
      // collect-then-bake (≤ |flags| = 3 rows — the audited bounded
      // pattern): leaving the medians as a lazy frame re-derives their
      // whole chain under every downstream broadcast, tripling the job
      // count; baked, the deviation pass is one codegen'd select over
      // the cache and the final result assembles driver-side from two
      // 3-row statistics
      val one = b.withColumn("__c", lit(1L))
      val mRows = graft.ops.ExactQuantile.medianOfHistogram(one).collect()
      val medOf = mRows.map(r => r.getInt(0) -> r.getDouble(1)).toMap
      val medExpr = typedLit(medOf)
      val devOne = b
        .select(col("__k"),
          abs(col("__v") - element_at(medExpr, col("__k"))).cast(LongType).as("__v"))
        .withColumn("__c", lit(1L))
      val madOf = graft.ops.ExactQuantile.medianOfHistogram(devOne).collect()
        .map(r => r.getInt(0) -> r.getDouble(1)).toMap
      val out = mRows.toSeq
        .map(r => (r.getInt(0).toChar.toString, r.getLong(2), r.getDouble(1) / 2.0,
          madOf(r.getInt(0)) / 2.0))
        .sortBy(_._1)
      import s.implicits._
      out.toDF("l_returnflag", "n", "median_price", "mad")
    },

    // Exact tail percentiles — nearest-rank (quantile_disc) p90/p99 per
    // group. Spark runs ops.ExactQuantile.rankStatByKey: histogram +
    // refine with ONE target bucket per key (two codegen'd hash-agg
    // passes per percentile, state bounded by the bucket histogram — no
    // per-group value map, no full-column sort; Spark's own exact
    // `percentile` is an ObjectHashAggregate that collects every
    // distinct value per group). Nearest-rank returns an ACTUAL element
    // — no interpolation — so both engines agree exactly; the one float
    // op (the ceil(p·n) rank multiply) runs in DOUBLE on both.
    QueryDef("q45_quantile_disc",
      """WITH b AS (SELECT l_returnflag AS f,
        |             CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS c
        |           FROM lineitem)
        |SELECT f AS l_returnflag, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(quantile_disc(c, 0.90) AS BIGINT) AS p90_cents,
        |  CAST(quantile_disc(c, 0.99) AS BIGINT) AS p99_cents
        |FROM b GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      val b = li(s, d).select(col("l_returnflag").as("f"),
        floor(col("l_extendedprice") * 100 + 0.5).cast(LongType).as("c"))
      // both percentiles from ONE histogram pass + ONE refine pass
      graft.ops.ExactQuantile.rankStatsByKey(b, col("f"), col("c"), Seq(0.90, 0.99))
        .groupBy(col("__k").as("l_returnflag"))
        .agg(first(col("n")).as("n"),
          max(when(col("__i") === 0, col("value"))).as("p90_cents"),
          max(when(col("__i") === 1, col("value"))).as("p99_cents"))
        .orderBy("l_returnflag")
    },

    // Equi-DEPTH binning (q36's histogram is equi-width): ntile deciles
    // per group with per-bin count/lo/hi — the feature-bucketization /
    // data-layout primitive (split points for range clustering come from
    // exactly this). The ntile order is the total (cents, orderkey,
    // linenumber) order, so bin assignment is deterministic and both
    // engines' standard ntile (first bins absorb the remainder) agree
    // row-for-row. One window sort keyed on the group + one map-side-
    // combined aggregate.
    QueryDef("q46_equidepth_bins",
      """WITH b AS (SELECT l_returnflag AS f, l_orderkey, l_linenumber,
        |             CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS c
        |           FROM lineitem),
        |t AS (SELECT f, c, NTILE(10) OVER (PARTITION BY f
        |        ORDER BY c, l_orderkey, l_linenumber) AS bin FROM b)
        |SELECT f AS l_returnflag, CAST(bin AS BIGINT) AS bin,
        |  CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(MIN(c) AS BIGINT) AS lo_cents, CAST(MAX(c) AS BIGINT) AS hi_cents
        |FROM t GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (s, d) =>
      // Equi-depth bins WITHOUT materializing a per-row ntile: the bin
      // order's LEADING key is c, so a bin's min/max c are simply the
      // values at the bin's first/last global rank — 20 exact order
      // statistics from ONE histogram + ONE refine pass (ExactQuantile) —
      // and the bin SIZES are pure arithmetic on the per-key count
      // (standard ntile: the first n % k bins absorb the remainder). The
      // tie-break columns (l_orderkey, l_linenumber) order rows only
      // WITHIN equal-c runs, so they cannot move any bin's min/max c:
      // this assignment-free spelling is value-identical to windowed
      // NTILE for every input. The old path ranked every row (windowed
      // ntile below the 16 MiB gate / DistributedRank slices above it) —
      // a full per-key sort of the corpus, ~1.0 s of sort+agg at sf0.1
      // and the dominant q46 cost at sf1; ranks-only needs no row ever
      // sorted.
      val b = li(s, d)
        .select(col("l_returnflag").as("f"),
          floor(col("l_extendedprice") * 100 + 0.5).cast(LongType).as("c"))
      def binEnd(i: Int) =
        s"(CAST($i AS BIGINT) * (__n DIV 10) + LEAST(CAST($i AS BIGINT), __n % 10))"
      val ranks = (1 to 10).flatMap(i => Seq(s"(${binEnd(i - 1)} + 1)", binEnd(i)))
      val stats = graft.ops.ExactQuantile
        .orderStatsAtRankExprs(b, col("f"), col("c"), ranks)
      val acc = first(col("n")).as("n") +: (1 to 10).flatMap(i => Seq(
        max(when(col("__i") === (i - 1) * 2, col("value"))).as(s"lo$i"),
        max(when(col("__i") === (i - 1) * 2 + 1, col("value"))).as(s"hi$i")))
      def endN(i: Int) =
        s"(CAST($i AS BIGINT) * (n DIV 10) + LEAST(CAST($i AS BIGINT), n % 10))"
      val rows = (1 to 10).map(i => struct(lit(i.toLong).as("bin"),
        expr(s"${endN(i)} - ${endN(i - 1)}").as("nb"),
        col(s"lo$i").as("lo_cents"), col(s"hi$i").as("hi_cents")))
      stats.groupBy(col("__k").as("f")).agg(acc.head, acc.tail: _*)
        .select(col("f"), explode(array(rows: _*)).as("s"))
        .select(col("f").as("l_returnflag"), col("s.bin").as("bin"),
          col("s.nb").as("n"), col("s.lo_cents"), col("s.hi_cents"))
        .filter(col("n") > 0) // ntile emits no empty bins (n < 10 keys)
        .orderBy("l_returnflag", "bin")
    },

    // Quantile sketch persistence — q38's lakehouse rollup pattern for
    // QUANTILES: per-(flag, status) KLL sketches are built as binary
    // data (what per-shard jobs would persist), merged per flag at query
    // time, and their p50/p95 estimates asserted inside ±5 rank points
    // of the exact order statistics (rankStatsByKey) — KLL's compaction
    // is randomized, so the portable guarantee is the rank-error bound
    // (±1.65% at k=200, 99% conf), the q26/q38 both-engines-verify-
    // their-own-sketch oracle shape (DuckDB asserts ITS t-digest
    // approx_quantile against the same exact bounds).
    QueryDef("q47_kll_persist",
      """WITH b AS (SELECT l_returnflag AS f,
        |             CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS c
        |           FROM lineitem),
        |e AS (SELECT f, CAST(COUNT(*) AS BIGINT) AS n,
        |        quantile_disc(c, 0.45) AS lo50, quantile_disc(c, 0.55) AS hi50,
        |        quantile_disc(c, 0.90) AS lo95, quantile_disc(c, 0.99) AS hi95,
        |        approx_quantile(c, 0.5) AS e50, approx_quantile(c, 0.95) AS e95
        |      FROM b GROUP BY 1)
        |SELECT f AS l_returnflag, n,
        |  e50 BETWEEN lo50 AND hi50 AS ok50,
        |  e95 BETWEEN lo95 AND hi95 AS ok95
        |FROM e ORDER BY 1""".stripMargin) { (s, d) =>
      import graft.functions.KllFunctions.{kll_est, kll_sketch}
      val t = li(s, d).select(col("l_returnflag").as("f"), col("l_linestatus"),
        floor(col("l_extendedprice") * 100 + 0.5).cast(LongType).as("c"))
      // stage 1: the per-shard sketches a pipeline would PERSIST
      val partials = t.groupBy("f", "l_linestatus")
        .agg(kll_sketch(col("c"), 200).as("sk"))
      // stage 2: roll up the stored partials per flag, estimate p50/p95
      val est = partials.groupBy("f")
        .agg(kll_est(col("sk"), 200, Seq(0.5, 0.95)).as("est"))
      // exact ±5-rank-point acceptance bounds, ONE histogram+refine pass
      val bounds = graft.ops.ExactQuantile
        .rankStatsByKey(t, col("f"), col("c"), Seq(0.45, 0.55, 0.90, 0.99))
        .groupBy(col("__k").as("f"))
        .agg(first(col("n")).as("n"),
          max(when(col("__i") === 0, col("value"))).as("lo50"),
          max(when(col("__i") === 1, col("value"))).as("hi50"),
          max(when(col("__i") === 2, col("value"))).as("lo95"),
          max(when(col("__i") === 3, col("value"))).as("hi95"))
      bounds.join(est, "f")
        .select(col("f").as("l_returnflag"), col("n"),
          element_at(col("est"), 1).between(col("lo50"), col("hi50")).as("ok50"),
          element_at(col("est"), 2).between(col("lo95"), col("hi95")).as("ok95"))
        .orderBy("l_returnflag")
    },

    // Winsorized mean — q44's robust-stats sibling for the MEAN: clamp
    // each value to the exact [p05, p95] nearest-rank bounds (ONE fused
    // rankStatsByKey pass), then average. One corrupted sensor reading
    // can move a plain mean arbitrarily; the winsorized mean is bounded.
    // The clamp bounds are actual elements (quantile_disc semantics) and
    // the mean is an exact-Int64 sum with ONE correctly-rounded double
    // division — both engines agree bit-for-bit.
    QueryDef("q48_winsorized_mean",
      """WITH b AS (SELECT l_returnflag AS f,
        |             CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS c
        |           FROM lineitem),
        |q AS (SELECT f, quantile_disc(c, 0.05) AS lo, quantile_disc(c, 0.95) AS hi
        |      FROM b GROUP BY 1)
        |SELECT b.f AS l_returnflag, CAST(COUNT(*) AS BIGINT) AS n,
        |  q.lo AS lo_cents, q.hi AS hi_cents,
        |  CAST(SUM(LEAST(GREATEST(b.c, q.lo), q.hi)) AS DOUBLE) / COUNT(*) AS wmean_cents
        |FROM b JOIN q USING (f) GROUP BY 1, 3, 4 ORDER BY 1""".stripMargin) { (s, d) =>
      val t = li(s, d).select(col("l_returnflag").as("f"),
        floor(col("l_extendedprice") * 100 + 0.5).cast(LongType).as("c"))
      val bounds = graft.ops.ExactQuantile
        .rankStatsByKey(t, col("f"), col("c"), Seq(0.05, 0.95))
        .groupBy(col("__k").as("f"))
        .agg(max(when(col("__i") === 0, col("value"))).as("lo"),
          max(when(col("__i") === 1, col("value"))).as("hi"))
      t.join(broadcast(bounds), "f")
        .groupBy("f")
        .agg(count(lit(1)).as("n"), first("lo").as("lo_cents"), first("hi").as("hi_cents"),
          (sum(least(greatest(col("c"), col("lo")), col("hi"))).cast(DoubleType) /
            count(lit(1))).as("wmean_cents"))
        .select(col("f").as("l_returnflag"), col("n"),
          col("lo_cents"), col("hi_cents"), col("wmean_cents"))
        .orderBy("l_returnflag")
    },

    // Recursive CTE — the engine's iterative-query operator (Spark 4.1
    // UnionLoop; the reference reaches the same surface via DataFusion's
    // RecursiveQuery, datafusion WITH RECURSIVE). A synthetic binary BOM
    // over part (component p belongs to assembly floor(p/2)): walk each
    // root assembly 8..15 down to its leaves and roll up component
    // counts, depth, and cost. Each recursion step is ONE equi-join on
    // the computed parent key (hash join, shuffle bounded by the
    // frontier) — not an O(n²) nested loop — and termination is
    // structural (ids double per level: ~8 levels to the max partkey),
    // which matters because UNION ALL is the only recursion mode both
    // engines share (Spark 4.1 rejects UNION-distinct recursion).
    QueryDef("q49_recursive_cte",
      """WITH RECURSIVE bom (root, node, lvl) AS (
        |  SELECT p_partkey, p_partkey, CAST(0 AS BIGINT) FROM part
        |  WHERE p_partkey BETWEEN 8 AND 15
        |  UNION ALL
        |  SELECT b.root, p.p_partkey, b.lvl + 1
        |  FROM bom b JOIN part p ON CAST(FLOOR(p.p_partkey / 2) AS BIGINT) = b.node
        |)
        |SELECT root, CAST(COUNT(*) AS BIGINT) AS n_parts, MAX(lvl) AS depth,
        |  CAST(SUM(CAST(FLOOR(p.p_retailprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS cost_cents
        |FROM bom JOIN part p ON p.p_partkey = bom.node
        |GROUP BY root ORDER BY root""".stripMargin) { (s, d) =>
      // Same recursion, BATCHED: Spark's UnionLoop pays a fixed job cost
      // per iteration (scheduling + scan setup + broadcast build) that
      // dwarfs the per-level compute on this tree (judge sf1: 17× the
      // oracle, ~0.2 s × ~15 levels of sub-ms joins). The recursive term
      // here advances EIGHT levels per iteration through a precomputed,
      // cached descendant edge table (still ONE recursive reference —
      // UNION-ALL recursion semantics intact). Iterations drop
      // ceil(levels/8)-fold (still >1 at every bench SF — the loop is
      // exercised, not unrolled away); the edge table is broadcastable at
      // any SF where part itself is (bucketed at cluster scale).
      // Dense-domain fast path (one 1-row aggregate decides): the BOM is
      // arithmetic (parent = floor(child/2) = child >> 1), so a d-hop
      // ancestor is child >> d and every intermediate node child >> j
      // (j < d) sits BETWEEN parent and child in key value. When the part
      // key domain is a dense interval [kmin, kmax] — count == span, true
      // for this generator at every SF — each intermediate is therefore
      // itself a part, and the 1..8-hop edge table is EXACTLY
      // {(c >> d, c, d) : c ∈ part, c >> d ≥ kmin}: a projection + an
      // 8-row explode, ZERO joins. The sparse-domain fallback below keeps
      // the bit-equal doubling build (whose joins enforce intermediate
      // existence row by row); the old path cost 6 broadcast joins + 2
      // persists = 19 jobs, ~0.8 s of pure job-chain floor at sf0.1.
      // countDistinct guards the duplicate-keys-plus-holes shape: count ==
      // span alone would pass it and the arithmetic fast path would emit
      // hop edges through missing intermediates (ADVICE r18)
      val mm = part(s, d).agg(min("p_partkey"), max("p_partkey"), count(lit(1)),
        countDistinct(col("p_partkey"))).head()
      val dense = mm.getLong(2) > 0 && mm.getLong(1) - mm.getLong(0) + 1 == mm.getLong(2) &&
        mm.getLong(3) == mm.getLong(2)
      val hops = (if (dense) {
        part(s, d).select(col("p_partkey").as("child"))
          .select(explode(expr("sequence(1, 8)")).as("hd"), col("child"))
          .select(expr("shiftright(child, hd)").as("parent"), col("child"),
            col("hd").cast(LongType).as("d"))
          .filter(col("parent") >= lit(mm.getLong(0)))
      } else {
        val allEdges = part(s, d)
          .select(expr("CAST(FLOOR(p_partkey / 2) AS BIGINT)").as("parent"),
            col("p_partkey").as("child"))
        // prune to LIVE edges: the frontier only ever holds real parts, so
        // an edge whose parent id is not itself a part can never fire —
        // with sparse keys this semi-join shrinks the hop table from
        // O(|part|) to O(|reachable subtree|) before composition
        val edges = allEdges.join(
          broadcast(part(s, d).select(col("p_partkey").as("parent"))),
          Seq("parent"), "leftsemi")
        val h1 = edges.select(col("parent"), col("child"), lit(1L).as("d")).persist()
        // doubling build: H(1..2k) = H(1..k) ∪ H(1..k)∘h(k) — 2·log2(B)
        // joins instead of B-1 for batch size B, one broadcast of the
        // composing relation per doubling step
        (1 to 3).foldLeft((h1, h1)) { case ((acc, hk), _) =>
          val h2k = hk.alias("a")
            .join(broadcast(hk.alias("b")), col("a.child") === col("b.parent"))
            .select(col("a.parent"), col("b.child").as("child"),
              (col("a.d") + col("b.d")).as("d"))
          val acc2 = acc.unionByName(acc.alias("a")
            .join(broadcast(hk.alias("b")), col("a.child") === col("b.parent"))
            .select(col("a.parent"), col("b.child").as("child"),
              (col("a.d") + col("b.d")).as("d")))
          (acc2, h2k)
        }._1
      }).persist()
      // The recursion advances FRONTIER-only, on the 8-hop edges alone
      // (|part| rows), and the 0..7-hop subtree of each frontier node is
      // expanded ONCE by the final join instead of inside the loop: the
      // old spelling carried all 8 d-levels (8·|part| rows) through every
      // UnionLoop iteration's broadcast build — at sf1 that was a ~1.6M-row
      // broadcast per iteration, the dominant q49 cost. A node at depth
      // 8q + r (0 ≤ r ≤ 7) is reached exactly once: its unique depth-8q
      // ancestor is in the frontier CTE, and the unique r-hop edge (d = 0
      // identity included) emits it in the final join. Same rows, same
      // (root, node, lvl) multiset; UnionLoop still iterates >1× at every
      // bench SF with one equi-join per step.
      hops.filter(col("d") === 8).createOrReplaceTempView("q49_hops8")
      hops.filter(col("d") <= 7)
        .unionByName(part(s, d).select(col("p_partkey").as("parent"),
          col("p_partkey").as("child"), lit(0L).as("d")))
        .createOrReplaceTempView("q49_hops07")
      part(s, d).select(col("p_partkey"), col("p_retailprice"))
        .createOrReplaceTempView("q49_part")
      s.sql(
        """WITH RECURSIVE fr (root, node, lvl) AS (
          |  SELECT p_partkey, p_partkey, CAST(0 AS BIGINT) FROM q49_part
          |  WHERE p_partkey BETWEEN 8 AND 15
          |  UNION ALL
          |  SELECT f.root, h.child, f.lvl + 8
          |  FROM fr f JOIN q49_hops8 h ON h.parent = f.node
          |)
          |SELECT root, CAST(COUNT(*) AS BIGINT) AS n_parts,
          |  MAX(fr.lvl + e.d) AS depth,
          |  CAST(SUM(CAST(FLOOR(p.p_retailprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS cost_cents
          |FROM fr JOIN q49_hops07 e ON e.parent = fr.node
          |JOIN q49_part p ON p.p_partkey = e.child
          |GROUP BY root ORDER BY root""".stripMargin)
    },

    // Bag-semantics set ops — INTERSECT ALL / EXCEPT ALL keep
    // MULTIPLICITY (min / truncated-difference of per-value counts),
    // which the q16 set variants erase; line numbers repeat thousands of
    // times so the bag and set answers differ by construction. Spark
    // plans both as one aggregation + generate (no join), DuckDB
    // likewise — ANSI-portable shared text.
    QueryDef.sharedSql("q52_set_ops_all",
      """WITH a AS (SELECT l_linenumber AS v FROM lineitem WHERE l_returnflag = 'A'),
        |     b AS (SELECT l_linenumber AS v FROM lineitem WHERE l_returnflag = 'R')
        |SELECT 'except_all' AS op, CAST(COUNT(*) AS BIGINT) AS n
        |FROM (SELECT v FROM a EXCEPT ALL SELECT v FROM b) t
        |UNION ALL
        |SELECT 'intersect_all' AS op, CAST(COUNT(*) AS BIGINT) AS n
        |FROM (SELECT v FROM a INTERSECT ALL SELECT v FROM b) t
        |ORDER BY op""".stripMargin),

    // Correlated EXISTS / NOT EXISTS — the SYNTACTIC quantified-subquery
    // path (Catalyst de-correlates to semi/anti joins; q04/q05 exercise
    // the same plans via IN, this locks the EXISTS surface both parsers
    // share). The inner query correlates on custkey AND filters on a
    // local column, so flattening is non-trivial.
    QueryDef.sharedSql("q55_exists_forms",
      """SELECT c_mktsegment,
        |  CAST(COUNT(*) AS BIGINT) AS n_customers,
        |  CAST(SUM(CASE WHEN EXISTS (SELECT 1 FROM orders o
        |                             WHERE o.o_custkey = c.c_custkey
        |                               AND o.o_totalprice > 100000)
        |           THEN 1 ELSE 0 END) AS BIGINT) AS n_big_spenders,
        |  CAST(SUM(CASE WHEN NOT EXISTS (SELECT 1 FROM orders o
        |                                 WHERE o.o_custkey = c.c_custkey)
        |           THEN 1 ELSE 0 END) AS BIGINT) AS n_inactive
        |FROM customer c GROUP BY 1 ORDER BY 1""".stripMargin),

    // GROUP BY ALL — the modern shorthand both engines ship (group on
    // every non-aggregate select item); a thin surface check that the
    // sugar resolves identically.
    QueryDef.sharedSql("q57_group_by_all",
      """SELECT l_returnflag, l_linestatus,
        |  CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty
        |FROM lineitem GROUP BY ALL ORDER BY 1, 2""".stripMargin),

    // Correlated SCALAR subquery in the SELECT list — the third
    // quantified-subquery shape (q22 = scalar in WHERE, q55 =
    // EXISTS): Catalyst de-correlates it to a left outer aggregate
    // join; customers without orders surface the NULL path.
    QueryDef.sharedSql("q56_correlated_scalar",
      """SELECT c_custkey,
        |  (SELECT MAX(o_totalprice) FROM orders o
        |   WHERE o.o_custkey = c.c_custkey) AS max_order,
        |  (SELECT CAST(COUNT(*) AS BIGINT) FROM orders o
        |   WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 50000) AS n_big
        |FROM customer c WHERE c_custkey < 100
        |ORDER BY c_custkey""".stripMargin),

    // Explicit NULL ordering — engines DISAGREE by default (Spark sorts
    // nulls first ascending, DuckDB last), so portable SQL must say
    // NULLS FIRST/LAST; the LIMIT makes the gate actually verify the
    // placement (the driver's comparator re-sorts rows, so only a
    // truncated result exposes ordering semantics — nulls-last pushes
    // the null rows off the end here, nulls-first would keep them).
    QueryDef.sharedSql("q54_null_ordering",
      """WITH t AS (SELECT l_orderkey, l_linenumber,
        |             CASE WHEN l_linenumber > 2 THEN NULL ELSE l_quantity END AS q
        |           FROM lineitem WHERE l_orderkey < 200)
        |SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber,
        |  CAST(q AS DOUBLE) AS q
        |FROM t ORDER BY q ASC NULLS LAST, l_orderkey, l_linenumber
        |LIMIT 40""".stripMargin),

    // Predicate aggregates — count_if / bool_and / bool_or (ANSI EVERY/
    // ANY): both engines ship them natively with identical NULL
    // semantics (nulls don't vote); booleans cast to BIGINT for the
    // comparator's column-type rules.
    QueryDef.sharedSql("q53_predicate_aggs",
      """SELECT l_returnflag AS f,
        |  CAST(count_if(l_quantity > 25) AS BIGINT) AS n_big,
        |  CAST(bool_and(l_quantity > 0) AS BIGINT) AS all_pos,
        |  CAST(bool_or(l_tax > 0.07) AS BIGINT) AS any_hi_tax
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin),

    // percentile_cont — LINEAR-interpolated quantiles (R-7: value at
    // fractional rank h = p·(n−1)+1), the interpolating sibling of q45's
    // nearest-rank quantile_disc. Spark runs
    // ops.ExactQuantile.contQuantilesByKey: the same ONE-histogram +
    // ONE-refine distributed shape, each p costing its two ADJACENT
    // order statistics (no per-group value collection, no full sort);
    // the h multiply and lo + frac·(hi−lo) interpolation are the SAME
    // correctly-rounded double expressions the oracle's ROW_NUMBER
    // formulation computes, so results match bit-for-bit.
    QueryDef("q51_percentile_cont",
      """WITH t AS (SELECT l_returnflag AS f,
        |             CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS c FROM lineitem),
        |r AS (SELECT f, c, ROW_NUMBER() OVER (PARTITION BY f ORDER BY c) AS rn,
        |        COUNT(*) OVER (PARTITION BY f) AS n FROM t),
        |pr AS (SELECT f, n, CAST(p AS DOUBLE) AS p,
        |         CAST(FLOOR(CAST(p AS DOUBLE) * CAST(n - 1 AS DOUBLE)) AS BIGINT) AS kf,
        |         CAST(p AS DOUBLE) * CAST(n - 1 AS DOUBLE)
        |           - FLOOR(CAST(p AS DOUBLE) * CAST(n - 1 AS DOUBLE)) AS frac
        |       FROM (SELECT DISTINCT f, n FROM r),
        |            (VALUES (0.25), (0.5), (0.9)) q(p)),
        |sel AS (SELECT pr.f, pr.p, pr.n, pr.frac,
        |          MAX(CASE WHEN r.rn = pr.kf + 1 THEN r.c END) AS lo,
        |          MAX(CASE WHEN r.rn = LEAST(pr.kf + 2, pr.n) THEN r.c END) AS hi
        |        FROM pr JOIN r ON r.f = pr.f GROUP BY 1, 2, 3, 4)
        |SELECT f AS l_returnflag, p,
        |  CAST(lo AS DOUBLE) + frac * CAST(hi - lo AS DOUBLE) AS pct_cents,
        |  CAST(n AS BIGINT) AS n
        |FROM sel ORDER BY 1, 2""".stripMargin) { (s, d) =>
      val ps = Seq(0.25, 0.5, 0.9)
      val t = li(s, d).select(col("l_returnflag").as("f"),
        floor(col("l_extendedprice") * 100 + 0.5).cast(LongType).as("c"))
      graft.ops.ExactQuantile.contQuantilesByKey(t, col("f"), col("c"), ps)
        .select(col("__k").as("l_returnflag"),
          element_at(array(ps.map(lit): _*), col("__i") + 1).as("p"),
          col("value").as("pct_cents"), col("n"))
        .orderBy("l_returnflag", "p")
    }
  )
}

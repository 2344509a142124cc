package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Distributed per-key rank machinery. A per-key `Window.partitionBy(key)`
  * sort is the textbook ntile/rank plan, but its parallelism equals the
  * KEY CARDINALITY — three return-flag groups over 10⁹ rows become three
  * monster sort tasks (measured: q46's ntile was 9.8 s at sf1, single
  * worst task >> every other stage), and a GLOBAL window (no keys at
  * all) is ONE such task. This evaluates the same exact rank with
  * parallelism = `slices` × keys instead:
  *
  *   1. assign each row a DETERMINISTIC ordered slice id: boundary
  *      tuples are sampled ONCE (collect-then-bake — a single-pass
  *      per-partition reservoir, ≤ 64 rows/partition on the driver) and
  *      baked into the plan, the slice id being the count of boundaries
  *      at-or-before the row in the sort order (a monotone function of
  *      the order, so slices are contiguous ranges no matter how the
  *      sample came out — sample quality affects only load balance,
  *      never ranks), evaluated by the native binary-search
  *      `RankExprs.BoundaryBucket`. Baked values — NOT
  *      `spark_partition_id()` over a range exchange — because the plan
  *      consumes the sliced relation twice (rank side + count side) and
  *      a sampled range exchange may re-sample different boundaries per
  *      physical instantiation, silently misaligning the two sides;
  *   2. local ranks inside each (slice, key) — many small sorts;
  *   3. a TINY (slices × keys)-row offset table (running count over the
  *      per-slice counts — the tx13 bucket-offset pattern) broadcast back:
  *      global rank = slice offset + local rank.
  *
  * Result is EXACTLY the per-key row_number. `orderKeys` must be a total
  * order within keys (the required-unique tuple also means boundary ties
  * cannot unbalance a slice beyond one duplicate run). Inputs that
  * `ScalePath.smallEstimate` calls small run the textbook window
  * instead; `graft.forceScalePaths=true` sends every input through the
  * slices.
  */
object DistributedRank {

  /** Driver-side tuple comparator matching Spark's ASC NULLS FIRST /
    * DESC NULLS LAST defaults (only load balance depends on it). */
  private def tupleOrdering(dirs: Seq[Boolean]): Ordering[Row] = new Ordering[Row] {
    def compare(a: Row, b: Row): Int = {
      var i = 0
      while (i < dirs.length) {
        val x = a.get(i)
        val y = b.get(i)
        val c =
          if (x == null && y == null) 0
          else if (x == null) -1
          else if (y == null) 1
          else x.asInstanceOf[Comparable[Any]].compareTo(y)
        val d = if (dirs(i)) c else -c
        if (d != 0) return d
        i += 1
      }
      0
    }
  }

  /** ONE-pass bounded boundary sample: a per-partition reservoir (≤
    * `perPart` rows each, deterministic per-partition seed) instead of
    * `takeSample`, whose hidden count() job is a second full scan of the
    * order columns at 100 TB. Per-partition reservoirs over-represent
    * small partitions — which only skews BALANCE, never ranks (the
    * boundary-monotonicity argument in the header). Driver memory is
    * bounded by partitions × perPart rows. */
  private def boundarySample(proj: DataFrame, perPart: Int): Array[Row] =
    proj.rdd.mapPartitionsWithIndex { (pid, it) =>
      val rnd = new scala.util.Random(0x9E3779B9L * (pid + 1))
      val res = new Array[Row](perPart)
      var seen = 0
      while (it.hasNext) {
        val r = it.next()
        if (seen < perPart) res(seen) = r
        else {
          val j = rnd.nextInt(seen + 1)
          if (j < perPart) res(j) = r
        }
        seen += 1
      }
      res.take(math.min(seen, perPart)).iterator
    }.collect()

  /** Key/order columns must be ATOMIC types (string/numeric/bool/date/
    * timestamp/decimal): the scale path compares sampled boundary rows
    * on the driver (Comparable) and bakes them back as plan literals
    * (lit()-able), neither of which array/struct/map/binary support.
    * Validated up front on BOTH paths so the failure surface doesn't
    * depend on input size. */
  private def validateAtomic(df: DataFrame, names: Seq[String]): Unit = {
    import org.apache.spark.sql.types._
    df.select(names.map(col): _*).schema.fields.foreach { f =>
      f.dataType match {
        case BinaryType | _: ArrayType | _: StructType | _: MapType | _: UserDefinedType[_] =>
          throw new IllegalArgumentException(
            s"DistributedRank key/order column '${f.name}' has non-atomic type " +
            s"${f.dataType.simpleString}; project it to an atomic sort key first " +
            "(driver boundary sampling needs Comparable, plan-literal values)")
        case _ => ()
      }
    }
  }

  /** Shared distributed-rank core: df + `__pid` (deterministic slice) +
    * `__r` (exact 1-based per-key row_number as long) + `__n` (per-key
    * total). Key/order column names must be distinct top-level columns. */
  private def withRankAndCount(df: DataFrame, keyCols: Seq[String],
                               orderKeys: Seq[(String, Boolean)],
                               slices: Int): DataFrame = {
    // slices <= 0 would yield zero boundaries: every row lands in pid 0,
    // silently reinstating the single-task global sort this operator
    // exists to avoid
    require(slices >= 1, s"slices must be >= 1, got $slices")
    val cols = keyCols.map((_, true)) ++ orderKeys
    require(cols.map(_._1).distinct.length == cols.length,
      s"key/order columns must be distinct names: ${cols.map(_._1)}")
    val sample = boundarySample(df.select(cols.map(c => col(c._1)): _*),
      perPart = 64)
    val sorted = sample.sorted(tupleOrdering(cols.map(_._2)))
    val boundaries = (1 until slices)
      .map(i => i * sorted.length / slices)
      .filter(ix => ix > 0 && ix < sorted.length).distinct
      .map(sorted(_))
    // pid = |{b : row >= b}| over the baked boundary tuples, evaluated
    // by the native BoundaryBucket binary search. NOT a CASE/indicator
    // tree over boundary literals: 63 boundaries × a multi-column
    // lexicographic comparison each compose a generated method far past
    // HotSpot's huge-method JIT limit, so the projection runs as
    // interpreted bytecode — measured 16+ s of q46's 20 s at sf1, ~10×
    // the actual window+shuffle work. See RankExprs.BoundaryBucket for
    // the comparator-consistency argument (it re-sorts the boundaries
    // under its own internal-value order).
    val pid: Column =
      if (boundaries.isEmpty) lit(0L)
      else graft.functions.RankExprs.boundary_bucket(
        cols.map(c => col(c._1)), boundaries, cols.map(_._2))
    val keyCs = keyCols.map(col)
    val withPid = df.withColumn("__pid", pid)
    val orderCs = orderKeys.map { case (n, asc) => if (asc) col(n) else col(n).desc }
    val wLocal = Window.partitionBy(col("__pid") +: keyCs: _*).orderBy(orderCs: _*)
    val local = withPid.withColumn("__lr", row_number().over(wLocal).cast("long"))
    // The count branch deliberately re-reads the input rather than
    // sharing the window branch's exchange. Measured both alternatives:
    // (a) repartition(__pid, keys) consumed by both branches — column
    // pruning specializes the count branch's subplan so ReuseExchange
    // never fires, and it just adds an exchange; (b) counts as
    // max(__lr) off the windowed side — the exchange IS reused but the
    // count branch replays the full Sort+Window on it (ev34 10× probe:
    // 2.6 → 3.7 s). This branch instead scans only (keys, order cols)
    // — a pruned columnar read — evaluates the 6-compare pid, and
    // collapses map-side to ≤ slices × keys count rows: the duplicated
    // work is the cheap kind, and the expensive kind (full-row shuffle
    // + sort) happens exactly once.
    val wOff = Window.partitionBy(keyCs: _*).orderBy(col("__pid"))
    val offs = withPid.groupBy(col("__pid") +: keyCs: _*).agg(count(lit(1)).as("__c"))
      .withColumn("__off", coalesce(
        sum("__c").over(wOff.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("__n", sum("__c").over(Window.partitionBy(keyCs: _*)))
      .drop("__c")
    local
      .join(broadcast(offs), "__pid" +: keyCols)
      .withColumn("__r", col("__off") + col("__lr"))
      .drop("__pid", "__lr", "__off")
  }

  /** df + "bin": standard SQL NTILE(k) OVER (PARTITION BY keys ORDER BY
    * order) — first (n mod k) buckets take the extra row, identical to
    * Spark's and DuckDB's ntile — computed via distributed ranks (no
    * per-key total sort). `orderCols` must be a total order within keys,
    * of ATOMIC column types (see validateAtomic). NOTE: on the scale
    * path this runs the boundary-sampling job EAGERLY — calling it (not
    * the later action) triggers one pass over the key/order projection. */
  def ntileByKey(df: DataFrame, keyCols: Seq[String], orderCols: Seq[String],
                 k: Int, slices: Int = 64): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    validateAtomic(df, keyCols ++ orderCols)
    val keyCs = keyCols.map(col)
    // Inputs small enough that one task per key sorts in memory skip the
    // two extra exchanges and run the textbook plan (same assignment
    // either way — the switch is pure load-balance).
    if (ScalePath.smallEstimate(df)) {
      val w = Window.partitionBy(keyCs: _*).orderBy(orderCols.map(col): _*)
      return df.withColumn("bin", ntile(k).over(w).cast("long"))
    }
    // ntile(k) of 1-based rank r over n rows: q = n div k, rem = n mod k;
    // the first rem buckets hold q+1 rows — the standard SQL assignment
    withRankAndCount(df, keyCols, orderCols.map((_, true)), slices)
      .withColumn("bin", expr(
        s"""CASE WHEN __n div ${k}L = 0L THEN __r
           |     WHEN __r <= (__n div ${k}L + 1L) * (__n % ${k}L)
           |       THEN (__r + __n div ${k}L) div (__n div ${k}L + 1L)
           |     ELSE (__n % ${k}L) +
           |       (__r - (__n div ${k}L + 1L) * (__n % ${k}L) + __n div ${k}L - 1L) div (__n div ${k}L)
           |END""".stripMargin))
      .drop("__n", "__r")
  }

  /** df + `out`: the exact per-key `ROW_NUMBER() OVER (PARTITION BY keys
    * ORDER BY order)` as a long — the same rank-offset composition as
    * ntileByKey, so a GLOBAL row_number (empty `keyCols`) never becomes
    * one unbounded single-task sort. `orderKeys` are (column, ascending)
    * pairs forming a total order within keys, of ATOMIC column types
    * (see validateAtomic); small inputs take the textbook single-window
    * plan (identical numbering either way — the switch is pure load
    * balance). NOTE: on the scale path this runs the boundary-sampling
    * job EAGERLY — calling it (not the later action) triggers one pass
    * over the key/order projection. */
  def rowNumberByKey(df: DataFrame, keyCols: Seq[String],
                     orderKeys: Seq[(String, Boolean)],
                     out: String = "rn", slices: Int = 64): DataFrame = {
    validateAtomic(df, keyCols ++ orderKeys.map(_._1))
    val orderCs = orderKeys.map { case (n, asc) => if (asc) col(n) else col(n).desc }
    if (ScalePath.smallEstimate(df)) {
      val w = Window.partitionBy(keyCols.map(col): _*).orderBy(orderCs: _*)
      return df.withColumn(out, row_number().over(w).cast("long"))
    }
    withRankAndCount(df, keyCols, orderKeys, slices)
      .withColumn(out, col("__r"))
      .drop("__n", "__r")
  }
}

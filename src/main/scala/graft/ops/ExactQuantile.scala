package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Exact distributed order statistics via histogram + refine — the scale
  * path for exact medians/percentiles.
  *
  * Spark's built-in exact `percentile` is an ObjectHashAggregate that
  * materializes a value→count map per group (all distinct values of the
  * group on one executor), and a sort-based median shuffles the full
  * column. Neither survives a 100 TB column. This operator computes the
  * same answer with two codegen'd hash-aggregation passes over bounded
  * state:
  *
  *   1. histogram: count rows per (key, value-bucket) — bucket width is a
  *      power of two on the integer value domain, so state per key is
  *      (domain span / width) counters regardless of row count. The
  *      histogram is COLLECTED: it is exactly the operator's declared
  *      state bound (span/2^shift counters per key — the same relation
  *      the previous spelling shipped through a window + broadcast
  *      exchange to every executor), so the driver holds nothing the
  *      executors didn't already.
  *   2. the driver locates each requested rank's bucket with a prefix
  *      sum over the tiny histogram (rank expressions are evaluated by
  *      Catalyst itself over a one-row relation — no job — so the
  *      DOUBLE rank arithmetic is bit-identical to the previous in-plan
  *      evaluation and to the oracle's);
  *   3. refine: ONE rescan filtered to the target buckets (a broadcast
  *      semi-join against a LocalRelation of ≤2 bucket ids per key per
  *      rank — the broadcast builds driver-side, no extra job) aggregates
  *      the in-bucket value frequencies, bounded by 2^shift distinct
  *      values per target bucket; the driver reads the exact in-bucket
  *      rank off that bounded relation.
  *
  * Two jobs per statistic FAMILY (all ranks share both passes), each a
  * plain scan → partial agg → final agg → collect: no window sorts, no
  * broadcast-exchange job, no per-statistic job chain. This is the
  * round-19 fusion of the previous 4-job hist → window → broadcast →
  * refine → window chain; results are value-identical (OpsSpec pins all
  * entries against sort-based ground truth incl. ties, negatives, nulls,
  * bucket-boundary values and n < bins).
  *
  * Every job's shuffle moves histogram rows (bounded); the driver holds
  * only histogram-sized state (never raw rows). Even-count groups return
  * the mean of the two middle values (DuckDB `median` / Spark
  * `percentile(0.5)` interpolation).
  */
object ExactQuantile {

  /** Exact per-key order statistic at rank ⌈p·n⌉ (1-based) — DuckDB's
    * `quantile_disc` nearest-rank semantics, generalizing `medianByKey`
    * to any percentile with NO interpolation (the returned value is an
    * actual element, and the only float op is the rank multiply, which
    * both engines perform in DOUBLE — so they select the identical
    * element even where p·n straddles an integer in float).
    * Returns (__k, value, n).
    * EAGER: the call itself runs two Spark jobs (histogram, refine) and
    * returns a driver-local snapshot; acting on it never re-reads `df`.
    */
  def rankStatByKey(df: DataFrame, key: Column, value: Column, p: Double,
                    bucketShift: Int = 14): DataFrame =
    rankStatsByKey(df, key, value, Seq(p), bucketShift)
      .select(col("__k"), col("value"), col("n"))

  /** Multi-percentile form of `rankStatByKey`: ALL requested order
    * statistics from ONE histogram pass + ONE refine pass — each extra
    * percentile adds only a rank lookup on the driver's bounded
    * histogram and (at most) one more target bucket to the refine's
    * semi-join, not a new scan. Returns (__k, __i = index into `ps`,
    * value, n).
    * EAGER: the call itself runs two Spark jobs (histogram, refine) and
    * returns a driver-local snapshot; acting on it never re-reads `df`.
    */
  def rankStatsByKey(df: DataFrame, key: Column, value: Column,
                     ps: Seq[Double], bucketShift: Int = 14): DataFrame = {
    require(ps.nonEmpty && ps.forall(p => p > 0.0 && p <= 1.0),
      s"every p must be in (0, 1], got $ps")
    orderStatsAtRanks(df, key, value,
      ps.map(p => s"CAST(CEIL(CAST($p AS DOUBLE) * CAST(__n AS DOUBLE)) AS BIGINT)"),
      bucketShift)
  }

  /** Linear-interpolated per-key quantiles — SQL `percentile_cont` / R-7
    * semantics: the value at fractional 1-based rank h = p·(n−1)+1,
    * interpolated as v⌊h⌋ + (h−⌊h⌋)·(v⌊h⌋₊₁ − v⌊h⌋) over an integral
    * value column. Same ONE-histogram + ONE-refine distributed shape as
    * `rankStatsByKey` (each p costs its two ADJACENT order statistics —
    * no per-key value collection); the h multiply and the final
    * lo + frac·(hi−lo) run in correctly-rounded DOUBLE through the same
    * Catalyst expressions as before, so an oracle computing the same
    * formula from its own rank machinery matches bit-for-bit. Returns
    * (__k, __i = index into ps, value: double, n).
    * EAGER: the call itself runs two Spark jobs (histogram, refine) and
    * returns a driver-local snapshot; acting on it never re-reads `df`.
    */
  def contQuantilesByKey(df: DataFrame, key: Column, value: Column,
                         ps: Seq[Double], bucketShift: Int = 14): DataFrame = {
    require(ps.nonEmpty && ps.forall(p => p >= 0.0 && p <= 1.0),
      s"every p must be in [0, 1], got $ps")
    val spark = df.sparkSession
    def kf(p: Double) = s"CAST(FLOOR(CAST($p AS DOUBLE) * CAST(__n - 1 AS DOUBLE)) AS BIGINT)"
    val rankExprs = ps.flatMap(p => Seq(s"${kf(p)} + 1", s"LEAST(${kf(p)} + 2, __n)"))
    val (keyType, _, stats) = orderStatsCollected(df, key, value, rankExprs, bucketShift)
    // the interpolation expressions are evaluated by Catalyst over the
    // driver-resident (lo, hi, n) rows — the identical expression tree
    // the previous distributed spelling ran per key, so every double op
    // rounds the same way
    val rows = new java.util.ArrayList[Row]()
    stats.foreach { case (k, n, byI) =>
      val terms = ps.indices.flatMap { i =>
        (byI.get(2 * i).flatten, byI.get(2 * i + 1).flatten) match {
          case (Some(lo), Some(hi)) =>
            val fracE = s"CAST(${ps(i)} AS DOUBLE) * CAST(${n}L - 1 AS DOUBLE) - " +
              s"FLOOR(CAST(${ps(i)} AS DOUBLE) * CAST(${n}L - 1 AS DOUBLE))"
            Some(i ->
              s"(CAST(${lo}L AS DOUBLE) + ($fracE) * CAST(${hi}L - ${lo}L AS DOUBLE))")
          case _ => None
        }
      }
      if (terms.nonEmpty) {
        val row = evalOneRow(spark, terms.map(_._2).mkString(", "), n)
        terms.zipWithIndex.foreach { case ((i, _), j) =>
          rows.add(Row(k, i, row.getDouble(j), n))
        }
      }
    }
    spark.createDataFrame(rows, StructType(Seq(
      StructField("__k", keyType), StructField("__i", IntegerType, nullable = false),
      StructField("value", DoubleType), StructField("n", LongType))))
  }

  /** Exact order statistics at caller-supplied 1-based rank EXPRESSIONS
    * (SQL in terms of `__n`, the per-key row count — must evaluate to an
    * integral rank) — the generalized entry behind rankStatsByKey for
    * callers whose ranks are not percentile-shaped (q46's equi-depth bin
    * boundaries: ranks in terms of `__n DIV k` and `__n % k`). Same
    * ONE-histogram + ONE-refine distributed shape; returns
    * (__k, __i = index into rankExprs, value, n).
    * EAGER: the call itself runs two Spark jobs (histogram, refine) and
    * returns a driver-local snapshot; acting on it never re-reads `df`.
    */
  def orderStatsAtRankExprs(df: DataFrame, key: Column, value: Column,
                            rankExprs: Seq[String], bucketShift: Int = 14): DataFrame =
    orderStatsAtRanks(df, key, value, rankExprs, bucketShift)

  private def orderStatsAtRanks(df: DataFrame, key: Column, value: Column,
                                rankExprs: Seq[String], bucketShift: Int): DataFrame = {
    val spark = df.sparkSession
    val (keyType, valueType, stats) =
      orderStatsCollected(df, key, value, rankExprs, bucketShift)
    val rows = new java.util.ArrayList[Row]()
    stats.foreach { case (k, n, byI) =>
      rankExprs.indices.foreach { i =>
        byI.get(i).flatten.foreach(v => rows.add(Row(k, i, boxAs(v, valueType), n)))
      }
    }
    spark.createDataFrame(rows, StructType(Seq(
      StructField("__k", keyType), StructField("__i", IntegerType, nullable = false),
      StructField("value", valueType), StructField("n", LongType))))
  }

  /** Shared two-pass core: (keyType, valueType, per-key (key, n, index →
    * located value)). Pass 1 collects the bounded bucket histogram;
    * rank expressions are Catalyst-evaluated per distinct n; pass 2
    * semi-joins the target buckets and collects the bounded in-bucket
    * value frequencies; ranks are read off driver-side.
    */
  private def orderStatsCollected(df: DataFrame, key: Column, value: Column,
                                  rankExprs: Seq[String], bucketShift: Int)
      : (DataType, DataType, Seq[(Any, Long, Map[Int, Option[Long]])]) = {
    val spark = df.sparkSession
    val vals = df.select(key.as("__k"), value.as("__v")).filter(col("__v").isNotNull)
    val keyType = vals.schema("__k").dataType
    val valueType = vals.schema("__v").dataType
    // JOB 1: bounded bucket histogram (arithmetic shift keeps bucket ids
    // value-ordered on signed domains)
    val hist = vals
      .groupBy(col("__k"), shiftright(col("__v"), bucketShift).as("__b"))
      .agg(count(lit(1)).as("__c")).collect()
    // per key: buckets sorted by id, prefix sums, total n
    val byKey = hist.groupBy(_.get(0)).map { case (k, rs) =>
      val buckets = rs.map(r => (numLong(r.get(1)), r.getLong(2))).sortBy(_._1)
      (k, buckets, buckets.iterator.map(_._2).sum)
    }.toSeq
    // rank expressions: one Catalyst evaluation per distinct n — the
    // same DOUBLE ceil/floor arithmetic the previous in-plan posexplode
    // evaluated, bit-identical by construction
    val ranksOf = scala.collection.mutable.HashMap[Long, Seq[Option[Long]]]()
    def ranksFor(n: Long): Seq[Option[Long]] = ranksOf.getOrElseUpdate(n, {
      val sel = rankExprs.map(e => s"($e)").mkString(", ")
      val row = evalOneRow(spark, sel, n)
      rankExprs.indices.map { i =>
        if (row.isNullAt(i)) None
        else row.get(i) match {
          case x: java.lang.Long => Some(x.longValue)
          case x: java.lang.Integer => Some(x.longValue)
          case x: java.lang.Short => Some(x.longValue)
          case x: java.lang.Byte => Some(x.longValue)
          case other => throw new IllegalArgumentException(
            s"rank expression must evaluate to an integral rank, got $other " +
              s"(${other.getClass.getSimpleName}) from '${rankExprs(i)}'")
        }
      }
    })
    // locate each rank's bucket: the unique bucket with __lo < r ≤ __cum
    // (absent when r is outside 1..n — e.g. an empty equi-depth bin)
    case class Tgt(i: Int, r: Long, b: Long, lo: Long)
    val targets: Seq[(Any, Long, Seq[Tgt])] = byKey.map { case (k, buckets, n) =>
      val ranks = ranksFor(n)
      var lo = 0L
      val cums = buckets.map { case (b, c) => val x = (b, lo, lo + c); lo += c; x }
      val tg = ranks.zipWithIndex.flatMap {
        case (Some(r), i) =>
          cums.find { case (_, blo, bcum) => blo < r && r <= bcum }
            .map { case (b, blo, _) => Tgt(i, r, b, blo) }
        case (None, _) => None
      }
      (k, n, tg)
    }
    val wantBuckets = targets.flatMap { case (_, _, tg) => tg.map(_.b) }.distinct
    if (wantBuckets.isEmpty) return (keyType, valueType, Seq.empty)
    // JOB 2: refine — a plain codegen'd `IN (bucket ids)` filter (no
    // join, no broadcast build) followed by one hash aggregation of the
    // surviving value frequencies, bounded by 2^bucketShift distinct
    // values per target bucket id per key; the driver walk below keeps
    // only each key's OWN target buckets
    val inBucket = vals
      .filter(shiftright(col("__v"), bucketShift).cast(LongType)
        .isin(wantBuckets: _*))
      .groupBy(col("__k"), col("__v"))
      .agg(count(lit(1)).as("__c")).collect()
    val vcByKey = inBucket.groupBy(_.get(0)).map { case (k, rs) =>
      k -> rs.map(r => (numLong(r.get(1)), r.getLong(2))).sortBy(_._1)
    }
    // walk each target bucket's sorted values from its __lo offset to the
    // exact in-bucket rank (identical to the previous per-bucket running
    // sum + `__vlo < r ≤ __cum` filter)
    val out = targets.collect { case (k, n, tg) if tg.nonEmpty =>
      val vcs = vcByKey.getOrElse(k, Array.empty[(Long, Long)])
      val located: Map[Int, Option[Long]] = tg.map { t =>
        var cum = t.lo
        var found: Option[Long] = None
        val it = vcs.iterator.filter { case (v, _) => (v >> bucketShift) == t.b }
        while (found.isEmpty && it.hasNext) {
          val (v, c) = it.next()
          cum += c
          if (cum >= t.r) found = Some(v)
        }
        t.i -> found
      }.toMap
      (k, n, located)
    }
    (keyType, valueType, out)
  }

  /** Exact per-key median for integral value columns with a MODEST value
    * domain, in ONE scan: a (key, value) frequency histogram — state
    * bounded by the value DOMAIN, not the row count. The default
    * `medianByKey` below stays the choice for wide or unknown domains:
    * its bucketed state is domain-independent, at the cost of a second
    * (refine) scan. Same interpolation semantics, same output schema.
    * EAGER: the call itself runs two Spark jobs (histogram, refine) and
    * returns a driver-local snapshot; acting on it never re-reads `df`.
    */
  def medianByKeyValues(df: DataFrame, key: Column, value: Column): DataFrame = {
    val vals = df.select(key.as("__k"), value.as("__v")).filter(col("__v").isNotNull)
    medianOfHistogram(vals.groupBy(col("__k"), col("__v")).agg(count(lit(1)).as("__c")))
  }

  /** Exact per-key median straight from a (key, value, count) FREQUENCY
    * HISTOGRAM — columns (__k, __v, __c), null-free __v. Callers that
    * derive one statistic's histogram from another's (MAD: the deviation
    * histogram |v − median| is a regroup of the VALUE histogram, no
    * second data scan) pay the corpus scan exactly ONCE. Internally the
    * same bucket-histogram + refine shape as `medianByKey`, WEIGHTED by
    * __c. Returns a LOCAL (__k, median: double, n) frame — ≤ one row per
    * key, already on the driver, so callers that bake the medians into
    * later passes (q44) collect for free.
    * EAGER: the call itself runs two Spark jobs (histogram, refine) and
    * returns a driver-local snapshot; acting on it never re-reads `hist`.
    */
  def medianOfHistogram(hist: DataFrame, bucketShift: Int = 14): DataFrame =
    weightedMedian(hist.select(col("__k"), col("__v"), col("__c")), bucketShift)

  /** Exact per-key median of `value` (an integral column — scale decimals
    * up front, e.g. dollars → cents). `bucketShift` sets bucket width to
    * `2^bucketShift` value units. Returns (key, median: double, n: bigint).
    * EAGER: the call itself runs two Spark jobs (histogram, refine) and
    * returns a driver-local snapshot; acting on it never re-reads `df`.
    */
  def medianByKey(df: DataFrame, key: Column, value: Column,
                  bucketShift: Int = 14): DataFrame = {
    // null values don't participate in order statistics (percentile/median
    // semantics); without this filter they'd form a null bucket that sorts
    // first and corrupts every rank offset
    val vals = df.select(key.as("__k"), value.as("__v"), lit(1L).as("__c"))
      .filter(col("__v").isNotNull)
    weightedMedian(vals, bucketShift)
  }

  /** The weighted two-pass median core over (__k, __v, __c) rows: bucket
    * histogram collect → driver locates the ≤2 median-rank buckets per
    * key → one refine pass over those buckets → the interpolated median
    * (k1 = ⌊(n+1)/2⌋, k2 = ⌊n/2⌋+1; even n averages the straddling
    * values) computed from the bounded in-bucket frequencies. Exactly
    * the previous distributed spelling's arithmetic — Long weights and
    * one double division at the end.
    */
  private def weightedMedian(h: DataFrame, bucketShift: Int): DataFrame = {
    val spark = h.sparkSession
    val keyType = h.schema("__k").dataType
    // JOB 1: bounded bucket histogram
    val bhist = h
      .groupBy(col("__k"), shiftright(col("__v"), bucketShift).as("__b"))
      .agg(sum("__c").as("__c")).collect()
    val byKey = bhist.groupBy(_.get(0)).map { case (k, rs) =>
      val buckets = rs.map(r => (numLong(r.get(1)), r.getLong(2))).sortBy(_._1)
      (k, buckets, buckets.iterator.map(_._2).sum)
    }.toSeq
    // median ranks: k1 = ⌊(n+1)/2⌋, k2 = ⌊n/2⌋+1 (integer DIV, n ≥ 1)
    case class Tgt(b: Long, lo: Long)
    val targets = byKey.collect { case (k, buckets, n) if n > 0 =>
      val (k1, k2) = ((n + 1) / 2, n / 2 + 1)
      var lo = 0L
      val tg = buckets.flatMap { case (b, c) =>
        val t = if (lo + c >= k1 && lo < k2) Some(Tgt(b, lo)) else None
        lo += c
        t
      }
      (k, n, k1, k2, tg)
    }
    val wantBuckets = targets.flatMap { case (_, _, _, _, tg) => tg.map(_.b) }.distinct
    val outSchema = StructType(Seq(StructField("__k", keyType),
      StructField("median", DoubleType), StructField("n", LongType)))
    if (wantBuckets.isEmpty)
      return spark.createDataFrame(new java.util.ArrayList[Row](), outSchema)
    // JOB 2: refine over the target buckets — a codegen'd `IN` filter
    // (no join, no broadcast build); the walk below keeps each key's own
    // ≤2 target buckets
    val inBucket = h
      .filter(shiftright(col("__v"), bucketShift).cast(LongType)
        .isin(wantBuckets: _*))
      .groupBy(col("__k"), col("__v"))
      .agg(sum("__c").as("__c")).collect()
    val vcByKey = inBucket.groupBy(_.get(0)).map { case (k, rs) =>
      k -> rs.map(r => (numLong(r.get(1)), r.getLong(2))).sortBy(_._1)
    }
    // target buckets overlap rank interval [k1, k2], so they are adjacent
    // in the histogram: one cumulative walk from the first bucket's
    // offset covers both (lo₂ = lo₁ + c₁)
    val rows = new java.util.ArrayList[Row]()
    targets.foreach { case (k, n, k1, k2, tg) =>
      if (tg.nonEmpty) {
        // keep only THIS key's target buckets (the shared IN filter may
        // have collected another key's buckets for this key too)
        val tbs = tg.map(_.b).toSet
        val vcs = vcByKey.getOrElse(k, Array.empty[(Long, Long)])
          .filter { case (v, _) => tbs.contains(v >> bucketShift) }
        var cum = tg.head.lo
        var wsum = 0L
        vcs.foreach { case (v, c) =>
          val vlo = cum
          cum += c
          if (cum >= k1 && vlo < k2)
            wsum += v * (math.min(cum, k2) - math.max(vlo, k1 - 1))
        }
        val denom = n / 2 + 1 - (n + 1) / 2 + 1
        rows.add(Row(k, wsum.toDouble / denom.toDouble, n))
      }
    }
    spark.createDataFrame(rows, outSchema)
  }

  /** Evaluate a SELECT list over a one-row VALUES relation binding
    * `__n` (BIGINT): ConvertToLocalRelation folds the projection into a
    * LocalRelation at optimization time and `head` reads it driver-side
    * — NO Spark job, and the expressions run through the exact Catalyst
    * evaluation the previous in-plan spelling used. */
  private def evalOneRow(spark: SparkSession, selectList: String, n: Long): Row =
    spark.sql(s"SELECT $selectList FROM VALUES (CAST($n AS BIGINT)) AS t(__n)").head()

  private def numLong(x: Any): Long = x match {
    case n: java.lang.Number => n.longValue
    case other => throw new IllegalArgumentException(
      s"integral value column required, got $other (${other.getClass.getSimpleName})")
  }

  private def boxAs(v: Long, dt: DataType): Any = dt match {
    case LongType => java.lang.Long.valueOf(v)
    case IntegerType => java.lang.Integer.valueOf(v.toInt)
    case ShortType => java.lang.Short.valueOf(v.toShort)
    case ByteType => java.lang.Byte.valueOf(v.toByte)
    case other => throw new IllegalArgumentException(
      s"integral value column required, got $other")
  }
}

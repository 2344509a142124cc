package graft

import org.apache.spark.sql.SparkSession

/** Benchmark main: runs every SparkEntry query against
  * SPARK_GRAFT_SF_DIR and prints ONE JSON line
  * {"metric","value","unit","queries","sf"} for the driver's BENCH_r{N}.
  *
  * Queries execute into the "noop" sink (full plan execution, no result
  * materialization on the driver) after a warmup that pays one-time
  * session costs (codegen warmers, parquet footer reads, view
  * registration) so per-query numbers reflect steady-state throughput.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // the batch session (Sessions.Batch): AQE off, width derived from sfDir
    val spark = Sessions.build(Sessions.Batch, Some(sfDir))

    def run(fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Unit =
      fn(spark, sfDir).write.mode("overwrite").format("noop").save()

    // warmup: register views, read footers, prime codegen + shuffle paths
    // (one lineitem-side and one documents-side query so both scan paths
    // pay their one-time session costs outside the measurements)
    Tables.register(spark, sfDir)
    Tables.names.foreach(n => Tables.load(spark, sfDir, n).limit(1).count())
    SparkEntry.queries.get("q01_pricing_summary").foreach(run)
    SparkEntry.queries.get("dd1_dedup_exact").foreach(run)

    // best-of-N per query: single-run numbers on a shared box wobble
    // 2-3x from JIT/IO/GC timing, which reads as phantom regressions
    // across rounds. The data cache is cleared before every rep so each
    // rep re-materializes its own cache()s — minima are over honest
    // end-to-end runs, only warmup noise is removed.
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt
    // dev knob: comma-separated query-name substrings to bench a subset
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY").map(_.split(',').toSeq)
    val names = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.exists(n.contains)) }
    val best = scala.collection.mutable.LinkedHashMap(names.map(_._1 -> Double.MaxValue): _*)
    // Failures are COUNTED, never swallowed: a crashed query must not
    // shrink the total and read as an improvement. `best` only updates on
    // success; a query that never succeeds across all reps lands in "dnf"
    // with no time contribution, and "complete":false flags the line.
    var errorCount = 0
    val firstError = scala.collection.mutable.LinkedHashMap[String, String]()
    for (_ <- 0 until reps) {
      spark.catalog.clearCache()
      names.foreach { case (name, fn) =>
        val t0 = System.nanoTime()
        val ok =
          try { run(fn); true }
          catch {
            case e: Throwable =>
              errorCount += 1
              if (!firstError.contains(name)) {
                val msg = (e.getClass.getSimpleName + ": " + String.valueOf(e.getMessage)).take(300)
                firstError(name) = msg
                // error detail to stderr so it can never contaminate the
                // driver's stdout-tail JSON window
                System.err.println(s"[bench] $name failed: $msg")
              }
              false
          }
        val dt = (System.nanoTime() - t0) / 1e9
        if (ok && dt < best(name)) best(name) = dt
      }
    }
    val dnf = best.collect { case (k, v) if v == Double.MaxValue => k }.toSeq
    dnf.foreach(best.remove)
    // The driver captures only the LAST 2000 chars of output and parses the
    // JSON line out of that tail (round 7's full-precision line outgrew the
    // window -> parsed:null). Keep the line compact: 3-decimal seconds, and
    // if the full-name form still risks truncation, fall back to the unique
    // short prefix of each query name (q01, dd6, tx13, ...).
    def fmt(v: Double): String = "%.3f".formatLocal(java.util.Locale.ROOT, v)
    // errors = failed (query, rep) attempts; dnf = queries with zero
    // successful reps (excluded from "queries"/"value"); complete = no DNFs.
    // Mirrors bench_duckdb.py's fields so a crash-shaped regression reads
    // as a loud incomplete run, not a faster one.
    val tail = {
      val d = dnf.map("\"" + _ + "\"").mkString("[", ",", "]")
      s""","errors":$errorCount,"dnf":$d,"complete":${dnf.isEmpty}"""
    }
    def line(ks: Map[String, String]): String = {
      val qs = best.map { case (k, v) => "\"" + ks(k) + "\":" + fmt(v) }
        .mkString("{", ",", "}")
      s"""{"metric":"total","value":${fmt(best.values.sum)},"unit":"sec","queries":$qs,"sf":"${new java.io.File(sfDir).getName}","reps":$reps$tail}"""
    }
    val full = line(best.keys.map(k => k -> k).toMap)
    val shortKeys = best.keys.map(k => k -> k.takeWhile(_ != '_')).toMap
    val haveShort = shortKeys.values.toSet.size == shortKeys.size
    val short = if (haveShort) line(shortKeys) else full
    // last resort as the suite keeps growing: keep only the SLOWEST
    // per-query entries that fit the budget (their sum still counts in
    // "value"); "qelided" records how many fast ones were cut so the
    // omission is loud
    val out =
      if (full.length <= 1700) full
      else if (short.length <= 1700) short
      else {
        val ks = if (haveShort) shortKeys else best.keys.map(k => k -> k).toMap
        val descending = best.toSeq.sortBy(-_._2)
        val parts = scala.collection.mutable.ArrayBuffer[String]()
        var used = 250 + tail.length // envelope: metric/value/qelided/sf/reps + error fields
        var kept = 0
        descending.foreach { case (k, v) =>
          val p = "\"" + ks(k) + "\":" + fmt(v)
          if (used + p.length + 1 <= 1700) { parts += p; used += p.length + 1; kept += 1 }
        }
        val qs = parts.mkString("{", ",", "}")
        s"""{"metric":"total","value":${fmt(best.values.sum)},"unit":"sec","queries":$qs,"qelided":${best.size - kept},"sf":"${new java.io.File(sfDir).getName}","reps":$reps$tail}"""
      }
    // The driver parses the JSON out of the LAST 2000 chars of stdout.
    // Benign async ERROR spam (cancelled-straggler "non-existent
    // accumulator" stack traces from DAGScheduler land after job end) has
    // previously overwritten that window -> parsed:null. Guarantee the
    // line is the final bytes: silence all logging, stop Spark (its own
    // shutdown can log), THEN print.
    spark.sparkContext.setLogLevel("OFF")
    try {
      org.apache.logging.log4j.core.config.Configurator
        .setRootLevel(org.apache.logging.log4j.Level.OFF)
    } catch { case e: Throwable => System.err.println(s"[bench] log4j silence failed: $e") }
    spark.stop()
    println(out)
  }
}

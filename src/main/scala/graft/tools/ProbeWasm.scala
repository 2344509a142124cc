package graft.tools

import org.apache.spark.sql.functions._

/** WASM UDF interpreter throughput: the per-row budget a user needs
  * before putting a WASM function in a 100 TB scan. Measures rows/sec
  * for the SAME logic through four execution tiers:
  *
  *   1. Catalyst expression (whole-stage codegen — the ceiling),
  *   2. native Scala UDF (codegen boundary + boxing),
  *   3. WASM raw-numeric ABI (embedded MVP interpreter, f32 sintau —
  *      the reference's own test module),
  *   4. WASM msgpack ABI (buffer protocol: alloc → framed args → call →
  *      framed result → dealloc; string reverse from the sample module).
  *
  * The tiers answer "what does the interpreter cost per row" (3 vs 2)
  * and "what does the msgpack framing add" (4 vs 3). Results land in
  * BASELINE.md; the op-level guidance lives on WasmUdf's Scaladoc.
  *
  *   scripts/run.sh graft.tools.ProbeWasm [rows=5000000] [reps=3]
  */
object ProbeWasm {
  def main(args: Array[String]): Unit = {
    val rows = args.headOption.map(_.toLong).getOrElse(5000000L)
    val reps = args.lift(1).map(_.toInt).getOrElse(3)
    val spark = graft.Sessions.build(graft.Sessions.Batch)

    val mods = graft.functions.wasm.SampleModules
    graft.functions.wasm.WasmUdf.register(spark, "w_sintau", "sintau",
      Seq("f32"), "f32", mods.sintauB64)
    graft.functions.wasm.WasmMsgPackUdf.register(spark, "w_rev", "rev",
      Seq("text"), "text", mods.moduleB64)
    // native Scala UDF twins (same logic, no module)
    spark.udf.register("n_sintau",
      (x: Float) => math.sin(2.0 * math.Pi * x).toFloat)
    spark.udf.register("n_rev", (s: String) => s.reverse)

    // one f32-ish column in (0,1) + a short string column (fixstr-coded)
    val src = spark.range(rows)
      .select(col("id"),
        (col("id").cast("double") / rows).cast("float").as("x"),
        concat(lit("payload-"), col("id")).as("s"))
      .cache()
    src.count() // materialize

    def time(label: String, sql: String): Unit = {
      src.createOrReplaceTempView("probe_src")
      // warm once (codegen + wasm parse), then min-of-reps
      spark.sql(sql).queryExecution // analyze
      val secs = (0 until reps).map { _ =>
        val t0 = System.nanoTime()
        spark.sql(sql).collect()
        (System.nanoTime() - t0) / 1e9
      }
      val best = secs.min
      println(f"""{"probe":"$label","rows":$rows,"sec":$best%.3f,"rows_per_sec":${(rows / best).toLong}}""")
    }

    // SUM over the transformed column: the scan+transform dominates, the
    // aggregate is one codegen'd accumulator (no result materialization)
    time("catalyst_sin", s"SELECT sum(sin(x * ${2 * math.Pi})) AS s FROM probe_src")
    time("scala_udf_sin", "SELECT sum(n_sintau(x)) AS s FROM probe_src")
    time("wasm_raw_sintau", "SELECT sum(w_sintau(x)) AS s FROM probe_src")
    time("catalyst_reverse", "SELECT sum(length(reverse(s))) AS s FROM probe_src")
    time("scala_udf_reverse", "SELECT sum(length(n_rev(s))) AS s FROM probe_src")
    time("wasm_msgpack_reverse", "SELECT sum(length(w_rev(s))) AS s FROM probe_src")
    spark.stop()
  }
}

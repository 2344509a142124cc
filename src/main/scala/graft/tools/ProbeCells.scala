package graft.tools

/** Scale-knob audit for the within-block quadratics the round-20 sf10
  * probe surfaced (dd18 57x, em1 60x at a 10x data step): both funnel
  * through FIXED-cardinality blocking — semDedup's numCells=8 and em1's
  * 10-value `label` column are ORACLE FIXTURES (DuckDB replays the exact
  * training), so within-block pair counts grow as N²/blocks when N grows
  * under a constant block count. The ops themselves expose the scale
  * knob; this probe demonstrates it on the same sf10 corpus: semDedup at
  * the fixture cell count vs cells ∝ √N vs the two-level hierarchical
  * quantizer (the K ≫ 10³ path). Near-linear wall-clock restoration =
  * the 100 TB sizing rule is "cells ∝ corpus", not a plan defect.
  *
  *   scripts/run.sh graft.tools.ProbeCells <sfDir> [cells ...]
  */
object ProbeCells {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/tmp/sf10")
    val cellCounts = if (args.length > 1) args.drop(1).map(_.toInt).toSeq else Seq(8, 448)
    val spark = graft.Sessions.build(graft.Sessions.Batch, Some(sfDir))
    val emb = graft.Tables.load(spark, sfDir, "embeddings").cache()
    val n = emb.count()
    println(s"""{"sfDir":"$sfDir","vectors":$n}""")
    def time(label: String)(f: => Long): Unit = {
      val t0 = System.nanoTime()
      val out = f
      println(f"""{"probe":"$label","sec":${(System.nanoTime() - t0) / 1e9}%.2f,"rows":$out}""")
    }
    cellCounts.foreach { c =>
      time(s"semdedup_cells_$c") {
        graft.ops.Embeddings.semDedup(emb, "vec_id", "embedding",
          numCells = c, threshold = 0.4).filter("kept = 0").count()
      }
    }
    // the library default: numCells = 0 auto-sizes to ⌈√N⌉ — must land on
    // the same near-linear shape as the explicit √N run above
    time("semdedup_auto_sqrtN") {
      graft.ops.Embeddings.semDedup(emb, "vec_id", "embedding",
        numCells = 0, threshold = 0.4).filter("kept = 0").count()
    }
    // the K >> 1e3 path: two-level quantizer, multi-probe assignment
    time("semdedup_hier_1024x32") {
      graft.ops.Embeddings.semDedup(emb, "vec_id", "embedding",
        numCells = 1024, threshold = 0.4, coarseCells = 32).filter("kept = 0").count()
    }
    spark.stop()
  }
}

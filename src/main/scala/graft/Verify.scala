package graft
import java.nio.file.{Files, Paths}
import graft.lake.Manifest
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    val only = args.drop(2).toSet // optional local-iteration filter
    // the bench's session, so the oracle checks the plans Bench times
    // (SPARK_GRAFT_CONF=graft.forceScalePaths=true sends every size-gated
    // operator down its distributed path, so the compare checks those too)
    val spark = Sessions.build(Sessions.Batch, Some(sfDir))
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries.filter(kv => only.isEmpty || only(kv._1)).foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // jstr escapes control chars too: a tab or CR in the SQL would
    // otherwise make oracle_sql.json unreadable as JSON
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${Manifest.jstr(k)}: ${Manifest.jstr(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}

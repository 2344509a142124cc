package graft.tools

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

/** Spark half of the randomized differential test: run every generated
  * SQL line (scripts/gen_fuzz.py) over the parquet tables and dump each
  * result to parquet for scripts/fuzz_compare.py's DuckDB comparison —
  * the fuzz corpus walks predicate/aggregate/join combinations the
  * curated oracle suite doesn't enumerate. A query that errors writes
  * `<name>.error` instead of results; the comparator treats that as a
  * loud failure, never a silent skip.
  *
  *   scripts/run.sh graft.tools.FuzzRun <sfDir> <queries.sql> <outDir>
  */
object FuzzRun {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, queriesFile, outDir) = args.take(3)
    val spark = graft.Sessions.build(graft.Sessions.Batch, Some(sfDir))
    Seq("region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "events", "documents", "embeddings")
      .foreach(t => graft.Tables.load(spark, sfDir, t).createOrReplaceTempView(t))
    new java.io.File(outDir).mkdirs()
    val queries = Files.readAllLines(Paths.get(queriesFile)).asScala
      .map(_.trim).filter(_.nonEmpty)
    var failed = 0
    queries.zipWithIndex.foreach { case (q, i) =>
      val name = f"fz$i%04d"
      try spark.sql(q).coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
      catch {
        case e: Throwable =>
          failed += 1
          Files.writeString(Paths.get(s"$outDir/$name.error"),
            s"$q\n${e.getMessage}")
          System.err.println(s"[fuzz] $name failed: ${e.getMessage}")
      }
    }
    println(s"[fuzz] ran ${queries.size} queries, $failed errors")
    spark.stop()
  }
}

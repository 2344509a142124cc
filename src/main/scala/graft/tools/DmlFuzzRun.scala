package graft.tools

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

/** Graft half of the randomized DML-sequence differential test
  * (scripts/gen_dml_fuzz.py): drives every generated statement sequence
  * through GraftContext — the full lake write path (manifest commits,
  * stats-pruned UPDATE/DELETE rewrites, MERGE planning) — then dumps
  * each table's FINAL state to parquet for scripts/dml_fuzz_compare.py's
  * DuckDB replay comparison. The randomized analog of the reference's
  * golden DML semantics (tests/statements/dml.rs:50-489), which the
  * SELECT-only fuzz layer can't reach.
  *
  * A sequence that errors writes `seq<i>.error` instead of results; the
  * comparator treats that as a loud failure, never a silent skip.
  *
  *   scripts/run.sh graft.tools.DmlFuzzRun <sequences.jsonl> <outDir>
  */
object DmlFuzzRun {
  def main(args: Array[String]): Unit = {
    val Array(seqFile, outDir) = args.take(2)
    val spark = graft.Sessions.build(graft.Sessions.Batch)
    val dataDir = Files.createTempDirectory("graft-dmlfuzz").toString
    val ctx = new graft.sql.GraftContext(spark, dataDir)
    new java.io.File(outDir).mkdirs()
    import graft.lake.Manifest.Json
    var failed = 0
    var ran = 0
    Files.readAllLines(Paths.get(seqFile)).asScala
      .map(_.trim).filter(_.nonEmpty).foreach { line =>
      val o = Json.parse(line).asInstanceOf[Json.O].m
      val seq = o("seq").asInstanceOf[Json.N].n.toInt
      val tables = o("tables").asInstanceOf[Json.A].xs.map(_.asInstanceOf[Json.S].s)
      val stmts = o("graft").asInstanceOf[Json.A].xs.map(_.asInstanceOf[Json.S].s)
      val name = f"seq$seq%04d"
      // defensive: a previous failed sequence may have left tables behind
      tables.foreach(t => ctx.execute(s"DROP TABLE IF EXISTS $t"))
      try {
        stmts.foreach(ctx.execute)
        tables.foreach { t =>
          // SELECT *: the final COLUMN SET is part of the differential
          // (ALTER TABLE ADD/DROP COLUMN sequences evolve it)
          ctx.executeRead(s"SELECT * FROM $t")
            .coalesce(1).write.mode("overwrite").parquet(s"$outDir/${name}_$t")
        }
        ran += 1
      } catch {
        case e: Throwable =>
          failed += 1
          Files.write(Paths.get(s"$outDir/$name.error"),
            s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(2000)}"
              .getBytes("UTF-8"))
      } finally {
        tables.foreach(t =>
          try ctx.execute(s"DROP TABLE IF EXISTS $t")
          catch { case scala.util.control.NonFatal(_) => () })
      }
    }
    println(s"""{"sequences":${ran + failed},"ok":$ran,"errors":$failed}""")
    spark.stop()
    if (failed > 0) sys.exit(1)
  }
}

package graft.tools

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

/** Child JVM of the CDC crash-redelivery differential
  * (scripts/sync_crash_fuzz.py): replays a seeded change-batch stream
  * into ONE table through the production SyncBuffer (flush per batch),
  * with the parent planting a `post-sync-commit` kill — the historical
  * corruption window between the merge's manifest commit and the catalog
  * watermark advance. Every launch REDELIVERS THE WHOLE STREAM from
  * sequence 1 (source-replay semantics after a crash): batches at or
  * below the manifest watermark must be Skipped — including the killed
  * flush itself, whose catalog advance never happened — and only the
  * genuinely unapplied tail may flush. The parent verifies after every
  * kill that the table equals the DuckDB replay of exactly the applied
  * batch prefix (prefix = the manifest's syncSeq for the origin).
  *
  *   scripts/run.sh graft.tools.CrashSyncRun <dataDir> <batchesJson>
  */
object CrashSyncRun {
  def main(args: Array[String]): Unit = {
    val Array(dataDir, batchesFile) = args.take(2)
    graft.lake.Faults.disarm()
    val spark = graft.Sessions.build(graft.Sessions.Serve)
    Files.createDirectories(Paths.get(dataDir))
    val ctx = new graft.sql.GraftContext(spark, dataDir)

    import graft.lake.Manifest.Json
    val o = Json.parse(new String(
      Files.readAllBytes(Paths.get(batchesFile)),
      java.nio.charset.StandardCharsets.UTF_8)).asInstanceOf[Json.O].m
    val table = o("table").asInstanceOf[Json.S].s
    val origin = o("origin").asInstanceOf[Json.S].s

    if (ctx.catalog.getTable("default", "public", table).isEmpty)
      ctx.execute(s"CREATE TABLE $table (id BIGINT, a BIGINT, b BIGINT, s VARCHAR)")

    // flush-per-batch so every applied batch is one commit and one
    // post-sync-commit hit; age sweep effectively off
    val buf = new graft.sync.SyncBuffer(ctx, maxBatches = 1, maxAgeMs = 600000)
    graft.lake.Faults.arm()
    o("batches").asInstanceOf[Json.A].xs.foreach { bv =>
      val b = bv.asInstanceOf[Json.O].m
      val seq = b("seq").asInstanceOf[Json.N].n.toLong
      val lines = b("body").asInstanceOf[Json.S].s.split("\n").filter(_.nonEmpty)
      val r = buf.add("default", "public", table, lines,
        Seq("id"), Seq("a", "b", "s"), Some(origin), Some(seq))
      println(s"""{"seq":$seq,"outcome":"${r.getClass.getSimpleName}"}""")
    }
    println("""{"done":true}""")
    spark.stop()
  }
}

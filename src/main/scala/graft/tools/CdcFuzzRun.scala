package graft.tools

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

/** CDC-vs-DML differential runner (scripts/gen_cdc_fuzz.py): each
  * sequence's row-level change history executes twice against one
  * context — as direct SQL on `cdc_dml`, and as JSON-lines change
  * batches POSTed to the real HTTP /sync endpoint for `cdc_sync`
  * (through SyncBuffer's chain squash and SyncMerge's resolution, the
  * exact production path) — then both tables' final states are compared
  * exactly. The two paths implement the same upsert semantics
  * (reference: src/sync/planner.rs golden tests) but were fuzzed
  * separately until this tool.
  *
  * Three frontends cover the flush cadences: merge-per-POST (chains
  * split across committed versions), and 3-/64-batch buffered windows
  * (chains collapse inside one squash window). A final flushSync()
  * drains whatever the thresholds left buffered.
  *
  *   scripts/run.sh graft.tools.CdcFuzzRun <sequences.jsonl>
  */
object CdcFuzzRun {
  def main(args: Array[String]): Unit = {
    val Array(seqFile) = args.take(1)
    val spark = graft.Sessions.build(graft.Sessions.Serve)
    val dataDir = Files.createTempDirectory("graft-cdcfuzz").toString
    val ctx = new graft.sql.GraftContext(spark, dataDir)
    val token = "cdcfuzz"
    // high age bound: flush cadence is controlled by maxBatches + the
    // final flushSync, not by the sweep timer
    val fes = Map(1 -> 1, 3 -> 3, 64 -> 64).map { case (k, mb) =>
      val fe = new graft.server.HttpFrontend(ctx, 0, writeToken = Some(token),
        syncMaxRows = 1000000, syncMaxBatches = mb, syncMaxAgeMs = 600000)
      fe.start()
      k -> fe
    }
    val client = HttpClient.newHttpClient()

    import graft.lake.Manifest.Json
    var pass = 0
    var fail = 0
    Files.readAllLines(Paths.get(seqFile)).asScala
      .map(_.trim).filter(_.nonEmpty).foreach { line =>
      val o = Json.parse(line).asInstanceOf[Json.O].m
      val seq = o("seq").asInstanceOf[Json.N].n.toInt
      val mode = o("nbatch_mode").asInstanceOf[Json.N].n.toInt
      val dml = o("dml").asInstanceOf[Json.A].xs.map(_.asInstanceOf[Json.S].s)
      val batches = o("batches").asInstanceOf[Json.A].xs.map(_.asInstanceOf[Json.S].s)
      val fe = fes(mode)
      try {
        Seq("cdc_dml", "cdc_sync").foreach { t =>
          ctx.execute(s"DROP TABLE IF EXISTS $t")
          ctx.execute(s"CREATE TABLE $t (id BIGINT, a BIGINT, b BIGINT, s VARCHAR)")
        }
        dml.foreach(ctx.execute)
        batches.filter(_.nonEmpty).foreach { body =>
          val r = client.send(HttpRequest.newBuilder(
              URI.create(s"http://127.0.0.1:${fe.boundPort}/sync/public/cdc_sync?pk=id&values=a,b,s"))
            .header("Authorization", s"Bearer $token")
            .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
            HttpResponse.BodyHandlers.ofString())
          require(r.statusCode == 200, s"sync POST ${r.statusCode}: ${r.body.take(300)}")
        }
        fe.flushSync()
        def state(t: String): Seq[String] =
          ctx.executeRead(s"SELECT * FROM $t")
            .collect().map(_.toSeq.map(String.valueOf).mkString("|")).sorted.toSeq
        val (d, s) = (state("cdc_dml"), state("cdc_sync"))
        if (d == s) pass += 1
        else {
          fail += 1
          println(s"FAIL seq$seq (mode $mode): dml ${d.size} rows vs sync ${s.size}")
          (d.diff(s).take(3) ++ s.diff(d).take(3)).foreach(r => println(s"  diff: $r"))
        }
      } catch {
        case e: Throwable =>
          fail += 1
          println(s"FAIL seq$seq (mode $mode): ${e.getClass.getSimpleName}: " +
            String.valueOf(e.getMessage).take(300))
      }
    }
    fes.values.foreach(_.stop())
    println(s"$pass passed, $fail failed")
    spark.stop()
    if (fail > 0) sys.exit(1)
  }
}

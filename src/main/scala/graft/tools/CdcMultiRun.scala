package graft.tools

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Multi-origin CDC contention runner (scripts/gen_cdc_multi.py): one
  * table fed by 2-3 origins with interleaved flush cadences, redelivered
  * batches included. Extends the single-origin CDC-vs-DML differential
  * (CdcFuzzRun) with the per-origin watermark protocol the reference
  * maintains concurrently (src/sync/writer.rs:27-129):
  *
  *   - /sync/progress is polled after EVERY POST: each origin's durable
  *     and memory watermarks must be monotone non-decreasing, with
  *     durable <= memory;
  *   - a redelivered (origin, seq) answers {"skipped":true};
  *   - after the final flush, durable(origin) == max delivered seq;
  *   - the sync table's final state equals the direct-DML replay of the
  *     serial arrival-order history.
  *
  *   scripts/run.sh graft.tools.CdcMultiRun <sequences.jsonl>
  */
object CdcMultiRun {
  def main(args: Array[String]): Unit = {
    val Array(seqFile) = args.take(1)
    val spark = graft.Sessions.build(graft.Sessions.Serve)
    val dataDir = Files.createTempDirectory("graft-cdcmulti").toString
    val ctx = new graft.sql.GraftContext(spark, dataDir)
    val token = "cdcmulti"
    val fes = Map(1 -> 1, 3 -> 3, 64 -> 64).map { case (k, mb) =>
      val fe = new graft.server.HttpFrontend(ctx, 0, writeToken = Some(token),
        syncMaxRows = 1000000, syncMaxBatches = mb, syncMaxAgeMs = 600000)
      fe.start()
      k -> fe
    }
    val client = HttpClient.newHttpClient()

    import graft.lake.Manifest.Json
    def jnum(v: Json.V): Long = v.asInstanceOf[Json.N].n.toLong

    var pass = 0
    var fail = 0
    Files.readAllLines(Paths.get(seqFile)).asScala
      .map(_.trim).filter(_.nonEmpty).foreach { line =>
      val o = Json.parse(line).asInstanceOf[Json.O].m
      val seq = jnum(o("seq")).toInt
      val mode = jnum(o("nbatch_mode")).toInt
      val dml = o("dml").asInstanceOf[Json.A].xs.map(_.asInstanceOf[Json.S].s)
      val batches = o("batches").asInstanceOf[Json.A].xs.map(_.asInstanceOf[Json.O].m)
      val maxSeq = o("max_seq").asInstanceOf[Json.O].m.map { case (k, v) => k -> jnum(v) }
      val fe = fes(mode)
      val base = s"http://127.0.0.1:${fe.boundPort}"
      def progress(): Map[String, (Long, Long)] = {
        val r = client.send(HttpRequest.newBuilder(URI.create(s"$base/sync/progress"))
          .header("Authorization", s"Bearer $token").GET().build(),
          HttpResponse.BodyHandlers.ofString())
        require(r.statusCode == 200, s"progress GET ${r.statusCode}")
        Json.parse(r.body.trim).asInstanceOf[Json.O].m.map { case (orig, v) =>
          val m = v.asInstanceOf[Json.O].m
          orig -> ((jnum(m("durable")), jnum(m("memory"))))
        }
      }
      try {
        Seq("cdc_dml", "cdc_sync").foreach { t =>
          ctx.execute(s"DROP TABLE IF EXISTS $t")
          ctx.execute(s"CREATE TABLE $t (id BIGINT, a BIGINT, b BIGINT, s VARCHAR)")
        }
        dml.foreach(ctx.execute)
        // per-origin high-water marks seen so far (durable, memory)
        val seen = mutable.Map.empty[String, (Long, Long)]
        batches.foreach { b =>
          val origin = b("origin").asInstanceOf[Json.S].s
          val bseq = jnum(b("seq"))
          val body = b("body").asInstanceOf[Json.S].s
          val redelivery = b("redelivery") == Json.B(true)
          val r = client.send(HttpRequest.newBuilder(URI.create(
              s"$base/sync/public/cdc_sync?pk=id&values=a,b,s&origin=$origin&seq=$bseq"))
            .header("Authorization", s"Bearer $token")
            .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
            HttpResponse.BodyHandlers.ofString())
          require(r.statusCode == 200, s"sync POST ${r.statusCode}: ${r.body.take(300)}")
          if (redelivery)
            require(r.body.contains("\"skipped\":true"),
              s"redelivered ($origin,$bseq) was not skipped: ${r.body.take(200)}")
          val p = progress()
          p.foreach { case (orig, (d, m)) =>
            require(d <= m, s"origin $orig durable $d > memory $m")
            seen.get(orig).foreach { case (pd, pm) =>
              require(d >= pd, s"origin $orig durable regressed $pd -> $d")
              require(m >= pm, s"origin $orig memory regressed $pm -> $m")
            }
            seen(orig) = (d, m)
          }
        }
        fe.flushSync()
        val finalP = progress()
        maxSeq.foreach { case (orig, n) =>
          val (d, _) = finalP.getOrElse(orig,
            throw new IllegalStateException(s"origin $orig missing from progress"))
          require(d == n, s"origin $orig final durable $d != max delivered seq $n")
        }
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
            String.valueOf(e.getMessage).take(400))
      }
    }
    fes.values.foreach(_.stop())
    println(s"$pass passed, $fail failed")
    spark.stop()
    if (fail > 0) sys.exit(1)
  }
}

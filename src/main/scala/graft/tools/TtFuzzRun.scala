package graft.tools

import java.nio.file.{Files, Paths}
import java.time.Instant

import scala.jdk.CollectionConverters._

import graft.sql.SqlText

/** Graft half of the time-travel / RESTORE / VACUUM differential fuzz
  * (scripts/gen_tt_fuzz.py → scripts/tt_fuzz_compare.py): drives each
  * program through GraftContext, and
  *
  *  - after every committing statement, records the new version's
  *    manifest timestamp (a 3 ms sleep between statements keeps
  *    timestamps strictly increasing, so `t('<ts>')` pins uniquely);
  *  - "tt" entries dump `SELECT * FROM <t>('<ts of version v>')` — the
  *    SQL time-travel surface, not the internal read — to parquet for
  *    the comparator's prefix-replay check;
  *  - "restore"/"sql" entries execute verbatim;
  *  - "vacuum" entries execute, then PROBE the contract: reading a
  *    version outside the retention window must fail loudly, the newest
  *    retained version must still read; outcomes land in checks.jsonl.
  *
  *   scripts/run.sh graft.tools.TtFuzzRun <sequences.jsonl> <outDir>
  */
object TtFuzzRun {
  def main(args: Array[String]): Unit = {
    val Array(seqFile, outDir) = args.take(2)
    val spark = graft.Sessions.build(graft.Sessions.Batch)
    val dataDir = Files.createTempDirectory("graft-ttfuzz").toString
    val ctx = new graft.sql.GraftContext(spark, dataDir)
    new java.io.File(outDir).mkdirs()
    val checks = new java.io.PrintWriter(
      new java.io.FileWriter(s"$outDir/checks.jsonl"), true)
    import graft.lake.Manifest.Json
    var failed = 0
    Files.readAllLines(Paths.get(seqFile)).asScala
      .map(_.trim).filter(_.nonEmpty).foreach { line =>
      val o = Json.parse(line).asInstanceOf[Json.O].m
      val seq = o("seq").asInstanceOf[Json.N].n.toInt
      val tables = o("tables").asInstanceOf[Json.A].xs.map(_.asInstanceOf[Json.S].s)
      val prog = o("prog").asInstanceOf[Json.A].xs.map(_.asInstanceOf[Json.O].m)
      val name = f"seq$seq%04d"
      val tsOf = scala.collection.mutable.Map.empty[(String, Long), Long]
      tables.foreach(t => ctx.execute(s"DROP TABLE IF EXISTS $t"))
      def str(m: Map[String, Json.V], k: String) = m(k).asInstanceOf[Json.S].s
      def num(m: Map[String, Json.V], k: String) = m(k).asInstanceOf[Json.N].n.toLong
      def recordTs(t: String): Unit = {
        val m = ctx.table("public", t).latestManifest
        tsOf((t, m.version)) = m.timestampMs
      }
      def iso(t: String, v: Long): String =
        Instant.ofEpochMilli(tsOf((t, v))).toString
      try {
        prog.zipWithIndex.foreach { case (e, idx) =>
          str(e, "k") match {
            case "sql" =>
              ctx.execute(str(e, "g")); Thread.sleep(3)
              recordTs(str(e, "t"))
            case "restore" =>
              ctx.execute(str(e, "g")); Thread.sleep(3)
              recordTs(str(e, "t"))
            case "tt" =>
              val t = str(e, "t")
              ctx.executeRead(s"SELECT * FROM $t(${SqlText.quote(iso(t, num(e, "v")))})")
                .coalesce(1).write.mode("overwrite")
                .parquet(s"$outDir/${name}_c$idx")
            case "vacuum" =>
              val t = str(e, "t")
              ctx.execute(str(e, "g"))
              val deadOk = e.get("probe_dead") match {
                case Some(n: Json.N) =>
                  // reading a vacuumed version must FAIL loudly
                  try { ctx.executeRead(
                    s"SELECT * FROM $t(${SqlText.quote(iso(t, n.n.toLong))})").count(); false }
                  catch { case scala.util.control.NonFatal(_) => true }
                case _ => true // nothing fell out of the window
              }
              val liveOk =
                try { ctx.executeRead(
                  s"SELECT * FROM $t(${SqlText.quote(iso(t, num(e, "probe_live")))})").count(); true }
                catch { case scala.util.control.NonFatal(_) => false }
              checks.println(s"""{"seq":$seq,"idx":$idx,"dead_ok":$deadOk,"live_ok":$liveOk}""")
              if (!deadOk || !liveOk) failed += 1
          }
        }
        tables.foreach { t =>
          ctx.executeRead(s"SELECT * FROM $t")
            .coalesce(1).write.mode("overwrite").parquet(s"$outDir/${name}_$t")
          ctx.execute(s"DROP TABLE IF EXISTS $t")
        }
      } catch {
        case e: Throwable =>
          failed += 1
          Files.write(Paths.get(s"$outDir/$name.error"),
            s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(2000)}"
              .getBytes("UTF-8"))
          tables.foreach(t =>
            try ctx.execute(s"DROP TABLE IF EXISTS $t")
            catch { case scala.util.control.NonFatal(_) => () })
      }
    }
    checks.close()
    println(s"""{"errors":$failed}""")
    spark.stop()
    if (failed > 0) sys.exit(1)
  }
}

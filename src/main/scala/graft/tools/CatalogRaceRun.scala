package graft.tools

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import graft.lake.Manifest.jstr

/** One writer of the cross-process CATALOG concurrency differential
  * (scripts/catalog_fuzz.py): two instances — separate JVMs, roles a/b —
  * race seeded CATALOG DDL (CREATE/DROP/RENAME TABLE, CREATE SCHEMA)
  * against each other and against DML on shared tables, all on ONE data
  * directory per sequence. Where ConcDmlRun proves the MANIFEST layer's
  * optimistic protocol serializable, this layer targets the CATALOG's
  * (versioned put-if-absent state commits + replayed mutations,
  * Catalog.mutate) — the reference gets the same guarantee from its SQL
  * metastore's transactions (src/repository/interface.rs).
  *
  * Each op's OUTCOME (ok / error text) is logged; the checker then
  * asserts from disk state + both logs: exactly-one-winner for contended
  * creates/drops/renames/schemas, catalog↔manifest consistency (every
  * cataloged table has a readable manifest log; every table directory is
  * cataloged or in the dropped ledger), and zero lost INSERTs on tables
  * no one drops.
  *
  * Cross-JVM sync is marker files (same protocol as ConcDmlRun): per
  * sequence, role a provisions a FRESH data dir and runs setup, then both
  * roles free-run their statement lists.
  *
  *   scripts/run.sh graft.tools.CatalogRaceRun <sharedDir> <a|b> <sequences.jsonl>
  */
object CatalogRaceRun {
  private def await(p: java.nio.file.Path, timeoutMs: Long = 600000L): Unit = {
    val t0 = System.currentTimeMillis
    while (!Files.exists(p)) {
      if (System.currentTimeMillis - t0 > timeoutMs)
        throw new IllegalStateException(s"barrier timeout waiting for $p")
      Thread.sleep(5)
    }
  }
  private def touch(p: java.nio.file.Path): Unit = {
    Files.write(p, Array.emptyByteArray)
    ()
  }

  def main(args: Array[String]): Unit = {
    val Array(shared, role, seqFile) = args.take(3)
    require(role == "a" || role == "b", s"role must be a|b, got $role")
    val spark = graft.Sessions.build(graft.Sessions.Serve)
    val barrier = Paths.get(shared, "barrier")
    Files.createDirectories(barrier)
    def mark(name: String) = barrier.resolve(name)

    val log = new java.io.PrintWriter(new java.io.FileWriter(s"$shared/log_$role.jsonl"), true)

    import graft.lake.Manifest.Json
    var harnessFailures = 0
    Files.readAllLines(Paths.get(seqFile)).asScala
      .map(_.trim).filter(_.nonEmpty).foreach { line =>
      val o = Json.parse(line).asInstanceOf[Json.O].m
      val seq = o("seq").asInstanceOf[Json.N].n.toInt
      def stmts(k: String): Seq[String] =
        o(k).asInstanceOf[Json.A].xs.map(_.asInstanceOf[Json.S].s).toSeq
      val dataDir = f"$shared/data_seq$seq%04d"
      try {
        if (role == "a") {
          Files.createDirectories(Paths.get(dataDir))
          val ctx = new graft.sql.GraftContext(spark, dataDir)
          stmts("setup").foreach(ctx.execute)
          touch(mark(s"A_ready_$seq")); await(mark(s"B_ready_$seq"))
          runOps(ctx, stmts("a"), seq, role, log)
          touch(mark(s"A_done_$seq")); await(mark(s"B_done_$seq"))
          touch(mark(s"complete_$seq"))
        } else {
          await(mark(s"A_ready_$seq"))
          val ctx = new graft.sql.GraftContext(spark, dataDir)
          touch(mark(s"B_ready_$seq"))
          runOps(ctx, stmts("b"), seq, role, log)
          touch(mark(s"B_done_$seq")); await(mark(s"complete_$seq"))
        }
      } catch {
        case e: Throwable =>
          harnessFailures += 1
          log.println(s"""{"seq":$seq,"error":${jstr(s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(800)}")}}""")
          if (role == "a") { touch(mark(s"A_ready_$seq")); touch(mark(s"A_done_$seq")); touch(mark(s"complete_$seq")) }
          else { touch(mark(s"B_ready_$seq")); touch(mark(s"B_done_$seq")) }
      }
    }
    log.close()
    println(s"""{"role":"$role","harness_failures":$harnessFailures}""")
    spark.stop()
    if (harnessFailures > 0) sys.exit(1)
  }

  /** Execute ops free-running; an op failing is an OUTCOME (the checker
    * decides if it was legitimate), never aborts the sequence. */
  private def runOps(ctx: graft.sql.GraftContext, ops: Seq[String], seq: Int,
                     role: String, log: java.io.PrintWriter): Unit =
    ops.zipWithIndex.foreach { case (s, i) =>
      val outcome =
        try { ctx.execute(s); """"ok":true""" }
        catch { case e: Throwable =>
          s""""ok":false,"err":${jstr(s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}")}"""
        }
      log.println(s"""{"seq":$seq,"role":"$role","i":$i,"sql":${jstr(s)},$outcome}""")
    }
}

package graft.tools

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import graft.lake.Manifest.jstr

/** One writer of the CONCURRENT DML-sequence differential test
  * (scripts/conc_dml_fuzz.py): two instances of this main — separate
  * JVMs, role "a" and role "b" — interleave seeded statement sequences
  * against the SAME tables of one shared data directory, exercising the
  * optimistic commit-retry path (GraftTable.retryCommit + version-
  * anchored commits) under real cross-process contention.
  *
  * Per statement, the writer records the manifest versions its commit
  * landed at (via the GraftTable.onCommit seam) to a JSON-lines log.
  * The driver then checks the versions of both writers + setup form a
  * DENSE 0..N sequence (every commit single-winner, none lost) and
  * replays all committed statements IN COMMIT ORDER through DuckDB —
  * final state must equal graft's, i.e. the interleaving is
  * serializable in commit order. Reference anchor: the Delta
  * optimistic-commit semantics the reference inherits
  * (src/context/delta.rs:429-440).
  *
  * Cross-JVM synchronization is marker files under <shared>/barrier:
  *   role a: setup → A_ready → await B_ready → stmts → A_done →
  *           await B_done → dump final state → drop tables → complete
  *   role b: await A_ready → B_ready → stmts → B_done → await complete
  *
  * A fresh GraftContext per sequence keeps catalog + temp-view state of
  * both processes honest about the other's DDL (views pin a manifest at
  * registration; writers only ever SELECT the static `src` table, so
  * mid-sequence staleness cannot arise by construction).
  *
  *   scripts/run.sh graft.tools.ConcDmlRun <sharedDir> <a|b> <sequences.jsonl>
  */
object ConcDmlRun {
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
    val spark = graft.Sessions.build(graft.Sessions.Batch)
    val dataDir = s"$shared/data"
    val barrier = Paths.get(shared, "barrier")
    Files.createDirectories(barrier)
    Files.createDirectories(Paths.get(dataDir))
    def mark(name: String) = barrier.resolve(name)

    // per-statement commit capture through the process-wide seam; the
    // writer is single-threaded so a plain buffer is enough
    val captured = scala.collection.mutable.ArrayBuffer.empty[(String, Long)]
    graft.lake.GraftTable.onCommit = (root, v) => captured.synchronized {
      captured += ((root, v)); ()
    }

    val log = new java.io.PrintWriter(new java.io.FileWriter(s"$shared/log_$role.jsonl"), true)
    def record(seq: Int, kind: String, idx: Int, sql: String): Unit = {
      val vs = captured.synchronized { val r = captured.toList; captured.clear(); r }
      log.println(s"""{"seq":$seq,"kind":"$kind","i":$idx,"sql":${jstr(sql)},"commits":[""" +
        vs.map { case (r, v) => s"""{"root":${jstr(r)},"v":$v}""" }.mkString(",") + "]}")
    }

    import graft.lake.Manifest.Json
    var failures = 0
    Files.readAllLines(Paths.get(seqFile)).asScala
      .map(_.trim).filter(_.nonEmpty).foreach { line =>
      val o = Json.parse(line).asInstanceOf[Json.O].m
      val seq = o("seq").asInstanceOf[Json.N].n.toInt
      def stmts(k: String): Seq[String] =
        o(k).asInstanceOf[Json.A].xs.map(_.asInstanceOf[Json.S].s).toSeq
      val ctx = new graft.sql.GraftContext(spark, dataDir)
      try {
        if (role == "a") {
          captured.synchronized(captured.clear())
          stmts("setup").zipWithIndex.foreach { case (s, i) =>
            ctx.execute(s); record(seq, "setup", i, s)
          }
          touch(mark(s"A_ready_$seq")); await(mark(s"B_ready_$seq"))
          stmts("a").zipWithIndex.foreach { case (s, i) =>
            ctx.execute(s); record(seq, "a", i, s)
          }
          touch(mark(s"A_done_$seq")); await(mark(s"B_done_$seq"))
          o("tables").asInstanceOf[Json.A].xs.map(_.asInstanceOf[Json.S].s).foreach { t =>
            ctx.executeRead(s"SELECT * FROM $t")
              .coalesce(1).write.mode("overwrite").parquet(f"$shared/final_seq$seq%04d_$t")
            ctx.execute(s"DROP TABLE IF EXISTS $t")
          }
          touch(mark(s"complete_$seq"))
        } else {
          await(mark(s"A_ready_$seq"))
          captured.synchronized(captured.clear())
          touch(mark(s"B_ready_$seq"))
          stmts("b").zipWithIndex.foreach { case (s, i) =>
            ctx.execute(s); record(seq, "b", i, s)
          }
          touch(mark(s"B_done_$seq")); await(mark(s"complete_$seq"))
        }
      } catch {
        case e: Throwable =>
          failures += 1
          log.println(s"""{"seq":$seq,"error":${jstr(s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(800)}")}}""")
          // release the other side rather than deadlocking the run
          if (role == "a") { touch(mark(s"A_ready_$seq")); touch(mark(s"A_done_$seq")); touch(mark(s"complete_$seq")) }
          else { touch(mark(s"B_ready_$seq")); touch(mark(s"B_done_$seq")) }
      }
    }
    log.close()
    println(s"""{"role":"$role","errors":$failures}""")
    spark.stop()
    if (failures > 0) sys.exit(1)
  }
}

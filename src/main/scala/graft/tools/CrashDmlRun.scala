package graft.tools

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

/** Child JVM of the crash-fault-injection harness (scripts/crash_fuzz.py):
  * executes a seeded DML statement sequence against one table while the
  * parent plants a kill point on the commit ladder via `GRAFT_CRASH_AT`
  * (see graft.lake.Faults — `pre-manifest`, `post-manifest`,
  * `vacuum-sweep`; the planted halt is Runtime.halt, the in-process
  * equivalent of `kill -9` at exactly that ladder boundary).
  *
  * Each launch RESUMES from the table's own durable state: the next
  * statement index is `latestVersion - setupVersion` (every DML statement
  * commits exactly one version), so a statement whose manifest publish
  * was killed re-executes and one whose publish landed is never replayed
  * — the recovery rule the manifest log's atomicity is supposed to buy.
  * The parent verifies after every kill that the table reads exactly the
  * committed statement prefix (DuckDB replay), that versions stay dense,
  * and finally that VACUUM collects every orphan the kills left behind.
  *
  * Modes:
  *   dml    — run setup once (disarmed; marker-file idempotent), then
  *            execute dml[resume..] armed; prints one JSON line per
  *            committed statement.
  *   vacuum — run `VACUUM TABLE <table>` armed (the parent plants
  *            vacuum-sweep kills here).
  *
  *   scripts/run.sh graft.tools.CrashDmlRun <dataDir> <stmtsJson> <dml|vacuum>
  */
object CrashDmlRun {
  def main(args: Array[String]): Unit = {
    val Array(dataDir, stmtsFile, mode) = args.take(3)
    graft.lake.Faults.disarm()
    val spark = graft.Sessions.build(graft.Sessions.Batch)
    Files.createDirectories(Paths.get(dataDir))
    val ctx = new graft.sql.GraftContext(spark, dataDir)

    import graft.lake.Manifest.Json
    val o = Json.parse(new String(
      Files.readAllBytes(Paths.get(stmtsFile)),
      java.nio.charset.StandardCharsets.UTF_8)).asInstanceOf[Json.O].m
    val table = o("table").asInstanceOf[Json.S].s
    def stmts(k: String): Seq[String] =
      o(k).asInstanceOf[Json.A].xs.map(_.asInstanceOf[Json.S].s).toSeq

    val setupMark = Paths.get(dataDir).getParent.resolve("setup_done")
    if (!Files.exists(setupMark)) {
      stmts("setup").foreach(ctx.execute)
      Files.write(setupMark, Array.emptyByteArray)
    }
    val uuid = ctx.catalog.getTable("default", "public", table).getOrElse(
      throw new IllegalStateException(s"table $table not in catalog after setup"))
    val root = ctx.catalog.tableRoot(uuid)
    def latest: Long = graft.lake.Manifest.latestVersion(root).getOrElse(
      throw new IllegalStateException(s"no manifest at $root"))
    val setupVersion = o("setup_version").asInstanceOf[Json.N].n.toLong

    graft.lake.Faults.arm()
    mode match {
      case "dml" =>
        val dml = stmts("dml")
        val resume = (latest - setupVersion).toInt
        println(s"""{"resume":$resume,"version":$latest}""")
        dml.drop(resume).zipWithIndex.foreach { case (s, j) =>
          ctx.execute(s)
          // flushed line-per-commit so a planted halt loses at most the
          // in-flight statement's line, never a committed one's ordering
          println(s"""{"i":${resume + j},"version":$latest}""")
        }
        println("""{"done":true}""")
      case "vacuum" =>
        val retain = o.get("retain").map(_.asInstanceOf[Json.N].n.toInt).getOrElse(1)
        ctx.execute(s"VACUUM TABLE $table RETAIN $retain VERSIONS")
        println(s"""{"vacuumed":true,"version":$latest}""")
      case other => throw new IllegalArgumentException(s"unknown mode $other")
    }
    spark.stop()
  }
}

package graftbench

import java.io.File

import graft.server.{HttpFrontend, PgFrontend, Statements}
import graft.sql.GraftContext

/** `serve_write`: SQL text into the HTTP and pg frontends over tables
  * loaded into the graft lake, one client in a closed loop (see
  * graftbench/README.md for why). */
object Serve {
  val Tables: Seq[String] = Seq("lineitem", "orders", "customer", "events")
  /** Untimed rounds: the first pays the cold costs (snapshot, codegen,
    * class loading), the second the steepest part of the JIT's warm-up. */
  val WarmupRounds = 2
  /** Lake versions when the timed window opens. With three commits a
    * round, the first timed round takes the lake past the 256 manifests
    * Manifest's parse cache holds. */
  val VersionsAtWindow = 254

  def run(args: Args): Result = {
    val cpus = Runtime.getRuntime.availableProcessors
    // ServerMain's session
    val spark = Main.baseBuilder(args, cpus)
      .appName("graft-server")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.scheduler.mode", "FAIR")
      .config("spark.scheduler.allocation.file", Statements.writeFairPoolsFile())
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.Sessions.tune(spark)
    Main.log("spark started")
    val trace = if (args.trace) Some(new Trace) else None
    trace.foreach(Trace.install(spark, _))
    val dataDir = args.work + "/lake"
    val rec = new Recorder(spark, trace, Some(new File(dataDir)))

    val tracing = trace.map(t => new TracingContext(spark, dataDir, t))
    val ctx: GraftContext = tracing.getOrElse(new GraftContext(spark, dataDir))
    Tables.foreach { t =>
      ctx.execute(s"CREATE EXTERNAL TABLE src_$t STORED AS PARQUET LOCATION '${args.sfDir}/$t.parquet'")
      ctx.execute(s"CREATE TABLE $t AS SELECT * FROM staging.src_$t")
    }
    Main.log("tables loaded into the lake")
    def versions(): Int = ctx.catalog.listTables("default")
      .map { case (_, _, uuid) => graft.lake.Manifest.listVersions(ctx.catalog.tableRoot(uuid)).size }.sum
    // A long commit history, built cheaply: metadata-only commits that
    // restore customer's latest version.
    val root = ctx.catalog.tableRoot(ctx.catalog.getTable("default", "public", "customer").get)
    val customer = new graft.lake.GraftTable(spark, root)
    val latest = graft.lake.Manifest.latestVersion(root).get
    (versions() until VersionsAtWindow - WarmupRounds * OpGen.WriteSlots.size)
      .foreach(_ => customer.restore(latest))
    ctx.markDirty()
    Main.log("history built")
    val ref = new Reference(spark.newSession(), args.sfDir)
    Main.log("reference answers computed")
    val httpServer = new HttpFrontend(ctx, 0)
    httpServer.start()
    val pgServer = new PgFrontend(ctx, 0)
    pgServer.start()
    val http = new HttpQueryClient(httpServer.boundPort)
    val pg = new PgQueryClient(pgServer.boundPort)

    // sequence position -> (sql, ETag, read) of every HTTP read, for revalidations
    val etags = scala.collection.mutable.Map[Int, (String, Option[String], Op.Read)]()
    def round(r: Int): Unit =
      OpGen.round(args.seed, r, ref.domain).zipWithIndex.foreach { case (op, i) =>
        val pos = r * OpGen.RoundLength + i
        op match {
          case rd: Op.Read =>
            val sql = Sql.read(rd)
            rec.op(pos, rd.template, "read", if (rd.pg) "pg" else "http") {
              val reply = if (rd.pg) pg.query(sql) else http.get(sql)
              Outcome(reply.bytes, notModified = false, () =>
                if (reply.status != 200) s"status ${reply.status}: ${reply.message}"
                else {
                  if (!rd.pg) etags(pos) = (sql, reply.etag, rd)
                  ref.check(rd, reply.rows)
                })
            }
          case Op.Reval(at, stale) =>
            val (sql, etag, read) = etags(at)
            rec.op(pos, "reval", "reval", "http") {
              val reply = http.get(sql, etag)
              Outcome(reply.bytes, reply.status == 304, () =>
                if (!stale) { if (reply.status == 304) null else s"status ${reply.status}, expected 304" }
                else if (reply.status != 200) s"status ${reply.status}, expected 200 after a write"
                else if (reply.etag == etag) "ETag unchanged after a write"
                else ref.check(read, reply.rows))
            }
          case w =>
            rec.op(pos, w.kind, "write", "http") {
              val reply = http.post(Sql.write(w))
              Outcome(reply.bytes, notModified = false, () =>
                if (reply.status != 200) s"status ${reply.status}: ${reply.message}"
                else { ref.applyWrite(w); null })
            }
        }
        if (rec.traced) {
          val t0 = System.nanoTime()
          ctx.catalog.load()
          rec.catalogLoadMs += (System.nanoTime() - t0) / 1e6
        }
      }

    (0 until WarmupRounds).foreach(round)
    Main.log("warm-up done")
    tracing.foreach(_.counting = true)
    val setupS = Main.sinceJvmStart()
    val cpu0 = Host.cpuTimes()
    rec.window(args.seconds, WarmupRounds)(round)
    val steal = Host.stealPct(cpu0, Host.cpuTimes())
    tracing.foreach(_.counting = false)

    val roots = ctx.catalog.listTables("default").map { case (_, _, uuid) => ctx.catalog.tableRoot(uuid) }
    val liveFiles = roots.flatMap(graft.lake.Manifest.readLatest(_)).map(_.files.size).sum.toDouble
    val lakeMb = Main.dirBytes(new File(dataDir)) / 1048576.0
    pg.close()
    pgServer.stop()
    httpServer.stop()
    val heap = Main.heapLiveMb()
    spark.stop()
    val metrics =
      if (args.trace) Main.perLayer(rec, tracing, steal, lakeMb, (versions().toDouble, liveFiles))
      else Main.endToEnd(rec, setupS, heap)
    Result(rec.ops.size, rec.failures.toSeq, metrics, steal)
  }
}

package graft.tools

import java.io.{DataInputStream, DataOutputStream}
import java.net.{Socket, URI}
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.atomic.{AtomicBoolean, AtomicLong, AtomicReference}

import graft.server.{HttpFrontend, PgFrontend}
import graft.sql.GraftContext

/** Serving-tier SOAK: sustained mixed load for resource-growth evidence
  * (ProbeServe measures throughput; this measures whether the process is
  * FLAT over time). The load deliberately exercises every cache/buffer a
  * leak could hide in:
  *
  *   - HTTP readers (GET /q/<agg>) — plan-ETag cache, snapshot sessions;
  *   - a version-churning writer (INSERT via POST /q) — manifest LRU;
  *   - /sync upserts with per-origin seq — sync buffers + squash state;
  *   - pg connections that SUSPEND a portal (Execute maxRows) and then
  *     abandon the socket WITHOUT Close — the connection-scoped portal
  *     map must free on disconnect;
  *   - one persistent pg connection re-binding the same portal name
  *     forever without Close — the overwrite path must drop the old
  *     toLocalIterator;
  *   - periodic VACUUM riding the same write lock as the load.
  *
  * Samples VmRSS (/proc/self/status) + JVM heap every 10 s; the verdict
  * compares the steady-state window (minutes 3..6 by default — past JIT/
  * codegen warmup) with the final window: flat = last/steady <= 1.10.
  *
  *   scripts/run.sh graft.tools.ProbeSoak [minutes=30] [readers=8]
  *
  * Prints one JSON line with op counts, the RSS series, and the verdict.
  */
object ProbeSoak {

  private def vmRssKb(): Long = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmRSS")).map(_.split("\\s+")(1).toLong).getOrElse(-1L)
    finally src.close()
  }

  def main(args: Array[String]): Unit = {
    val minutes = args.headOption.map(_.toDouble).getOrElse(30.0)
    val readers = args.drop(1).headOption.map(_.toInt).getOrElse(8)
    val spark = graft.Sessions.build(graft.Sessions.Serve)

    val dir = java.nio.file.Files.createTempDirectory("graft-soak").toString
    val ctx = new GraftContext(spark, dir)
    ctx.execute("CREATE TABLE kv (k BIGINT, v DOUBLE)")
    ctx.execute("INSERT INTO kv SELECT id, id * 1.5 FROM range(20000)")
    ctx.execute("CREATE TABLE sync_t (id BIGINT, a BIGINT, s VARCHAR)")
    // dedicated table for the write-cancel leg: nothing else touches it,
    // so DML atomicity under cancellation is assertable by sum
    ctx.execute("CREATE TABLE cxl (k BIGINT, v BIGINT)")
    ctx.execute("INSERT INTO cxl SELECT id, 0 FROM range(500000)")
    val fe = new HttpFrontend(ctx, 0, writeToken = Some("tok"))
    fe.start()
    val pg = new PgFrontend(ctx, 0)
    pg.start()
    val base = s"http://127.0.0.1:${fe.boundPort}"
    val client = HttpClient.newHttpClient()

    val stop = new AtomicBoolean(false)
    val counts = Map(
      "reads" -> new AtomicLong, "writes" -> new AtomicLong,
      "syncs" -> new AtomicLong, "vacuums" -> new AtomicLong,
      "pg_abandoned" -> new AtomicLong, "pg_rebinds" -> new AtomicLong,
      "pg_cancels" -> new AtomicLong, "http_aborts" -> new AtomicLong,
      "write_cancels" -> new AtomicLong, "write_cancel_commits" -> new AtomicLong)
    val failures = new AtomicLong
    val firstFailure = new AtomicReference[String](null)
    def noteFail(s: String): Unit = { failures.incrementAndGet(); firstFailure.compareAndSet(null, s.take(300)); () }

    def get(path: String): HttpResponse[String] =
      client.send(HttpRequest.newBuilder(URI.create(base + path)).GET().build(),
        HttpResponse.BodyHandlers.ofString())
    def post(path: String, body: String): HttpResponse[String] =
      client.send(HttpRequest.newBuilder(URI.create(base + path))
        .header("Authorization", "Bearer tok")
        .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
        HttpResponse.BodyHandlers.ofString())

    val threads = Seq.newBuilder[Thread]

    threads ++= (0 until readers).map { i =>
      new Thread(() => {
        val rnd = new scala.util.Random(i)
        while (!stop.get()) {
          val lo = rnd.nextInt(19000)
          val q = java.net.URLEncoder.encode(
            s"SELECT count(*) AS n, sum(v) AS s FROM kv WHERE k BETWEEN $lo AND ${lo + 999}", "UTF-8")
          val r = get(s"/q/$q")
          if (r.statusCode == 200) counts("reads").incrementAndGet()
          else noteFail(s"read ${r.statusCode}: ${r.body}")
        }
      }, s"soak-reader-$i")
    }

    threads += new Thread(() => {
      var i = 0
      while (!stop.get()) {
        val r = post("/q", s"""{"query": "INSERT INTO kv VALUES (${1000000 + i}, $i.5)"}""")
        if (r.statusCode == 200) counts("writes").incrementAndGet()
        else noteFail(s"write ${r.statusCode}: ${r.body}")
        i += 1
        Thread.sleep(400)
      }
    }, "soak-writer")

    threads += new Thread(() => {
      var seq = 0L
      val rnd = new scala.util.Random(7)
      while (!stop.get()) {
        seq += 1
        val lines = (0 until 20).map { _ =>
          val id = rnd.nextInt(5000)
          s"""{"old_id":null,"new_id":$id,"a":${rnd.nextInt(100)},"s":"x$seq","_seq":$seq}"""
        }.mkString("\n")
        val r = post(s"/sync/public/sync_t?pk=id&values=a,s&origin=soak&seq=$seq", lines)
        if (r.statusCode == 200) counts("syncs").incrementAndGet()
        else noteFail(s"sync ${r.statusCode}: ${r.body}")
        Thread.sleep(500)
      }
    }, "soak-sync")

    threads += new Thread(() => {
      while (!stop.get()) {
        (0 until 120).foreach(_ => if (!stop.get()) Thread.sleep(500))
        if (!stop.get()) Seq("kv", "sync_t", "cxl").foreach { t =>
          val r = post("/q", s"""{"query": "VACUUM TABLE $t"}""")
          if (r.statusCode == 200) counts("vacuums").incrementAndGet()
          else noteFail(s"vacuum ${r.statusCode}: ${r.body}")
        }
      }
    }, "soak-vacuum")

    // --- pg wire: raw v3 clients ------------------------------------------

    def pgConnect(): (Socket, DataInputStream, DataOutputStream, Int, Int) = {
      val sock = new Socket("127.0.0.1", pg.boundPort)
      val in = new DataInputStream(sock.getInputStream)
      val out = new DataOutputStream(sock.getOutputStream)
      val params = "user\u0000graft\u0000database\u0000default\u0000\u0000".getBytes(UTF_8)
      out.writeInt(8 + params.length); out.writeInt(196608); out.write(params); out.flush()
      var done = false
      var pid = 0; var secret = 0
      while (!done) {
        val tpe = in.readByte().toChar
        val len = in.readInt() - 4
        if (tpe == 'K') { pid = in.readInt(); secret = in.readInt() }
        else in.skipNBytes(len)
        if (tpe == 'Z') done = true
      }
      (sock, in, out, pid, secret)
    }
    def cs(d: DataOutputStream, s: String): Unit = { d.write(s.getBytes(UTF_8)); d.writeByte(0) }
    def msg(out: DataOutputStream, tpe: Char)(body: DataOutputStream => Unit): Unit = {
      val bos = new java.io.ByteArrayOutputStream()
      body(new DataOutputStream(bos))
      out.writeByte(tpe); out.writeInt(4 + bos.size); out.write(bos.toByteArray)
    }
    /** Parse/Bind a named portal, Execute with maxRows (suspends), Sync;
      * read to ReadyForQuery. Portal left open (no Close). */
    def suspendPortal(in: DataInputStream, out: DataOutputStream, portal: String): Unit = {
      msg(out, 'P') { d => cs(d, ""); cs(d, "SELECT k, v FROM kv"); d.writeShort(0) }
      msg(out, 'B') { d => cs(d, portal); cs(d, ""); d.writeShort(0); d.writeShort(0); d.writeShort(0) }
      msg(out, 'E') { d => cs(d, portal); d.writeInt(2) }
      msg(out, 'S')(_ => ())
      out.flush()
      var done = false
      while (!done) {
        val tpe = in.readByte().toChar
        val len = in.readInt() - 4
        in.skipNBytes(len)
        if (tpe == 'Z') done = true
      }
    }

    threads += new Thread(() => {
      while (!stop.get()) {
        try {
          val (sock, in, out, _, _) = pgConnect()
          suspendPortal(in, out, "pab")
          sock.close() // abandon WITHOUT Close — disconnect cleanup owns it
          counts("pg_abandoned").incrementAndGet()
        } catch { case e: Throwable => noteFail(s"pg-abandon ${e.getClass.getSimpleName}: ${e.getMessage}") }
        Thread.sleep(500)
      }
    }, "soak-pg-abandon")

    threads += new Thread(() => {
      try {
        val (sock, in, out, _, _) = pgConnect()
        while (!stop.get()) {
          suspendPortal(in, out, "povr") // same name every time: overwrite path
          counts("pg_rebinds").incrementAndGet()
          Thread.sleep(200)
        }
        sock.close()
      } catch { case e: Throwable => if (!stop.get()) noteFail(s"pg-rebind ${e.getClass.getSimpleName}: ${e.getMessage}") }
    }, "soak-pg-rebind")

    // mid-flight cancellation churn: start a statement too big to finish,
    // kill it via the pg cancel protocol, verify the session answers and
    // stays usable — the leak surface is job-group bookkeeping + the
    // cancelled portal/iterator state
    threads += new Thread(() => {
      while (!stop.get()) {
        try {
          val (sock, in, out, pid, secret) = pgConnect()
          // simple query: a cross join ~4e10 combinations (minutes if left alone)
          val q = "SELECT max(a.id * b.id) FROM range(200000) a CROSS JOIN range(200000) b"
          val body = q.getBytes(UTF_8)
          out.writeByte('Q'); out.writeInt(4 + body.length + 1); out.write(body); out.writeByte(0)
          out.flush()
          Thread.sleep(300) // let the jobs start
          val s2 = new Socket("127.0.0.1", pg.boundPort)
          val o2 = new DataOutputStream(s2.getOutputStream)
          o2.writeInt(16); o2.writeInt(80877102); o2.writeInt(pid); o2.writeInt(secret)
          o2.flush(); s2.close()
          // drain to ReadyForQuery: an ErrorResponse (cancelled) or, if the
          // query won the race, its rows — either way the session answers
          sock.setSoTimeout(120000)
          var done = false
          while (!done) {
            val tpe = in.readByte().toChar
            val len = in.readInt() - 4
            in.skipNBytes(len)
            if (tpe == 'Z') done = true
          }
          // session stays usable after its cancelled statement
          val chk = "SELECT 1".getBytes(UTF_8)
          out.writeByte('Q'); out.writeInt(4 + chk.length + 1); out.write(chk); out.writeByte(0)
          out.flush()
          done = false
          var sawRow = false
          while (!done) {
            val tpe = in.readByte().toChar
            val len = in.readInt() - 4
            in.skipNBytes(len)
            if (tpe == 'D') sawRow = true
            if (tpe == 'Z') done = true
          }
          if (!sawRow) noteFail("pg-cancel: session unusable after cancel")
          sock.close()
          counts("pg_cancels").incrementAndGet()
        } catch { case e: Throwable => if (!stop.get()) noteFail(s"pg-cancel ${e.getClass.getSimpleName}: ${e.getMessage}") }
        Thread.sleep(1500)
      }
    }, "soak-pg-cancel")

    // mid-flight cancellation of WRITES: a heavy UPDATE rewrite gets a pg
    // CancelRequest while its jobs run; the commit ladder must stay
    // atomic — after the drain the table's sum is EXACTLY base or
    // base + 64*N (all rows rewrote and committed, or none did), the
    // manifest chain has no partial version, and the session still
    // answers. The abandoned attempt's parquet is the vacuum leg's food.
    threads += new Thread(() => {
      def readSum(in: DataInputStream, out: DataOutputStream): Option[Long] = {
        val q = "SELECT sum(v) AS s FROM cxl".getBytes(UTF_8)
        out.writeByte('Q'); out.writeInt(4 + q.length + 1); out.write(q); out.writeByte(0)
        out.flush()
        var done = false; var sum: Option[Long] = None
        while (!done) {
          val tpe = in.readByte().toChar
          val len = in.readInt() - 4
          if (tpe == 'D') {
            val b = new Array[Byte](len); in.readFully(b)
            val d = new DataInputStream(new java.io.ByteArrayInputStream(b))
            d.readShort() // ncols = 1
            val vlen = d.readInt()
            if (vlen > 0) {
              val vb = new Array[Byte](vlen); d.readFully(vb)
              sum = Some(new String(vb, UTF_8).toLong)
            }
          } else in.skipNBytes(len)
          if (tpe == 'Z') done = true
        }
        sum
      }
      var base = 0L
      val rows = 500000L
      while (!stop.get()) {
        try {
          val (sock, in, out, pid, secret) = pgConnect()
          sock.setSoTimeout(180000)
          // per-row sha2 over a 2 KiB repeat stretches the rewrite to
          // ~1-2 s of genuinely running tasks; the +64 is its length
          val upd = ("UPDATE cxl SET v = v + length(sha2(repeat(cast(k AS string), 256), 256))")
            .getBytes(UTF_8)
          out.writeByte('Q'); out.writeInt(4 + upd.length + 1); out.write(upd); out.writeByte(0)
          out.flush()
          Thread.sleep(300 + new scala.util.Random().nextInt(500)) // land inside the rewrite jobs
          val s2 = new Socket("127.0.0.1", pg.boundPort)
          val o2 = new DataOutputStream(s2.getOutputStream)
          o2.writeInt(16); o2.writeInt(80877102); o2.writeInt(pid); o2.writeInt(secret)
          o2.flush(); s2.close()
          var done = false
          while (!done) { // ErrorResponse (57014) or CommandComplete — either is legal
            val tpe = in.readByte().toChar
            val len = in.readInt() - 4
            in.skipNBytes(len)
            if (tpe == 'Z') done = true
          }
          readSum(in, out) match {
            case Some(s) if s == base => () // cancelled before the commit: atomic no-op
            case Some(s) if s == base + 64L * rows => // commit won the race: atomic, full
              base = s; counts("write_cancel_commits").incrementAndGet()
            case other => noteFail(s"write-cancel: NON-ATOMIC sum $other (base $base)")
          }
          sock.close()
          counts("write_cancels").incrementAndGet()
        } catch { case e: Throwable => if (!stop.get()) noteFail(s"write-cancel ${e.getClass.getSimpleName}: ${e.getMessage}") }
        Thread.sleep(2500)
      }
    }, "soak-write-cancel")

    // HTTP client that hangs up mid-stream: the response-write failure
    // must cancel the statement's jobs instead of computing for nobody
    threads += new Thread(() => {
      val abortSql = java.net.URLEncoder.encode(
        "SELECT id, sha2(repeat(cast(id AS string), 256), 256) FROM range(0, 50000000, 1, 200)", "UTF-8")
      while (!stop.get()) {
        try {
          val sock = new Socket("127.0.0.1", fe.boundPort)
          val o = sock.getOutputStream
          o.write(s"GET /q/$abortSql HTTP/1.1\r\nHost: x\r\nConnection: close\r\n\r\n".getBytes(UTF_8))
          o.flush()
          val i = sock.getInputStream
          var got = 0
          val buf = new Array[Byte](4096)
          sock.setSoTimeout(60000)
          while (got < 4096) {
            val n = i.read(buf)
            if (n < 0) got = 4096 else got += n
          }
          sock.close() // hang up mid-stream
          counts("http_aborts").incrementAndGet()
        } catch { case e: Throwable => if (!stop.get()) noteFail(s"http-abort ${e.getClass.getSimpleName}: ${e.getMessage}") }
        Thread.sleep(2000)
      }
    }, "soak-http-abort")

    // --- run + sample -------------------------------------------------------

    val samples = Seq.newBuilder[(Long, Long, Long)] // (elapsedSec, rssKb, heapUsedKb)
    val t0 = System.nanoTime()
    val all = threads.result()
    all.foreach(_.start())
    val endAt = t0 + (minutes * 60e9).toLong
    var nextGc = 0
    while (System.nanoTime() < endAt) {
      Thread.sleep(10000)
      nextGc += 1
      if (nextGc % 3 == 0) System.gc() // comparable heap numbers every 30 s
      val rt = Runtime.getRuntime
      val el = (System.nanoTime() - t0) / 1000000000L
      samples += ((el, vmRssKb(), (rt.totalMemory - rt.freeMemory) / 1024))
    }
    stop.set(true)
    all.foreach(_.join(15000))
    fe.stop(); pg.stop()

    val s = samples.result()
    def windowAvg(fromSec: Long, toSec: Long): Double = {
      val w = s.filter(x => x._1 >= fromSec && x._1 < toSec).map(_._2)
      if (w.isEmpty) -1 else w.sum.toDouble / w.size
    }
    val total = s.lastOption.map(_._1).getOrElse(0L)
    // steady window: minutes 3..6 (or first third for short runs), final
    // window: last 3 minutes
    val steadyFrom = math.min(180L, total / 3)
    val steadyTo = math.min(360L, math.max(steadyFrom + 60, 2 * total / 3))
    val steady = windowAvg(steadyFrom, steadyTo)
    val last = windowAvg(math.max(0L, total - 180), total + 1)
    val ratio = if (steady > 0) last / steady else -1
    val series = s.map { case (t, r, h) => s"""[$t,$r,$h]""" }.mkString("[", ",", "]")
    val cnt = counts.map { case (k, v) => s""""$k":${v.get}""" }.mkString(",")
    println(
      s"""{"minutes":$minutes,"readers":$readers,$cnt,"failures":${failures.get},""" +
      s""""steady_rss_kb":$steady,"last_rss_kb":$last,"last_over_steady":$ratio,""" +
      s""""flat_10pct":${ratio >= 0 && ratio <= 1.10},"samples":$series}""")
    Option(firstFailure.get).foreach(f => println(s"first failure: $f"))
    spark.stop()
    if (failures.get > 0 || ratio > 1.10) sys.exit(1)
  }
}

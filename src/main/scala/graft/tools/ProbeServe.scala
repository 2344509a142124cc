package graft.tools

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.util.concurrent.atomic.{AtomicBoolean, AtomicLong}

import graft.server.HttpFrontend
import graft.sql.GraftContext

/** Serving-tier concurrency probe: N parallel HTTP readers against a
  * concurrent writer, measuring read throughput and tail latency while
  * versions churn — the measured claim behind the lock-free snapshot-
  * session serving design (reads bind to a per-(db, generation) snapshot;
  * writers advance the generation without blocking them).
  *
  *   scripts/run.sh graft.tools.ProbeServe [readers=16] [seconds=20] [rows=10000]
  *
  * Prints one JSON line: reads, reads/sec, p50/p99 read ms, writes,
  * writes/sec — plus a second line for the conditional-GET leg: each
  * reader re-requests its last query with If-None-Match, so between
  * version commits the server answers 304 WITHOUT executing (the
  * plan-based ETag path); the writer's churn dials how often the tag
  * goes stale. Reported: 304 share and p50/p99 of the 304 responses.
  */
object ProbeServe {
  def main(args: Array[String]): Unit = {
    val readers = args.headOption.map(_.toInt).getOrElse(16)
    val seconds = args.drop(1).headOption.map(_.toInt).getOrElse(20)
    val rows = args.drop(2).headOption.map(_.toInt).getOrElse(10000)
    val spark = graft.Sessions.build(graft.Sessions.Serve)

    val dir = java.nio.file.Files.createTempDirectory("graft-serve-probe").toString
    val ctx = new GraftContext(spark, dir)
    ctx.execute("CREATE TABLE kv (k BIGINT, v DOUBLE)")
    ctx.execute(s"INSERT INTO kv SELECT id, id * 1.5 FROM range($rows)")
    val fe = new HttpFrontend(ctx, 0, writeToken = Some("tok"))
    fe.start()
    val base = s"http://127.0.0.1:${fe.boundPort}"
    val client = HttpClient.newHttpClient()

    val stop = new AtomicBoolean(false)
    val reads = new AtomicLong(0)
    val writes = new AtomicLong(0)
    val failures = new AtomicLong(0)
    val latencies = new java.util.concurrent.ConcurrentLinkedQueue[Long]()

    val firstFailure = new java.util.concurrent.atomic.AtomicReference[String](null)
    def post(path: String, body: String, token: Option[String] = None): Int = {
      val b = HttpRequest.newBuilder(URI.create(base + path))
        .POST(HttpRequest.BodyPublishers.ofString(body))
      token.foreach(t => b.header("Authorization", s"Bearer $t"))
      val resp = client.send(b.build(), HttpResponse.BodyHandlers.ofString())
      if (resp.statusCode() != 200)
        firstFailure.compareAndSet(null, s"${resp.statusCode()}: ${resp.body().take(300)}")
      resp.statusCode()
    }

    // reads ride GET /q/<query> — the reference's read surface (POST /q
    // requires the write token); distinct ranges keep every request a real
    // execution (no client cache, no If-None-Match)
    val readerThreads = (0 until readers).map { i =>
      new Thread(() => {
        val rnd = new scala.util.Random(i)
        while (!stop.get()) {
          val lo = rnd.nextInt(math.max(1, rows - 1000))
          val q = java.net.URLEncoder.encode(
            s"SELECT count(*) AS n, sum(v) AS s FROM kv WHERE k BETWEEN $lo AND ${lo + 999}",
            "UTF-8")
          val t0 = System.nanoTime()
          val resp = client.send(
            HttpRequest.newBuilder(URI.create(s"$base/q/$q")).GET().build(),
            HttpResponse.BodyHandlers.ofString())
          val dt = System.nanoTime() - t0
          if (resp.statusCode() == 200) { reads.incrementAndGet(); latencies.add(dt) }
          else {
            firstFailure.compareAndSet(null, s"${resp.statusCode()}: ${resp.body().take(300)}")
            failures.incrementAndGet()
          }
        }
      })
    }
    // conditional-GET leg: re-request the SAME query with the last ETag;
    // between commits this is a 304 answered from the plan hash alone —
    // no execution — so its latency floor is pure HTTP + planning
    val hits304 = new AtomicLong(0)
    val miss304 = new AtomicLong(0)
    val lat304 = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val condThreads = (0 until math.max(1, readers / 4)).map { i =>
      new Thread(() => {
        val rnd = new scala.util.Random(1000 + i)
        val lo = rnd.nextInt(math.max(1, rows - 1000))
        val uri = URI.create(s"$base/q/" + java.net.URLEncoder.encode(
          s"SELECT count(*) AS n, sum(v) AS s FROM kv WHERE k BETWEEN $lo AND ${lo + 999}",
          "UTF-8"))
        var etag: String = null
        while (!stop.get()) {
          val b = HttpRequest.newBuilder(uri).GET()
          if (etag != null) b.header("If-None-Match", etag)
          val t0 = System.nanoTime()
          val resp = client.send(b.build(), HttpResponse.BodyHandlers.ofString())
          val dt = System.nanoTime() - t0
          resp.statusCode() match {
            case 304 => hits304.incrementAndGet(); lat304.add(dt)
            case 200 =>
              miss304.incrementAndGet()
              etag = resp.headers().firstValue("ETag").orElse(null)
            case c =>
              firstFailure.compareAndSet(null, s"$c: ${resp.body().take(300)}")
              failures.incrementAndGet()
          }
        }
      })
    }
    val writerThread = new Thread(() => {
      var i = 0
      while (!stop.get()) {
        val code = post("/q",
          s"""{"query": "INSERT INTO kv VALUES (${100000 + i}, $i.5)"}""", Some("tok"))
        if (code == 200) writes.incrementAndGet() else failures.incrementAndGet()
        i += 1
      }
    })

    val t0 = System.nanoTime()
    readerThreads.foreach(_.start()); condThreads.foreach(_.start()); writerThread.start()
    Thread.sleep(seconds * 1000L)
    stop.set(true)
    readerThreads.foreach(_.join(10000)); condThreads.foreach(_.join(10000))
    writerThread.join(10000)
    val wallS = (System.nanoTime() - t0) / 1e9

    def pctOf(q: java.util.concurrent.ConcurrentLinkedQueue[Long])(p: Double): Double = {
      val lat = q.toArray(Array.empty[java.lang.Long]).map(_.toLong).sorted
      if (lat.isEmpty) -1 else lat(math.min(lat.length - 1, (p * lat.length).toInt)) / 1e6
    }
    val pct = pctOf(latencies) _
    println(
      s"""{"readers":$readers,"rows":$rows,"seconds":$wallS,"reads":${reads.get()},""" +
      s""""reads_per_sec":${reads.get() / wallS},"read_p50_ms":${pct(0.5)},""" +
      s""""read_p99_ms":${pct(0.99)},"writes":${writes.get()},""" +
      s""""writes_per_sec":${writes.get() / wallS},"failures":${failures.get()}}""")
    val p304 = pctOf(lat304) _
    val tot304 = hits304.get() + miss304.get()
    println(
      s"""{"cond_readers":${condThreads.size},"cond_requests":$tot304,""" +
      s""""hits_304":${hits304.get()},"share_304":${if (tot304 == 0) -1 else hits304.get().toDouble / tot304},""" +
      s""""p50_304_ms":${p304(0.5)},"p99_304_ms":${p304(0.99)}}""")
    Option(firstFailure.get()).foreach(f => println(s"first failure: $f"))

    // --- fairness leg: one monster scan vs 6 floor readers ------------------
    // Job groups isolate cancellation, not scheduling: under the default
    // FIFO root one heavy scan's task waves queue every floor query behind
    // them until the scan drains (floor p99 ≈ remaining monster runtime).
    // With spark.scheduler.mode=FAIR + Statements' per-statement pools,
    // FAIR round-robins freed task slots across pools, so the floor rides
    // between the monster's task completions (p99 ≈ a task duration).
    // Run with SPARK_GRAFT_CONF=spark.scheduler.mode=FIFO to record the number FAIR beats.
    def floorRun(secs: Long): (Long, Double, Double) = {
      val lats = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
      val n = new AtomicLong(0)
      val fstop = new AtomicBoolean(false)
      val ts = (0 until 6).map { i =>
        new Thread(() => {
          val rnd = new scala.util.Random(77 + i)
          while (!fstop.get()) {
            val lo = rnd.nextInt(math.max(1, rows - 1000))
            val q = java.net.URLEncoder.encode(
              s"SELECT count(*) AS n, sum(v) AS s FROM kv WHERE k BETWEEN $lo AND ${lo + 999}",
              "UTF-8")
            val tq = System.nanoTime()
            val resp = client.send(
              HttpRequest.newBuilder(URI.create(s"$base/q/$q")).GET().build(),
              HttpResponse.BodyHandlers.ofString())
            if (resp.statusCode() == 200) { n.incrementAndGet(); lats.add(System.nanoTime() - tq) }
            else firstFailure.compareAndSet(null, s"floor ${resp.statusCode()}: ${resp.body().take(200)}")
          }
        })
      }
      ts.foreach(_.start()); Thread.sleep(secs * 1000L); fstop.set(true); ts.foreach(_.join(10000))
      (n.get(), pctOf(lats)(0.5), pctOf(lats)(0.99))
    }
    Thread.sleep(2000) // let the main legs' last aborted jobs drain
    val (idleN, idleP50, idleP99) = floorRun(8)
    // ~2000 short CPU-bound tasks: enough waves that FIFO visibly starves
    // the floor while FAIR lets it through per wave. Allocation-free
    // arithmetic (not string hashing) — an allocation-heavy monster's GC
    // pauses would smear the floor tail in ANY scheduling mode and mask
    // what this leg measures
    val monsterSec = new AtomicLong(0)
    val monster = new Thread(() => {
      val q = java.net.URLEncoder.encode(
        // products stay < 1e12: no ANSI overflow on the 4e11-row scan
        "SELECT max((id % 999983) * (id % 1000003)) AS m " +
          "FROM range(0, 400000000000, 1, 2000)", "UTF-8")
      val tq = System.nanoTime()
      val r = client.send(HttpRequest.newBuilder(URI.create(s"$base/q/$q")).GET().build(),
        HttpResponse.BodyHandlers.ofString())
      monsterSec.set((System.nanoTime() - tq) / 1000000000L)
      if (r.statusCode() != 200)
        firstFailure.compareAndSet(null, s"monster ${r.statusCode()}: ${r.body().take(200)}")
    })
    monster.start()
    Thread.sleep(1500) // let the monster's waves occupy the scheduler
    val (contN, contP50, contP99) = floorRun(8)
    monster.join(300000)
    val mode = spark.sparkContext.getConf.get("spark.scheduler.mode", "FIFO")
    println(
      s"""{"fairness_leg":{"scheduler":"$mode","floor_idle_reads":$idleN,""" +
      s""""floor_idle_p50_ms":$idleP50,"floor_idle_p99_ms":$idleP99,""" +
      s""""floor_contended_reads":$contN,"floor_contended_p50_ms":$contP50,""" +
      s""""floor_contended_p99_ms":$contP99,"monster_sec":${monsterSec.get()}}}""")
    Option(firstFailure.get()).foreach(f => println(s"first failure: $f"))
    fe.stop()
    spark.stop()
  }
}

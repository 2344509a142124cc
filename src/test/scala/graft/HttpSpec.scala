package graft

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets.UTF_8

import graft.server.HttpFrontend
import graft.sql.GraftContext

/** HTTP e2e, mirroring the reference's warp harness tests
  * (`tests/http/mod.rs`): query round-trip with explicit-null JSON-lines,
  * cache semantics (ETag stability, 304 on If-None-Match, ETag change
  * after writes), hash-form GET with verification, auth matrix,
  * multi-statement rules, uploads, CDC sync over HTTP.
  */
class HttpSpec extends SparkSpec {

  private lazy val ctx = new GraftContext(spark, tmpDir("graft-http"))
  // syncMaxBatches = 1: merge every sync POST immediately, so the CDC
  // tests below read their own writes; buffering is exercised separately
  private lazy val fe = new HttpFrontend(ctx, 0, writeToken = Some("w0bble"),
    syncMaxBatches = 1)
  private lazy val base: String = { fe.start(); s"http://127.0.0.1:${fe.boundPort}" }
  private val client = HttpClient.newHttpClient()

  private def post(path: String, body: String, headers: (String, String)*): HttpResponse[String] = {
    val b = HttpRequest.newBuilder(URI.create(base + path))
      .POST(HttpRequest.BodyPublishers.ofString(body, UTF_8))
    headers.foreach { case (k, v) => b.header(k, v) }
    client.send(b.build(), HttpResponse.BodyHandlers.ofString())
  }
  private def get(path: String, headers: (String, String)*): HttpResponse[String] = {
    val b = HttpRequest.newBuilder(URI.create(base + path)).GET()
    headers.foreach { case (k, v) => b.header(k, v) }
    client.send(b.build(), HttpResponse.BodyHandlers.ofString())
  }
  private val auth = "Authorization" -> "Bearer w0bble"

  test("POST /q executes writes and returns explicit-null JSON-lines") {
    val r = post("/q",
      """CREATE TABLE t (a BIGINT, b VARCHAR);
        |INSERT INTO t VALUES (1, 'x'), (2, NULL);
        |SELECT * FROM t ORDER BY a""".stripMargin, auth)
    assert(r.statusCode() === 200)
    assert(r.body() === "{\"a\":1,\"b\":\"x\"}\n{\"a\":2,\"b\":null}\n")
    assert(r.headers().firstValue("X-Graft-Query-Time").isPresent)
  }

  test("engine text functions execute over POST /q") {
    val r = post("/q",
      "SELECT simhash64('the quick fox') AS sh, token_counts('ab 12 cd!')[1] AS re", auth)
    assert(r.statusCode() === 200)
    val body = r.body()
    assert(body.contains("\"re\":4"), body)
    assert("\"sh\":\"[0-9a-f]{16}\"".r.findFirstIn(body).isDefined, body)
    // and on the GET path, whose reads run on per-generation SNAPSHOT
    // sessions — function registration must survive the session clone
    val g = get("/q/" + java.net.URLEncoder.encode(
      "SELECT token_counts('ab 12 cd!')[1] AS re", UTF_8))
    assert(g.statusCode() === 200, g.body())
    assert(g.body().contains("\"re\":4"), g.body())
  }

  test("write without token is 401; read path is anonymous") {
    assert(post("/q", "CREATE TABLE nope (a BIGINT)").statusCode() === 401)
    val r = get("/q/" + java.net.URLEncoder.encode("SELECT 1 AS one", UTF_8))
    assert(r.statusCode() === 200)
    assert(r.body() === "{\"one\":1}\n")
  }

  test("multi-statement: read must be the last statement") {
    val r = post("/q", "SELECT * FROM t; INSERT INTO t VALUES (3, 'y')", auth)
    assert(r.statusCode() === 400)
  }

  test("GET /q is read-only") {
    val r = get("/q/" + java.net.URLEncoder.encode("DROP TABLE t", UTF_8))
    assert(r.statusCode() === 405)
  }

  test("ETag: stable across reads, 304 on If-None-Match, changes on write") {
    val q = java.net.URLEncoder.encode("SELECT COUNT(*) AS n FROM t", UTF_8)
    val r1 = get("/q/" + q)
    assert(r1.statusCode() === 200)
    val etag = r1.headers().firstValue("ETag").get
    assert(r1.headers().firstValue("Cache-Control").get.contains("max-age=43200"))
    val r2 = get("/q/" + q, "If-None-Match" -> etag)
    assert(r2.statusCode() === 304)
    post("/q", "INSERT INTO t VALUES (10, 'z')", auth)
    val r3 = get("/q/" + q, "If-None-Match" -> etag)
    assert(r3.statusCode() === 200) // table version moved → new content
    assert(r3.headers().firstValue("ETag").get !== etag)
  }

  test("RESTORE and SHALLOW CLONE ride POST /q; RESTORE invalidates cached reads") {
    post("/q", "CREATE TABLE rst (id BIGINT)", auth)
    post("/q", "INSERT INTO rst VALUES (1), (2)", auth)  // v1
    post("/q", "DELETE FROM rst WHERE id = 2", auth)     // v2
    val q = java.net.URLEncoder.encode("SELECT COUNT(*) AS n FROM rst", UTF_8)
    val r1 = get("/q/" + q)
    assert(r1.body().contains("\"n\":1"))
    val etag = r1.headers().firstValue("ETag").get
    assert(get("/q/" + q, "If-None-Match" -> etag).statusCode() === 304)
    // rollback over the serving path: a NEW version → the plan-based
    // fingerprint moves → cached 304s stop, fresh content returns
    post("/q", "RESTORE TABLE rst TO VERSION AS OF 1", auth)
    val r2 = get("/q/" + q, "If-None-Match" -> etag)
    assert(r2.statusCode() === 200)
    assert(r2.body().contains("\"n\":2"))
    // zero-copy clone is immediately readable on the lock-free path
    post("/q", "CREATE TABLE rst2 SHALLOW CLONE rst", auth)
    val r3 = get("/q/" + java.net.URLEncoder.encode("SELECT COUNT(*) AS n FROM rst2", UTF_8))
    assert(r3.body().contains("\"n\":2"))
  }

  test("ETag of a table_changes read goes stale when a version commits") {
    post("/q", "CREATE TABLE cdf (a BIGINT); INSERT INTO cdf VALUES (1)", auth)
    val q = java.net.URLEncoder.encode(
      "SELECT _change_type, a FROM table_changes('cdf', 0) ORDER BY a", UTF_8)
    val r1 = get("/q/" + q)
    assert(r1.statusCode() === 200)
    val etag = r1.headers().firstValue("ETag").get
    assert(get("/q/" + q, "If-None-Match" -> etag).statusCode() === 304)
    post("/q", "INSERT INTO cdf VALUES (2)", auth)
    // the feed's content grew: the cached entity MUST be stale
    val r3 = get("/q/" + q, "If-None-Match" -> etag)
    assert(r3.statusCode() === 200)
    assert(r3.headers().firstValue("ETag").get !== etag)
    assert(r3.body().contains("\"a\":2"))
  }

  test("GET hash form verifies the sha256 of the query") {
    val sql = "SELECT 2 AS two"
    val hash = java.security.MessageDigest.getInstance("SHA-256")
      .digest(sql.getBytes(UTF_8)).map(b => f"$b%02x").mkString
    val ok = get(s"/q/$hash", "X-Graft-Query" -> sql)
    assert(ok.statusCode() === 200 && ok.body() === "{\"two\":2}\n")
    val bad = get(s"/q/$hash", "X-Graft-Query" -> "SELECT 3 AS two")
    assert(bad.statusCode() === 400)
  }

  test("upload CSV creates and appends a table") {
    val csv = "id,name\n1,ann\n2,bo\n"
    val r = post("/upload/public/people", csv, auth, "Content-Type" -> "text/csv")
    assert(r.statusCode() === 200)
    val q = get("/q/" + java.net.URLEncoder.encode("SELECT COUNT(*) AS n FROM people", UTF_8))
    assert(q.body() === "{\"n\":2}\n")
    post("/upload/public/people", csv, auth, "Content-Type" -> "text/csv")
    val q2 = get("/q/" + java.net.URLEncoder.encode("SELECT COUNT(*) AS n FROM people", UTF_8))
    assert(q2.body() === "{\"n\":4}\n")
  }

  test("CDC sync over HTTP: insert, update with changed flags, delete, pk move") {
    post("/q", "CREATE TABLE acc (id BIGINT, bal DOUBLE, tag VARCHAR)", auth)
    // inserts (append-only fast path)
    val ins = Seq(
      """{"old_id":null,"new_id":1,"bal":10.0,"tag":"a","_seq":1}""",
      """{"old_id":null,"new_id":2,"bal":20.0,"tag":"b","_seq":2}""").mkString("\n")
    val r1 = post("/sync/public/acc?pk=id&values=bal,tag", ins, auth)
    assert(r1.statusCode() === 200, r1.body())
    // update id=1 bal only (tag Changed=false keeps base), delete id=2,
    // move id 1 -> 5? keep simple: plain update + delete
    val upd = Seq(
      """{"old_id":1,"new_id":1,"bal":11.5,"tag":"IGNORED","changed_bal":true,"changed_tag":false,"_seq":3}""",
      """{"old_id":2,"new_id":null,"bal":null,"tag":null,"_seq":4}""").mkString("\n")
    val r2 = post("/sync/public/acc?pk=id&values=bal,tag", upd, auth)
    assert(r2.statusCode() === 200, r2.body())
    val q = get("/q/" + java.net.URLEncoder.encode("SELECT id, bal, tag FROM acc ORDER BY id", UTF_8))
    assert(q.body() === "{\"id\":1,\"bal\":11.5,\"tag\":\"a\"}\n")
    // pk-changing update: 1 -> 7
    val mv = """{"old_id":1,"new_id":7,"bal":99.0,"tag":"moved","_seq":5}"""
    post("/sync/public/acc?pk=id&values=bal,tag", mv, auth)
    val q2 = get("/q/" + java.net.URLEncoder.encode("SELECT id, bal, tag FROM acc ORDER BY id", UTF_8))
    assert(q2.body() === "{\"id\":7,\"bal\":99.0,\"tag\":\"moved\"}\n")
  }

  test("CDC sync: a pure-delete batch (no value payload anywhere) merges cleanly") {
    // read.json drops keys that are null in EVERY row, so a delete-only
    // batch arrives with NO value columns at all — SyncMerge must
    // materialize the missing role columns instead of failing resolution
    // (caught by the CDC-vs-DML differential fuzz, seed 502)
    post("/q", "CREATE TABLE puredel (id BIGINT, bal DOUBLE, tag VARCHAR)", auth)
    val ins = Seq(
      """{"old_id":null,"new_id":1,"bal":10.0,"tag":"a","_seq":1}""",
      """{"old_id":null,"new_id":2,"bal":20.0,"tag":"b","_seq":2}""",
      """{"old_id":null,"new_id":3,"bal":30.0,"tag":"c","_seq":3}""").mkString("\n")
    assert(post("/sync/public/puredel?pk=id&values=bal,tag", ins, auth).statusCode() === 200)
    val del = Seq(
      """{"old_id":1,"new_id":null,"bal":null,"tag":null,"_seq":4}""",
      """{"old_id":3,"new_id":null,"bal":null,"tag":null,"_seq":5}""").mkString("\n")
    val r = post("/sync/public/puredel?pk=id&values=bal,tag", del, auth)
    assert(r.statusCode() === 200, r.body())
    val q = get("/q/" + java.net.URLEncoder.encode(
      "SELECT id, bal, tag FROM puredel ORDER BY id", UTF_8))
    assert(q.body() === "{\"id\":2,\"bal\":20.0,\"tag\":\"b\"}\n")
  }

  test("oversized uploads are rejected with 413") {
    val tiny = new HttpFrontend(ctx, 0, writeToken = Some("w0bble"), maxUploadBytes = 16)
    tiny.start()
    try {
      val b = HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:${tiny.boundPort}/upload/public/big"))
        .header("Authorization", "Bearer w0bble").header("Content-Type", "text/csv")
        .POST(HttpRequest.BodyPublishers.ofString("a,b\n" + "x,y\n" * 100, UTF_8))
      val r = client.send(b.build(), HttpResponse.BodyHandlers.ofString())
      assert(r.statusCode() === 413, r.body())
    } finally tiny.stop()
  }

  test("POST /q/<db> scopes statements to that database") {
    post("/q", "CREATE DATABASE hdb", auth)
    val r = post("/q/hdb", "CREATE TABLE only_here (a BIGINT); INSERT INTO only_here VALUES (7); SELECT * FROM only_here", auth)
    assert(r.statusCode() === 200 && r.body() === "{\"a\":7}\n", r.body())
    // not visible from the default database
    val miss = post("/q", "SELECT * FROM only_here", auth)
    assert(miss.statusCode() != 200)
  }

  test("concurrent db-prefixed requests never cross-contaminate") {
    post("/q", "CREATE DATABASE cc1; CREATE TABLE marker (v BIGINT); INSERT INTO marker VALUES (0)", auth)
    post("/q/cc1", "CREATE TABLE marker (v BIGINT); INSERT INTO marker VALUES (1)", auth)
    // hammer both scopes from parallel threads; every response must carry
    // its own database's marker value
    import java.util.concurrent.Executors
    val pool = Executors.newFixedThreadPool(8)
    val futures = (0 until 40).map { i =>
      val db = if (i % 2 == 0) "" else "/cc1"
      val want = if (i % 2 == 0) "0" else "1"
      pool.submit(new java.util.concurrent.Callable[Boolean] {
        def call(): Boolean = {
          val r = post(s"/q$db", "SELECT v FROM marker", auth)
          r.statusCode() == 200 && r.body().trim == s"""{"v":$want}"""
        }
      })
    }
    pool.shutdown()
    assert(futures.forall(_.get()), "a request observed another database's data")
  }

  test("concurrent reads overlap: no global serving lock on the read path") {
    // a wall-clock-bound (CPU-free) slow function makes the overlap
    // measurement deterministic: CPU-bound probes fluctuate 2x on this
    // box, sleeps don't. Registered on the root session BEFORE the next
    // catalog generation so read snapshots inherit it.
    import org.apache.spark.sql.functions.udf
    spark.udf.register("sleepy",
      udf((ms: Long) => { Thread.sleep(ms); ms }).asNondeterministic())
    post("/q", "CREATE TABLE poke_gen (a BIGINT)", auth) // bump generation
    val q = "/q/" + java.net.URLEncoder.encode("SELECT sleepy(1200) AS s", UTF_8)
    assert(get(q).statusCode() === 200) // warm: snapshot build + plan
    val t0 = System.nanoTime()
    assert(get(q).statusCode() === 200)
    val single = (System.nanoTime() - t0) / 1e9
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    val t1 = System.nanoTime()
    val fs = (0 until 2).map(_ => pool.submit(new java.util.concurrent.Callable[Int] {
      def call(): Int = get(q).statusCode()
    }))
    assert(fs.forall(_.get() == 200))
    val both = (System.nanoTime() - t1) / 1e9
    pool.shutdown()
    // a globally-locked server serializes the two 1.2 s sleeps (both ≥
    // 2.4 s); concurrent serving runs them together (both ≈ single)
    assert(both < single + 0.8,
      f"two concurrent reads took $both%.2f s vs $single%.2f s single — reads are serialized")
  }

  test("staging external tables are visible to the lock-free read path") {
    val f = java.nio.file.Files.createTempFile("graft-staging", ".csv")
    java.nio.file.Files.writeString(f, "k,v\n1,a\n2,b\n")
    val r = post("/q", s"CREATE EXTERNAL TABLE sx STORED AS CSV LOCATION '$f'", auth)
    assert(r.statusCode() === 200, r.body())
    // GET runs on a snapshot session — the staging view must be there too
    val q = get("/q/" + java.net.URLEncoder.encode("SELECT COUNT(*) AS n FROM staging.sx", UTF_8))
    assert(q.statusCode() === 200 && q.body() === "{\"n\":2}\n", q.body())
  }

  test("plan-based ETag: string literals don't pollute the fingerprint") {
    post("/q", "CREATE TABLE ett (a BIGINT); INSERT INTO ett VALUES (1)", auth)
    // the table name appears ONLY inside a string literal — the regex
    // fingerprint would tie this query's cache entry to ett's version
    val q = "/q/" + java.net.URLEncoder.encode("SELECT 'ett' AS s", UTF_8)
    val e1 = get(q).headers().firstValue("ETag").get
    post("/q", "INSERT INTO ett VALUES (2)", auth)
    assert(get(q).headers().firstValue("ETag").get === e1,
      "a write to ett moved the ETag of a query that never scans ett")
    assert(get(q, "If-None-Match" -> e1).statusCode() === 304)
  }

  test("plan-based ETag: time travel pins its as-of version across writes") {
    post("/q", "CREATE TABLE tt_pin (a BIGINT); INSERT INTO tt_pin VALUES (1)", auth)
    Thread.sleep(5) // commit timestamps have ms granularity
    val ts = java.time.Instant.now().toString
    val q = "/q/" + java.net.URLEncoder.encode(
      s"SELECT count(*) AS n FROM tt_pin('$ts')", UTF_8)
    val r1 = get(q)
    val e1 = r1.headers().firstValue("ETag").get
    assert(r1.body() === "{\"n\":1}\n")
    post("/q", "INSERT INTO tt_pin VALUES (2)", auth)
    // the pinned version didn't move, so the cache entry is still fresh
    val r2 = get(q, "If-None-Match" -> e1)
    assert(r2.statusCode() === 304,
      s"time-travel read must keep its as-of ETag across later writes, got ${r2.statusCode()}")
    // while an un-pinned read of the same table DID move
    val live = "/q/" + java.net.URLEncoder.encode("SELECT count(*) AS n FROM tt_pin", UTF_8)
    assert(get(live).body() === "{\"n\":2}\n")
  }

  test("CDC buffering: chained changes across buffered batches squash correctly") {
    post("/q", "CREATE TABLE cht (id BIGINT, v DOUBLE, tag VARCHAR)", auth)
    val cfe = new HttpFrontend(ctx, 0, writeToken = Some("w0bble"),
      syncMaxRows = 1000000, syncMaxBatches = 64, syncMaxAgeMs = 600000)
    cfe.start()
    val cbase = s"http://127.0.0.1:${cfe.boundPort}"
    def cpost(body: String): Unit = {
      val b = HttpRequest.newBuilder(URI.create(cbase + "/sync/public/cht?pk=id&values=v,tag"))
        .POST(HttpRequest.BodyPublishers.ofString(body, UTF_8))
        .header("Authorization", "Bearer w0bble")
      assert(client.send(b.build(), HttpResponse.BodyHandlers.ofString()).statusCode() === 200)
    }
    try {
      val root = ctx.catalog.tableRoot(ctx.catalog.getTable("default", "public", "cht").get)
      val v0 = graft.lake.Manifest.listVersions(root).size
      // chain A: insert then update with changed_tag=false — the resolved
      // row must keep the INSERT's tag, not the update's placeholder
      cpost("""{"old_id":null,"new_id":1,"v":1.0,"tag":"a","_seq":1}""")
      cpost("""{"old_id":1,"new_id":1,"v":2.0,"tag":"JUNK","changed_v":true,"changed_tag":false,"_seq":1}""")
      // chain B: PK moves 10 -> 11 -> 12 across three batches — only the
      // final identity may exist
      cpost("""{"old_id":null,"new_id":10,"v":5.0,"tag":"m","_seq":1}""")
      cpost("""{"old_id":10,"new_id":11,"v":6.0,"tag":"m","_seq":1}""")
      cpost("""{"old_id":11,"new_id":12,"v":7.0,"tag":"m","_seq":1}""")
      // chain C: insert then delete — a no-op
      cpost("""{"old_id":null,"new_id":20,"v":9.0,"tag":"x","_seq":1}""")
      cpost("""{"old_id":20,"new_id":null,"v":null,"tag":null,"_seq":1}""")
      cfe.flushSync()
      assert(graft.lake.Manifest.listVersions(root).size === v0 + 1, "one commit for the queue")
      val got = get("/q/" + java.net.URLEncoder.encode("SELECT id, v, tag FROM cht ORDER BY id", UTF_8))
      assert(got.body() ===
        "{\"id\":1,\"v\":2.0,\"tag\":\"a\"}\n{\"id\":12,\"v\":7.0,\"tag\":\"m\"}\n", got.body())
      // changed=false against a FLUSHED base row keeps the base's value
      cpost("""{"old_id":12,"new_id":12,"v":8.0,"tag":"IGNORED","changed_v":true,"changed_tag":false,"_seq":1}""")
      cfe.flushSync()
      val got2 = get("/q/" + java.net.URLEncoder.encode("SELECT v, tag FROM cht WHERE id = 12", UTF_8))
      assert(got2.body() === "{\"v\":8.0,\"tag\":\"m\"}\n", got2.body())
    } finally cfe.stop()
  }

  test("CDC buffering: an aged batch flushes without further traffic") {
    post("/q", "CREATE TABLE age_t (id BIGINT, v DOUBLE)", auth)
    val afe = new HttpFrontend(ctx, 0, writeToken = Some("w0bble"),
      syncMaxRows = 1000000, syncMaxBatches = 64, syncMaxAgeMs = 300)
    afe.start()
    try {
      val b = HttpRequest.newBuilder(
          URI.create(s"http://127.0.0.1:${afe.boundPort}/sync/public/age_t?pk=id&values=v"))
        .POST(HttpRequest.BodyPublishers.ofString(
          """{"old_id":null,"new_id":1,"v":7.0,"_seq":1}""", UTF_8))
        .header("Authorization", "Bearer w0bble")
      val r = client.send(b.build(), HttpResponse.BodyHandlers.ofString())
      assert(r.body().contains("\"buffered\":true"), r.body())
      // the periodic sweep (every maxAgeMs/2) must commit it unprompted
      val deadline = System.currentTimeMillis + 10000
      var rows = Seq.empty[String]
      while (rows.isEmpty && System.currentTimeMillis < deadline) {
        Thread.sleep(200)
        rows = get("/q/" + java.net.URLEncoder.encode("SELECT v FROM age_t", UTF_8))
          .body().linesIterator.toSeq.filter(_.nonEmpty)
      }
      assert(rows === Seq("{\"v\":7.0}"), s"aged batch never flushed: $rows")
    } finally afe.stop()
  }

  test("Accept: arrow.stream returns a readable Arrow IPC stream") {
    post("/q", "CREATE TABLE arrow_t (id BIGINT, name TEXT, score DOUBLE)", auth)
    post("/q", "INSERT INTO arrow_t VALUES (1, 'a', 1.5), (2, 'b', NULL), (3, NULL, 2.5)", auth)
    val mime = "application/vnd.apache.arrow.stream"
    val r = get("/q/" + java.net.URLEncoder.encode(
      "SELECT id, name, score FROM arrow_t ORDER BY id", UTF_8), "Accept" -> mime)
    assert(r.statusCode() === 200)
    assert(r.headers().firstValue("Content-Type").orElse("") === mime)
    // decode with the classpath arrow-vector reader — the same library
    // pyarrow/ADBC clients use
    val bytes = client.send(HttpRequest.newBuilder(URI.create(base + "/q/" +
        java.net.URLEncoder.encode("SELECT id, name, score FROM arrow_t ORDER BY id", UTF_8)))
      .GET().header("Accept", mime).build(),
      HttpResponse.BodyHandlers.ofByteArray()).body()
    val alloc = new org.apache.arrow.memory.RootAllocator()
    val reader = new org.apache.arrow.vector.ipc.ArrowStreamReader(
      new java.io.ByteArrayInputStream(bytes), alloc)
    try {
      val rows = scala.collection.mutable.ArrayBuffer[(Long, String, Option[Double])]()
      while (reader.loadNextBatch()) {
        val root = reader.getVectorSchemaRoot
        val id = root.getVector("id").asInstanceOf[org.apache.arrow.vector.BigIntVector]
        val nm = root.getVector("name").asInstanceOf[org.apache.arrow.vector.VarCharVector]
        val sc = root.getVector("score").asInstanceOf[org.apache.arrow.vector.Float8Vector]
        for (i <- 0 until root.getRowCount)
          rows += ((id.get(i),
            if (nm.isNull(i)) null else new String(nm.get(i), UTF_8),
            if (sc.isNull(i)) None else Some(sc.get(i))))
      }
      assert(rows.toSeq === Seq((1L, "a", Some(1.5)), (2L, "b", None), (3L, null, Some(2.5))))
    } finally { reader.close(); alloc.close() }
    // JSON stays the default representation
    val j = get("/q/" + java.net.URLEncoder.encode("SELECT id FROM arrow_t WHERE id = 1", UTF_8))
    assert(j.headers().firstValue("Content-Type").orElse("").contains("application/json"))
  }

  test("Arrow IPC upload creates and appends a table (do_put parity)") {
    import spark.implicits._
    val mime = "application/vnd.apache.arrow.stream"
    // produce a standard IPC stream via the serving encoder (round-trip:
    // what a pyarrow client would send)
    val bos = new java.io.ByteArrayOutputStream()
    org.apache.spark.sql.GraftArrow.writeIpcStream(
      Seq((10L, "x"), (11L, "y")).toDF("id", "name"), bos)
    def put(): HttpResponse[String] = client.send(
      HttpRequest.newBuilder(URI.create(base + "/upload/public/arrow_up"))
        .POST(HttpRequest.BodyPublishers.ofByteArray(bos.toByteArray))
        .header("Authorization", "Bearer w0bble").header("Content-Type", mime).build(),
      HttpResponse.BodyHandlers.ofString())
    assert(put().statusCode() === 200) // creates the table from the stream schema
    assert(put().statusCode() === 200) // appends
    val rows = get("/q/" + java.net.URLEncoder.encode(
      "SELECT id, name FROM arrow_up ORDER BY id, name", UTF_8)).body()
      .linesIterator.toSeq.filter(_.nonEmpty)
    assert(rows === Seq(
      "{\"id\":10,\"name\":\"x\"}", "{\"id\":10,\"name\":\"x\"}",
      "{\"id\":11,\"name\":\"y\"}", "{\"id\":11,\"name\":\"y\"}"), rows)
  }

  test("CDC sync accepts Arrow IPC change batches (do_put parity)") {
    post("/q", "CREATE TABLE arrsync_t (id BIGINT, v DOUBLE)", auth)
    val mime = "application/vnd.apache.arrow.stream"
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("old_id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("new_id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("v", org.apache.spark.sql.types.DoubleType)))
    val batch = spark.createDataFrame(java.util.List.of(
      org.apache.spark.sql.Row(null, java.lang.Long.valueOf(1L), java.lang.Double.valueOf(5.0)),
      org.apache.spark.sql.Row(null, java.lang.Long.valueOf(2L), java.lang.Double.valueOf(6.0))),
      schema)
    val bos = new java.io.ByteArrayOutputStream()
    org.apache.spark.sql.GraftArrow.writeIpcStream(batch, bos)
    val r = client.send(HttpRequest.newBuilder(
        URI.create(base + "/sync/public/arrsync_t?pk=id&values=v"))
      .POST(HttpRequest.BodyPublishers.ofByteArray(bos.toByteArray))
      .header("Authorization", "Bearer w0bble").header("Content-Type", mime).build(),
      HttpResponse.BodyHandlers.ofString())
    assert(r.statusCode() === 200, r.body())
    val rows = get("/q/" + java.net.URLEncoder.encode(
      "SELECT id, v FROM arrsync_t ORDER BY id", UTF_8)).body()
      .linesIterator.toSeq.filter(_.nonEmpty)
    assert(rows === Seq("{\"id\":1,\"v\":5.0}", "{\"id\":2,\"v\":6.0}"), rows)
  }

  test("background GC sweep age-guards fresh manifests; explicit VACUUM prunes now") {
    // The sweep contract after the chain-rewind fix (GraftTable.WriterGraceMs):
    // a BACKGROUND sweep must NOT delete a version manifest superseded more
    // recently than the writer-grace floor — deleting one reopens its version
    // slot for create-if-absent, and a writer anchored before that version
    // could commit into the hole, forking the chain (real data loss, caught
    // by the round-17 cross-process soak). Explicit VACUUM TABLE keeps the
    // reference's delete-immediately behavior.
    post("/q", "CREATE TABLE gc_t (id BIGINT)", auth)
    post("/q", "INSERT INTO gc_t VALUES (1); INSERT INTO gc_t VALUES (2)", auth)
    val root = ctx.catalog.tableRoot(
      ctx.catalog.getTable("default", "public", "gc_t").get)
    assert(graft.lake.Manifest.listVersions(root).size >= 3) // v0 + 2 inserts
    val gfe = new HttpFrontend(ctx, 0, writeToken = Some("w0bble"),
      gcIntervalMs = 200, gcGraceMs = 0)
    gfe.start()
    try {
      // Arm 1: let several sweep intervals elapse; the just-written
      // superseded manifests are younger than WriterGraceMs, so the
      // background sweep must retain ALL of them.
      Thread.sleep(1200)
      assert(graft.lake.Manifest.listVersions(root).size >= 3,
        "background sweep deleted a manifest inside the writer-grace window")
      // Arm 2: explicit VACUUM TABLE is the operator's informed choice and
      // prunes immediately (age 0), leaving only the retained tip; the
      // table still reads correctly afterwards.
      post("/q", "VACUUM TABLE gc_t", auth)
      assert(graft.lake.Manifest.listVersions(root).size === 1)
      val rows = get("/q/" + java.net.URLEncoder.encode(
        "SELECT count(*) AS n FROM gc_t", UTF_8)).body()
      assert(rows.contains("\"n\":2"), rows)
    } finally gfe.stop()
  }

  test("CDC origin sequence watermarks make redelivery idempotent") {
    post("/q", "CREATE TABLE seqd (id BIGINT, v DOUBLE)", auth)
    val b1 = """{"old_id":null,"new_id":1,"v":1.0,"_seq":1}"""
    val r1 = post("/sync/public/seqd?pk=id&values=v&origin=cdc1&seq=10", b1, auth)
    assert(r1.statusCode() === 200 && r1.body().contains("\"durable_seq\":10"), r1.body())
    // redelivery of the same (or older) sequence is acknowledged, not applied
    val dup = """{"old_id":null,"new_id":1,"v":999.0,"_seq":1}"""
    val r2 = post("/sync/public/seqd?pk=id&values=v&origin=cdc1&seq=10", dup, auth)
    assert(r2.body().contains("\"skipped\":true"), r2.body())
    val q = get("/q/" + java.net.URLEncoder.encode("SELECT id, v FROM seqd ORDER BY id", UTF_8))
    assert(q.body() === "{\"id\":1,\"v\":1.0}\n") // 999.0 replay NOT applied
    // a later sequence applies and advances the watermark
    val b2 = """{"old_id":1,"new_id":1,"v":2.0,"_seq":2}"""
    val r3 = post("/sync/public/seqd?pk=id&values=v&origin=cdc1&seq=11", b2, auth)
    assert(r3.body().contains("\"durable_seq\":11"), r3.body())
    val prog = get("/sync/progress")
    assert(prog.body().contains("\"cdc1\":{\"durable\":11,\"memory\":11}"), prog.body())
  }

  test("CDC watermark is ATOMIC with the applying commit: crash-window redelivery is safe") {
    // the crash being modeled: a flush commits the merge, the process
    // dies BEFORE the catalog watermark advances, the source redelivers.
    // Pre-fix, only the catalog guarded redelivery — the replayed batch
    // re-applied and corrupted (a re-applied PK move finds no base row
    // and materializes its changed=false sentinel; a re-applied insert
    // duplicates). Now the watermark lives in the manifest of the SAME
    // commit (TableManifest.syncSeq), so the redelivery is caught even
    // with the catalog arbitrarily behind.
    ctx.execute("CREATE TABLE wmk (id BIGINT, v DOUBLE, tag VARCHAR)")
    val t = ctx.table("public", "wmk")
    import org.apache.spark.sql.functions.lit
    import spark.implicits._
    t.append(Seq((1L, 1.0, "base")).toDF("id", "v", "tag"))
    // a move 1 -> 2 carrying a changed=false sentinel for tag, applied
    // DIRECTLY through SyncMerge with its seqUpdate — NO catalog write
    // at all (the crash window, maximally wide)
    val mv = spark.read.json(spark.createDataset(Seq(
      """{"old_id":1,"new_id":2,"v":5.0,"changed_v":true,"tag":"GARBAGE","changed_tag":false,"_seq":1}"""))(
      org.apache.spark.sql.Encoders.STRING))
    val v1 = graft.sync.SyncMerge.merge(t, mv, Seq("id"), Seq("v", "tag"),
      seqUpdate = Map("wm_origin" -> 7L))
    assert(t.latestManifest.syncSeq === Map("wm_origin" -> 7L))
    // redelivery of the same flush straight into the merge: must no-op
    val v2 = graft.sync.SyncMerge.merge(t, mv, Seq("id"), Seq("v", "tag"),
      seqUpdate = Map("wm_origin" -> 7L))
    assert(v2 === v1, "replayed flush must not commit a new version")
    val rows = t.read().orderBy("id").collect()
    assert(rows.length === 1 && rows(0).getLong(0) === 2L
      && rows(0).getString(2) === "base",
      s"replay corrupted the table: ${rows.mkString("; ")}")
    // and through the HTTP path: catalog watermark for this origin is
    // still ABSENT (we never advanced it), yet the POST must be skipped
    // off the manifest watermark alone
    val r = post("/sync/public/wmk?pk=id&values=v,tag&origin=wm_origin&seq=7",
      """{"old_id":1,"new_id":2,"v":5.0,"changed_v":true,"tag":"GARBAGE","changed_tag":false,"_seq":1}""",
      auth)
    assert(r.body().contains("\"skipped\":true"), r.body())
    assert(t.read().count() === 1)
    // watermarks survive the non-sync commits that follow
    ctx.execute("INSERT INTO wmk VALUES (9, 9.0, 'x')")
    assert(ctx.table("public", "wmk").latestManifest.syncSeq === Map("wm_origin" -> 7L))
  }

  test("per-statement timeout cancels a runaway POST read with 408") {
    // 5 s: the timeout covers the whole statement incl. a possible cold
    // snapshot-session rebuild (~2 s in the loaded suite JVM)
    val tfe = new HttpFrontend(ctx, 0, writeToken = Some("w0bble"),
      statementTimeoutMs = 5000)
    tfe.start()
    try {
      val tbase = s"http://127.0.0.1:${tfe.boundPort}"
      def tpost(body: String): HttpResponse[String] =
        client.send(HttpRequest.newBuilder(URI.create(tbase + "/q"))
          .POST(HttpRequest.BodyPublishers.ofString(body, UTF_8))
          .header("Authorization", "Bearer w0bble").build(),
          HttpResponse.BodyHandlers.ofString())
      val t0 = System.nanoTime()
      // 1e12-combination cross join: would run for many minutes uncancelled
      val r = tpost(
        "SELECT max(a.id * b.id) AS m FROM range(1000000) a CROSS JOIN range(1000000) b")
      val elapsedSec = (System.nanoTime() - t0) / 1e9
      assert(r.statusCode() === 408, s"${r.statusCode()}: ${r.body()}")
      assert(r.body().contains("timeout"), r.body())
      assert(elapsedSec < 60, s"timeout took ${elapsedSec}s to fire")
      // scheduler drains and the frontend keeps serving
      val t1 = System.nanoTime()
      while (spark.sparkContext.statusTracker.getActiveJobIds().nonEmpty
             && (System.nanoTime() - t1) < 30e9) Thread.sleep(50)
      assert(spark.sparkContext.statusTracker.getActiveJobIds().isEmpty,
        "timed-out statement left active jobs")
      // retry: interrupted zombie tasks from the cancelled cross join can
      // briefly starve the 4 local slots, pushing an innocent statement
      // past the 5 s budget — the property under test is that the
      // frontend RECOVERS, not that the box is instantly idle
      var ok = tpost("SELECT 1 AS x")
      val t2 = System.nanoTime()
      while (ok.statusCode() != 200 && (System.nanoTime() - t2) < 60e9) {
        Thread.sleep(500); ok = tpost("SELECT 1 AS x")
      }
      assert(ok.statusCode() === 200 && ok.body() === "{\"x\":1}\n", ok.body())
    } finally tfe.stop()
  }

  test("client disconnect mid-stream cancels the statement's jobs") {
    // a large streamed read: many partitions, each expensive enough that
    // the full result takes minutes — the client reads a few KB and hangs
    // up; the server must stop paying for the rest
    val sql = "SELECT id, sha2(repeat(cast(id AS string), 512), 256) AS h " +
      "FROM range(0, 100000000, 1, 400)"
    val enc = java.net.URLEncoder.encode(sql, UTF_8)
    val sock = new java.net.Socket("127.0.0.1", fe.boundPort)
    val out = sock.getOutputStream
    out.write((s"GET /q/$enc HTTP/1.1\r\nHost: x\r\nConnection: close\r\n\r\n").getBytes(UTF_8))
    out.flush()
    val in = sock.getInputStream
    // read a chunk of the streamed response, then vanish
    val buf = new Array[Byte](8192)
    var got = 0
    while (got < 4096) {
      val n = in.read(buf)
      assert(n > 0, "no response bytes before disconnect")
      got += n
    }
    sock.close()
    // the write failure must cancel the job group: active jobs drain far
    // sooner than the ~minutes the full result would take
    val t0 = System.nanoTime()
    while (spark.sparkContext.statusTracker.getActiveJobIds().nonEmpty
           && (System.nanoTime() - t0) < 60e9) Thread.sleep(100)
    assert(spark.sparkContext.statusTracker.getActiveJobIds().isEmpty,
      "disconnected client's statement still holds scheduler jobs after 60s")
  }

  test("CDC flush mixing replayed and new origin sequences filters per-batch") {
    // Cross-process scenario: a batch is acknowledged into THIS buffer,
    // then ANOTHER process applies the same (origin, seq) to the table
    // before our flush runs. The flush window now MIXES one replayed
    // batch with new ones — an all-or-nothing skip either re-applies the
    // replayed batch (duplicate insert) or silently drops the new ones.
    // The flush must filter per-batch against the fresh manifest.
    ctx.execute("CREATE TABLE mixf (id BIGINT, v DOUBLE)")
    val t = ctx.table("public", "mixf")
    val buf = new graft.sync.SyncBuffer(ctx, maxRows = 1000000, maxBatches = 64,
      maxAgeMs = 600000)
    def enq(line: String, origin: Option[String], seq: Option[Long]) =
      buf.add("default", "public", "mixf", Array(line), Seq("id"), Seq("v"), origin, seq)
    // three batches into one queue: A (origin mxA seq 5), B (origin mxB
    // seq 3), C (origin-less) — all buffered, nothing flushed yet
    assert(enq("""{"old_id":null,"new_id":1,"v":1.0,"_seq":1}""", Some("mxA"), Some(5L))
      .isInstanceOf[buf.Buffered])
    assert(enq("""{"old_id":null,"new_id":2,"v":2.0,"_seq":1}""", Some("mxB"), Some(3L))
      .isInstanceOf[buf.Buffered])
    assert(enq("""{"old_id":null,"new_id":3,"v":3.0,"_seq":1}""", None, None)
      .isInstanceOf[buf.Buffered])
    // "another process" applies A's content with the same watermark — the
    // manifest mark for mxA is now 5 while our buffer still holds A
    val other = spark.read.json(spark.createDataset(Seq(
      """{"old_id":null,"new_id":1,"v":1.0,"_seq":1}"""))(
      org.apache.spark.sql.Encoders.STRING))
    graft.sync.SyncMerge.merge(t, other, Seq("id"), Seq("v"),
      seqUpdate = Map("mxA" -> 5L))
    assert(t.read().count() === 1)
    // flush: A must be filtered as a replay; B and C must still apply
    buf.flushAll()
    ctx.markDirty()
    val rows = ctx.table("public", "mixf").read().orderBy("id").collect()
    assert(rows.map(_.getLong(0)).toSeq === Seq(1L, 2L, 3L),
      s"mixed flush mis-applied: ${rows.mkString("; ")}")
    assert(rows.map(_.getDouble(1)).toSeq === Seq(1.0, 2.0, 3.0))
    // both origins' marks are durable in the manifest
    val marks = ctx.table("public", "mixf").latestManifest.syncSeq
    assert(marks === Map("mxA" -> 5L, "mxB" -> 3L), marks.toString)
  }

  test("CDC buffering: 50 small syncs coalesce into a handful of versions") {
    post("/q", "CREATE TABLE buf_t (id BIGINT, bal DOUBLE)", auth)
    // 16-batch flush threshold, age flush effectively off: 50 POSTs must
    // trigger exactly 3 count-flushes (at 16/32/48) + 1 shutdown flush
    val bfe = new HttpFrontend(ctx, 0, writeToken = Some("w0bble"),
      syncMaxRows = 1000000, syncMaxBatches = 16, syncMaxAgeMs = 600000)
    bfe.start()
    val bbase = s"http://127.0.0.1:${bfe.boundPort}"
    def bpost(path: String, body: String): HttpResponse[String] = {
      val b = HttpRequest.newBuilder(URI.create(bbase + path))
        .POST(HttpRequest.BodyPublishers.ofString(body, UTF_8))
        .header("Authorization", "Bearer w0bble")
      client.send(b.build(), HttpResponse.BodyHandlers.ofString())
    }
    def bget(path: String): HttpResponse[String] =
      client.send(HttpRequest.newBuilder(URI.create(bbase + path)).GET().build(),
        HttpResponse.BodyHandlers.ofString())
    val root = ctx.catalog.tableRoot(ctx.catalog.getTable("default", "public", "buf_t").get)
    val v0 = graft.lake.Manifest.listVersions(root).size
    // overlapping PKs (i % 10) make the cross-batch squash observable:
    // the final value for pk j must come from the LAST batch touching it
    (1 to 50).foreach { i =>
      val pk = i % 10
      val r = bpost(s"/sync/public/buf_t?pk=id&values=bal&origin=cdcbuf&seq=$i",
        s"""{"old_id":$pk,"new_id":$pk,"bal":$i.0,"_seq":1}""")
      assert(r.statusCode() === 200, r.body())
      if (i % 16 == 0) assert(r.body().contains("\"version\""), s"POST $i should flush: ${r.body()}")
      else assert(r.body().contains("\"buffered\":true"), s"POST $i should buffer: ${r.body()}")
    }
    assert(graft.lake.Manifest.listVersions(root).size === v0 + 3,
      "50 POSTs must commit exactly 3 versions before shutdown")
    // memory watermark leads the durable one while batches 49-50 sit
    // queued (asked of the buffering frontend — watermarks in memory are
    // per-buffer, durable ones shared via the catalog)
    val prog = bget("/sync/progress").body()
    assert(prog.contains("\"cdcbuf\":{\"durable\":48,\"memory\":50}"), prog)
    // redelivery of a buffered-but-unflushed batch is acknowledged, not re-applied
    val dup = bpost("/sync/public/buf_t?pk=id&values=bal&origin=cdcbuf&seq=50",
      """{"old_id":0,"new_id":0,"bal":999.0,"_seq":1}""")
    assert(dup.body().contains("\"skipped\":true"), dup.body())
    bfe.stop() // shutdown flushes the tail
    assert(graft.lake.Manifest.listVersions(root).size === v0 + 4)
    assert(get("/sync/progress").body().contains("\"cdcbuf\":{\"durable\":50,\"memory\":50}"))
    // last write per pk: pk j was last touched by i = 40 + j (j > 0) or 50 (j = 0)
    val q = get("/q/" + java.net.URLEncoder.encode(
      "SELECT id, bal FROM buf_t ORDER BY id", UTF_8))
    val want = (0 to 9).map { j =>
      val last = if (j == 0) 50 else 40 + j
      s"""{"id":$j,"bal":$last.0}"""
    }.mkString("", "\n", "\n")
    assert(q.body() === want, q.body())
  }

  test("inline metastore: the request ships its own catalog") {
    import org.apache.spark.sql.functions.lit
    // a graft-format table that is NEVER registered in the persistent
    // catalog — only reachable through the request's inline schema
    val storeRoot = tmpDir("graft-inline")
    graft.lake.GraftTable.createAs(spark, storeRoot + "/ships/t1",
      spark.range(5).toDF("id").withColumn("tag", lit("inline")))
    val body =
      s"""{"query": "SELECT COUNT(*) AS n, MAX(id) AS m FROM shipped.t1",
         | "schemas": {
         |   "schemas": [{"name": "shipped", "tables": [
         |     {"name": "t1", "path": "ships/t1", "store": "local", "format": "DELTA"}]}],
         |   "stores": [{"name": "local", "location": "$storeRoot"}]}}""".stripMargin
    val r = post("/q", body, auth)
    assert(r.statusCode() === 200, r.body())
    assert(r.body() === "{\"n\":5,\"m\":4}\n")
    // the shipped catalog does not leak: the table stays unknown to the
    // persistent catalog and later plain queries
    val r2 = post("/q", "SELECT COUNT(*) AS n FROM shipped.t1", auth)
    assert(r2.statusCode() != 200)
    // writes are rejected on the inline channel
    val w = post("/q",
      s"""{"query": "CREATE TABLE x (a BIGINT)", "schemas": {"schemas": [], "stores": []}}""", auth)
    assert(w.statusCode() === 400)
    assert(w.body().contains("single read statement"), w.body())
    // a table referencing an unknown store fails loudly
    val bad =
      s"""{"query": "SELECT 1 AS one",
         | "schemas": {"schemas": [{"name": "s", "tables": [
         |   {"name": "t", "path": "p", "store": "nope", "format": "DELTA"}]}], "stores": []}}""".stripMargin
    val rb = post("/q", bad, auth)
    assert(rb.statusCode() === 400 && rb.body().contains("unknown store"), rb.body())
  }

  test("small responses on one keep-alive connection don't stall on Nagle") {
    base // starts the server
    // one raw socket, so every request rides the same connection
    val sock = new java.net.Socket("127.0.0.1", fe.boundPort)
    try {
      sock.setSoTimeout(5000)
      val in = new java.io.BufferedInputStream(sock.getInputStream)
      val out = sock.getOutputStream
      def line(): String = {
        val b = new StringBuilder
        var c = in.read()
        while (c != '\n' && c >= 0) { if (c != '\r') b += c.toChar; c = in.read() }
        b.result()
      }
      def roundTrip(): Double = {
        val t0 = System.nanoTime()
        out.write("GET /healthz HTTP/1.1\r\nHost: localhost\r\n\r\n".getBytes(UTF_8))
        out.flush()
        assert(line().startsWith("HTTP/1.1 200"))
        var length = 0
        var h = line()
        while (h.nonEmpty) {
          if (h.toLowerCase.startsWith("content-length:")) length = h.drop(15).trim.toInt
          h = line()
        }
        assert(new String(in.readNBytes(length), UTF_8) === "ok\n")
        (System.nanoTime() - t0) / 1e6
      }
      val ms = (1 to 25).map(_ => roundTrip()).sorted
      // with Nagle on, each body waits for the client's delayed ACK of
      // the headers: ~40 ms a response
      assert(ms(ms.size / 2) < 20.0, s"median round trip ${ms(ms.size / 2)} ms: ${ms.mkString(", ")}")
    } finally sock.close()
  }

  test("TIMESTAMP_NTZ values are JSON strings on GET /q") {
    assert(post("/q",
      """CREATE TABLE ntz AS SELECT * FROM VALUES
        |  (1, TIMESTAMP_NTZ '2021-03-04 05:06:07.123456'),
        |  (2, TIMESTAMP_NTZ '1997-05-01 00:00:00'),
        |  (3, CAST(NULL AS TIMESTAMP_NTZ)) AS v(id, ts)""".stripMargin, auth).statusCode() === 200)
    val r = get("/q/" + java.net.URLEncoder.encode("SELECT id, ts FROM ntz ORDER BY id", UTF_8))
    assert(r.statusCode() === 200, r.body())
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val ts = r.body().split("\n").toSeq.map(l => mapper.readTree(l).get("ts"))
    assert(ts.map(v => if (v.isNull) null else v.asText()) ===
      Seq("2021-03-04T05:06:07.123456", "1997-05-01T00:00:00.000000", null))
  }
}

package graft.server

import java.io.ByteArrayOutputStream
import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest

import scala.util.control.NonFatal

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import graft.sql.{GraftContext, SqlText}
import org.apache.spark.sql.DataFrame

/** HTTP query frontend with CDN/browser cache semantics, mirroring the
  * reference (`src/frontend/http.rs`):
  *
  *  - `POST /q` — read/write; body is raw SQL or `{"query": "..."}`.
  *    Multi-statement: writes run sequentially; at most one read allowed
  *    and only as the LAST statement (http.rs:174-218). Response is
  *    JSON-lines with explicit nulls + `X-Graft-Query-Time` (seconds).
  *  - `GET /q/<query-or-sha256>` — read-only. The path carries either the
  *    URL-encoded query or its sha256 hex; in hash form the query itself
  *    arrives in the `X-Graft-Query` header and the hash is verified.
  *    ETag = sha256 over the (table uuid, version) pairs the query
  *    references; `If-None-Match` match → 304 WITHOUT executing;
  *    otherwise `ETag` + `Cache-Control: max-age=43200, public` + `Vary`.
  *  - `POST /upload/<schema>/<table>` — CSV or parquet payload appended to
  *    a (possibly new) table. `Content-Type: text/csv` or
  *    `application/octet-stream` (parquet); simpler than the reference's
  *    multipart but same semantics (create-if-absent, append).
  *  - Auth (`src/auth.rs` semantics): optional bearer token for writes;
  *    reads anonymous unless a read token is configured.
  */
class HttpFrontend(ctx: GraftContext, port: Int,
                   writeToken: Option[String] = None,
                   readToken: Option[String] = None,
                   cacheControl: String = "max-age=43200, public",
                   // reference upload_data_max_length default (256 MiB,
                   // src/config/schema.rs:251,262)
                   maxUploadBytes: Long = 256L << 20,
                   // CDC buffering thresholds (reference writer defaults,
                   // src/sync/writer.rs:27-68); syncMaxBatches = 1 merges
                   // every POST immediately (no buffering)
                   syncMaxRows: Long = 65536,
                   syncMaxBatches: Int = 64,
                   syncMaxAgeMs: Long = 1000,
                   // background GC sweep interval (reference
                   // `misc.gc_interval`, hours there, ms here; 0 = off —
                   // the reference default, src/config/schema.rs:273,284)
                   gcIntervalMs: Long = 0,
                   // only vacuum tables whose latest version is at least
                   // this old: an in-flight lock-free reader pinned to
                   // the PREVIOUS version finishes inside the grace
                   // window, so the sweep never deletes files under it
                   gcGraceMs: Long = 10 * 60 * 1000L,
                   // cancel any single statement running longer than this
                   // (0 = no timeout) — the runaway-query bound; cancelled
                   // statements answer 408 (or truncate an already-started
                   // chunked stream)
                   statementTimeoutMs: Long = 0) {

  private val server = HttpFrontend.createServer(new InetSocketAddress(port))
  private val handlerPool = java.util.concurrent.Executors.newFixedThreadPool(8)
  server.setExecutor(handlerPool)

  private val syncBuffer =
    new graft.sync.SyncBuffer(ctx, syncMaxRows, syncMaxBatches, syncMaxAgeMs)
  // age-based flush sweep (the reference's flush task, src/sync/mod.rs:90-109)
  private val flusher = java.util.concurrent.Executors.newSingleThreadScheduledExecutor(
    (r: Runnable) => { val t = new Thread(r, "graft-sync-flush"); t.setDaemon(true); t })
  private val gc = java.util.concurrent.Executors.newSingleThreadScheduledExecutor(
    (r: Runnable) => { val t = new Thread(r, "graft-gc"); t.setDaemon(true); t })

  /** Commit every buffered sync batch now (shutdown / test hook). */
  def flushSync(): Unit = syncBuffer.flushAll()

  def boundPort: Int = server.getAddress.getPort

  def start(): Unit = {
    server.createContext("/q", (ex: HttpExchange) => safely(ex) {
      ex.getRequestMethod match {
        case "POST" => postQuery(ex)
        case "GET" => getCachedQuery(ex)
        case _ => respond(ex, 405, "method not allowed\n")
      }
    })
    server.createContext("/upload/", (ex: HttpExchange) => safely(ex) {
      if (ex.getRequestMethod == "POST") upload(ex)
      else respond(ex, 405, "method not allowed\n")
    })
    server.createContext("/sync/", (ex: HttpExchange) => safely(ex) {
      if (ex.getRequestMethod == "GET" && ex.getRequestURI.getPath == "/sync/progress") {
        if (!authorized(ex, write = false)) respond(ex, 401, "unauthorized\n")
        else {
          // per-origin watermarks: durable (flushed to the lake) vs
          // memory (acknowledged into the buffer) — the reference's
          // volatile/durable sequence pair
          val durable = ctx.catalog.syncProgress
          val mem = syncBuffer.memoryProgress
          val body = (durable.keySet ++ mem.keySet).toSeq.sorted.map { o =>
            val d = durable.get(o)
            val m = math.max(mem.getOrElse(o, Long.MinValue), d.getOrElse(Long.MinValue))
            graft.lake.Manifest.jstr(o) +
              s""":{"durable":${d.getOrElse(-1L)},"memory":$m}"""
          }.mkString("{", ",", "}")
          respond(ex, 200, body + "\n")
        }
      } else if (ex.getRequestMethod == "POST") sync(ex)
      else respond(ex, 405, "method not allowed\n")
    })
    server.createContext("/healthz", (ex: HttpExchange) => safely(ex) {
      respond(ex, 200, "ok\n")
    })
    val sweep = math.max(syncMaxAgeMs / 2, 100L)
    flusher.scheduleWithFixedDelay(
      () => try syncBuffer.flushAged() catch { case NonFatal(e) => ServerLog.failure("sync age flush", e) },
      sweep, sweep, java.util.concurrent.TimeUnit.MILLISECONDS)
    if (gcIntervalMs > 0)
      // OWN scheduler thread: a long sweep (listings + deletes over
      // every table) must never delay the CDC age-flush sweep — GC
      // latency and sync durability are unrelated bounds
      gc.scheduleWithFixedDelay(
        () => try ctx.gcSweep(gcGraceMs) catch { case NonFatal(e) => ServerLog.failure("gc sweep", e) },
        gcIntervalMs, gcIntervalMs, java.util.concurrent.TimeUnit.MILLISECONDS)
    server.start()
  }

  def stop(): Unit = {
    flusher.shutdown()
    gc.shutdown()
    // stop accepting (and drain in-flight exchanges, up to 1 s) BEFORE the
    // final flush — a sync batch accepted after flushAll would be
    // acknowledged and then dropped on JVM exit
    server.stop(1)
    try syncBuffer.flushAll() catch { case NonFatal(e) => ServerLog.failure("final sync flush", e) }
    handlerPool.shutdown()
  }

  // --- handlers -----------------------------------------------------------

  private def postQuery(ex: HttpExchange): Unit = {
    if (!authorized(ex, write = true)) return respond(ex, 401, "unauthorized\n")
    // optional URL database prefix: POST /q/<db> re-scopes the statement
    // (reference src/frontend/http.rs:168-170)
    val dbPrefix = ex.getRequestURI.getPath.stripPrefix("/q").stripPrefix("/") match {
      case "" => None
      case db => Some(db)
    }
    val rawBody = new String(ex.getRequestBody.readAllBytes(), UTF_8)
    // inline metastore (reference InlineMetastoreCommandStatementQuery,
    // clade/proto/schema.proto): the JSON body ships its own catalog —
    // the query runs scoped to exactly those tables, read-only, lock-free
    extractInline(rawBody) match {
      case Some((sql, schemas, stores)) =>
        val stmts = SqlText.statements(sql)
        if (stmts.size != 1 || !ctx.isReadOnly(stmts.head))
          return respond(ex, 400, "inline-metastore queries must be a single read statement\n")
        val t0 = System.nanoTime()
        val (body, mime) = Statements.run(ctx.spark, Statements.newGroupId("http"),
          stmts.head, statementTimeoutMs) {
          renderWith(ex, ctx.executeInline(stmts.head, schemas, stores))
        }
        ex.getResponseHeaders.add("Content-Type", mime)
        ex.getResponseHeaders.add("X-Graft-Query-Time", ((System.nanoTime() - t0) / 1e9).toString)
        return respondBytes(ex, 200, body)
      case None => ()
    }
    val sql = extractQuery(rawBody)
    val stmts = SqlText.statements(sql)
    if (stmts.isEmpty) return respond(ex, 400, "empty statement\n")
    val reads = stmts.zipWithIndex.filter { case (s, _) => ctx.isReadOnly(s) }
    if (reads.size > 1 || reads.exists(_._2 != stmts.size - 1))
      return respond(ex, 400, "a read statement must be the only or last statement\n")
    val t0 = System.nanoTime()
    if (stmts.size == 1 && ctx.isReadOnly(stmts.head))
      // pure read: runs lock-free on the current catalog snapshot —
      // one slow analytical POST never blocks other clients — and
      // STREAMS chunked (a 100 GB result never sits on the server heap)
      respondRead(ex, ctx.executeRead(stmts.head, dbPrefix), stmts.head, t0)
    else {
      val (body, mime) = ctx.locked {
        // writes (or write+read batches) hold the context lock through
        // execute + render: currentDb is shared across the handler pool,
        // and writes commit one at a time. The statement guard
        // bounds how long a runaway write can hold that lock.
        Statements.run(ctx.spark, Statements.newGroupId("http"), sql, statementTimeoutMs) {
          def runAll() = stmts.map(ctx.execute).last
          renderWith(ex, dbPrefix match {
            case Some(db) => ctx.withDb(db)(runAll())
            case None => runAll()
          })
        }
      }
      ex.getResponseHeaders.add("Content-Type", mime)
      ex.getResponseHeaders.add("X-Graft-Query-Time", ((System.nanoTime() - t0) / 1e9).toString)
      respondBytes(ex, 200, body)
    }
  }

  private def getCachedQuery(ex: HttpExchange): Unit = {
    if (!authorized(ex, write = false)) return respond(ex, 401, "unauthorized\n")
    val path = ex.getRequestURI.getRawPath.stripPrefix("/q/")
    val decoded = java.net.URLDecoder.decode(path, UTF_8)
    val sqlRaw =
      if (decoded.matches("[0-9a-f]{64}")) {
        val q = Option(ex.getRequestHeaders.getFirst("X-Graft-Query"))
          .map(extractQuery)
          .getOrElse(return respond(ex, 400, "hash form needs X-Graft-Query header\n"))
        if (sha256Hex(q.getBytes(UTF_8)) != decoded)
          return respond(ex, 400, "query hash mismatch\n")
        q
      } else decoded
    // normalize through the splitter: strips comments so a leading
    // `-- note` can't misclassify the statement
    val stmts = SqlText.statements(sqlRaw)
    if (stmts.size != 1) return respond(ex, 400, "GET accepts exactly one statement\n")
    val sql = stmts.head
    if (!ctx.isReadOnly(sql)) return respond(ex, 405, "NOT_READ_ONLY_QUERY\n")
    // what one run measured is not a cacheable entity
    if (ctx.isExplainAnalyze(sql))
      return respond(ex, 400, "EXPLAIN ANALYZE runs the query: send it with POST /q\n")

    // lock-free: analyze on the current catalog snapshot (no job runs),
    // fingerprint the pinned (uuid, version) scans in the plan, and only
    // execute if the client's cached entity is stale
    val df = ctx.executeRead(sql)
    // the representation (json vs arrow) is part of the entity: RFC 9110
    // forbids one strong ETag across different representations of a
    // resource, so fold the negotiated format into the fingerprint
    val repr = if (wantsArrow(ex)) "arrow" else "json"
    val etag = "\"" + sha256Hex(
      (ctx.versionFingerprint(df).sorted.map { case (u, v) => s"$u:$v" }
        .mkString(";") + "|" + repr).getBytes(UTF_8)) + "\""
    val inm = Option(ex.getRequestHeaders.getFirst("If-None-Match"))
    ex.getResponseHeaders.add("ETag", etag)
    ex.getResponseHeaders.add("Cache-Control", cacheControl)
    ex.getResponseHeaders.add("Vary", "Authorization, X-Graft-Query, Accept")
    if (inm.exists(_.split(",").map(_.trim).contains(etag)))
      return respondBytes(ex, 304, Array.emptyByteArray) // not executed
    respondRead(ex, df, sql, System.nanoTime())
  }

  /** Execute + answer a read-only statement under a statement job group:
    * the per-statement timeout cancels it, and a client that disconnects
    * while the response streams cancels it too (the jobs stop paying for
    * a result nobody reads — at 100 TB an abandoned SELECT would
    * otherwise hold executors to completion). JSON-lines responses
    * stream CHUNKED with the first partition pre-fetched inside the
    * guard, so execution errors still map to status codes before any
    * header goes out, and the server never buffers a result set; a
    * failure after headers truncates the chunked stream — the standard
    * wire signal for a mid-flight abort. Arrow responses buffer (the IPC
    * writer wants the whole stream) but honor the same timeout. */
  private def respondRead(ex: HttpExchange, df: DataFrame, sql: String, t0: Long): Unit = {
    val groupId = Statements.newGroupId("http")
    if (wantsArrow(ex)) {
      val bos = new ByteArrayOutputStream()
      Statements.run(ctx.spark, groupId, sql, statementTimeoutMs) {
        org.apache.spark.sql.GraftArrow.writeIpcStream(df, bos)
      }
      ex.getResponseHeaders.add("Content-Type", ArrowMime)
      ex.getResponseHeaders.add("X-Graft-Query-Time", ((System.nanoTime() - t0) / 1e9).toString)
      respondBytes(ex, 200, bos.toByteArray)
    } else {
      var headersSent = false
      try {
        Statements.run(ctx.spark, groupId, sql, statementTimeoutMs) {
          val it = df.toLocalIterator()
          it.hasNext // first job inside the guard, BEFORE headers commit
          ex.getResponseHeaders.add("Content-Type", "application/json")
          // for streamed responses this is time-to-first-row (headers
          // must go out before the tail is known)
          ex.getResponseHeaders.add("X-Graft-Query-Time",
            ((System.nanoTime() - t0) / 1e9).toString)
          ex.sendResponseHeaders(200, 0) // chunked
          headersSent = true
          val out = ex.getResponseBody
          try {
            JsonLines.writeRows(it, df.schema, out)
            out.close()
          } catch {
            case _: java.io.IOException =>
              // the client went away mid-response: stop paying for it
              Statements.cancel(ctx.spark, groupId, "client disconnected mid-response")
          }
        }
      } catch {
        // cancelled/failed after the status line: nothing left to say on
        // this exchange — the truncated chunked body is the error signal.
        // Before headers, propagate so safely() maps to 408/500. NonFatal
        // ONLY: an OutOfMemoryError must not be swallowed on a pooled
        // handler thread, and an interrupt must keep its flag set for
        // the pool's own shutdown handling.
        case _: InterruptedException if headersSent =>
          Thread.currentThread().interrupt(); ()
        case scala.util.control.NonFatal(_) if headersSent => ()
      } finally if (headersSent) ex.close()
    }
  }

  private def upload(ex: HttpExchange): Unit = {
    if (!authorized(ex, write = true)) return respond(ex, 401, "unauthorized\n")
    val parts = ex.getRequestURI.getPath.stripPrefix("/upload/").split("/")
    if (parts.length != 2) return respond(ex, 400, "use /upload/<schema>/<table>\n")
    val (schema, table) = (parts(0), parts(1))
    // enforce the cap while streaming the body — don't buffer an
    // over-limit payload before rejecting it
    val declared = Option(ex.getRequestHeaders.getFirst("Content-Length")).map(_.toLong)
    if (declared.exists(_ > maxUploadBytes))
      return respond(ex, 413, s"upload exceeds $maxUploadBytes bytes\n")
    // stream the body straight to the temp file the reader will scan —
    // never the full payload on-heap (256 MiB x 8 handler threads would
    // be 2 GiB of transient heap); the cap is enforced mid-stream
    val contentType = Option(ex.getRequestHeaders.getFirst("Content-Type")).getOrElse("")
    val isCsv = contentType.contains("csv")
    val isArrow = contentType.contains(ArrowMime)
    val tmp = java.nio.file.Files.createTempFile("graft-upload",
      if (isCsv) ".csv" else if (isArrow) ".arrow" else ".parquet")
    val in = ex.getRequestBody
    val out = java.nio.file.Files.newOutputStream(tmp)
    var total = 0L
    try {
      val buf = new Array[Byte](64 << 10)
      var n = in.read(buf)
      while (n >= 0) {
        total += n
        if (total > maxUploadBytes) {
          return respond(ex, 413, s"upload exceeds $maxUploadBytes bytes\n")
        }
        out.write(buf, 0, n)
        n = in.read(buf)
      }
    } finally {
      out.close()
      if (total > maxUploadBytes) java.nio.file.Files.deleteIfExists(tmp)
    }
    val arrowSpill =
      if (isArrow) Some(java.nio.file.Files.createTempDirectory("graft-arrow-spill"))
      else None
    val df =
      if (isCsv)
        ctx.spark.read.option("header", "true").option("inferSchema", "true").csv(tmp.toString)
      else if (isArrow)
        // Flight do_put parity: the body IS an Arrow IPC stream; its own
        // schema drives the (possibly new) table. Batches spill to
        // chunked parquet so concurrent capped uploads cost chunks of
        // heap, never whole decoded payloads
        org.apache.spark.sql.GraftArrow.ipcFileToDataFrame(ctx.spark,
          tmp.toString, arrowSpill.get.toString)
      else ctx.spark.read.parquet(tmp.toString)
    ctx.locked {
      ctx.catalog.getTable(ctx.currentDb, schema, table) match {
        case Some(uuid) => new graft.lake.GraftTable(ctx.spark, ctx.catalog.tableRoot(uuid)).append(df)
        case None =>
          // publish-last (see GraftContext.createPublishLast): storage
          // first, catalog row only once the manifest is readable
          ctx.createPublishLast(schema, table) { root =>
            graft.lake.GraftTable.createAs(ctx.spark, root, df); ()
          }
      }
      ctx.markDirty()
    }
    java.nio.file.Files.deleteIfExists(tmp)
    arrowSpill.foreach { d =>
      val dir = d.toFile
      Option(dir.listFiles()).foreach(_.foreach(_.delete()))
      dir.delete(): Unit
    }
    respond(ex, 200, s"done\n")
  }

  /** CDC ingest: POST /sync/<schema>/<table>?pk=<cols>&values=<cols> with
    * a JSON-lines body of role-tagged change rows (old_<pk>, new_<pk>,
    * values, changed_<col>, _seq) — the HTTP stand-in for the reference's
    * Arrow Flight do_put channel (`src/frontend/flight/handler.rs:136-237`,
    * gRPC unavailable offline; same command semantics). */
  private def sync(ex: HttpExchange): Unit = {
    if (!authorized(ex, write = true)) return respond(ex, 401, "unauthorized\n")
    val parts = ex.getRequestURI.getPath.stripPrefix("/sync/").split("/")
    if (parts.length != 2) return respond(ex, 400, "use /sync/<schema>/<table>\n")
    val params = Option(ex.getRequestURI.getRawQuery).getOrElse("").split("&")
      .filter(_.contains("=")).map { kv =>
        val Array(k, v) = kv.split("=", 2)
        k -> java.net.URLDecoder.decode(v, UTF_8)
      }.toMap
    val pkCols = params.getOrElse("pk", return respond(ex, 400, "missing pk param\n"))
      .split(",").toSeq
    val valueCols = params.getOrElse("values", return respond(ex, 400, "missing values param\n"))
      .split(",").toSeq
    // optional origin/seq: per-origin monotone sequence numbers make
    // redelivery idempotent (reference DataSyncCommand semantics —
    // batches at or below the durable watermark are acknowledged
    // without re-applying)
    val origin = params.get("origin")
    val seq = params.get("seq").map(_.toLong)
    // body: JSON-lines of change rows, or (do_put parity — the
    // reference's CDC channel IS Arrow-native) an Arrow IPC stream with
    // the same old_/new_/changed_ column contract, normalized here into
    // the one buffered representation
    val rawBytes = ex.getRequestBody.readAllBytes()
    val lines =
      if (Option(ex.getRequestHeaders.getFirst("Content-Type")).exists(_.contains(ArrowMime))) {
        val df = org.apache.spark.sql.GraftArrow.readIpcStream(ctx.spark, rawBytes)
        val sch = df.schema
        df.collect().map(r => JsonLines.row(r, sch))
      } else new String(rawBytes, UTF_8).split("\n").filter(_.nonEmpty)
    val (schema, table) = (parts(0), parts(1))
    // consistent read of the session database (a concurrent USE holds the
    // same lock while switching)
    val db = ctx.locked(ctx.currentDb)
    // fail unknown tables at ingest time, before the batch is acknowledged
    if (ctx.catalog.getTable(db, schema, table).isEmpty)
      return respond(ex, 400, s"unknown table $schema.$table\n")
    import graft.lake.Manifest.jstr
    // watermark check + enqueue (+ any triggered flush) are atomic on the
    // buffer: a redelivered stale batch racing a newer one can't pass the
    // pre-check concurrently and apply out of order
    syncBuffer.add(db, schema, table, lines, pkCols, valueCols, origin, seq) match {
      case r: syncBuffer.Skipped =>
        respond(ex, 200,
          s"""{"skipped":true,"origin":${jstr(r.origin)},"acknowledged_seq":${r.seq}}""" + "\n")
      case r: syncBuffer.Flushed =>
        val tail = r.origin.zip(r.seq)
          .map { case (o, n) => s""","origin":${jstr(o)},"durable_seq":$n""" }.getOrElse("")
        respond(ex, 200, s"""{"version":${r.version}$tail}""" + "\n")
      case r: syncBuffer.Buffered =>
        val tail = r.origin.zip(r.seq)
          .map { case (o, n) => s""","origin":${jstr(o)},"memory_seq":$n""" }.getOrElse("")
        respond(ex, 200, s"""{"buffered":true$tail}""" + "\n")
    }
  }

  // --- helpers ------------------------------------------------------------

  /** Body may be raw SQL or a JSON object {"query": "..."}. */
  private def extractQuery(body: String): String = {
    val trimmed = body.trim
    if (trimmed.startsWith("{")) {
      import graft.lake.Manifest.Json
      Json.parse(trimmed) match {
        case Json.O(m) => m.get("query") match {
          case Some(Json.S(q)) => q
          case _ => throw new IllegalArgumentException("JSON body needs a \"query\" key")
        }
        case _ => throw new IllegalArgumentException("bad JSON body")
      }
    } else trimmed
  }

  /** Parse an inline-metastore body: `{"query": ..., "schemas":
    * {"schemas": [{"name", "tables": [{"name","path","store","format"}]}],
    * "stores": [{"name","location"}]}}` — the JSON rendering of the
    * reference's ListSchemaResponse. Returns None when the body carries
    * no "schemas" key (plain query path). */
  private def extractInline(body: String)
      : Option[(String, Seq[GraftContext.InlineSchema], Seq[GraftContext.InlineStore])] = {
    val trimmed = body.trim
    if (!trimmed.startsWith("{")) return None
    import graft.lake.Manifest.Json
    val top = Json.parse(trimmed) match {
      case Json.O(m) => m
      case _ => return None
    }
    val resp = top.get("schemas") match {
      case Some(Json.O(m)) => m
      case _ => return None
    }
    val query = top.get("query") match {
      case Some(Json.S(q)) => q
      case _ => throw new IllegalArgumentException("JSON body needs a \"query\" key")
    }
    def str(m: Map[String, Json.V], k: String, dflt: String = ""): String =
      m.get(k) match { case Some(Json.S(s)) => s; case _ => dflt }
    val schemas = resp.get("schemas") match {
      case Some(Json.A(xs)) => xs.map {
        case Json.O(sm) =>
          val tables = sm.get("tables") match {
            case Some(Json.A(ts)) => ts.map {
              case Json.O(tm) => GraftContext.InlineTable(str(tm, "name"), str(tm, "path"),
                Some(str(tm, "store")).filter(_.nonEmpty), str(tm, "format"))
              case _ => throw new IllegalArgumentException("bad inline table entry")
            }
            case _ => Vector.empty
          }
          GraftContext.InlineSchema(str(sm, "name"), tables)
        case _ => throw new IllegalArgumentException("bad inline schema entry")
      }
      case _ => Vector.empty
    }
    val stores = resp.get("stores") match {
      case Some(Json.A(xs)) => xs.map {
        case Json.O(sm) => GraftContext.InlineStore(str(sm, "name"), str(sm, "location"))
        case _ => throw new IllegalArgumentException("bad inline store entry")
      }
      case _ => Vector.empty
    }
    Some((query, schemas, stores))
  }

  private def authorized(ex: HttpExchange, write: Boolean): Boolean = {
    val needed = if (write) writeToken else readToken
    needed.forall { token =>
      Option(ex.getRequestHeaders.getFirst("Authorization"))
        .contains(s"Bearer $token")
    }
  }

  private def render(df: DataFrame): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    JsonLines.write(df, bos)
    bos.toByteArray
  }

  /** Arrow Flight parity where gRPC can't go: `Accept:
    * application/vnd.apache.arrow.stream` returns the result as one
    * standard Arrow IPC stream (schema + record batches — what pyarrow/
    * ADBC read natively) instead of JSON-lines. */
  private val ArrowMime = "application/vnd.apache.arrow.stream"
  private def wantsArrow(ex: HttpExchange): Boolean =
    Option(ex.getRequestHeaders.getFirst("Accept")).exists(_.contains(ArrowMime))
  private def renderWith(ex: HttpExchange, df: DataFrame): (Array[Byte], String) =
    if (wantsArrow(ex)) {
      val bos = new ByteArrayOutputStream()
      org.apache.spark.sql.GraftArrow.writeIpcStream(df, bos)
      (bos.toByteArray, ArrowMime)
    } else (render(df), "application/json")

  private def sha256Hex(bytes: Array[Byte]): String =
    MessageDigest.getInstance("SHA-256").digest(bytes).map(b => f"$b%02x").mkString

  private def respond(ex: HttpExchange, code: Int, body: String): Unit =
    respondBytes(ex, code, body.getBytes(UTF_8))

  private def respondBytes(ex: HttpExchange, code: Int, body: Array[Byte]): Unit = {
    if (code == 304) ex.sendResponseHeaders(code, -1)
    else {
      ex.sendResponseHeaders(code, if (body.isEmpty) -1 else body.length)
      if (body.nonEmpty) ex.getResponseBody.write(body)
    }
    ex.close()
  }

  private def safely(ex: HttpExchange)(f: => Unit): Unit =
    try f catch {
      case e: Statements.Cancelled => respond(ex, 408, s"statement cancelled: ${e.getMessage}\n")
      case e: IllegalArgumentException => respond(ex, 400, s"${e.getMessage}\n")
      case e: org.apache.spark.sql.catalyst.parser.ParseException =>
        respond(ex, 400, s"parse error: ${e.getMessage}\n")
      case e: org.apache.spark.sql.AnalysisException =>
        respond(ex, 400, s"analysis error: ${e.getMessage}\n")
      case NonFatal(e) => respond(ex, 500, s"${e.getClass.getSimpleName}: ${e.getMessage}\n")
    }
}

object HttpFrontend {

  /** The JDK server writes a response's headers and its body as separate
    * socket writes. With Nagle's algorithm on, the body then waits for the
    * client's delayed ACK of the headers: ~40 ms on every response that
    * has one. The server reads this property once per JVM
    * (`sun.net.httpserver.ServerConfig`), when the first server is
    * created, so every JDK HttpServer in the process — the tests' fakes
    * included — must be created through [[createServer]] or after
    * [[disableNagle]]. */
  def disableNagle(): Unit = System.setProperty("sun.net.httpserver.nodelay", "true"): Unit

  /** `HttpServer.create` with Nagle's algorithm off (see [[disableNagle]]). */
  def createServer(addr: InetSocketAddress): HttpServer = {
    disableNagle()
    HttpServer.create(addr, 0)
  }
}

/** Server main: scripts/run.sh graft.server.ServerMain <dataDir> [port]. */
object ServerMain {
  def main(args: Array[String]): Unit = {
    HttpFrontend.disableNagle() // before anything in the JVM starts an HttpServer
    val dataDir = args.headOption.getOrElse("/tmp/graft-data")
    val port = args.lift(1).map(_.toInt).getOrElse(8080)
    val spark = graft.Sessions.build(graft.Sessions.Serve)
    val ctx = new GraftContext(spark, dataDir)
    // deployment knobs (all optional; defaults match the reference):
    //   GRAFT_STATEMENT_TIMEOUT_MS  cancel any statement running longer (0 = off)
    //   GRAFT_GC_INTERVAL_MS        background vacuum sweep period (0 = off,
    //                               reference misc.gc_interval default)
    //   GRAFT_GC_GRACE_MS           sweep skips tables committed within this
    //                               window (pinned-reader protection; in-flight
    //                               writers additionally get WriterGraceMs)
    def envMs(name: String, dflt: Long): Long =
      sys.env.get(name).map { v =>
        try v.trim.toLong
        catch { case _: NumberFormatException =>
          throw new IllegalArgumentException(s"$name must be a millisecond count, got '$v'") }
      }.getOrElse(dflt)
    val stmtTimeout = envMs("GRAFT_STATEMENT_TIMEOUT_MS", 0L)
    val fe = new HttpFrontend(ctx, port,
      writeToken = sys.env.get("GRAFT_WRITE_TOKEN"), readToken = sys.env.get("GRAFT_READ_TOKEN"),
      gcIntervalMs = envMs("GRAFT_GC_INTERVAL_MS", 0L),
      gcGraceMs = envMs("GRAFT_GC_GRACE_MS", 10 * 60 * 1000L),
      statementTimeoutMs = stmtTimeout)
    fe.start()
    // optional PostgreSQL wire frontend (psql/BI tools)
    sys.env.get("GRAFT_PG_PORT").map(_.toInt).foreach { pgPort =>
      new PgFrontend(ctx, pgPort, statementTimeoutMs = stmtTimeout).start()
      System.err.println(s"graft pg wire listening on :$pgPort")
    }
    System.err.println(s"graft server listening on :$port, data dir $dataDir")
    Thread.currentThread.join()
  }
}

package graft.server

import java.io.{DataInputStream, DataOutputStream, EOFException}
import java.net.{ServerSocket, Socket}
import java.nio.charset.StandardCharsets.UTF_8

import scala.util.control.NonFatal

import graft.sql.GraftContext
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types._

/** Minimal PostgreSQL wire-protocol (v3) frontend — what lets psql and
  * BI tools connect (reference `src/frontend/postgres.rs:49-94`, which
  * delegates to the `convergence` pgwire implementation; this is the
  * equivalent minimum: trust auth + simple-query protocol, text format).
  *
  *  - startup: SSLRequest answered 'N' (no TLS), StartupMessage →
  *    AuthenticationOk, ParameterStatus, BackendKeyData, ReadyForQuery
  *  - 'Q' simple query: splits statements, runs each through the
  *    context (reads on the lock-free snapshot path, writes under the
  *    context lock), streams RowDescription + DataRows in text format
  *  - errors → ErrorResponse + ReadyForQuery (connection survives);
  *    in the extended protocol, messages after an error are discarded
  *    until Sync, per the protocol's error-recovery rule
  *  - extended protocol: Parse/Bind/Describe/Execute/Close, including
  *    text-format bound parameters ($1..$n, what JDBC/psycopg send):
  *    values are substituted as typed literals (by the Parse-declared
  *    parameter OID) with a literal-aware scanner, so a `$1` inside a
  *    string literal is never rewritten; ParameterDescription reports
  *    the declared OIDs. Binary-format PARAMETERS decode by the declared
  *    OID (int/float/bool/numeric/date/timestamp/text — decode failures
  *    are SQLSTATE 22P03); binary-format RESULT columns are honored per
  *    Bind's result-format codes (`pgBinary`), with RowDescription
  *    echoing the portal's format codes.
  */
class PgFrontend(ctx: GraftContext, port: Int,
                 // cancel any single statement running longer than this
                 // (0 = no timeout) — the runaway-query bound
                 statementTimeoutMs: Long = 0) {

  private val server = new ServerSocket(port)

  // --- query cancellation (pg BackendKeyData / CancelRequest protocol) ------
  // Every connection gets a (pid, secret) pair announced in BackendKeyData;
  // a CancelRequest arrives on a NEW connection carrying them, and cancels
  // whatever statement the addressed backend is running via its Spark job
  // group (reference anchor: src/frontend/postgres.rs:49-75 — DataFusion
  // aborts by dropping the stream; Spark needs the job group built).
  private val nextPid = new java.util.concurrent.atomic.AtomicInteger(1)
  private val cancelRng = new java.security.SecureRandom()
  // pid -> (secret, the connection's CURRENT statement job-group id —
  // groupIds are per-statement so a stale cancel/timeout can never hit
  // the next statement; "" = idle)
  private val backends = new java.util.concurrent.ConcurrentHashMap[
    Int, (Int, java.util.concurrent.atomic.AtomicReference[String])]()

  /** Run one statement under a FRESH job group registered as `ref`'s
    * current — the scope a CancelRequest or the statement timeout kills. */
  private def runGuarded[T](prefix: String,
                            ref: java.util.concurrent.atomic.AtomicReference[String],
                            sql: String)(f: => T): T = {
    val gid = Statements.newGroupId(prefix)
    ref.set(gid)
    try Statements.run(ctx.spark, gid, sql, statementTimeoutMs)(f)
    finally ref.set("")
  }
  // one thread per LIVE connection (pg sessions are long-lived and spend
  // their time blocked on read — a fixed pool would wedge the N+1th
  // client behind idle sessions forever), but CAPPED like postgres's
  // max_connections: above the cap new connections are refused outright
  // instead of growing threads without bound
  private val maxConnections = 200
  private val pool = new java.util.concurrent.ThreadPoolExecutor(
    0, maxConnections, 60L, java.util.concurrent.TimeUnit.SECONDS,
    new java.util.concurrent.SynchronousQueue[Runnable]())
  @volatile private var running = false

  def boundPort: Int = server.getLocalPort

  def start(): Unit = {
    running = true
    val acceptor = new Thread(() => {
      while (running) {
        try {
          val sock = server.accept()
          try pool.execute(() => serve(sock))
          catch {
            case _: java.util.concurrent.RejectedExecutionException =>
              // connection cap reached — refuse with a proper FATAL
              // 53300 (too_many_connections) so clients see an error,
              // not a bare reset; never queue behind idle sessions
              try {
                val out = new DataOutputStream(sock.getOutputStream)
                msg(out, 'E') { d =>
                  d.writeByte('S'); cstr(d, "FATAL")
                  d.writeByte('C'); cstr(d, "53300")
                  d.writeByte('M'); cstr(d, s"sorry, too many clients already (max $maxConnections)")
                  d.writeByte(0)
                }
                out.flush()
              } catch { case _: java.io.IOException => () } // refused client already gone
              try sock.close() catch { case _: java.io.IOException => () }
          }
        } catch {
          case NonFatal(_) if !running => () // stop() closed the socket under accept
          case NonFatal(e) => ServerLog.failure("pg accept", e)
        }
      }
    }, "graft-pg-accept")
    acceptor.setDaemon(true)
    acceptor.start()
  }

  def stop(): Unit = { running = false; server.close(); pool.shutdown() }

  // --- connection loop ------------------------------------------------------

  private def serve(sock: Socket): Unit = {
    val in = new DataInputStream(sock.getInputStream)
    val out = new DataOutputStream(new java.io.BufferedOutputStream(sock.getOutputStream))
    val pid = nextPid.getAndIncrement()
    val secret = cancelRng.nextInt()
    val currentGroup = new java.util.concurrent.atomic.AtomicReference[String]("")
    backends.put(pid, (secret, currentGroup))
    // every statement this connection runs is tagged to its own fresh job
    // group so a CancelRequest (or the statement timeout) can kill it
    // mid-flight without leaking into the next statement
    def guarded[T](sql: String)(f: => T): T =
      runGuarded(s"pg-$pid", currentGroup, sql)(f)
    try {
      if (!handshake(in, out, pid, secret)) return
      // extended-protocol session state
      val prepared = scala.collection.mutable.Map.empty[String, Prepared] // name -> stmt
      val portals = scala.collection.mutable.Map.empty[String, Portal] // name -> bound sql + result fmts
      var failed = false // after an error: discard until Sync
      var open = true
      while (open) {
        val tpe = try in.readByte() catch { case _: EOFException => return }
        val len = in.readInt() - 4
        val payload = new Array[Byte](len)
        in.readFully(payload)
        val b = java.nio.ByteBuffer.wrap(payload)
        def cstrIn(): String = {
          // collect the raw bytes and decode once: byte-wise toChar would
          // mangle multi-byte UTF-8 (e.g. a literal 'héllo' in a Parse)
          val bos = new java.io.ByteArrayOutputStream()
          var c = b.get
          while (c != 0) { bos.write(c.toInt); c = b.get }
          new String(bos.toByteArray, UTF_8)
        }
        tpe.toChar match {
          case 'Q' =>
            failed = false
            val sql = new String(payload, 0, math.max(0, len - 1), UTF_8) // NUL-terminated
            simpleQuery(sql, out, s"pg-$pid", currentGroup)
            readyForQuery(out)
          case 'X' => open = false
          case 'H' => out.flush() // Flush
          case 'S' => // Sync: end of the extended batch, clear error state
            failed = false
            readyForQuery(out)
          case 'P' if !failed => // Parse
            val name = cstrIn()
            val sql = cstrIn()
            val nParamTypes = b.getShort
            val declaredOids = (0 until nParamTypes.toInt).map(_ => b.getInt)
            val stmts = ctx.splitStatements(sql)
            if (stmts.size > 1) {
              sendError(out, "42601", "cannot insert multiple commands into a prepared statement")
              failed = true
            } else {
              val one = stmts.headOption.getOrElse("")
              // undeclared trailing parameters get oid 0 (unknown → text)
              val oids = declaredOids.padTo(maxParamIndex(one), 0)
              prepared(name) = Prepared(one, oids)
              msg(out, '1')(_ => ()) // ParseComplete
            }
          case 'B' if !failed => // Bind
            val portal = cstrIn()
            val stmt = cstrIn()
            val nFmt = b.getShort
            val fmts = (0 until nFmt.toInt).map(_ => b.getShort.toInt)
            val nParams = b.getShort
            // format-code rule: none → all text; one → applies to all
            def fmtOf(i: Int): Int =
              if (fmts.isEmpty) 0 else if (fmts.size == 1) fmts.head else fmts(i)
            val raw = (0 until nParams.toInt).map { _ =>
              val len = b.getInt
              if (len < 0) None
              else { val bs = new Array[Byte](len); b.get(bs); Some(bs) }
            }
            prepared.get(stmt) match {
              case None => sendError(out, "26000", s"prepared statement \"$stmt\" does not exist"); failed = true
              case Some(p) =>
                try {
                  // binary values decode to their text representation by
                  // the Parse-declared OID, then share the text literal
                  // path — psycopg3's default send format
                  val values = raw.zipWithIndex.map { case (ov, i) =>
                    ov.map { bs =>
                      if (fmtOf(i) == 0) new String(bs, UTF_8)
                      else try binaryToText(p.paramOids.lift(i).getOrElse(0), bs)
                      catch {
                        // decode failures of BINARY bytes are pg's 22P03
                        // (invalid_binary_representation), distinct from
                        // text-literal failures' 22P02 below
                        case e: IllegalArgumentException =>
                          throw new BinaryDecodeException(String.valueOf(e.getMessage))
                      }
                    }
                  }
                  // result-format codes follow the parameter values:
                  // none → all text; one → applies to every column.
                  // Unknown codes are a protocol error AT BIND (pg's
                  // 08P01); a count that is neither 0, 1 nor the result
                  // column count is checked once the columns are known
                  // (Describe/Execute — see checkResultFmts)
                  val nResFmt = b.getShort
                  val resFmts = (0 until nResFmt.toInt).map(_ => b.getShort.toInt)
                  resFmts.find(f => f != 0 && f != 1).foreach { bad =>
                    throw new ProtocolViolation(s"invalid result format code $bad")
                  }
                  portals(portal) = new Portal(bindParams(p, values), resFmts)
                  msg(out, '2')(_ => ()) // BindComplete
                } catch {
                  case e: UnsupportedOperationException =>
                    sendError(out, "0A000", String.valueOf(e.getMessage)); failed = true
                  case e: ProtocolViolation =>
                    sendError(out, "08P01", String.valueOf(e.getMessage)); failed = true
                  case e: BinaryDecodeException =>
                    sendError(out, "22P03", String.valueOf(e.getMessage)); failed = true
                  case e: Throwable =>
                    sendError(out, "22P02", String.valueOf(e.getMessage)); failed = true
                }
            }
          case 'D' if !failed => // Describe
            val kind = b.get.toChar
            val name = cstrIn()
            val sqlOpt =
              if (kind == 'S') prepared.get(name).map(p => describeSql(p))
              else portals.get(name).map(_.sql)
            // a portal Describe reports the Bind-time result formats;
            // a statement Describe always reports text (pg semantics)
            val descFmts =
              if (kind == 'P') portals.get(name).map(_.resultFmts).getOrElse(Nil) else Nil
            def paramDescription(): Unit = if (kind == 'S') msg(out, 't') { d =>
              val oids = prepared(name).paramOids
              d.writeShort(oids.size)
              oids.foreach(o => d.writeInt(if (o == 0) 25 else o)) // unknown → text
            }
            sqlOpt match {
              case None =>
                sendError(out, "26000", s"statement or portal \"$name\" does not exist"); failed = true
              case Some("") => msg(out, 'n')(_ => ()) // NoData (empty statement)
              case Some(sql) if ctx.isReadOnly(sql) =>
                try {
                  paramDescription()
                  rowDescription(ctx.executeRead(sql).schema, out, descFmts) // analysis only
                } catch {
                  case e: ProtocolViolation =>
                    sendError(out, "08P01", String.valueOf(e.getMessage)); failed = true
                  case e: Throwable =>
                    sendError(out, "XX000", String.valueOf(e.getMessage)); failed = true
                }
              case Some(_) =>
                try {
                  // DML/DDL portals have 0 result columns — the Bind-time
                  // format-code count is validated against that here too
                  checkResultFmts(descFmts, 0)
                  paramDescription()
                  msg(out, 'n')(_ => ()) // NoData (DDL/DML)
                } catch {
                  case e: ProtocolViolation =>
                    sendError(out, "08P01", String.valueOf(e.getMessage)); failed = true
                }
            }
          case 'E' if !failed => // Execute (honors the row limit: suspend/resume)
            val portal = cstrIn()
            val maxRows = b.getInt // 0 = no limit
            portals.get(portal) match {
              case None =>
                sendError(out, "34000", s"portal \"$portal\" does not exist"); failed = true
              case Some(p) if p.sql.isEmpty => msg(out, 'I')(_ => ()) // EmptyQueryResponse
              case Some(p) =>
                try {
                  if (ctx.isReadOnly(p.sql)) {
                    if (p.finished) {
                      // executing a completed portal again: no rows, at end
                      commandComplete(out, s"SELECT ${p.sent}")
                    } else guarded(p.sql) {
                      // the whole cursor pump runs inside the job group:
                      // toLocalIterator triggers its per-partition jobs on
                      // THIS thread, so a cancel kills a suspended portal's
                      // resume exactly like a first execute
                      if (p.rows == null) { // first Execute: open the cursor
                        val df = ctx.executeRead(p.sql)
                        checkResultFmts(p.resultFmts, df.schema.fields.length)
                        p.schema = df.schema
                        p.rows = df.toLocalIterator()
                      }
                      var n = 0L
                      while (p.rows.hasNext && (maxRows <= 0 || n < maxRows)) {
                        writeDataRow(p.rows.next(), p.schema, out, p.resultFmts)
                        n += 1; p.sent += 1
                      }
                      if (p.rows.hasNext) msg(out, 's')(_ => ()) // PortalSuspended
                      else {
                        p.finished = true; p.rows = null
                        commandComplete(out, s"SELECT ${p.sent}")
                      }
                    }
                  } else {
                    // a write returns no result columns: pg validates the
                    // Bind-time format-code count against that 0-column
                    // shape too (counts 0 and 1 remain legal)
                    checkResultFmts(p.resultFmts, 0)
                    guarded(p.sql)(ctx.locked(ctx.execute(p.sql)))
                    commandComplete(out, tagFor(p.sql))
                  }
                } catch {
                  case e: ProtocolViolation =>
                    sendError(out, "08P01", String.valueOf(e.getMessage)); failed = true
                  case e: Statements.Cancelled =>
                    // a cancelled portal is dead: drop its iterator so the
                    // session can move on (pg's own cancel aborts the portal)
                    p.rows = null; p.finished = true
                    sendError(out, "57014", String.valueOf(e.getMessage)); failed = true
                  case e: Throwable =>
                    sendError(out, "XX000",
                      Option(e.getMessage).getOrElse(e.getClass.getSimpleName))
                    failed = true
                }
            }
          case 'C' if !failed => // Close
            val kind = b.get.toChar
            val name = cstrIn()
            if (kind == 'S') prepared.remove(name) else portals.remove(name)
            msg(out, '3')(_ => ()) // CloseComplete
          case _ if failed => () // discarded until Sync
          case other =>
            sendError(out, "0A000", s"message '$other' not supported")
            failed = true
        }
      }
    } catch {
      // the client went away mid-message: nobody is left to answer
      case _: java.io.IOException => ()
      case NonFatal(e) => ServerLog.failure(s"pg connection $pid", e)
    } finally {
      backends.remove(pid)
      sock.close()
    }
  }

  /** Returns false if the client went away (SSL refusal) or the
    * connection was a CancelRequest (handled, then closed per protocol). */
  private def handshake(in: DataInputStream, out: DataOutputStream,
                        pid: Int, secret: Int): Boolean = {
    var len = in.readInt() - 4
    var code = in.readInt()
    if (code == 80877103) { // SSLRequest → no TLS
      out.writeByte('N'); out.flush()
      len = in.readInt() - 4
      code = in.readInt()
    }
    if (code == 80877102) {
      // CancelRequest: pid + secret follow; on a match, kill the addressed
      // backend's running statement via its job group. No response either
      // way (the pg protocol: cancel connections are fire-and-forget, and
      // a mismatched secret is silently ignored)
      val reqPid = in.readInt()
      val reqSecret = in.readInt()
      Option(backends.get(reqPid)).foreach { case (sec, ref) =>
        val gid = ref.get()
        if (sec == reqSecret && gid.nonEmpty)
          Statements.cancel(ctx.spark, gid, "canceling statement due to user request")
      }
      return false
    }
    require(code == 196608, s"unsupported protocol version $code")
    in.skipBytes(len - 4) // startup parameters (user/database) — trust auth
    msg(out, 'R')(_.writeInt(0)) // AuthenticationOk
    Seq("server_version" -> "15.0 (graft)", "server_encoding" -> "UTF8",
      "client_encoding" -> "UTF8", "DateStyle" -> "ISO", "integer_datetimes" -> "on")
      .foreach { case (k, v) => msg(out, 'S') { d => cstr(d, k); cstr(d, v) } }
    // real backend key: what psql's Ctrl-C sends back in its CancelRequest
    msg(out, 'K') { d => d.writeInt(pid); d.writeInt(secret) }
    readyForQuery(out)
    true
  }

  // --- bound parameters -----------------------------------------------------

  private case class Prepared(sql: String, paramOids: Seq[Int])

  /** A bound portal: the parameter-substituted SQL plus the Bind-time
    * result-format codes (0 text / 1 binary; empty → all text, a single
    * code applies to every column — the same rule as parameter formats).
    *
    * Carries the portal's execution position for cursor suspension
    * (reference parity: pg's Execute row limit). The first Execute with
    * a row limit opens `rows` (a partition-at-a-time toLocalIterator —
    * nothing result-set-sized buffers on the server); hitting the limit
    * leaves the iterator open and replies PortalSuspended; a later
    * Execute resumes from the position; exhaustion replies
    * CommandComplete with the TOTAL rows retrieved over the portal's
    * lifetime (what psycopg3/PgJDBC surface as rowcount). Close — or a
    * Bind overwriting the name — simply drops the object, iterator and
    * all. Portals survive Sync here: with no transaction machinery,
    * every session behaves like the open transaction PgJDBC requires
    * for fetchSize streaming (autocommit off), so chunked fetch works
    * out of the box. */
  private final class Portal(val sql: String, val resultFmts: Seq[Int]) {
    var rows: java.util.Iterator[org.apache.spark.sql.Row] = null
    var schema: StructType = null
    var sent: Long = 0L
    var finished = false
  }

  /** Distinguishes binary-parameter DECODE failures (SQLSTATE 22P03,
    * invalid_binary_representation) from text-literal failures (22P02). */
  private class BinaryDecodeException(message: String)
    extends IllegalArgumentException(message)

  /** Rewrite `$n` placeholders via `repl`, skipping string literals,
    * quoted identifiers, and `$$`-style dollar signs without digits. */
  private def rewriteParams(sql: String, repl: Int => String): String = {
    val sb = new StringBuilder(sql.length + 16)
    var i = 0
    while (i < sql.length) {
      sql.charAt(i) match {
        case '\'' => // string literal: copy verbatim incl. \x and '' escapes
          sb += '\''; i += 1
          var done = false
          while (i < sql.length && !done) {
            val ch = sql.charAt(i)
            sb += ch
            if (ch == '\\' && i + 1 < sql.length) { sb += sql.charAt(i + 1); i += 1 }
            else if (ch == '\'') {
              if (i + 1 < sql.length && sql.charAt(i + 1) == '\'') { sb += '\''; i += 1 }
              else done = true
            }
            i += 1
          }
        case '"' => // quoted identifier
          sb += '"'; i += 1
          while (i < sql.length && sql.charAt(i) != '"') { sb += sql.charAt(i); i += 1 }
          if (i < sql.length) { sb += '"'; i += 1 }
        case '$' if i + 1 < sql.length && sql.charAt(i + 1).isDigit =>
          var j = i + 1
          while (j < sql.length && sql.charAt(j).isDigit) j += 1
          sb ++= repl(sql.substring(i + 1, j).toInt)
          i = j
        case c => sb += c; i += 1
      }
    }
    sb.result()
  }

  private def maxParamIndex(sql: String): Int = {
    var max = 0
    rewriteParams(sql, { n => if (n > max) max = n; "" })
    max
  }

  private def sqlEscape(s: String): String =
    s.replace("\\", "\\\\").replace("'", "\\'")

  /** Binary-format wire value → its text representation (which then
    * flows through the shared `literalFor` path): network-order fixed
    * width for the int/float/bool OIDs, base-10000 digit groups for
    * numeric, the 2000-01-01 epoch for date (days) and timestamp[tz]
    * (microseconds) — the OIDs psycopg3 actually sends binary on
    * prepared statements — and raw UTF-8 for the text-like ones. OIDs
    * whose binary encoding this frontend doesn't carry (arrays,
    * interval, …) raise 0A000 with a use-text hint rather than silently
    * misreading bytes; so does oid 0 (an UNDECLARED param type gives the
    * server no way to interpret binary bytes — pg itself errors there).
    */
  private def binaryToText(oid: Int, bs: Array[Byte]): String = {
    val bb = java.nio.ByteBuffer.wrap(bs) // network byte order
    def need(n: Int): Unit = require(bs.length == n,
      s"binary parameter for oid $oid must be $n bytes, got ${bs.length}")
    oid match {
      case 16 => need(1); if (bs(0) != 0) "t" else "f"
      case 21 => need(2); bb.getShort.toString
      case 23 | 26 => need(4); bb.getInt.toString
      case 20 => need(8); bb.getLong.toString
      case 700 => need(4); bb.getFloat.toString
      case 701 => need(8); bb.getDouble.toString
      case 1700 => // numeric: ndigits, weight, sign, dscale, base-10000 digits
        require(bs.length >= 8,
          s"binary parameter for oid 1700 must be at least 8 bytes, got ${bs.length}")
        val nd = bb.getShort.toInt
        val weight = bb.getShort.toInt
        val sign = bb.getShort & 0xffff
        val dscale = bb.getShort.toInt
        require(bs.length == 8 + 2 * nd,
          s"binary numeric parameter declares $nd digit groups but carries ${(bs.length - 8) / 2}")
        if (sign == 0xC000) "NaN" // literalFor rejects it as 22P02 (no NaN decimals here)
        else if (sign == 0xD000 || sign == 0xF000) // pg14+ +Inf/-Inf sign words
          throw new IllegalArgumentException(
            "binary numeric parameter is Infinity; this server carries no infinite decimals")
        else if (sign != 0x0000 && sign != 0x4000)
          throw new IllegalArgumentException(
            f"binary numeric parameter has unknown sign word 0x$sign%04X")
        else {
          var v = java.math.BigDecimal.ZERO
          var i = 0
          while (i < nd) {
            v = v.add(java.math.BigDecimal.valueOf(bb.getShort.toLong)
              .scaleByPowerOfTen(4 * (weight - i)))
            i += 1
          }
          if (sign == 0x4000) v = v.negate()
          // dscale is pg's authoritative display scale; digits beyond it
          // are always zero for well-formed values (a violation errors
          // as 22P02 rather than silently rounding)
          v.setScale(dscale, java.math.RoundingMode.UNNECESSARY).toPlainString
        }
      case 1082 => // date: int32 days since 2000-01-01
        need(4); java.time.LocalDate.of(2000, 1, 1).plusDays(bb.getInt.toLong).toString
      case 1114 | 1184 => // timestamp[tz]: int64 microseconds since 2000-01-01
        need(8)
        val us = bb.getLong
        java.time.LocalDateTime.ofEpochSecond(
          Math.floorDiv(us, 1000000L) + PgEpochSec,
          Math.floorMod(us, 1000000L).toInt * 1000,
          java.time.ZoneOffset.UTC).format(TsOutFmt)
      case 18 | 19 | 25 | 1042 | 1043 => new String(bs, UTF_8) // text-like
      case other => throw new UnsupportedOperationException(
        s"binary-format parameters of oid $other are not supported; use text format")
    }
  }

  /** 2000-01-01T00:00:00Z, the pg binary-wire epoch, in Unix seconds. */
  private val PgEpochSec = 946684800L
  private val TsOutFmt =
    java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss.SSSSSS")

  /** Text-format wire value → SQL literal, typed by the parameter OID. */
  private def literalFor(oid: Int, v: Option[String]): String = v match {
    case None => "NULL"
    case Some(s) => oid match {
      case 16 => // bool: t/f/true/false/1/0
        if (Set("t", "true", "1", "y", "yes", "on")(s.toLowerCase)) "TRUE" else "FALSE"
      case 20 | 21 | 23 | 26 | 700 | 701 | 1700 =>
        require(s.nonEmpty && s.matches("[-+0-9.eE]+"), s"invalid numeric parameter: $s")
        s
      case 1082 => s"DATE '${sqlEscape(s)}'"
      case 1114 | 1184 => s"TIMESTAMP '${sqlEscape(s)}'"
      case _ => s"'${sqlEscape(s)}'" // text/varchar/unknown: quoted string
    }
  }

  private def bindParams(p: Prepared, values: Seq[Option[String]]): String = {
    require(values.size >= maxParamIndex(p.sql),
      s"bind supplies ${values.size} parameters but statement uses ${maxParamIndex(p.sql)}")
    rewriteParams(p.sql, { n =>
      require(n >= 1 && n <= values.size, s"parameter $$$n out of range")
      literalFor(p.paramOids.lift(n - 1).getOrElse(0), values(n - 1))
    })
  }

  /** For Describe on an unbound statement: typed NULLs stand in for the
    * parameters so analysis can produce the row shape. */
  private def describeSql(p: Prepared): String =
    rewriteParams(p.sql, { n =>
      val t = p.paramOids.lift(n - 1).getOrElse(0) match {
        case 16 => "BOOLEAN"
        case 21 => "SMALLINT"
        case 23 | 26 => "INT"
        case 20 => "BIGINT"
        case 700 => "FLOAT"
        case 701 => "DOUBLE"
        case 1700 => "DECIMAL(38,18)"
        case 1082 => "DATE"
        case 1114 | 1184 => "TIMESTAMP"
        case _ => "STRING"
      }
      s"CAST(NULL AS $t)"
    })

  // --- query execution ------------------------------------------------------

  private def simpleQuery(sql: String, out: DataOutputStream,
                          prefix: String,
                          ref: java.util.concurrent.atomic.AtomicReference[String]): Unit = {
    val stmts = try ctx.splitStatements(sql) catch {
      case e: Throwable => sendError(out, "42601", String.valueOf(e.getMessage)); return
    }
    if (stmts.isEmpty) { msg(out, 'I')(_ => ()); return } // EmptyQueryResponse
    def guarded[T](stmt: String)(f: => T): T = runGuarded(prefix, ref, stmt)(f)
    stmts.foreach { stmt =>
      try {
        if (ctx.isReadOnly(stmt)) guarded(stmt)(sendRows(ctx.executeRead(stmt), out))
        else {
          guarded(stmt)(ctx.locked(ctx.execute(stmt)): Unit)
          commandComplete(out, tagFor(stmt))
        }
      } catch {
        case e: Statements.Cancelled =>
          sendError(out, "57014", String.valueOf(e.getMessage))
          return // cancel aborts the rest of the query string too
        case e: Throwable =>
          sendError(out, "XX000", Option(e.getMessage).getOrElse(e.getClass.getSimpleName))
          return // per-protocol: abort the rest of the query string
      }
    }
  }

  private def rowDescription(schema: StructType, out: DataOutputStream,
                             resultFmts: Seq[Int] = Nil): Unit = {
    checkResultFmts(resultFmts, schema.fields.length)
    msg(out, 'T') { d =>
      d.writeShort(schema.fields.length)
      schema.fields.zipWithIndex.foreach { case (f, i) =>
        cstr(d, f.name)
        d.writeInt(0); d.writeShort(0) // table oid / attnum
        d.writeInt(pgOid(f.dataType))
        d.writeShort(-1); d.writeInt(-1) // typlen / typmod
        d.writeShort(fmtCode(resultFmts, i))
      }
    }
  }

  /** Bind carried a result-format list that pg's rules can't apply to
    * this result shape — 08P01 protocol_violation, detected at the first
    * point the result column count is known (Describe/Execute; Bind
    * itself validates the format CODES, the COUNT needs the schema). */
  private final class ProtocolViolation(m: String) extends RuntimeException(m)

  private def checkResultFmts(fmts: Seq[Int], ncols: Int): Unit =
    if (fmts.size > 1 && fmts.size != ncols)
      throw new ProtocolViolation(
        s"bind message has ${fmts.size} result formats but query has $ncols columns")

  /** Bind's format-code rule: none → all text; one → applies to all.
    * Counts in between are rejected by checkResultFmts before any row
    * is serialized — this indexer never sees them. */
  private def fmtCode(fmts: Seq[Int], i: Int): Int =
    if (fmts.isEmpty) 0 else if (fmts.size == 1) fmts.head else fmts(i)

  private def sendRows(df: DataFrame, out: DataOutputStream,
                       withDescription: Boolean = true,
                       resultFmts: Seq[Int] = Nil): Unit = {
    val schema = df.schema
    checkResultFmts(resultFmts, schema.fields.length)
    if (withDescription) rowDescription(schema, out, resultFmts) // Execute relies on Describe's
    val it = df.toLocalIterator()
    var n = 0L
    while (it.hasNext) {
      writeDataRow(it.next(), schema, out, resultFmts)
      n += 1
    }
    commandComplete(out, s"SELECT $n")
  }

  private def writeDataRow(row: org.apache.spark.sql.Row, schema: StructType,
                           out: DataOutputStream, resultFmts: Seq[Int]): Unit =
    msg(out, 'D') { d =>
      d.writeShort(schema.fields.length)
      var i = 0
      while (i < schema.fields.length) {
        if (row.isNullAt(i)) d.writeInt(-1)
        else {
          val bytes =
            if (fmtCode(resultFmts, i) == 1)
              pgBinary(row.get(i), schema.fields(i).dataType)
            else pgText(row.get(i), schema.fields(i).dataType).getBytes(UTF_8)
          d.writeInt(bytes.length); d.write(bytes)
        }
        i += 1
      }
    }

  // --- pg text encoding -----------------------------------------------------

  private val tsFmt = java.time.format.DateTimeFormatter
    .ofPattern("yyyy-MM-dd HH:mm:ss.SSSSSS").withZone(java.time.ZoneOffset.UTC)

  private def pgText(v: Any, dt: DataType): String = (v, dt) match {
    case (b: Boolean, _) => if (b) "t" else "f"
    case (x: java.sql.Timestamp, _) => tsFmt.format(x.toInstant)
    case (x: java.time.Instant, _) => tsFmt.format(x)
    case (x: java.math.BigDecimal, _) => x.toPlainString
    case (x: scala.math.BigDecimal, _) => x.bigDecimal.toPlainString
    case (x: Array[Byte], _) => "\\x" + x.map(b => f"$b%02x").mkString
    // collection.Seq, not the default immutable.Seq: Spark rows surface
    // arrays as mutable.ArraySeq
    case (x: scala.collection.Seq[_], ArrayType(et, _)) => // pg array literal
      x.map {
        case null => "NULL"
        case e =>
          val s = pgText(e, et)
          if (s.exists(c => c == ',' || c == '"' || c == '{' || c == '}' || c == ' '))
            "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
          else s
      }.mkString("{", ",", "}")
    case (x: org.apache.spark.sql.Row, st: StructType) => JsonLines.row(x, st) // JSON text
    case (x: scala.collection.Map[_, _], mt: MapType) => JsonLines.value(x, mt)
    case (x, _) => String.valueOf(x) // numbers, strings, dates
  }

  /** Binary-format result encoding — the exact inverse of `binaryToText`:
    * network-order fixed width for bool/int/float, base-10000 digit groups
    * for numeric, the 2000-01-01 epoch for date (days) and timestamp
    * (microseconds), raw bytes for bytea. Types this server reports as
    * text oid 25 (arrays, structs, maps rendered textually) use their
    * text bytes — which IS the binary format of the text type in pg. */
  private def pgBinary(v: Any, dt: DataType): Array[Byte] = {
    def fixed(n: Int)(f: java.nio.ByteBuffer => Unit): Array[Byte] = {
      val bb = java.nio.ByteBuffer.allocate(n) // network byte order (BE default)
      f(bb); bb.array()
    }
    (v, dt) match {
      case (b: Boolean, _) => Array[Byte](if (b) 1 else 0)
      case (x: Byte, _) => fixed(2)(_.putShort(x.toShort))
      case (x: Short, _) => fixed(2)(_.putShort(x))
      case (x: Int, _) => fixed(4)(_.putInt(x))
      case (x: Long, _) => fixed(8)(_.putLong(x))
      case (x: Float, _) => fixed(4)(_.putFloat(x))
      case (x: Double, _) => fixed(8)(_.putDouble(x))
      case (x: java.math.BigDecimal, _) => numericBinary(x)
      case (x: scala.math.BigDecimal, _) => numericBinary(x.bigDecimal)
      case (x: java.sql.Date, _) =>
        fixed(4)(_.putInt((x.toLocalDate.toEpochDay - PgEpochDay).toInt))
      case (x: java.time.LocalDate, _) =>
        fixed(4)(_.putInt((x.toEpochDay - PgEpochDay).toInt))
      case (x: java.sql.Timestamp, _) =>
        val us = Math.addExact(
          Math.multiplyExact(x.toInstant.getEpochSecond - PgEpochSec, 1000000L),
          x.toInstant.getNano / 1000L)
        fixed(8)(_.putLong(us))
      case (x: java.time.Instant, _) =>
        fixed(8)(_.putLong(
          Math.addExact(Math.multiplyExact(x.getEpochSecond - PgEpochSec, 1000000L),
            x.getNano / 1000L)))
      case (x: java.time.LocalDateTime, _) =>
        val inst = x.toInstant(java.time.ZoneOffset.UTC)
        fixed(8)(_.putLong(
          Math.addExact(Math.multiplyExact(inst.getEpochSecond - PgEpochSec, 1000000L),
            inst.getNano / 1000L)))
      case (x: Array[Byte], BinaryType) => x
      case (x, d) => pgText(x, d).getBytes(UTF_8) // text-oid types: same bytes
    }
  }

  /** pg numeric wire image: ndigits, weight, sign, dscale, then base-10000
    * digit groups most-significant first, decimal point on a group
    * boundary (fraction zero-padded to a multiple of 4 decimal digits). */
  private def numericBinary(bd: java.math.BigDecimal): Array[Byte] = {
    val dscale = math.max(bd.scale, 0)
    val sign = if (bd.signum < 0) 0x4000 else 0x0000
    // pad the fraction to whole base-10000 groups, then peel groups
    val fracGroups = (dscale + 3) / 4
    val scaled = bd.abs.movePointRight(fracGroups * 4).toBigIntegerExact
    val groups = scala.collection.mutable.ArrayBuffer[Int]()
    var rest = scaled
    val B = java.math.BigInteger.valueOf(10000)
    while (rest.signum != 0) {
      val Array(q, r) = rest.divideAndRemainder(B)
      groups += r.intValue; rest = q
    }
    val digits = groups.reverse // most-significant first; no leading zeros
    val weight = digits.size - 1 - fracGroups // exponent of the first group
    val bb = java.nio.ByteBuffer.allocate(8 + 2 * digits.size)
    bb.putShort(digits.size.toShort)
    bb.putShort((if (digits.isEmpty) 0 else weight).toShort)
    bb.putShort(sign.toShort)
    bb.putShort(dscale.toShort)
    digits.foreach(g => bb.putShort(g.toShort))
    bb.array()
  }

  /** 2000-01-01 in epoch days (the pg binary-wire date epoch). */
  private val PgEpochDay = 10957L

  private def pgOid(dt: DataType): Int = dt match {
    case BooleanType => 16
    case ByteType | ShortType => 21
    case IntegerType => 23
    case LongType => 20
    case FloatType => 700
    case DoubleType => 701
    case _: DecimalType => 1700
    case DateType => 1082
    case TimestampType | TimestampNTZType => 1114
    case BinaryType => 17
    case _ => 25 // text (incl. arrays/structs rendered as text)
  }

  private def tagFor(stmt: String): String = {
    val up = stmt.trim.toUpperCase
    if (up.startsWith("INSERT")) "INSERT 0 0"
    else if (up.startsWith("UPDATE")) "UPDATE 0"
    else if (up.startsWith("DELETE")) "DELETE 0"
    else up.split("\\s+").take(2).mkString(" ").take(32)
  }

  // --- wire helpers ---------------------------------------------------------

  private def msg(out: DataOutputStream, tpe: Char)(body: DataOutputStream => Unit): Unit = {
    val bos = new java.io.ByteArrayOutputStream()
    val d = new DataOutputStream(bos)
    body(d)
    out.writeByte(tpe)
    out.writeInt(4 + bos.size())
    bos.writeTo(out)
  }

  private def cstr(d: DataOutputStream, s: String): Unit = {
    d.write(s.getBytes(UTF_8)); d.writeByte(0)
  }

  private def readyForQuery(out: DataOutputStream): Unit = {
    msg(out, 'Z')(_.writeByte('I'))
    out.flush()
  }

  private def commandComplete(out: DataOutputStream, tag: String): Unit =
    msg(out, 'C')(cstr(_, tag))

  private def sendError(out: DataOutputStream, sqlState: String, message: String): Unit = {
    msg(out, 'E') { d =>
      d.writeByte('S'); cstr(d, "ERROR")
      d.writeByte('C'); cstr(d, sqlState)
      d.writeByte('M'); cstr(d, message)
      d.writeByte(0)
    }
    out.flush()
  }
}

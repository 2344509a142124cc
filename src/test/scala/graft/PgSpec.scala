package graft

import java.io.{DataInputStream, DataOutputStream}
import java.net.Socket
import java.nio.charset.StandardCharsets.UTF_8

import graft.server.PgFrontend
import graft.sql.GraftContext

/** PostgreSQL wire protocol e2e with a minimal in-test pgwire v3 client:
  * startup handshake, simple query round-trips (types, NULLs, multi-
  * statement, writes), error recovery on the same connection.
  */
class PgSpec extends SparkSpec {

  private lazy val ctx = new GraftContext(spark, tmpDir("graft-pg"))
  private lazy val fe = { val f = new PgFrontend(ctx, 0); f.start(); f }

  /** Tiny pgwire client: connect + startup, then simple queries. */
  private class Client(port: Int = fe.boundPort) {
    private val sock = new Socket("127.0.0.1", port)
    private val in = new DataInputStream(sock.getInputStream)
    private val out = new DataOutputStream(sock.getOutputStream)
    // the BackendKeyData pair announced at startup — what a CancelRequest
    // must echo to address this session
    var backendPid: Int = 0
    var backendSecret: Int = 0
    // StartupMessage: protocol 3.0 + user/database params
    private val params = "user\u0000graft\u0000database\u0000default\u0000\u0000".getBytes(UTF_8)
    out.writeInt(8 + params.length)
    out.writeInt(196608)
    out.write(params)
    out.flush()
    drainUntilReady().foreach { // AuthenticationOk .. ReadyForQuery
      case ('K', p) =>
        val b = java.nio.ByteBuffer.wrap(p)
        backendPid = b.getInt; backendSecret = b.getInt
      case _ => ()
    }

    private def readMsg(): (Char, Array[Byte]) = {
      val tpe = in.readByte().toChar
      val len = in.readInt() - 4
      val payload = new Array[Byte](len)
      in.readFully(payload)
      (tpe, payload)
    }

    private def drainUntilReady(): Seq[(Char, Array[Byte])] = {
      val msgs = Seq.newBuilder[(Char, Array[Byte])]
      var done = false
      while (!done) {
        val m = readMsg()
        msgs += m
        if (m._1 == 'Z') done = true
      }
      msgs.result()
    }

    /** Send a simple query; returns (columnNames, rows-as-text, tags, errors). */
    def query(sql: String): (Seq[String], Seq[Seq[String]], Seq[String], Seq[String]) = {
      val body = sql.getBytes(UTF_8)
      out.writeByte('Q')
      out.writeInt(4 + body.length + 1)
      out.write(body)
      out.writeByte(0)
      out.flush()
      var cols = Seq.empty[String]
      val rows = Seq.newBuilder[Seq[String]]
      val tags = Seq.newBuilder[String]
      val errs = Seq.newBuilder[String]
      drainUntilReady().foreach {
        case ('T', p) =>
          val b = java.nio.ByteBuffer.wrap(p)
          val n = b.getShort
          cols = (0 until n).map { _ =>
            val s = new StringBuilder
            var c = b.get
            while (c != 0) { s += c.toChar; c = b.get }
            b.getInt; b.getShort; b.getInt; b.getShort; b.getInt; b.getShort
            s.result()
          }
        case ('D', p) =>
          val b = java.nio.ByteBuffer.wrap(p)
          val n = b.getShort
          rows += (0 until n).map { _ =>
            val len = b.getInt
            if (len < 0) null
            else { val bs = new Array[Byte](len); b.get(bs); new String(bs, UTF_8) }
          }
        case ('C', p) => tags += new String(p, 0, p.length - 1, UTF_8)
        case ('E', p) =>
          // fields: code byte + cstring, terminated by a zero byte
          val b = java.nio.ByteBuffer.wrap(p)
          var code = b.get
          while (code != 0) {
            val s = new StringBuilder
            var c = b.get
            while (c != 0) { s += c.toChar; c = b.get }
            if (code == 'M') errs += s.result()
            code = b.get
          }
        case _ => ()
      }
      (cols, rows.result(), tags.result(), errs.result())
    }

    def close(): Unit = {
      out.writeByte('X'); out.writeInt(4); out.flush(); sock.close()
    }

    private def sendMsg(tpe: Char)(body: DataOutputStream => Unit): Unit = {
      val bos = new java.io.ByteArrayOutputStream()
      val d = new DataOutputStream(bos)
      body(d)
      out.writeByte(tpe)
      out.writeInt(4 + bos.size())
      bos.writeTo(out)
    }
    private def cs(d: DataOutputStream, s: String): Unit = { d.write(s.getBytes(UTF_8)); d.writeByte(0) }

    /** Extended-protocol round trip: Parse/Bind/Describe/Execute/Sync. */
    def extendedQuery(sql: String): (Seq[Char], Seq[Seq[String]], Seq[String]) = {
      sendMsg('P') { d => cs(d, "s1"); cs(d, sql); d.writeShort(0) }
      sendMsg('B') { d => cs(d, "p1"); cs(d, "s1"); d.writeShort(0); d.writeShort(0); d.writeShort(0) }
      sendMsg('D') { d => d.writeByte('P'); cs(d, "p1") }
      sendMsg('E') { d => cs(d, "p1"); d.writeInt(0) }
      sendMsg('C') { d => d.writeByte('P'); cs(d, "p1") }
      sendMsg('S')(_ => ())
      out.flush()
      collectExtended()
    }

    /** Like extendedQuery, but binding $1..$n as text-format parameters
      * with Parse-declared type OIDs (what JDBC/psycopg send). */
    def extendedQueryParams(sql: String, oids: Seq[Int],
                            params: Seq[Option[String]]): (Seq[Char], Seq[Seq[String]], Seq[String]) = {
      sendMsg('P') { d => cs(d, "s2"); cs(d, sql); d.writeShort(oids.size); oids.foreach(d.writeInt) }
      sendMsg('B') { d =>
        cs(d, "p2"); cs(d, "s2")
        d.writeShort(0) // no format codes → all text
        d.writeShort(params.size)
        params.foreach {
          case None => d.writeInt(-1)
          case Some(v) => val bs = v.getBytes(UTF_8); d.writeInt(bs.length); d.write(bs)
        }
        d.writeShort(0) // result format codes
      }
      sendMsg('D') { d => d.writeByte('S'); cs(d, "s2") }
      sendMsg('E') { d => cs(d, "p2"); d.writeInt(0) }
      sendMsg('C') { d => d.writeByte('P'); cs(d, "p2") }
      sendMsg('S')(_ => ())
      out.flush()
      collectExtended()
    }

    /** Like extendedQueryParams, but sending format=1 (binary) values —
      * psycopg3's default send path. */
    def extendedQueryBinParams(sql: String, oids: Seq[Int],
                               params: Seq[Option[Array[Byte]]]): (Seq[Char], Seq[Seq[String]], Seq[String]) = {
      sendMsg('P') { d => cs(d, "s3"); cs(d, sql); d.writeShort(oids.size); oids.foreach(d.writeInt) }
      sendMsg('B') { d =>
        cs(d, "p3"); cs(d, "s3")
        d.writeShort(1); d.writeShort(1) // one format code (binary) applies to all
        d.writeShort(params.size)
        params.foreach {
          case None => d.writeInt(-1)
          case Some(bs) => d.writeInt(bs.length); d.write(bs)
        }
        d.writeShort(0) // result format codes
      }
      sendMsg('E') { d => cs(d, "p3"); d.writeInt(0) }
      sendMsg('C') { d => d.writeByte('P'); cs(d, "p3") }
      sendMsg('S')(_ => ())
      out.flush()
      collectExtended()
    }

    /** Parse/Bind requesting BINARY result columns (result-format codes in
      * Bind); returns per-column (oid, fmt) from RowDescription, rows as
      * raw cell bytes, and "[SQLSTATE] message" errors. */
    def extendedQueryBinResults(sql: String, resFmts: Seq[Int],
                                oids: Seq[Int] = Nil,
                                binParams: Seq[Option[Array[Byte]]] = Nil): (Seq[(Int, Int)], Seq[Seq[Array[Byte]]], Seq[String]) = {
      sendMsg('P') { d => cs(d, "s4"); cs(d, sql); d.writeShort(oids.size); oids.foreach(d.writeInt) }
      sendMsg('B') { d =>
        cs(d, "p4"); cs(d, "s4")
        if (binParams.isEmpty) d.writeShort(0)
        else { d.writeShort(1); d.writeShort(1) } // all params binary
        d.writeShort(binParams.size)
        binParams.foreach {
          case None => d.writeInt(-1)
          case Some(bs) => d.writeInt(bs.length); d.write(bs)
        }
        d.writeShort(resFmts.size); resFmts.foreach(f => d.writeShort(f.toShort))
      }
      sendMsg('D') { d => d.writeByte('P'); cs(d, "p4") }
      sendMsg('E') { d => cs(d, "p4"); d.writeInt(0) }
      sendMsg('C') { d => d.writeByte('P'); cs(d, "p4") }
      sendMsg('S')(_ => ())
      out.flush()
      val desc = Seq.newBuilder[(Int, Int)]
      val rows = Seq.newBuilder[Seq[Array[Byte]]]
      val errs = Seq.newBuilder[String]
      drainUntilReady().foreach {
        case ('T', p) =>
          val b = java.nio.ByteBuffer.wrap(p)
          val n = b.getShort
          (0 until n).foreach { _ =>
            var c = b.get
            while (c != 0) c = b.get // skip name
            b.getInt; b.getShort
            val oid = b.getInt
            b.getShort; b.getInt
            desc += ((oid, b.getShort.toInt))
          }
        case ('D', p) =>
          val b = java.nio.ByteBuffer.wrap(p)
          val n = b.getShort
          rows += (0 until n).map { _ =>
            val len = b.getInt
            if (len < 0) null
            else { val bs = new Array[Byte](len); b.get(bs); bs }
          }
        case ('E', p) =>
          val b = java.nio.ByteBuffer.wrap(p)
          var code = b.get
          var state = ""; var m = ""
          while (code != 0) {
            val s = new StringBuilder
            var c = b.get
            while (c != 0) { s += c.toChar; c = b.get }
            if (code == 'M') m = s.result()
            if (code == 'C') state = s.result()
            code = b.get
          }
          errs += s"[$state] $m"
        case _ => ()
      }
      (desc.result(), rows.result(), errs.result())
    }

    private def collectExtended(): (Seq[Char], Seq[Seq[String]], Seq[String]) = {
      val types = Seq.newBuilder[Char]
      val rows = Seq.newBuilder[Seq[String]]
      val errs = Seq.newBuilder[String]
      drainUntilReady().foreach {
        case ('D', p) =>
          types += 'D'
          val b = java.nio.ByteBuffer.wrap(p)
          val n = b.getShort
          rows += (0 until n).map { _ =>
            val len = b.getInt
            if (len < 0) null
            else { val bs = new Array[Byte](len); b.get(bs); new String(bs, UTF_8) }
          }
        case ('E', p) =>
          types += 'E'
          val b = java.nio.ByteBuffer.wrap(p)
          var code = b.get
          while (code != 0) {
            val s = new StringBuilder
            var c = b.get
            while (c != 0) { s += c.toChar; c = b.get }
            if (code == 'M') errs += s.result()
            code = b.get
          }
        case (t, _) => types += t
      }
      (types.result(), rows.result(), errs.result())
    }

    /** Pipelines Parse + Bind of `sql` into portal "pc", then the given
      * Execute(maxRows)/Close sequence, Sync last; returns the ordered
      * reply stream with DataRow cells joined by '|', CommandComplete as
      * its tag, errors as "[SQLSTATE] message" — the raw shape a cursor
      * client (PgJDBC setFetchSize) sees. */
    def portalSession(sql: String, ops: Seq[Either[Int, Unit]]): Seq[(Char, String)] = {
      sendMsg('P') { d => cs(d, "sc"); cs(d, sql); d.writeShort(0) }
      sendMsg('B') { d => cs(d, "pc"); cs(d, "sc"); d.writeShort(0); d.writeShort(0); d.writeShort(0) }
      ops.foreach {
        case Left(maxRows) => sendMsg('E') { d => cs(d, "pc"); d.writeInt(maxRows) }
        case Right(()) => sendMsg('C') { d => d.writeByte('P'); cs(d, "pc") }
      }
      sendMsg('S')(_ => ())
      out.flush()
      drainUntilReady().collect {
        case ('D', p) =>
          val b = java.nio.ByteBuffer.wrap(p)
          val n = b.getShort
          ('D', (0 until n).map { _ =>
            val len = b.getInt
            if (len < 0) "NULL"
            else { val bs = new Array[Byte](len); b.get(bs); new String(bs, UTF_8) }
          }.mkString("|"))
        case ('C', p) => ('C', new String(p, 0, p.length - 1, UTF_8))
        case ('E', p) =>
          val b = java.nio.ByteBuffer.wrap(p)
          var code = b.get
          var state = ""; var m = ""
          while (code != 0) {
            val s = new StringBuilder
            var c = b.get
            while (c != 0) { s += c.toChar; c = b.get }
            if (code == 'M') m = s.result()
            if (code == 'C') state = s.result()
            code = b.get
          }
          ('E', s"[$state] $m")
        case (t, _) if t == 's' || t == '3' || t == 'Z' => (t, "")
      }
    }
  }

  test("startup + typed simple query round-trip") {
    val c = new Client
    try {
      val (cols, rows, tags, errs) = c.query(
        "SELECT CAST(1 AS INT) AS i, CAST(2 AS BIGINT) AS l, CAST(2.5 AS DOUBLE) AS d, " +
          "'hi' AS s, true AS b, CAST(NULL AS BIGINT) AS n, DATE '2023-05-01' AS dt")
      assert(errs.isEmpty, errs)
      assert(cols === Seq("i", "l", "d", "s", "b", "n", "dt"))
      assert(rows === Seq(Seq("1", "2", "2.5", "hi", "t", null, "2023-05-01")))
      assert(tags === Seq("SELECT 1"))
      // a read that starts with `(` returns its rows
      val (_, rows2, tags2, errs2) = c.query("(SELECT 1 AS a) UNION ALL (SELECT 2 AS a)")
      assert(errs2.isEmpty && rows2 === Seq(Seq("1"), Seq("2")) && tags2 === Seq("SELECT 2"),
        (rows2, tags2, errs2))
    } finally c.close()
  }

  test("writes execute and are visible to later reads on the same connection") {
    val c = new Client
    try {
      val (_, _, tags, errs) = c.query(
        "CREATE TABLE pgt (a BIGINT, s VARCHAR); INSERT INTO pgt VALUES (1, 'x'), (2, NULL); " +
          "SELECT a, s FROM pgt ORDER BY a")
      assert(errs.isEmpty, errs)
      assert(tags.exists(_.startsWith("SELECT 2")), tags)
      val (_, rows, _, _) = c.query("SELECT COUNT(*) AS n FROM pgt")
      assert(rows === Seq(Seq("2")))
    } finally c.close()
  }

  test("simple-query EXPLAIN ANALYZE answers execute's rows under the statement's job group") {
    val c = new Client
    try {
      val (_, _, _, errs0) = c.query("CREATE TABLE ea_pg (id BIGINT); INSERT INTO ea_pg VALUES (1), (2), (3)")
      assert(errs0.isEmpty, errs0)
      val sql = "EXPLAIN ANALYZE SELECT id FROM ea_pg WHERE id > 1"
      val ((cols, rows, _, errs), groups) = jobGroupsDuring(c.query(sql))
      assert(errs.isEmpty, errs)
      assert(cols === Seq("operator", "metric", "value"))
      assert(rows.exists(r => r(1) == "numOutputRows" && r(2) == "2"), rows)
      assert(groups.nonEmpty && groups.forall(g => g != null && g.startsWith("pg")), groups)
      val viaExecute = ctx.execute(sql).collect().map(r => Seq(r.getString(0), r.getString(1)))
      assert(rows.map(_.take(2)) === viaExecute.toSeq)
    } finally c.close()
  }

  test("an error keeps the connection usable") {
    val c = new Client
    try {
      val (_, _, _, errs) = c.query("SELECT * FROM no_such_table_pg")
      assert(errs.nonEmpty)
      val (_, rows, _, errs2) = c.query("SELECT 41 + 1 AS v")
      assert(errs2.isEmpty && rows === Seq(Seq("42")))
    } finally c.close()
  }

  test("extended protocol: Parse/Bind/Describe/Execute round-trip") {
    val c = new Client
    try {
      val (types, rows, errs) = c.extendedQuery("SELECT 7 AS x, 'y' AS s")
      assert(errs.isEmpty, errs)
      // ParseComplete, BindComplete, RowDescription, DataRow, CommandComplete, CloseComplete, ReadyForQuery
      assert(types.containsSlice(Seq('1', '2', 'T', 'D', 'C', '3', 'Z')), types)
      assert(rows === Seq(Seq("7", "y")))
      val (_, urows, uerrs) = c.extendedQuery("(SELECT 1 AS a) UNION ALL (SELECT 2 AS a)")
      assert(uerrs.isEmpty && urows === Seq(Seq("1"), Seq("2")), (urows, uerrs))
      // bound parameters are rejected with a clear error, and the
      // connection recovers after Sync
      val (_, _, errs2) = c.extendedQuery("SELECT 1 AS one") // still usable
      assert(errs2.isEmpty)
    } finally c.close()
  }

  test("extended protocol: $1/$2 text-format binds substitute as typed literals") {
    val c = new Client
    try {
      // int8 + text params; quote-needing string round-trips escaped
      val (types, rows, errs) = c.extendedQueryParams(
        "SELECT $1 + 1 AS v, $2 AS s", Seq(20, 25), Seq(Some("41"), Some("it's")))
      assert(errs.isEmpty, errs)
      // 't' = ParameterDescription from Describe-statement
      assert(types.containsSlice(Seq('1', '2', 't', 'T', 'D', 'C', '3', 'Z')), types)
      assert(rows === Seq(Seq("42", "it's")))
      // $1 inside a string literal is NOT rewritten; NULL binds as NULL
      val (_, rows2, errs2) = c.extendedQueryParams(
        "SELECT '$1 stays' AS lit, $1 AS p", Seq(25), Seq(None))
      assert(errs2.isEmpty, errs2)
      assert(rows2 === Seq(Seq("$1 stays", null)))
      // date/timestamp/bool OIDs produce typed literals usable in predicates
      val (_, rows3, errs3) = c.extendedQueryParams(
        "SELECT CAST($1 AS STRING) AS d, $2 AS b", Seq(1082, 16),
        Seq(Some("2024-02-29"), Some("t")))
      assert(errs3.isEmpty, errs3)
      assert(rows3 === Seq(Seq("2024-02-29", "t")))
    } finally c.close()
  }

  test("extended protocol: binds drive predicates against a real table") {
    val c = new Client
    try {
      c.query("CREATE TABLE pgp (a BIGINT, s VARCHAR); " +
        "INSERT INTO pgp VALUES (1, 'x'), (2, 'y'), (3, 'z')")
      val (_, rows, errs) = c.extendedQueryParams(
        "SELECT s FROM pgp WHERE a >= $1 ORDER BY a", Seq(20), Seq(Some("2")))
      assert(errs.isEmpty, errs)
      assert(rows === Seq(Seq("y"), Seq("z")))
      // numeric parameter validation rejects an injection-shaped value
      val (_, _, errs2) = c.extendedQueryParams(
        "SELECT s FROM pgp WHERE a = $1", Seq(20), Seq(Some("1 OR 1=1")))
      assert(errs2.exists(_.contains("invalid numeric parameter")), errs2)
      // connection recovers after Sync
      val (_, rows3, errs3) = c.extendedQuery("SELECT 1 AS one")
      assert(errs3.isEmpty && rows3 === Seq(Seq("1")))
    } finally c.close()
  }

  test("extended protocol: a statement executed with a second bound value compiles nothing") {
    val tctx = new GraftContext(tuned, tmpDir("graft-pg-bind"))
    val tfe = new PgFrontend(tctx, 0)
    tfe.start()
    val c = new Client(tfe.boundPort)
    try {
      c.query("CREATE TABLE pgb (a BIGINT, s VARCHAR); INSERT INTO pgb VALUES (1, 'x'), (2, 'y'), (3, 'z')")
      val sql = "SELECT s FROM pgb WHERE a >= $1 AND a < $2 ORDER BY a"
      val (_, rows, errs) = c.extendedQueryParams(sql, Seq(20, 20), Seq(Some("1"), Some("3")))
      assert(errs.isEmpty && rows === Seq(Seq("x"), Seq("y")), (rows, errs))
      assert(compiles {
        val (_, rows2, errs2) = c.extendedQueryParams(sql, Seq(20, 20), Seq(Some("2"), Some("9")))
        assert(errs2.isEmpty && rows2 === Seq(Seq("y"), Seq("z")), (rows2, errs2))
      } === 0)
    } finally { c.close(); tfe.stop() }
  }

  test("extended protocol: an UPDATE bound with an apostrophe changes its row") {
    val c = new Client
    try {
      c.query("CREATE TABLE pgap (id BIGINT, s VARCHAR); INSERT INTO pgap VALUES (1, 'a'), (2, 'b')")
      val (_, _, errs) = c.extendedQueryParams(
        "UPDATE pgap SET s = $1 WHERE id = $2", Seq(25, 20), Seq(Some("O'Brien"), Some("2")))
      assert(errs.isEmpty, errs)
      val (_, rows, _, errs2) = c.query("SELECT id, s FROM pgap ORDER BY id")
      assert(errs2.isEmpty, errs2)
      assert(rows === Seq(Seq("1", "a"), Seq("2", "O'Brien")))
    } finally c.close()
  }

  test("extended protocol: binary-format binds decode by declared OID (psycopg3 default)") {
    val c = new Client
    try {
      def be64(v: Long) = java.nio.ByteBuffer.allocate(8).putLong(v).array()
      def be32(v: Int) = java.nio.ByteBuffer.allocate(4).putInt(v).array()
      def be16(v: Short) = java.nio.ByteBuffer.allocate(2).putShort(v).array()
      def bef8(v: Double) = java.nio.ByteBuffer.allocate(8).putDouble(v).array()
      val (_, rows, errs) = c.extendedQueryBinParams(
        "SELECT $1 + 1 AS i8, $2 + 0 AS i4, $3 + 0 AS i2, $4 * 2.0 AS f8, $5 AS b, $6 AS t",
        Seq(20, 23, 21, 701, 16, 25),
        Seq(Some(be64(41L)), Some(be32(7)), Some(be16(3.toShort)), Some(bef8(1.25)),
          Some(Array(1.toByte)), Some("héllo".getBytes(UTF_8))))
      assert(errs.isEmpty, errs)
      // 1.25 arrives as the decimal literal "1.25" → DECIMAL math scale 3
      assert(rows === Seq(Seq("42", "7", "3", "2.500", "t", "héllo")))
      // binary NULL binds as NULL regardless of format
      val (_, rowsN, errsN) = c.extendedQueryBinParams(
        "SELECT $1 AS p", Seq(20), Seq(None))
      assert(errsN.isEmpty, errsN)
      assert(rowsN === Seq(Seq(null)))
      // an OID without a carried binary codec raises 0A000 with a
      // use-text hint instead of misreading the bytes (1186 = interval)
      val (_, _, errs2) = c.extendedQueryBinParams(
        "SELECT $1 AS x", Seq(1186), Seq(Some(be64(1L))))
      assert(errs2.exists(_.contains("use text format")), errs2)
      // so does a binary value whose param type was never declared
      // (oid 0): the server has no way to interpret the bytes
      val (_, _, errs0) = c.extendedQueryBinParams(
        "SELECT $1 AS x", Seq(), Seq(Some("x".getBytes(UTF_8))))
      assert(errs0.exists(_.contains("use text format")), errs0)
      // a wrong-width value is rejected, and the connection recovers
      val (_, _, errs3) = c.extendedQueryBinParams(
        "SELECT $1 AS x", Seq(20), Seq(Some(be32(1))))
      assert(errs3.exists(_.contains("8 bytes")), errs3)
      val (_, rows4, errs4) = c.extendedQuery("SELECT 1 AS one")
      assert(errs4.isEmpty && rows4 === Seq(Seq("1")))
    } finally c.close()
  }

  test("extended protocol: binary numeric/date/timestamp binds (psycopg3 prepared-statement OIDs)") {
    val c = new Client
    try {
      def be64(v: Long) = java.nio.ByteBuffer.allocate(8).putLong(v).array()
      def be32(v: Int) = java.nio.ByteBuffer.allocate(4).putInt(v).array()
      // numeric 1700: base-10000 digit groups; -1234.567800 is
      // [ndigits=3, weight=0, sign=0x4000, dscale=6, 1234 5678 0]
      def numeric(groups: Seq[Int], weight: Int, neg: Boolean, dscale: Int) = {
        val bb = java.nio.ByteBuffer.allocate(8 + 2 * groups.size)
        bb.putShort(groups.size.toShort).putShort(weight.toShort)
          .putShort(if (neg) 0x4000.toShort else 0.toShort).putShort(dscale.toShort)
        groups.foreach(g => bb.putShort(g.toShort))
        bb.array()
      }
      val pgEpochSec = 946684800L // 2000-01-01T00:00:00Z
      val dateDays = java.time.LocalDate.of(1998, 7, 14).toEpochDay -
        java.time.LocalDate.of(2000, 1, 1).toEpochDay
      val tsMicros = (java.time.Instant.parse("2024-02-29T12:34:56.789012Z")
        .getEpochSecond - pgEpochSec) * 1000000L + 789012L
      val (_, rows, errs) = c.extendedQueryBinParams(
        "SELECT $1 AS num, $2 + 1 AS num1, CAST($3 AS STRING) AS dt, CAST($4 AS STRING) AS ts, CAST($5 AS STRING) AS tstz",
        Seq(1700, 1700, 1082, 1114, 1184),
        Seq(Some(numeric(Seq(1234, 5678, 0), weight = 0, neg = true, dscale = 6)),
          Some(numeric(Seq(42), weight = 0, neg = false, dscale = 0)),
          Some(be32(dateDays.toInt)), Some(be64(tsMicros)), Some(be64(tsMicros))))
      assert(errs.isEmpty, errs)
      assert(rows === Seq(Seq("-1234.567800", "43", "1998-07-14",
        "2024-02-29 12:34:56.789012", "2024-02-29 12:34:56.789012")))
      // negative-microsecond epoch (pre-2000 timestamp) floors correctly
      val (_, rowsP, errsP) = c.extendedQueryBinParams(
        "SELECT CAST($1 AS STRING) AS ts", Seq(1114),
        Seq(Some(be64(-1L)))) // 1 µs before the pg epoch
      assert(errsP.isEmpty, errsP)
      assert(rowsP === Seq(Seq("1999-12-31 23:59:59.999999")))
    } finally c.close()
  }

  test("extended protocol: binary RESULT columns honor Bind's format codes") {
    val c = new Client
    try {
      def be16(v: Short) = java.nio.ByteBuffer.allocate(2).putShort(v).array()
      def be32(v: Int) = java.nio.ByteBuffer.allocate(4).putInt(v).array()
      def be64(v: Long) = java.nio.ByteBuffer.allocate(8).putLong(v).array()
      def bef8(v: Double) = java.nio.ByteBuffer.allocate(8).putDouble(v).array()
      val (desc, rows, errs) = c.extendedQueryBinResults(
        "SELECT CAST(7 AS INT) AS i4, CAST(-42 AS BIGINT) AS i8, CAST(1.25 AS DOUBLE) AS f8, " +
          "true AS b, 'héllo' AS t, CAST(NULL AS BIGINT) AS n, X'DEADBEEF' AS by",
        resFmts = Seq(1))
      assert(errs.isEmpty, errs)
      // RowDescription echoes the portal's binary format on every column
      assert(desc.map(_._2) === Seq(1, 1, 1, 1, 1, 1, 1), desc)
      assert(desc.map(_._1) === Seq(23, 20, 701, 16, 25, 20, 17), desc)
      val r = rows.head
      assert(r(0).toSeq === be32(7).toSeq)
      assert(r(1).toSeq === be64(-42L).toSeq)
      assert(r(2).toSeq === bef8(1.25).toSeq)
      assert(r(3).toSeq === Seq[Byte](1))
      assert(r(4).toSeq === "héllo".getBytes(UTF_8).toSeq) // binary text = utf8 bytes
      assert(r(5) === null) // NULL is format-independent (-1 length)
      assert(r(6).toSeq === Seq(0xDE, 0xAD, 0xBE, 0xEF).map(_.toByte)) // bytea raw
      // per-column codes: text, binary
      val (desc2, rows2, errs2) = c.extendedQueryBinResults(
        "SELECT CAST(5 AS INT) AS a, CAST(6 AS INT) AS b", resFmts = Seq(0, 1))
      assert(errs2.isEmpty, errs2)
      assert(desc2.map(_._2) === Seq(0, 1))
      assert(rows2.head(0).toSeq === "5".getBytes(UTF_8).toSeq)
      assert(rows2.head(1).toSeq === be32(6).toSeq)
      // date/timestamp: pg-epoch-relative binary images
      val days = (java.time.LocalDate.of(1998, 7, 14).toEpochDay -
        java.time.LocalDate.of(2000, 1, 1).toEpochDay).toInt
      val us = (java.time.Instant.parse("2024-02-29T12:34:56.789012Z").getEpochSecond -
        946684800L) * 1000000L + 789012L
      val (_, rows3, errs3) = c.extendedQueryBinResults(
        "SELECT DATE '1998-07-14' AS d, TIMESTAMP '2024-02-29 12:34:56.789012' AS ts",
        resFmts = Seq(1))
      assert(errs3.isEmpty, errs3)
      assert(rows3.head(0).toSeq === be32(days).toSeq)
      assert(rows3.head(1).toSeq === be64(us).toSeq)
      // numeric: base-10000 groups, fraction padded to a group boundary
      def numeric(groups: Seq[Int], weight: Int, sign: Int, dscale: Int) = {
        val bb = java.nio.ByteBuffer.allocate(8 + 2 * groups.size)
        bb.putShort(groups.size.toShort).putShort(weight.toShort)
          .putShort(sign.toShort).putShort(dscale.toShort)
        groups.foreach(g => bb.putShort(g.toShort))
        bb.array().toSeq
      }
      val (_, rows4, errs4) = c.extendedQueryBinResults(
        "SELECT CAST(-1234.5678 AS DECIMAL(10,4)) AS a, CAST(0.5 AS DECIMAL(5,1)) AS b, " +
          "CAST(0 AS DECIMAL(5,2)) AS z", resFmts = Seq(1))
      assert(errs4.isEmpty, errs4)
      assert(rows4.head(0).toSeq === numeric(Seq(1234, 5678), weight = 0, sign = 0x4000, dscale = 4))
      assert(rows4.head(1).toSeq === numeric(Seq(5000), weight = -1, sign = 0, dscale = 1))
      assert(rows4.head(2).toSeq === numeric(Seq(), weight = 0, sign = 0, dscale = 2))
      // smallint column (oid 21) encodes as int16
      val (_, rows5, errs5) = c.extendedQueryBinResults(
        "SELECT CAST(300 AS SMALLINT) AS s", resFmts = Seq(1))
      assert(errs5.isEmpty, errs5)
      assert(rows5.head(0).toSeq === be16(300.toShort).toSeq)
    } finally c.close()
  }

  test("binary wire round-trip: pgBinary results re-bind as binary params unchanged") {
    val c = new Client
    try {
      // fetch binary images, feed each straight back as a binary PARAMETER
      // of the same OID — the decode (binaryToText) must invert the encode
      val (_, rows, errs) = c.extendedQueryBinResults(
        "SELECT CAST(-1234.5678 AS DECIMAL(10,4)) AS n, DATE '1998-07-14' AS d, " +
          "TIMESTAMP '2024-02-29 12:34:56.789012' AS ts", resFmts = Seq(1))
      assert(errs.isEmpty, errs)
      val Seq(num, dt, ts) = rows.head.toSeq
      val (_, rows2, errs2) = c.extendedQueryBinResults(
        "SELECT CAST($1 AS STRING) AS n, CAST($2 AS STRING) AS d, CAST($3 AS STRING) AS ts",
        resFmts = Seq(0), oids = Seq(1700, 1082, 1114),
        binParams = Seq(Some(num), Some(dt), Some(ts)))
      assert(errs2.isEmpty, errs2)
      assert(rows2.head.map(b => new String(b, UTF_8)) ===
        Seq("-1234.5678", "1998-07-14", "2024-02-29 12:34:56.789012"))
    } finally c.close()
  }

  test("binary decode failures carry SQLSTATE 22P03 (invalid binary representation)") {
    val c = new Client
    try {
      def be32(v: Int) = java.nio.ByteBuffer.allocate(4).putInt(v).array()
      // wrong width for int8
      val (_, _, errs) = c.extendedQueryBinResults(
        "SELECT $1 AS x", resFmts = Seq(0), oids = Seq(20), binParams = Seq(Some(be32(1))))
      assert(errs.exists(e => e.startsWith("[22P03]") && e.contains("8 bytes")), errs)
      // pg14+ binary numeric Infinity sign word is REJECTED (not read as 0)
      def numInf(sign: Int) = {
        val bb = java.nio.ByteBuffer.allocate(8)
        bb.putShort(0).putShort(0).putShort(sign.toShort).putShort(0)
        bb.array()
      }
      val (_, _, errsI) = c.extendedQueryBinResults(
        "SELECT $1 AS x", resFmts = Seq(0), oids = Seq(1700), binParams = Seq(Some(numInf(0xD000))))
      assert(errsI.exists(e => e.startsWith("[22P03]") && e.contains("Infinity")), errsI)
      val (_, _, errsNI) = c.extendedQueryBinResults(
        "SELECT $1 AS x", resFmts = Seq(0), oids = Seq(1700), binParams = Seq(Some(numInf(0xF000))))
      assert(errsNI.exists(e => e.startsWith("[22P03]") && e.contains("Infinity")), errsNI)
      // unknown sign word likewise 22P03, naming the word
      val (_, _, errsU) = c.extendedQueryBinResults(
        "SELECT $1 AS x", resFmts = Seq(0), oids = Seq(1700), binParams = Seq(Some(numInf(0x1234))))
      assert(errsU.exists(e => e.startsWith("[22P03]") && e.contains("0x1234")), errsU)
      // TEXT-format failures stay 22P02 (distinct SQLSTATE)
      val (_, _, errsT) = c.extendedQueryParams(
        "SELECT $1 + 1 AS x", Seq(20), Seq(Some("not-a-number")))
      assert(errsT.exists(_.contains("invalid numeric parameter")), errsT)
      // connection remains usable
      val (_, rowsOk, errsOk) = c.extendedQuery("SELECT 1 AS one")
      assert(errsOk.isEmpty && rowsOk === Seq(Seq("1")))
    } finally c.close()
  }

  test("result-format count/code violations are 08P01 protocol errors, not XX000") {
    val c = new Client
    try {
      // 2 format codes for a 3-column result: neither 0, 1, nor ncols —
      // pg's Bind-time validation; here detected at Describe (the first
      // point the column count is known), never an IndexOutOfBounds
      val (_, _, errs) = c.extendedQueryBinResults(
        "SELECT 1 AS a, 2 AS b, 3 AS c", resFmts = Seq(1, 0))
      assert(errs.exists(e => e.startsWith("[08P01]") && e.contains("2 result formats")), errs)
      // an unknown format CODE is rejected at Bind itself
      val (_, _, errs2) = c.extendedQueryBinResults("SELECT 1 AS a", resFmts = Seq(2))
      assert(errs2.exists(e => e.startsWith("[08P01]") && e.contains("format code 2")), errs2)
      // a WRITE portal has 0 result columns: >1 format codes is 08P01
      // there too (pg validates against the 0-column shape), and the
      // write must NOT execute
      val (_, _, errs3) = c.extendedQueryBinResults(
        "CREATE TABLE fmtv (id BIGINT)", resFmts = Seq(1, 0))
      assert(errs3.exists(_.startsWith("[08P01]")), errs3)
      val (_, _, errs4) = c.extendedQuery("SELECT COUNT(*) AS n FROM fmtv")
      assert(errs4.nonEmpty, "table must not exist after the rejected Execute")
      // connection remains usable afterwards
      val (_, rowsOk, errsOk) = c.extendedQuery("SELECT 1 AS one")
      assert(errsOk.isEmpty && rowsOk === Seq(Seq("1")))
    } finally c.close()
  }

  test("arrays render as pg array literals") {
    val c = new Client
    try {
      val (_, rows, _, errs) = c.query("SELECT array(1, 2, 3) AS xs, array('a b', 'c') AS ss")
      assert(errs.isEmpty, errs)
      assert(rows === Seq(Seq("{1,2,3}", "{\"a b\",c}")))
    } finally c.close()
  }

  test("cursor suspension: Execute row limit suspends, re-Execute resumes with row accounting") {
    val c = new Client
    try {
      // 5 ordered rows fetched 2-2-1: two PortalSuspended then the final
      // CommandComplete carries the TOTAL retrieved (rowcount semantics);
      // a further Execute on the finished portal returns no rows, same tag
      val r = c.portalSession(
        "SELECT * FROM (VALUES (1),(2),(3),(4),(5)) AS t(n) ORDER BY n",
        Seq(Left(2), Left(2), Left(2), Left(2)))
      val shape = r.map { case (t, s) => if (t == 'D') s"D:$s" else if (t == 's') "s" else if (t == 'C') s"C:$s" else t.toString }
      assert(shape.containsSlice(Seq("D:1", "D:2", "s", "D:3", "D:4", "s", "D:5", "C:SELECT 5", "C:SELECT 5")), shape)
      // maxRows = 0 on a fresh portal still fetches everything, no suspend
      val all = c.portalSession("SELECT * FROM (VALUES (7),(8)) AS t(n) ORDER BY n", Seq(Left(0)))
      assert(all.map(_._1).count(_ == 'D') === 2, all)
      assert(all.exists { case (t, s) => t == 'C' && s == "SELECT 2" }, all)
      assert(!all.exists(_._1 == 's'), all)
    } finally c.close()
  }

  test("cursor suspension: Close mid-portal discards it; re-Execute is 34000") {
    val c = new Client
    try {
      val r = c.portalSession(
        "SELECT * FROM (VALUES (1),(2),(3)) AS t(n) ORDER BY n",
        Seq(Left(1), Right(()), Left(1)))
      val types = r.map(_._1)
      // one row, suspended, CloseComplete, then the resumed Execute fails
      assert(types.containsSlice(Seq('D', 's', '3', 'E')), r)
      assert(r.collect { case ('E', m) => m }.exists(_.contains("[34000]")), r)
      assert(r.count(_._1 == 'D') === 1, r)
    } finally c.close()
  }

  // a cross join far too large to finish (1e12 combinations on 4 local
  // cores ≈ tens of minutes) — the runaway statement the cancellation
  // machinery exists for
  private val runawaySql =
    "SELECT max(a.id * b.id) AS m FROM range(1000000) a CROSS JOIN range(1000000) b"

  test("CancelRequest kills a running statement mid-flight; session stays usable") {
    val c = new Client
    try {
      assert(c.backendPid > 0, "BackendKeyData must carry a real pid")
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration._
      import scala.concurrent.ExecutionContext.Implicits.global
      val fut = Future(c.query(runawaySql))
      // wait until the query's Spark jobs are actually running
      val t0 = System.nanoTime()
      while (spark.sparkContext.statusTracker.getActiveJobIds().isEmpty
             && (System.nanoTime() - t0) < 30e9) Thread.sleep(20)
      assert(spark.sparkContext.statusTracker.getActiveJobIds().nonEmpty,
        "runaway query never started a job")
      // CancelRequest on a NEW connection with the backend key (the pg
      // cancel protocol: len=16, code 80877102, pid, secret)
      val s2 = new Socket("127.0.0.1", fe.boundPort)
      val o2 = new DataOutputStream(s2.getOutputStream)
      o2.writeInt(16); o2.writeInt(80877102)
      o2.writeInt(c.backendPid); o2.writeInt(c.backendSecret)
      o2.flush(); s2.close()
      // the statement must die promptly (it would otherwise run ~1e12 rows)
      val (_, _, _, errs) = Await.result(fut, 60.seconds)
      assert(errs.exists(_.toLowerCase.contains("cancel")), errs)
      // the scheduler drains: no jobs left running from the dead statement
      val t1 = System.nanoTime()
      while (spark.sparkContext.statusTracker.getActiveJobIds().nonEmpty
             && (System.nanoTime() - t1) < 30e9) Thread.sleep(50)
      assert(spark.sparkContext.statusTracker.getActiveJobIds().isEmpty,
        "cancelled statement left active jobs in the scheduler")
      // the session survives its cancelled statement
      val (_, rows, _, errs2) = c.query("SELECT 1 AS one")
      assert(errs2.isEmpty && rows === Seq(Seq("1")), (rows, errs2))
    } finally c.close()
  }

  test("a mismatched cancel secret is ignored (statement keeps running)") {
    val c = new Client
    try {
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration._
      import scala.concurrent.ExecutionContext.Implicits.global
      val fut = Future(c.query(runawaySql))
      val t0 = System.nanoTime()
      while (spark.sparkContext.statusTracker.getActiveJobIds().isEmpty
             && (System.nanoTime() - t0) < 30e9) Thread.sleep(20)
      val s2 = new Socket("127.0.0.1", fe.boundPort)
      val o2 = new DataOutputStream(s2.getOutputStream)
      o2.writeInt(16); o2.writeInt(80877102)
      o2.writeInt(c.backendPid); o2.writeInt(c.backendSecret + 1) // wrong secret
      o2.flush(); s2.close()
      // the statement must still be making progress afterwards (poll past
      // the gap between its broadcast job and its main job)
      Thread.sleep(500)
      val tp = System.nanoTime()
      while (spark.sparkContext.statusTracker.getActiveJobIds().isEmpty
             && !fut.isCompleted && (System.nanoTime() - tp) < 20e9) Thread.sleep(50)
      assert(spark.sparkContext.statusTracker.getActiveJobIds().nonEmpty && !fut.isCompleted,
        "a forged CancelRequest must not kill the statement")
      // now cancel for real so the suite doesn't wait out the cross join
      val s3 = new Socket("127.0.0.1", fe.boundPort)
      val o3 = new DataOutputStream(s3.getOutputStream)
      o3.writeInt(16); o3.writeInt(80877102)
      o3.writeInt(c.backendPid); o3.writeInt(c.backendSecret)
      o3.flush(); s3.close()
      val (_, _, _, errs) = Await.result(fut, 60.seconds)
      assert(errs.exists(_.toLowerCase.contains("cancel")), errs)
    } finally c.close()
  }

  test("per-statement timeout cancels a runaway query with SQLSTATE 57014") {
    // 5 s: the timeout covers the WHOLE statement (snapshot build +
    // planning + jobs) — a cold snapshot rebuild alone can cost ~2 s in
    // the loaded suite JVM, so a tighter bound cancels innocent queries
    val tfe = new PgFrontend(ctx, 0, statementTimeoutMs = 5000)
    tfe.start()
    val c = new Client(tfe.boundPort)
    try {
      val t0 = System.nanoTime()
      val (_, _, _, errs) = c.query(runawaySql)
      val elapsedSec = (System.nanoTime() - t0) / 1e9
      assert(errs.exists(_.contains("timeout")), errs)
      assert(elapsedSec < 45, s"timeout took ${elapsedSec}s to fire")
      // connection stays usable after its timed-out statement
      val (_, rows, _, errs2) = c.query("SELECT 2 AS two")
      assert(errs2.isEmpty && rows === Seq(Seq("2")), (rows, errs2))
    } finally { c.close(); tfe.stop() }
  }

  test("a timed-out statement's tasks free their slots before the connection's next statement") {
    // the cross join's killed tasks outlive its cancelled job; the
    // follow-up must not queue behind them into its own timeout
    val runawayStages = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(p =>
            String.valueOf(p.getProperty("spark.job.description")) == runawaySql))
          e.stageIds.foreach(runawayStages.add)
    }
    val st = spark.sparkContext.statusTracker
    def runawayTasks: Int = runawayStages.stream().mapToInt(s =>
      st.getStageInfo(s).map(_.numActiveTasks).getOrElse(0)).sum
    spark.sparkContext.addSparkListener(listener)
    val tfe = new PgFrontend(ctx, 0, statementTimeoutMs = 5000)
    tfe.start()
    val c = new Client(tfe.boundPort)
    try (1 to 3).foreach { round =>
      val (_, _, _, errs) = c.query(runawaySql)
      assert(errs.exists(_.contains("timeout")), (round, errs))
      // the error arrives only once the killed tasks have ended
      org.apache.spark.sql.GraftSessions.drainListeners(spark)
      assert(runawayStages.size > 0 && runawayTasks === 0, round)
      val (_, rows, _, errs2) = c.query("SELECT 2 AS two")
      assert(errs2.isEmpty && rows === Seq(Seq("2")), (round, rows, errs2))
    } finally { c.close(); tfe.stop(); spark.sparkContext.removeSparkListener(listener) }
  }
}

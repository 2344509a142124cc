package graft

import graft.sql.GraftContext

/** Statement-layer semantics, mirroring the reference's statements suite
  * (`tests/statements/{ddl,dml,query,time_travel}.rs`): the canonical
  * `test_table` fixture (FIXTURES.md §1), INSERT null-padding, DDL/DML,
  * time travel via `t('<ts>')`, system/information_schema views,
  * CREATE FUNCTION, COPY TO, external tables, multi-statement POST rules.
  */
class ContextSpec extends SparkSpec {

  private def ctx() = new GraftContext(spark, tmpDir("graft-ctx"))

  private val fixture =
    """CREATE TABLE test_table (
      |  some_time TIMESTAMP, some_value REAL,
      |  some_other_value NUMERIC, some_bool_value BOOLEAN, some_int_value BIGINT
      |)""".stripMargin

  test("create/insert with missing + reordered columns NULL-pads") {
    val c = ctx()
    c.execute(fixture)
    c.execute(
      """INSERT INTO test_table (some_int_value, some_other_value, some_time, some_value) VALUES
        |  (1111, 1.0, TIMESTAMP '2022-01-01 20:01:01', 42),
        |  (2222, 1.0, TIMESTAMP '2022-01-01 20:02:02', 43),
        |  (3333, 1.0, TIMESTAMP '2022-01-01 20:03:03', 44)""".stripMargin)
    val rows = c.execute("SELECT * FROM test_table ORDER BY some_int_value").collect()
    assert(rows.length === 3)
    assert(rows.forall(_.isNullAt(3))) // some_bool_value never inserted
    assert(rows.map(_.getAs[Float]("some_value")).toSeq === Seq(42f, 43f, 44f))
  }

  test("ctas, rename, drop, schemas") {
    val c = ctx()
    c.execute(fixture)
    c.execute("INSERT INTO test_table (some_int_value) VALUES (7)")
    c.execute("CREATE TABLE copied AS SELECT some_int_value FROM test_table")
    assert(c.execute("SELECT * FROM copied").count() === 1)
    c.execute("ALTER TABLE copied RENAME TO copied2")
    assert(c.execute("SELECT * FROM copied2").count() === 1)
    intercept[Exception](c.execute("SELECT * FROM copied").collect())
    c.execute("DROP TABLE copied2")
    assert(c.catalog.getTable("default", "public", "copied2").isEmpty)
    c.execute("CREATE SCHEMA extra")
    c.execute("CREATE TABLE extra.t2 (a BIGINT)")
    c.execute("INSERT INTO extra.t2 VALUES (5)")
    assert(c.execute("SELECT a FROM extra.t2").collect().head.getLong(0) === 5L)
  }

  test("update and delete through SQL with pruning semantics") {
    val c = ctx()
    c.execute("CREATE TABLE t (id BIGINT, v DOUBLE)")
    c.execute("INSERT INTO t VALUES (1, 1.0), (2, 2.0), (3, 3.0)")
    c.execute("UPDATE t SET v = v * 2 WHERE id >= 2")
    assert(c.execute("SELECT SUM(v) AS s FROM t").collect().head.getDouble(0) === 11.0)
    c.execute("UPDATE t SET v = CASE WHEN id = 1 THEN 100.0 ELSE v END")
    assert(c.execute("SELECT SUM(v) AS s FROM t").collect().head.getDouble(0) === 110.0)
    c.execute("DELETE FROM t WHERE id = 2")
    assert(c.execute("SELECT COUNT(*) AS n FROM t").collect().head.getLong(0) === 2L)
    c.execute("TRUNCATE TABLE t")
    assert(c.execute("SELECT COUNT(*) AS n FROM t").collect().head.getLong(0) === 0L)
  }

  test("time travel table-function syntax") {
    val c = ctx()
    c.execute("CREATE TABLE tt (v BIGINT)")
    c.execute("INSERT INTO tt VALUES (1)")
    Thread.sleep(20)
    val mid = java.time.Instant.now.toString
    Thread.sleep(20)
    c.execute("INSERT INTO tt VALUES (2)")
    assert(c.execute("SELECT COUNT(*) AS n FROM tt").collect().head.getLong(0) === 2L)
    assert(c.execute(s"SELECT COUNT(*) AS n FROM tt('$mid')").collect().head.getLong(0) === 1L)
    // writes FROM a time-travel reference (reference
    // tests/statements/time_travel.rs:225 — CTAS over version diffs)
    c.execute(s"CREATE TABLE tt_diff AS (SELECT v FROM tt EXCEPT SELECT v FROM tt('$mid'))")
    assert(c.execute("SELECT v FROM tt_diff").collect().map(_.getLong(0)).toSeq === Seq(2L))
  }

  test("CHECK constraints enforce on every write path, NULL passes") {
    val c = ctx()
    c.execute("CREATE TABLE ck (id BIGINT, v BIGINT)")
    c.execute("INSERT INTO ck VALUES (1, 10)")
    c.execute("ALTER TABLE ck ADD CONSTRAINT v_pos CHECK (v > 0)")
    // violating INSERT fails BEFORE commit; table unchanged
    intercept[Exception](c.execute("INSERT INTO ck VALUES (2, -5)"))
    assert(c.execute("SELECT COUNT(*) AS n FROM ck").collect()(0).getLong(0) === 1L)
    // NULL check result passes (SQL CHECK semantics)
    c.execute("INSERT INTO ck VALUES (3, NULL)")
    // violating UPDATE fails, state keeps the pre-update rows
    intercept[Exception](c.execute("UPDATE ck SET v = -1 WHERE id = 1"))
    assert(c.execute("SELECT v FROM ck WHERE id = 1").collect()(0).getLong(0) === 10L)
    // violating MERGE fails too (same write funnel)
    c.execute("CREATE TABLE d (id BIGINT, v BIGINT)")
    c.execute("INSERT INTO d VALUES (1, -9)")
    intercept[Exception](c.execute(
      "MERGE INTO ck USING d ON ck.id = d.id WHEN MATCHED THEN UPDATE SET v = d.v"))
    assert(c.execute("SELECT v FROM ck WHERE id = 1").collect()(0).getLong(0) === 10L)
    // adding a constraint existing data violates is rejected
    val e2 = intercept[Exception](
      c.execute("ALTER TABLE ck ADD CONSTRAINT v_big CHECK (v > 100)"))
    assert(e2.getMessage.contains("violate"))
    // the standard information_schema views expose the constraint
    val tc = c.execute(
      """SELECT tc.table_name, tc.constraint_name, tc.constraint_type, cc.check_clause
        |FROM information_schema.table_constraints tc
        |JOIN information_schema.check_constraints cc
        |  ON tc.constraint_name = cc.constraint_name""".stripMargin)
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2), r.getString(3)))
    assert(tc.toSeq === Seq(("ck", "v_pos", "CHECK", "v > 0")))
    // dropped constraint stops enforcing
    c.execute("ALTER TABLE ck DROP CONSTRAINT v_pos")
    c.execute("INSERT INTO ck VALUES (4, -1)")
    assert(c.execute("SELECT COUNT(*) AS n FROM ck").collect()(0).getLong(0) === 3L)
    c.execute("ALTER TABLE ck DROP CONSTRAINT IF EXISTS nope") // no error
  }

  test("table_changes SQL surface reads the version diff") {
    val c = ctx()
    c.execute("CREATE TABLE ch (id BIGINT, v BIGINT)")
    c.execute("INSERT INTO ch VALUES (1, 10), (2, 20)") // v1
    c.execute("UPDATE ch SET v = 99 WHERE id = 2")      // v2
    c.execute("DELETE FROM ch WHERE id = 1")            // v3
    val rows = c.execute(
      "SELECT _commit_version, _change_type, id, v FROM table_changes('ch', 1) ORDER BY 1, 2, 3")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(rows.toSeq === Seq(
      (2L, "delete", 2L, 20L), (2L, "insert", 2L, 99L),
      (3L, "delete", 1L, 10L)))
    // explicit upper bound excludes the delete commit
    val bounded = c.execute(
      "SELECT _change_type, id FROM table_changes('ch', 1, 2) ORDER BY 1")
      .collect().map(r => (r.getString(0), r.getLong(1)))
    assert(bounded.toSeq === Seq(("delete", 2L), ("insert", 2L)))
  }

  test("system tables and information_schema") {
    val c = ctx()
    c.execute(fixture)
    c.execute("INSERT INTO test_table (some_int_value) VALUES (1)")
    val versions = c.execute(
      "SELECT version FROM system.table_versions WHERE table_name = 'test_table' ORDER BY version")
      .collect().map(_.getLong(0)).toSeq
    assert(versions === Seq(0L, 1L))
    c.execute("DROP TABLE test_table")
    val dropped = c.execute("SELECT table_name FROM system.dropped_tables").collect()
    assert(dropped.map(_.getString(0)).toSeq === Seq("test_table"))
    c.execute("CREATE TABLE t2 (a BIGINT NOT NULL, b VARCHAR)")
    val cols = c.execute(
      "SELECT column_name, is_nullable FROM information_schema.columns WHERE table_name = 't2' ORDER BY ordinal_position")
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq
    assert(cols === Seq(("a", "NO"), ("b", "YES")))
    c.execute("""CREATE FUNCTION my_add AS '{"language": "sql", "input_types": ["BIGINT", "BIGINT"], "return_type": "BIGINT", "data": "$1 + $2"}'""")
    val routines = c.execute(
      "SELECT routine_name, routine_type FROM information_schema.routines").collect()
    assert(routines.map(r => (r.getString(0), r.getString(1))).toSeq === Seq(("my_add", "FUNCTION")))
    val settings = c.execute(
      "SELECT value FROM information_schema.df_settings WHERE name = 'spark.sql.session.timeZone'")
      .collect()
    assert(settings.map(_.getString(0)).toSeq === Seq("UTC"))
  }

  test("information_schema golden layout: all nine views present") {
    val c = ctx()
    c.execute("CREATE TABLE gt (a BIGINT)")
    c.execute("CREATE SCHEMA extra")
    c.execute("""CREATE FUNCTION gfn AS '{"language": "sql", "input_types": ["BIGINT", "DOUBLE"], "return_type": "DOUBLE", "data": "$1 + $2"}'""")
    // tables: information_schema's own views listed as VIEW rows, like the
    // reference golden layout (tests/statements/query.rs:15-31)
    val infoRows = c.execute(
      """SELECT table_schema, table_name, table_type FROM information_schema.tables
        |WHERE table_schema IN ('information_schema', 'system') ORDER BY table_schema, table_name""".stripMargin)
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2))).toSeq
    assert(infoRows === Seq(
      ("information_schema", "check_constraints", "VIEW"),
      ("information_schema", "columns", "VIEW"),
      ("information_schema", "df_settings", "VIEW"),
      ("information_schema", "parameters", "VIEW"),
      ("information_schema", "routines", "VIEW"),
      ("information_schema", "schemata", "VIEW"),
      ("information_schema", "table_constraints", "VIEW"),
      ("information_schema", "tables", "VIEW"),
      ("information_schema", "views", "VIEW"),
      ("system", "dropped_tables", "VIEW"),
      ("system", "table_versions", "VIEW")))
    assert(c.execute(
      "SELECT table_name FROM information_schema.tables WHERE table_type = 'BASE TABLE'")
      .collect().map(_.getString(0)).toSeq === Seq("gt"))
    // schemata: catalog schemas plus the synthesized ones
    val schemas = c.execute(
      "SELECT catalog_name, schema_name FROM information_schema.schemata ORDER BY schema_name")
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq
    assert(schemas === Seq(("default", "extra"), ("default", "information_schema"),
      ("default", "public"), ("default", "system")))
    // parameters: IN rows by position + the OUT result row per routine
    val params = c.execute(
      """SELECT specific_name, ordinal_position, parameter_mode, data_type
        |FROM information_schema.parameters ORDER BY ordinal_position""".stripMargin)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2), r.getString(3))).toSeq
    assert(params === Seq(
      ("gfn", 0L, "OUT", "DOUBLE"), ("gfn", 1L, "IN", "BIGINT"), ("gfn", 2L, "IN", "DOUBLE")))
    // views: empty (CREATE VIEW rejected for parity) but well-formed
    val v = c.execute("SELECT * FROM information_schema.views")
    assert(v.columns.toSeq === Seq("table_catalog", "table_schema", "table_name", "definition"))
    assert(v.count() === 0L)
  }

  test("vacuum database GCs dropped table storage") {
    val c = ctx()
    c.execute("CREATE TABLE gone (a BIGINT)")
    c.execute("INSERT INTO gone VALUES (1)")
    val uuid = c.catalog.getTable("default", "public", "gone").get
    c.execute("DROP TABLE gone")
    assert(java.nio.file.Files.isDirectory(java.nio.file.Paths.get(c.catalog.tableRoot(uuid))))
    c.execute("VACUUM DATABASE default")
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(c.catalog.tableRoot(uuid))))
    assert(c.catalog.droppedTables.isEmpty)
  }

  test("create function (sql language) registers a callable UDF") {
    val c = ctx()
    c.execute(
      """CREATE FUNCTION addtwo AS '{"entrypoint":"addtwo","language":"sql","input_types":["bigint","bigint"],"return_type":"bigint","data":"$1 + $2"}'""")
    assert(c.execute("SELECT addtwo(2, 3) AS r").collect().head.getLong(0) === 5L)
    intercept[Exception](c.execute(
      """CREATE FUNCTION addtwo AS '{"language":"sql","input_types":["bigint"],"return_type":"bigint","data":"$1"}'"""))
    c.execute(
      """CREATE OR REPLACE FUNCTION addtwo AS '{"language":"sql","input_types":["bigint","bigint"],"return_type":"bigint","data":"$1 + $2 + 1"}'""")
    assert(c.execute("SELECT addtwo(2, 3) AS r").collect().head.getLong(0) === 6L)
    c.execute("DROP FUNCTION addtwo")
    assert(c.catalog.functions.isEmpty)
  }

  test("copy to + external table round trip through staging") {
    val c = ctx()
    c.execute("CREATE TABLE src (a BIGINT, b VARCHAR)")
    c.execute("INSERT INTO src VALUES (1, 'x'), (2, 'y')")
    val out = tmpDir("graft-copy") + "/export"
    c.execute(s"COPY src TO '$out'")
    c.execute(s"CREATE EXTERNAL TABLE ext STORED AS PARQUET LOCATION '$out'")
    assert(c.execute("SELECT COUNT(*) AS n FROM staging.ext").collect().head.getLong(0) === 2L)
  }

  test("partitioned external tables: declared cols validate against the layout and prune") {
    val c = ctx()
    import spark.implicits._
    val base = tmpDir("graft-pext")
    // hive-style layout: src=a/... src=b/... with 3 rows each
    (1 to 6).map(i => (i.toLong, if (i <= 3) "a" else "b")).toDF("id", "src")
      .write.partitionBy("src").parquet(s"$base/part")
    c.execute(s"CREATE EXTERNAL TABLE pext STORED AS PARQUET PARTITIONED BY (src) LOCATION '$base/part'")
    val df = c.executeRead("SELECT id FROM staging.pext WHERE src = 'a'")
    assert(df.collect().map(_.getLong(0)).sorted.toSeq === Seq(1L, 2L, 3L))
    // the filter must prune at PARTITION level (no data filter on src —
    // it never reaches row evaluation), reading only the one directory
    val scans = df.queryExecution.executedPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }
    assert(scans.nonEmpty)
    assert(scans.head.partitionFilters.exists(_.toString.contains("src")),
      scans.head.partitionFilters.toString)
    assert(scans.head.relation.location.listFiles(
      scans.head.partitionFilters, Nil).length === 1)
    // declaring a column the layout doesn't have fails at CREATE
    val e1 = intercept[IllegalArgumentException](c.execute(
      s"CREATE EXTERNAL TABLE bad1 STORED AS PARQUET PARTITIONED BY (nope) LOCATION '$base/part'"))
    assert(e1.getMessage.contains("does not match the partition layout"), e1.getMessage)
    // declaring partitions over a FLAT directory fails too
    (1 to 2).map(i => (i.toLong, s"v$i")).toDF("id", "v").write.parquet(s"$base/flat")
    val e2 = intercept[IllegalArgumentException](c.execute(
      s"CREATE EXTERNAL TABLE bad2 STORED AS PARQUET PARTITIONED BY (src) LOCATION '$base/flat'"))
    assert(e2.getMessage.contains("none"), e2.getMessage)
    // non-file formats reject the clause
    val e3 = intercept[IllegalArgumentException](c.execute(
      "CREATE EXTERNAL TABLE bad3 STORED AS JDBC PARTITIONED BY (x) LOCATION 'jdbc:derby:nope'"))
    assert(e3.getMessage.contains("directory-listed"), e3.getMessage)
    // multi-column layouts: declaration order is free, both prune
    (1 to 8).map(i => (i.toLong, if (i % 2 == 0) "x" else "y", (i % 4).toString))
      .toDF("id", "s1", "s2").write.partitionBy("s1", "s2").parquet(s"$base/multi")
    c.execute(s"CREATE EXTERNAL TABLE pm STORED AS PARQUET PARTITIONED BY (s2, s1) LOCATION '$base/multi'")
    assert(c.executeRead("SELECT COUNT(*) AS n FROM staging.pm WHERE s1 = 'x' AND s2 = '0'")
      .collect().head.getLong(0) === 2L)
    // the partitioned staging table survives into fresh read snapshots
    // (recipe-based re-registration, same as flat external tables)
    c.execute("CREATE TABLE bump (z BIGINT)") // bump the catalog generation
    assert(c.executeRead("SELECT COUNT(*) AS n FROM staging.pext WHERE src = 'b'")
      .collect().head.getLong(0) === 3L)
  }

  test("HTTP(S) external tables download to tmp and register in staging") {
    val c = ctx()
    // local HTTP fixture server serving a CSV document
    val server = graft.server.HttpFrontend.createServer(
      new java.net.InetSocketAddress("127.0.0.1", 0))
    val csv = "id,name\n1,ann\n2,bo\n3,cy\n"
    server.createContext("/data.csv", (ex: com.sun.net.httpserver.HttpExchange) => {
      val b = csv.getBytes("UTF-8")
      ex.sendResponseHeaders(200, b.length)
      ex.getResponseBody.write(b)
      ex.close()
    })
    server.createContext("/missing.csv", (ex: com.sun.net.httpserver.HttpExchange) => {
      ex.sendResponseHeaders(404, -1); ex.close()
    })
    server.start()
    try {
      val base = s"http://127.0.0.1:${server.getAddress.getPort}"
      c.execute(s"CREATE EXTERNAL TABLE web STORED AS CSV LOCATION '$base/data.csv'")
      val rows = c.execute("SELECT id, name FROM staging.web ORDER BY id")
        .collect().map(r => (r.getInt(0), r.getString(1))).toSeq
      assert(rows === Seq((1, "ann"), (2, "bo"), (3, "cy")))
      // a non-2xx location fails the DDL with the status in the message
      val e = intercept[Exception](
        c.execute(s"CREATE EXTERNAL TABLE nope STORED AS CSV LOCATION '$base/missing.csv'"))
      assert(e.getMessage.contains("HTTP 404"), e.getMessage)
      // the size cap rejects an over-cap object: declared (Content-Length)
      // and mid-stream (chunked — no declared length), no tmp-file residue
      server.createContext("/big.csv", (ex: com.sun.net.httpserver.HttpExchange) => {
        val b = ("id\n" + "1\n" * 4096).getBytes("UTF-8")
        ex.sendResponseHeaders(200, b.length)
        ex.getResponseBody.write(b)
        ex.close()
      })
      server.createContext("/big_chunked.csv", (ex: com.sun.net.httpserver.HttpExchange) => {
        ex.sendResponseHeaders(200, 0) // 0 = chunked, no Content-Length
        ex.getResponseBody.write(("id\n" + "1\n" * 4096).getBytes("UTF-8"))
        ex.close()
      })
      c.maxExternalDownloadBytes = 1024
      try {
        val e2 = intercept[IllegalArgumentException](
          c.execute(s"CREATE EXTERNAL TABLE big STORED AS CSV LOCATION '$base/big.csv'"))
        assert(e2.getMessage.contains("exceeds 1024 bytes"), e2.getMessage)
        val e3 = intercept[IllegalArgumentException](
          c.execute(s"CREATE EXTERNAL TABLE big2 STORED AS CSV LOCATION '$base/big_chunked.csv'"))
        assert(e3.getMessage.contains("exceeds 1024 bytes"), e3.getMessage)
      } finally c.maxExternalDownloadBytes = 256L << 20
    } finally server.stop(0)
  }

  test("OPTIMIZE statements: compaction, range cluster, zorder") {
    val c = ctx()
    c.execute("CREATE TABLE ot (x BIGINT, y BIGINT)")
    (0 until 3).foreach(i =>
      c.execute(s"INSERT INTO ot VALUES (${i * 10}, ${i * 5}), (${i * 10 + 100}, ${i * 5 + 50})"))
    val before = c.table("public", "ot").latestManifest.files.size
    assert(before >= 3)
    c.execute("OPTIMIZE TABLE ot") // small-file compaction
    assert(c.table("public", "ot").latestManifest.files.size < before)
    c.execute("OPTIMIZE TABLE ot CLUSTER BY (x)")
    c.execute("OPTIMIZE TABLE ot ZORDER BY (x, y)")
    assert(c.execute("SELECT COUNT(*) AS n FROM ot").collect().head.getLong(0) === 6L)
    c.execute("OPTIMIZE TABLE ot BLOOM BY (x)")
    val files = c.table("public", "ot").latestManifest.files
    assert(files.nonEmpty && files.forall(_.blooms.contains("x")))
    assert(c.execute("SELECT COUNT(*) AS n FROM ot WHERE x = 100")
      .collect().head.getLong(0) === 1L)
  }

  test("USE switches databases; tables are db-scoped") {
    val c = ctx()
    c.execute("CREATE TABLE shared_name (a BIGINT)")
    c.execute("INSERT INTO shared_name VALUES (1)")
    c.execute("CREATE DATABASE db2")
    c.execute("USE db2")
    intercept[Exception](c.execute("SELECT * FROM shared_name").collect())
    c.execute("CREATE TABLE shared_name (a BIGINT)")
    c.execute("INSERT INTO shared_name VALUES (42), (43)")
    assert(c.execute("SELECT COUNT(*) AS n FROM shared_name").collect().head.getLong(0) === 2L)
    c.execute("USE default")
    assert(c.execute("SELECT COUNT(*) AS n FROM shared_name").collect().head.getLong(0) === 1L)
    intercept[Exception](c.execute("USE no_such_db"))
    // scoped helper restores the previous database even on failure
    assert(c.withDb("db2")(c.execute("SELECT COUNT(*) AS n FROM shared_name")
      .collect().head.getLong(0)) === 2L)
    assert(c.currentDb === "default")
  }

  test("remote table via JDBC external table with filter pushdown") {
    val c = ctx()
    val dbDir = tmpDir("graft-derby") + "/remotedb"
    val url = s"jdbc:derby:$dbDir;create=true"
    val conn = java.sql.DriverManager.getConnection(url)
    try {
      val st = conn.createStatement()
      st.execute("CREATE TABLE remote_items (id BIGINT, name VARCHAR(32))")
      st.execute("INSERT INTO remote_items VALUES (1, 'alpha'), (2, 'beta'), (3, 'gamma')")
      st.close()
    } finally conn.close()
    c.execute(
      s"CREATE EXTERNAL TABLE rt STORED AS JDBC LOCATION 'jdbc:derby:$dbDir' " +
        "OPTIONS ('dbtable' 'remote_items')")
    val q = c.execute("SELECT name FROM staging.rt WHERE id >= 2 ORDER BY name")
    assert(q.collect().map(_.getString(0)).toSeq === Seq("beta", "gamma"))
    // Spark's JDBC source compiled the filter into remote SQL
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("GreaterThanOrEqual"),
      s"expected JDBC filter pushdown in plan:\n$plan")
  }

  test("JDBC remote table for an absent vendor driver fails with a clear error") {
    // the documented offline failure mode (README §Parity notes): the
    // DDL itself fails loudly at the driver lookup (external relations
    // resolve eagerly), never with a silent empty result
    val c = ctx()
    val err = intercept[Exception](c.execute(
      "CREATE EXTERNAL TABLE pgrt STORED AS JDBC " +
        "LOCATION 'jdbc:postgresql://localhost:5/db' OPTIONS ('dbtable' 'x')"))
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil else String.valueOf(t.getMessage) +: messages(t.getCause)
    assert(messages(err).exists(m =>
      m.contains("No suitable driver") || m.contains("driver")), messages(err))
  }

  test("DataFusion-dialect function names resolve (compat aliases)") {
    val c = ctx()
    val r = c.execute(
      "SELECT strpos('hello', 'll') AS p, starts_with('abc', 'ab') AS s, " +
        "list_element(make_array(7, 8, 9), 2) AS e, array_length(make_array(1, 2, 3)) AS n")
      .collect().head
    assert(r.getInt(0) === 3)
    assert(r.getBoolean(1))
    assert(r.getInt(2) === 8)
    assert(r.getInt(3) === 3)
  }

  test("engine text/vector functions are SQL-callable") {
    val c = ctx()
    val r = c.execute(
      "SELECT token_counts('ab 12 ab!')[0] AS ws, token_counts('ab 12 ab!')[1] AS re, " +
        "simhash64('the quick fox') AS sh, " +
        "size(shingle_hash_set('a b c d e f', 5)) AS ns, " +
        "min_k_fingerprint('a b c d e f', 5, 3) AS fp")
      .collect().head
    assert(r.getLong(0) === 3L && r.getLong(1) === 4L)
    assert(r.getString(2).length === 16)
    assert(r.getInt(3) === 2)
    assert(r.getString(4).length === 64) // 2 distinct shingles -> 2 digests
    val agg = c.execute(
      "SELECT size(top_k_scored(id, s, 2)) AS n FROM " +
        "(VALUES (1, 0.5), (2, 0.9), (3, 0.7)) AS t(id, s)")
      .collect().head
    assert(agg.getInt(0) === 2)
  }

  test("convert existing parquet directory to a graft table") {
    import spark.implicits._
    val c = ctx()
    val dir = tmpDir("graft-conv")
    Seq((1L, "x"), (2L, "y")).toDF("id", "v").write.mode("overwrite").parquet(dir)
    c.execute(s"CONVERT '$dir' TO GRAFT converted")
    assert(c.execute("SELECT COUNT(*) AS n FROM converted").collect().head.getLong(0) === 2L)
    // converting twice doesn't error and the table stays queryable
    // (reference tests/statements/convert.rs:168)
    c.execute(s"CONVERT '$dir' TO GRAFT converted")
    assert(c.execute("SELECT COUNT(*) AS n FROM converted").collect().head.getLong(0) === 2L)
  }

  test("staging schema is reserved for external tables") {
    val c = ctx()
    val e1 = intercept[IllegalArgumentException](
      c.execute("CREATE TABLE staging.some_table (k INT)"))
    assert(e1.getMessage.contains("staging schema can only be referenced via CREATE EXTERNAL TABLE"))
    val e2 = intercept[IllegalArgumentException](c.execute("DROP SCHEMA staging"))
    assert(e2.getMessage.contains("staging schema can only be referenced via CREATE EXTERNAL TABLE"))
  }

  test("UPDATE with WHERE inside a string literal; builtin call not hijacked by time travel") {
    val c = ctx()
    c.execute("CREATE TABLE notes (id BIGINT, note VARCHAR)")
    c.execute("INSERT INTO notes VALUES (1, 'x'), (2, 'y')")
    c.execute("UPDATE notes SET note = 'a WHERE b' WHERE id = 1")
    val rows = c.execute("SELECT note FROM notes ORDER BY id").collect().map(_.getString(0)).toSeq
    assert(rows === Seq("a WHERE b", "y"))
    // a table named like a builtin must not hijack non-ISO function calls
    c.execute("CREATE TABLE date (d VARCHAR)")
    val r = c.execute("SELECT CAST(date('2020-01-01') AS STRING) AS d").collect()
    assert(r.head.getString(0) === "2020-01-01")
  }

  test("wasm rejects non-numeric types at CREATE; wasmMessagePack validates eagerly") {
    val c = ctx()
    // raw-numeric ABI: text types rejected with the reference's error
    // shape (src/wasm_udf/data_types.rs get_wasm_type), nothing persisted
    val bad = intercept[Exception](c.execute(
      """CREATE FUNCTION wfn AS '{"entrypoint":"wfn","language":"wasm","input_types":["text","text"],"return_type":"text","data":"AA=="}'"""))
    assert(bad.getMessage.contains("do not support data type text"), bad.getMessage)
    assert(!c.catalog.functions.contains("wfn"), "rejected function must not persist")
    // the MessagePack ABI now executes (WasmMsgPackSpec); an invalid
    // module must fail at CREATE time and never persist
    intercept[Exception](c.execute(
      """CREATE FUNCTION mpfn AS '{"entrypoint":"mpfn","language":"wasmMessagePack","input_types":["text"],"return_type":"text","data":"AA=="}'"""))
    assert(!c.catalog.functions.contains("mpfn"), "invalid module must not persist")
    // a valid msgpack-ABI module round-trips through DDL + execution
    c.execute(
      s"""CREATE FUNCTION mprev AS '{"entrypoint":"rev","language":"wasmMessagePack","input_types":["text"],"return_type":"text","data":"${WasmMsgPackSpec.moduleB64}"}'""")
    val r = c.execute("SELECT mprev('graft') AS r").collect()(0).getString(0)
    assert(r === "tfarg")
  }

  test("qualified names inside string literals are not rewritten") {
    val c = ctx()
    val r = c.execute(
      "SELECT 'see system.table_versions and staging.foo' AS s").collect()
    assert(r.head.getString(0) === "see system.table_versions and staging.foo")
    // while a real reference right next to a literal still rewrites
    c.execute("CREATE TABLE litref (a BIGINT)")
    c.execute("INSERT INTO litref VALUES (4)")
    val r2 = c.execute(
      "SELECT 'system.table_versions' AS s, COUNT(*) AS n FROM system.table_versions WHERE table_name = 'litref'")
      .collect().head
    assert(r2.getString(0) === "system.table_versions" && r2.getLong(1) === 2L)
  }

  test("comments: semicolons inside comments don't split; leading comments dispatch") {
    val c = ctx()
    // leading block comment before CREATE, line comment with a semicolon,
    // nested block comment, and a comment marker inside a string literal
    val df = c.executeAll(
      """/* provisioning; step one */ CREATE TABLE cmt (a BIGINT, note VARCHAR);
        |INSERT INTO cmt VALUES (1, 'semi; -- not a comment'); -- trailing; note
        |/* outer /* nested; */ still out */ INSERT INTO cmt VALUES (2, '/* literal */');
        |SELECT a, note FROM cmt ORDER BY a -- tail comment; with semicolon""".stripMargin)
    val rows = df.collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(rows === Seq((1L, "semi; -- not a comment"), (2L, "/* literal */")))
    // a commented statement splits to nothing
    assert(c.splitStatements("-- just a note; nothing to run").isEmpty)
    // dispatch: leading comment on a graft-owned statement still matches
    c.executeAll("/* cleanup */ DROP TABLE cmt")
    assert(c.catalog.getTable("default", "public", "cmt").isEmpty)
  }

  test("multi-statement execution returns the last result") {
    val c = ctx()
    val df = c.executeAll(
      """CREATE TABLE m (a BIGINT);
        |INSERT INTO m VALUES (1), (2);
        |SELECT SUM(a) AS s FROM m""".stripMargin)
    assert(df.collect().head.getLong(0) === 3L)
    assert(c.isReadOnly("SELECT 1"))
    assert(!c.isReadOnly("INSERT INTO m VALUES (3)"))
  }

  test("incremental aggregate: refresh applies only the change feed") {
    val c = ctx()
    c.execute("CREATE TABLE src (k BIGINT, v BIGINT)")
    c.execute("INSERT INTO src VALUES (1, 10), (1, 5), (2, 7)")
    c.execute("CREATE INCREMENTAL AGGREGATE agg FROM src GROUP BY (k) SUM (v)")
    def rows() = c.execute("SELECT k, sum_v, _n FROM agg ORDER BY k NULLS LAST")
      .collect().map(r => (if (r.isNullAt(0)) -1L else r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(rows() === Seq((1L, 15L, 2L), (2L, 7L, 1L)))

    // inserts, a partial delete, and a whole-key delete across commits
    c.execute("INSERT INTO src VALUES (2, 3), (3, 100)")
    c.execute("DELETE FROM src WHERE k = 1 AND v = 5")
    c.execute("REFRESH AGGREGATE agg")
    assert(rows() === Seq((1L, 10L, 1L), (2L, 10L, 2L), (3L, 100L, 1L)))

    c.execute("DELETE FROM src WHERE k = 3") // key count reaches 0 → row vanishes
    c.execute("UPDATE src SET v = 20 WHERE k = 1") // delete+insert pair composes
    c.execute("REFRESH AGGREGATE agg")
    assert(rows() === Seq((1L, 20L, 1L), (2L, 10L, 2L)))

    // no-op refresh leaves the table untouched
    val vBefore = c.table("public", "agg").latestManifest.version
    c.execute("REFRESH AGGREGATE agg")
    assert(c.table("public", "agg").latestManifest.version === vBefore)

    // NULL group keys are real groups; NULL summands count as 0
    c.execute("INSERT INTO src VALUES (NULL, NULL), (NULL, 4)")
    c.execute("REFRESH AGGREGATE agg")
    assert(rows() === Seq((1L, 20L, 1L), (2L, 10L, 2L), (-1L, 4L, 2L)))

    // refreshed state equals a from-scratch recompute
    val full = c.execute(
      "SELECT k, SUM(COALESCE(v, 0)) AS sum_v, COUNT(*) AS _n FROM src GROUP BY k ORDER BY k NULLS LAST")
      .collect().map(r => (if (r.isNullAt(0)) -1L else r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(rows() === full)
  }

  test("recursive CTE (WITH RECURSIVE) runs through the SQL frontend") {
    val c = ctx()
    c.execute("CREATE TABLE edge (src BIGINT, dst BIGINT)")
    c.execute("INSERT INTO edge VALUES (0, 1), (1, 2), (1, 3), (3, 0)")
    val rows = c.execute(
      """WITH RECURSIVE reach(node, depth) AS (
        |  SELECT CAST(0 AS BIGINT), 0
        |  UNION ALL
        |  SELECT e.dst, r.depth + 1 FROM reach r JOIN edge e ON e.src = r.node
        |  WHERE r.depth < 3
        |) SELECT node, MIN(depth) AS hops, COUNT(*) AS n_paths
        |FROM reach GROUP BY node ORDER BY node""".stripMargin)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    // walks of length <= 3 from 0 over 0->1->{2,3}, 3->0:
    // node 0: anchor + 0->1->3->0; 1: one walk; 2/3: depth 2
    assert(rows.toSeq === Seq((0L, 0, 2L), (1L, 1, 1L), (2L, 2, 1L), (3L, 2, 1L)))
  }

  test("EXPLAIN ANALYZE executes and reports per-operator runtime metrics") {
    val c = ctx()
    c.execute("CREATE TABLE ea (id BIGINT)")
    c.execute("INSERT INTO ea VALUES (1), (2), (3)")
    val rows = c.execute("EXPLAIN ANALYZE SELECT id FROM ea WHERE id > 1")
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    assert(rows.nonEmpty)
    // the executed scan/filter actually ran: some operator counted rows
    assert(rows.exists { case (_, m, v) => m == "numOutputRows" && v >= 2L })
  }

  test("shallow clone is zero-copy, version-pinnable, and diverges copy-on-write") {
    val c = ctx()
    c.execute("CREATE TABLE src (id BIGINT, v BIGINT)")
    c.execute("INSERT INTO src VALUES (1, 10), (2, 20)") // version 1
    c.execute("INSERT INTO src VALUES (3, 30)")          // version 2
    c.execute("CREATE TABLE cl SHALLOW CLONE src")
    c.execute("CREATE TABLE cl1 SHALLOW CLONE src VERSION AS OF 1")
    def ids(t: String) =
      c.execute(s"SELECT id FROM $t ORDER BY id").collect().map(_.getLong(0)).toSeq
    assert(ids("cl") === Seq(1L, 2L, 3L))
    assert(ids("cl1") === Seq(1L, 2L)) // pinned pre-v2 snapshot
    // ZERO-COPY: no parquet data files under either clone's root
    def parquetCount(t: String): Int = {
      val uuid = c.catalog.listTables(c.currentDb)
        .collectFirst { case ("public", `t`, u) => u }.get
      val root = new java.io.File(c.catalog.tableRoot(uuid))
      def walk(f: java.io.File): Int =
        if (f.isDirectory) f.listFiles().map(walk).sum
        else if (f.getName.endsWith(".parquet")) 1 else 0
      walk(root)
    }
    assert(parquetCount("cl") === 0)
    assert(parquetCount("cl1") === 0)
    // copy-on-write divergence: writes land in the CLONE only
    c.execute("UPDATE cl SET v = 99 WHERE id = 1")
    c.execute("INSERT INTO cl VALUES (4, 40)")
    assert(c.execute("SELECT v FROM cl WHERE id = 1").collect().head.getLong(0) === 99L)
    assert(c.execute("SELECT v FROM src WHERE id = 1").collect().head.getLong(0) === 10L)
    assert(ids("cl") === Seq(1L, 2L, 3L, 4L))
    assert(ids("src") === Seq(1L, 2L, 3L))
    assert(parquetCount("cl") > 0) // rewritten + appended files are clone-local
  }

  test("ADD/DROP COLUMN evolve the schema without rewriting data") {
    val c = ctx()
    c.execute("CREATE TABLE sv (id BIGINT)")
    c.execute("INSERT INTO sv VALUES (1), (2)")
    c.execute("ALTER TABLE sv ADD COLUMN tag VARCHAR")
    // pre-evolution files read the new column as NULL
    val r1 = c.execute("SELECT id, tag FROM sv ORDER BY id").collect()
    assert(r1.map(_.getLong(0)).toSeq === Seq(1L, 2L))
    assert(r1.forall(_.isNullAt(1)))
    c.execute("INSERT INTO sv VALUES (3, 'x')")
    val r2 = c.execute("SELECT id, tag FROM sv ORDER BY id").collect()
    assert(r2.map(r => (r.getLong(0), Option(r.getString(1)))).toSeq ===
      Seq((1L, None), (2L, None), (3L, Some("x"))))
    // DROP projects the column away immediately, data files untouched
    c.execute("ALTER TABLE sv DROP COLUMN tag")
    val r3 = c.execute("SELECT * FROM sv ORDER BY id").collect()
    assert(r3.head.schema.fieldNames.toSeq === Seq("id"))
    assert(r3.map(_.getLong(0)).toSeq === Seq(1L, 2L, 3L))
    // time travel still reads each version under ITS schema
    val err = intercept[Exception](c.execute("SELECT tag FROM sv"))
    assert(err != null)
  }

  test("re-adding a dropped column is refused until a rewrite purges the bytes") {
    val c = ctx()
    c.execute("CREATE TABLE rd (id BIGINT, secret VARCHAR)")
    c.execute("INSERT INTO rd VALUES (1, 'pw1'), (2, 'pw2')")
    c.execute("ALTER TABLE rd DROP COLUMN secret")
    // retained files still hold the bytes; a same-name ADD would read
    // them back (parquet by-name resolution) — silent un-deletion
    val err = intercept[Exception](
      c.execute("ALTER TABLE rd ADD COLUMN secret VARCHAR"))
    assert(err.getMessage.contains("previously dropped"), err.getMessage)
    // a fresh name is unaffected
    c.execute("ALTER TABLE rd ADD COLUMN note VARCHAR")
    // a whole-table rewrite purges the bytes; the name becomes legal
    // again AND honors the files-predate-column → NULL contract
    c.execute("OPTIMIZE TABLE rd CLUSTER BY (id)")
    c.execute("ALTER TABLE rd ADD COLUMN secret VARCHAR")
    val rows = c.execute("SELECT id, secret FROM rd ORDER BY id").collect()
    assert(rows.map(_.getLong(0)).toSeq === Seq(1L, 2L))
    assert(rows.forall(_.isNullAt(1)), "pre-drop values resurrected")
  }

  test("background GC honors a table's persisted retention window") {
    val c = ctx()
    c.execute("CREATE TABLE gr (id BIGINT)")   // version 0
    c.execute("INSERT INTO gr VALUES (1)")     // version 1
    c.execute("INSERT INTO gr VALUES (2)")     // version 2
    c.execute("INSERT INTO gr VALUES (3)")     // version 3
    c.execute("VACUUM TABLE gr RETAIN 3 VERSIONS") // persists the window
    c.gcSweep()
    // the sweep must NOT collapse the window to 1: v2 stays restorable
    c.execute("RESTORE TABLE gr TO VERSION AS OF 2")
    assert(c.execute("SELECT id FROM gr ORDER BY id").collect()
      .map(_.getLong(0)).toSeq === Seq(1L, 2L))
  }

  test("shallow clone carries CHECK constraints") {
    val c = ctx()
    c.execute("CREATE TABLE csrc (id BIGINT)")
    c.execute("ALTER TABLE csrc ADD CONSTRAINT pos CHECK (id > 0)")
    c.execute("INSERT INTO csrc VALUES (1)")
    c.execute("CREATE TABLE ccl SHALLOW CLONE csrc")
    // writes into the clone validate against the inherited constraint
    val err = intercept[Exception](c.execute("INSERT INTO ccl VALUES (-5)"))
    assert(err != null)
    c.execute("INSERT INTO ccl VALUES (7)")
    assert(c.execute("SELECT id FROM ccl ORDER BY id").collect()
      .map(_.getLong(0)).toSeq === Seq(1L, 7L))
  }

  test("vacuum with a retention window keeps time travel + restore alive inside it") {
    val c = ctx()
    c.execute("CREATE TABLE v (id BIGINT)")      // version 0
    c.execute("INSERT INTO v VALUES (1)")        // version 1
    c.execute("DELETE FROM v WHERE id = 1")      // version 2 (drops v1's file)
    c.execute("INSERT INTO v VALUES (2)")        // version 3
    c.execute("VACUUM TABLE v RETAIN 2 VERSIONS")
    // versions 2 and 3 survive; restore within the window works...
    c.execute("RESTORE TABLE v TO VERSION AS OF 2")
    assert(c.execute("SELECT COUNT(*) AS n FROM v").collect().head.getLong(0) === 0L)
    c.execute("RESTORE TABLE v TO VERSION AS OF 3")
    assert(c.execute("SELECT id FROM v").collect().map(_.getLong(0)).toSeq === Seq(2L))
    // ...but version 1 (outside the window) is gone: manifest deleted
    val err = intercept[Exception](c.execute("RESTORE TABLE v TO VERSION AS OF 1"))
    assert(err != null)
  }

  test("restore rolls back to an old version as a new commit") {
    val c = ctx()
    c.execute("CREATE TABLE r (id BIGINT)")     // version 0
    c.execute("INSERT INTO r VALUES (1), (2)")  // version 1
    c.execute("DELETE FROM r WHERE id = 2")     // version 2
    c.execute("INSERT INTO r VALUES (9)")       // version 3
    c.execute("RESTORE TABLE r TO VERSION AS OF 1")
    val rows = c.execute("SELECT id FROM r ORDER BY id").collect().map(_.getLong(0)).toSeq
    assert(rows === Seq(1L, 2L))
    // history preserved: restore is a NEW version, not a rewrite
    val versions = c.execute("SELECT version FROM system.table_versions WHERE table_name = 'r'")
      .collect().map(_.getLong(0)).toSeq
    assert(versions.max === 4L)
    // the pre-restore state is still reachable via time travel history
    c.execute("RESTORE TABLE r TO VERSION AS OF 3")
    assert(c.execute("SELECT id FROM r ORDER BY id").collect().map(_.getLong(0)).toSeq === Seq(1L, 9L))
  }

  test("DROP TABLE IF EXISTS on a missing table is a no-op, without it an error") {
    val c = ctx()
    c.execute("DROP TABLE IF EXISTS never_created") // no-op
    intercept[Exception](c.execute("DROP TABLE never_created"))
    c.execute("CREATE TABLE d1 (id BIGINT)")
    c.execute("DROP TABLE IF EXISTS d1")
    intercept[Exception](c.execute("SELECT * FROM d1"))
    // a missing SCHEMA must also be a no-op (Postgres semantics), not a
    // NoSuchElementException escaping the unknown-table suppression
    c.execute("DROP TABLE IF EXISTS no_such_schema.t")
    intercept[Exception](c.execute("DROP TABLE no_such_schema.t"))
  }

  test("shell terminator tracks quote and comment state (psql rule)") {
    import graft.Shell.terminated
    assert(terminated("SELECT 1;"))
    assert(terminated("SELECT 1 ; -- trailing comment"))
    assert(terminated("SELECT 'a;b';"))
    assert(!terminated("SELECT 'a;"))            // ; inside an open literal
    assert(!terminated("SELECT 1 -- comment;"))  // ; inside a comment
    assert(!terminated("SELECT 'it''s;"))        // '' escape keeps quote open
    assert(terminated("SELECT 'it''s';"))
    assert(!terminated("SELECT 1"))
    // block comments and double-quoted identifiers — the states
    // splitStatements tracks must not desync from the REPL terminator
    assert(!terminated("SELECT 1 /* block; comment */"))  // ; inside block comment
    assert(terminated("SELECT 1; /* trailing block */"))  // trailing comment after ;
    assert(!terminated("SELECT 1; /* unterminated"))      // open block comment
    assert(!terminated("SELECT /* a /* nested */ ;"))     // nested stays open
    assert(terminated("SELECT /* a /* nested */ */ 1;"))
    assert(!terminated("SELECT \"quoted;name\""))         // ; inside quoted ident
    assert(terminated("SELECT \"quoted;name\";"))
    assert(!terminated("SELECT \"open;"))                 // unterminated ident
    assert(terminated("SELECT '/*' ;"))                   // markers inside literal are content
  }

  test("q01 oracle cast pin: VARCHAR-hop DECIMAL(,6)->DOUBLE is correctly rounded past 2^53") {
    // q01's oracle SQL converts DECIMAL sums to DOUBLE via a VARCHAR hop
    // because DuckDB's direct DECIMAL->DOUBLE converts the unscaled int
    // to double BEFORE scaling — double-rounding once the unscaled value
    // passes 2^53. This pin asserts, for a concrete witness, that (a) the
    // engine's BigDecimal path and exact-text parsing (what the VARCHAR
    // hop relies on) agree, and (b) the naive unscaled->double->scale
    // path really does land a ulp off — so if either cast path's
    // semantics ever change, this fails loudly before the oracle drifts.
    val unscaled = 22572769861406763L      // micro-units, > 2^53
    val exact = new java.math.BigDecimal(java.math.BigInteger.valueOf(unscaled), 6)
    val viaBigDecimal = exact.doubleValue                    // engine path
    val viaText = java.lang.Double.parseDouble(exact.toPlainString) // VARCHAR hop
    val naive = unscaled.toDouble / 1e6    // DuckDB direct DECIMAL->DOUBLE shape
    assert(viaBigDecimal == viaText,
      s"BigDecimal.doubleValue $viaBigDecimal != parsed text $viaText")
    assert(naive != viaBigDecimal,
      s"witness no longer double-rounds: naive $naive == correct $viaBigDecimal")
    assert(viaBigDecimal == 22572769861.40676d)
    assert(naive == 22572769861.406765d)
  }

  test("shell REPL: multiline statements, meta-commands, error recovery") {
    val c = ctx()
    val bytes = new java.io.ByteArrayOutputStream()
    val out = new java.io.PrintStream(bytes, true, "UTF-8")
    val script = Seq(
      "CREATE TABLE sh (id BIGINT, s VARCHAR);",
      "INSERT INTO sh VALUES",       // multiline: statement spans 2 lines
      "  (1, 'a;semicolon'), (2, 'b');", // literal ; must not terminate early
      "\\d",                          // meta: list tables
      "\\d sh",                       // meta: describe
      "SELECT COUNT(*",               // error: unbalanced — loop must survive
      ";",
      "SELECT id FROM sh WHERE s = 'b';",
      "\\?",
      "\\q",
      "SELECT 1;")                    // after \q: never runs
    graft.Shell.repl(c, script.iterator, out)
    val o = bytes.toString("UTF-8")
    assert(o.contains(""""table_name":"sh""""), o)
    assert(o.contains(""""column_name":"id""""), o)
    assert(o.contains("error:"), o)
    assert(o.contains(""""id":2"""), o)
    assert(o.contains("\\d       list tables"), o)
    // \q stopped the loop before the trailing SELECT 1
    assert(!o.contains("{\"1\":1}"), o)
  }

  test("shell REPL statement timeout: the runaway statement dies, the session survives") {
    val c = ctx()
    val bytes = new java.io.ByteArrayOutputStream()
    val out = new java.io.PrintStream(bytes, true, "UTF-8")
    val script = Seq(
      "CREATE TABLE tm (id BIGINT);",
      "INSERT INTO tm VALUES (7);",
      // a scan far past the 8 s budget (same monster shape the serving
      // tier's cancel tests use) — the timeout must cancel it. Budget
      // >= 5 s: a cold snapshot rebuild + the cancelled tasks' drain
      // both land inside the NEXT statement's window (verify skill note)
      "SELECT max(a.id * b.id) AS m FROM range(2000000) a CROSS JOIN range(2000000) b;",
      // ...and the NEXT statement (fresh job group) must still run
      "SELECT id FROM tm;")
    graft.Shell.repl(c, script.iterator, out, statementTimeoutMs = 8000)
    val o = bytes.toString("UTF-8")
    assert(o.contains("error:"), o)        // the timeout surfaced, loudly
    assert(o.contains(""""id":7"""), o)    // session usable afterwards
  }

  test("peer-process commits become visible through the catalog trigger poll") {
    // two contexts over ONE dataDir = the two-server deployment shape.
    // B's snapshot cache is keyed by ITS generation; without the trigger
    // poll a peer's DML (which never rewrites the catalog state file)
    // would stay invisible forever. pollMs=1 makes the bound tight here;
    // production default is 250 ms of staleness.
    val dir = tmpDir("graft-xproc")
    val a = new GraftContext(spark, dir)
    val b = {
      val s = org.apache.spark.sql.GraftSessions.cloneSession(spark)
      s.conf.set("graft.catalog.pollMs", "1")
      new GraftContext(s, dir)
    }
    a.execute("CREATE TABLE xp (id BIGINT)")
    a.execute("INSERT INTO xp VALUES (1)")
    Thread.sleep(5)
    // DDL + first write visible to B (fresh catalog load + trigger)
    assert(b.executeRead("SELECT count(*) AS n FROM xp").collect().head.getLong(0) === 1L)
    // a subsequent peer DML — the case the catalog file alone can't signal
    a.execute("INSERT INTO xp VALUES (2)")
    Thread.sleep(5)
    assert(b.executeRead("SELECT count(*) AS n FROM xp").collect().head.getLong(0) === 2L)
    // and B's writes flow back to A the same way
    b.execute("INSERT INTO xp VALUES (3)")
    Thread.sleep(5)
    assert(a.executeRead("SELECT count(*) AS n FROM xp").collect().head.getLong(0) === 3L)
  }

  test("CREATE is publish-last: a lost name race cleans its storage, winner intact") {
    val c = ctx()
    var loserRoot: String = null
    // simulate the cross-process race deterministically: the winner's
    // catalog row lands while the loser is still building its storage
    // in the reserved (unreferenced) directory — publish must lose,
    // delete the orphan storage, and surface already-exists
    val e = intercept[IllegalArgumentException] {
      c.createPublishLast("public", "pub_race") { root =>
        loserRoot = root
        graft.lake.GraftTable.create(spark, root,
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("x",
              org.apache.spark.sql.types.LongType))))
        c.catalog.createTable("default", "public", "pub_race") // winner
        ()
      }
    }
    assert(e.getMessage.contains("already exists"))
    assert(!graft.lake.LakeIO.exists(new org.apache.hadoop.fs.Path(loserRoot)),
      "loser's unpublished storage must be deleted")
    // the winner's row is intact and — the invariant the catalog fuzz
    // holds — every cataloged table resolves a readable manifest: the
    // winner here was created row-first via the raw catalog API, so
    // give it storage before reading through the SQL surface
    val uuid = c.catalog.getTable("default", "public", "pub_race").get
    graft.lake.GraftTable.create(spark, c.catalog.tableRoot(uuid),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("x",
          org.apache.spark.sql.types.LongType))))
    assert(c.executeRead("SELECT * FROM pub_race").count() === 0)
  }

  test("GC sweep collects crash-orphaned unpublished storage behind the grace window") {
    val c = ctx()
    c.execute("CREATE TABLE keep_t (x BIGINT)")
    // emulate a crash between createPublishLast's build and publish: a
    // uuid-shaped dir with a manifest that no catalog row references
    val orphan = java.util.UUID.randomUUID.toString
    graft.lake.GraftTable.create(spark, s"${c.dataDir}/$orphan",
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("x",
          org.apache.spark.sql.types.LongType))))
    val orphanPath = new org.apache.hadoop.fs.Path(s"${c.dataDir}/$orphan")
    // young orphan survives (a live create may still be building here)
    assert(c.sweepUnpublished() === Seq.empty)
    assert(graft.lake.LakeIO.exists(orphanPath))
    // past the grace window it is garbage
    assert(c.sweepUnpublished(graceMs = 0L) === Seq(orphan))
    assert(!graft.lake.LakeIO.exists(orphanPath))
    // published tables and the dropped ledger are never touched
    c.execute("DROP TABLE keep_t")
    assert(c.sweepUnpublished(graceMs = 0L) === Seq.empty)
    assert(c.catalog.droppedTables.nonEmpty)
  }

  test("snapshot readers skip a cataloged table whose storage was collected") {
    val c = ctx()
    c.execute("CREATE TABLE alive_t (x BIGINT)")
    c.execute("INSERT INTO alive_t VALUES (1)")
    c.execute("CREATE TABLE doomed_t (x BIGINT)")
    // emulate another process's drop+GC landing between this reader's
    // catalog load and its manifest reads: destroy the storage directly
    val uuid = c.catalog.getTable("default", "public", "doomed_t").get
    graft.lake.LakeIO.delete(
      new org.apache.hadoop.fs.Path(c.catalog.tableRoot(uuid)), recursive = true)
    c.markDirty()
    // unrelated reads keep working (the rebuild skips the gone table)...
    assert(c.executeRead("SELECT count(*) AS n FROM alive_t").collect()(0).getLong(0) === 1)
    // ...and the gone table itself fails loudly as unknown, not half-read
    val e = intercept[Exception](c.executeRead("SELECT * FROM doomed_t").collect())
    assert(e.getMessage.toLowerCase.contains("doomed_t"))
  }

  /** Jobs started on this thread while `f` runs (the listener bus is
    * asynchronous: a marker job on the same thread drains it). */
  private def jobsStartedBy(f: => Unit): Int = {
    val group = s"jobs-${System.nanoTime()}"
    val started = new java.util.concurrent.atomic.AtomicInteger
    val drained = new java.util.concurrent.CountDownLatch(1)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")).foreach {
          case `group` => started.incrementAndGet()
          case g if g == group + "-end" => drained.countDown()
          case _ =>
        }
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "measured")
      try f finally sc.clearJobGroup()
      sc.setJobGroup(group + "-end", "marker")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      assert(drained.await(30, java.util.concurrent.TimeUnit.SECONDS), "listener bus never drained")
      started.get
    } finally sc.removeSparkListener(listener)
  }

  test("a read snapshot after a write starts no Spark job, staging tables included") {
    val c = ctx()
    import spark.implicits._
    val dir = tmpDir("graft-snapjobs")
    Seq((1L, "a"), (2L, "b")).toDF("id", "v").write.parquet(s"$dir/pq")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$dir/t.csv"), "id,v\n1,x\n2,y\n3,z\n")
    c.execute(s"CREATE EXTERNAL TABLE spq STORED AS PARQUET LOCATION '$dir/pq'")
    c.execute(s"CREATE EXTERNAL TABLE scsv STORED AS CSV LOCATION '$dir/t.csv'")
    c.execute("CREATE TABLE t (id BIGINT)")
    c.execute("INSERT INTO t VALUES (1)")
    assert(c.executeRead("SELECT count(*) FROM t").collect()(0).getLong(0) === 1L)
    c.execute("INSERT INTO t VALUES (2)")
    // the next read builds a fresh snapshot: data views, staging views
    // (schemas fixed at CREATE, so no inference job) and system views
    // (rows computed only when scanned)
    val jobs = jobsStartedBy { c.executeRead("SELECT id FROM t") }
    assert(jobs === 0, s"snapshot build started $jobs Spark jobs")
    // the staging views in that snapshot still read their files, with
    // the types inferred at CREATE
    val csv = c.executeRead("SELECT id, v FROM staging.scsv ORDER BY id")
    assert(csv.schema("id").dataType === org.apache.spark.sql.types.IntegerType)
    assert(csv.collect().map(r => (r.getInt(0), r.getString(1))).toSeq ===
      Seq((1, "x"), (2, "y"), (3, "z")))
    assert(c.executeRead("SELECT sum(id) FROM staging.spq").collect()(0).getLong(0) === 3L)
  }

  test("system.table_versions answers from its snapshot's pinned versions") {
    val s0 = org.apache.spark.sql.GraftSessions.cloneSession(spark)
    s0.conf.set("graft.catalog.pollMs", "0") // the commit below must stay unseen
    val c = new GraftContext(s0, tmpDir("graft-pinned-sys"))
    c.execute("CREATE TABLE tv (id BIGINT)")
    c.execute("INSERT INTO tv VALUES (1)")
    val data = c.executeRead("SELECT count(*) AS n FROM tv")
    val Seq((_, pinned)) = c.versionFingerprint(data)
    // another writer commits after the snapshot was built: neither the
    // snapshot's data views nor its system views may see it
    val root = c.catalog.tableRoot(c.catalog.getTable("default", "public", "tv").get)
    new graft.lake.GraftTable(spark, root).append(spark.range(5).toDF("id"))
    assert(graft.lake.Manifest.latestVersion(root).contains(pinned + 1))
    val versions = c.executeRead(
      "SELECT version FROM system.table_versions WHERE table_name = 'tv' ORDER BY version")
    assert(versions.sparkSession eq data.sparkSession, "both reads must share one snapshot")
    assert(versions.collect().map(_.getLong(0)).toSeq === (0L to pinned))
    assert(data.collect()(0).getLong(0) === 1L)
    // the next generation sees the commit in both
    c.markDirty()
    assert(c.executeRead("SELECT max(version) FROM system.table_versions WHERE table_name = 'tv'")
      .collect()(0).getLong(0) === pinned + 1)
    assert(c.executeRead("SELECT count(*) FROM tv").collect()(0).getLong(0) === 6L)
  }
}

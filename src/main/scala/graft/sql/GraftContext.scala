package graft.sql

import java.time.Instant

import graft.catalog.Catalog
import graft.lake.{GraftTable, LakeIO, Manifest}
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.{DataFrame, GraftSessions, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The engine's session/statement layer: what Seafowl hand-builds around
  * DataFusion, re-built around Spark SQL (reference
  * `src/context/logical.rs`, `src/context/physical.rs`).
  *
  * Statement dispatch: graft-owned statements (DDL/DML/VACUUM/COPY/
  * CONVERT/CREATE FUNCTION — the ones the reference adds to its forked
  * parser, `src/datafusion/parser.rs:104-186`) are recognized up front and
  * executed eagerly against the catalog + manifest tables; everything else
  * (SELECT/WITH/VALUES/EXPLAIN/SHOW) flows to Catalyst via `spark.sql`
  * after (a) registering the referenced catalog tables as views and
  * (b) applying the time-travel rewrite `t('<ts>')` → version-pinned view
  * (reference `src/version.rs:61-106`).
  *
  * Naming: tables live in catalog schemas (default `public`); `public`
  * tables register under their bare name, qualified `sch.tbl` references
  * are rewritten to backtick-quoted flat view names before parsing.
  */
class GraftContext(val spark: SparkSession, val dataDir: String) {

  val catalog = new Catalog(dataDir)

  /** Current database (reference: default db "default", re-scoped per
    * request by a URL prefix or switched with USE — src/context/mod.rs:45-63). */
  @volatile var currentDb: String = "default"
  LakeIO.mkdirs(new HPath(dataDir))
  // engine-native function extensions available to every SQL surface
  graft.functions.VectorFunctions.register(spark)
  // DataFusion-dialect function-name aliases (reference-compat)
  org.apache.spark.sql.GraftCompatFunctions.register(spark)

  /** Serialize WRITE statement processing on the context: currentDb,
    * catalogDirty, and the main session's registered-view set are shared,
    * so DDL/DML/upload/sync handlers wrap execute+render in `locked`.
    * READS do not take this lock — they run on immutable per-generation
    * snapshot sessions (`executeRead`), so one slow analytical query never
    * blocks other clients (the reference serves requests concurrently on
    * tokio, `src/frontend/http.rs:158-233`). */
  def locked[T](f: => T): T = synchronized(f)

  /** Run `f` scoped to another database, restoring the previous scope
    * after (the reference's per-request URL db prefix,
    * src/frontend/http.rs:168-170). Serialized on the context. */
  def withDb[T](db: String)(f: => T): T = synchronized {
    require(catalog.listDatabases.contains(db), s"unknown database $db")
    val prev = currentDb
    currentDb = db
    markDirty()
    try f finally { currentDb = prev; markDirty() }
  }

  def table(schema: String, name: String): GraftTable = {
    val uuid = catalog.getTable(currentDb, schema, name)
      .getOrElse(throw new IllegalArgumentException(s"unknown table $schema.$name"))
    new GraftTable(spark, catalog.tableRoot(uuid))
  }

  /** CREATE-flow discipline for every path that materializes storage:
    * reserve a uuid, build the table's storage (manifest v0 + any data)
    * in the still-unreferenced directory, THEN publish the catalog row.
    * Publish-last means no process can ever observe a cataloged table
    * without a readable manifest — with the inverted order,
    * scripts/catalog_fuzz.py caught cross-process snapshot rebuilds
    * failing on an UNRELATED table mid-create. A lost publish race (the
    * name was taken meanwhile) deletes the orphaned storage and
    * propagates the already-exists error; a crash between build and
    * publish leaves only an unreferenced directory — invisible garbage —
    * instead of a permanently unreadable catalog row. */
  def createPublishLast(schema: String, name: String)(build: String => Unit): String = {
    val uuid = catalog.reserveTable(currentDb, schema, name)
    val root = catalog.tableRoot(uuid)
    build(root)
    try catalog.publishTable(currentDb, schema, name, uuid)
    catch {
      // delete the orphaned storage only when the row VERIFIABLY did not
      // commit (lost the name race / namespace vanished — the
      // IllegalArgumentException family from Catalog.withTable). Anything
      // else (store I/O mid-mutate) is ambiguous: the commit may have
      // landed, and deleting storage under a published row is exactly the
      // corruption publish-last exists to prevent. The unreferenced dir,
      // if any, is invisible garbage sweepUnpublished collects.
      case e: IllegalArgumentException =>
        try LakeIO.delete(new HPath(root), recursive = true)
        catch { case scala.util.control.NonFatal(_) => () }
        throw e
    }
    uuid
  }

  /** One background GC sweep (the reference's `misc.gc_interval` loop —
    * src/config/schema.rs:273,284, `gc_databases` src/utils.rs:50):
    * purge the dropped-tables ledger, then vacuum EVERY table of every
    * database (delete files unreferenced by the latest version + all
    * non-latest manifests — the same work as VACUUM TABLE). The context
    * write lock serializes it against THIS context's maintenance, but
    * writers commit by optimistic manifest CAS and readers are lock-free
    * — the sweep coordinates with neither. Two time guards cover them:
    * `graceMs`: tables whose LATEST version is younger than this are
    * skipped — a lock-free reader pinned to the previous version (it
    * planned before the newest commit) finishes inside the grace window,
    * so the background sweep never deletes files under an in-flight
    * read; a time-travel read of an already-vacuumed old version fails
    * exactly as after an explicit VACUUM. In-flight WRITERS (whose
    * just-written files no manifest references yet) are protected by the
    * per-file age guard `max(graceMs, WriterGraceMs)` passed down to
    * vacuum — see the contract on [[GraftTable.vacuum]].
    * Returns (tables swept, data files deleted, old versions deleted). */
  def gcSweep(graceMs: Long = 0L): (Int, Int, Int) = locked {
    catalog.gcDropped()
    sweepUnpublished()
    val cutoff = System.currentTimeMillis() - graceMs
    var tables = 0; var files = 0; var versions = 0
    for (db <- catalog.listDatabases; (_, _, uuid) <- catalog.listTables(db)) {
      val t = new GraftTable(spark, catalog.tableRoot(uuid))
      // readLatestOpt: a table dropped + collected by ANOTHER process
      // mid-sweep (this lock is per-context, not cross-process) must be
      // skipped, not abort the whole sweep on its vanished manifest
      if (Manifest.readLatestOpt(catalog.tableRoot(uuid)).exists(_.timestampMs <= cutoff)) {
        // honor each table's persisted retention window — a sweep must
        // never collapse a `RETAIN n VERSIONS` guarantee back to 1
        val (f, v) = t.vacuum(t.retentionVersions, math.max(graceMs, GraftTable.WriterGraceMs))
        tables += 1; files += f; versions += v
      }
    }
    (tables, files, versions)
  }

  /** Collect storage directories no catalog row and no dropped-ledger
    * entry references — the garbage a crash between createPublishLast's
    * build and publish steps leaves behind (the price of publish-last;
    * the inverse order left permanently unreadable catalog rows
    * instead). Age-guarded: only dirs untouched for
    * [[GraftContext.UnpublishedGraceMs]] are deleted, so a LIVE create
    * still building its storage in another process is never swept.
    * Returns the deleted uuids. */
  private[graft] def sweepUnpublished(
      graceMs: Long = GraftContext.UnpublishedGraceMs): Seq[String] = {
    val referenced: Set[String] =
      (catalog.listDatabases.flatMap(db => catalog.listTables(db).map(_._3)) ++
        catalog.droppedTables.map(_.uuid)).toSet
    val cutoff = System.currentTimeMillis() - graceMs
    LakeIO.listStatus(new HPath(dataDir))
      // only uuid-shaped dirs are ours to collect — anything else under
      // the data dir (user files, tooling scratch) is off limits
      .filter(s => s.isDirectory &&
        s.getPath.getName.matches("[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}"))
      .filterNot(s => referenced.contains(s.getPath.getName))
      // mtime check on the newest file inside, not just the dir: a build
      // in progress keeps writing, so its newest child stays young
      .filter { s =>
        val newest = (s.getModificationTime +:
          LakeIO.listFilesRecursive(s.getPath).map(_.getModificationTime)).max
        newest <= cutoff
      }
      .map { s => LakeIO.delete(s.getPath, recursive = true); s.getPath.getName }
  }

  private def emptyResult: DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[Row],
      StructType(Seq(StructField("ok", BooleanType))))

  // --- statement splitting (quote- and comment-aware) ---------------------

  /** Split on top-level semicolons. `--` line comments and (nested)
    * `/* */` block comments are stripped — a semicolon inside a comment
    * is not a statement boundary, and a leading comment must not defeat
    * the dispatch regexes, which anchor at the statement start. Comment
    * markers inside string literals are content, not comments. */
  def splitStatements(sql: String): Seq[String] = {
    val out = Seq.newBuilder[String]
    val cur = new StringBuilder
    var i = 0; var inS = false; var inD = false
    while (i < sql.length) {
      val c = sql.charAt(i)
      if (!inS && !inD && c == '-' && i + 1 < sql.length && sql.charAt(i + 1) == '-') {
        while (i < sql.length && sql.charAt(i) != '\n') i += 1
        cur += ' '
      } else if (!inS && !inD && c == '/' && i + 1 < sql.length && sql.charAt(i + 1) == '*') {
        var depth = 1
        i += 2
        while (i < sql.length && depth > 0) {
          if (sql.startsWith("/*", i)) { depth += 1; i += 2 }
          else if (sql.startsWith("*/", i)) { depth -= 1; i += 2 }
          else i += 1
        }
        cur += ' '
      } else {
        if (c == '\'' && !inD) inS = !inS
        else if (c == '"' && !inS) inD = !inD
        if (c == ';' && !inS && !inD) { out += cur.result(); cur.clear() }
        else cur += c
        i += 1
      }
    }
    out += cur.result()
    out.result().map(_.trim).filter(_.nonEmpty)
  }

  // --- DDL type mapping (reference src/datafusion/utils.rs:47-178) --------

  private[sql] def sqlType(t: String): DataType = {
    val up = t.trim.toUpperCase
    val dec = """(?:NUMERIC|DECIMAL)\s*\(\s*(\d+)\s*(?:,\s*(\d+))?\s*\)""".r
    up match {
      case "BOOLEAN" | "BOOL" => BooleanType
      case "TINYINT" => ByteType
      case "SMALLINT" | "INT2" => ShortType
      case "INT" | "INTEGER" | "INT4" => IntegerType
      case "BIGINT" | "INT8" => LongType
      case "FLOAT" | "REAL" | "FLOAT4" => FloatType
      case "DOUBLE" | "FLOAT8" | "DOUBLE PRECISION" => DoubleType
      case "CHAR" | "VARCHAR" | "TEXT" | "STRING" => StringType
      case "TIMESTAMP" => TimestampType
      case "DATE" => DateType
      case "BYTEA" | "BINARY" => BinaryType
      case "NUMERIC" | "DECIMAL" => DecimalType(38, 10)
      case dec(p, s) => DecimalType(p.toInt, Option(s).map(_.toInt).getOrElse(0))
      case other if other.startsWith("VARCHAR") || other.startsWith("CHAR") => StringType
      case other =>
        // nested/JSON/UUID types are rejected for reference parity
        // (src/datafusion/utils.rs:110-176)
        throw new IllegalArgumentException(s"unsupported DDL type: $other")
    }
  }

  private def parseColumns(colDefs: String): StructType = {
    // split on top-level commas (decimal(10,2) has nested ones)
    val parts = Seq.newBuilder[String]
    var depth = 0; val cur = new StringBuilder
    colDefs.foreach {
      case '(' => depth += 1; cur += '('
      case ')' => depth -= 1; cur += ')'
      case ',' if depth == 0 => parts += cur.result(); cur.clear()
      case c => cur += c
    }
    parts += cur.result()
    StructType(parts.result().map(_.trim).filter(_.nonEmpty).map { cd =>
      val m = """^"?([\w ]+?)"?\s+(.+?)(\s+NOT\s+NULL)?$""".r
      cd match {
        case m(name, tpe, notNull) =>
          StructField(name.trim, sqlType(tpe), nullable = notNull == null)
        case _ => throw new IllegalArgumentException(s"cannot parse column def: $cd")
      }
    })
  }

  private def splitName(qname: String): (String, String) = {
    val parts = qname.replace("\"", "").split('.')
    if (parts.length == 2) (parts(0), parts(1)) else ("public", parts(0))
  }

  // --- query-side registration + rewrites ---------------------------------

  // Views snapshot table file lists, so they must refresh after any
  // catalog or data mutation — but NOT on every read: re-registering all
  // tables (and re-reading every manifest for system.table_versions) on
  // the hot path costs O(total history) per query.
  @volatile private var catalogDirty = true

  // Monotone catalog generation: bumped on every mutation; keys the
  // read-snapshot cache so reads after a write see the new version while
  // in-flight reads keep their pinned snapshot.
  private val generation = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Callers that mutate tables outside `execute` (upload/sync endpoints)
    * must invalidate the registered views. Also touches the catalog's
    * cross-process trigger so OTHER server processes over this dataDir
    * learn something changed (their poll in snapshotSession). */
  def markDirty(): Unit = {
    catalogDirty = true
    generation.incrementAndGet()
    lastSeenDataGen = catalog.touchDataGen() // own touch must not re-bump us
  }

  // --- cross-process staleness poll ----------------------------------------

  // How often a read is willing to pay one tiny file read to discover
  // another PROCESS's commits (in-process commits invalidate instantly via
  // markDirty). Bounded staleness: a peer's write becomes visible within
  // this window plus one snapshot rebuild. 0 disables polling (single-
  // process deployments pay nothing).
  private val dataGenPollMs: Long =
    spark.conf.getOption("graft.catalog.pollMs").map(_.trim.toLong).getOrElse(250L)
  @volatile private var lastSeenDataGen: String = catalog.readDataGen()
  @volatile private var lastPollNanos: Long = 0L

  private def pollPeerCommits(): Unit = {
    if (dataGenPollMs <= 0) return
    val now = System.nanoTime()
    if (now - lastPollNanos < dataGenPollMs * 1000000L) return
    lastPollNanos = now // racy double-poll is harmless (idempotent compare)
    val seen = catalog.readDataGen()
    if (seen != lastSeenDataGen) {
      lastSeenDataGen = seen
      catalogDirty = true
      generation.incrementAndGet()
    }
  }

  // --- concurrent read path ----------------------------------------------

  // (db, generation) -> a session clone with exactly that database's
  // catalog registered. Sessions share the SparkContext (executors, data
  // cache) but have isolated temp views, so N readers + 1 writer never
  // contend: readers resolve against an immutable snapshot, the writer
  // bumps the generation and the NEXT read builds a fresh one.
  private val readSessions =
    new java.util.concurrent.ConcurrentHashMap[(String, Long), SparkSession]

  /** A staging external table's recipe: format, resolved location,
    * options, and the schema resolved once at CREATE (the reference's
    * ListingTable fixes its schema the same way). Temp views are
    * per-session, so the recipe (not the view) is the source of truth —
    * snapshots rebuild the reader from it without re-inferring. */
  private case class Staging(format: String, location: String,
                             options: Map[String, String], schema: StructType)

  private val stagingTables = scala.collection.concurrent.TrieMap.empty[String, Staging]

  /** Reader for an external location. With `schema` (the one resolved at
    * CREATE), file formats skip schema inference — for parquet and CSV
    * that is a Spark job per read; the files are still listed afresh. */
  private[sql] def readExternal(s: SparkSession, fmt: String, loc: String,
                                options: Map[String, String],
                                schema: Option[StructType] = None): DataFrame = {
    def file = schema.fold(s.read)(s.read.schema)
    fmt match {
      case "PARQUET" => file.parquet(loc)
      case "ICEBERG" =>
        // read-only iceberg scan via the spec's JSON+Avro metadata layer
        // (reference src/catalog/metastore.rs:237-246). OPTIONS
        // ('as_of' '<ISO instant|epoch ms>') pins the read to the latest
        // snapshot at or before the timestamp (static-snapshot registration,
        // reference src/context/iceberg.rs).
        val asOf = options.get("as_of").map { v =>
          scala.util.Try(java.time.Instant.parse(v).toEpochMilli)
            .getOrElse(v.trim.toLong)
        }
        graft.sources.IcebergScan.read(s, loc, asOf)
      case "DELTA" | "DELTATABLE" =>
        // read-only interop scan of a real Delta Lake (_delta_log) table —
        // what the reference's delta-rs storage layer itself writes
        // (reference src/catalog/metastore.rs:176-207)
        graft.sources.DeltaScan.read(s, loc)
      case "CSV" => file.option("header", "true").option("inferSchema", "true").csv(loc)
      case "JSON" | "NDJSON" => file.json(loc)
      case "JDBC" =>
        // remote tables (reference datafusion_remote_tables): a live
        // federated scan through Spark's JDBC source, which pushes
        // column pruning, filters, and LIMIT to the remote database
        s.read.format("jdbc").option("url", loc).options(options).load()
      case other => throw new IllegalArgumentException(s"unsupported external format $other")
    }
  }

  /** Register `db`'s tables into `s` as views, each pinned to the latest
    * manifest resolved here, and return the pins. A cataloged table with
    * NO manifest can only have been dropped + collected by another process
    * after our catalog load (creates are publish-last, see
    * createPublishLast) — it is skipped, so this registration serializes
    * after that drop instead of failing on a table the query may never
    * touch. readLatestOpt (not an exists-probe + read): the manifest can
    * also vanish between a probe and the read — resolving it once and
    * pinning the view to it closes that window. */
  private def registerDataViews(s: SparkSession, db: String): Seq[SystemTables.Pinned] =
    catalog.listTables(db).flatMap { case (sch, name, uuid) =>
      val root = catalog.tableRoot(uuid)
      Manifest.readLatestOpt(root).map { m =>
        val p = SystemTables.Pinned(sch, name, uuid, m)
        GraftSessions.replaceTempView(new GraftTable(s, root).read(Some(m.version)), p.view)
        p
      }
    }

  private def buildSnapshot(db: String): SparkSession = {
    val s = GraftSessions.cloneSession(spark)
    // the clone inherits the parent's temp views; it must expose exactly
    // `db`'s tables (a leaked view from another database would serve that
    // database's data — the cross-contamination the spec hammers on)
    GraftSessions.clearTempViews(s)
    val pinned = registerDataViews(s, db)
    // staging external tables are session-global (transient, not per-db)
    stagingTables.foreach { case (name, st) =>
      GraftSessions.replaceTempView(
        readExternal(s, st.format, st.location, st.options, Some(st.schema)), s"staging__$name")
    }
    SystemTables.registerInto(this, s, db, pinned)
    Functions.registerInto(this, s)
    s
  }

  /** The current read snapshot for `db`: built at most once per (db,
    * generation) — concurrent readers share it lock-free. Stale
    * generations are evicted from the cache; in-flight queries keep
    * their session object alive regardless. */
  private def snapshotSession(db: String): SparkSession = {
    pollPeerCommits() // cross-process visibility, TTL-bounded
    require(catalog.listDatabases.contains(db), s"unknown database $db")
    val gen = generation.get()
    val s = readSessions.computeIfAbsent((db, gen), _ => buildSnapshot(db))
    readSessions.keySet.removeIf(_._2 < gen)
    s
  }

  /** Run a read-only statement WITHOUT the context lock, on the current
    * catalog snapshot for `db` (default: the session's current database).
    * Returns a lazy DataFrame — analysis happens here (so ETags can be
    * computed plan-based without executing), jobs run when consumed. */
  def executeRead(sql: String, db: Option[String] = None): DataFrame = {
    val d = db.getOrElse(currentDb)
    val s = snapshotSession(d)
    s.sql(rewriteQuery(sql, s, d))
  }

  /** Inline-metastore read (Arrow Flight SQL parity where gRPC can't go —
    * reference `clade/proto/schema.proto` InlineMetastoreCommandStatement
    * Query + `src/frontend/flight/handler.rs:66-121`): the request ships
    * its OWN catalog — schemas of tables resolved against named storage
    * locations — and the query runs scoped to exactly that catalog on an
    * isolated session clone; the persistent catalog is never consulted,
    * and nothing the request registers leaks into other sessions. */
  def executeInline(sql: String, schemas: Seq[GraftContext.InlineSchema],
                    stores: Seq[GraftContext.InlineStore]): DataFrame = {
    val s = org.apache.spark.sql.GraftSessions.cloneSession(spark)
    org.apache.spark.sql.GraftSessions.clearTempViews(s)
    val storeByName = stores.map(st => st.name -> st.location).toMap
    val registered = schemas.flatMap { sch =>
      sch.tables.map { t =>
        val loc = t.store match {
          case Some(name) => storeByName.getOrElse(name,
            throw new IllegalArgumentException(s"table ${t.name} references unknown store $name"))
            .stripSuffix("/") + "/" + t.path
          case None => t.path // already a full location
        }
        val df = t.format.toUpperCase match {
          // DELTA is the reference's native lake format; ours is the graft
          // manifest layout — same role, so it rides the same enum value
          case "" | "DELTA" | "GRAFT" => new GraftTable(s, loc).read()
          case "PARQUET" => s.read.parquet(loc)
          case other => throw new IllegalArgumentException(
            s"unsupported inline table format $other")
        }
        df.createOrReplaceTempView(s"${sch.name}__${t.name}")
        if (sch.name == "public") df.createOrReplaceTempView(t.name)
        (sch.name, t.name)
      }
    }
    val rewritten = mapOutsideLiterals(sql) { seg0 =>
      var seg = seg0
      registered.foreach { case (sch, t) =>
        seg = seg.replaceAll(s"(?i)(?<![`\\w])$sch\\.$t(?![`\\w])", s"${sch}__$t")
      }
      seg
    }
    s.sql(rewritten)
  }

  // views registered by the previous registerAll — dropped when they
  // disappear from the catalog (or the session switches database), so a
  // stale view can't serve another database's data
  private var registeredViews: Set[String] = Set.empty

  /** Make every catalog table visible to spark.sql: public tables under
    * their bare name; others via `sch__tbl` flat names (rewritten in).
    * Skipped entirely when nothing changed since the last registration. */
  private def registerAll(): Unit = {
    if (!catalogDirty) return
    val pinned = registerDataViews(spark, currentDb)
    val fresh = pinned.map(_.view).toSet
    (registeredViews -- fresh).foreach(spark.catalog.dropTempView(_): Unit)
    registeredViews = fresh
    SystemTables.registerInto(this, spark, currentDb, pinned)
    catalogDirty = false
  }

  /** Backtick-quote qualified names of known non-public tables + rewrite
    * time travel `t('<ts>')` to a version-pinned registered view. */
  private[sql] def rewriteQuery(sql0: String): String =
    rewriteQuery(sql0, spark, currentDb)

  private[sql] def rewriteQuery(sql0: String, session: SparkSession, db: String): String = {
    var sql = sql0
    // change data feed: table_changes('<table>', <from>[, <to>]) — the
    // version-diff table function (GraftTable.changes). Rewritten to a
    // version-pinned view like time travel; registration is idempotent.
    val tc = """(?i)\btable_changes\s*\(\s*'([^']+)'\s*,\s*(\d+)\s*(?:,\s*(\d+)\s*)?\)""".r
    sql = tc.replaceAllIn(sql, m => {
      val (sch, name) = splitName(m.group(1))
      val uuid = catalog.getTable(db, sch, name).getOrElse(
        throw new IllegalArgumentException(s"table_changes: unknown table ${m.group(1)}"))
      val root = catalog.tableRoot(uuid)
      val from = m.group(2).toLong
      val to = Option(m.group(3)).map(_.toLong)
        .orElse(Manifest.latestVersion(root))
        .getOrElse(throw new IllegalArgumentException(s"table_changes: $name has no versions"))
      val viewName = s"__changes__${sch}__${name}__${from}_$to"
      new GraftTable(session, root).changes(from, to).createOrReplaceTempView(viewName)
      java.util.regex.Matcher.quoteReplacement(viewName)
    })
    // time travel: <table>('<ISO timestamp>')
    val tt = """(\b[\w."]+)\s*\(\s*'([^']+)'\s*\)""".r
    sql = tt.replaceAllIn(sql, m => {
      val (sch, name) = splitName(m.group(1))
      // only rewrite when the argument actually parses as an ISO instant —
      // otherwise a builtin call like date('2020-01-01') whose name
      // collides with a table would be hijacked and fail
      val instant = scala.util.Try(Instant.parse(m.group(2))).toOption
      (catalog.getTable(db, sch, name), instant) match {
        case (Some(uuid), Some(ts)) =>
          val tsMs = ts.toEpochMilli
          val root = catalog.tableRoot(uuid)
          val v = Manifest.versionAsOf(root, tsMs).getOrElse(
            throw new IllegalArgumentException(s"no version of $sch.$name at or before ${m.group(2)}"))
          val viewName = if (sch == "public") s"${name}__v$v" else s"${sch}__${name}__v$v"
          // version-pinned by name, so concurrent registration is idempotent
          new GraftTable(session, root).read(Some(v)).createOrReplaceTempView(viewName)
          java.util.regex.Matcher.quoteReplacement(viewName)
        case _ => java.util.regex.Matcher.quoteReplacement(m.group(0))
      }
    })
    // qualified non-public names -> backticked flat view names. Applied
    // OUTSIDE string literals only: a literal mentioning
    // 'system.table_versions' is content, not a table reference.
    val nonPublic = catalog.listTables(db).filter(_._1 != "public") ++
      Seq(("system", "table_versions", ""), ("system", "dropped_tables", ""),
        ("information_schema", "tables", ""), ("information_schema", "columns", ""),
        ("information_schema", "routines", ""), ("information_schema", "df_settings", ""),
        ("information_schema", "parameters", ""), ("information_schema", "schemata", ""),
        ("information_schema", "views", ""),
        ("information_schema", "table_constraints", ""),
        ("information_schema", "check_constraints", ""),
        ("staging", "", ""))
    mapOutsideLiterals(sql) { seg0 =>
      var seg = seg0
      nonPublic.foreach { case (sch, name, _) =>
        if (name.nonEmpty)
          seg = seg.replaceAll(s"(?i)(?<![`\\w])$sch\\.$name(?![`\\w])", s"${sch}__$name")
      }
      // staging external tables are registered on creation with flat names
      seg.replaceAll("(?i)(?<![`\\w])staging\\.(\\w+)(?![`\\w])", "staging__$1")
    }
  }

  /** Apply `f` to the spans of `sql` OUTSIDE single-quoted string
    * literals, preserving the literals verbatim. Doubled quotes ('') form
    * adjacent literals, so escaped content never leaks into `f`. */
  private def mapOutsideLiterals(sql: String)(f: String => String): String = {
    val out = new StringBuilder
    val seg = new StringBuilder
    var inS = false
    sql.foreach { c =>
      if (!inS && c == '\'') { out.append(f(seg.result())); seg.clear(); inS = true; out.append(c) }
      else if (inS) { if (c == '\'') inS = false; out.append(c) }
      else seg.append(c)
    }
    out.append(f(seg.result()))
    out.result()
  }

  /** Run a read-only (or Spark-handled) statement through Catalyst. */
  private def sparkSql(sql: String): DataFrame = {
    registerAll()
    spark.sql(rewriteQuery(sql))
  }

  // --- dispatcher ---------------------------------------------------------

  private val reUse = """(?is)^USE\s+([\w"]+)\s*$""".r
  private val reCreateDb = """(?is)^CREATE\s+DATABASE\s+(?:IF\s+NOT\s+EXISTS\s+)?([\w"]+)\s*$""".r
  private val reCreateSchema = """(?is)^CREATE\s+SCHEMA\s+(?:IF\s+NOT\s+EXISTS\s+)?([\w"]+)\s*$""".r
  private val reCreateTableAs = """(?is)^CREATE\s+TABLE\s+([\w."]+)\s+AS\s+(.+)$""".r
  private val reCreateTable = """(?is)^CREATE\s+TABLE\s+([\w."]+)\s*\((.+)\)\s*$""".r
  private val reCreateExternal =
    """(?is)^CREATE\s+EXTERNAL\s+TABLE\s+([\w."]+)\s+STORED\s+AS\s+(\w+)(?:\s+PARTITIONED\s+BY\s*\(([^)]*)\))?\s+LOCATION\s+'([^']+)'(?:\s+OPTIONS\s*\(([^)]*)\))?\s*$""".r
  private val reInsertSel = """(?is)^INSERT\s+INTO\s+([\w."]+)\s*(?:\(([^)]*)\))?\s*(SELECT.+|VALUES.+|WITH.+)$""".r
  private val reUpdate = """(?is)^UPDATE\s+([\w."]+)\s+SET\s+(.+)$""".r
  private val reDelete = """(?is)^DELETE\s+FROM\s+([\w."]+)(?:\s+WHERE\s+(.+))?$""".r
  private val reTruncate = """(?is)^TRUNCATE\s+(?:TABLE\s+)?([\w."]+)\s*$""".r
  private val reDropTable = """(?is)^DROP\s+TABLE\s+(IF\s+EXISTS\s+)?([\w."]+)\s*$""".r
  private val reDropSchema = """(?is)^DROP\s+SCHEMA\s+(?:IF\s+EXISTS\s+)?([\w"]+)\s*$""".r
  private val reRename = """(?is)^ALTER\s+TABLE\s+([\w."]+)\s+RENAME\s+TO\s+([\w."]+)\s*$""".r
  private val reAddColumn =
    """(?is)^ALTER\s+TABLE\s+([\w."]+)\s+ADD\s+COLUMN\s+([\w"]+)\s+([\w() ,]+?)\s*$""".r
  private val reDropColumn =
    """(?is)^ALTER\s+TABLE\s+([\w."]+)\s+DROP\s+COLUMN\s+([\w"]+)\s*$""".r
  private val reAddConstraint =
    """(?is)^ALTER\s+TABLE\s+([\w."]+)\s+ADD\s+CONSTRAINT\s+(\w+)\s+CHECK\s*\((.+)\)\s*$""".r
  private val reDropConstraint =
    """(?is)^ALTER\s+TABLE\s+([\w."]+)\s+DROP\s+CONSTRAINT\s+(IF\s+EXISTS\s+)?(\w+)\s*$""".r
  private val reVacuumDb = """(?is)^VACUUM\s+DATABASE\s+([\w"]+)\s*$""".r
  private val reVacuumTable =
    """(?is)^VACUUM\s+TABLE\s+([\w."]+)(?:\s+RETAIN\s+(\d+)\s+VERSIONS)?\s*$""".r
  private val reOptimize = """(?is)^OPTIMIZE\s+TABLE\s+([\w."]+)\s*$""".r
  private val reCluster =
    """(?is)^OPTIMIZE\s+TABLE\s+([\w."]+)\s+CLUSTER\s+BY\s*\(([^)]+)\)\s*$""".r
  private val reZorder =
    """(?is)^OPTIMIZE\s+TABLE\s+([\w."]+)\s+ZORDER\s+BY\s*\(([^)]+)\)\s*$""".r
  private val reBloom =
    """(?is)^OPTIMIZE\s+TABLE\s+([\w."]+)\s+BLOOM\s+BY\s*\(([^)]+)\)\s*$""".r
  private val reCreateIncr =
    """(?is)^CREATE\s+INCREMENTAL\s+AGGREGATE\s+([\w."]+)\s+FROM\s+([\w."]+)\s+GROUP\s+BY\s*\(([^)]+)\)\s+SUM\s*\(([^)]+)\)\s*$""".r
  private val reRefreshIncr = """(?is)^REFRESH\s+AGGREGATE\s+([\w."]+)\s*$""".r
  private val reCopyTo = """(?is)^COPY\s+(.+?)\s+TO\s+'([^']+)'(?:\s+WITH\s*\(\s*FORMAT\s+(\w+)\s*\))?\s*$""".r
  private val reCreateFn =
    """(?is)^CREATE\s+(OR\s+REPLACE\s+)?FUNCTION\s+([\w"]+)\s+AS\s+'(.+)'\s*$""".r
  private val reDropFn = """(?is)^DROP\s+FUNCTION\s+(IF\s+EXISTS\s+)?(.+)$""".r
  private val reConvert = """(?is)^CONVERT\s+'([^']+)'\s+TO\s+GRAFT\s+([\w."]+)\s*$""".r
  private val reExplainAnalyze = """(?is)^EXPLAIN\s+ANALYZE\s+(.+)$""".r
  private val reClone =
    """(?is)^CREATE\s+TABLE\s+([\w."]+)\s+SHALLOW\s+CLONE\s+([\w."]+)(?:\s+VERSION\s+AS\s+OF\s+(\d+))?\s*$""".r
  private val reRestore =
    """(?is)^RESTORE\s+TABLE\s+([\w."]+)\s+TO\s+VERSION\s+AS\s+OF\s+(\d+)\s*$""".r

  /** Execute one statement; returns its result (DDL/DML → empty). */
  def execute(sql: String): DataFrame = {
    pollPeerCommits() // another process's commits, TTL-bounded (reads too)
    val res = executeInternal(sql)
    if (!isReadOnly(sql)) markDirty() // writes invalidate registered views
    res
  }

  private def executeInternal(sql: String): DataFrame = sql.trim match {
    case reUse(db) =>
      val d = clean(db)
      require(catalog.listDatabases.contains(d), s"unknown database $d")
      currentDb = d
      markDirty() // registered views belong to the previous database
      emptyResult
    case reCreateDb(db) =>
      catalog.createDatabase(clean(db)); emptyResult
    case reCreateSchema(sch) =>
      catalog.createSchema(currentDb, clean(sch)); emptyResult
    case reCreateExternal(qname, fmt, pcols, loc, opts) =>
      val (_, name) = splitName(qname)
      // OPTIONS ('k1' 'v1', 'k2' 'v2') — reference external-table syntax
      val options: Map[String, String] = Option(opts).toSeq
        .flatMap(_.split(',')).map(_.trim).filter(_.nonEmpty)
        .map { kv =>
          val m = """'([^']*)'\s+'([^']*)'""".r
          kv match {
            case m(k, v) => k -> v
            case _ => throw new IllegalArgumentException(s"bad OPTIONS entry: $kv")
          }
        }.toMap
      // http(s) PARQUET (and ICEBERG metadata) streams with Range requests
      // through HttpRangeFileSystem — footer + touched row groups only,
      // like the reference's object_store/http.rs. Row-oriented formats
      // (CSV/NDJSON) are read whole anyway, so those download to a local
      // temp file ONCE, under the size cap.
      // Scheme-specific: JDBC "locations" are connection URLs, not files.
      val fmtUp = fmt.toUpperCase
      val isHttp = loc.startsWith("http://") || loc.startsWith("https://")
      val resolvedLoc =
        if (isHttp && (fmtUp == "PARQUET" || fmtUp == "ICEBERG" ||
            fmtUp == "DELTA" || fmtUp == "DELTATABLE")) {
          graft.sources.HttpRangeFileSystem.register(spark.sparkContext.hadoopConfiguration)
          graft.sources.HttpRangeFileSystem.rewriteScheme(loc)
        } else if (isHttp && fmtUp != "JDBC")
          downloadToTmp(loc, fmt.toLowerCase)
        else loc
      // PARTITIONED BY (reference src/datafusion/parser.rs:601-745):
      // hive-style key=value directory partitions. Spark's file sources
      // DISCOVER them (and Catalyst prunes partitions on every filter),
      // so the declaration is validated against the discovered partition
      // schema — a typo'd or missing partition layout fails at CREATE,
      // not as silent full scans later.
      val declaredPcols = Option(pcols).map(_.split(',').map(_.trim.replace("\"", ""))
        .filter(_.nonEmpty).toSeq).filter(_.nonEmpty)
      declaredPcols.foreach { _ =>
        require(Set("PARQUET", "CSV", "JSON", "NDJSON")(fmtUp),
          s"PARTITIONED BY applies to directory-listed file formats, not $fmtUp")
      }
      // validate eagerly on the main session, then record the recipe so
      // read snapshots (buildSnapshot) re-register the same view — a
      // staging table must stay visible to the lock-free read path
      val df = readExternal(spark, fmtUp, resolvedLoc, options)
      declaredPcols.foreach { declared =>
        // discovery must see BOTH source paths: v1 (LogicalRelation over
        // HadoopFsRelation — the default for parquet/csv/json) AND v2
        // (DataSourceV2Relation over a FileTable — what a format lands on
        // when removed from spark.sql.sources.useV1SourceList)
        val discovered = df.queryExecution.optimizedPlan.collect {
          case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
            l.relation match {
              case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
                fs.partitionSchema.fieldNames.toSeq
              case _ => Seq.empty[String]
            }
          case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation =>
            r.table match {
              case ft: org.apache.spark.sql.execution.datasources.v2.FileTable =>
                ft.fileIndex.partitionSchema.fieldNames.toSeq
              case _ => Seq.empty[String]
            }
        }.flatten
        // name comparison follows the session's column-resolution rule:
        // case-insensitive unless spark.sql.caseSensitive (directory
        // spellings like Year=2020 resolve to a column `year` otherwise)
        val caseSensitive = spark.sessionState.conf.caseSensitiveAnalysis
        def norm(s: Seq[String]): Seq[String] =
          (if (caseSensitive) s else s.map(_.toLowerCase(java.util.Locale.ROOT))).sorted
        require(norm(declared) == norm(discovered).distinct,
          s"PARTITIONED BY (${declared.mkString(", ")}) does not match the " +
          s"partition layout discovered under $resolvedLoc " +
          s"(${if (discovered.isEmpty) "none" else discovered.mkString(", ")}); " +
          "expected hive-style key=value directories for exactly the declared columns")
      }
      df.createOrReplaceTempView(s"staging__$name")
      stagingTables(name) = Staging(fmtUp, resolvedLoc, options, df.schema)
      emptyResult
    case reClone(dst, src, ver) =>
      // beyond-reference lake op: ZERO-COPY table clone (O(manifest) —
      // the new table's v0 references the source's files by absolute
      // path; writes diverge copy-on-write). Must dispatch before
      // CREATE TABLE ... AS — "VERSION AS OF" contains an AS.
      val (ds, dn) = splitName(dst)
      val (ss, sn) = splitName(src)
      val srcTable = table(ss, sn) // resolve source BEFORE creating dst
      createPublishLast(ds, dn) { root =>
        srcTable.cloneTo(root, Option(ver).map(_.toLong)); ()
      }
      emptyResult
    case reRestore(qname, ver) =>
      // beyond-reference lake op: version rollback as a NEW commit
      val (sch, name) = splitName(qname)
      table(sch, name).restore(ver.toLong)
      emptyResult
    case reCreateTableAs(qname, query) =>
      val (sch, name) = splitName(qname)
      requireNotStaging(sch)
      registerAll()
      val df = spark.sql(rewriteQuery(query))
      createPublishLast(sch, name)(root => GraftTable.createAs(spark, root, df): Unit)
      emptyResult
    case reCreateTable(qname, cols) =>
      val (sch, name) = splitName(qname)
      requireNotStaging(sch)
      val schema = parseColumns(cols)
      createPublishLast(sch, name)(root => GraftTable.create(spark, root, schema): Unit)
      emptyResult
    case reInsertSel(qname, colList, query) =>
      val (sch0, name) = splitName(qname)
      val t = table(sch0, name)
      // FULL serializability even when the query reads its own target
      // (INSERT INTO t SELECT … FROM t): the input frame is REBUILT
      // inside the retried closure against freshly re-pinned views, and
      // the commit anchors to a manifest read BEFORE the re-pin — a
      // writer that slips in between raises CommitConflict and the whole
      // read-plan-write replays. (A plain `t.append(df)` retries with
      // the PRE-conflict frame — Delta-style WriteSerializable, i.e.
      // write skew; the conc-DML fuzz's self-referencing shapes pin the
      // stronger guarantee.)
      var attempts = 0
      t.retryCommit {
        val m = t.latestManifest
        // retries re-pin the views even against CROSS-PROCESS commits
        // (which never set our dirty flag); the first attempt is already
        // dirty from execute()'s own markDirty — skipping the extra
        // generation bump keeps the common path at one snapshot rebuild
        if (attempts > 0) markDirty()
        attempts += 1
        registerAll()
        var df = spark.sql(rewriteQuery(query))
        Option(colList).map(_.trim).filter(_.nonEmpty) match {
          case Some(cl) =>
            val names = cl.split(',').map(_.trim.replace("\"", ""))
            require(names.length == df.columns.length,
              s"INSERT column list has ${names.length} columns, query produces ${df.columns.length}")
            df = df.toDF(names.toIndexedSeq: _*)
          case None =>
            // no column list: positional mapping onto the table schema
            // (cast-by-position, reference src/context/physical.rs:193-215)
            val sch = t.schema
            require(df.columns.length <= sch.fields.length,
              s"INSERT provides ${df.columns.length} columns, table has ${sch.fields.length}")
            df = df.toDF(sch.fields.take(df.columns.length).map(_.name).toIndexedSeq: _*)
        }
        // replaceFiles with an empty affected set ≡ append ANCHORED to m
        // (append's internal retry would silently re-anchor, reopening
        // the stale-frame window the rebuild closes)
        t.replaceFiles(m, Seq.empty, m.files, df)
      }
      emptyResult
    case s if MergeInto.isMerge(s) =>
      val p = MergeInto.parse(s)
      val (sch, name) = splitName(p.target)
      val t = table(sch, name)
      // by-name source: MergeInto.execute re-evaluates it on every retry
      // attempt, so a MERGE whose source reads its own target re-plans
      // from the fresh snapshot instead of re-committing a stale frame
      // (same full-serializability closure as INSERT … SELECT above)
      var srcAttempts = 0
      def srcDf = {
        // same retry-only re-pin as INSERT…SELECT above
        if (srcAttempts > 0) markDirty()
        srcAttempts += 1
        registerAll()
        if (p.source.startsWith("("))
          spark.sql(rewriteQuery(p.source.trim.stripPrefix("(").stripSuffix(")")))
        else spark.sql(rewriteQuery(s"SELECT * FROM ${p.source}"))
      }
      MergeInto.execute(t, srcDf, p)
      emptyResult
    case reUpdate(qname, setAndWhere) =>
      val (sch, name) = splitName(qname)
      // split SET assignments from WHERE at the first TOP-LEVEL keyword —
      // a regex split would bite on WHERE inside a string literal or a
      // subquery in an assignment expression
      val (setClause, where) = splitAtTopLevelWhere(setAndWhere)
      val assigns = splitTop(setClause).map { a =>
        val i = a.indexOf('=')
        require(i > 0, s"bad assignment: $a")
        (a.substring(0, i).trim.replace("\"", ""), a.substring(i + 1).trim)
      }
      table(sch, name).update(assigns, where); emptyResult
    case reDelete(qname, where) =>
      val (sch, name) = splitName(qname)
      table(sch, name).delete(Option(where)); emptyResult
    case reTruncate(qname) =>
      val (sch, name) = splitName(qname)
      table(sch, name).truncate(); emptyResult
    case reDropTable(ifExists, qname) =>
      val (sch, name) = splitName(qname)
      // IF EXISTS: a missing table is a no-op, not an error. Implemented
      // by attempting the drop and suppressing the unknown-table failure
      // — NOT check-then-drop, which another process could race between
      // the two steps (ctx.locked is per-process; the catalog file is
      // shared) and resurface the very error IF EXISTS promises away.
      val dropped =
        try { catalog.dropTable(currentDb, sch, name); true }
        catch {
          case e: IllegalArgumentException
              if ifExists != null && String.valueOf(e.getMessage).startsWith("unknown table") =>
            false
        }
      if (dropped)
        spark.catalog.dropTempView(if (sch == "public") name else s"${sch}__$name")
      emptyResult
    case reDropSchema(schName) =>
      requireNotStaging(clean(schName))
      catalog.dropSchema(currentDb, clean(schName)); emptyResult
    case reAddConstraint(qname, cname, chk) =>
      val (sch, name) = splitName(qname)
      table(sch, name).addConstraint(cname, chk)
      emptyResult
    case reDropConstraint(qname, ifEx, cname) =>
      val (sch, name) = splitName(qname)
      table(sch, name).dropConstraint(cname, ifEx != null)
      emptyResult
    case reAddColumn(qname, cname, tpe) =>
      // beyond-reference schema evolution: O(manifest), no rewrite
      val (sch, name) = splitName(qname)
      table(sch, name).addColumn(clean(cname), sqlType(tpe))
      spark.catalog.dropTempView(if (sch == "public") name else s"${sch}__$name")
      emptyResult
    case reDropColumn(qname, cname) =>
      val (sch, name) = splitName(qname)
      table(sch, name).dropColumn(clean(cname))
      spark.catalog.dropTempView(if (sch == "public") name else s"${sch}__$name")
      emptyResult
    case reRename(from, to) =>
      val (fs, fn) = splitName(from); val (ts, tn) = splitName(to)
      catalog.renameTable(currentDb, fs, fn, ts, tn)
      spark.catalog.dropTempView(if (fs == "public") fn else s"${fs}__$fn")
      emptyResult
    case reVacuumDb(_) =>
      // dropped-table storage + crash-orphaned unpublished dirs (the
      // same pair the background gcSweep collects)
      catalog.gcDropped(); sweepUnpublished(); emptyResult
    case reVacuumTable(qname, retain) =>
      val (sch, name) = splitName(qname)
      val t = table(sch, name)
      Option(retain).map(_.toInt) match {
        // an explicit RETAIN establishes the table's standing retention
        // window (persisted — the background sweep honors it too)
        case Some(n) => t.setRetention(n); t.vacuum(n)
        case None => t.vacuum(t.retentionVersions)
      }
      emptyResult
    case reZorder(qname, cols) =>
      // beyond-reference: multi-dimensional clustering (space-filling curve)
      val (sch, name) = splitName(qname)
      table(sch, name).zcluster(cols.split(',').map(_.trim.replace("\"", "")).toSeq)
      emptyResult
    case reBloom(qname, cols) =>
      // beyond-reference: per-file Bloom indexes for point-lookup skipping
      val (sch, name) = splitName(qname)
      table(sch, name).bloom(cols.split(',').map(_.trim.replace("\"", "")).toSeq)
      emptyResult
    case reCreateIncr(tq, sq, ks, vs) =>
      // beyond-reference: incrementally-maintained aggregate (CDF + MERGE)
      val (tsch, tname) = splitName(tq)
      val (ssch, sname) = splitName(sq)
      def cols(s: String) = s.split(',').map(_.trim.replace("\"", "")).toSeq
      IncrementalAgg.create(this, tsch, tname, ssch, sname, cols(ks), cols(vs))
      emptyResult
    case reRefreshIncr(tq) =>
      val (tsch, tname) = splitName(tq)
      IncrementalAgg.refresh(this, tsch, tname)
      emptyResult
    case reCluster(qname, cols) =>
      // beyond-reference maintenance op: range-cluster for data skipping
      val (sch, name) = splitName(qname)
      table(sch, name).cluster(cols.split(',').map(_.trim.replace("\"", "")).toSeq)
      emptyResult
    case reOptimize(qname) =>
      // beyond-reference maintenance op: small-file compaction
      val (sch, name) = splitName(qname)
      table(sch, name).compact(); emptyResult
    case reConvert(loc, qname) =>
      val (sch, name) = splitName(qname)
      // register in place: copy the parquet files into the table dir, then
      // build the manifest over them (no rewrite of row data)
      def convertInto(root: String): Unit = {
        LakeIO.mkdirs(new HPath(root))
        LakeIO.listStatus(new HPath(loc))
          .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
          .foreach(s => LakeIO.copyFile(s.getPath, LakeIO.path(root, s.getPath.getName)))
        GraftTable.convert(spark, root)
        ()
      }
      catalog.getTable(currentDb, sch, name) match {
        // idempotent: CONVERT of an already-converted table refreshes it
        // (reference tests/statements/convert.rs:168)
        case Some(uuid) => convertInto(catalog.tableRoot(uuid))
        case None => createPublishLast(sch, name)(convertInto)
      }
      emptyResult
    case reCreateFn(orReplace, name, json) =>
      Functions.create(this, clean(name), json, orReplace != null); emptyResult
    case reDropFn(ifExists, names) =>
      names.split(',').map(_.trim.replace("\"", "")).filter(_.nonEmpty)
        .foreach(n => catalog.dropFunction(n, ifExists != null))
      emptyResult
    case reCopyTo(src, path, fmt) =>
      registerAll()
      val body = src.trim
      val df =
        if (body.startsWith("(")) spark.sql(rewriteQuery(body.stripPrefix("(").stripSuffix(")")))
        else spark.sql(rewriteQuery(s"SELECT * FROM $body"))
      val format = Option(fmt).map(_.toLowerCase).getOrElse("parquet")
      format match {
        case "parquet" => df.write.mode("overwrite").parquet(path)
        case "csv" => df.write.mode("overwrite").option("header", "true").csv(path)
        // interop export: a real Delta Lake table (protocol v1 commit)
        // any delta-rs / delta-spark reader opens directly
        case "delta" => graft.sources.DeltaScan.write(df, path)
        case other => throw new IllegalArgumentException(s"unsupported COPY format $other")
      }
      emptyResult
    case reExplainAnalyze(q) =>
      // reference parity: DataFusion's EXPLAIN ANALYZE executes the plan
      // and annotates it with runtime metrics (seafowl passes it through,
      // src/context/mod.rs query path). Here: run the query to completion
      // (discarding rows), then emit one row per (operator, metric) from
      // the EXECUTED plan — rows seen, spills, shuffle sizes, etc.
      Functions.registerAll(this)
      val df = sparkSql(q)
      val qe = df.queryExecution
      qe.executedPlan.execute().foreach(_ => ()) // metrics accumulate here
      val out = scala.collection.mutable.ArrayBuffer[(String, String, Long)]()
      def walk(p: org.apache.spark.sql.execution.SparkPlan): Unit = {
        p.metrics.toSeq.sortBy(_._1).foreach { case (k, m) =>
          out += ((p.nodeName, k, m.value))
        }
        p match {
          case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
            walk(a.executedPlan)
          case _ => p.children.foreach(walk)
        }
      }
      walk(qe.executedPlan)
      import spark.implicits._
      out.toSeq.toDF("operator", "metric", "value")
    case other =>
      Functions.registerAll(this)
      sparkSql(other)
  }

  /** Multi-statement execution (all run sequentially; results of the last
    * statement are returned — reference `src/frontend/http.rs:174-218`). */
  def executeAll(sql: String): DataFrame = {
    val stmts = splitStatements(sql)
    require(stmts.nonEmpty, "empty statement")
    stmts.map(execute).last
  }

  /** True if the single statement is read-only (cacheable GET path). */
  def isReadOnly(sql: String): Boolean = {
    val up = sql.trim.toUpperCase
    Seq("SELECT", "WITH", "VALUES", "SHOW", "EXPLAIN", "DESCRIBE").exists(up.startsWith)
  }

  /** (table uuid, version) pairs for every graft table the query's
    * ANALYZED plan actually scans — the ETag input (reference
    * ETagBuilderVisitor, `src/frontend/http.rs:63-105`). Plan-based, so a
    * table name inside a string literal doesn't pollute the fingerprint,
    * same-named tables in other schemas/databases can't collide (the UUID
    * is the identity), and a time-travel read pins its as-of version.
    * Analysis only — no job runs. */
  def versionFingerprint(df: DataFrame): Seq[(String, Long)] =
    org.apache.spark.sql.GraftRelations.fileIndexes(df).collect {
      case g: graft.lake.GraftFileIndex => (g.tableUuid, g.version)
    }.distinct

  /** Fetch an http(s) object into a local temp file and return its path.
    * Non-2xx responses fail the DDL with the status line. The size cap is
    * enforced both on a declared Content-Length and mid-stream (chunked or
    * lying servers), mirroring the upload path — an arbitrarily large
    * remote object must not fill local disk. */
  private[graft] var maxExternalDownloadBytes: Long = 256L << 20
  private def downloadToTmp(url: String, ext: String): String = {
    import java.net.http.{HttpClient, HttpRequest, HttpResponse}
    val tmp = java.nio.file.Files.createTempFile("graft-external", s".$ext")
    val client = HttpClient.newBuilder()
      .followRedirects(HttpClient.Redirect.NORMAL).build()
    val resp = client.send(
      HttpRequest.newBuilder(java.net.URI.create(url)).GET().build(),
      HttpResponse.BodyHandlers.ofInputStream())
    def fail(msg: String): Nothing = {
      java.nio.file.Files.deleteIfExists(tmp)
      throw new IllegalArgumentException(msg)
    }
    try {
      if (resp.statusCode() / 100 != 2)
        fail(s"external table location $url returned HTTP ${resp.statusCode()}")
      if (resp.headers().firstValueAsLong("Content-Length").orElse(0L) > maxExternalDownloadBytes)
        fail(s"external table location $url exceeds $maxExternalDownloadBytes bytes")
      val in = resp.body()
      val out = java.nio.file.Files.newOutputStream(tmp,
        java.nio.file.StandardOpenOption.WRITE,
        java.nio.file.StandardOpenOption.TRUNCATE_EXISTING)
      try {
        val buf = new Array[Byte](64 << 10)
        var total = 0L
        var n = in.read(buf)
        while (n >= 0) {
          total += n
          if (total > maxExternalDownloadBytes)
            fail(s"external table location $url exceeds $maxExternalDownloadBytes bytes")
          out.write(buf, 0, n)
          n = in.read(buf)
        }
      } finally { out.close(); in.close() }
    } catch {
      case e: IllegalArgumentException => throw e
      case scala.util.control.NonFatal(e) =>
        java.nio.file.Files.deleteIfExists(tmp)
        throw e
    }
    tmp.toString
  }

  private def clean(s: String) = s.replace("\"", "")

  /** The transient staging schema holds external tables only (reference
    * `src/context/mod.rs:124-148`, error text parity with
    * `tests/statements/ddl.rs:496`). */
  private def requireNotStaging(sch: String): Unit =
    require(sch != "staging",
      "The staging schema can only be referenced via CREATE EXTERNAL TABLE")

  /** Split "assignments [WHERE pred]" at the first top-level (outside
    * quotes/parens) WHERE keyword. */
  private def splitAtTopLevelWhere(s: String): (String, Option[String]) = {
    var depth = 0; var inS = false; var i = 0
    val up = s.toUpperCase
    while (i < s.length) {
      s.charAt(i) match {
        case '\'' => inS = !inS
        case '(' if !inS => depth += 1
        case ')' if !inS => depth -= 1
        case _ =>
      }
      if (!inS && depth == 0 && up.startsWith("WHERE", i) &&
        (i == 0 || s.charAt(i - 1).isWhitespace) &&
        (i + 5 >= s.length || s.charAt(i + 5).isWhitespace))
        return (s.substring(0, i).trim, Some(s.substring(i + 5).trim))
      i += 1
    }
    (s.trim, None)
  }

  private def splitTop(s: String): Seq[String] = {
    val parts = Seq.newBuilder[String]
    var depth = 0; var inS = false; val cur = new StringBuilder
    s.foreach {
      case '\'' => inS = !inS; cur += '\''
      case '(' if !inS => depth += 1; cur += '('
      case ')' if !inS => depth -= 1; cur += ')'
      case ',' if depth == 0 && !inS => parts += cur.result(); cur.clear()
      case c => cur += c
    }
    parts += cur.result()
    parts.result().map(_.trim).filter(_.nonEmpty)
  }
}

/** Inline-metastore request model (reference `clade/proto/schema.proto`:
  * SchemaObject / TableObject / StorageLocation). */
object GraftContext {
  /** Unreferenced-storage dirs younger than this survive the GC sweep —
    * sized so the slowest realistic CTAS build (a large query writing
    * into its reserved dir) finishes well inside the window. */
  val UnpublishedGraceMs: Long = 60L * 60 * 1000

  case class InlineTable(name: String, path: String, store: Option[String], format: String)
  case class InlineSchema(name: String, tables: Seq[InlineTable])
  case class InlineStore(name: String, location: String)
}

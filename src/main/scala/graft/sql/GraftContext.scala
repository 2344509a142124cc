package graft.sql

import java.time.Instant

import graft.catalog.Catalog
import graft.lake.{GraftTable, LakeIO, Manifest}
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.{DataFrame, GraftBridge, GraftSessions, Row, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.UnresolvedFunction
import org.apache.spark.sql.catalyst.expressions.SubqueryExpression
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
  * (SELECT/WITH/VALUES/EXPLAIN/SHOW) flows to Catalyst after the
  * time-travel rewrite `t('<ts>')` → version-pinned view (reference
  * `src/version.rs:61-106`).
  *
  * Catalog resolution has one path, like the reference's per-query catalog
  * view (`src/context/mod.rs:89-112`): every statement that resolves
  * catalog names plans on its database's snapshot (`snapshotSession`), a
  * session clone per (db, generation); the base session `spark` carries no
  * catalog views or persisted functions.
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
  // engine functions + DataFusion-name aliases on every SQL surface; a
  // no-op on a session that already has them (the extension, or another
  // GraftContext over the same session)
  graft.GraftExtensions.ensure(spark)

  /** Serialize WRITE statement processing on the context: the lock guards
    * `currentDb` and orders writes, so DDL/DML/upload/sync handlers wrap
    * execute+render in `locked`. READS do not take this lock — they run on
    * immutable per-generation snapshots (`executeRead`), so one slow query never
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
    try f finally currentDb = prev
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

  /** The result of a statement that returns no rows: a local relation,
    * so rendering it runs no Spark job — and a cancel that lands after
    * the statement committed cannot fail its "ok". */
  private def emptyResult: DataFrame =
    spark.createDataFrame(java.util.List.of[Row](),
      StructType(Seq(StructField("ok", BooleanType))))

  /** (schema, table) of a name written `tbl` or `sch.tbl`. */
  private def splitName(parts: Seq[String]): (String, String) = parts match {
    case Seq(name) => ("public", name)
    case Seq(sch, name) => (sch, name)
    case _ => throw new IllegalArgumentException(s"bad table name: ${parts.mkString(".")}")
  }

  // --- query-side registration + rewrites ---------------------------------

  // Monotone catalog generation: bumped on every mutation; keys the
  // read-snapshot cache so reads after a write see the new version while
  // in-flight reads keep their pinned snapshot.
  private val generation = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Callers that mutate tables outside `execute` (upload/sync endpoints)
    * must invalidate the read snapshots. Also touches the catalog's
    * cross-process trigger so OTHER server processes over this dataDir
    * learn something changed (their poll in snapshotSession). */
  def markDirty(): Unit = {
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
      generation.incrementAndGet()
    }
  }

  // --- read snapshots: the one catalog path -------------------------------

  // (db, generation) -> a session clone with exactly that database's
  // catalog registered. Sessions share the SparkContext (executors, data
  // cache) but have isolated temp views and functions, so N readers + 1
  // writer never contend: the writer bumps the generation and the NEXT
  // statement builds a fresh snapshot.
  private val readSessions =
    new java.util.concurrent.ConcurrentHashMap[(String, Long), GraftContext.Snapshot]

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
  private def registerDataViews(s: SparkSession, db: String,
                                state: Catalog.State): Seq[SystemTables.Pinned] =
    state.tables(db).flatMap { case (sch, name, uuid) =>
      val root = catalog.tableRoot(uuid)
      Manifest.readLatestOpt(root).map { m =>
        val p = SystemTables.Pinned(sch, name, uuid, m)
        GraftSessions.replaceTempView(new GraftTable(s, root).read(Some(m.version)), p.view)
        p
      }
    }

  /** One catalog load serves the whole snapshot: the database check,
    * data views, functions, system views and every later name rewrite of
    * a read on it. */
  private def buildSnapshot(db: String): GraftContext.Snapshot = {
    val state = catalog.load()
    require(state.dbs.contains(db), s"unknown database $db")
    val s = GraftSessions.cloneSession(spark)
    // the clone inherits the parent's temp views; it must expose exactly
    // `db`'s tables (a leaked view from another database would serve that
    // database's data — the cross-contamination the spec hammers on)
    GraftSessions.clearTempViews(s)
    val pinned = registerDataViews(s, db, state)
    // staging external tables are session-global (transient, not per-db).
    // A source that no longer opens fails the queries that read it, not
    // every statement planned on this snapshot.
    stagingTables.foreach { case (name, st) =>
      val df = try readExternal(s, st.format, st.location, st.options, Some(st.schema))
        catch { case scala.util.control.NonFatal(e) =>
          SystemTables.lazyFrame(s, s"staging__$name", st.schema)(throw e) }
      GraftSessions.replaceTempView(df, s"staging__$name")
    }
    SystemTables.registerInto(this, s, db, state, pinned)
    Functions.registerInto(s, state.functionDetails)
    GraftContext.Snapshot(s, state, pinned)
  }

  /** The current read snapshot for `db`: built at most once per (db,
    * generation) — concurrent readers share it lock-free. Stale
    * generations are evicted from the cache; in-flight queries keep
    * their session object alive regardless. A cached snapshot proves
    * `db` existed at its generation, so a warm read loads no catalog. */
  private def snapshotSession(db: String): GraftContext.Snapshot = {
    pollPeerCommits() // cross-process visibility, TTL-bounded
    val gen = generation.get()
    val s = readSessions.computeIfAbsent((db, gen), _ => buildSnapshot(db))
    readSessions.keySet.removeIf(_._2 < gen)
    s
  }

  /** Run a read-only statement WITHOUT the context lock, on the current
    * catalog snapshot for `db` (default: the session's current database).
    * Returns a lazy DataFrame — analysis happens here (so ETags can be
    * computed plan-based without executing), jobs run when consumed. */
  def executeRead(sql: String, db: Option[String] = None): DataFrame =
    plan(sql, db.getOrElse(currentDb))

  /** Plan a query, or EXPLAIN ANALYZE of one, on the current snapshot of `db`. */
  private def plan(sql: String, db: String = currentDb): DataFrame = {
    val snap = snapshotSession(db)
    def query(q: String) = snap.session.sql(rewriteQuery(q, snap.session, db, snap.state))
    val r = SqlText.reader(sql)
    if (r.is("EXPLAIN ANALYZE")) explainAnalyze(query(r.rest())) else query(sql)
  }

  /** EXPLAIN ANALYZE (reference parity: DataFusion's runs the plan and
    * reports its runtime metrics): one row per (operator, metric) of the
    * EXECUTED plan. The query runs, afresh, when the result is planned for
    * consumption, so the consumer's statement job group covers it. */
  private def explainAnalyze(df: DataFrame): DataFrame = {
    val schema = StructType(Seq(StructField("operator", StringType),
      StructField("metric", StringType), StructField("value", LongType, nullable = false)))
    SystemTables.lazyFrame(df.sparkSession, "explain_analyze", schema) {
      val qe = GraftBridge.ofRows(df.sparkSession, df.queryExecution.analyzed).queryExecution
      qe.executedPlan.execute().foreach(_ => ()) // metrics accumulate here
      val out = Seq.newBuilder[Row]
      def walk(p: org.apache.spark.sql.execution.SparkPlan): Unit = {
        p.metrics.toSeq.sortBy(_._1).foreach { case (k, m) => out += Row(p.nodeName, k, m.value) }
        p match {
          case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
            walk(a.executedPlan)
          case _ => p.children.foreach(walk)
        }
      }
      walk(qe.executedPlan)
      out.result()
    }
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
        (sch.name.toLowerCase, t.name.toLowerCase)
      }
    }.toSet
    s.sql(flatNames(sql)((sch, t) => registered((sch.toLowerCase, t.toLowerCase))))
  }

  /** `sql` with each `sch.tbl` for which `flat(sch, tbl)` holds written as
    * the flat view name `sch__tbl`, backquoted. Names spelled inside a
    * literal or a comment stay text. */
  private def flatNames(sql: String)(flat: (String, String) => Boolean): String =
    SqlText.mapNames(sql) {
      case sch +: name +: rest if flat(sch, name) => Some(SqlText.ident(s"${sch}__$name" +: rest: _*))
      case _ => None
    }

  /** Flatten qualified names of non-public tables, system views and
    * staging tables (see flatNames) + rewrite time travel `t('<ts>')`
    * and the change feed `table_changes('t', n)`
    * to version-pinned views registered on `session`, against the
    * snapshot's catalog `state`. Both are matched as calls (a name, `(`,
    * literals, `)`), so their spelling inside a string literal or a
    * comment stays text. */
  private[sql] def rewriteQuery(sql0: String, session: SparkSession, db: String,
                                state: Catalog.State): String = {
    val sql = SqlText.mapCalls(sql0) { (name, args) =>
      (name.map(_.toLowerCase), args) match {
        // change data feed: table_changes('<table>', <from>[, <to>]) — the
        // version-diff table function (GraftTable.changes). Registration
        // is idempotent.
        case (Seq("table_changes"), t +: bounds)
            if t.quoted && (bounds.size == 1 || bounds.size == 2) && bounds.forall(!_.quoted) =>
          val (sch, tbl) = splitName(SqlText.reader(t.value).qname())
          val uuid = state.table(db, sch, tbl).getOrElse(
            throw new IllegalArgumentException(s"table_changes: unknown table ${t.value}"))
          val root = catalog.tableRoot(uuid)
          val from = bounds.head.value.toLong
          val to = bounds.lift(1).map(_.value.toLong)
            .orElse(Manifest.latestVersion(root))
            .getOrElse(throw new IllegalArgumentException(s"table_changes: $tbl has no versions"))
          val viewName = s"__changes__${sch}__${tbl}__${from}_$to"
          new GraftTable(session, root).changes(from, to).createOrReplaceTempView(viewName)
          Some(viewName)
        // time travel: <table>('<ISO timestamp>'). Only a cataloged table
        // called with an ISO instant is rewritten, so a builtin like
        // date('2020-01-01') whose name collides with a table keeps its
        // meaning.
        case (_, Seq(ts)) if ts.quoted && name.size <= 2 =>
          val (sch, tbl) = splitName(name)
          for {
            uuid <- state.table(db, sch, tbl)
            instant <- scala.util.Try(Instant.parse(ts.value)).toOption
          } yield {
            val root = catalog.tableRoot(uuid)
            val v = Manifest.versionAsOf(root, instant.toEpochMilli).getOrElse(
              throw new IllegalArgumentException(s"no version of $sch.$tbl at or before ${ts.value}"))
            val viewName = if (sch == "public") s"${tbl}__v$v" else s"${sch}__${tbl}__v$v"
            // version-pinned by name, so concurrent registration is idempotent
            new GraftTable(session, root).read(Some(v)).createOrReplaceTempView(viewName)
            viewName
          }
        case _ => None
      }
    }
    val nonPublic = state.tables(db).collect {
      case (sch, name, _) if sch != "public" => (sch.toLowerCase, name.toLowerCase)
    }.toSet
    flatNames(sql) { (sch, name) =>
      sch.equalsIgnoreCase("staging") || nonPublic((sch.toLowerCase, name.toLowerCase)) ||
        Set("system", "information_schema")(sch.toLowerCase) &&
          session.sessionState.catalog.getTempView(s"${sch}__$name").isDefined
    }
  }

  // --- dispatcher ---------------------------------------------------------

  /** Execute one statement; returns its result (DDL/DML → empty). */
  def execute(sql: String): DataFrame = {
    pollPeerCommits() // another process's commits, TTL-bounded (reads too)
    val r = SqlText.reader(sql)
    val read = isReadOnly(r)
    val res = executeInternal(sql, r)
    if (!read) markDirty() // writes invalidate registered views
    res
  }

  /** Graft's own statements — the ones the reference adds to its forked
    * parser — are told apart by their leading keywords and then read
    * whole before they act; anything else is planned by Catalyst. */
  private def executeInternal(sql: String, r: SqlText.Reader): DataFrame = {
    // IF [NOT] EXISTS: a missing (or, for CREATE, an existing) target is
    // a no-op, not an error. Implemented by attempting the change and,
    // when the clause was given, suppressing the catalog failure that
    // names it — NOT check-then-act, which another process could race
    // between the two steps (ctx.locked is per-process; the catalog file
    // is shared) and resurface the very error the clause promises away.
    def unless(clause: Boolean, failure: String)(change: => Any): Unit =
      try change
      catch {
        case e: IllegalArgumentException if clause && String.valueOf(e.getMessage).contains(failure) =>
      }
    def tableName() = splitName(r.qname())
    def names() = r.list(r.name())
    if (r.is("USE")) {
      val db = r.name(); r.end()
      require(catalog.listDatabases.contains(db), s"unknown database $db")
      currentDb = db
    } else if (r.is("CREATE DATABASE")) {
      val ifNotExists = r.is("IF NOT EXISTS")
      val db = r.name(); r.end()
      unless(ifNotExists, s"database $db already exists")(catalog.createDatabase(db))
    } else if (r.is("CREATE SCHEMA")) {
      val ifNotExists = r.is("IF NOT EXISTS")
      val sch = r.name(); r.end()
      unless(ifNotExists, s"schema $sch already exists")(catalog.createSchema(currentDb, sch))
    } else if (r.is("CREATE EXTERNAL TABLE")) {
      val (_, name) = tableName(); r.want("STORED AS")
      val fmtUp = r.name().toUpperCase
      // PARTITIONED BY (reference src/datafusion/parser.rs:601-745):
      // hive-style key=value directory partitions. Spark's file sources
      // DISCOVER them (and Catalyst prunes partitions on every filter),
      // so the declaration is validated against the discovered partition
      // schema — a typo'd or missing partition layout fails at CREATE,
      // not as silent full scans later.
      val declaredPcols = if (r.is("PARTITIONED BY")) Some(names()) else None
      r.want("LOCATION")
      val loc = r.string()
      // OPTIONS ('k1' 'v1', 'k2' 'v2') — reference external-table syntax
      val options = if (r.is("OPTIONS")) r.list(r.string() -> r.string()).toMap else Map.empty[String, String]
      r.end()
      // http(s) PARQUET (and ICEBERG metadata) streams with Range requests
      // through HttpRangeFileSystem — footer + touched row groups only,
      // like the reference's object_store/http.rs. Row-oriented formats
      // (CSV/NDJSON) are read whole anyway, so those download to a local
      // temp file ONCE, under the size cap.
      // Scheme-specific: JDBC "locations" are connection URLs, not files.
      val isHttp = loc.startsWith("http://") || loc.startsWith("https://")
      val resolvedLoc =
        if (isHttp && (fmtUp == "PARQUET" || fmtUp == "ICEBERG" ||
            fmtUp == "DELTA" || fmtUp == "DELTATABLE")) {
          graft.sources.HttpRangeFileSystem.register(spark.sparkContext.hadoopConfiguration)
          graft.sources.HttpRangeFileSystem.rewriteScheme(loc)
        } else if (isHttp && fmtUp != "JDBC")
          downloadToTmp(loc, fmtUp.toLowerCase)
        else loc
      declaredPcols.foreach { _ =>
        require(Set("PARQUET", "CSV", "JSON", "NDJSON")(fmtUp),
          s"PARTITIONED BY applies to directory-listed file formats, not $fmtUp")
      }
      // validate eagerly, then record the recipe: snapshots
      // (buildSnapshot) register the view from it
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
          case v2: org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation =>
            v2.table match {
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
      stagingTables(name) = Staging(fmtUp, resolvedLoc, options, df.schema)
    } else if (r.is("CREATE TABLE")) {
      val (sch, name) = tableName()
      if (r.is("SHALLOW CLONE")) {
        // beyond-reference lake op: ZERO-COPY table clone (O(manifest) —
        // the new table's v0 references the source's files by absolute
        // path; writes diverge copy-on-write). Read before CREATE TABLE
        // ... AS — "VERSION AS OF" contains an AS.
        val (ss, sn) = tableName()
        val version = if (r.is("VERSION AS OF")) Some(r.int()) else None
        r.end()
        val srcTable = table(ss, sn) // resolve source BEFORE creating dst
        createPublishLast(sch, name) { root => srcTable.cloneTo(root, version); () }
      } else if (r.is("AS")) {
        val query = r.rest()
        requireNotStaging(sch)
        val df = plan(query)
        createPublishLast(sch, name)(root => GraftTable.createAs(df.sparkSession, root, df): Unit)
      } else {
        val schema = StructType(r.list(StructField(r.name(),
          GraftContext.sqlType(r.upTo(",", "NOT")), nullable = !r.is("NOT NULL"))))
        r.end()
        requireNotStaging(sch)
        createPublishLast(sch, name)(root => GraftTable.create(spark, root, schema): Unit)
      }
    } else if (r.is("RESTORE TABLE")) {
      // beyond-reference lake op: version rollback as a NEW commit
      val (sch, name) = tableName(); r.want("TO VERSION AS OF")
      val version = r.int(); r.end()
      table(sch, name).restore(version)
    } else if (r.is("INSERT INTO")) {
      val (sch, name) = tableName()
      val cols = if (r.peek("(")) Some(names()) else None
      val query = r.rest()
      val t = table(sch, name)
      // FULL serializability even when the query reads its own target
      // (INSERT INTO t SELECT … FROM t): the input frame is REBUILT
      // inside the retried closure on a snapshot that pins t no older than
      // the manifest the commit anchors to (planSource) — a writer that
      // slips in between raises CommitConflict and the whole
      // read-plan-write replays. (A plain `t.append(df)` retries with
      // the PRE-conflict frame — Delta-style WriteSerializable, i.e.
      // write skew; the conc-DML fuzz's self-referencing shapes pin the
      // stronger guarantee.)
      t.retryCommit {
        val m = t.latestManifest
        var df = planSource(query, t, m.version)
        cols match {
          case Some(names) =>
            require(names.length == df.columns.length,
              s"INSERT column list has ${names.length} columns, query produces ${df.columns.length}")
            df = df.toDF(names: _*)
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
    } else if (r.peek("MERGE")) {
      val p = MergeInto.parse(r)
      val (sch, name) = splitName(p.target)
      val t = table(sch, name)
      // by-name source: MergeInto.execute re-evaluates it on every retry
      // attempt, so a MERGE whose source reads its own target re-plans
      // from the fresh snapshot instead of re-committing a stale frame
      // (same full-serializability closure as INSERT … SELECT above)
      def srcDf = planSource(selectFrom(p.source), t, t.latestManifest.version)
      MergeInto.execute(t, srcDf, p)
    } else if (r.is("UPDATE")) {
      val (sch, name) = tableName()
      r.want("SET")
      // assignments end at the first top-level WHERE, not one inside a
      // string literal or a subquery of an assignment expression
      val assigns = r.items { val col = r.name(); r.want("="); (col, r.upTo(",", "WHERE")) }
      val where = if (r.is("WHERE")) Some(r.rest()) else { r.end(); None }
      val (t, rw) = dmlTarget(sch, name, assigns.map(_._2) ++ where)
      t.update(assigns.map { case (c, e) => (c, rw(e)) }, where.map(rw))
    } else if (r.is("DELETE FROM")) {
      val (sch, name) = tableName()
      val where = if (r.is("WHERE")) Some(r.rest()) else { r.end(); None }
      val (t, rw) = dmlTarget(sch, name, where.toSeq)
      t.delete(where.map(rw))
    } else if (r.is("TRUNCATE")) {
      r.is("TABLE")
      val (sch, name) = tableName(); r.end()
      table(sch, name).truncate()
    } else if (r.is("DROP TABLE")) {
      val ifExists = r.is("IF EXISTS")
      val (sch, name) = tableName(); r.end()
      unless(ifExists, "unknown table")(catalog.dropTable(currentDb, sch, name))
    } else if (r.is("DROP SCHEMA")) {
      val ifExists = r.is("IF EXISTS")
      val sch = r.name(); r.end()
      requireNotStaging(sch)
      unless(ifExists, s"unknown schema $sch")(catalog.dropSchema(currentDb, sch))
    } else if (r.is("ALTER TABLE")) {
      val (sch, name) = tableName()
      if (r.is("RENAME TO")) {
        val (ts, tn) = tableName(); r.end()
        catalog.renameTable(currentDb, sch, name, ts, tn)
      } else if (r.is("ADD CONSTRAINT")) {
        val cname = r.name(); r.want("CHECK")
        val check = r.group(); r.end()
        table(sch, name).addConstraint(cname, check)
      } else if (r.is("DROP CONSTRAINT")) {
        val ifExists = r.is("IF EXISTS")
        val cname = r.name(); r.end()
        table(sch, name).dropConstraint(cname, ifExists)
      } else if (r.is("ADD COLUMN")) {
        // beyond-reference schema evolution: O(manifest), no rewrite
        table(sch, name).addColumn(r.name(), GraftContext.sqlType(r.rest()))
      } else if (r.is("DROP COLUMN")) {
        val cname = r.name(); r.end()
        table(sch, name).dropColumn(cname)
      } else r.fail("RENAME TO, ADD or DROP COLUMN, or ADD or DROP CONSTRAINT")
    } else if (r.is("VACUUM DATABASE")) {
      r.name(); r.end()
      // dropped-table storage + crash-orphaned unpublished dirs (the
      // same pair the background gcSweep collects)
      catalog.gcDropped(); sweepUnpublished()
    } else if (r.is("VACUUM TABLE")) {
      val (sch, name) = tableName()
      val retain = if (r.is("RETAIN")) { val n = r.int().toInt; r.want("VERSIONS"); Some(n) } else None
      r.end()
      val t = table(sch, name)
      retain match {
        // an explicit RETAIN establishes the table's standing retention
        // window (persisted — the background sweep honors it too)
        case Some(n) => t.setRetention(n); t.vacuum(n)
        case None => t.vacuum(t.retentionVersions)
      }
    } else if (r.is("OPTIMIZE TABLE")) {
      val (sch, name) = tableName()
      val t = table(sch, name)
      // beyond-reference maintenance ops: small-file compaction,
      // range-clustering for data skipping, multi-dimensional clustering
      // (space-filling curve) and per-file Bloom indexes for point lookups
      if (r.atEnd) t.compact()
      else if (r.is("CLUSTER BY")) { val cols = names(); r.end(); t.cluster(cols) }
      else if (r.is("ZORDER BY")) { val cols = names(); r.end(); t.zcluster(cols) }
      else if (r.is("BLOOM BY")) { val cols = names(); r.end(); t.bloom(cols) }
      else r.fail("CLUSTER BY, ZORDER BY or BLOOM BY")
    } else if (r.is("CREATE INCREMENTAL AGGREGATE")) {
      // beyond-reference: incrementally-maintained aggregate (CDF + MERGE)
      val (tsch, tname) = tableName(); r.want("FROM")
      val (ssch, sname) = tableName(); r.want("GROUP BY")
      val keys = names(); r.want("SUM")
      val sums = names(); r.end()
      IncrementalAgg.create(this, tsch, tname, ssch, sname, keys, sums)
    } else if (r.is("REFRESH AGGREGATE")) {
      val (tsch, tname) = tableName(); r.end()
      IncrementalAgg.refresh(this, tsch, tname)
    } else if (r.is("CONVERT")) {
      val loc = r.string(); r.want("TO GRAFT")
      val (sch, name) = tableName(); r.end()
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
    } else if (r.is("CREATE FUNCTION") || r.peek("CREATE OR REPLACE FUNCTION")) {
      val orReplace = r.is("CREATE OR REPLACE FUNCTION")
      val name = r.name(); r.want("AS")
      val json = r.string(); r.end()
      // validated on the snapshot: a body may call a function created before
      Functions.create(catalog, snapshotSession(currentDb).session, name, json, orReplace)
    } else if (r.is("DROP FUNCTION")) {
      val ifExists = r.is("IF EXISTS")
      val fns = r.items(r.name()); r.end()
      fns.foreach(catalog.dropFunction(_, ifExists))
    } else if (r.is("COPY")) {
      val src = GraftContext.source(r); r.want("TO")
      val path = r.string()
      val format = if (r.is("WITH")) r.list { r.want("FORMAT"); r.name().toLowerCase }.head else "parquet"
      r.end()
      val df = plan(selectFrom(src))
      format match {
        case "parquet" => df.write.mode("overwrite").parquet(path)
        case "csv" => df.write.mode("overwrite").option("header", "true").csv(path)
        // interop export: a real Delta Lake table (protocol v1 commit)
        // any delta-rs / delta-spark reader opens directly
        case "delta" => graft.sources.DeltaScan.write(df, path)
        case other => throw new IllegalArgumentException(s"unsupported COPY format $other")
      }
    } else return plan(sql)
    emptyResult
  }

  /** Plan a write's source query on a snapshot that pins the target at
    * `version` or later, the version its commit anchors to. A snapshot
    * built before that commit (another process's, or the one a retry
    * lost to) is replaced first, so a source reading its own target never
    * commits a stale frame. */
  private def planSource(query: String, target: GraftTable, version: Long): DataFrame = {
    snapshotFor(target, version)
    plan(query)
  }

  /** The current snapshot, rebuilt first if it pins `target` below `version`. */
  private def snapshotFor(target: GraftTable, version: Long): GraftContext.Snapshot = {
    val snap = snapshotSession(currentDb)
    val stale = snap.pinned.exists(p =>
      catalog.tableRoot(p.uuid) == target.root && p.manifest.version < version)
    if (stale) { markDirty(); snapshotSession(currentDb) } else snap
  }

  /** The query of a source read by [[GraftContext.source]]. */
  private def selectFrom(src: Either[Seq[String], String]): String = src.fold({ parts =>
    val (sch, name) = splitName(parts)
    s"SELECT * FROM ${SqlText.ident(SystemTables.viewName(sch, name))}"
  }, identity)

  /** An UPDATE/DELETE target and the rewrite its SET/WHERE expressions get.
    * Only a subquery or a persisted function reaches the catalog; then the
    * target lives on the current snapshot's session, else on the base one. */
  private def dmlTarget(sch: String, name: String,
                        exprs: Seq[String]): (GraftTable, String => String) = {
    val t = table(sch, name)
    val functions = spark.sessionState.functionRegistry
    val readsCatalog = exprs.exists(e => spark.sessionState.sqlParser.parseExpression(e).exists {
      case _: SubqueryExpression => true
      case f: UnresolvedFunction => !functions.functionExists(FunctionIdentifier(f.nameParts.last))
      case _ => false
    })
    if (!readsCatalog) (t, identity)
    else {
      val snap = snapshotFor(t, t.latestManifest.version)
      (new GraftTable(snap.session, t.root), rewriteQuery(_, snap.session, currentDb, snap.state))
    }
  }

  /** Multi-statement execution (all run sequentially; results of the last
    * statement are returned — reference `src/frontend/http.rs:174-218`). */
  def executeAll(sql: String): DataFrame = {
    val stmts = SqlText.statements(sql)
    require(stmts.nonEmpty, "empty statement")
    stmts.map(execute).last
  }

  /** True if the single statement is read-only (cacheable GET path). */
  def isReadOnly(sql: String): Boolean = isReadOnly(SqlText.reader(sql))

  private def isReadOnly(r: SqlText.Reader): Boolean =
    Seq("SELECT", "WITH", "VALUES", "TABLE", "(", "SHOW", "EXPLAIN", "DESCRIBE", "DESC").exists(r.peek)

  /** True if the statement is EXPLAIN ANALYZE: a read that runs its query. */
  def isExplainAnalyze(sql: String): Boolean = SqlText.reader(sql).peek("EXPLAIN ANALYZE")

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

  /** The transient staging schema holds external tables only (reference
    * `src/context/mod.rs:124-148`, error text parity with
    * `tests/statements/ddl.rs:496`). */
  private def requireNotStaging(sch: String): Unit =
    require(sch != "staging",
      "The staging schema can only be referenced via CREATE EXTERNAL TABLE")
}

/** Inline-metastore request model (reference `clade/proto/schema.proto`:
  * SchemaObject / TableObject / StorageLocation). */
object GraftContext {
  /** A read snapshot: a session clone, the catalog state it was built
    * from and the manifests its data views are pinned to. */
  private[sql] case class Snapshot(session: SparkSession, state: Catalog.State,
                                   pinned: Seq[SystemTables.Pinned])

  /** Unreferenced-storage dirs younger than this survive the GC sweep —
    * sized so the slowest realistic CTAS build (a large query writing
    * into its reserved dir) finishes well inside the window. */
  val UnpublishedGraceMs: Long = 60L * 60 * 1000

  /** A DDL type name as Spark's type (reference src/datafusion/utils.rs:47-178). */
  private[sql] def sqlType(t: String): DataType = {
    val r = SqlText.reader(t)
    def size() = if (r.peek("(")) r.list(r.int().toInt) else Nil
    val dt = r.name().toUpperCase match {
      case "BOOLEAN" | "BOOL" => BooleanType
      case "TINYINT" => ByteType
      case "SMALLINT" | "INT2" => ShortType
      case "INT" | "INTEGER" | "INT4" => IntegerType
      case "BIGINT" | "INT8" => LongType
      case "FLOAT" | "REAL" | "FLOAT4" => FloatType
      case "DOUBLE" | "FLOAT8" => r.is("PRECISION"); DoubleType
      case "CHAR" | "CHARACTER" | "VARCHAR" | "TEXT" | "STRING" => r.is("VARYING"); size(); StringType
      case "TIMESTAMP" => TimestampType
      case "DATE" => DateType
      case "BYTEA" | "BINARY" => BinaryType
      case "NUMERIC" | "DECIMAL" => size() match {
        case Seq() => DecimalType(38, 10)
        case Seq(p) => DecimalType(p, 0)
        case Seq(p, s) => DecimalType(p, s)
        case _ => r.fail("DECIMAL(precision[, scale])")
      }
      case _ =>
        // nested/JSON/UUID types are rejected for reference parity
        // (src/datafusion/utils.rs:110-176)
        throw new IllegalArgumentException(s"unsupported DDL type: ${t.trim.toUpperCase}")
    }
    r.end()
    dt
  }

  /** A statement's source: a table name, a time-travel call of one, or
    * the query of `( query )`. */
  private[sql] def source(r: SqlText.Reader): Either[Seq[String], String] =
    if (r.peek("(")) Right(r.group())
    else {
      val name = r.qname()
      if (r.peek("(")) Right(s"SELECT * FROM ${SqlText.ident(name: _*)}(${r.group()})") else Left(name)
    }

  case class InlineTable(name: String, path: String, store: Option[String], format: String)
  case class InlineSchema(name: String, tables: Seq[InlineTable])
  case class InlineStore(name: String, location: String)
}

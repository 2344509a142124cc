package graft.catalog

import java.util.UUID

import graft.lake.LakeIO
import graft.lake.Manifest.jstr
import graft.lake.Manifest.Json
import graft.lake.Manifest.Json._
import org.apache.hadoop.fs.{Path => HPath}

/** File-backed metastore mirroring the reference's SQL-database catalog
  * (`src/repository/`, `migrations/sqlite/20220728071524_create_tables.up.sql`):
  * database → schema → table (with storage UUID) plus persisted functions
  * and a dropped-tables ledger for VACUUM / system.dropped_tables.
  *
  * State lives as a versioned JSON log under `_catalog/` (fail-if-exists
  * commits, latest version wins on load — the same protocol as table
  * manifests, so the catalog survives crashes and concurrent committers on
  * any Hadoop FileSystem); reads re-load the latest version — the analog
  * of the reference reloading the catalog before every query
  * (`src/context/mod.rs:89-112`). At multi-writer scale this component is
  * the one you swap for a real SQL metastore; the interface stays.
  */
class Catalog(val dataDir: String) {

  import Catalog._

  // Catalog state is VERSIONED like table manifests (`_catalog/v<N>.json`,
  // fail-if-exists commits, latest wins on load) rather than overwritten in
  // place: HDFS's two-arg rename refuses an existing destination, so an
  // in-place overwrite there degrades to delete+rename — a window where
  // readers see no catalog at all and a crash loses it permanently. A
  // versioned commit never removes the previous state until the next one
  // is durably visible. Old versions are pruned best-effort (keep last 8).
  private val dir: HPath = LakeIO.path(dataDir, "_catalog")
  // pre-round-4 single-file layout, read once as a migration fallback
  private val legacyFile: HPath = LakeIO.path(dataDir, "_catalog.json")

  def tableRoot(uuid: String): String = s"$dataDir/$uuid"

  // --- cross-process data-change trigger -----------------------------------

  // DML commits live in per-table manifests and never rewrite the catalog
  // state file, so ANOTHER server process over the same dataDir has no
  // single cheap thing to watch for "something changed". This trigger file
  // is that thing: every mutation's markDirty touches it with a fresh
  // unique value; other processes poll it (one tiny read, TTL-bounded —
  // GraftContext.snapshotSession) instead of probing every table's
  // manifest hint per query. Best-effort by design: concurrent touches
  // overwrite each other, but any surviving value still DIFFERS from what
  // a peer last saw, which is the only property the poll needs. The
  // reference rebuilds its DataFusion context from the catalog DB per
  // query — always fresh, at per-query catalog-read cost; this is the
  // bounded-staleness analog for object-store deployments.
  private val dataGenFile: HPath = new HPath(dir, "_data.gen")
  private val touchSeq = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Record "data changed" for peer processes; returns the written value
    * so the caller can exempt its own touch from its next poll. */
  def touchDataGen(): String = {
    val v = s"${ProcessHandle.current.pid}-${touchSeq.incrementAndGet()}-${System.nanoTime()}"
    // write-temp-then-rename: a peer's readDataGen must never observe
    // empty/truncated content mid-write (in-place truncate+write would
    // let it), or the 'any surviving value differs' poll property breaks
    try LakeIO.writeAtomic(dataGenFile, v, failIfExists = false)
    catch { case scala.util.control.NonFatal(_) => () } // advisory only
    v
  }

  /** Last written trigger value ("" when never touched / racing a write). */
  def readDataGen(): String =
    try { if (LakeIO.exists(dataGenFile)) LakeIO.readString(dataGenFile) else "" }
    catch { case scala.util.control.NonFatal(_) => "" }

  // --- persistence --------------------------------------------------------


  private def versionFile(v: Long): HPath = new HPath(dir, f"v$v%020d.json")

  private def listStateVersions: Seq[Long] =
    LakeIO.listStatus(dir)
      .map(_.getPath.getName)
      .filter(n => n.startsWith("v") && n.endsWith(".json"))
      .map(n => n.stripPrefix("v").stripSuffix(".json").toLong)
      .sorted

  /** Latest state plus the version it was read at (-1 = no versioned state
    * yet: fresh data dir or pre-versioned layout). */
  private def loadVersioned(): (State, Long) =
    listStateVersions.lastOption match {
      case Some(v) => (parseState(LakeIO.readString(versionFile(v))), v)
      case None if LakeIO.exists(legacyFile) =>
        (parseState(LakeIO.readString(legacyFile)), -1L)
      case None =>
        (State(Map("default" -> Map("public" -> Map.empty)), Map.empty, Seq.empty), -1L)
    }

  def load(): State = loadVersioned()._1

  private def parseState(json: String): State = {
    val o = Json.parse(json).asInstanceOf[O].m
    val dbs = o("dbs").asInstanceOf[O].m.map { case (db, sv) =>
      db -> sv.asInstanceOf[O].m.map { case (sch, tv) =>
        sch -> tv.asInstanceOf[O].m.map { case (t, ev) =>
          t -> TableEntry(ev.asInstanceOf[O].m("uuid").asInstanceOf[S].s)
        }
      }
    }
    val fns = o("functions").asInstanceOf[O].m.map { case (n, fv) =>
      val f = fv.asInstanceOf[O].m
      n -> FunctionEntry(n, f("detailsJson").asInstanceOf[S].s)
    }
    val dropped = o("dropped").asInstanceOf[A].xs.map { dv =>
      val d = dv.asInstanceOf[O].m
      DroppedTable(d("schema").asInstanceOf[S].s, d("name").asInstanceOf[S].s,
        d("uuid").asInstanceOf[S].s, d("dropTimeMs").asInstanceOf[N].n.toLong)
    }
    val sseq = o.get("syncSeq").map(_.asInstanceOf[O].m.map {
      case (k, v) => k -> v.asInstanceOf[N].n.toLong
    }).getOrElse(Map.empty[String, Long])
    State(dbs, fns, dropped, sseq)
  }

  /** Commit `s` as version base+1; false = lost an optimistic race with a
    * concurrent committer (another process on the same data dir). */
  private def save(s: State, base: Long): Boolean = {
    val dbs = s.dbs.toSeq.sortBy(_._1).map { case (db, schemas) =>
      jstr(db) + ":" + schemas.toSeq.sortBy(_._1).map { case (sch, tables) =>
        jstr(sch) + ":" + tables.toSeq.sortBy(_._1).map { case (t, e) =>
          jstr(t) + s""":{"uuid":${jstr(e.uuid)}}"""
        }.mkString("{", ",", "}")
      }.mkString("{", ",", "}")
    }.mkString("{", ",", "}")
    val fns = s.functions.toSeq.sortBy(_._1).map { case (n, f) =>
      jstr(n) + s""":{"detailsJson":${jstr(f.detailsJson)}}"""
    }.mkString("{", ",", "}")
    val dropped = s.dropped.map { d =>
      s"""{"schema":${jstr(d.schema)},"name":${jstr(d.name)},"uuid":${jstr(d.uuid)},"dropTimeMs":${d.dropTimeMs}}"""
    }.mkString("[", ",", "]")
    val sseq = s.syncSeq.toSeq.sortBy(_._1).map { case (k, v) => jstr(k) + ":" + v }
      .mkString("{", ",", "}")
    val next = base + 1
    val ok = LakeIO.writeAtomic(versionFile(next),
      s"""{"dbs":$dbs,"functions":$fns,"dropped":$dropped,"syncSeq":$sseq}""",
      failIfExists = true)
    if (ok) {
      // prune superseded versions best-effort; latest is never touched, so
      // a concurrent reader always finds a complete state. Exception-guarded:
      // the state commit already landed, so a failed prune (transient store
      // error) must not surface as a failed mutate — createPublishLast's
      // failure cleanup would then delete a PUBLISHED table's storage,
      // recreating the cataloged-but-manifestless row publish-last prevents.
      try {
        listStateVersions.filter(_ <= next - 8)
          .foreach(v => LakeIO.delete(versionFile(v)))
        if (LakeIO.exists(legacyFile)) LakeIO.delete(legacyFile)
      } catch { case scala.util.control.NonFatal(_) => () }
    }
    ok
  }

  private def mutate[T](f: State => (State, T)): T = synchronized {
    var attempts = 0
    while (attempts < 16) {
      val (s, base) = loadVersioned()
      val (next, r) = f(s)
      if (save(next, base)) return r
      attempts += 1 // lost to a concurrent committer: reload and replay
    }
    throw new IllegalStateException(
      s"catalog commit lost ${16} consecutive optimistic races at $dir")
  }

  // --- namespace ops ------------------------------------------------------

  def createSchema(db: String, schema: String): Unit = mutate { s =>
    val dbMap = s.dbs.getOrElse(db, throw new IllegalArgumentException(s"unknown database $db"))
    require(!dbMap.contains(schema), s"schema $schema already exists")
    (s.copy(dbs = s.dbs.updated(db, dbMap.updated(schema, Map.empty))), ())
  }

  def createDatabase(db: String): Unit = mutate { s =>
    require(!s.dbs.contains(db), s"database $db already exists")
    (s.copy(dbs = s.dbs.updated(db, Map("public" -> Map.empty))), ())
  }

  /** Single-step create for callers with NO storage to build first
    * (tests, metadata-only tables). Statement paths that write storage
    * (manifest v0, data files) must use reserve → build → publish
    * instead: committing the name BEFORE the manifest exists opens a
    * cross-process window where an unrelated reader's snapshot rebuild
    * trips over a cataloged-but-manifestless table (found by
    * scripts/catalog_fuzz.py). */
  def createTable(db: String, schema: String, name: String): String = mutate { s =>
    val uuid = UUID.randomUUID.toString
    (withTable(s, db, schema, name, uuid), uuid)
  }

  /** Fail-fast pre-check + uuid reservation, NO state change: the
    * authoritative uniqueness check happens at [[publishTable]], after
    * the caller has written the table's storage under the reserved uuid
    * (publish-last, the same durable-first discipline as the manifest
    * ladder). A reservation abandoned by a crash leaves only an
    * unreferenced storage directory — invisible garbage — instead of a
    * permanently unreadable catalog row. */
  def reserveTable(db: String, schema: String, name: String): String = {
    val s = load()
    val schemas = s.dbs.getOrElse(db, throw new IllegalArgumentException(s"unknown database $db"))
    val tables = schemas.getOrElse(schema, throw new IllegalArgumentException(s"unknown schema $schema"))
    require(!tables.contains(name), s"table $schema.$name already exists")
    UUID.randomUUID.toString
  }

  /** Publish a reserved table AFTER its storage exists — atomic,
    * exactly-one-winner per name; a loser must delete its unpublished
    * storage and propagate the already-exists error. */
  def publishTable(db: String, schema: String, name: String, uuid: String): Unit = mutate { s =>
    (withTable(s, db, schema, name, uuid), ())
  }

  private def withTable(s: State, db: String, schema: String, name: String,
                        uuid: String): State = {
    val schemas = s.dbs.getOrElse(db, throw new IllegalArgumentException(s"unknown database $db"))
    val tables = schemas.getOrElse(schema, throw new IllegalArgumentException(s"unknown schema $schema"))
    require(!tables.contains(name), s"table $schema.$name already exists")
    s.copy(dbs = s.dbs.updated(db, schemas.updated(schema, tables.updated(name, TableEntry(uuid)))))
  }

  def listDatabases: Seq[String] = load().dbs.keys.toSeq.sorted

  def listSchemas(db: String): Seq[String] =
    load().dbs.getOrElse(db, Map.empty).keys.toSeq.sorted

  def getTable(db: String, schema: String, name: String): Option[String] =
    load().table(db, schema, name)

  def listTables(db: String): Seq[(String, String, String)] = load().tables(db)

  def dropTable(db: String, schema: String, name: String): String = mutate { s =>
    // A missing database or schema surfaces as the same "unknown table"
    // failure a missing table does, so DROP TABLE IF EXISTS bad_schema.t is
    // a no-op (Postgres semantics) rather than a NoSuchElementException the
    // caller's suppression filter can't recognise.
    val schemas = s.dbs.getOrElse(db, throw new IllegalArgumentException(s"unknown table $schema.$name"))
    val tables = schemas.getOrElse(schema, throw new IllegalArgumentException(s"unknown table $schema.$name"))
    val e = tables.getOrElse(name, throw new IllegalArgumentException(s"unknown table $schema.$name"))
    val next = s.copy(
      dbs = s.dbs.updated(db, schemas.updated(schema, tables - name)),
      dropped = s.dropped :+ DroppedTable(schema, name, e.uuid, System.currentTimeMillis))
    (next, e.uuid)
  }

  def dropSchema(db: String, schema: String): Seq[String] = mutate { s =>
    val schemas = s.dbs(db)
    val tables = schemas.getOrElse(schema, throw new IllegalArgumentException(s"unknown schema $schema"))
    val now = System.currentTimeMillis
    val next = s.copy(
      dbs = s.dbs.updated(db, schemas - schema),
      dropped = s.dropped ++ tables.toSeq.map { case (n, e) => DroppedTable(schema, n, e.uuid, now) })
    (next, tables.values.map(_.uuid).toSeq)
  }

  def renameTable(db: String, schema: String, from: String, toSchema: String, to: String): Unit = mutate { s =>
    val schemas = s.dbs(db)
    val tables = schemas(schema)
    val e = tables.getOrElse(from, throw new IllegalArgumentException(s"unknown table $schema.$from"))
    val afterRemove = schemas.updated(schema, tables - from)
    val destTables = afterRemove.getOrElse(toSchema, throw new IllegalArgumentException(s"unknown schema $toSchema"))
    require(!destTables.contains(to), s"table $toSchema.$to already exists")
    (s.copy(dbs = s.dbs.updated(db, afterRemove.updated(toSchema, destTables.updated(to, e)))), ())
  }

  // --- functions ----------------------------------------------------------

  def createFunction(name: String, detailsJson: String, orReplace: Boolean): Unit = mutate { s =>
    require(orReplace || !s.functions.contains(name), s"function $name already exists")
    (s.copy(functions = s.functions.updated(name, FunctionEntry(name, detailsJson))), ())
  }

  def dropFunction(name: String, ifExists: Boolean): Unit = mutate { s =>
    if (!s.functions.contains(name)) {
      if (ifExists) (s, ()) else throw new IllegalArgumentException(s"unknown function $name")
    } else (s.copy(functions = s.functions - name), ())
  }

  def functions: Map[String, String] = load().functionDetails

  // --- CDC sequence durability (reference src/sync/writer.rs origin
  // watermarks: a sync batch is acknowledged with the durable sequence;
  // replays at or below it must be no-ops) ---------------------------------

  /** Advance `origin`'s durable sequence to `seq`. Returns false (no
    * state change) when seq is not beyond the recorded watermark — the
    * caller skips the merge, making redelivery idempotent. */
  def advanceSyncSeq(origin: String, seq: Long): Boolean = mutate { s =>
    val cur = s.syncSeq.get(origin)
    if (cur.exists(_ >= seq)) (s, false)
    else (s.copy(syncSeq = s.syncSeq.updated(origin, seq)), true)
  }

  def syncProgress: Map[String, Long] = load().syncSeq

  // --- GC -----------------------------------------------------------------

  def droppedTables: Seq[DroppedTable] = load().dropped

  /** Remove dropped tables' storage and clear the ledger (VACUUM DATABASE,
    * reference `src/utils.rs:50` gc_databases). Returns purged uuids. */
  def gcDropped(): Seq[String] = mutate { s =>
    s.dropped.foreach { d =>
      LakeIO.delete(new HPath(tableRoot(d.uuid)), recursive = true)
    }
    (s.copy(dropped = Seq.empty), s.dropped.map(_.uuid))
  }
}

object Catalog {
  case class TableEntry(uuid: String)
  case class FunctionEntry(name: String, detailsJson: String)
  case class DroppedTable(schema: String, name: String, uuid: String, dropTimeMs: Long)

  /** One loaded catalog version. A read snapshot resolves everything —
    * data views, functions, system views, name rewrites — against the
    * one State it was built from. */
  case class State(
      // db -> schema -> table name -> entry
      dbs: Map[String, Map[String, Map[String, TableEntry]]],
      functions: Map[String, FunctionEntry],
      dropped: Seq[DroppedTable],
      // CDC origin -> highest applied sequence number (durable watermark)
      syncSeq: Map[String, Long] = Map.empty) {

    def table(db: String, schema: String, name: String): Option[String] =
      dbs.get(db).flatMap(_.get(schema)).flatMap(_.get(name)).map(_.uuid)

    /** (schema, table, uuid) of every table of `db`, sorted. */
    def tables(db: String): Seq[(String, String, String)] =
      dbs.getOrElse(db, Map.empty).toSeq.sortBy(_._1).flatMap { case (sch, ts) =>
        ts.toSeq.sortBy(_._1).map { case (n, e) => (sch, n, e.uuid) }
      }

    /** name -> details JSON of every persisted function. */
    def functionDetails: Map[String, String] = functions.map { case (n, f) => n -> f.detailsJson }
  }
}

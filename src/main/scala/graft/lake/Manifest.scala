package graft.lake

import org.apache.hadoop.fs.Path

/** Versioned-manifest table format ("graft table"): a table is a directory
  * of parquet files plus `_log/v<N>.json` manifests, each listing the live
  * files of that version with per-file, per-column min/max/null statistics
  * — the same information Seafowl consumes from Delta `Add` actions
  * (reference `src/context/delta.rs:246-256`) and everything UPDATE/DELETE
  * file pruning, time travel, and ETag caching need.
  *
  * Commit protocol: a manifest is staged to a temp file and atomically
  * renamed to `v<N>.json` (LakeIO.writeAtomic over the Hadoop FileSystem
  * API); a pre-existing `v<N>.json` means a concurrent writer won that
  * version — the commit fails and the caller may retry against the new
  * latest (optimistic concurrency, mirroring Delta's protocol in spirit).
  *
  * Manifests are metadata-only (file lists + stats), so driver-side JSON
  * is fine at scale: 100 TB at 1 GiB/file is ~100k entries per version.
  */
object Manifest {

  /** Per-column, per-file statistics. min/max are stored as strings in a
    * type-faithful textual form (numbers in decimal, timestamps as micros
    * since epoch); null for all-null or unsupported types. */
  case class ColStats(min: Option[String], max: Option[String], nullCount: Long)

  case class FileEntry(
      path: String, // relative to the table root
      size: Long,
      numRecords: Long,
      stats: Map[String, ColStats],
      // column -> bloom sidecar path (relative to the table root) built by
      // OPTIMIZE ... BLOOM BY; advisory (absent = no bloom for that
      // column). Rewritten files never inherit blooms — only entries
      // carried over byte-identical keep theirs.
      blooms: Map[String, String] = Map.empty,
      // how `stats` was written: entries without the field are version 1,
      // whose TIMESTAMP_NTZ bounds are in seconds, not micros — pruning
      // ignores those bounds (Pruning.mayMatch). Carried with the entry,
      // so an untouched file inherited into a new version keeps its own.
      statsVersion: Int = 1)

  /** The stats layout every writer produces today: the write job's own
    * tasks (FileStats, every graft write) and `GraftTable.collectStats`
    * (CONVERT) spell bounds identically. */
  val StatsVersion = 2

  case class TableManifest(
      version: Long,
      timestampMs: Long,
      schemaJson: String, // Spark StructType JSON
      files: Seq[FileEntry],
      // lower-cased names DROP COLUMN removed whose bytes may still live
      // in retained files; ADD COLUMN refuses these names until a
      // whole-table rewrite purges the bytes (else parquet by-name
      // resolution would resurrect pre-drop values — a retention hazard)
      droppedColumns: Seq[String] = Nil,
      // CDC origin -> highest sequence APPLIED TO THIS TABLE, written
      // atomically with the commit that applied it (the reference stores
      // sync sequences in Delta commit app metadata for exactly this
      // reason, src/sync/writer.rs): a crash between the data commit and
      // any external watermark write can no longer open a redelivery
      // window — the ingest check reads the watermark from the same
      // atomic unit as the data. Carried forward by every commit;
      // RESTORE keeps the HEAD's watermarks (data rolls back, applied
      // sequences never do — re-applying them would corrupt).
      syncSeq: Map[String, Long] = Map.empty)

  // --- tiny hand-rolled JSON (no deps beyond the JDK; values are simple) --

  private def esc(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }

  /** JSON string literal with full escaping (shared: manifests, the
    * catalog, HTTP results). */
  def jstr(s: String): String = "\"" + esc(s) + "\""
  private def jopt(o: Option[String]): String = o.map(jstr).getOrElse("null")

  def toJson(m: TableManifest): String = {
    val files = m.files.map { f =>
      val stats = f.stats.toSeq.sortBy(_._1).map { case (c, s) =>
        s"${jstr(c)}:{" + s""""min":${jopt(s.min)},"max":${jopt(s.max)},"nullCount":${s.nullCount}}"""
      }.mkString("{", ",", "}")
      val blooms =
        if (f.blooms.isEmpty) ""
        else f.blooms.toSeq.sortBy(_._1)
          .map { case (c, p) => s"${jstr(c)}:${jstr(p)}" }
          .mkString(""","blooms":{""", ",", "}")
      val statsVersion = if (f.statsVersion == 1) "" else s""","statsVersion":${f.statsVersion}"""
      s"""{"path":${jstr(f.path)},"size":${f.size},"numRecords":${f.numRecords},"stats":$stats$blooms$statsVersion}"""
    }.mkString("[", ",", "]")
    val dropped =
      if (m.droppedColumns.isEmpty) ""
      else m.droppedColumns.map(jstr).mkString(""","droppedColumns":[""", ",", "]")
    val sync =
      if (m.syncSeq.isEmpty) ""
      else m.syncSeq.toSeq.sortBy(_._1).map { case (o, n) => s"${jstr(o)}:$n" }
        .mkString(""","syncSeq":{""", ",", "}")
    s"""{"version":${m.version},"timestampMs":${m.timestampMs},"schemaJson":${jstr(m.schemaJson)},"files":$files$dropped$sync}"""
  }

  /** Minimal recursive-descent JSON parser (objects/arrays/strings/numbers/
    * null) — enough for our own manifests and the catalog file. */
  object Json {
    sealed trait V
    case class S(s: String) extends V
    case class N(n: Double) extends V
    case class B(b: Boolean) extends V
    case object Null extends V
    case class A(xs: Vector[V]) extends V
    case class O(m: Map[String, V]) extends V

    def parse(input: String): V = {
      val it = new P(input); val v = it.value(); it.ws(); require(it.eof, "trailing json"); v
    }
    private class P(s: String) {
      var i = 0
      def eof: Boolean = i >= s.length
      def ws(): Unit = while (!eof && s.charAt(i).isWhitespace) i += 1
      def value(): V = { ws(); s.charAt(i) match {
        case '{' => obj()
        case '[' => arr()
        case '"' => S(str())
        case 't' => i += 4; B(true)
        case 'f' => i += 5; B(false)
        case 'n' => i += 4; Null
        case _ => num()
      }}
      def obj(): O = {
        i += 1; ws()
        val b = Map.newBuilder[String, V]
        if (s.charAt(i) == '}') { i += 1; return O(b.result()) }
        var done = false
        while (!done) {
          ws(); val k = str(); ws(); require(s.charAt(i) == ':'); i += 1
          b += k -> value(); ws()
          if (s.charAt(i) == ',') i += 1 else { require(s.charAt(i) == '}'); i += 1; done = true }
        }
        O(b.result())
      }
      def arr(): A = {
        i += 1; ws()
        val b = Vector.newBuilder[V]
        if (s.charAt(i) == ']') { i += 1; return A(b.result()) }
        var done = false
        while (!done) {
          b += value(); ws()
          if (s.charAt(i) == ',') i += 1 else { require(s.charAt(i) == ']'); i += 1; done = true }
        }
        A(b.result())
      }
      def str(): String = {
        require(s.charAt(i) == '"'); i += 1
        val sb = new StringBuilder
        while (s.charAt(i) != '"') {
          if (s.charAt(i) == '\\') {
            i += 1
            s.charAt(i) match {
              case 'n' => sb += '\n'; case 't' => sb += '\t'; case 'r' => sb += '\r'
              case 'u' => sb += Integer.parseInt(s.substring(i + 1, i + 5), 16).toChar; i += 4
              case c => sb += c
            }
          } else sb += s.charAt(i)
          i += 1
        }
        i += 1; sb.result()
      }
      def num(): N = {
        val start = i
        while (!eof && (s.charAt(i).isDigit || "+-.eE".contains(s.charAt(i)))) i += 1
        N(s.substring(start, i).toDouble)
      }
    }
  }

  def fromJson(j: String): TableManifest = {
    import Json._
    val o = parse(j).asInstanceOf[O].m
    def str(v: V): String = v.asInstanceOf[S].s
    def lng(v: V): Long = v.asInstanceOf[N].n.toLong
    val files = o("files").asInstanceOf[A].xs.map { fv =>
      val f = fv.asInstanceOf[O].m
      val stats = f("stats").asInstanceOf[O].m.map { case (c, sv) =>
        val s = sv.asInstanceOf[O].m
        c -> ColStats(
          s("min") match { case S(x) => Some(x); case _ => None },
          s("max") match { case S(x) => Some(x); case _ => None },
          lng(s("nullCount")))
      }
      val blooms = f.get("blooms") match {
        case Some(bo: O) => bo.m.map { case (c, pv) => c -> str(pv) }
        case _ => Map.empty[String, String]
      }
      FileEntry(str(f("path")), lng(f("size")), lng(f("numRecords")), stats, blooms,
        f.get("statsVersion").map(lng(_).toInt).getOrElse(1))
    }
    val dropped = o.get("droppedColumns") match {
      case Some(a: A) => a.xs.map(str)
      case _ => Nil
    }
    val sync = o.get("syncSeq") match {
      case Some(so: O) => so.m.map { case (k, v) => k -> lng(v) }
      case _ => Map.empty[String, Long]
    }
    TableManifest(lng(o("version")), lng(o("timestampMs")), str(o("schemaJson")), files,
      dropped, sync)
  }

  // --- log directory operations ------------------------------------------

  /** Data-file resolution: entry paths are normally RELATIVE to the table
    * root; SHALLOW CLONE manifests reference the SOURCE table's files by
    * absolute (/-rooted or scheme-qualified) path. */
  def resolveData(tableRoot: String, p: String): String =
    // absolute = /-rooted or URI-schemed. Hadoop qualifies local paths as
    // "file:/tmp/..." (single slash), so match "scheme:/", not "://"
    if (p.startsWith("/") || p.matches("^[A-Za-z][A-Za-z0-9+.-]*:/.*")) p
    else s"$tableRoot/$p"

  def logDir(tableRoot: String): Path = LakeIO.path(tableRoot, "_log")

  def versionPath(tableRoot: String, v: Long): Path = new Path(logDir(tableRoot), f"v$v%020d.json")

  /** Latest-version checkpoint hint (Delta's `_last_checkpoint` pattern):
    * written best-effort after every commit so latest-version resolution is
    * O(1) file reads instead of a directory LIST whose cost grows with the
    * version count. The hint may LAG (a crash between commit and hint
    * update) but never leads — readers probe forward from it. */
  private def hintPath(tableRoot: String): Path = new Path(logDir(tableRoot), "_latest.hint")

  def listVersions(tableRoot: String): Seq[Long] =
    LakeIO.listStatus(logDir(tableRoot))
      .map(_.getPath.getName)
      .filter(n => n.startsWith("v") && n.endsWith(".json"))
      .map(n => n.stripPrefix("v").stripSuffix(".json").toLong)
      .sorted

  /** O(1 + commit lag) resolution via the hint; falls back to a LIST when
    * the hint is missing or stale (e.g. a freshly converted table). */
  def latestVersion(tableRoot: String): Option[Long] = {
    val hinted =
      try {
        if (LakeIO.exists(hintPath(tableRoot)))
          Some(LakeIO.readString(hintPath(tableRoot)).trim.toLong)
        else None
      } catch { case scala.util.control.NonFatal(_) => None }
    hinted.filter(h => LakeIO.exists(versionPath(tableRoot, h))) match {
      case Some(h) =>
        // probe forward: a commit whose hint write was lost sits just past it
        var v = h
        while (LakeIO.exists(versionPath(tableRoot, v + 1))) v += 1
        Some(v)
      case None => listVersions(tableRoot).lastOption
    }
  }

  /** Committed manifests are immutable (create-only atomic rename, and
    * versions are never reused — table roots are uuid-keyed), so parsed
    * manifests cache process-wide by path. Bounded LRU: without it, every
    * catalog-generation rebuild of `system.table_versions` re-reads the
    * FULL version history of every table — O(total versions) small-file
    * round trips per write on a long-lived table; with it, a rebuild
    * re-reads only manifests this process has never seen (LakeSpec
    * asserts the read-count bound). VACUUM deletes old version files and
    * EVICTS their entries (see `evict`) so a vacuumed snapshot cannot be
    * resurrected from this cache. */
  private val MaxCachedManifests = 256
  private val manifestCache = new java.util.LinkedHashMap[String, TableManifest](64, 0.75f, true) {
    override def removeEldestEntry(e: java.util.Map.Entry[String, TableManifest]): Boolean =
      size() > MaxCachedManifests
  }

  /** Drop a version's cached parse — called by VACUUM when it deletes
    * the version file, so an in-process RESTORE cannot resurrect a
    * vacuumed snapshot from the cache (its data files are gone; the
    * attempt must fail loudly like it would from any other process). */
  def evict(tableRoot: String, v: Long): Unit = {
    val key = versionPath(tableRoot, v).toString
    manifestCache.synchronized(manifestCache.remove(key))
    ()
  }

  def read(tableRoot: String, v: Long): TableManifest = {
    val key = versionPath(tableRoot, v).toString
    val cached = manifestCache.synchronized(manifestCache.get(key))
    if (cached != null) cached
    else {
      val m = fromJson(LakeIO.readString(versionPath(tableRoot, v)))
      manifestCache.synchronized(manifestCache.put(key, m))
      m
    }
  }

  /** [[read]] that tolerates the version file having been DELETED between
    * a `listVersions` and this read — the lock-free-reader vs background
    * `gcSweep` race: VACUUM prunes old version files without coordinating
    * with readers (by design), so any walk over a version listing must
    * treat a vanished file as "vacuumed concurrently" and skip it, not
    * fail the walk. Pinned-version reads of CURRENT data keep using
    * [[read]]: there a missing file is real corruption (or a time-travel
    * read past retention) and must stay loud. */
  def readOpt(tableRoot: String, v: Long): Option[TableManifest] =
    try Some(read(tableRoot, v))
    catch { case _: java.io.FileNotFoundException => None }

  def readLatest(tableRoot: String): Option[TableManifest] =
    latestVersion(tableRoot).map(read(tableRoot, _))

  /** [[readLatest]] that tolerates the whole TABLE vanishing between the
    * caller's catalog listing and this read (DROP + gc in another
    * process/thread): the latest version file can disappear after
    * `latestVersion` probed its existence. Catalog-snapshot rebuild paths
    * use this so an unrelated table's concurrent drop never fails a
    * served query. */
  def readLatestOpt(tableRoot: String): Option[TableManifest] =
    latestVersion(tableRoot).flatMap(readOpt(tableRoot, _))

  /** Version pinned as of an epoch-millis timestamp (latest manifest with
    * timestampMs <= ts) — the time-travel resolution rule. Binary search
    * over the version list (manifest timestamps are non-decreasing in
    * version order — single-committer monotone clock, the same assumption
    * Delta's timestamp-based time travel makes): one LIST + O(log n)
    * manifest reads instead of reading every manifest. */
  def versionAsOf(tableRoot: String, tsMs: Long): Option[Long] = {
    val vs = listVersions(tableRoot)
    var lo = 0; var hi = vs.length - 1; var ans = -1
    while (lo <= hi) {
      val mid = (lo + hi) >>> 1
      if (read(tableRoot, vs(mid)).timestampMs <= tsMs) { ans = mid; lo = mid + 1 }
      else hi = mid - 1
    }
    if (ans < 0) None else Some(vs(ans))
  }

  /** Atomic commit; throws if the version already exists (lost race).
    * The atomicity primitive is pluggable ([[CommitStore]]): the default
    * binds to the Hadoop FileSystem ladder (hard link / no-clobber
    * rename); object-store deployments bind a conditional-put store —
    * the protocol above the seam (single winner per version, loser
    * retries against the next version) is identical and is raced in
    * ManifestRaceSpec both across processes (FS store) and across
    * threads (in-memory conditional-put store). */
  /** Thrown when a commit loses the version race to a concurrent writer.
    * Subclasses IllegalStateException so existing catch sites keep
    * working; GraftTable.retryCommit matches on the type to re-run the
    * whole statement closure against the fresh snapshot. */
  final class CommitConflict(msg: String) extends IllegalStateException(msg)

  def commit(tableRoot: String, m: TableManifest,
             store: CommitStore = FileSystemCommitStore): Unit = {
    val target = versionPath(tableRoot, m.version)
    if (!store.putIfAbsent(target, toJson(m)))
      throw new CommitConflict(
        s"concurrent commit: version ${m.version} already exists at $target")
    // the committed manifest is immutable from here — seed the cache so
    // the first post-write snapshot rebuild reads zero manifests. Gated
    // on the store's own capability declaration (NOT its identity), so
    // wrapped/decorated filesystem stores keep the optimization and
    // stores whose objects aren't LakeIO-readable never poison the cache
    if (store.readableViaLakeIO)
      manifestCache.synchronized(manifestCache.put(target.toString, m))
    // the version IS committed from here: a death before the hint write
    // must leave it resolvable (readers probe past the stale hint)
    Faults.crashPoint("post-manifest")
    // best-effort checkpoint: readers fall back to a LIST if this is lost
    refreshHint(tableRoot, m.version, store)
  }

  /** MONOTONE best-effort hint update: never writes a value at or below
    * the current one. The plain unconditional write let a SLOW committer
    * REGRESS the hint (its post-commit hint write landing after faster
    * commits advanced it) — and a regressed hint pointing below a
    * VACUUM-pruned gap makes the forward probe stop early, resolving an
    * ancient version as "latest". That mis-resolution was one leg of the
    * chain-rewind data loss the cross-process soak caught (round 17);
    * see GraftTable.vacuum for the other legs. Read-check-write still
    * races, but the window is the microseconds between the read and the
    * write, not the SECONDS a statement spends between commit and hint
    * update. Failures are swallowed: the hint is advisory. */
  def refreshHint(tableRoot: String, v: Long,
                  store: CommitStore = FileSystemCommitStore): Unit =
    try {
      // parse failure of the EXISTING hint (torn/corrupt content) must not
      // abort the refresh — treat it as MinValue so the monotone write
      // overwrites and self-heals it; otherwise every later refresh throws
      // before the put and latestVersion degrades to a full LIST forever
      val cur =
        try store.getOpt(hintPath(tableRoot)).map(_.trim.toLong)
          .getOrElse(Long.MinValue)
        catch { case scala.util.control.NonFatal(_) => Long.MinValue }
      if (v > cur) store.put(hintPath(tableRoot), v.toString)
    } catch { case scala.util.control.NonFatal(_) => () }
}

package graft.lake

import java.util.UUID

import graft.lake.Manifest._
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** A versioned parquet table managed by the manifest log (see Manifest).
  * Provides the Seafowl-owned storage semantics (reference
  * `src/context/delta.rs`, `src/context/physical.rs:216-485`):
  *
  *  - append writes ZSTD parquet chunked by `maxRecordsPerFile` in one
  *    write job whose tasks also take each file's min/max/nullCount and
  *    record count (FileStats — no second pass over the written files),
  *    and commits a new version;
  *  - UPDATE/DELETE prune files by predicate-vs-stats, rewrite only the
  *    affected files (fused into new files), and inherit untouched files
  *    byte-identical — matching the reference's observable file lineage
  *    (`tests/statements/dml.rs:332-489`);
  *  - a predicate matching no file's stats commits a version with an
  *    unchanged file set;
  *  - TRUNCATE commits an empty file set; VACUUM deletes unreferenced
  *    data files and old manifests.
  */
class GraftTable(val spark: SparkSession, val root: String) {

  def schema: StructType = Manifest.readLatest(root) match {
    case Some(m) => DataType.fromJson(m.schemaJson).asInstanceOf[StructType]
    case None => throw new IllegalStateException(s"no manifest at $root")
  }

  def latestManifest: TableManifest =
    Manifest.readLatest(root).getOrElse(throw new IllegalStateException(s"no manifest at $root"))

  /** DataFrame of a pinned version (default latest), served through a
    * manifest-backed FileIndex so every query gets stats-based file
    * skipping (GraftFileIndex): predicates prune the file list at plan
    * time from manifest min/max, before parquet footers are touched. */
  def read(version: Option[Long] = None): DataFrame = {
    val m = version.map(Manifest.read(root, _)).getOrElse(latestManifest)
    org.apache.spark.sql.GraftRelations.parquetScan(
      spark, new GraftFileIndex(root, m), schemaOf(m))
  }

  private def schemaOf(m: TableManifest): StructType =
    DataType.fromJson(m.schemaJson).asInstanceOf[StructType]

  /** Raw parquet scan over an explicit manifest file subset (DML/
    * maintenance rewrites — no pruning index involved). */
  private def readFiles(files: Seq[FileEntry], sch: StructType): DataFrame =
    spark.read.schema(sch).parquet(files.map(f => Manifest.resolveData(root, f.path)): _*)

  def readAsOf(tsMs: Long): DataFrame = {
    val v = Manifest.versionAsOf(root, tsMs).getOrElse(
      throw new IllegalArgumentException(s"no version at or before $tsMs for $root"))
    read(Some(v))
  }

  /** Change-data-feed–style row diff between table versions — what a
    * downstream incremental consumer reads instead of re-scanning the
    * table (Delta's table_changes, computed rather than logged: the
    * manifest already records exactly which FILES each commit added and
    * removed, so only the touched files are ever read). Per commit
    * v ∈ (fromVersion, toVersion]:
    *
    *   inserts = rows(files added in v)   exceptAll rows(files removed in v)
    *   deletes = rows(files removed in v) exceptAll rows(files added in v)
    *
    * — an UPDATE surfaces as its delete+insert pair (CDF-without-
    * tracking semantics, exact as multisets). Appends read only the new
    * files and diff against nothing; pruned DML rewrites read only the
    * rewritten region, which is the same bounded set the commit itself
    * touched. Output: the table schema + (_change_type, _commit_version).
    */
  def changes(fromVersion: Long, toVersion: Long): DataFrame = {
    require(fromVersion <= toVersion,
      s"need fromVersion <= toVersion, got $fromVersion > $toVersion")
    val versions = Manifest.listVersions(root)
      .filter(v => v > fromVersion && v <= toVersion).sorted
    require(versions.nonEmpty || fromVersion == toVersion,
      s"no versions in ($fromVersion, $toVersion] for $root")
    val sch = schema
    def tagged(df: DataFrame, tpe: String, v: Long): DataFrame =
      df.withColumn("_change_type", lit(tpe)).withColumn("_commit_version", lit(v))
    val empty = tagged(
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], sch),
      "insert", -1L).limit(0)
    versions.foldLeft(empty) { (acc, v) =>
      val cur = Manifest.read(root, v)
      val prev = Manifest.read(root, v - 1)
      val prevPaths = prev.files.map(_.path).toSet
      val curPaths = cur.files.map(_.path).toSet
      val added = cur.files.filterNot(f => prevPaths.contains(f.path))
      val removed = prev.files.filterNot(f => curPaths.contains(f.path))
      // read each side through a version-pinned GraftFileIndex (not a raw
      // parquet scan): the diff inherits manifest-stats skipping AND the
      // scans surface in versionFingerprint, so the HTTP plan-based ETag
      // of a table_changes query goes stale exactly when a new version
      // commits instead of serving 304s forever
      def rows(fs: Seq[FileEntry], m: TableManifest) =
        if (fs.isEmpty) empty.drop("_change_type", "_commit_version")
        else org.apache.spark.sql.GraftRelations.parquetScan(
          spark, new GraftFileIndex(root, m.copy(files = fs)), sch)
      val ins = rows(added, cur).exceptAll(rows(removed, prev))
      val del = rows(removed, prev).exceptAll(rows(added, cur))
      acc.unionByName(tagged(ins, "insert", v)).unionByName(tagged(del, "delete", v))
    }
  }

  // --- write path ---------------------------------------------------------

  /** Align df to the table schema: missing columns NULL-padded, extra
    * columns rejected, then cast column-wise (INSERT semantics, reference
    * `src/context/physical.rs:193-215`). */
  private def align(df: DataFrame, sch: StructType): DataFrame = {
    val have = df.columns.map(_.toLowerCase).toSet
    val extra = df.columns.filterNot(c => sch.fieldNames.exists(_.equalsIgnoreCase(c)))
    require(extra.isEmpty, s"unknown columns: ${extra.mkString(", ")}")
    df.select(sch.fields.map { f =>
      if (have.contains(f.name.toLowerCase)) col(f.name).cast(f.dataType).as(f.name)
      else lit(null).cast(f.dataType).as(f.name)
    }.toIndexedSeq: _*)
  }

  // --- CHECK constraints --------------------------------------------------

  private def constraintsFile = LakeIO.path(root, "_constraints.json")

  /** (name, check expression) pairs, in creation order. */
  def constraints: Seq[(String, String)] =
    if (!LakeIO.exists(constraintsFile)) Nil
    else LakeIO.readString(constraintsFile).linesIterator
      .map(_.trim).filter(_.nonEmpty)
      .map { l =>
        val i = l.indexOf('\t')
        (l.substring(0, i), l.substring(i + 1))
      }.toSeq

  private def saveConstraints(cs: Seq[(String, String)]): Unit =
    LakeIO.writeString(constraintsFile,
      cs.map { case (n, e) => s"$n\t${e.replace('\n', ' ').replace('\t', ' ')}" }
        .mkString("\n"))

  /** ADD CONSTRAINT name CHECK (exprSql): validates the expression
    * against the schema AND existing data (one distributed count of
    * violations — a constraint that doesn't hold today must fail loudly
    * now, not on the next unrelated write), then persists. Enforcement
    * happens inside every subsequent write's plan (assert_true guard in
    * writeFiles — no extra pass), with SQL CHECK semantics: NULL passes,
    * only FALSE violates. */
  def addConstraint(name: String, exprSql: String): Unit = {
    require(name.matches("[\\w]+"), s"bad constraint name: $name")
    require(!constraints.exists(_._1.equalsIgnoreCase(name)),
      s"constraint $name already exists")
    val m = latestManifest
    val violations = readFiles(m.files, schemaOf(m))
      .filter(!coalesce(expr(exprSql), lit(true)))
      .count()
    require(violations == 0L,
      s"cannot add CHECK constraint $name: $violations existing rows violate ($exprSql)")
    saveConstraints(constraints :+ (name, exprSql))
  }

  def dropConstraint(name: String, ifExists: Boolean): Unit = {
    val cs = constraints
    if (!cs.exists(_._1.equalsIgnoreCase(name))) {
      require(ifExists, s"unknown constraint $name")
      return
    }
    saveConstraints(cs.filterNot(_._1.equalsIgnoreCase(name)))
  }

  /** In-plan constraint guard: a filter whose assert_true throws on the
    * first violating row, failing the write job BEFORE the manifest
    * commit (failed-DML safety leaves the table unchanged). NULL check
    * results pass (SQL CHECK semantics). Zero cost when no constraints
    * exist; one codegen'd predicate per constraint otherwise. */
  private def guarded(df: DataFrame): DataFrame =
    constraints.foldLeft(df) { case (d, (n, e)) =>
      d.filter(coalesce(
        assert_true(coalesce(expr(e), lit(true)),
          lit(s"CHECK constraint $n violated: $e")),
        lit(true)))
    }

  /** Write df's rows as new parquet files under the table root; returns
    * their manifest entries. One Spark job: the write tasks take each
    * file's stats as they write it (FileStats.Tracker), and one LIST of
    * the batch dir gives the sizes. A file that got no rows (a write of
    * zero rows still opens one) gets no entry and is deleted here, before
    * any commit could leave it orphaned; a batch dir left with no data
    * file goes with it. */
  private def writeFiles(df: DataFrame, maxRecordsPerFile: Long): Seq[FileEntry] = {
    val batchDir = s"data-${System.currentTimeMillis}-${UUID.randomUUID.toString.take(8)}"
    val out = new HPath(s"$root/$batchDir")
    val tracker = new FileStats.Tracker(df.schema)
    // a VALUES source is a LocalRelation, which Spark slices into
    // min(rows, cores) tasks — one file per row for a small INSERT; one
    // task writes it whole (maxRecordsPerFile still splits a big one)
    val src = if (fromValues(df)) df.coalesce(1) else df
    org.apache.spark.sql.GraftWrites.parquet(guarded(src), out.toString,
      Map("compression" -> "zstd", "maxRecordsPerFile" -> maxRecordsPerFile.toString),
      Seq(tracker))
    val (written, empty) = tracker.files.partition(_.numRecords > 0)
    if (written.isEmpty) {
      LakeIO.delete(out, recursive = true)
      Nil
    } else {
      empty.foreach(f => LakeIO.delete(new HPath(out, f.name)))
      val sizes = fileSizes(out)
      written.map { f =>
        FileEntry(s"$batchDir/${f.name}", sizes(f.name), f.numRecords, tracker.stats(f),
          statsVersion = StatsVersion)
      }
    }
  }

  /** Whether `df` optimizes to a LocalRelation. Only plans whose leaves
    * are all local relations are optimized to find out. */
  private def fromValues(df: DataFrame): Boolean =
    df.queryExecution.analyzed.collectLeaves().forall(_.isInstanceOf[LocalRelation]) &&
      df.queryExecution.optimizedPlan.isInstanceOf[LocalRelation]

  /** File name -> size for every file directly under dir, from ONE
    * directory listing (object-store friendly: a LIST per batch dir
    * instead of a HEAD per file). */
  private def fileSizes(dir: HPath): Map[String, Long] =
    LakeIO.listStatus(dir).filter(_.isFile).map(s => s.getPath.getName -> s.getLen).toMap

  /** Stats for every parquet file under dir by reading the files back:
    * min/max/nullCount per statable column + record count, via one
    * groupBy(input_file_name()). For files graft did not write (CONVERT);
    * its own writes take the same stats inside the write job. */
  private[graft] def collectStats(dir: String, relPrefix: String, sch: StructType): Seq[FileEntry] = {
    val written = spark.read.schema(sch).parquet(dir)
    def statBound(f: StructField, c: Column): Column = f.dataType match {
      case TimestampType => unix_micros(c).cast(StringType)
      case TimestampNTZType =>
        // micros-as-if-UTC, the value NTZ literals carry: the cast to
        // TIMESTAMP pins its zone to UTC, so the session time zone can't
        // shift the bounds
        unix_micros(org.apache.spark.sql.GraftBridge.column(
          org.apache.spark.sql.catalyst.expressions.Cast(
            org.apache.spark.sql.GraftBridge.expression(c), TimestampType, Some("UTC"))))
          .cast(StringType)
      case DateType => unix_date(c).cast(StringType) // epoch-days (DATE→INT cast is illegal under ANSI)
      case _ => c.cast(StringType)
    }
    val statable = sch.fields.filter(f => FileStats.isStatable(f.dataType))
    val aggs = statable.flatMap { f =>
      Seq(
        statBound(f, min(col(f.name))).as(s"min__${f.name}"),
        statBound(f, max(col(f.name))).as(s"max__${f.name}"),
        sum(when(col(f.name).isNull, 1L).otherwise(0L)).as(s"nulls__${f.name}"))
    } :+ count(lit(1)).as("__numRecords")
    val rows = written
      .groupBy(input_file_name().as("__file"))
      .agg(aggs.head, aggs.tail: _*)
      .collect()
    val sizes = fileSizes(new HPath(dir))
    rows.toIndexedSeq.map { r =>
      val uri = r.getAs[String]("__file")
      val fileName = uri.substring(uri.lastIndexOf('/') + 1)
      val rel = if (relPrefix.isEmpty) fileName else s"$relPrefix/$fileName"
      val size = sizes.getOrElse(fileName, LakeIO.size(LakeIO.path(root, rel)))
      val stats = statable.map { f =>
        f.name -> ColStats(
          Option(r.getAs[String](s"min__${f.name}")),
          Option(r.getAs[String](s"max__${f.name}")),
          r.getAs[Long](s"nulls__${f.name}"))
      }.toMap
      FileEntry(rel, size, r.getAs[Long]("__numRecords"), stats, statsVersion = StatsVersion)
    }
  }

  /** Commit the next version ANCHORED TO THE SNAPSHOT the operation
    * planned against: version = base.version + 1, so a concurrent commit
    * that landed after `base` was read makes the put-if-absent fail with
    * [[Manifest.CommitConflict]] instead of being silently overwritten.
    * (The old shape — re-reading latestVersion at commit time — turned
    * an interleaved writer's committed version into a lost update: this
    * op's file set, computed from the stale snapshot, would commit right
    * on top of it.) Callers wrap their read-compute-commit closure in
    * [[retryCommit]] so a lost race re-plans from the fresh snapshot. */
  private def commitNext(base: TableManifest, files: Seq[FileEntry],
                         schemaJson: String, dropped: Seq[String],
                         syncSeqUpdate: Map[String, Long] = Map.empty): Long = {
    val next = base.version + 1
    // per-origin CDC watermarks ride the SAME atomic commit as the data
    // (monotone merge: an update can only advance an origin's sequence) —
    // see TableManifest.syncSeq for why this must never be a second write
    val sync = base.syncSeq ++ syncSeqUpdate.map { case (o, n) =>
      o -> math.max(n, base.syncSeq.getOrElse(o, Long.MinValue))
    }
    // data parquet is on disk, manifest is not: a death here must leave
    // the table at `base` with only VACUUM-collectable orphans
    Faults.crashPoint("pre-manifest")
    // stale-anchor guard (round-17 soak): create-if-absent alone cannot
    // reject an anchor whose successor SLOT was vacuumed open — re-resolve
    // the tip right before the create and conflict if the chain moved.
    // One hint read per commit; the fork now needs the chain to advance
    // AND be vacuumed inside this check-to-create window (microseconds)
    // instead of the whole statement duration (seconds-minutes).
    val tip = Manifest.latestVersion(root)
    if (tip.exists(_ != base.version))
      throw new Manifest.CommitConflict(
        s"stale anchor: planned against v${base.version} but tip is v${tip.get} at $root")
    Manifest.commit(root,
      TableManifest(next, System.currentTimeMillis, schemaJson, files, dropped, sync))
    GraftTable.onCommit(root, next)
    next
  }

  /** Statement-level optimistic concurrency: runs `op` — which must
    * re-read `latestManifest` and recompute everything it writes from
    * that fresh snapshot — retrying with jittered backoff while the
    * manifest commit loses the version race. Each successful commit at
    * version v+1 therefore had its inputs derived from version v with no
    * interleaving writer, which makes concurrent statements SERIALIZABLE
    * in commit order PROVIDED the statement's entire read set is
    * re-derived from `latestManifest` inside `op` each attempt (all
    * engine-planned DML — UPDATE/DELETE/MERGE/sync — does this; the
    * concurrent DML fuzz replays that serial order and diffs final
    * state). EVERY engine statement path now rebuilds its input frame
    * inside the retried closure — UPDATE/DELETE/sync re-derive from
    * `latestManifest`, INSERT…SELECT re-pins its views and anchors via
    * `replaceFiles` (GraftContext), MERGE takes its source BY-NAME and
    * re-evaluates it per attempt (MergeInto.execute) — so the SQL surface
    * is fully serializable under contention, self-referencing statements
    * included (the conc-DML fuzz's ins_self/merge_self shapes replay it).
    * The guarantee narrows to Delta-style WriteSerializable only for
    * DIRECT API callers that pass a pre-pinned DataFrame reading this
    * same table (e.g. `append(df)` where df selects from the target): a
    * retry re-commits results computed from the pre-conflict snapshot —
    * classic write skew. Such callers must rebuild the frame inside
    * their own retried closure. Orphan parquet from
    * abandoned attempts is unreferenced by any manifest — VACUUM's
    * existing sweep collects it, the same story as failed-DML safety. */
  def retryCommit[T](op: => T): T = {
    var attempt = 0
    while (true) {
      try return op
      catch {
        case e: Manifest.CommitConflict =>
          attempt += 1
          if (attempt >= GraftTable.MaxCommitRetries) throw e
          Thread.sleep(
            5L + scala.util.Random.nextInt(20 * math.min(attempt, 8)).toLong)
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** INSERT/CTAS append; returns the new version. `syncSeqUpdate`
    * advances CDC origin watermarks atomically with this commit (the
    * sync append fast path). */
  def append(df: DataFrame, maxRecordsPerFile: Long = GraftTable.DefaultMaxRecordsPerFile,
             syncSeqUpdate: Map[String, Long] = Map.empty): Long = retryCommit {
    val m = latestManifest
    val sch = schemaOf(m)
    val entries = writeFiles(align(df, sch), maxRecordsPerFile)
    commitNext(m, m.files ++ entries, m.schemaJson, m.droppedColumns, syncSeqUpdate)
  }

  /** UPDATE ... SET assignments WHERE predSql. Affected files (by stats)
    * are fused and rewritten; untouched files inherited. */
  def update(assignments: Seq[(String, String)], predSql: Option[String]): Long = retryCommit {
    val m = latestManifest
    val sch = schemaOf(m)
    val (affected, untouched) = predSql match {
      case Some(p) => Pruning.partition(m.files, p, sch)
      case None => (m.files, Seq.empty[FileEntry])
    }
    if (affected.isEmpty) commitNext(m, m.files, m.schemaJson, m.droppedColumns)
    else {
      val src = readFiles(affected, sch)
      val pred = predSql.map(expr).getOrElse(lit(true))
      val assignMap = assignments.map { case (c, e) => c.toLowerCase -> expr(e) }.toMap
      val updated = src.select(sch.fields.map { f =>
        assignMap.get(f.name.toLowerCase) match {
          case Some(e) => when(pred, e.cast(f.dataType)).otherwise(col(f.name)).as(f.name)
          case None => col(f.name)
        }
      }.toIndexedSeq: _*)
      val entries = writeFiles(updated, GraftTable.DefaultMaxRecordsPerFile)
      commitNext(m, untouched ++ entries, m.schemaJson, m.droppedColumns)
    }
  }

  /** DELETE FROM ... WHERE predSql: rewrite affected files keeping
    * NOT(pred) rows; no predicate = remove all files. */
  def delete(predSql: Option[String]): Long = retryCommit {
    val m = latestManifest
    predSql match {
      case None => commitNext(m, Seq.empty, m.schemaJson, m.droppedColumns)
      case Some(p) =>
        val sch = schemaOf(m)
        val (affected, untouched) = Pruning.partition(m.files, p, sch)
        if (affected.isEmpty) commitNext(m, m.files, m.schemaJson, m.droppedColumns)
        else {
          val src = readFiles(affected, sch)
          val kept = src.filter(!coalesce(expr(p), lit(false)))
          val entries = writeFiles(kept, GraftTable.DefaultMaxRecordsPerFile)
          commitNext(m, untouched ++ entries, m.schemaJson, m.droppedColumns)
        }
    }
  }

  /** Commit a version where `affected` files are replaced by the rows of
    * `replacement` (written as new files) and `untouched` are inherited —
    * the merge-rewrite primitive used by CDC sync and MERGE INTO. The
    * caller passes the snapshot (`base`) it planned affected/untouched
    * against; the commit anchors to it, so a writer that slipped in
    * between raises [[Manifest.CommitConflict]] and the CALLER re-plans
    * (an internal retry here would re-commit stale file sets). */
  def replaceFiles(base: TableManifest, affected: Seq[FileEntry],
                   untouched: Seq[FileEntry], replacement: DataFrame,
                   syncSeqUpdate: Map[String, Long] = Map.empty): Long = {
    val sch = schemaOf(base)
    val entries = writeFiles(align(replacement, sch), GraftTable.DefaultMaxRecordsPerFile)
    commitNext(base, untouched ++ entries, base.schemaJson, base.droppedColumns,
      syncSeqUpdate)
  }

  def truncate(): Long = retryCommit {
    val m = latestManifest
    // no retained files → no dropped-column bytes can survive
    commitNext(m, Seq.empty, m.schemaJson, Nil)
  }

  /** Schema evolution WITHOUT rewrite — ADD COLUMN commits the SAME file
    * set under the widened schema: files that predate the column read it
    * as NULL (parquet missing-column semantics), new writes align to the
    * full schema. O(manifest); time travel still reads each version
    * under ITS schema. The new column starts stat-less, which Pruning
    * treats conservatively (never skips on it until a rewrite collects
    * stats). */
  def addColumn(name: String, dt: DataType): Long = retryCommit {
    val m = latestManifest
    val sch = schemaOf(m)
    require(!sch.fieldNames.exists(_.equalsIgnoreCase(name)),
      s"column $name already exists")
    // a re-added name would silently un-delete pre-drop values: retained
    // files still hold the old column's bytes and parquet resolves
    // columns BY NAME, so the 'predates the column → NULL' contract
    // would break. Refuse until a whole-table rewrite (CLUSTER/ZORDER)
    // or TRUNCATE purges the bytes — the tracking Delta gets from
    // column mapping.
    require(!m.droppedColumns.contains(name.toLowerCase),
      s"column $name was previously dropped and its data may survive in " +
        "retained files; rewrite the table first (CLUSTER BY / ZORDER BY " +
        "/ TRUNCATE) or pick a different name")
    commitNext(m, m.files,
      StructType(sch.fields :+ StructField(name, dt, nullable = true)).json,
      m.droppedColumns)
  }

  /** DROP COLUMN by schema narrowing — the column's bytes stay in the
    * parquet files until they are naturally rewritten (compaction/DML);
    * every read projects through the manifest schema so the column is
    * gone immediately. CHECK constraints referencing it will fail loudly
    * on the next write — drop them first. */
  def dropColumn(name: String): Long = retryCommit {
    val m = latestManifest
    val sch = schemaOf(m)
    require(sch.fieldNames.exists(_.equalsIgnoreCase(name)), s"unknown column: $name")
    val next = StructType(sch.fields.filterNot(_.name.equalsIgnoreCase(name)))
    require(next.fields.nonEmpty, "cannot drop a table's last column")
    commitNext(m, m.files, next.json,
      (m.droppedColumns :+ name.toLowerCase).distinct)
  }

  /** RESTORE ... TO VERSION AS OF v — roll the table BACK by committing a
    * NEW version whose file set and schema are version v's. History is
    * preserved and nothing is rewritten: O(manifest) regardless of table
    * size, the Delta RESTORE semantics. Valid while v's files are
    * retained (VACUUM keeps only the latest version's files, so restore
    * before vacuuming). */
  def restore(version: Long): Long = retryCommit {
    val m = Manifest.read(root, version)
    // anchored to the CURRENT head, not to the restored-from version —
    // a restore is a new commit on top of whatever is latest
    commitNext(latestManifest, m.files, m.schemaJson, m.droppedColumns)
  }

  /** SHALLOW CLONE into `destRoot`: a ZERO-COPY table whose v0 manifest
    * references THIS table's data files by absolute path — O(manifest)
    * whatever the data size (a 100 TB clone is a metadata write), per-file
    * stats carried over so the clone skips files exactly like the source.
    * Writes to the clone produce clone-local files (natural copy-on-write
    * divergence: UPDATE/DELETE rewrite affected source files into the
    * clone's own directory and inherit the rest by absolute path). Bloom
    * sidecar mappings are dropped (root-relative, advisory). Same hazard
    * as Delta's shallow clones: VACUUM on the SOURCE can remove files a
    * clone still references. */
  def cloneTo(destRoot: String, version: Option[Long] = None): GraftTable = {
    val m = version.map(Manifest.read(root, _)).getOrElse(latestManifest)
    val qual = fsQualifiedRoot.toString
    val files = m.files.map(f => f.copy(
      path = Manifest.resolveData(qual, f.path), blooms = Map.empty))
    LakeIO.mkdirs(new HPath(destRoot))
    // syncSeq travels: a clone that forks a CDC-fed table must refuse
    // the same already-applied sequences its source would
    Manifest.commit(destRoot,
      TableManifest(0L, System.currentTimeMillis, m.schemaJson, files,
        m.droppedColumns, m.syncSeq))
    // table metadata travels with the clone (Delta shallow-clone
    // semantics): CHECK constraints keep validating writes into the
    // clone instead of silently lapsing, and an established retention
    // window keeps protecting the clone from the GC sweep
    if (LakeIO.exists(constraintsFile))
      LakeIO.writeString(LakeIO.path(destRoot, "_constraints.json"),
        LakeIO.readString(constraintsFile))
    if (LakeIO.exists(retentionFile))
      LakeIO.writeString(LakeIO.path(destRoot, "_retention"),
        LakeIO.readString(retentionFile))
    new GraftTable(spark, destRoot)
  }

  /** OPTIMIZE-style compaction: fuse files smaller than `smallBytes` into
    * ~maxRecordsPerFile-row files; larger files are inherited untouched
    * (byte-identical paths). Frequent small appends and CDC flushes are
    * how lakehouse tables rot at scale — scan parallelism degenerates to
    * per-file task overhead and manifest size balloons — so compaction is
    * a first-class maintenance op alongside VACUUM. Returns the new
    * version (unchanged file set committed when <2 small files exist).
    */
  def compact(smallBytes: Long = 32L << 20,
              maxRecordsPerFile: Long = GraftTable.DefaultMaxRecordsPerFile): Long = retryCommit {
    val m = latestManifest
    val (small, big) = m.files.partition(_.size < smallBytes)
    if (small.size <= 1) commitNext(m, m.files, m.schemaJson, m.droppedColumns)
    else {
      val src = readFiles(small, schemaOf(m))
      val entries = writeFiles(
        src.coalesce(ceilDiv(small.map(_.numRecords).sum, maxRecordsPerFile)), maxRecordsPerFile)
      commitNext(m, big ++ entries, m.schemaJson, m.droppedColumns)
    }
  }

  /** Re-cluster the WHOLE table by `cols`: range-repartition + sort so
    * every rewritten file covers a disjoint key range — which is what
    * makes GraftFileIndex's min/max skipping selective (a point predicate
    * then touches exactly one file instead of all of them). The write-side
    * half of data skipping; run it on tables whose query keys drift from
    * insert order (Delta's OPTIMIZE ZORDER plays this role for
    * multi-dimensional keys; single-dimension range clustering is the
    * right default for one dominant key). One full-table shuffle.
    */
  def cluster(cols: Seq[String],
              maxRecordsPerFile: Long = GraftTable.DefaultMaxRecordsPerFile): Long =
    rewriteClustered(cols.map(col), maxRecordsPerFile, Nil)(identity)

  private def ceilDiv(records: Long, perFile: Long): Int =
    math.max(1, ((records + perFile - 1) / perFile).toInt)

  /** Shared tail of the clustering rewrites: range-partition + sort the
    * whole table on `sortCols` (after an optional column prep step), drop
    * any helper columns, and commit the rewritten file set. */
  private def rewriteClustered(sortCols: Seq[Column], maxRecordsPerFile: Long,
                               dropAfter: Seq[String])
                              (prep: DataFrame => DataFrame): Long = retryCommit {
    val m = latestManifest
    if (m.files.isEmpty) commitNext(m, m.files, m.schemaJson, m.droppedColumns)
    else {
      val nParts = ceilDiv(m.files.map(_.numRecords).sum, maxRecordsPerFile)
      val clustered = prep(readFiles(m.files, schemaOf(m)))
        .repartitionByRange(nParts, sortCols: _*)
        .sortWithinPartitions(sortCols: _*)
      val entries = writeFiles(dropAfter.foldLeft(clustered)(_ drop _), maxRecordsPerFile)
      // every file was rewritten under the current schema: dropped-column
      // bytes are gone, the names become safe to reuse
      commitNext(m, entries, m.schemaJson, Nil)
    }
  }

  /** Z-order re-cluster by 2-3 numeric columns: each column is bucketed
    * into 2^bitsPerDim uniform buckets over its global [min,max], the
    * bucket bits are interleaved into a single z-value, and the table is
    * range-partitioned + sorted by it. Unlike `cluster` (lexicographic —
    * only the leading key prunes), the space-filling curve keeps EVERY
    * participating column's per-file [min,max] narrow, so predicates on
    * any single dimension skip files (the property Delta's OPTIMIZE
    * ZORDER provides; production systems bucket on quantiles rather than
    * uniform ranges — same plan shape, better skew behavior). Two passes:
    * one tiny min/max aggregate, one full-table shuffle.
    */
  def zcluster(cols: Seq[String], bitsPerDim: Int = 10,
               maxRecordsPerFile: Long = GraftTable.DefaultMaxRecordsPerFile): Long = {
    require(cols.size >= 2 && cols.size <= 3, "zcluster takes 2-3 columns")
    val m = latestManifest
    if (m.files.isEmpty) return retryCommit {
      val cur = latestManifest
      commitNext(cur, cur.files, cur.schemaJson, cur.droppedColumns)
    }
    val mmAggs = cols.flatMap(c => Seq(
      min(col(c).cast(DoubleType)).as(s"mn_$c"),
      max(col(c).cast(DoubleType)).as(s"mx_$c")))
    val mm = readFiles(m.files, schemaOf(m)).agg(mmAggs.head, mmAggs.tail: _*).collect()(0)
    cols.zipWithIndex.foreach { case (c, i) =>
      require(!mm.isNullAt(2 * i),
        s"zcluster column '$c' has no numeric values (non-numeric or all-NULL) — " +
          "ZORDER BY needs numeric, not-all-null columns")
    }
    val nBuckets = 1 << bitsPerDim
    val buckets = cols.zipWithIndex.map { case (c, i) =>
      val (mn, mx) = (mm.getDouble(2 * i), mm.getDouble(2 * i + 1))
      // width_bucket gives 1..n inside the range; clamp to 0..n-1
      (width_bucket(col(c).cast(DoubleType), lit(mn), lit(mx + 1e-9), lit(nBuckets)) - 1)
        .cast(LongType)
    }
    val d = cols.size
    val zkey = (0 until bitsPerDim).flatMap { b =>
      buckets.zipWithIndex.map { case (v, dim) =>
        shiftleft(shiftright(v, b).bitwiseAND(lit(1L)), b * d + dim)
      }
    }.reduce[Column](_ bitwiseOR _)
    rewriteClustered(Seq(col("__z")), maxRecordsPerFile, Seq("__z"))(_.withColumn("__z", zkey))
  }

  /** Build per-file Bloom membership indexes for `cols` and commit a new
    * version whose file entries carry the sidecar mappings — the
    * point-lookup half of data skipping (see BloomIndex). One distributed
    * aggregate over the whole table (groupBy input_file_name, one
    * bloom_filter_agg per column); sidecars land under `_bloom/` as
    * write-once blobs, the manifest stays listing-sized. Sized at 8
    * bits/item for the largest file's record count (~2% FPP). */
  def bloom(cols: Seq[String]): Long = retryCommit {
    val m = latestManifest
    val sch = schemaOf(m)
    val resolved = cols.map { c =>
      sch.fieldNames.find(_.equalsIgnoreCase(c)).getOrElse(
        throw new IllegalArgumentException(s"unknown BLOOM BY column: $c"))
    }
    if (m.files.isEmpty) return commitNext(m, m.files, m.schemaJson, m.droppedColumns)
    val estItems = math.max(1L, m.files.map(_.numRecords).max)
    val aggs = resolved.map { c =>
      graft.functions.BloomFunctions
        .bloom_filter_agg(xxhash64(col(c)), estItems).as(s"bf__$c")
    }
    val rows = readFiles(m.files, sch)
      .groupBy(input_file_name().as("__file"))
      .agg(aggs.head, aggs.tail: _*)
      .collect()
    val batch = s"_bloom/b-${System.currentTimeMillis}-${UUID.randomUUID.toString.take(8)}"
    LakeIO.mkdirs(LakeIO.path(root, batch))
    // URI → manifest entry by relative-path suffix (file NAMES alone can
    // collide across batch dirs; the relative path can't)
    val byPath = m.files.map(f => f.path -> f).toMap
    val updated = scala.collection.mutable.HashMap[String, FileEntry]()
    rows.foreach { r =>
      val uri = r.getAs[String]("__file")
      byPath.keys.find(p => uri.endsWith(s"/$p")).foreach { p =>
        val sidecars = resolved.zipWithIndex.flatMap { case (c, i) =>
          Option(r.getAs[Array[Byte]](s"bf__$c")).map { bytes =>
            val rel = s"$batch/${p.replace('/', '_')}.$c.bloom"
            LakeIO.writeBytes(LakeIO.path(root, rel), bytes)
            c -> rel
          }
        }.toMap
        updated(p) = byPath(p).copy(blooms = byPath(p).blooms ++ sidecars)
      }
    }
    commitNext(m, m.files.map(f => updated.getOrElse(f.path, f)), m.schemaJson, m.droppedColumns)
  }

  // --- retention window ---------------------------------------------------

  private def retentionFile = LakeIO.path(root, "_retention")

  /** Versions every sweep of this table must keep readable — persisted by
    * `VACUUM TABLE ... RETAIN n VERSIONS` so the background GC honors the
    * window instead of collapsing it to 1 on its next pass. Default 1
    * (reference-parity: only the latest version survives a vacuum). */
  def retentionVersions: Int =
    if (!LakeIO.exists(retentionFile)) 1
    else LakeIO.readString(retentionFile).trim.toInt

  def setRetention(n: Int): Unit = {
    require(n >= 1, s"must retain >= 1 versions, got $n")
    LakeIO.writeString(retentionFile, n.toString)
  }

  /** Delete data files not referenced by the latest version and all
    * manifests except the latest. Returns (filesDeleted, versionsDeleted). */
  def vacuum(): (Int, Int) = vacuum(1, 0L)

  /** VACUUM with a RETENTION window: the newest `retainVersions` versions
    * stay fully readable (time travel + RESTORE within the window keep
    * working); data files referenced by NONE of them are deleted, as are
    * the manifests of everything older. retainVersions = 1 is the
    * reference-parity behavior (only the latest survives).
    *
    * CONTRACT vs concurrent pinned readers: a read planned against a
    * version outside the retention window — `read(Some(v))` / `t('<ts>')`
    * — races any concurrent VACUUM for that version's files. The defined
    * outcomes are (a) the read completes from files VACUUM had not yet
    * deleted, or (b) it fails LOUDLY with the scan's FileNotFoundException
    * — never silent partial rows. The loud half is pinned per-scan
    * (GraftRelations.parquetScan forces ignoreMissingFiles=false on the
    * relation, overriding any lenient session conf) and raced in LakeSpec.
    * This mirrors Delta's documented VACUUM hazard for long-running
    * readers; deployments needing grace use a retention window sized to
    * their longest reader instead of a read-side lease. VACUUM deletes
    * data files BEFORE the old manifests, so a crash mid-sweep leaves no
    * manifest claiming readability it no longer has beyond that same
    * loud-failure contract, and a re-run completes the sweep
    * (idempotent: the keep-set is recomputed from retained manifests).
    *
    * CONTRACT vs concurrent WRITERS — `minUnrefFileAgeMs`: writers commit
    * by optimistic manifest CAS, NOT under any lock this sweep holds, and
    * they write their parquet BEFORE the manifest that references it. So
    * an unreferenced file is either garbage (a dead commit attempt) or an
    * IN-FLIGHT commit's payload — indistinguishable by path. The age
    * guard disambiguates by time, exactly like Delta's VACUUM retention:
    * only unreferenced files last modified more than `minUnrefFileAgeMs`
    * ago are deleted. It also closes the keep-set TOCTOU (a commit
    * landing after this listing would otherwise lose its just-referenced
    * files SILENTLY — the corrupted-version hazard, not just a loud
    * abort). 0 (the explicit `VACUUM TABLE` default, reference parity)
    * means the caller asserts no concurrent writers; the background
    * sweep always passes [[GraftTable.WriterGraceMs]] or more. Pinned by
    * ManifestRaceSpec's rebuild-vs-gcSweep churn test (caught live:
    * an INSERT's stats pass FNF'd on its own just-written file). */
  def vacuum(retainVersions: Int, minUnrefFileAgeMs: Long = 0L): (Int, Int) = {
    require(retainVersions >= 1, s"must retain >= 1 versions, got $retainVersions")
    val versions = Manifest.listVersions(root).sorted
    val retained = versions.takeRight(retainVersions)
    val ageCutoff = System.currentTimeMillis() - minUnrefFileAgeMs
    // Decide manifest survival FIRST so the data-file keep-set can be
    // symmetric with it: a young superseded manifest survives the age
    // guard below, so every data file it references must survive this
    // sweep too — otherwise history()/time-travel lists a version whose
    // read FNFs for up to the grace window instead of a clean
    // version-not-found once the manifest is actually pruned.
    val oldVersions = versions.filterNot(retained.contains).filter { v =>
      minUnrefFileAgeMs <= 0L ||
        LakeIO.statusOpt(Manifest.versionPath(root, v))
          .forall(_.getModificationTime <= ageCutoff)
    }
    val survivingOld = versions.filterNot(retained.contains)
      .filterNot(oldVersions.contains)
    val manifests = retained.map(v => Manifest.read(root, v)) ++
      survivingOld.flatMap(v => Manifest.readOpt(root, v))
    val keep = manifests.flatMap(_.files.map(_.path)).toSet
    val dataFiles = listDataFiles()
    val toDelete = dataFiles.filterNot(keep.contains).filter { p =>
      minUnrefFileAgeMs <= 0L ||
        LakeIO.statusOpt(LakeIO.path(root, p)).forall(_.getModificationTime <= ageCutoff)
    }
    toDelete.foreach { p =>
      LakeIO.delete(LakeIO.path(root, p))
      // a death mid-sweep leaves retained versions fully readable and a
      // re-run completes the sweep (crash_fuzz kills here and asserts both)
      Faults.crashPoint("vacuum-sweep")
    }
    // bloom sidecars whose owning entry is gone (or whose mapping was
    // dropped by a rewrite) are garbage once old manifests go
    val keepBlooms = manifests.flatMap(_.files.flatMap(_.blooms.values)).toSet
    BloomIndex.listSidecars(root).filterNot(keepBlooms.contains)
      .filter { p => // same in-flight-writer age guard as the data files
        minUnrefFileAgeMs <= 0L ||
          LakeIO.statusOpt(LakeIO.path(root, p)).forall(_.getModificationTime <= ageCutoff)
      }
      .foreach(p => LakeIO.delete(LakeIO.path(root, p)))
    // CHAIN-REWIND guards (round-17 cross-process soak caught the real
    // loss): deleting an old version FILE reopens its version SLOT for
    // create-if-absent — a writer whose anchor predates that version can
    // then commit into the hole, forking the chain; with the hint also
    // regressed, latestVersion() resolves the fork and every commit
    // between fork and true tip is silently dropped. Three layers close
    // it: (1) refresh the hint to the retained tip BEFORE any manifest
    // deletion (and hint writes are monotone — Manifest.refreshHint);
    // (2) background sweeps age-guard old manifests exactly like data
    // files (minUnrefFileAgeMs): a slot is reopened only once it has
    // been SUPERSEDED for longer than any anchor-to-commit window —
    // Delta's log-retention argument; (3) commitNext re-resolves the tip
    // right before the slot create and conflicts a stale anchor.
    Manifest.refreshHint(root, retained.last)
    oldVersions.foreach { v =>
      LakeIO.delete(Manifest.versionPath(root, v))
      Manifest.evict(root, v)
    }
    // drop now-empty batch dirs, age-guarded like the files: an in-flight
    // writer creates its batch dir before the first file lands in it
    LakeIO.listStatus(new HPath(root))
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("data-") &&
        (minUnrefFileAgeMs <= 0L || s.getModificationTime <= ageCutoff))
      .foreach { s => if (LakeIO.listStatus(s.getPath).isEmpty) LakeIO.delete(s.getPath) }
    (toDelete.size, oldVersions.size)
  }

  /** Paths (relative to root) of every parquet data file under the table —
    * one recursive listing, which on object stores is a flat LIST rather
    * than a directory walk. */
  private def listDataFiles(): Seq[String] = {
    val rootP = fsQualifiedRoot
    val rootStr = rootP.toString
    LakeIO.listFilesRecursive(rootP)
      .map(_.getPath.toString)
      .filter(_.endsWith(".parquet"))
      .map(_.stripPrefix(rootStr).stripPrefix("/"))
      .filterNot(_.startsWith("_log"))
  }

  /** Root as the FileSystem reports it (scheme-qualified), so listing
    * results can be relativized by string prefix. */
  private def fsQualifiedRoot: HPath = {
    val p = new HPath(root)
    p.getFileSystem(LakeIO.conf).makeQualified(p)
  }

  /** (version, timestampMs, numFiles, numRecords) per version. Versions
    * vacuumed between the listing and the read are skipped (readOpt) —
    * history is a lock-free walk racing the background GC like
    * system.table_versions. */
  def history(): Seq[(Long, Long, Int, Long)] =
    Manifest.listVersions(root).flatMap { v =>
      Manifest.readOpt(root, v).map { m =>
        (v, m.timestampMs, m.files.size, m.files.map(_.numRecords).sum)
      }
    }
}

object GraftTable {
  /** Mirrors the reference's misc.max_partition_size default
    * (1,048,576 rows/file, `src/config/schema.rs:283`). */
  val DefaultMaxRecordsPerFile: Long = 1L << 20

  /** Bound on optimistic commit retries per statement — far above what
    * two contending writers can produce, low enough that a livelocked
    * store fails loudly instead of spinning forever. */
  val MaxCommitRetries: Int = 50

  /** Floor on `vacuum`'s age guard for BACKGROUND sweeps, covering BOTH
    * unreferenced data files (an in-flight commit's payload — writers
    * put parquet before the manifest CAS that references it) AND
    * superseded version manifests (deleting one reopens its version SLOT
    * for create-if-absent — the chain-rewind hazard the round-17
    * cross-process soak caught as real data loss). The guard must exceed
    * any statement's anchor-to-commit window; 5 min covers everything a
    * bounded statement timeout allows while delaying true garbage by at
    * most one sweep interval (storage cost: tiny JSON manifests + dead
    * parquet linger one window longer). Deployments running UNBOUNDED
    * statements against concurrent background GC should raise
    * GRAFT_GC_GRACE_MS to their longest expected statement — the same
    * time-retention argument Delta makes for its 30-day log cleanup.
    * Explicit `VACUUM TABLE` keeps the reference's delete-immediately
    * behavior (age 0) and with it the documented concurrent-writer
    * hazard. */
  val WriterGraceMs: Long = 5 * 60 * 1000L

  /** Observability seam: invoked after EVERY successful manifest commit
    * with (tableRoot, newVersion). The concurrent-writer DML fuzz hooks
    * it to map statements to commit order; a metrics layer would bind
    * the same point. Process-wide, default no-op. */
  @volatile var onCommit: (String, Long) => Unit = (_, _) => ()

  /** Create a new empty table directory with schema (version 0). */
  def create(spark: SparkSession, root: String, schema: StructType): GraftTable = {
    LakeIO.mkdirs(new org.apache.hadoop.fs.Path(root))
    Manifest.commit(root, TableManifest(0L, System.currentTimeMillis, schema.json, Seq.empty))
    onCommit(root, 0L)
    new GraftTable(spark, root)
  }

  /** CTAS: create + initial append (two versions, like the reference). */
  def createAs(spark: SparkSession, root: String, df: DataFrame): GraftTable = {
    val t = create(spark, root, df.schema)
    t.append(df)
    t
  }

  /** CONVERT: register an existing directory of plain parquet files as a
    * graft table without rewriting them (reference
    * `src/context/physical.rs:580-594`). Idempotent: converting again
    * refreshes the file set as a NEW version instead of failing
    * (reference `tests/statements/convert.rs:168`). */
  def convert(spark: SparkSession, root: String): GraftTable = {
    val df = spark.read.parquet(root)
    val t = new GraftTable(spark, root)
    val entries = t.collectStats(root, "", df.schema)
    // version-slot contention only (the file set comes from the directory,
    // not from a snapshot): re-read latest and retry on a lost race rather
    // than silently overwriting a concurrent writer's slot
    t.retryCommit {
      val next = Manifest.latestVersion(root).map(_ + 1).getOrElse(0L)
      // a RE-convert of an existing graft table must not lose its CDC
      // watermarks (dropping them would reopen the redelivery window)
      val sync = if (next == 0L) Map.empty[String, Long]
        else Manifest.read(root, next - 1).syncSeq
      Manifest.commit(root, TableManifest(next, System.currentTimeMillis, df.schema.json,
        entries, Nil, sync))
      onCommit(root, next)
    }
    t
  }
}

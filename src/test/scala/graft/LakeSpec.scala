package graft

import graft.lake.{GraftTable, Manifest, Pruning}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Storage-layer semantics mirrored from the reference's DML golden tests
  * (`tests/statements/dml.rs`): file fusion on UPDATE, byte-identical
  * inheritance of untouched files, no-op versions when stats prune
  * everything, full-file DELETE, truncate, time travel, vacuum.
  */
class LakeSpec extends SparkSpec {
  import spark.implicits._

  private def freshTable(rows: Seq[(Long, String, Double)], maxPerFile: Long = 2): GraftTable = {
    val root = tmpDir("graft-lake")
    val t = GraftTable.create(spark, root,
      StructType(Seq(
        StructField("id", LongType), StructField("name", StringType),
        StructField("score", DoubleType))))
    // single sorted partition → deterministic sequential file chunking
    t.append(rows.toDF("id", "name", "score").coalesce(1).sortWithinPartitions("id"), maxPerFile)
    t
  }

  test("create + append + read roundtrip with chunking") {
    val t = freshTable(Seq((1L, "a", 1.0), (2L, "b", 2.0), (3L, "c", 3.0)), maxPerFile = 2)
    assert(t.read().count() === 3)
    // 3 rows with maxRecordsPerFile=2 → at least 2 files
    assert(t.latestManifest.files.map(_.numRecords).sum === 3)
    assert(t.latestManifest.files.forall(_.numRecords <= 2))
  }

  test("append NULL-pads missing and reorders columns") {
    val t = freshTable(Seq((1L, "a", 1.0)))
    t.append(Seq(("x", 9L)).toDF("name", "id")) // missing score, reordered
    val rows = t.read().orderBy("id").collect()
    assert(rows.length === 2)
    assert(rows(1).getAs[String]("name") === "x")
    assert(rows(1).isNullAt(rows(1).fieldIndex("score")))
  }

  test("manifest stats carry min/max/nullCount") {
    val t = freshTable(Seq((1L, "a", 1.0), (5L, "b", 2.5)), maxPerFile = 10)
    val f = t.latestManifest.files.head
    assert(f.stats("id").min.contains("1"))
    assert(f.stats("id").max.contains("5"))
    assert(f.stats("score").nullCount === 0)
  }

  test("update fuses affected files and inherits untouched ones") {
    val t = freshTable(Seq((1L, "a", 1.0), (2L, "b", 2.0), (10L, "c", 3.0), (11L, "d", 4.0)))
    val before = t.latestManifest.files.map(_.path).toSet
    // ids 10,11 live in their own file (rows are written in order, 2/file)
    t.update(Seq("score" -> "score * 10"), Some("id >= 10"))
    val after = t.latestManifest
    // untouched file(s) inherited byte-identical (same path)
    assert(after.files.map(_.path).toSet.intersect(before).nonEmpty)
    // affected rows rewritten
    val rows = t.read().orderBy("id").collect()
    assert(rows.map(_.getAs[Double]("score")).toSeq === Seq(1.0, 2.0, 30.0, 40.0))
  }

  test("update matching no file stats commits unchanged file set") {
    val t = freshTable(Seq((1L, "a", 1.0), (2L, "b", 2.0)))
    val before = t.latestManifest
    val v = t.update(Seq("score" -> "0.0"), Some("id > 1000"))
    val after = Manifest.read(t.root, v)
    assert(after.files.map(_.path) === before.files.map(_.path))
    assert(v === before.version + 1)
  }

  test("delete rewrites only affected files; bare delete empties the table") {
    val t = freshTable(Seq((1L, "a", 1.0), (2L, "b", 2.0), (10L, "c", 3.0), (11L, "d", 4.0)))
    t.delete(Some("id = 10"))
    assert(t.read().count() === 3)
    assert(t.read().orderBy("id").select("id").as[Long].collect().toSeq === Seq(1L, 2L, 11L))
    t.delete(None)
    assert(t.read().count() === 0)
    assert(t.latestManifest.files.isEmpty)
  }

  test("truncate keeps schema, drops files; failed predicates leave table usable") {
    val t = freshTable(Seq((1L, "a", 1.0)))
    intercept[Exception](t.delete(Some("nonexistent_column = 1")))
    assert(t.read().count() === 1) // failed DML leaves the table usable
    t.truncate()
    assert(t.read().count() === 0)
    assert(t.schema.fieldNames.toSeq === Seq("id", "name", "score"))
  }

  test("time travel reads historical versions") {
    val t = freshTable(Seq((1L, "a", 1.0)))
    val tsAfterV1 = System.currentTimeMillis
    Thread.sleep(5)
    t.append(Seq((2L, "b", 2.0)).toDF("id", "name", "score"))
    assert(t.read().count() === 2)
    assert(t.readAsOf(tsAfterV1).count() === 1)
    assert(Manifest.versionAsOf(t.root, tsAfterV1).contains(1L))
  }

  test("vacuum removes unreferenced files and old manifests") {
    val t = freshTable(Seq((1L, "a", 1.0), (2L, "b", 2.0)))
    t.update(Seq("score" -> "score + 1"), Some("id = 1")) // orphans a file
    val (files, versions) = t.vacuum()
    assert(files > 0)
    assert(versions > 0)
    assert(Manifest.listVersions(t.root).size === 1)
    assert(t.read().count() === 2) // latest version intact
  }

  test("age-guarded vacuum keeps data files of surviving superseded manifests") {
    // The asymmetry this pins: a superseded manifest YOUNGER than the age
    // guard survives the sweep, so any OLD data file it references (even
    // one the retained tip dropped) must survive too — otherwise
    // history()/time-travel lists a version whose read FNFs until the
    // manifest itself ages out.
    val t = freshTable(Seq((1L, "a", 1.0)))         // v0 create + v1 append (file F1)
    t.append(Seq((2L, "b", 2.0)).toDF("id", "name", "score")) // v2: refs F1+F2
    t.update(Seq("score" -> "0.0"), None)            // v3 tip: rewrites everything → F3 only
    // Backdate v0/v1 manifests AND v2's data files past the guard, keeping
    // v2's MANIFEST young — the exact shape the asymmetry bites: old files
    // uniquely referenced by a young surviving manifest.
    val old = System.currentTimeMillis() - 10 * 60 * 1000L
    Seq(0L, 1L).foreach { v =>
      new java.io.File(new java.net.URI(Manifest.versionPath(t.root, v).toString).getPath)
        .setLastModified(old)
    }
    Manifest.read(t.root, 2L).files.foreach { f =>
      new java.io.File(new java.net.URI(
        graft.lake.LakeIO.path(t.root, f.path).toUri.toString).getPath)
        .setLastModified(old)
    }
    val (_, versionsPruned) = t.vacuum(1, minUnrefFileAgeMs = 60 * 1000L)
    // v0/v1 manifests are past the guard → pruned; v2 is young → survives
    assert(versionsPruned === 2)
    val left = Manifest.listVersions(t.root).sorted
    assert(left === Seq(2L, 3L), left)
    // the surviving superseded v2 must still READ — its old file F1 was
    // dropped by the tip but is kept because v2's manifest survived
    assert(t.read(Some(2L)).count() === 2)
    assert(t.read().count() === 2) // tip intact
    // explicit full vacuum (age 0) then prunes v2 immediately
    t.vacuum(1)
    assert(Manifest.listVersions(t.root) === Seq(3L))
  }

  test("pruning is conservative and correct") {
    val t = freshTable(Seq((1L, "a", 1.0), (2L, "b", 2.0), (10L, "c", 3.0)), maxPerFile = 2)
    val m = t.latestManifest
    val sch = t.schema
    val (hit, miss) = Pruning.partition(m.files, "id >= 10", sch)
    assert(hit.nonEmpty && miss.nonEmpty)
    val (all, none) = Pruning.partition(m.files, "name IS NOT NULL", sch)
    assert(none.isEmpty && all.size === m.files.size)
    val (hits2, _) = Pruning.partition(m.files, "id = 2 OR id = 10", sch)
    assert(hits2.size === 2) // the two files holding 2 and 10
    val (h3, m3) = Pruning.partition(m.files, "id > 1000", sch)
    assert(h3.isEmpty && m3.size === m.files.size)
  }

  test("concurrent commit of the same version fails cleanly") {
    val t = freshTable(Seq((1L, "a", 1.0)))
    val m = t.latestManifest
    intercept[IllegalStateException] {
      Manifest.commit(t.root, m) // same version again
    }
  }

  test("SELECT scans skip files via manifest stats (GraftFileIndex)") {
    import org.apache.spark.sql.execution.datasources.HadoopFsRelation
    import org.apache.spark.sql.execution.FileSourceScanExec
    // two disjoint key-range files: [1,2] and [10,11]
    val t = freshTable(Seq((1L, "a", 1.0), (2L, "b", 2.0), (10L, "c", 3.0), (11L, "d", 4.0)))
    assert(t.latestManifest.files.size === 2)
    val q = t.read().filter(col("id") >= 10)
    assert(q.count() === 2)
    // the executed scan must have planned only the matching file
    val scans = q.queryExecution.executedPlan.collectLeaves().collect {
      case s: FileSourceScanExec => s
    }
    assert(scans.nonEmpty)
    val scannedFiles = scans.head.relation.location
      .listFiles(Nil, q.queryExecution.optimizedPlan.collect {
        case f: org.apache.spark.sql.catalyst.plans.logical.Filter => f.condition
      })
      .flatMap(_.files).size
    assert(scannedFiles === 1, "stats pruning should keep exactly one file")
    // unfiltered read still sees both files
    assert(t.read().count() === 4)
  }

  test("analyzer-coerced date/timestamp casts never prune matching files") {
    val root = tmpDir("graft-datecast")
    val t = GraftTable.create(spark, root,
      StructType(Seq(StructField("d", DateType), StructField("v", LongType))))
    t.append(Seq(("2024-06-01", 1L), ("2024-06-02", 2L)).toDF("d", "v")
      .select(to_date(col("d")).as("d"), col("v")))
    // analyzer coerces d to TIMESTAMP (micros) while stats are epoch-days;
    // the cast must not be unwrapped for stats compare, so no pruning —
    // but also NO false pruning of files whose rows match
    val q = t.read().filter(col("d") >= expr("TIMESTAMP '2024-06-01 00:00:00'"))
    assert(q.count() === 2)
    val q2 = t.read().filter(col("d").cast("timestamp") <= expr("TIMESTAMP '2024-06-02 23:00:00'"))
    assert(q2.count() === 2)
    // numeric widening casts still prune: v stats are longs
    val q3 = t.read().filter(col("v").cast("double") >= 100.0)
    assert(q3.count() === 0)
    val m = t.latestManifest
    assert(m.files.forall(f => !Pruning.mayMatch(
      Pruning.parsePredicate("v >= 100"), f, t.schema)))
  }

  test("pruned scans agree with unpruned scans across many predicates") {
    import spark.implicits._
    val root = tmpDir("graft-prop")
    val t = GraftTable.create(spark, root,
      StructType(Seq(StructField("k", LongType), StructField("s", StringType),
        StructField("d", DoubleType), StructField("dt", DateType))))
    val rng = new scala.util.Random(42)
    // several appends with overlapping ranges + nulls → many files,
    // varied stats
    (0 until 5).foreach { b =>
      val rows = (0 until 40).map { _ =>
        val k = rng.nextInt(100).toLong
        (k, if (rng.nextBoolean()) s"s$k" else null,
          rng.nextDouble() * 100, f"2024-0${rng.nextInt(8) + 1}%s-15")
      }
      t.append(rows.toDF("k", "s", "d", "dt")
        .select(col("k"), col("s"), col("d"), to_date(col("dt")).as("dt"))
        .coalesce(1), 16)
    }
    val full = spark.read.schema(t.schema)
      .parquet(t.latestManifest.files.map(f => s"$root/${f.path}"): _*)
    val preds = Seq(
      "k = 17", "k >= 90", "k < 5", "k BETWEEN 40 AND 60",
      "s = 's7'", "s IS NULL", "s IS NOT NULL", "s > 's5'",
      "d < 1.5", "d >= 99.0", "k = 17 AND d < 50.0", "k = 3 OR k = 97",
      "dt = DATE '2024-03-15'", "dt >= DATE '2024-06-01'",
      "dt >= TIMESTAMP '2024-06-01 00:00:00'", // coerced cast: no unwrap
      "CAST(k AS DOUBLE) > 50.5", "k != 17")
    preds.foreach { p =>
      val pruned = t.read().filter(expr(p)).count()
      val exact = full.filter(expr(p)).count()
      assert(pruned === exact, s"pruned scan diverged for predicate: $p")
    }
  }

  test("compact fuses small files and inherits large ones") {
    val t = freshTable(Seq((1L, "a", 1.0), (2L, "b", 2.0), (3L, "c", 3.0),
      (4L, "d", 4.0), (5L, "e", 5.0))) // maxPerFile=2 → 3 small files
    assert(t.latestManifest.files.size === 3)
    val before = t.read().orderBy("id").collect().toSeq
    t.compact(smallBytes = 32L << 20)
    assert(t.latestManifest.files.size === 1)
    assert(t.read().orderBy("id").collect().toSeq === before)
    // second compact with nothing to do commits an unchanged file set
    val paths = t.latestManifest.files.map(_.path)
    t.compact(smallBytes = 1L) // nothing is "small" now
    assert(t.latestManifest.files.map(_.path) === paths)
  }

  test("cluster makes file ranges disjoint so point queries touch one file") {
    val root = tmpDir("graft-cluster")
    val t = GraftTable.create(spark, root,
      StructType(Seq(StructField("id", LongType), StructField("v", StringType))))
    // interleaved appends: every file spans nearly the full id range,
    // so stats pruning can't skip anything
    (0 until 4).foreach { b =>
      t.append(Seq((b.toLong, s"a$b"), (100L + b, s"b$b")).toDF("id", "v").coalesce(1))
    }
    def filesTouched(idVal: Long): Int = {
      val m = t.latestManifest
      val sch = t.schema
      m.files.count(f => Pruning.mayMatch(
        Pruning.parsePredicate(s"id = $idVal"), f, sch))
    }
    assert(t.latestManifest.files.size === 4)
    assert(filesTouched(100L) === 4) // every file straddles the range
    t.cluster(Seq("id"), maxRecordsPerFile = 2)
    assert(t.read().count() === 8)
    assert(t.latestManifest.files.size >= 3)
    assert(filesTouched(100L) === 1) // disjoint ranges now
  }

  test("zcluster prunes on BOTH dimensions (space-filling curve)") {
    import spark.implicits._
    val root = tmpDir("graft-zorder")
    val t = GraftTable.create(spark, root,
      StructType(Seq(StructField("x", LongType), StructField("y", LongType))))
    // 32x32 grid in random-ish insert order (hash shuffle of the grid)
    val grid = for (x <- 0L until 32L; y <- 0L until 32L) yield (x, y)
    t.append(scala.util.Random.shuffle(grid).toDF("x", "y").repartition(4), 64)
    def filesTouched(pred: String): Int = {
      val m = t.latestManifest
      m.files.count(f => Pruning.mayMatch(Pruning.parsePredicate(pred), f, t.schema))
    }
    val total = t.latestManifest.files.size
    assert(total >= 8)
    // random order: narrow slices on either dim still touch ~every file
    assert(filesTouched("x <= 1") >= total - 2)
    assert(filesTouched("y <= 1") >= total - 2)
    t.zcluster(Seq("x", "y"), bitsPerDim = 5, maxRecordsPerFile = 64)
    val zTotal = t.latestManifest.files.size
    assert(t.read().count() === 1024)
    // z-order: a narrow slice on EITHER single dimension skips most files
    assert(filesTouched("x <= 1") <= zTotal / 2, s"x slice touched ${filesTouched("x <= 1")} of $zTotal")
    assert(filesTouched("y <= 1") <= zTotal / 2, s"y slice touched ${filesTouched("y <= 1")} of $zTotal")
  }

  test("convert registers existing parquet without rewriting") {
    val dir = tmpDir("graft-convert")
    Seq((1L, "x"), (2L, "y")).toDF("id", "v").write.mode("overwrite").parquet(dir)
    // drop spark's _SUCCESS marker noise; convert only picks *.parquet
    val t = GraftTable.convert(spark, dir)
    assert(t.read().count() === 2)
    assert(t.latestManifest.files.nonEmpty)
  }

  test("full table lifecycle on a non-default FileSystem scheme (mockfs)") {
    // lake I/O must resolve storage through the Hadoop FileSystem API:
    // register a custom scheme and run create/append/update/delete/time
    // travel/vacuum against it — nothing may fall back to local java.io
    spark.sparkContext.hadoopConfiguration.set("fs.mockfs.impl", classOf[MockFs].getName)
    val root = "mockfs://" + tmpDir("graft-mockfs") + "/tbl"
    val t = GraftTable.create(spark, root,
      StructType(Seq(StructField("id", LongType), StructField("name", StringType))))
    t.append(Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "name")
      .coalesce(1).sortWithinPartitions("id"), maxRecordsPerFile = 2)
    assert(t.read().count() === 3)
    t.update(Seq("name" -> "'z'"), Some("id = 2"))
    assert(t.read().filter("name = 'z'").count() === 1)
    val v1 = t.latestManifest.version
    t.delete(Some("id = 1"))
    assert(t.read().count() === 2)
    assert(t.read(Some(v1)).count() === 3) // time travel on mockfs
    val (files, versions) = t.vacuum()
    assert(versions > 0)
    assert(t.read().count() === 2)
    // manifests really live behind the mockfs scheme
    assert(Manifest.listVersions(root).nonEmpty)
  }

  test("latest/as-of resolution reads O(1)/O(log n) manifests on a 200-version log") {
    import graft.lake.LakeIO
    val root = tmpDir("graft-versions") + "/tbl"
    val schema = StructType(Seq(StructField("id", LongType)))
    // 200 metadata-only commits, strictly increasing timestamps
    (0 until 200).foreach { v =>
      Manifest.commit(root, Manifest.TableManifest(v, 1000L * v, schema.json, Seq.empty))
    }
    LakeIO.fileReads.set(0); LakeIO.listCalls.set(0)
    assert(Manifest.latestVersion(root).contains(199L))
    assert(LakeIO.fileReads.get <= 2,
      s"latest-version resolution must be O(1) reads, did ${LakeIO.fileReads.get}")
    assert(LakeIO.listCalls.get === 0, "hinted resolution must not LIST the log dir")
    LakeIO.fileReads.set(0); LakeIO.listCalls.set(0)
    assert(Manifest.versionAsOf(root, 1000L * 137 + 1).contains(137L))
    assert(LakeIO.fileReads.get <= 9, // ceil(log2 200) = 8 probes
      s"as-of resolution must be O(log n) reads, did ${LakeIO.fileReads.get}")
    assert(LakeIO.listCalls.get === 1)
    // exact boundaries: before the first commit, and exactly on one
    assert(Manifest.versionAsOf(root, -1L).isEmpty)
    assert(Manifest.versionAsOf(root, 1000L * 42).contains(42L))
    // a lost/stale hint degrades to the LIST fallback, never to a wrong answer
    LakeIO.delete(LakeIO.path(root, "_log", "_latest.hint"))
    assert(Manifest.latestVersion(root).contains(199L))
    LakeIO.writeString(LakeIO.path(root, "_log", "_latest.hint"), "180")
    assert(Manifest.latestVersion(root).contains(199L), "lagging hint must probe forward")
    LakeIO.writeString(LakeIO.path(root, "_log", "_latest.hint"), "not-a-number")
    assert(Manifest.latestVersion(root).contains(199L), "corrupt hint must fall back")
  }

  test("writeAtomic failIfExists detects a lost race and leaves the winner intact") {
    import graft.lake.LakeIO
    val p = LakeIO.path(tmpDir("graft-atomic"), "v1.json")
    assert(LakeIO.writeAtomic(p, "winner", failIfExists = true))
    assert(!LakeIO.writeAtomic(p, "loser", failIfExists = true))
    assert(LakeIO.readString(p) === "winner")
    // overwrite mode still replaces
    assert(LakeIO.writeAtomic(p, "v2", failIfExists = false))
    assert(LakeIO.readString(p) === "v2")
  }

  test("catalog state is versioned; pre-versioned single-file layout migrates") {
    val dataDir = tmpDir("graft-cat")
    // fabricate the old single-file layout
    graft.lake.LakeIO.writeString(graft.lake.LakeIO.path(dataDir, "_catalog.json"),
      """{"dbs":{"default":{"public":{"legacy_t":{"uuid":"u-123"}}}},"functions":{},"dropped":[],"syncSeq":{}}""")
    val cat = new graft.catalog.Catalog(dataDir)
    assert(cat.getTable("default", "public", "legacy_t").contains("u-123"))
    // first mutation commits the versioned layout and retires the legacy file
    cat.createTable("default", "public", "t2")
    assert(!graft.lake.LakeIO.exists(graft.lake.LakeIO.path(dataDir, "_catalog.json")))
    assert(graft.lake.LakeIO.listStatus(graft.lake.LakeIO.path(dataDir, "_catalog")).nonEmpty)
    assert(cat.getTable("default", "public", "legacy_t").contains("u-123"))
    assert(cat.getTable("default", "public", "t2").isDefined)
    // repeated mutations prune old versions (keep a bounded tail)
    (0 until 20).foreach(i => cat.createTable("default", "public", s"t_$i"))
    val versions = graft.lake.LakeIO.listStatus(graft.lake.LakeIO.path(dataDir, "_catalog"))
      .map(_.getPath.getName).filter(_.endsWith(".json"))
    assert(versions.size <= 8, s"catalog log must stay bounded, has ${versions.size}")
    assert(cat.listTables("default").size === 22)
  }

  test("post-write snapshot rebuild reads O(new) manifests, not the version history") {
    import graft.lake.LakeIO
    // pollMs=0: the cross-process trigger poll is a constant-rate 1-read
    // cost (TTL-bounded, history-independent) — under full-suite load a
    // nondeterministic number of polls lands inside the measured windows
    // and pollutes this test's manifest-read budget, which exists to
    // catch O(version-history) scans, not O(1)-per-interval ones
    val s0 = org.apache.spark.sql.GraftSessions.cloneSession(spark)
    s0.conf.set("graft.catalog.pollMs", "0")
    val c = new graft.sql.GraftContext(s0, tmpDir("graft-mcache"))
    c.execute("CREATE TABLE vh (id BIGINT)")
    (1 to 30).foreach(i => c.execute(s"INSERT INTO vh VALUES ($i)"))
    // warm: the first read builds this generation's snapshot (and the
    // manifest cache now holds every version this process committed)
    assert(c.execute("SELECT count(*) AS n FROM vh").collect()(0).getLong(0) === 30)
    LakeIO.fileReads.set(0)
    c.execute("INSERT INTO vh VALUES (31)")
    assert(c.execute("SELECT count(*) AS n FROM vh").collect()(0).getLong(0) === 31)
    val readsAt31 = LakeIO.fileReads.get
    // double the history: the same write+read cycle must cost the same —
    // without the (uuid, version) manifest cache, each rebuild re-parses
    // the FULL version history for system.table_versions alone
    (32 to 62).foreach(i => c.execute(s"INSERT INTO vh VALUES ($i)"))
    c.execute("SELECT count(*) AS n FROM vh").collect()
    LakeIO.fileReads.set(0)
    c.execute("INSERT INTO vh VALUES (63)")
    assert(c.execute("SELECT count(*) AS n FROM vh").collect()(0).getLong(0) === 63)
    val readsAt63 = LakeIO.fileReads.get
    assert(readsAt63 <= readsAt31,
      s"post-write rebuild cost must not grow with version history ($readsAt31 reads at v31, $readsAt63 at v63)")
    assert(readsAt63 <= 20,
      s"post-write rebuild must re-read only generation metadata, did $readsAt63")
  }

  test("table_changes: version row-diff surfaces appends, updates, deletes") {
    val t = freshTable(Seq((1L, "a", 1.0), (2L, "b", 2.0), (3L, "c", 3.0)), maxPerFile = 2)
    val v1 = Manifest.latestVersion(t.root).get
    t.append(Seq((4L, "d", 4.0)).toDF("id", "name", "score"))              // v2: insert
    t.update(Seq(("score", "score + 10")), Some("id = 1"))                 // v3: update
    t.delete(Some("id = 2"))                                               // v4: delete
    val v4 = Manifest.latestVersion(t.root).get
    def diff(from: Long, to: Long) =
      t.changes(from, to)
        .select("_commit_version", "_change_type", "id", "score")
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3)))
        .toSeq.sorted
    // the full window: append as a pure insert; update as delete+insert;
    // delete as a pure delete. Untouched rows (id=3 shares no file with
    // the touched region... it MAY share a rewritten file — the diff is
    // exact row-multiset, so co-located rows cancel out regardless)
    assert(diff(v1, v4) === Seq(
      (v1 + 1, "insert", 4L, 4.0),
      (v1 + 2, "delete", 1L, 1.0),
      (v1 + 2, "insert", 1L, 11.0),
      (v1 + 3, "delete", 2L, 2.0)).sorted)
    // empty window is empty, not an error
    assert(t.changes(v4, v4).count() === 0)
    // single-commit window
    assert(diff(v1 + 1, v1 + 2) === Seq(
      (v1 + 2, "delete", 1L, 1.0), (v1 + 2, "insert", 1L, 11.0)).sorted)
  }

  test("bloom indexes skip files that min/max stats cannot") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    graft.lake.BloomIndex.clearCacheForTests()
    val root = tmpDir("graft-bloom")
    val t = GraftTable.create(spark, root,
      StructType(Seq(
        StructField("id", LongType), StructField("name", StringType),
        StructField("score", DoubleType))))
    // INTERLEAVED key ranges: files [1,100] and [2,99] — every point
    // probe straddles both files' [min,max], so stats never prune
    t.append(Seq((1L, "a", 1.0), (100L, "b", 2.0), (2L, "c", 3.0), (99L, "d", 4.0))
      .toDF("id", "name", "score").coalesce(1), maxRecordsPerFile = 2)
    assert(t.latestManifest.files.size === 2)

    def scannedFiles(df: org.apache.spark.sql.DataFrame): Int = {
      val q = df.queryExecution
      val scan = q.executedPlan.collectLeaves()
        .collectFirst { case s: FileSourceScanExec => s }.get
      scan.relation.location.listFiles(Nil, q.optimizedPlan.collect {
        case f: org.apache.spark.sql.catalyst.plans.logical.Filter => f.condition
      }).flatMap(_.files).size
    }

    // without blooms: stats keep both files
    assert(scannedFiles(t.read().filter(col("id") === 2L)) === 2)

    val v = t.bloom(Seq("id", "name"))
    assert(t.latestManifest.version === v)
    // manifest JSON round-trips the sidecar mappings
    assert(Manifest.read(root, v).files.forall(_.blooms.keySet === Set("id", "name")))

    // point probe now touches only the file that holds the value
    assert(scannedFiles(t.read().filter(col("id") === 2L)) === 1)
    assert(t.read().filter(col("id") === 2L).count() === 1)
    // string column probes prune too
    assert(scannedFiles(t.read().filter(col("name") === "d")) === 1)
    // absent value: both blooms prove absence → zero files, zero rows
    assert(scannedFiles(t.read().filter(col("id") === 50L)) === 0)
    assert(t.read().filter(col("id") === 50L).count() === 0)
    // IN-list keeps the union of matching files
    assert(scannedFiles(t.read().filter(col("id").isin(1L, 99L))) === 2)
    // non-equality predicates ignore blooms (stats only, conservative)
    assert(scannedFiles(t.read().filter(col("id") >= 1L)) === 2)

    // DML: the untouched file keeps its bloom, the rewritten one loses it
    t.delete(Some("id = 100"))
    val after = t.latestManifest.files
    assert(after.exists(_.blooms.nonEmpty) && after.exists(_.blooms.isEmpty))
    // the two mechanisms compose: the untouched file's bloom proves 50
    // absent, the rewritten file (now [1,1]) is stats-pruned
    assert(scannedFiles(t.read().filter(col("id") === 50L)) === 0)
    assert(t.read().filter(col("id") === 2L).count() === 1)

    // vacuum drops only the orphaned sidecars
    val sidecarsBefore = graft.lake.BloomIndex.listSidecars(root).size
    assert(sidecarsBefore === 4) // 2 files × 2 columns
    t.vacuum()
    val sidecarsAfter = graft.lake.BloomIndex.listSidecars(root)
    assert(sidecarsAfter.size === 2) // untouched file's id+name blooms
    assert(sidecarsAfter.toSet === after.flatMap(_.blooms.values).toSet)
    // pruning still works through the cache after vacuum
    graft.lake.BloomIndex.clearCacheForTests()
    assert(t.read().filter(col("id") === 2L).count() === 1)
  }

  test("concurrent table ops retry on commit conflicts: dense versions, no lost update") {
    import spark.implicits._
    val root = tmpDir("graft-race-ops")
    val t = graft.lake.GraftTable.create(spark, root,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("w", org.apache.spark.sql.types.LongType))))
    // 4 threads × 4 appends through the OPTIMISTIC RETRY path (not the
    // raw commit primitive ManifestRaceSpec races): every append must
    // land, versions must be dense, and no thread's rows may be lost to
    // a stale-snapshot overwrite
    val threads = (0 until 4).map { w =>
      new Thread(() => {
        val mine = new graft.lake.GraftTable(spark, root)
        (0 until 4).foreach { i =>
          mine.append(Seq((w * 100L + i, w.toLong)).toDF("id", "w"))
        }
      })
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    val versions = graft.lake.Manifest.listVersions(root)
    assert(versions === (0L to 16L), s"versions not dense: $versions")
    // all 16 rows present — a lost update would drop a whole append
    assert(t.read().count() === 16L)
    assert(t.read().groupBy("w").count().collect().map(_.getLong(1)).toSeq === Seq(4L, 4L, 4L, 4L))
  }

  test("VACUUM vs pinned reader: loud failure or complete rows, never silent partial") {
    val t = freshTable(Seq((1L, "a", 1.0), (2L, "b", 2.0), (3L, "c", 3.0)))
    // full-table rewrite so v1's files are unreferenced by the new head
    t.update(Seq("score" -> "score + 100"), None)
    // adversarial session: a user who globalized the lenient flag must
    // NOT be able to turn the race into silent partial rows — the scan
    // pins ignoreMissingFiles=false at the relation
    val prev = spark.conf.getOption("spark.sql.files.ignoreMissingFiles")
    spark.conf.set("spark.sql.files.ignoreMissingFiles", "true")
    try {
      val planned = new java.util.concurrent.CountDownLatch(1)
      val vacuumed = new java.util.concurrent.CountDownLatch(1)
      @volatile var outcome: Either[Throwable, Array[org.apache.spark.sql.Row]] = null
      val reader = new Thread(() => {
        // PLAN against the pinned old version (manifest read, file list
        // fixed in the FileIndex) before the vacuum runs...
        val pinned = t.read(Some(1L))
        planned.countDown()
        vacuumed.await()
        // ...then EXECUTE after it deleted those files
        outcome =
          try Right(pinned.collect())
          catch { case e: Throwable => Left(e) }
      })
      reader.start()
      planned.await()
      val (deleted, _) = t.vacuum()
      assert(deleted > 0, "vacuum should have removed v1's files")
      vacuumed.countDown()
      reader.join()
      outcome match {
        case Right(rows) =>
          // complete result is an allowed outcome (e.g. page-cached reads);
          // PARTIAL is the contract violation
          assert(rows.length === 3, s"silent partial rows: got ${rows.length} of 3")
        case Left(e) =>
          val chain = Iterator.iterate(e)(_.getCause).takeWhile(_ != null).take(10).toSeq
          assert(chain.exists(c => c.isInstanceOf[java.io.FileNotFoundException] ||
              String.valueOf(c.getMessage).contains("does not exist")),
            s"expected a loud missing-file failure, got: $e")
      }
      // the latest version stays fully readable through and after the sweep
      assert(t.read().count() === 3)
    } finally {
      prev match {
        case Some(v) => spark.conf.set("spark.sql.files.ignoreMissingFiles", v)
        case None => spark.conf.unset("spark.sql.files.ignoreMissingFiles")
      }
    }
  }

  test("TIMESTAMP_NTZ stats are micros: lake counts match plain parquet for every comparison") {
    val base = tmpDir("graft-ntz")
    val start = java.time.LocalDateTime.of(1997, 1, 1, 0, 0)
    // LocalDateTime encodes as TIMESTAMP_NTZ; one row a week, 5 rows a file
    val src = (0 until 40).map(i => (i.toLong, start.plusDays(7L * i))).toDF("id", "ts")
    assert(src.schema("ts").dataType === TimestampNTZType)
    src.coalesce(1).write.parquet(s"$base/plain")
    val t = GraftTable.create(spark, s"$base/lake",
      StructType(Seq(StructField("id", LongType), StructField("ts", TimestampNTZType))))
    t.append(src.coalesce(1).sortWithinPartitions("id"), 5)
    val files = t.latestManifest.files
    assert(files.size === 8)
    // 1997-01-01T00:00 as micros since the epoch, read as if UTC
    assert(files.map(_.stats("ts").min.get.toLong).min === 852076800L * 1000000L)
    val plain = spark.read.parquet(s"$base/plain")
    val fmt = java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")
    val probes = Seq(0, 4, 5, 17, 39).map(i => start.plusDays(7L * i)).flatMap(d =>
      Seq(d, d.plusHours(1), d.minusSeconds(1))) :+ java.time.LocalDateTime.of(1997, 5, 1, 0, 0)
    def check(lake: org.apache.spark.sql.DataFrame): Unit =
      for (op <- Seq(">=", ">", "<=", "<", "="); p <- probes) {
        val pred = s"ts $op TIMESTAMP_NTZ '${fmt.format(p)}'"
        assert(lake.filter(pred).count() === plain.filter(pred).count(), pred)
      }
    check(t.read())
    // stats in bounds now prune: an equality probe scans one file
    val eq = t.read().filter(s"ts = TIMESTAMP_NTZ '${fmt.format(start.plusDays(7L * 17))}'")
    val scanned = eq.queryExecution.executedPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }.head
    assert(scanned.relation.location.listFiles(Nil, scanned.dataFilters).head.files.size === 1)
    // a manifest written before the fix (no stats version, NTZ bounds in
    // seconds) must keep every file rather than prune on those bounds
    val m = t.latestManifest
    val legacy = m.copy(version = m.version + 1, files = m.files.map { f =>
      val st = f.stats("ts")
      def secs(o: Option[String]) = o.map(x => (x.toLong / 1000000L).toString)
      f.copy(statsVersion = 1,
        stats = f.stats.updated("ts", st.copy(min = secs(st.min), max = secs(st.max))))
    })
    val json = Manifest.toJson(legacy)
    assert(!json.contains("statsVersion"), "version-1 entries serialize as before the field existed")
    assert(Manifest.fromJson(json).files.forall(_.statsVersion == 1))
    assert(Manifest.fromJson(Manifest.toJson(m)).files.forall(_.statsVersion == Manifest.StatsVersion))
    Manifest.commit(t.root, legacy)
    check(t.read())
  }

  test("a read snapshot reads no manifest but each table's latest") {
    import graft.lake.LakeIO
    val s0 = org.apache.spark.sql.GraftSessions.cloneSession(spark)
    s0.conf.set("graft.catalog.pollMs", "0") // keep the trigger poll out of the count
    val c = new graft.sql.GraftContext(s0, tmpDir("graft-snapreads"))
    val tables = Seq("ha", "hb")
    tables.foreach { n =>
      c.execute(s"CREATE TABLE $n (id BIGINT)")
      (1 to 20).foreach(i => c.execute(s"INSERT INTO $n VALUES ($i)"))
    }
    // a history this process has not parsed yet (as after a restart, or
    // once it outgrows the manifest cache)
    val roots = tables.map(n => c.catalog.tableRoot(c.catalog.getTable("default", "public", n).get))
    roots.foreach(r => Manifest.listVersions(r).foreach(Manifest.evict(r, _)))
    c.markDirty()
    LakeIO.fileReads.set(0)
    assert(c.executeRead("SELECT count(*) FROM ha").collect()(0).getLong(0) === 20L)
    val reads = LakeIO.fileReads.get
    // per table: its latest-version hint and its latest manifest; plus
    // one catalog load each for the database check, the snapshot's table
    // list, its functions and the query rewrite's table list
    assert(reads <= 2 * tables.size + 4, s"snapshot build read $reads files")
    // the version history is still there when a query asks for it
    assert(c.executeRead("SELECT count(*) FROM system.table_versions").collect()(0).getLong(0) ===
      2L * 21)
  }
}

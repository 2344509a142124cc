package graft

import graft.sql.{GraftContext, MergeInto}

/** MERGE INTO semantics on lake tables: upsert resolution, clause
  * conditions and SQL clause-order precedence, the star forms
  * (UPDATE SET-star / INSERT-star), subquery sources, the
  * multiple-match ambiguity error, and the stats-pruned bounded
  * rewrite (untouched files inherited by path).
  */
class MergeSpec extends SparkSpec {

  private def ctx() = new GraftContext(spark, tmpDir("graft-merge"))

  private def setup(c: GraftContext): Unit = {
    c.execute("CREATE TABLE t (id BIGINT, v BIGINT, s VARCHAR)")
    c.execute("INSERT INTO t VALUES (1, 10, 'a'), (2, 20, 'b'), (3, 30, 'c')")
    c.execute("CREATE TABLE src (id BIGINT, v BIGINT, s VARCHAR)")
    c.execute("INSERT INTO src VALUES (2, 200, 'B'), (3, 300, 'C'), (4, 400, 'D')")
  }

  test("upsert: MATCHED UPDATE + NOT MATCHED INSERT") {
    val c = ctx(); setup(c)
    c.execute(
      """MERGE INTO t USING src ON t.id = src.id
        |WHEN MATCHED THEN UPDATE SET v = src.v, s = src.s
        |WHEN NOT MATCHED THEN INSERT (id, v, s) VALUES (src.id, src.v, src.s)""".stripMargin)
    val rows = c.execute("SELECT id, v, s FROM t ORDER BY id").collect()
    assert(rows.map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSeq ===
      Seq((1L, 10L, "a"), (2L, 200L, "B"), (3L, 300L, "C"), (4L, 400L, "D")))
  }

  test("conditional DELETE and UPDATE respect clause order") {
    val c = ctx(); setup(c)
    // DELETE listed first: id=2 satisfies both conditions -> deleted
    c.execute(
      """MERGE INTO t USING src ON t.id = src.id
        |WHEN MATCHED AND src.v <= 200 THEN DELETE
        |WHEN MATCHED AND src.v >= 200 THEN UPDATE SET v = src.v""".stripMargin)
    val rows = c.execute("SELECT id, v FROM t ORDER BY id").collect()
    assert(rows.map(r => (r.getLong(0), r.getLong(1))).toSeq ===
      Seq((1L, 10L), (3L, 300L)))
  }

  test("SET * and INSERT * map source columns by name") {
    val c = ctx(); setup(c)
    c.execute(
      """MERGE INTO t USING src ON t.id = src.id
        |WHEN MATCHED THEN UPDATE SET *
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    val rows = c.execute("SELECT id, v, s FROM t ORDER BY id").collect()
    assert(rows.map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSeq ===
      Seq((1L, 10L, "a"), (2L, 200L, "B"), (3L, 300L, "C"), (4L, 400L, "D")))
  }

  test("subquery source with alias, partial insert NULL-pads") {
    val c = ctx(); setup(c)
    c.execute(
      """MERGE INTO t AS tgt USING (SELECT id, v * 2 AS dv FROM src WHERE id >= 3) AS u
        |ON tgt.id = u.id
        |WHEN MATCHED THEN UPDATE SET v = u.dv
        |WHEN NOT MATCHED THEN INSERT (id, v) VALUES (u.id, u.dv)""".stripMargin)
    val rows = c.execute("SELECT id, v, s FROM t ORDER BY id").collect()
    assert(rows.map(r => (r.getLong(0), r.getLong(1), Option(r.getString(2)))).toSeq ===
      Seq((1L, 10L, Some("a")), (2L, 20L, Some("b")),
        (3L, 600L, Some("c")), (4L, 800L, None)))
  }

  test("a target row matching multiple source rows fails loudly") {
    val c = ctx(); setup(c)
    c.execute("INSERT INTO src VALUES (2, 999, 'dup')")
    val e = intercept[Exception] {
      c.execute(
        """MERGE INTO t USING src ON t.id = src.id
          |WHEN MATCHED THEN UPDATE SET v = src.v""".stripMargin)
    }
    assert(e.getMessage != null)
    // table unchanged after the failed merge
    val rows = c.execute("SELECT id, v FROM t ORDER BY id").collect()
    assert(rows.map(_.getLong(1)).toSeq === Seq(10L, 20L, 30L))
  }

  test("stats pruning inherits files outside the source key range") {
    val c = ctx()
    c.execute("CREATE TABLE big (id BIGINT, v BIGINT)")
    // two versions -> two files with disjoint id ranges
    c.execute("INSERT INTO big VALUES (1, 1), (2, 2), (3, 3)")
    c.execute("INSERT INTO big VALUES (100, 100), (101, 101)")
    c.execute("CREATE TABLE delta (id BIGINT, v BIGINT)")
    c.execute("INSERT INTO delta VALUES (100, 1000), (102, 1020)")
    val t = c.table("public", "big")
    // files wholly below the source key range (max id < 100) must be
    // inherited byte-identical
    val lowFiles = t.latestManifest.files
      .filter(_.stats.get("id").flatMap(_.max).exists(_.toLong < 100L))
      .map(_.path).toSet
    assert(lowFiles.nonEmpty)
    val before = t.latestManifest.files.map(_.path).toSet
    c.execute(
      """MERGE INTO big USING delta ON big.id = delta.id
        |WHEN MATCHED THEN UPDATE SET v = delta.v
        |WHEN NOT MATCHED THEN INSERT (id, v) VALUES (delta.id, delta.v)""".stripMargin)
    val after = t.latestManifest.files.map(_.path).toSet
    // the low-range files [1,3] are outside delta's id range [100,102]:
    // inherited, never rewritten
    assert(lowFiles.subsetOf(after))
    val rows = c.execute("SELECT id, v FROM big ORDER BY id").collect()
    assert(rows.map(r => (r.getLong(0), r.getLong(1))).toSeq ===
      Seq((1L, 1L), (2L, 2L), (3L, 3L), (100L, 1000L), (101L, 101L), (102L, 1020L)))
  }

  test("insert-only merge inherits every file") {
    val c = ctx(); setup(c)
    val t = c.table("public", "t")
    val before = t.latestManifest.files.map(_.path).toSet
    c.execute(
      """MERGE INTO t USING src ON t.id = src.id
        |WHEN NOT MATCHED THEN INSERT (id, v, s) VALUES (src.id, src.v, src.s)""".stripMargin)
    val after = t.latestManifest.files.map(_.path).toSet
    assert(before.subsetOf(after)) // no rewrite of existing files
    assert(c.execute("SELECT COUNT(*) AS n FROM t").collect()(0).getLong(0) === 4)
  }

  test("non-equi ON falls back to full rewrite but stays correct") {
    val c = ctx(); setup(c)
    c.execute(
      """MERGE INTO t USING src ON t.id = src.id AND t.v < src.v
        |WHEN MATCHED THEN UPDATE SET v = src.v""".stripMargin)
    val rows = c.execute("SELECT id, v FROM t ORDER BY id").collect()
    assert(rows.map(r => (r.getLong(0), r.getLong(1))).toSeq ===
      Seq((1L, 10L), (2L, 200L), (3L, 300L)))
  }

  test("pruneKeys extracts only target-side equi conjuncts") {
    assert(MergeInto.pruneKeys("t.id = s.id AND t.k = s.k + 1", "t") ===
      Seq(("id", "s.id"), ("k", "s.k + 1")))
    assert(MergeInto.pruneKeys("s.id = t.id", "t") === Seq(("id", "s.id")))
    // no extraction when the other side references the target alias
    assert(MergeInto.pruneKeys("t.id = t.v", "t") === Nil)
    // non-equi conjuncts contribute nothing
    assert(MergeInto.pruneKeys("t.id < s.id", "t") === Nil)
    // two-char operators containing '=' are NOT equi conjuncts
    assert(MergeInto.pruneKeys("s.ts >= t.ts", "t") === Nil)
    assert(MergeInto.pruneKeys("t.ts <= s.ts", "t") === Nil)
    assert(MergeInto.pruneKeys("s.v != t.v", "t") === Nil)
    assert(MergeInto.pruneKeys("t.id = s.id AND s.ts >= t.ts", "t") ===
      Seq(("id", "s.id")))
    // AND inside a string literal is not a conjunct boundary
    assert(MergeInto.pruneKeys("t.s = 'x AND y' AND t.id = s.id", "t") ===
      Seq(("s", "'x AND y'"), ("id", "s.id")))
  }

  test("mixed equi + range ON executes with pruning on the equi key only") {
    val c = ctx(); setup(c)
    c.execute(
      """MERGE INTO t USING src ON t.id = src.id AND src.v >= t.v
        |WHEN MATCHED THEN UPDATE SET v = src.v""".stripMargin)
    val rows = c.execute("SELECT id, v FROM t ORDER BY id").collect()
    assert(rows.map(r => (r.getLong(0), r.getLong(1))).toSeq ===
      Seq((1L, 10L), (2L, 200L), (3L, 300L)))
  }

  test("CASE WHEN inside the ON condition is not a clause boundary") {
    val c = ctx(); setup(c)
    c.execute(
      """MERGE INTO t USING src
        |ON t.id = src.id AND t.s = CASE WHEN src.v > 250 THEN 'c' ELSE 'b' END
        |WHEN MATCHED THEN UPDATE SET v = src.v""".stripMargin)
    // id=2 matches (s='b', src.v=200 -> CASE gives 'b'); id=3 matches
    // (s='c', src.v=300 -> 'c'); id=4 not in target
    val rows = c.execute("SELECT id, v FROM t ORDER BY id").collect()
    assert(rows.map(r => (r.getLong(0), r.getLong(1))).toSeq ===
      Seq((1L, 10L), (2L, 200L), (3L, 300L)))
  }

  test("a backslash key prunes as itself: MERGE and CDC sync update, never duplicate") {
    val c = ctx()
    c.execute("CREATE TABLE bk (k VARCHAR, v BIGINT)")
    c.execute("INSERT INTO bk VALUES ('a\\\\z', 1)") // the key is a\z
    c.execute("CREATE TABLE bks (k VARCHAR, v BIGINT)")
    c.execute("INSERT INTO bks VALUES ('a\\\\z', 2)")
    def rows = c.execute("SELECT k, v FROM bk ORDER BY v").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    c.execute(
      """MERGE INTO bk USING bks ON bk.k = bks.k
        |WHEN MATCHED THEN UPDATE SET v = bks.v
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    assert(rows === Seq(("a\\z", 2L)))
    import spark.implicits._
    val change = Seq(("a\\z", "a\\z", 3L)).toDF("old_k", "new_k", "v")
    graft.sync.SyncMerge.merge(c.table("public", "bk"), change, Seq("k"), Seq("v"))
    c.markDirty() // a write outside execute: the next read takes a new snapshot
    assert(rows === Seq(("a\\z", 3L)))
  }

  test("an empty source merges as a pure no-op inheriting every file") {
    val c = ctx(); setup(c)
    val t = c.table("public", "t")
    val before = t.latestManifest.files.map(_.path).toSet
    c.execute(
      """MERGE INTO t USING (SELECT * FROM src WHERE id < 0) AS e ON t.id = e.id
        |WHEN MATCHED THEN UPDATE SET v = e.v
        |WHEN NOT MATCHED THEN INSERT (id, v, s) VALUES (e.id, e.v, e.s)""".stripMargin)
    val after = t.latestManifest.files.map(_.path).toSet
    assert(after === before) // no rewrite, no inserts, files inherited
  }
}

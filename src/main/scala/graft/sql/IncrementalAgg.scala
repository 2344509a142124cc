package graft.sql

import graft.lake.{LakeIO, Manifest}

/** Incrementally-maintained aggregate tables — materialized-view
  * maintenance composed from the engine's own primitives instead of a
  * bespoke operator:
  *
  *   CREATE INCREMENTAL AGGREGATE tgt FROM src GROUP BY (k, ...) SUM (v, ...)
  *   REFRESH AGGREGATE tgt
  *
  * CREATE runs one full CTAS aggregate over the source and records the
  * source version it saw. REFRESH computes the per-key delta of every
  * commit since — `table_changes(src, last, now)` reads ONLY the files
  * those commits touched (inserts count +, deletes −; an update is its
  * delete+insert pair, so its net effect composes) — and applies it with
  * ONE generated MERGE INTO: matched keys whose row count hits zero are
  * deleted, surviving keys get sums/count adjusted, brand-new keys
  * insert. At 100 TB this is the difference between re-scanning the
  * corpus per refresh and reading the day's appended files: refresh cost
  * tracks CHANGE volume, never table size (and the MERGE's rewrite is
  * bounded by the aggregate table, which is keys-sized).
  *
  * Semantics: additive aggregates only (COUNT(*) as `_n`, SUM per value
  * column). NULL summands count as 0 — the target columns are defined as
  * `SUM(COALESCE(v, 0))` — so the recurrence stays closed under deletes
  * without per-column null counters. NULL group keys are real groups
  * (the generated MERGE matches on `<=>`). DOUBLE sums incur the usual
  * floating re-association drift under deletes; exact types (BIGINT,
  * DECIMAL) refresh bit-exactly.
  */
object IncrementalAgg {

  case class State(sourceSchema: String, sourceName: String,
                   groupCols: Seq[String], sumCols: Seq[String],
                   lastVersion: Long)

  private def statePath(targetRoot: String) = LakeIO.path(targetRoot, "_incr.json")

  private def save(targetRoot: String, st: State): Unit = {
    def arr(xs: Seq[String]) = xs.map(Manifest.jstr).mkString("[", ",", "]")
    LakeIO.writeString(statePath(targetRoot),
      s"""{"sourceSchema":${Manifest.jstr(st.sourceSchema)},"sourceName":${Manifest.jstr(st.sourceName)},""" +
        s""""groupCols":${arr(st.groupCols)},"sumCols":${arr(st.sumCols)},"lastVersion":${st.lastVersion}}""")
  }

  private def load(targetRoot: String): State = {
    val p = statePath(targetRoot)
    require(LakeIO.exists(p), "not an incremental aggregate table (no _incr state)")
    val o = Manifest.Json.parse(LakeIO.readString(p)).asInstanceOf[Manifest.Json.O].m
    def str(v: Manifest.Json.V) = v.asInstanceOf[Manifest.Json.S].s
    def arr(v: Manifest.Json.V) = v.asInstanceOf[Manifest.Json.A].xs.map(str)
    State(str(o("sourceSchema")), str(o("sourceName")),
      arr(o("groupCols")), arr(o("sumCols")),
      o("lastVersion").asInstanceOf[Manifest.Json.N].n.toLong)
  }

  private def ident(c: String): String = {
    require(c.matches("\\w+"), s"bad column name: $c")
    c
  }

  private def qname(sch: String, name: String): String =
    if (sch == "public") name else s"$sch.$name"

  def create(ctx: GraftContext, tSch: String, tName: String,
             sSch: String, sName: String,
             groupCols: Seq[String], sumCols: Seq[String]): Unit = {
    (groupCols ++ sumCols).foreach(ident)
    require(groupCols.nonEmpty, "GROUP BY needs at least one column")
    // version BEFORE the aggregate scan: single-writer serialization means
    // no commit can land between this read and the CTAS completing
    val srcRoot = ctx.table(sSch, sName).root
    val v = Manifest.latestVersion(srcRoot).getOrElse(
      throw new IllegalArgumentException(s"source ${qname(sSch, sName)} has no versions"))
    val ks = groupCols.mkString(", ")
    val sums = sumCols.map(c => s"SUM(COALESCE($c, 0)) AS sum_$c")
    ctx.execute(
      s"""CREATE TABLE ${qname(tSch, tName)} AS
         |SELECT $ks, ${(sums :+ "COUNT(*) AS _n").mkString(", ")}
         |FROM ${qname(sSch, sName)} GROUP BY $ks""".stripMargin)
    save(ctx.table(tSch, tName).root, State(sSch, sName, groupCols, sumCols, v))
  }

  /** Apply all source commits since the last refresh; returns the source
    * version the target now reflects. */
  def refresh(ctx: GraftContext, tSch: String, tName: String): Long = {
    val targetRoot = ctx.table(tSch, tName).root
    val st = load(targetRoot)
    val srcRoot = ctx.table(st.sourceSchema, st.sourceName).root
    val now = Manifest.latestVersion(srcRoot).getOrElse(st.lastVersion)
    if (now == st.lastVersion) return now
    val ks = st.groupCols
    val dSums = st.sumCols.map(c =>
      s"SUM(CASE WHEN _change_type = 'insert' THEN COALESCE($c, 0) ELSE -COALESCE($c, 0) END) AS d_sum_$c")
    val dN = "SUM(CASE WHEN _change_type = 'insert' THEN 1 ELSE -1 END) AS d_n"
    val setSums = st.sumCols.map(c => s"sum_$c = t.sum_$c + s.d_sum_$c")
    val insCols = ks ++ st.sumCols.map(c => s"sum_$c") :+ "_n"
    val insVals = ks.map(k => s"s.$k") ++ st.sumCols.map(c => s"s.d_sum_$c") :+ "s.d_n"
    ctx.execute(
      s"""MERGE INTO ${qname(tSch, tName)} AS t USING (
         |  SELECT ${ks.mkString(", ")}, ${(dSums :+ dN).mkString(", ")}
         |  FROM table_changes(${SqlText.quote(qname(st.sourceSchema, st.sourceName))}, ${st.lastVersion}, $now)
         |  GROUP BY ${ks.mkString(", ")}
         |) AS s ON ${ks.map(k => s"t.$k <=> s.$k").mkString(" AND ")}
         |WHEN MATCHED AND t._n + s.d_n = 0 THEN DELETE
         |WHEN MATCHED THEN UPDATE SET ${(setSums :+ "_n = t._n + s.d_n").mkString(", ")}
         |WHEN NOT MATCHED THEN INSERT (${insCols.mkString(", ")}) VALUES (${insVals.mkString(", ")})""".stripMargin)
    save(targetRoot, st.copy(lastVersion = now))
    now
  }
}

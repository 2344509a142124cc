package graft.sync

import graft.lake.{GraftTable, Manifest, Pruning}
import graft.sql.SqlText
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** CDC "sync" ingestion: change batches carrying column roles are merged
  * into a graft table — the Spark re-expression of the reference's largest
  * self-built subsystem (`src/sync/`, ~4 kLoC; design notes
  * `src/sync/writer.rs:33-68`, merge planner `src/sync/planner.rs`).
  *
  * Change-batch convention (mirrors `clade/proto/sync.proto` roles):
  *   - `old_<pk>`  — OldPk: NULL for inserts
  *   - `new_<pk>`  — NewPk: NULL for deletes
  *   - `<value>`   — Value payload columns
  *   - `changed_<value>` — optional Changed flag: when FALSE the base
  *     row's value is preserved instead of the batch's
  *   - `_seq`      — monotone sequence for intra-batch ordering
  *
  * Merge plan (planner.rs:53-117 re-expressed):
  *   1. squash: last change per PK wins (window by PK, order by _seq desc);
  *      multi-hop PK chains (A→B→C within ONE batch) are not followed —
  *      each hop lands in its own batch in practice (the reference's
  *      physical squash exists for buffer-size control);
  *   2. prune: only base files whose PK min/max intersects the batch's PK
  *      range are read/rewritten — untouched files inherit (utils.rs:254);
  *   3. resolve: deletes drop base rows; upserts replace/move rows with
  *      per-column Changed-flag resolution against the OLD row's values;
  *   4. append-only fast path: all OldPk NULL → plain append, no join
  *      (planner.rs:162-223).
  */
object SyncMerge {

  /** Merge ONE change batch into the table; returns the new version. The
    * snapshot read + prune + rewrite replays as a unit under the table's
    * optimistic-retry loop, so a writer that commits between our
    * snapshot and our replaceFiles triggers a re-plan instead of a lost
    * update.
    *
    * `seqUpdate` (origin -> max sequence contained in this batch) makes
    * the apply EXACTLY-ONCE across crashes: the watermarks land in the
    * SAME manifest commit as the data (TableManifest.syncSeq), and a
    * batch whose every origin is already at-or-past its sequence in the
    * current manifest is a REPLAY — skipped, because re-applying an
    * already-applied batch is not idempotent (a re-applied PK move finds
    * no base row and materializes changed=false sentinel values; a
    * re-applied insert duplicates its row). This entry point is
    * single-batch (the forall is exact for one origin window); a flush
    * that MIXES batches from several origins must filter replays
    * per-batch against the fresh manifest inside the retried closure —
    * SyncBuffer.flushKey does exactly that, then calls [[applyResolved]]
    * directly. */
  def merge(table: GraftTable, changes0: DataFrame,
            pkCols: Seq[String], valueCols: Seq[String],
            seqUpdate: Map[String, Long] = Map.empty): Long = table.retryCommit {
    val m = table.latestManifest
    if (seqUpdate.nonEmpty &&
        seqUpdate.forall { case (o, n) => m.syncSeq.get(o).exists(_ >= n) })
      return m.version
    applyResolved(table, m, changes0, pkCols, valueCols, seqUpdate)
  }

  /** The merge plan applied against an EXPLICIT snapshot `m`, with NO
    * retry and NO replay check — the caller decided both (SyncBuffer's
    * flush filters replayed batches against the same fresh manifest it
    * passes here, so filter + commit are one atomic unit: the commit is
    * anchored to `m` and a concurrent writer raises CommitConflict for
    * the caller's retry loop to re-plan, re-filter included). */
  private[sync] def applyResolved(table: GraftTable, m: graft.lake.Manifest.TableManifest,
                                  changes0: DataFrame,
                                  pkCols: Seq[String], valueCols: Seq[String],
                                  seqUpdate: Map[String, Long]): Long = {
    val spark = table.spark
    val schema = org.apache.spark.sql.types.DataType
      .fromJson(m.schemaJson).asInstanceOf[org.apache.spark.sql.types.StructType]

    // Schema completion: a JSON batch whose rows are ALL NULL in some
    // role column loses that column at read.json inference (Spark drops
    // null-only keys) — a pure-delete batch carries no value payload at
    // all, and the resolution projection below would then fail to
    // resolve `col(value)`. Materialize every expected role column,
    // typed from the table schema, before anything else touches the
    // frame. (Found by the CDC-vs-DML differential fuzz, seed 502.)
    val changes = {
      def tpe(c: String) = schema.fields
        .find(_.name.equalsIgnoreCase(c))
        .map(_.dataType)
        .getOrElse(throw new IllegalArgumentException(s"unknown sync column $c"))
      val have = changes0.columns.map(_.toLowerCase).toSet
      val want = pkCols.flatMap(c => Seq(s"old_$c" -> c, s"new_$c" -> c)) ++
        valueCols.map(c => c -> c)
      want.foldLeft(changes0) { case (df, (name, src)) =>
        if (have(name.toLowerCase)) df
        else df.withColumn(name, lit(null).cast(tpe(src)))
      }
    }

    def oldPk(c: String) = col(s"old_$c")
    def newPk(c: String) = col(s"new_$c")
    val anyOld = pkCols.map(oldPk(_).isNotNull).reduce(_ || _)
    val anyNew = pkCols.map(newPk(_).isNotNull).reduce(_ || _)

    // 1. squash: last change per affected PK wins
    val keyed = changes.withColumn("__key",
      struct(pkCols.map(c => coalesce(oldPk(c), newPk(c))): _*))
    val seqCol = if (changes.columns.contains("_seq")) col("_seq") else monotonically_increasing_id()
    val squashed = keyed
      .withColumn("__rn", row_number().over(
        Window.partitionBy("__key").orderBy(seqCol.desc)))
      .filter(col("__rn") === 1)
      .drop("__rn", "__key")
      .cache()

    // fast path: append-only batch (watermarks ride the append's commit).
    // Anchored to `m` (replaceFiles with an empty affected set ≡ append),
    // NOT table.append's internal retry: the caller's replay filter was
    // evaluated against `m`, so a commit that silently re-anchored to a
    // newer manifest could apply a batch another process just applied.
    val appendOnly = squashed.filter(anyOld).isEmpty
    if (appendOnly) {
      val inserts = squashed.select(
        pkCols.map(c => newPk(c).as(c)) ++ valueCols.map(col): _*)
      val v = table.replaceFiles(m, Seq.empty, m.files, inserts, syncSeqUpdate = seqUpdate)
      squashed.unpersist() // don't leak the cache on the common hot path
      return v
    }

    // 2. prune base files by the batch's PK ranges: the conjunction of
    // every PK column's [min,max] (one aggregate row for all columns) —
    // composite keys prune on all components, not just the leading one
    val rangeAggs = pkCols.flatMap(c => Seq(
      min(coalesce(oldPk(c), newPk(c))).as(s"mn_$c"),
      max(coalesce(oldPk(c), newPk(c))).as(s"mx_$c")))
    val range = squashed.agg(rangeAggs.head, rangeAggs.tail: _*).collect()(0)
    val rangePred = pkCols.zipWithIndex
      .filterNot { case (_, i) => range.isNullAt(2 * i) }
      .map { case (c, i) =>
        s"$c >= ${SqlText.literal(range.get(2 * i))} AND $c <= ${SqlText.literal(range.get(2 * i + 1))}"
      }
    val (affected, untouched) =
      if (rangePred.isEmpty) (m.files, Seq.empty[Manifest.FileEntry])
      else Pruning.partition(m.files, rangePred.mkString(" AND "), schema)

    val base =
      if (affected.isEmpty)
        spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
      else spark.read.schema(schema).parquet(affected.map(f => s"${table.root}/${f.path}"): _*)

    // 3. resolve
    // rows whose OLD identity is superseded (delete, or update/move source)
    val deadKeys = squashed.filter(anyOld)
      .select(pkCols.map(c => oldPk(c).as(c)): _*).distinct()
    val keptBase = base.join(deadKeys, pkCols, "left_anti")

    // upserts: resolve each value col against the OLD row (Changed flags)
    val upserts = squashed.filter(anyNew)
    val baseForLookup = base.select(
      pkCols.map(c => col(c).as(s"__b_$c")) ++ valueCols.map(c => col(c).as(s"__b_$c")): _*)
    val joined = upserts.join(baseForLookup,
      pkCols.map(c => oldPk(c) === col(s"__b_$c")).reduce(_ && _), "left")
    val resolved = joined.select(
      pkCols.map(c => newPk(c).as(c)) ++ valueCols.map { c =>
        val changedFlag = s"changed_$c"
        val newV = col(c)
        if (upserts.columns.contains(changedFlag))
          when(col(changedFlag) === false && col(s"__b_${pkCols.head}").isNotNull, col(s"__b_$c"))
            .otherwise(newV).as(c)
        else newV.as(c)
      }: _*)

    // 4. rewrite affected region (+ watermarks, one atomic commit)
    val result = keptBase.unionByName(resolved, allowMissingColumns = false)
    squashed.unpersist()
    table.replaceFiles(m, affected, untouched, result, syncSeqUpdate = seqUpdate)
  }
}

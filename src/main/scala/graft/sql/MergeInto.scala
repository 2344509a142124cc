package graft.sql

import graft.lake.{GraftTable, Manifest, Pruning}
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** `MERGE INTO` on lake tables — the upsert statement every Delta-style
  * table needs (the reference's CDC channel expresses the same resolve
  * semantics wire-side; this is the SQL-side twin sharing the
  * file-pruned rewrite machinery):
  *
  *   MERGE INTO t [AS a] USING src|(query) [AS b] ON cond
  *     WHEN MATCHED [AND c] THEN UPDATE SET col = expr, ... | SET *
  *     WHEN MATCHED [AND c] THEN DELETE
  *     WHEN NOT MATCHED [AND c] THEN INSERT (cols) VALUES (exprs) | INSERT *
  *
  * Execution shape (scale-first):
  *  1. Equi-conjuncts of ON (`t.col = <source expr>`) drive manifest
  *     stats pruning: one source-side aggregate computes each key's
  *     [min,max], and only files whose stats intersect are rewritten —
  *     the same bounded-rewrite rule as CDC sync (SyncMerge) and
  *     UPDATE/DELETE. Non-equi ON falls back to all files.
  *  2. Matched handling is ONE left join of the affected rows with the
  *     source keyed on the ON condition; multiple source matches per
  *     target row fail loudly (assert_true inside the plan — Delta
  *     parity, no second pass).
  *  3. NOT MATCHED inserts are ONE left-anti join against the affected
  *     rows (sound: any matching target row lives in an affected file by
  *     the pruning invariant).
  *  4. One commit: rewritten affected files + untouched files inherited.
  *
  * SQL clause order decides which WHEN applies when both MATCHED
  * conditions hold. NULL conditions read as false (SQL three-valued
  * semantics).
  */
object MergeInto {

  sealed trait Clause { def cond: Option[String] }
  case class UpdateClause(cond: Option[String], sets: Option[Seq[(String, String)]]) extends Clause // None = SET *
  case class DeleteClause(cond: Option[String]) extends Clause
  case class InsertClause(cond: Option[String], cols: Option[Seq[String]], vals: Option[Seq[String]]) extends Clause // None/None = INSERT *

  case class Parsed(target: String, tAlias: String, source: String, sAlias: String,
                    onCond: String, clauses: Seq[Clause])

  def isMerge(sql: String): Boolean = sql.trim.toUpperCase.startsWith("MERGE")

  // ---------------------------------------------------------------- parse

  private val reUpd =
    """(?is)^MATCHED(?:\s+AND\s+(.+?))?\s+THEN\s+UPDATE\s+SET\s+(.+)$""".r
  private val reDel =
    """(?is)^MATCHED(?:\s+AND\s+(.+?))?\s+THEN\s+DELETE\s*$""".r
  private val reInsVals =
    """(?is)^NOT\s+MATCHED(?:\s+AND\s+(.+?))?\s+THEN\s+INSERT\s*\(([^)]*)\)\s*VALUES\s*\((.+)\)\s*$""".r
  private val reInsStar =
    """(?is)^NOT\s+MATCHED(?:\s+AND\s+(.+?))?\s+THEN\s+INSERT\s+\*\s*$""".r

  /** Parse a MERGE statement; throws IllegalArgumentException with the
    * expected shape on malformed input. */
  def parse(sql: String): Parsed = {
    val s = sql.trim.stripSuffix(";")
    require(s.toUpperCase.startsWith("MERGE"), "not a MERGE statement")
    // clause keywords count at the top level only: not inside parentheses,
    // literals or a CASE … END, whose WHEN is not a MERGE clause
    def topIndex(kw: String, from: Int): Int =
      SqlText.topLevel(s, kw).find(_ >= from).getOrElse(-1)
    val iUsing = topIndex("USING", 0)
    val iOn = topIndex("ON", math.max(iUsing, 0))
    val iWhen = topIndex("WHEN", math.max(iOn, 0))
    require(iUsing > 0 && iOn > iUsing && iWhen > iOn,
      "expected MERGE INTO <table> [AS a] USING <source> [AS b] ON <cond> WHEN ...")

    def nameAndAlias(seg: String, defaultAlias: String => String): (String, String) = {
      val parts = seg.trim.split("""(?is)\s+AS\s+|\s+""").filter(_.nonEmpty)
      parts.length match {
        case 1 => (parts(0), defaultAlias(parts(0)))
        case 2 => (parts(0), parts(1).replace("\"", ""))
        case _ => throw new IllegalArgumentException(s"cannot parse name/alias: $seg")
      }
    }

    val intoSeg = s.substring("MERGE".length, iUsing).trim
    require(intoSeg.toUpperCase.startsWith("INTO"), "expected MERGE INTO")
    val (target, tAlias) =
      nameAndAlias(intoSeg.substring(4).trim, n => n.split('.').last.replace("\"", ""))

    val srcSeg = s.substring(iUsing + "USING".length, iOn).trim
    val (source, sAlias) =
      if (srcSeg.startsWith("(")) {
        // balanced subquery then optional alias: the subquery ends at the
        // first `)` at the top level of the text after its `(`
        val end = SqlText.topLevel(srcSeg.substring(1), ")").headOption.fold(-1)(_ + 1)
        require(end > 0, "unbalanced parens in USING subquery")
        val rest = srcSeg.substring(end + 1).trim
        val alias = rest.replaceFirst("(?is)^AS\\s+", "").replace("\"", "").trim
        require(alias.nonEmpty, "USING (subquery) requires an alias")
        (srcSeg.substring(0, end + 1), alias)
      } else nameAndAlias(srcSeg, n => n.split('.').last.replace("\"", ""))

    val onCond = s.substring(iOn + "ON".length, iWhen).trim
    require(onCond.nonEmpty, "empty ON condition")

    val clauses = SqlText.splitTop(s.substring(iWhen), "WHEN").map {
      case reUpd(cond, sets) =>
        val assigns =
          if (sets.trim == "*") None
          else Some(SqlText.splitTop(sets, ",").map { a =>
            val i = a.indexOf('=')
            require(i > 0, s"bad SET assignment: $a")
            (a.substring(0, i).trim.replace("\"", ""), a.substring(i + 1).trim)
          })
        UpdateClause(Option(cond).map(_.trim), assigns)
      case reDel(cond) => DeleteClause(Option(cond).map(_.trim))
      case reInsVals(cond, cols, vals) =>
        InsertClause(Option(cond).map(_.trim),
          Some(cols.split(',').map(_.trim.replace("\"", "")).filter(_.nonEmpty).toSeq),
          Some(SqlText.splitTop(vals, ",")))
      case reInsStar(cond) => InsertClause(Option(cond).map(_.trim), None, None)
      case other => throw new IllegalArgumentException(
        s"unsupported MERGE clause: WHEN $other")
    }
    require(clauses.nonEmpty, "MERGE needs at least one WHEN clause")
    require(clauses.count(_.isInstanceOf[UpdateClause]) <= 1 &&
      clauses.count(_.isInstanceOf[DeleteClause]) <= 1 &&
      clauses.count(_.isInstanceOf[InsertClause]) <= 1,
      "at most one WHEN MATCHED UPDATE, one WHEN MATCHED DELETE, and one WHEN NOT MATCHED INSERT clause is supported")
    Parsed(target, tAlias, source, sAlias, onCond, clauses)
  }

  // -------------------------------------------------------------- execute

  /** Equi-conjunct extraction for stats pruning: top-level AND conjuncts
    * of the form `<tAlias>.<col> = <expr>` (either side) where the other
    * side never references the target alias. */
  private[graft] def pruneKeys(onCond: String, tAlias: String): Seq[(String, String)] = {
    // the `=` must not be the tail of a two-char operator (>=, <=, !=,
    // <>): a lookbehind keeps `expr >= t.col` from parsing as an
    // equi-conjunct with an unparseable "expr >" source side
    val eq = s"""(?is)^\\s*$tAlias\\.([\\w"]+)\\s*(?<![<>!=])=(?!=)\\s*(.+)$$""".r
    val eqR = s"""(?is)^(.+?)\\s*(?<![<>!=])=(?!=)\\s*$tAlias\\.([\\w"]+)\\s*$$""".r
    val tRef = s"""(?i)(?<![\\w"])$tAlias\\.""".r
    SqlText.splitTop(onCond, "AND").flatMap {
      case eq(col0, rhs) if tRef.findFirstIn(rhs).isEmpty =>
        Some((col0.replace("\"", ""), rhs.trim))
      case eqR(lhs, col0) if tRef.findFirstIn(lhs).isEmpty =>
        Some((col0.replace("\"", ""), lhs.trim))
      case _ => None
    }
  }

  /** Execute a parsed MERGE against `table` with `src` as the resolved
    * source frame. Returns the committed version. The whole plan —
    * snapshot read, file pruning, matched-region rewrite — re-runs under
    * the table's optimistic-retry loop: a concurrent commit between our
    * snapshot and our replaceFiles raises CommitConflict, and replaying
    * the planning against the fresh snapshot is the only correct
    * response (re-committing the stale file sets would lose the other
    * writer's rows). `src0` is BY-NAME and re-evaluated after the
    * snapshot read on every attempt, so a source that reads the target
    * table itself re-plans from fresh data too (full serializability;
    * the caller's thunk re-pins its views — GraftContext's plans on a
    * snapshot that pins the target no older than its latest manifest). */
  def execute(table: GraftTable, src0: => DataFrame, p: Parsed): Long = table.retryCommit {
    val m = table.latestManifest
    // schema from the SAME snapshot the file sets are planned against
    val sch = org.apache.spark.sql.types.DataType
      .fromJson(m.schemaJson).asInstanceOf[org.apache.spark.sql.types.StructType]
    val updC = p.clauses.collectFirst { case c: UpdateClause => c }
    val delC = p.clauses.collectFirst { case c: DeleteClause => c }
    val insC = p.clauses.collectFirst { case c: InsertClause => c }
    val hasMatched = updC.nonEmpty || delC.nonEmpty

    val src = src0.cache()
    // the target's frames are built on the source's session: one
    // statement, one catalog state
    val spark = src.sparkSession
    try {
      // 1. prune candidate files by the source's equi-key ranges
      val keys = pruneKeys(p.onCond, p.tAlias)
      // ANY equi key whose source values are all NULL makes the ON
      // condition unsatisfiable (NULL never equals): empty sources and
      // all-null key batches then inherit every file instead of
      // identity-rewriting the whole table
      var sourceHasNoKeys = false
      val rangePred: Seq[String] =
        if (keys.isEmpty) Nil
        else {
          val aggs = keys.zipWithIndex.flatMap { case ((_, srcExpr), i) =>
            Seq(min(expr(srcExpr)).as(s"mn_$i"), max(expr(srcExpr)).as(s"mx_$i"))
          }
          val r: Row = src.as(p.sAlias).agg(aggs.head, aggs.tail: _*).collect()(0)
          sourceHasNoKeys = keys.indices.exists(i => r.isNullAt(2 * i))
          keys.zipWithIndex.filterNot { case (_, i) => r.isNullAt(2 * i) }
            .map { case ((c, _), i) =>
              s"$c >= ${SqlText.literal(r.get(2 * i))} AND $c <= ${SqlText.literal(r.get(2 * i + 1))}"
            }
        }
      val (affected0, untouched) =
        if (sourceHasNoKeys) (Seq.empty[Manifest.FileEntry], m.files)
        else if (rangePred.isEmpty) (m.files, Seq.empty[Manifest.FileEntry])
        else Pruning.partition(m.files, rangePred.mkString(" AND "), sch)
      // no matched clause → nothing to rewrite, every file is inherited
      val affected = if (hasMatched) affected0 else Seq.empty[Manifest.FileEntry]
      // anti-join base: candidate files that COULD hold a match
      val candidates = affected0
      val base =
        if (candidates.isEmpty)
          spark.createDataFrame(spark.sparkContext.emptyRDD[Row], sch)
        else spark.read.schema(sch).parquet(candidates.map(f => s"${table.root}/${f.path}"): _*)

      def cond3(c: Option[String]): Column = // NULL reads as false
        c.map(e => coalesce(expr(e), lit(false))).getOrElse(lit(true))
      def tCol(f: String): Column = col(s"${p.tAlias}.$f")

      // 2. rewrite matched region
      val rewritten: Option[DataFrame] =
        if (!hasMatched) None
        else {
          val tgt = base.withColumn("__tid", monotonically_increasing_id()).as(p.tAlias)
          val srcM = src.withColumn("__smatch", lit(1)).as(p.sAlias)
          val joined = tgt.join(srcM, expr(p.onCond), "left")
          // a target row matched by >1 source rows is ambiguous — fail
          // inside the plan (the filter keeps assert_true from pruning)
          val guarded = joined
            .withColumn("__mcnt",
              sum(coalesce(col("__smatch"), lit(0))).over(Window.partitionBy(col("__tid"))))
            .filter(coalesce(
              assert_true(col("__mcnt") <= 1,
                lit("MERGE: a target row matched multiple source rows")),
              lit(true)))
          val matched = col("__smatch").isNotNull
          // SQL clause order: the first WHEN whose condition holds wins
          val updFirst = p.clauses.indexWhere(_.isInstanceOf[UpdateClause]) <
            p.clauses.indexWhere(_.isInstanceOf[DeleteClause]) || delC.isEmpty
          val updApplies = updC.map { c =>
            val own = matched && cond3(c.cond)
            if (updFirst || delC.isEmpty) own else own && !cond3(delC.get.cond)
          }.getOrElse(lit(false))
          val delApplies = delC.map { c =>
            val own = matched && cond3(c.cond)
            if (!updFirst || updC.isEmpty) own else own && !cond3(updC.get.cond)
          }.getOrElse(lit(false))
          val sets: Map[String, Column] = updC match {
            case Some(UpdateClause(_, Some(as))) =>
              as.map { case (c0, e) =>
                // allow t-qualified assignment targets
                val c = c0.stripPrefix(p.tAlias + ".")
                require(sch.fieldNames.exists(_.equalsIgnoreCase(c)),
                  s"MERGE SET references unknown column $c0")
                c.toLowerCase -> expr(e)
              }.toMap
            case Some(UpdateClause(_, None)) => // SET *
              sch.fields.map(f => f.name.toLowerCase -> col(s"${p.sAlias}.${f.name}")).toMap
            case None => Map.empty
          }
          Some(guarded
            .filter(!delApplies)
            .select(sch.fields.map { f =>
              sets.get(f.name.toLowerCase) match {
                case Some(e) => when(updApplies, e.cast(f.dataType))
                  .otherwise(tCol(f.name)).as(f.name)
                case None => tCol(f.name).as(f.name)
              }
            }.toIndexedSeq: _*))
        }

      // 3. inserts from unmatched source rows
      val inserts: Option[DataFrame] = insC.map { c =>
        val srcOnly = src.as(p.sAlias)
          .join(base.as(p.tAlias), expr(p.onCond), "left_anti")
          .filter(cond3(c.cond))
        val vals: Map[String, Column] = (c.cols, c.vals) match {
          case (Some(cols), Some(vs)) =>
            require(cols.length == vs.length,
              s"INSERT lists ${cols.length} columns but ${vs.length} values")
            cols.zip(vs).map { case (c0, v) =>
              require(sch.fieldNames.exists(_.equalsIgnoreCase(c0)),
                s"MERGE INSERT references unknown column $c0")
              c0.toLowerCase -> expr(v)
            }.toMap
          case _ => // INSERT *: by name from the source
            sch.fields.map(f => f.name.toLowerCase -> col(s"${p.sAlias}.${f.name}")).toMap
        }
        srcOnly.select(sch.fields.map { f =>
          vals.get(f.name.toLowerCase)
            .map(_.cast(f.dataType)).getOrElse(lit(null).cast(f.dataType)).as(f.name)
        }.toIndexedSeq: _*)
      }

      val replacement = (rewritten, inserts) match {
        case (Some(r), Some(i)) => r.unionByName(i)
        case (Some(r), None) => r
        case (None, Some(i)) => i
        case (None, None) => throw new IllegalArgumentException(
          "MERGE needs at least one WHEN clause")
      }
      table.replaceFiles(m, affected, untouched ++ (if (hasMatched) Nil else affected0),
        replacement)
    } finally src.unpersist()
  }
}

package graft.sql

import graft.lake.{GraftTable, Manifest, Pruning}
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.parser.CatalystSqlParser
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

  /** A MERGE read whole: the target's name parts and alias, the source
    * (see [[GraftContext.source]]) and its alias, ON, the WHEN clauses. */
  case class Parsed(target: Seq[String], tAlias: String, source: Either[Seq[String], String],
                    sAlias: String, onCond: String, clauses: Seq[Clause])

  // ---------------------------------------------------------------- parse

  /** Read a MERGE statement; throws IllegalArgumentException saying what
    * was expected on malformed input. Clause keywords count at the top
    * level only: not inside parentheses, literals or a CASE … END, whose
    * WHEN is not a MERGE clause. */
  def parse(r: SqlText.Reader): Parsed = {
    r.want("MERGE INTO")
    val target = r.qname()
    val tAlias = alias(r, "USING").getOrElse(target.last)
    r.want("USING")
    val source = GraftContext.source(r)
    val sAlias = alias(r, "ON").orElse(source.swap.toOption.map(_.last))
      .getOrElse(throw new IllegalArgumentException("USING (subquery) requires an alias"))
    r.want("ON")
    val onCond = r.upTo("WHEN")
    require(onCond.nonEmpty, "empty ON condition")
    val clauses = Seq.newBuilder[Clause]
    while (r.is("WHEN")) clauses += clause(r, tAlias)
    r.end()
    val cs = clauses.result()
    require(cs.nonEmpty, "MERGE needs at least one WHEN clause")
    require(cs.count(_.isInstanceOf[UpdateClause]) <= 1 &&
      cs.count(_.isInstanceOf[DeleteClause]) <= 1 &&
      cs.count(_.isInstanceOf[InsertClause]) <= 1,
      "at most one WHEN MATCHED UPDATE, one WHEN MATCHED DELETE, and one WHEN NOT MATCHED INSERT clause is supported")
    Parsed(target, tAlias, source, sAlias, onCond, cs)
  }

  /** `[AS] alias` before the keyword `next`, if there is one. */
  private def alias(r: SqlText.Reader, next: String): Option[String] =
    if (r.is("AS") || !r.peek(next)) Some(r.name()) else None

  /** One clause after its WHEN. */
  private def clause(r: SqlText.Reader, tAlias: String): Clause = {
    val matched = !r.is("NOT")
    r.want("MATCHED")
    val cond = if (r.is("AND")) Some(r.upTo("THEN")) else None
    r.want("THEN")
    if (matched && r.is("UPDATE SET"))
      UpdateClause(cond, if (r.is("*")) None else Some(r.items {
        // a target-qualified column stands for the column itself
        val c = r.qname() match {
          case Seq(a, c) if a.equalsIgnoreCase(tAlias) => c
          case parts => parts.mkString(".")
        }
        r.want("=")
        (c, r.upTo(",", "WHEN"))
      }))
    else if (matched && r.is("DELETE")) DeleteClause(cond)
    else if (!matched && r.is("INSERT")) {
      if (r.is("*")) InsertClause(cond, None, None)
      else {
        val cols = r.list(r.name())
        r.want("VALUES")
        InsertClause(cond, Some(cols), Some(r.list(r.upTo(","))))
      }
    } else r.fail(if (matched) "UPDATE SET or DELETE" else "INSERT")
  }

  // -------------------------------------------------------------- execute

  /** Equi-conjunct extraction for stats pruning: top-level AND conjuncts
    * of the form `<tAlias>.<col> = <expr>` (either side) where the other
    * side never references the target alias. Each side is read by Spark's
    * expression parser; `=` is a lexeme of its own, so `>=`, `<=`, `!=`,
    * `==` and `<=>` never split a conjunct. */
  private[graft] def pruneKeys(onCond: String, tAlias: String): Seq[(String, String)] = {
    def parsed(e: String) = scala.util.Try(CatalystSqlParser.parseExpression(e)).toOption
    def targetCol(e: String) = parsed(e).collect {
      case UnresolvedAttribute(Seq(a, c)) if a.equalsIgnoreCase(tAlias) => c
    }
    def refsTarget(e: String) = parsed(e).forall(_.exists {
      case a: UnresolvedAttribute => a.nameParts.size > 1 && a.nameParts.head.equalsIgnoreCase(tAlias)
      case _ => false
    })
    val conjuncts = SqlText.reader(onCond)
    conjuncts.items(conjuncts.upTo("AND"), "AND").flatMap { conj =>
      val sides = SqlText.reader(conj)
      val (l, r) = (sides.upTo("="), if (sides.is("=")) sides.upTo("=") else "")
      if (r.isEmpty || !sides.atEnd) None
      else targetCol(l).filterNot(_ => refsTarget(r)).map((_, r))
        .orElse(targetCol(r).filterNot(_ => refsTarget(l)).map((_, l)))
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
              s"${SqlText.ident(c)} >= ${SqlText.literal(r.get(2 * i))} AND " +
                s"${SqlText.ident(c)} <= ${SqlText.literal(r.get(2 * i + 1))}"
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
      def tCol(f: String): Column = col(SqlText.ident(p.tAlias, f))
      def sCol(f: String): Column = col(SqlText.ident(p.sAlias, f))

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
              as.map { case (c, e) =>
                require(sch.fieldNames.exists(_.equalsIgnoreCase(c)),
                  s"MERGE SET references unknown column $c")
                c.toLowerCase -> expr(e)
              }.toMap
            case Some(UpdateClause(_, None)) => // SET *
              sch.fields.map(f => f.name.toLowerCase -> sCol(f.name)).toMap
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
            sch.fields.map(f => f.name.toLowerCase -> sCol(f.name)).toMap
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

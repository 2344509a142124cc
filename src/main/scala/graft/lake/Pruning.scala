package graft.lake

import graft.lake.Manifest.{ColStats, FileEntry}
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.functions.expr
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Stats-based file pruning: decide from a file's per-column min/max/null
  * statistics whether a predicate can possibly match any row in the file —
  * the manifest-side equivalent of DataFusion's PruningPredicate that
  * Seafowl applies before UPDATE/DELETE/merge rewrites (reference
  * `src/context/physical.rs:274-299`, `src/sync/planner.rs:62-71`).
  *
  * Conservative tri-state: `mayMatch` returns false only when the stats
  * PROVE no row can satisfy the predicate; any unsupported shape returns
  * true (keep the file).
  */
object Pruning {

  /** Typed bound parsed from the stats' textual form. */
  private def parseBound(s: String, dt: DataType): Option[Any] = dt match {
    case ByteType | ShortType | IntegerType | LongType | TimestampType | TimestampNTZType | DateType =>
      scala.util.Try(s.toLong).toOption
    case FloatType | DoubleType => scala.util.Try(s.toDouble).toOption
    case _: DecimalType => scala.util.Try(BigDecimal(s)).toOption
    case StringType => Some(UTF8String.fromString(s))
    case BooleanType => Some(s == "true")
    case _ => None
  }

  private def cmp(a: Any, b: Any): Option[Int] = (a, b) match {
    case (x: Long, y: Long) => Some(java.lang.Long.compare(x, y))
    case (x: Long, y: Double) => Some(java.lang.Double.compare(x.toDouble, y))
    case (x: Double, y: Long) => Some(java.lang.Double.compare(x, y.toDouble))
    case (x: Double, y: Double) => Some(java.lang.Double.compare(x, y))
    case (x: BigDecimal, y: BigDecimal) => Some(x.compare(y))
    case (x: BigDecimal, y: Long) => Some(x.compare(BigDecimal(y)))
    case (x: BigDecimal, y: Double) => Some(x.compare(BigDecimal(y)))
    case (x: Long, y: BigDecimal) => Some(BigDecimal(x).compare(y))
    case (x: Double, y: BigDecimal) => Some(BigDecimal(x).compare(y))
    // file stats are min/max in Spark's order, UTF-8 bytes — not
    // String.compareTo's UTF-16 units, which disagree past U+FFFF
    case (x: UTF8String, y: UTF8String) => Some(x.compareTo(y))
    case (x: Boolean, y: Boolean) => Some(java.lang.Boolean.compare(x, y))
    case _ => None
  }

  /** Literal value in comparable form (numbers widen to Long/Double). */
  private def litValue(l: Literal): Option[Any] = l.value match {
    case null => None
    case v: java.lang.Byte => Some(v.longValue)
    case v: java.lang.Short => Some(v.longValue)
    case v: java.lang.Integer => Some(v.longValue)
    case v: java.lang.Long => Some(v.longValue)
    case v: java.lang.Float => Some(v.doubleValue)
    case v: java.lang.Double => Some(v.doubleValue)
    case v: Decimal => Some(v.toBigDecimal)
    case v: UTF8String => Some(v)
    case v: java.lang.Boolean => Some(v.booleanValue)
    case _ => None
  }

  private def isNumeric(dt: DataType): Boolean = dt match {
    case _: NumericType => true
    case _ => false
  }

  /** Attribute behind an (optionally cast) column reference. Casts are
    * unwrapped ONLY when provably scale-preserving for stats compare:
    * numeric→numeric widening (stats and literal stay in the Long/Double/
    * Decimal domain cmp handles). An analyzer-coerced date→timestamp cast
    * must NOT unwrap — stats are epoch-DAYS while the coerced literal is
    * epoch-MICROS, and comparing them prunes files whose rows match.
    * Unresolved attributes (graft-parsed DML predicates, never coerced)
    * pass through as before. */
  private def attrName(e: Expression): Option[String] = e match {
    case a: UnresolvedAttribute => Some(a.name)
    case a: AttributeReference => Some(a.name)
    case Cast(a: AttributeReference, dt, _, _) if isNumeric(a.dataType) && isNumeric(dt) =>
      Some(a.name)
    case Cast(u: UnresolvedAttribute, _, _, _) => Some(u.name)
    case _ => None
  }

  /** Can any row of a file with these stats satisfy `pred`? */
  def mayMatch(pred: Expression, file: FileEntry, schema: StructType): Boolean = {
    def bounds(name: String): Option[(Option[Any], Option[Any], Long)] =
      for {
        field <- schema.fields.find(_.name.equalsIgnoreCase(name))
        // stats version 1 wrote TIMESTAMP_NTZ bounds in seconds, while
        // literals compare in micros: no bounds rather than wrong ones
        if !(field.dataType == TimestampNTZType && file.statsVersion < 2)
        st <- file.stats.get(field.name)
      } yield (st.min.flatMap(parseBound(_, field.dataType)),
        st.max.flatMap(parseBound(_, field.dataType)), st.nullCount)

    def eval(e: Expression): Boolean = e match {
      case And(l, r) => eval(l) && eval(r)
      case Or(l, r) => eval(l) || eval(r)
      case Not(EqualTo(a, l: Literal)) =>
        // col != v prunes only when min == max == v and no nulls... but a
        // file of all-equal values may still hold nulls; stay conservative:
        (attrName(a), litValue(l)) match {
          case (Some(n), Some(v)) =>
            bounds(n) match {
              case Some((Some(mn), Some(mx), nulls)) =>
                !(cmp(mn, v).contains(0) && cmp(mx, v).contains(0) && nulls == 0)
              case _ => true
            }
          case _ => true
        }
      case EqualTo(a, l: Literal) => cmpPrune(a, l, (c1, c2) => c1 <= 0 && c2 >= 0)
      case EqualTo(l: Literal, a) => cmpPrune(a, l, (c1, c2) => c1 <= 0 && c2 >= 0)
      case LessThan(a, l: Literal) => cmpPrune(a, l, (c1, _) => c1 < 0)
      case GreaterThan(l: Literal, a) => cmpPrune(a, l, (c1, _) => c1 < 0)
      case LessThanOrEqual(a, l: Literal) => cmpPrune(a, l, (c1, _) => c1 <= 0)
      case GreaterThanOrEqual(l: Literal, a) => cmpPrune(a, l, (c1, _) => c1 <= 0)
      case GreaterThan(a, l: Literal) => cmpPrune(a, l, (_, c2) => c2 > 0)
      case LessThan(l: Literal, a) => cmpPrune(a, l, (_, c2) => c2 > 0)
      case GreaterThanOrEqual(a, l: Literal) => cmpPrune(a, l, (_, c2) => c2 >= 0)
      case LessThanOrEqual(l: Literal, a) => cmpPrune(a, l, (_, c2) => c2 >= 0)
      case IsNull(a) =>
        attrName(a).flatMap(bounds).forall { case (_, _, nulls) => nulls > 0 }
      case IsNotNull(a) =>
        attrName(a).flatMap(n => bounds(n).map(b => (n, b))) match {
          case Some((n, (_, _, nulls))) =>
            val numRecords = file.numRecords
            !(nulls == numRecords && numRecords > 0)
          case None => true
        }
      case In(a, list) if list.forall(_.isInstanceOf[Literal]) =>
        list.exists(l => eval(EqualTo(a, l.asInstanceOf[Literal])))
      case _ => true // unsupported shape: keep the file
    }

    // cmpPrune(col ? lit): keep iff check(cmp(min,v), cmp(max,v)) holds
    def cmpPrune(a: Expression, l: Literal, check: (Int, Int) => Boolean): Boolean =
      (attrName(a), litValue(l)) match {
        case (Some(n), Some(v)) =>
          bounds(n) match {
            case Some((Some(mn), Some(mx), _)) =>
              (cmp(mn, v), cmp(mx, v)) match {
                case (Some(c1), Some(c2)) => check(c1, c2)
                case _ => true
              }
            case _ => true // no stats for the column: keep
          }
        case _ => true
      }

    if (file.numRecords == 0) false else eval(pred)
  }

  /** Parse a SQL predicate string into a Catalyst expression (unresolved —
    * attribute names are matched textually against the schema). */
  def parsePredicate(sql: String): Expression =
    org.apache.spark.sql.catalyst.parser.CatalystSqlParser.parseExpression(sql)

  /** Split `files` into (mayMatch, provablyUnaffected). */
  def partition(files: Seq[FileEntry], predSql: String, schema: StructType): (Seq[FileEntry], Seq[FileEntry]) = {
    val pred = parsePredicate(predSql)
    files.partition(f => mayMatch(pred, f, schema))
  }
}

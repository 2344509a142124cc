package graft.plan

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryComparison, Expression, LeafExpression, Literal, NamedExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodeGenerator, ExprCode, JavaCode}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.{FilterExec, ProjectExec, SparkPlan, SparkStrategy}
import org.apache.spark.sql.execution.datasources.FileSourceStrategy
import org.apache.spark.sql.types._

/** Plans a file scan so that its filter and projection generate the same
  * Java source for every value of a comparison literal.
  *
  * Whole-stage codegen writes a numeric, date or timestamp literal into
  * the source (`o_orderkey = 4711L`), and Spark caches generated classes
  * by source text: a served template that comes back with a new key
  * (`WHERE o_orderkey = ?`, `BETWEEN ? AND ?`, `l_shipdate <= DATE ?`)
  * would compile its stage again, once on the driver and once in the
  * task, ~20-40 ms a class.
  *
  * The scan is planned by Spark's own `FileSourceStrategy`, so partition
  * pruning, `GraftFileIndex`'s stats pruning and parquet pushdown see
  * the real literals. Only in the `FilterExec`s and `ProjectExec`s it
  * returns above the scan is each non-null numeric, date or timestamp
  * operand of `=`, `<=>`, `<`, `<=`, `>` or `>=` (BETWEEN's two halves
  * included) replaced by a [[BoundValue]], whose generated code reads
  * the value from the stage's reference array.
  *
  * Installed by `Sessions.tune` in `spark.experimental.extraStrategies`,
  * which run before Spark's own; a plan that is no file scan is left to
  * them.
  */
object BindLiterals extends SparkStrategy {

  override def apply(plan: LogicalPlan): Seq[SparkPlan] =
    FileSourceStrategy(plan).map(_.transformUp {
      case f: FilterExec => f.copy(condition = bind(f.condition))
      case p: ProjectExec => p.copy(projectList = p.projectList.map(bind(_).asInstanceOf[NamedExpression]))
    })

  private val types: Set[DataType] = Set(ByteType, ShortType, IntegerType, LongType,
    FloatType, DoubleType, DateType, TimestampType, TimestampNTZType)

  private def bind(e: Expression): Expression = e.transform {
    case c: BinaryComparison if c.children.exists(bindable) =>
      c.withNewChildren(c.children.map {
        case l: Literal if bindable(l) => BoundValue(l)
        case o => o
      })
  }

  private def bindable(e: Expression): Boolean = e match {
    case Literal(v, t) => v != null && types(t)
    case _ => false
  }
}

/** The value of `literal`, read by generated code from the stage's
  * reference array (as Spark reads string and decimal literals), so the
  * source text does not depend on it. Renders as the literal in EXPLAIN.
  *
  * Deliberately not a `Literal` subclass: `Literal.equals` ignores the
  * class, so a tree transform would take the replacement for the node it
  * replaces and keep the original. Pruning and pushdown never see it:
  * they read the scan's own filters, which keep the literals. */
case class BoundValue(literal: Literal) extends LeafExpression {
  override def dataType: DataType = literal.dataType
  override def nullable: Boolean = false
  override def eval(input: InternalRow): Any = literal.value
  override def toString: String = literal.toString
  override def sql: String = literal.sql

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val javaType = CodeGenerator.javaType(dataType)
    val ref = ctx.addReferenceObj("bound", literal.value, CodeGenerator.boxedType(dataType))
    val v = ctx.addMutableState(javaType, "bound", v => s"$v = $ref.${javaType}Value();", forceInline = true)
    ExprCode.forNonNullValue(JavaCode.global(v, dataType))
  }
}

package graft.plan

import org.apache.spark.sql.catalyst.expressions.{Alias, And, Attribute, AttributeSet, Expression, Literal, NamedExpression, PredicateHelper}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import graft.functions.TotalKernel

/** Evaluates each graft kernel of a filter once per row.
  *
  * `PushDownPredicates` moves a filter below the projections that named
  * a kernel's result, inlining their aliases: p1's `pred_lang <> 'und'`
  * reaches the `documents` scan as a condition that spells
  * `marker_counts(text, …)` 48 times, and the projection above computes
  * it once more. Spark's subexpression elimination shares only what
  * every CASE branch evaluates, so each spelling runs — and a
  * `CodegenFallback` kernel also keeps the filter out of whole-stage
  * codegen.
  *
  * For a filter that calls a [[TotalKernel]] more than once, or one the
  * projection directly above also computes, this rewrites
  * {{{
  *   Project(list, Filter(cheap AND f(k(x)), child))
  * }}}
  * into
  * {{{
  *   Project(list[k := _k], Filter(f(_k), Project(child.output :+ k AS _k, Filter(cheap, child))))
  * }}}
  * Conjuncts that call no hoisted kernel stay next to the scan, so
  * parquet pushdown still gets them. A kernel is hoisted only when its
  * whole subtree is kernels, attributes and literals: it then runs on
  * rows a CASE branch skipped, which only a total expression survives.
  *
  * Installed in `spark.experimental.extraOptimizations`, whose batch runs
  * after Spark's last `PushDownPredicates` batch (which would inline the
  * projection back into the filter); the output is a fixed point.
  */
object HoistKernels extends Rule[LogicalPlan] with PredicateHelper {

  override def apply(plan: LogicalPlan): LogicalPlan = plan transformDown {
    case p @ Project(list, f: Filter) =>
      hoist(f, list, p.references).fold(p: LogicalPlan) { case (filter, rewrite) =>
        Project(list.map(rewrite(_).asInstanceOf[NamedExpression]), filter)
      }
    case f: Filter =>
      hoist(f, Nil, f.outputSet).fold(f: LogicalPlan) { case (filter, _) => Project(f.output, filter) }
  }

  /** The rewritten filter and the substitution of hoisted kernels by
    * their columns, when `f` has a kernel to hoist. `above` are the
    * expressions the parent computes and `needed` the columns it reads:
    * only those pass the new projection (column pruning has run already,
    * and a column passed through here would be read from the scan). */
  private def hoist(f: Filter, above: Seq[Expression], needed: AttributeSet)
      : Option[(LogicalPlan, Expression => Expression)] = {
    if (!f.condition.deterministic) return None
    val inCond = kernels(f.condition)
    val inAbove = above.flatMap(kernels).map(_.canonicalized).toSet
    val calls = inCond.groupMapReduce(_.canonicalized)(_ => 1)(_ + _)
    val hoisted = inCond.distinctBy(_.canonicalized)
      .filter(k => calls(k.canonicalized) > 1 || inAbove(k.canonicalized))
      .map(k => k.canonicalized -> Alias(k, "_kernel")())
    if (hoisted.isEmpty) return None
    val column = hoisted.toMap
    val rewrite: Expression => Expression = _.transformDown {
      case e if column.contains(e.canonicalized) => column(e.canonicalized).toAttribute
    }
    val (upper, cheap) = splitConjunctivePredicates(f.condition)
      .partition(c => kernels(c).exists(k => column.contains(k.canonicalized)))
    val scan = if (cheap.isEmpty) f.child else Filter(cheap.reduce(And), f.child)
    val condition = rewrite(upper.reduce(And))
    val kept = f.child.output.filter((needed ++ condition.references).contains)
    Some((Filter(condition, Project(kept ++ hoisted.map(_._2), scan)), rewrite))
  }

  /** Outermost hoistable kernel calls in `e`, in evaluation order. */
  private def kernels(e: Expression): Seq[Expression] = e match {
    case _: TotalKernel if safe(e) => Seq(e)
    case _ => e.children.flatMap(kernels)
  }

  /** A kernel over kernels, attributes and literals only. */
  private def safe(e: Expression): Boolean = e match {
    case _: Attribute | _: Literal => true
    case _: TotalKernel => e.children.forall(safe)
    case _ => false
  }
}

package graft.plan

import org.apache.spark.sql.catalyst.plans.logical.{Filter, GlobalLimit, LogicalPlan, Project, Sort}
import org.apache.spark.sql.catalyst.plans.physical.SinglePartition
import org.apache.spark.sql.execution.{SortExec, SparkPlan, SparkStrategy}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec

/** Plans a global sort of a small input as one task: a `SortExec` over a
  * single-partition exchange. Spark's stock plan range-partitions the
  * sort's input, and its `RangePartitioner` first runs a sampling job
  * that re-executes the whole input stage (tx1's language-ID scan, em1's
  * join plus cosine stage) — one more job and a second pass over the
  * rows, to split a few MB across tasks. With one partition there are
  * no bounds to sample.
  *
  * "Small" is [[graft.ops.ScalePath.small]]: at or under
  * `ScalePath.SmallBytes`, with `graft.forceScalePaths=true` restoring
  * range partitioning. Left to Spark's own strategies:
  *  - a sort under a LIMIT (the Limit node plans first, as
  *    `TakeOrderedAndProject`);
  *  - a sort whose input already runs in one partition (a LIMIT, a
  *    global aggregate), where Spark adds no exchange at all;
  *  - `repartitionByRange`, which is no sort.
  */
object SmallSort extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case Sort(order, true, child, _) if !onePartition(child) && graft.ops.ScalePath.small(child) =>
      SortExec(order, global = true, ShuffleExchangeExec(SinglePartition, planLater(child))) :: Nil
    case _ => Nil
  }

  private def onePartition(p: LogicalPlan): Boolean = p match {
    case Project(_, c) => onePartition(c)
    case Filter(_, c) => onePartition(c)
    case _: GlobalLimit => true
    case _ => p.maxRows.exists(_ <= 1) // e.g. a global aggregate
  }
}

package graft.ops

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.internal.SQLConf

/** The driver-or-cluster policy of every size-gated operator. An input
  * small enough for the driver runs a local recurrence: one collect
  * replaces per-iteration scheduled jobs. A larger one runs the
  * distributed spelling, the one 100 TB would use. The two spellings are
  * bit-equal (OpsSpec pins each pair), so the policy moves cost, never
  * results.
  *
  * The same gate decides how a global sort is planned ([[graft.plan.SmallSort]],
  * installed by `Sessions.tune`): a sort whose input is [[small]] runs in
  * one task, with no range-bounds sampling job; a larger one keeps
  * Spark's range partitioning.
  *
  * The session conf `graft.forceScalePaths=true` (e.g. through
  * `SPARK_GRAFT_CONF`) sends every gate down its distributed spelling
  * whatever the input size: how tests, ProbeScale and the Verify scale
  * leg reach paths that bench-scale data never takes.
  */
object ScalePath {

  val Conf = "graft.forceScalePaths"

  /** Rows a driver-side recurrence takes (edge lists, pair graphs). */
  val DriverRows: Long = 1000000L

  /** Input size up to which one task sorts in memory. Measured
    * crossover at sf1 (estimate 48 MB): the distributed rank already
    * matches the 3-task textbook sort warm and halves it under cold-cache
    * bench conditions; sf0.1-class inputs (~4 MB) stay on the
    * driver-sized plan. */
  val SmallBytes: Long = 16L << 20

  /** Whether the active session forces the distributed spellings. */
  private def forced: Boolean = SQLConf.get.getConfString(Conf, "false").toBoolean

  /** The size measure of every byte gate: the smaller of Catalyst's
    * estimate and the bytes `plan`'s leaf relations scan. Without
    * cost-based optimization Catalyst sizes an inner join as the product
    * of its inputs (p1's sort input reads 5.1 PB over 1.8 MB of parquet at sf0.1),
    * while the leaf bytes undercount a plan that multiplies rows; neither
    * alone serves. Costs no job. */
  def sizeOf(plan: LogicalPlan): BigInt =
    plan.stats.sizeInBytes.min(plan.collectLeaves().map(_.stats.sizeInBytes).sum)

  /** Whether `plan` is at or under [[SmallBytes]] and no scale path is forced. */
  def small(plan: LogicalPlan): Boolean = !forced && sizeOf(plan) <= SmallBytes

  /** `df`'s rows when it has at most `rows` of them, else None. The count
    * always runs: it also materializes a lazy checkpoint under `df`,
    * which the distributed loop then reuses. */
  def collectIfSmall(df: DataFrame, rows: Long = DriverRows): Option[Array[Row]] =
    if (df.count() <= rows && !forcedOn(df)) Some(df.collect()) else None

  /** [[small]] for `df`'s optimized plan, read on `df`'s session. */
  def smallEstimate(df: DataFrame): Boolean =
    !forcedOn(df) && sizeOf(df.queryExecution.optimizedPlan) <= SmallBytes

  private def forcedOn(df: DataFrame): Boolean =
    df.sparkSession.conf.get(Conf, "false").toBoolean
}

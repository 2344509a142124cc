package graft.ops

import org.apache.spark.sql.{DataFrame, Row}

/** The driver-or-cluster policy of every size-gated operator. An input
  * small enough for the driver runs a local recurrence: one collect
  * replaces per-iteration scheduled jobs. A larger one runs the
  * distributed spelling, the one 100 TB would use. The two spellings are
  * bit-equal (OpsSpec pins each pair), so the policy moves cost, never
  * results.
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

  /** Catalyst size estimate up to which one task per key sorts in
    * memory. Measured crossover at sf1 (estimate 48 MB): the distributed
    * rank already matches the 3-task textbook sort warm and halves it
    * under cold-cache bench conditions; sf0.1-class inputs (estimate
    * ~4 MB) stay on the driver-sized plan. */
  val SmallBytes: Long = 16L << 20

  private def forced(df: DataFrame): Boolean =
    df.sparkSession.conf.get(Conf, "false").toBoolean

  /** `df`'s rows when it has at most `rows` of them, else None. The count
    * always runs: it also materializes a lazy checkpoint under `df`,
    * which the distributed loop then reuses. */
  def collectIfSmall(df: DataFrame, rows: Long = DriverRows): Option[Array[Row]] =
    if (df.count() <= rows && !forced(df)) Some(df.collect()) else None

  /** Whether Catalyst estimates `df` at or under `SmallBytes`. The
    * estimate costs no job. */
  def smallEstimate(df: DataFrame): Boolean =
    !forced(df) && df.queryExecution.optimizedPlan.stats.sizeInBytes <= SmallBytes
}

package graft.tools

import org.apache.spark.sql.execution.ExplainMode

/** Print the formatted physical plan of a suite query on the bench's
  * session — the audit loop behind the PlanSpec gates (pushed filters,
  * ReadSchema pruning, broadcast sides, exchange reuse, codegen spans).
  *
  *   scripts/run.sh graft.tools.Explain <sfDir> <query>
  *
  * Session overrides go through SPARK_GRAFT_CONF (e.g.
  * `SPARK_GRAFT_CONF=graft.forceScalePaths=true` to audit the
  * distributed paths of the size-gated operators).
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, name) = args.take(2)
    val spark = graft.Sessions.build(graft.Sessions.Batch, Some(sfDir))
    val df = graft.SparkEntry.queries(name)(spark, sfDir)
    println(df.queryExecution.explainString(ExplainMode.fromString("formatted")))
    spark.stop()
  }
}

package graft.tools
object SmokeEntry {
  def main(args: Array[String]): Unit = {
    val spark = graft.Sessions.build(graft.Sessions.Batch)
    println("entry rows: " + graft.SparkEntry.entry(spark).count())
    spark.stop()
  }
}

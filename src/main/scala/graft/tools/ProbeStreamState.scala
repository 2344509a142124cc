package graft.tools

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

/** Streaming state-size probe: the transformWithState processors document
  * per-key state BOUNDS (one long per live LSH bucket, ≤ windowN−1 longs
  * per user for the rolling ring, one (micros, type) pair per user for
  * the transition matrix). This measures the ACTUAL state store at 1×
  * and N× stream volume — the claim under test is that state rows grow
  * with LIVE KEYS (users/buckets), never with event count, and that
  * bytes-per-row stays constant. Numbers land in BASELINE.md the way
  * ProbeScale backs the batch bounds.
  *
  *   scripts/run.sh graft.tools.ProbeStreamState [mult]
  */
object ProbeStreamState {
  def main(args: Array[String]): Unit = {
    val mult = args.headOption.map(_.toInt).getOrElse(10)
    val spark = graft.Sessions.build(graft.Sessions.Batch)
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    import graft.streaming.StreamingOps

    def report(label: String, q: StreamingQuery): Unit = {
      q.processAllAvailable()
      val ops = Option(q.lastProgress).map(_.stateOperators.toSeq).getOrElse(Nil)
      ops.zipWithIndex.foreach { case (so, i) =>
        println(f"$label op$i: stateRows=${so.numRowsTotal} " +
          f"memoryUsedBytes=${so.memoryUsedBytes} updated=${so.numRowsUpdated}")
      }
      q.stop()
    }

    for (m <- Seq(1, mult)) {
      val users = 2000L * m
      val perUser = 20 // FIXED events per user: events scale with users only
      val dir = Files.createTempDirectory(s"probe-stream-x$m").toString

      // --- events feed: (user_id, event_id, type, value, ts) ------------
      val evSchema = StructType(Seq(
        StructField("user_id", LongType), StructField("event_id", LongType),
        StructField("event_type", StringType), StructField("value", DoubleType),
        StructField("ts", TimestampType)))
      spark.range(users * perUser)
        .select((col("id") % users).as("user_id"), col("id").as("event_id"),
          element_at(array(lit("view"), lit("cart"), lit("purchase")),
            (col("id") % 3 + 1).cast("int")).as("event_type"),
          (col("id") % 97).cast("double").as("value"),
          to_timestamp(lit("2024-01-01 00:00:00"))
            .plus(expr("make_interval(0, 0, 0, 0, 0, 0, id div 1000)")).as("ts"))
        .coalesce(4).write.parquet(s"$dir/ev/b1")
      val ev = StreamingOps.parquetStream(spark, evSchema, s"$dir/ev/b*")

      println(s"== x$m: users=$users events=${users * perUser}")

      // rolling z-score ring: ≤ windowN−1 longs + ordering key per user
      report(s"anomaly(ring windowN=24) x$m",
        StreamingOps.anomalyStream(ev, "user_id", "value", "ts", "event_id",
            "10 minutes")
          .writeStream.outputMode("append").format("noop").start())

      // transition matrix: one (micros, type) ValueState per user
      report(s"transition(last-event) x$m",
        StreamingOps.transitionMatrixStream(ev, "user_id", "event_type", "ts",
            "event_id", "10 minutes")
          .writeStream.outputMode("append").format("noop").start())

      // --- docs feed: near-dup buckets, one long owner per live bucket --
      val docs = 2000L * m
      val docSchema = StructType(Seq(
        StructField("doc_id", LongType), StructField("text", StringType),
        StructField("ts", TimestampType)))
      spark.range(docs)
        .select(col("id").as("doc_id"),
          // distinct md5-derived word soup: realistic signature spread
          concat_ws(" ", (0 until 12).map(i =>
            md5(concat(col("id").cast("string"), lit(s"w$i")))): _*).as("text"),
          to_timestamp(lit("2024-01-01 00:00:00"))
            .plus(expr("make_interval(0, 0, 0, 0, 0, 0, id div 1000)")).as("ts"))
        .coalesce(4).write.parquet(s"$dir/docs/b1")
      report(s"neardup(bucket-owner bands=8) x$m",
        StreamingOps.nearDupDedupStream(
            StreamingOps.parquetStream(spark, docSchema, s"$dir/docs/b*"),
            "doc_id", "text", "ts", "10 minutes")
          .writeStream.outputMode("append").format("noop").start())
    }
    spark.stop()
  }
}

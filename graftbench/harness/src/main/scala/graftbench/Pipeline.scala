package graftbench

import java.io.File

import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.MapType

/** `pipeline`: the operator suite in-process, each query into the `noop`
  * sink, on the session `graft.Bench` builds. No server, SQL layer,
  * catalog or lake is involved, so serving-side changes must not move it.
  *
  * A run takes the first operator of every query family (the family's
  * flagship), one round being all nine in a fixed order. The whole suite
  * takes over two minutes on four cores, far longer than one run may;
  * the flagships keep every family in every round at a fixed cost. */
object Pipeline {
  val Flagships: Seq[String] = Seq("q01", "dd1", "sim1", "tx1", "ev1", "gr1", "em1", "mm1", "p1")
  /** Untimed rounds: the first pays codegen, footer reads and class
    * loading; the next four take the JIT's warm-up, after which round
    * times level off (with only two, the timed rounds were still ~15 %
    * slower than later ones, on 4 cores). */
  val WarmupRounds = 5

  /** Rows and an order-insensitive content hash of a query's output. */
  final case class Fingerprint(rows: Long, hash: Long)

  def run(args: Args): Result = {
    val cpus = Runtime.getRuntime.availableProcessors
    // graft.Bench's session: data-derived shuffle width, AQE off
    val inputBytes = Main.dirBytes(new File(args.sfDir))
    val width = math.min(math.max(1, cpus / 2).toLong,
      math.max(4L, (inputBytes + (8L << 20) - 1) / (8L << 20))).toInt
    val spark = Main.baseBuilder(args, cpus)
      .config("spark.sql.shuffle.partitions", width)
      .config("spark.sql.autoBroadcastJoinThreshold", (64L << 20).toString)
      .config("spark.sql.adaptive.enabled", "false")
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", (8L << 20).toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.Sessions.tune(spark)
    Main.log("spark started")
    val trace = if (args.trace) Some(new Trace) else None
    trace.foreach(Trace.install(spark, _))
    val rec = new Recorder(spark, trace, None)

    val byPrefix = graft.SparkEntry.queries.map { case (name, fn) => name.takeWhile(_ != '_') -> (name, fn) }
    val queries = Flagships.map(p => byPrefix.getOrElse(p, throw new IllegalStateException(s"no query $p")))
    val reference: Map[String, Fingerprint] =
      if (args.recordReference.isDefined) Map.empty else readReference(ReferenceFile)
    val seen = scala.collection.mutable.LinkedHashMap[String, Fingerprint]()

    graft.Tables.register(spark, args.sfDir)

    // The order is fixed: the inputs are the fixed sf0.1 tables, and a
    // seeded order would let the seed move the cost (one query warms
    // caches and code paths for the next).
    def round(r: Int): Unit =
      queries.zipWithIndex.foreach { case ((name, fn), i) =>
        val obs = Observation(s"fp-$r-$i")
        rec.op(r * queries.size + i, name, "read", "local") {
          def build() = fingerprinted(fn(spark, args.sfDir), obs)
          val df = trace.map(_.timed("ops.build")(build())).getOrElse(build())
          df.write.format("noop").mode("overwrite").save()
          Outcome(0L, notModified = false, () => {
            val m = obs.get
            val got = Fingerprint(m("rows").asInstanceOf[Long], m("hash").asInstanceOf[Long])
            val want = reference.getOrElse(name, seen.getOrElseUpdate(name, got))
            if (got == want) null else s"fingerprint $got, expected $want"
          })
        }
      }

    Main.log("tables registered")
    (0 until WarmupRounds).foreach(round)
    Main.log("warm-up done")
    val setupS = Main.sinceJvmStart()
    val cpu0 = Host.cpuTimes()
    rec.window(args.seconds, WarmupRounds)(round)
    val steal = Host.stealPct(cpu0, Host.cpuTimes())
    args.recordReference.foreach(f => writeReference(new File(f), seen.toMap))
    val heap = Main.heapLiveMb()
    spark.stop()
    val metrics =
      if (args.trace) Main.perLayer(rec, None, steal, 0.0, (0.0, 0.0))
      else Main.endToEnd(rec, setupS, heap)
    Result(rec.ops.size, rec.failures.toSeq, metrics, steal)
  }

  /** Observe row count and the sum of per-row 64-bit hashes (shifted so
    * the sum cannot overflow) while the query runs into its sink. */
  private def fingerprinted(df: DataFrame, obs: Observation): DataFrame = {
    val cols: Seq[Column] = df.schema.fields.toSeq.map { f =>
      val c = col("`" + f.name.replace("`", "``") + "`")
      f.dataType match {
        case _: MapType => to_json(c) // maps are not hashable
        case _ => c
      }
    }
    df.observe(obs, count(lit(1)).as("rows"),
      coalesce(sum(shiftrightunsigned(xxhash64(cols: _*), 24)), lit(0L)).as("hash"))
  }

  /** Fingerprints recorded with `--record-reference` (path relative to
    * the repository root, where the harness runs). */
  val ReferenceFile = new File("graftbench/reference/pipeline.json")

  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  def readReference(f: File): Map[String, Fingerprint] = {
    import scala.jdk.CollectionConverters._
    mapper.readTree(f).properties().asScala.map { e =>
      e.getKey -> Fingerprint(e.getValue.get("rows").asLong, e.getValue.get("hash").asLong)
    }.toMap
  }

  private def writeReference(f: File, fps: Map[String, Fingerprint]): Unit = {
    val root = mapper.createObjectNode()
    fps.toSeq.sortBy(_._1).foreach { case (name, fp) =>
      val o = root.putObject(name); o.put("rows", fp.rows); o.put("hash", fp.hash)
    }
    mapper.writerWithDefaultPrettyPrinter().writeValue(f, root)
  }
}

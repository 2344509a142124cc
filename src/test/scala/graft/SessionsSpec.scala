package graft

import org.scalatest.funsuite.AnyFunSuite

/** The session factory's profiles are plain maps: pin them, and pin that
  * no entry point builds a session any other way. */
class SessionsSpec extends AnyFunSuite {

  test("batch profile: Bench's session for 8 cpus over a 17.5 MB input") {
    // written out literally: the values graft.Bench configured before the
    // factory existed (width = min(8 / 2, max(4, ceil(17.5 MB / 8 MiB))) = 4)
    assert(Sessions.conf(Sessions.Batch, cpus = 8, inputBytes = 18350080L) === Map(
      "spark.master" -> "local[8]",
      "spark.sql.shuffle.partitions" -> "4",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.sql.legacy.parquet.nanosAsLong" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "67108864",
      "spark.sql.adaptive.enabled" -> "false",
      "spark.sql.adaptive.coalescePartitions.parallelismFirst" -> "false",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "8388608",
      "spark.sql.codegen.cache.maxEntries" -> "4096",
      "spark.ui.enabled" -> "false"))
  }

  test("batch width: byte term at sf1 scale, cpus/2 cap, floor of 4") {
    assert(Sessions.batchWidth(cpus = 32, inputBytes = 128L << 20) === 16)
    assert(Sessions.batchWidth(cpus = 8, inputBytes = 128L << 20) === 4)
    assert(Sessions.batchWidth(cpus = 4, inputBytes = 0L) === 2)
    assert(Sessions.batchWidth(cpus = 1, inputBytes = 0L) === 1)
  }

  test("serve profile: ServerMain's session") {
    assert(Sessions.conf(Sessions.Serve, cpus = 6) === Map(
      "spark.master" -> "local[6]",
      "spark.sql.shuffle.partitions" -> "6",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.sql.legacy.parquet.nanosAsLong" -> "true",
      "spark.sql.codegen.cache.maxEntries" -> "4096",
      "spark.scheduler.mode" -> "FAIR",
      "spark.ui.enabled" -> "false"))
  }

  test("SPARK_GRAFT_CONF syntax: k=v pairs split on ';', values may hold '='") {
    assert(Sessions.overrides(" graft.forceScalePaths=true ; a.b=x=y;;junk ") ===
      Map("graft.forceScalePaths" -> "true", "a.b" -> "x=y"))
  }

  test("SparkSession.builder occurs in src/main only inside Sessions.scala") {
    val root = new java.io.File("src/main")
    assert(root.isDirectory, s"run from the project root (cwd ${new java.io.File(".").getAbsolutePath})")
    def files(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(files) else Seq(f)
    val sources = files(root).filter(_.getName.endsWith(".scala"))
    assert(sources.size > 50)
    val hits = sources.filter { f =>
      val text = new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
      "SparkSession\\s*\\.\\s*builder".r.findFirstIn(text).isDefined
    }.map(_.getName)
    assert(hits === Seq("Sessions.scala"))
  }
}

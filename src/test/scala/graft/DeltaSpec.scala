package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

import graft.sql.GraftContext

/** Read-only external Delta Lake scan (`graft.sources.DeltaScan`)
  * against log fixtures generated in-test: parquet data files + JSON
  * commit actions (+ a parquet checkpoint), the layout the reference's
  * delta-rs storage layer writes (`src/catalog/metastore.rs:176-207`).
  */
class DeltaSpec extends SparkSpec {

  private lazy val ctx = new GraftContext(spark, tmpDir("graft-delta-ctx"))

  private def writeLines(path: String, lines: Seq[String]): Unit = {
    Files.createDirectories(Paths.get(path).getParent)
    Files.write(Paths.get(path), lines.mkString("\n").getBytes(StandardCharsets.UTF_8))
  }

  private val schemaJson = StructType(Seq(
    StructField("id", LongType), StructField("name", StringType))).json
  private def metaAction(schema: String = schemaJson, partCols: String = "[]") =
    s"""{"metaData":{"id":"m1","format":{"provider":"parquet","options":{}},""" +
      s""""schemaString":${graft.lake.Manifest.jstr(schema)},"partitionColumns":$partCols}}"""
  private val protocolV1 = """{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}"""

  /** One-file parquet write returning the file's name within `dir`. */
  private def writeParquet(dir: String, rows: Seq[Row], schema: StructType): String = {
    val stage = tmpDir("graft-delta-stage")
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
      .coalesce(1).write.mode("overwrite").parquet(stage)
    val f = new java.io.File(stage).listFiles().filter(_.getName.endsWith(".parquet")).head
    Files.createDirectories(Paths.get(dir))
    val name = f.getName
    Files.copy(f.toPath, Paths.get(dir, name))
    name
  }

  test("uncompacted log: adds, removes, later actions win") {
    val root = tmpDir("graft-delta-t1")
    val s = StructType(Seq(StructField("id", LongType), StructField("name", StringType)))
    val f1 = writeParquet(root, Seq(Row(1L, "a"), Row(2L, "b")), s)
    val f2 = writeParquet(root, Seq(Row(3L, "c")), s)
    val f3raw = writeParquet(root, Seq(Row(4L, "d")), s)
    // the spec defines add.path as URL-encoded: give f3 a space in its
    // name and reference it percent-encoded
    val f3 = "part with space.parquet"
    Files.move(Paths.get(root, f3raw), Paths.get(root, f3))
    val f3enc = "part%20with%20space.parquet"
    writeLines(s"$root/_delta_log/00000000000000000000.json", Seq(
      protocolV1, metaAction(),
      s"""{"add":{"path":"$f1","partitionValues":{},"size":1,"modificationTime":1,"dataChange":true}}""",
      s"""{"add":{"path":"$f2","partitionValues":{},"size":1,"modificationTime":1,"dataChange":true}}"""))
    writeLines(s"$root/_delta_log/00000000000000000001.json", Seq(
      s"""{"remove":{"path":"$f2","deletionTimestamp":2,"dataChange":true}}""",
      s"""{"add":{"path":"$f3enc","partitionValues":{},"size":1,"modificationTime":2,"dataChange":true}}"""))
    val out = graft.sources.DeltaScan.read(spark, root)
      .orderBy("id").collect().map(r => (r.getLong(0), r.getString(1)))
    assert(out.toSeq === Seq((1L, "a"), (2L, "b"), (4L, "d"))) // f2 removed
  }

  test("partitioned table: partition columns re-attached as typed values") {
    val root = tmpDir("graft-delta-t2")
    val dataS = StructType(Seq(StructField("id", LongType)))
    val fullS = StructType(Seq(
      StructField("id", LongType), StructField("part", IntegerType)))
    val f1 = writeParquet(root, Seq(Row(1L), Row(2L)), dataS)
    val f2 = writeParquet(root, Seq(Row(3L)), dataS)
    val f3 = writeParquet(root, Seq(Row(4L)), dataS)
    writeLines(s"$root/_delta_log/00000000000000000000.json", Seq(
      protocolV1, metaAction(fullS.json, """["part"]"""),
      s"""{"add":{"path":"$f1","partitionValues":{"part":"10"},"size":1,"modificationTime":1,"dataChange":true}}""",
      s"""{"add":{"path":"$f2","partitionValues":{"part":"20"},"size":1,"modificationTime":1,"dataChange":true}}""",
      s"""{"add":{"path":"$f3","partitionValues":{"part":"__HIVE_DEFAULT_PARTITION__"},"size":1,"modificationTime":1,"dataChange":true}}"""))
    val out = graft.sources.DeltaScan.read(spark, root)
    assert(out.schema.fieldNames.toSeq === Seq("id", "part"))
    val got = out.collect().map(r =>
      (r.getLong(0), if (r.isNullAt(1)) null else r.getInt(1))).sortBy(_._1)
    assert(got.toSeq === Seq((1L, 10), (2L, 10), (3L, 20), (4L, null)))
  }

  test("checkpointed log: checkpoint state + later commits compose") {
    val root = tmpDir("graft-delta-t3")
    val s = StructType(Seq(StructField("id", LongType), StructField("name", StringType)))
    val f1 = writeParquet(root, Seq(Row(1L, "a")), s)
    val f2 = writeParquet(root, Seq(Row(2L, "b")), s)
    val f3 = writeParquet(root, Seq(Row(3L, "c")), s)
    // the REALISTIC compacted layout: metaData lives ONLY in the
    // checkpoint (writers re-emit it on schema change, not per commit);
    // the checkpoint also carries adds (f1 live, f2 added-then-removed)
    val addT = StructType(Seq(
      StructField("path", StringType),
      StructField("partitionValues", MapType(StringType, StringType))))
    val rmT = StructType(Seq(StructField("path", StringType)))
    val protoT = StructType(Seq(StructField("minReaderVersion", IntegerType)))
    val metaT = StructType(Seq(
      StructField("schemaString", StringType),
      StructField("partitionColumns", ArrayType(StringType))))
    val cpS = StructType(Seq(
      StructField("add", addT), StructField("remove", rmT),
      StructField("protocol", protoT), StructField("metaData", metaT)))
    val cpRows = Seq(
      Row(Row(f1, Map.empty[String, String]), null, null, null),
      Row(Row(f2, Map.empty[String, String]), null, null, null),
      Row(null, Row(f2), null, null),
      Row(null, null, Row(1), null),
      Row(null, null, null, Row(schemaJson, Seq.empty[String])))
    val cpStage = tmpDir("graft-delta-cp")
    spark.createDataFrame(spark.sparkContext.parallelize(cpRows, 1), cpS)
      .coalesce(1).write.mode("overwrite").parquet(cpStage)
    val cpFile = new java.io.File(cpStage).listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    Files.createDirectories(Paths.get(s"$root/_delta_log"))
    Files.copy(cpFile.toPath,
      Paths.get(s"$root/_delta_log/00000000000000000004.checkpoint.parquet"))
    writeLines(s"$root/_delta_log/_last_checkpoint", Seq("""{"version":4,"size":5}"""))
    // post-checkpoint commit carries ONLY the add — schema must come
    // from the checkpoint's metaData
    writeLines(s"$root/_delta_log/00000000000000000005.json", Seq(
      s"""{"add":{"path":"$f3","partitionValues":{},"size":1,"modificationTime":5,"dataChange":true}}"""))
    // a PRE-checkpoint commit that must be ignored (its f1-remove would
    // otherwise corrupt the state)
    writeLines(s"$root/_delta_log/00000000000000000002.json", Seq(
      s"""{"remove":{"path":"$f1","deletionTimestamp":1,"dataChange":true}}"""))
    val out = graft.sources.DeltaScan.read(spark, root)
      .orderBy("id").collect().map(r => (r.getLong(0), r.getString(1)))
    assert(out.toSeq === Seq((1L, "a"), (3L, "c")))
  }

  test("http(s) delta tables read via Range requests and version probing") {
    // build a small 2-commit table on disk, then serve the directory
    // over HTTP (no LIST — the reader must probe versions sequentially)
    val root = tmpDir("graft-delta-http")
    val s = StructType(Seq(StructField("id", LongType), StructField("name", StringType)))
    val f1 = writeParquet(root, Seq(Row(1L, "a")), s)
    val f2 = writeParquet(root, Seq(Row(2L, "b")), s)
    writeLines(s"$root/_delta_log/00000000000000000000.json", Seq(
      protocolV1, metaAction(),
      s"""{"add":{"path":"$f1","partitionValues":{},"size":1,"modificationTime":1,"dataChange":true}}"""))
    writeLines(s"$root/_delta_log/00000000000000000001.json", Seq(
      s"""{"add":{"path":"$f2","partitionValues":{},"size":1,"modificationTime":2,"dataChange":true}}"""))
    val server = graft.server.HttpFrontend.createServer(
      new java.net.InetSocketAddress("127.0.0.1", 0))
    server.createContext("/", (ex: com.sun.net.httpserver.HttpExchange) => {
      val p = Paths.get(root, ex.getRequestURI.getPath.stripPrefix("/"))
      if (!Files.exists(p) || Files.isDirectory(p)) {
        ex.sendResponseHeaders(404, -1); ex.close()
      } else {
        val bytes = Files.readAllBytes(p)
        if (ex.getRequestMethod == "HEAD") {
          ex.getResponseHeaders.set("Content-Length", bytes.length.toString)
          ex.sendResponseHeaders(200, -1)
        } else Option(ex.getRequestHeaders.getFirst("Range")) match {
          case Some(r) if r.startsWith("bytes=") =>
            val Array(a, b) = r.stripPrefix("bytes=").split('-')
            val from = a.toLong.toInt
            val to = math.min(b.toLong, bytes.length - 1L).toInt
            val body = java.util.Arrays.copyOfRange(bytes, from, to + 1)
            ex.getResponseHeaders.set("Content-Range", s"bytes $from-$to/${bytes.length}")
            ex.sendResponseHeaders(206, body.length)
            ex.getResponseBody.write(body)
          case _ =>
            ex.sendResponseHeaders(200, bytes.length)
            ex.getResponseBody.write(bytes)
        }
        ex.close()
      }
    })
    server.start()
    try {
      val url = s"http://127.0.0.1:${server.getAddress.getPort}"
      ctx.execute(s"CREATE EXTERNAL TABLE ext_delta_http STORED AS DELTA LOCATION '$url'")
      val got = ctx.execute("SELECT id, name FROM staging.ext_delta_http ORDER BY id")
        .collect().map(r => (r.getLong(0), r.getString(1)))
      assert(got.toSeq === Seq((1L, "a"), (2L, "b")))
    } finally server.stop(0)
  }

  test("COPY TO delta exports a log any Delta reader opens (round-trip)") {
    ctx.execute("CREATE TABLE cp_src (id BIGINT, name TEXT)")
    ctx.execute("INSERT INTO cp_src VALUES (1, 'a'), (2, 'b'), (3, NULL)")
    val out = tmpDir("graft-delta-export")
    ctx.execute(s"COPY cp_src TO '$out' WITH (FORMAT delta)")
    // structural: protocol v1 + metaData + one add per parquet file
    val log = new String(Files.readAllBytes(
      Paths.get(out, "_delta_log", "00000000000000000000.json")), StandardCharsets.UTF_8)
    assert(log.contains("\"minReaderVersion\":1"))
    assert(log.contains("\"schemaString\""))
    val nFiles = new java.io.File(out).listFiles()
      .count(f => f.getName.endsWith(".parquet"))
    assert(log.split("\n").count(_.contains("\"add\"")) === nFiles)
    // round-trip through the delta READER (our interop scan of the spec
    // layout) — schema and values intact, including the NULL
    val back = graft.sources.DeltaScan.read(spark, out)
      .orderBy("id").collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) null else r.getString(1)))
    assert(back.toSeq === Seq((1L, "a"), (2L, "b"), (3L, null)))
  }

  test("unsupported reader features fail loudly; CREATE EXTERNAL TABLE wires in") {
    val root = tmpDir("graft-delta-t4")
    val s = StructType(Seq(StructField("id", LongType), StructField("name", StringType)))
    val f1 = writeParquet(root, Seq(Row(1L, "a")), s)
    writeLines(s"$root/_delta_log/00000000000000000000.json", Seq(
      """{"protocol":{"minReaderVersion":3,"minWriterVersion":7}}""", metaAction(),
      s"""{"add":{"path":"$f1","partitionValues":{},"size":1,"modificationTime":1,"dataChange":true}}"""))
    val e = intercept[IllegalArgumentException](graft.sources.DeltaScan.read(spark, root))
    assert(e.getMessage.contains("protocol"))

    val root2 = tmpDir("graft-delta-t5")
    val f2 = writeParquet(root2, Seq(Row(7L, "z")), s)
    writeLines(s"$root2/_delta_log/00000000000000000000.json", Seq(
      protocolV1, metaAction(),
      s"""{"add":{"path":"$f2","partitionValues":{},"size":1,"modificationTime":1,"dataChange":true}}"""))
    ctx.execute(s"CREATE EXTERNAL TABLE ext_delta STORED AS DELTA LOCATION '$root2'")
    val got = ctx.execute("SELECT id, name FROM staging.ext_delta").collect()
    assert(got.map(r => (r.getLong(0), r.getString(1))).toSeq === Seq((7L, "z")))
  }
}

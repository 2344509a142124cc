package graft

import java.net.InetSocketAddress
import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicLong

import com.sun.net.httpserver.{HttpExchange, HttpServer}

import graft.sources.HttpRangeFileSystem
import graft.sql.GraftContext

/** Range-request streaming for http(s) parquet external tables
  * (`HttpRangeFileSystem`): a SELECT over a remote parquet object must
  * fetch the footer plus only the projected column chunks — never the
  * whole object to local disk (reference `src/object_store/http.rs`
  * `get_range`, 1 MiB min fetch `src/object_store/cache.rs:35`).
  */
class HttpRangeSpec extends SparkSpec {

  /** Serve `bytes` honoring Range (or ignoring it when `honorRange` is
    * false, like a minimal static server). */
  private def serve(bytes: Array[Byte], honorRange: Boolean): HttpServer = {
    val server = graft.server.HttpFrontend.createServer(new InetSocketAddress("127.0.0.1", 0))
    server.createContext("/data.parquet", (ex: HttpExchange) => {
      val range = Option(ex.getRequestHeaders.getFirst("Range"))
      if (ex.getRequestMethod == "HEAD") {
        ex.getResponseHeaders.set("Content-Length", bytes.length.toString)
        ex.sendResponseHeaders(200, -1)
      } else range match {
        case Some(r) if honorRange && r.startsWith("bytes=") =>
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
    })
    server.start()
    server
  }

  /** One parquet file: narrow id column + fat payload column. */
  private lazy val parquetBytes: Array[Byte] = {
    import org.apache.spark.sql.functions._
    val dir = tmpDir("http-range-data")
    spark.range(0, 100000)
      .select(col("id"),
        sha2(concat(lit("pay"), col("id")), 512).as(s"payload"))
      .coalesce(1).write.parquet(s"$dir/t")
    val f = new java.io.File(s"$dir/t").listFiles()
      .find(f => f.getName.endsWith(".parquet")).get
    Files.readAllBytes(Paths.get(f.getPath))
  }

  private def withTable(honorRange: Boolean)(body: (GraftContext, AtomicLong) => Unit): Unit = {
    val server = serve(parquetBytes, honorRange)
    try {
      // small read-ahead window so selectivity is observable on a ~MB file
      spark.sparkContext.hadoopConfiguration.setInt("graft.http.chunk.bytes", 32 << 10)
      val c = new GraftContext(spark, tmpDir("graft-http-range"))
      c.execute(
        s"CREATE EXTERNAL TABLE wp STORED AS PARQUET LOCATION " +
          s"'http://127.0.0.1:${server.getAddress.getPort}/data.parquet'")
      body(c, HttpRangeFileSystem.bytesFetched)
    } finally server.stop(0)
  }

  test("projected column reads fetch a fraction of the object, not all of it") {
    withTable(honorRange = true) { (c, fetched) =>
      val before = fetched.get()
      val sum = c.execute("SELECT sum(id) AS s FROM staging.wp")
        .collect().head.getLong(0)
      assert(sum === (0L until 100000L).sum)
      val delta = fetched.get() - before
      assert(delta > 0, "no bytes fetched — read did not go through the range filesystem")
      assert(delta < parquetBytes.length / 2,
        s"expected selective column reads, but fetched $delta of ${parquetBytes.length} bytes")
    }
  }

  test("full-width reads stay correct through the range stream") {
    withTable(honorRange = true) { (c, _) =>
      val row = c.execute(
        "SELECT count(*) AS n, sum(length(payload)) AS lens, sum(id) AS s FROM staging.wp")
        .collect().head
      assert(row.getLong(0) === 100000L)
      assert(row.getLong(1) === 100000L * 128) // sha2-512 hex = 128 chars
      assert(row.getLong(2) === (0L until 100000L).sum)
    }
  }

  test("a server that ignores Range degrades to correct (if unselective) reads") {
    withTable(honorRange = false) { (c, _) =>
      val row = c.execute("SELECT count(*) AS n, max(id) AS m FROM staging.wp")
        .collect().head
      assert(row.getLong(0) === 100000L)
      assert(row.getLong(1) === 99999L)
    }
  }

  test("byte-range cache serves repeat reads without re-crossing the network") {
    withTable(honorRange = true) { (c, fetched) =>
      val q = "SELECT sum(id) AS s FROM staging.wp"
      val first = c.execute(q).collect().head.getLong(0)
      val afterFirst = fetched.get()
      val hitsBefore = HttpRangeFileSystem.cacheHits.get()
      assert(c.execute(q).collect().head.getLong(0) === first)
      assert(fetched.get() === afterFirst,
        "second execution re-fetched ranges the cache should have served")
      assert(HttpRangeFileSystem.cacheHits.get() > hitsBefore)
    }
  }

  test("missing objects fail the DDL loudly") {
    val server = serve(parquetBytes, honorRange = true)
    try {
      val c = new GraftContext(spark, tmpDir("graft-http-range"))
      val e = intercept[Exception](c.execute(
        s"CREATE EXTERNAL TABLE nope STORED AS PARQUET LOCATION " +
          s"'http://127.0.0.1:${server.getAddress.getPort}/absent.parquet'"))
      assert(e.getMessage != null)
    } finally server.stop(0)
  }
}

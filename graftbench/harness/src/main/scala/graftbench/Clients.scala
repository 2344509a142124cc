package graftbench

import java.io.{DataInputStream, DataOutputStream}
import java.net.{Socket, URI, URLEncoder}
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets.UTF_8

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper

/** A response as the client saw it: status, ETag, rows (column -> text;
  * SQL NULL as "null"), the bytes received and, on failure, the error. */
final case class Reply(status: Int, etag: Option[String], rows: Seq[Map[String, String]], bytes: Long,
                       message: String = "")

/** One HTTP/1.1 connection to the query endpoint, used by one thread. */
final class HttpQueryClient(port: Int) {
  private val client = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1).build()
  private val mapper = new ObjectMapper()
  private val base = s"http://127.0.0.1:$port/q"

  /** `GET /q/<sql>`, conditional when `ifNoneMatch` is given. */
  def get(sql: String, ifNoneMatch: Option[String] = None): Reply = {
    val b = HttpRequest.newBuilder(URI.create(base + "/" + URLEncoder.encode(sql, UTF_8)))
    ifNoneMatch.foreach(b.header("If-None-Match", _))
    send(b.GET().build())
  }

  /** `POST /q` with the statement as the body (writes). */
  def post(sql: String): Reply =
    send(HttpRequest.newBuilder(URI.create(base)).POST(HttpRequest.BodyPublishers.ofString(sql)).build())

  private def send(req: HttpRequest): Reply = {
    val resp = client.send(req, HttpResponse.BodyHandlers.ofByteArray())
    val body = resp.body()
    val rows =
      if (resp.statusCode != 200) Nil
      else new String(body, UTF_8).split('\n').toSeq.filter(_.nonEmpty).map { line =>
        mapper.readTree(line).properties().asScala
          .map(e => e.getKey -> (if (e.getValue.isNull) "null" else e.getValue.asText)).toMap
      }
    Reply(resp.statusCode, Option(resp.headers.firstValue("ETag").orElse(null)),
      rows, body.length.toLong, if (resp.statusCode >= 400) new String(body, UTF_8).take(300) else "")
  }
}

/** One PostgreSQL wire-protocol connection speaking simple-query only. */
final class PgQueryClient(port: Int) extends AutoCloseable {
  private val socket = new Socket("127.0.0.1", port)
  socket.setTcpNoDelay(true)
  private val in = new DataInputStream(new java.io.BufferedInputStream(socket.getInputStream))
  private val out = new DataOutputStream(new java.io.BufferedOutputStream(socket.getOutputStream))

  locally {
    val params = "user\u0000bench\u0000database\u0000default\u0000\u0000".getBytes(UTF_8)
    out.writeInt(8 + params.length); out.writeInt(196608); out.write(params); out.flush()
    readUntilReady()
  }

  /** Run one statement; errors come back as status 500 with the message. */
  def query(sql: String): Reply = {
    val q = sql.getBytes(UTF_8)
    out.writeByte('Q'); out.writeInt(4 + q.length + 1); out.write(q); out.writeByte(0); out.flush()
    readUntilReady()
  }

  private def readUntilReady(): Reply = {
    var cols = IndexedSeq.empty[String]
    val rows = Seq.newBuilder[Map[String, String]]
    var error: Option[String] = None
    var bytes = 0L
    var done = false
    while (!done) {
      val tpe = in.readByte().toChar
      val len = in.readInt() - 4
      val payload = new Array[Byte](len)
      in.readFully(payload)
      bytes += 5 + len
      val b = java.nio.ByteBuffer.wrap(payload)
      def cstr(): String = {
        val start = b.position()
        while (b.get() != 0) ()
        new String(payload, start, b.position() - start - 1, UTF_8)
      }
      tpe match {
        case 'T' =>
          cols = (0 until b.getShort.toInt).map { _ => val n = cstr(); b.position(b.position() + 18); n }
        case 'D' =>
          val vals = (0 until b.getShort.toInt).map { _ =>
            val l = b.getInt
            if (l < 0) "null" else { val s = new String(payload, b.position(), l, UTF_8); b.position(b.position() + l); s }
          }
          rows += cols.zip(vals).toMap
        case 'E' => error = Some(new String(payload, UTF_8).replace('\u0000', ' ').trim)
        case 'Z' => done = true
        case _ => () // auth ok, parameter status, backend key, command complete
      }
    }
    Reply(if (error.isEmpty) 200 else 500, None, if (error.isEmpty) rows.result() else Nil, bytes,
      error.getOrElse(""))
  }

  override def close(): Unit = {
    try { out.writeByte('X'); out.writeInt(4); out.flush() } finally socket.close()
  }
}

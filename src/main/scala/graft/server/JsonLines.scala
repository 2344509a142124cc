package graft.server

import java.time.format.DateTimeFormatter
import java.time.ZoneOffset

import graft.lake.Manifest.jstr
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._

/** JSON-lines result encoding with EXPLICIT nulls — the reference encodes
  * with `with_explicit_nulls(true)` (`src/frontend/http.rs:128-138`), and
  * Spark's `Dataset.toJSON` drops null fields, so we encode rows
  * ourselves. Timestamps serialize as ISO-8601 UTC with microseconds.
  */
object JsonLines {

  private val ntzFmt = DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss.SSSSSS")
  private val tsFmt = ntzFmt.withZone(ZoneOffset.UTC)

  def value(v: Any, dt: DataType): String = (v, dt) match {
    case (null, _) => "null"
    case (x: java.sql.Timestamp, _) => "\"" + tsFmt.format(x.toInstant) + "\""
    case (x: java.time.Instant, _) => "\"" + tsFmt.format(x) + "\""
    // TIMESTAMP_NTZ: the same layout, without a zone to convert from
    case (x: java.time.LocalDateTime, _) => "\"" + ntzFmt.format(x) + "\""
    case (x: java.sql.Date, _) => "\"" + x.toString + "\""
    case (x: java.time.LocalDate, _) => "\"" + x.toString + "\""
    case (x: String, _) => jstr(x)
    case (x: Array[Byte], _) => "\"" + java.util.Base64.getEncoder.encodeToString(x) + "\""
    case (x: java.math.BigDecimal, _) => x.toPlainString
    case (x: scala.math.BigDecimal, _) => x.bigDecimal.toPlainString
    case (x: Double, _) if x.isNaN || x.isInfinite => "\"" + x.toString + "\""
    case (x: Float, _) if x.isNaN || x.isInfinite => "\"" + x.toString + "\""
    // collection.Seq, not the default immutable.Seq: Spark rows surface
    // arrays as mutable.ArraySeq, which the immutable pattern silently
    // misses (falling through to toString)
    case (x: scala.collection.Seq[_], ArrayType(et, _)) =>
      x.map(value(_, et)).mkString("[", ",", "]")
    case (x: Row, st: StructType) => row(x, st)
    case (x: scala.collection.Map[_, _], MapType(_, vt, _)) =>
      x.map { case (k, mv) => jstr(String.valueOf(k)) + ":" + value(mv, vt) }
        .mkString("{", ",", "}")
    case (x, _) => String.valueOf(x) // numbers, booleans
  }

  def row(r: Row, schema: StructType): String =
    schema.fields.zipWithIndex.map { case (f, i) =>
      jstr(f.name) + ":" + value(if (r.isNullAt(i)) null else r.get(i), f.dataType)
    }.mkString("{", ",", "}")

  /** Stream df as JSON-lines without materializing everything at once. */
  def write(df: DataFrame, out: java.io.OutputStream): Long =
    writeRows(df.toLocalIterator(), df.schema, out)

  /** Same, from an already-open row cursor (the HTTP frontend pre-fetches
    * the first partition inside its statement guard so execution errors
    * surface BEFORE response headers go out, then hands the cursor here). */
  def writeRows(it: java.util.Iterator[Row], schema: StructType,
                out: java.io.OutputStream): Long = {
    var n = 0L
    val w = new java.io.BufferedWriter(new java.io.OutputStreamWriter(out, "UTF-8"))
    while (it.hasNext) {
      w.write(row(it.next(), schema)); w.write("\n"); n += 1
    }
    w.flush()
    n
  }
}

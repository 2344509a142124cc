package graftbench

import java.time.LocalDate

import org.apache.spark.sql.{DataFrame, SparkSession}

/** SQL text of each read template. The same text goes to the server and,
  * for reads, decides what the answer must be ([[Reference]]). */
object Sql {
  private def ts(day: Long): String = s"TIMESTAMP_NTZ '${LocalDate.ofEpochDay(day)} 00:00:00'"

  def read(r: Op.Read): String = r.template match {
    case "point" =>
      "SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderpriority " +
        s"FROM orders WHERE o_orderkey = ${r.a}"
    case "range" =>
      "SELECT count(*) AS n, sum(l_quantity) AS q FROM lineitem " +
        s"WHERE l_orderkey BETWEEN ${r.a} AND ${r.a + r.b - 1}"
    case "export" =>
      "SELECT l_orderkey, l_partkey, l_suppkey, l_linenumber, l_quantity, l_extendedprice, " +
        "l_discount, l_tax, l_returnflag, l_linestatus FROM lineitem " +
        s"WHERE l_orderkey BETWEEN ${r.a} AND ${r.a + r.b - 1}"
    case "groupby" =>
      "SELECT l_returnflag, l_linestatus, count(*) AS n, sum(l_quantity) AS q FROM lineitem " +
        s"WHERE l_shipdate < ${ts(r.a)} GROUP BY l_returnflag, l_linestatus"
    case "join" =>
      "SELECT c_mktsegment, count(*) AS n, sum(o_totalprice) AS s " +
        "FROM orders JOIN customer ON o_custkey = c_custkey " +
        s"WHERE o_orderkey BETWEEN ${r.a} AND ${r.a + r.b - 1} GROUP BY c_mktsegment"
    case "topk" =>
      s"SELECT user_id, count(*) AS n FROM events WHERE event_id BETWEEN ${r.a} AND ${r.a + r.b - 1} " +
        "GROUP BY user_id ORDER BY n DESC, user_id LIMIT 10"
    case "inserted" =>
      s"SELECT count(*) AS n FROM events WHERE event_id BETWEEN ${r.a} AND ${r.a + r.b - 1}"
  }

  /** Inserted events get ids above every existing one, outside every
    * top-k range. */
  def write(op: Op): String = op match {
    case Op.Insert(first, rows) =>
      "INSERT INTO events VALUES " + (0 until rows).map { i =>
        s"(${first + i}, TIMESTAMP_NTZ '1970-01-01 00:00:00', ${first + i}, 'bench', $i.5, '{}')"
      }.mkString(", ")
    case Op.Update(key, tag) =>
      s"UPDATE orders SET o_orderpriority = 'bench-$tag' WHERE o_orderkey = $key"
    case Op.Delete(key) => s"DELETE FROM orders WHERE o_orderkey = $key"
    case other => throw new IllegalArgumentException(s"not a write: $other")
  }
}

/** Expected answers, computed at setup from the raw parquet files with
  * plain Spark — never through the lake, the SQL layer or the server —
  * then kept up to date with the writes the sequence makes (a model of
  * deleted keys, updated priorities and inserted rows). The tables are
  * collected once, so any instance of a template is checked without
  * another query. */
final class Reference(spark: SparkSession, sfDir: String) {
  import Reference._

  private def raw(name: String): DataFrame = spark.read.parquet(s"$sfDir/$name.parquet")

  /** (min, count) of keys that must be unique and dense. */
  private def dense(what: String, keys: Seq[Long]): (Long, Long) = {
    val (min, max, distinct) = (keys.min, keys.max, keys.distinct.size)
    require(distinct == keys.size && max - min + 1 == keys.size,
      s"$what must be unique and dense: ${keys.size} rows, $distinct keys in [$min, $max]")
    (min, keys.size.toLong)
  }

  // The tables are collected whole, one scan each, into arrays indexed by
  // their dense keys (lineitem: by row).
  private val orderRows = raw("orders")
    .selectExpr("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderpriority").collect()
  private val eventRows = raw("events").select("event_id", "user_id").collect()
  private val (lKey, lQty, lLine, lGroup, lDay) = {
    val rows = raw("lineitem").selectExpr("l_orderkey", "l_quantity", "l_linenumber",
      "concat(l_returnflag, '|', l_linestatus)", "unix_date(cast(l_shipdate AS DATE))").collect()
    (rows.map(_.getLong(0)), rows.map(_.getDouble(1)), rows.map(_.getInt(2).toLong),
      rows.map(_.getString(3)), rows.map(_.getInt(4)))
  }

  val domain: Domain = {
    val (oMin, oCount) = dense("orders.o_orderkey", orderRows.toSeq.map(_.getLong(0)))
    val (eMin, eCount) = dense("events.event_id", eventRows.toSeq.map(_.getLong(0)))
    Domain(oMin, oCount, eMin, eCount, lDay.min.toLong, lDay.max.toLong)
  }

  private val n = domain.orderKeyCount.toInt
  private def idx(key: Long): Int = (key - domain.orderKeyMin).toInt

  private val (oCust, oStatus, oPrice, oPriority, oSegment) = {
    val segment = raw("customer").select("c_custkey", "c_mktsegment").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val cust = new Array[Long](n); val status = new Array[String](n)
    val price = new Array[Double](n); val prio = new Array[String](n); val seg = new Array[String](n)
    orderRows.foreach { r =>
      val i = idx(r.getLong(0))
      cust(i) = r.getLong(1); status(i) = r.getString(2); price(i) = r.getDouble(3)
      prio(i) = r.getString(4); seg(i) = segment.getOrElse(cust(i), null)
    }
    (cust, status, price, prio, seg)
  }

  private val eUser: Array[Long] = {
    val u = new Array[Long](domain.eventCount.toInt)
    eventRows.foreach(r => u((r.getLong(0) - domain.eventIdMin).toInt) = r.getLong(1))
    u
  }

  // lineitem per order key: row count, quantity sum, linenumber sum
  private val (kCount, kQty, kLine) = {
    val c = new Array[Long](n); val q = new Array[Double](n); val ln = new Array[Long](n)
    lKey.indices.foreach { j =>
      val i = idx(lKey(j))
      require(i >= 0 && i < n, s"lineitem key ${lKey(j)} outside orders")
      c(i) += 1; q(i) += lQty(j); ln(i) += lLine(j)
    }
    (c, q, ln)
  }

  // --- the write model --------------------------------------------------

  private val deleted = scala.collection.mutable.Set[Long]()
  private val priority = scala.collection.mutable.Map[Long, String]()
  private val inserted = scala.collection.mutable.Set[Long]()

  def applyWrite(op: Op): Unit = op match {
    case Op.Insert(first, rows) => (0 until rows).foreach(i => inserted += first + i)
    case Op.Update(key, tag) => if (!deleted(key)) priority(key) = s"bench-$tag"
    case Op.Delete(key) => deleted += key
    case other => throw new IllegalArgumentException(s"not a write: $other")
  }

  /** Null when `rows` is the right answer to `r`, else what is wrong. */
  def check(r: Op.Read, rows: Seq[Map[String, String]]): String = {
    def exactlyRows(k: Int): Option[String] =
      if (rows.size == k) None else Some(s"${rows.size} rows, expected $k")
    val problems: Seq[String] = r.template match {
      case "point" =>
        val k = r.a
        if (deleted(k) || idx(k) < 0 || idx(k) >= n) exactlyRows(0).toSeq
        else exactlyRows(1).toSeq ++ rows.headOption.toSeq.flatMap { row =>
          val i = idx(k)
          Seq(eqLong(row, "o_orderkey", k), eqLong(row, "o_custkey", oCust(i)),
            eqStr(row, "o_orderstatus", oStatus(i)), eqNum(row, "o_totalprice", oPrice(i)),
            eqStr(row, "o_orderpriority", priority.getOrElse(k, oPriority(i)))).flatten
        }
      case "range" =>
        val ks = keys(r.a, r.b)
        exactlyRows(1).toSeq ++ rows.headOption.toSeq.flatMap { row =>
          Seq(eqLong(row, "n", ks.map(kCount).sum), eqNum(row, "q", ks.map(kQty).sum)).flatten
        }
      case "export" =>
        val ks = keys(r.a, r.b)
        val want = ks.map(kCount).sum
        if (rows.size != want) Seq(s"${rows.size} rows, expected $want")
        else Seq(
          sumCheck(rows, "l_quantity", ks.map(kQty).sum),
          sumCheck(rows, "l_linenumber", ks.map(kLine).sum.toDouble)).flatten
      case "groupby" =>
        val shipped = lKey.indices.filter(lDay(_) < r.a)
        val want = shipped.groupBy(lGroup).map { case (g, js) => g -> (js.size.toLong, js.map(lQty).sum) }
        val got = rows.map(row => s"${row.getOrElse("l_returnflag", "")}|${row.getOrElse("l_linestatus", "")}" -> row).toMap
        if (got.keySet != want.keySet) Seq(s"groups ${got.keySet}, expected ${want.keySet}")
        else want.toSeq.flatMap { case (g, (c, q)) =>
          Seq(eqLong(got(g), "n", c), eqNum(got(g), "q", q)).flatten.map(g + ": " + _)
        }
      case "join" =>
        val want = keys(r.a, r.b).filter(i => oSegment(i) != null && !deleted(domain.orderKeyMin + i))
          .groupBy(oSegment).map { case (seg, is) => seg -> (is.size.toLong, is.map(oPrice).sum) }
        val got = rows.map(row => row.getOrElse("c_mktsegment", "") -> row).toMap
        if (got.keySet != want.keySet) Seq(s"segments ${got.keySet}, expected ${want.keySet}")
        else want.toSeq.flatMap { case (seg, (c, s)) =>
          Seq(eqLong(got(seg), "n", c), eqNum(got(seg), "s", s)).flatten.map(seg + ": " + _)
        }
      case "topk" =>
        val counts = (r.a until r.a + r.b).map(id => eUser((id - domain.eventIdMin).toInt))
          .groupBy(identity).map { case (u, xs) => (u, xs.size.toLong) }.toSeq
        val want = counts.sortBy { case (u, c) => (-c, u) }.take(10)
        val got = rows.map(row => (row.get("user_id").flatMap(_.toLongOption), row.get("n").flatMap(_.toLongOption)))
          .collect { case (Some(u), Some(c)) => (u, c) }
        if (got == want) Nil else Seq(s"top-k $got, expected $want")
      case "inserted" =>
        val want = (r.a until r.a + r.b).count(inserted).toLong
        exactlyRows(1).toSeq ++ rows.headOption.toSeq.flatMap(eqLong(_, "n", want))
    }
    if (problems.isEmpty) null else s"${r.template}(${r.a},${r.b}): " + problems.mkString("; ")
  }

  private def keys(lo: Long, width: Long): Seq[Int] =
    (lo until lo + width).map(idx).filter(i => i >= 0 && i < n)
}

object Reference {
  private def eqStr(row: Map[String, String], col: String, want: String): Option[String] =
    if (row.get(col).contains(want)) None else Some(s"$col=${row.get(col)}, expected $want")

  private def eqLong(row: Map[String, String], col: String, want: Long): Option[String] =
    if (row.get(col).flatMap(_.toLongOption).contains(want)) None
    else Some(s"$col=${row.get(col)}, expected $want")

  /** Sums of doubles may differ in the last bits with summation order. */
  private def close(got: Double, want: Double): Boolean =
    math.abs(got - want) <= 1e-9 * math.max(1.0, math.abs(want))

  private def eqNum(row: Map[String, String], col: String, want: Double): Option[String] =
    if (row.get(col).flatMap(_.toDoubleOption).exists(close(_, want))) None
    else Some(s"$col=${row.get(col)}, expected $want")

  private def sumCheck(rows: Seq[Map[String, String]], col: String, want: Double): Option[String] = {
    val got = rows.map(_.get(col).flatMap(_.toDoubleOption).getOrElse(Double.NaN)).sum
    if (close(got, want)) None else Some(s"sum($col)=$got, expected $want")
  }
}

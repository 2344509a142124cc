package graftbench

/** One client operation of a served workload. Operations carry only their
  * parameters; the SQL text and the expected answer are derived from them
  * ([[Sql]], [[Reference]]), so the generator stays a pure function of the
  * seed and the data's key domain. */
sealed trait Op { def kind: String }

object Op {
  /** An executed read: `template` with parameters `a`, `b`, sent over pg
    * simple-query when `pg`, else as `GET /q`. */
  final case class Read(template: String, a: Long, b: Long, pg: Boolean) extends Op {
    def kind: String = template
  }
  /** Conditional `GET /q` of the statement read at sequence position
    * `ref`, carrying the ETag that read received. `stale`: a write since
    * then changed a table the statement reads, so the server must answer
    * 200 with a new ETag instead of 304. */
  final case class Reval(ref: Int, stale: Boolean) extends Op { def kind = "reval" }
  /** `INSERT INTO events VALUES` of `rows` rows with ids `firstId`... */
  final case class Insert(firstId: Long, rows: Int) extends Op { def kind = "insert" }
  /** `UPDATE orders SET o_orderpriority = 'bench-<tag>'` of one key. */
  final case class Update(key: Long, tag: Long) extends Op { def kind = "update" }
  /** `DELETE FROM orders` of one key. */
  final case class Delete(key: Long) extends Op { def kind = "delete" }
}

/** The data's key domain, read from the tables at setup. Order keys and
  * event ids are dense: every key in `[min, min + count)` exists (setup
  * checks this before generating). Ship days are epoch days. */
final case class Domain(
    orderKeyMin: Long, orderKeyCount: Long,
    eventIdMin: Long, eventCount: Long,
    shipDayMin: Long, shipDayMax: Long) {
  def eventIdMax: Long = eventIdMin + eventCount - 1
}

/** Seeded op sequences of the served workload. A sequence is made of
  * rounds of a fixed layout: every round has the same template mix, the
  * same pg share and the same write positions; the seed only picks keys,
  * key ranges and dates. Whole
  * rounds are run, so a window of any length has exactly the layout's mix
  * (a prefix cut mid-round would let run speed change the mix). */
object OpGen {
  import Op._

  /** Widths chosen so every instance of a template does the same work:
    * a range aggregate spans 400 orders (~1.6k lineitems), an export 800
    * orders (~3.2k rows), a join a fifth of the orders, a top-k a fifth
    * of the events. */
  val RangeWidth = 400L
  val ExportWidth = 800L
  val InsertRows = 4
  def joinWidth(d: Domain): Long = d.orderKeyCount / 5
  def topkWidth(d: Domain): Long = d.eventCount / 5

  /** serve_write's round: a write at slots 1, 5 and 9, each followed by
    * a read-after-write and a revalidation the write made stale
    * ("stale-N" revalidates slot N), between reads of every template. The
    * lineitem tables never change, so the revalidation of slot 12
    * ("fresh-12") must answer 304. */
  val Layout: Seq[String] = Seq(
    "topk", "insert", "inserted", "stale-0",
    "point", "update", "point-updated", "stale-4",
    "join/pg", "delete", "point-deleted", "stale-6",
    "range", "export", "fresh-12", "groupby/pg", "point/pg")

  val RoundLength: Int = Layout.size

  /** Positions (within a round) of the write statements. */
  val WriteSlots: Seq[Int] = Layout.zipWithIndex.collect {
    case (s, i) if Set("insert", "update", "delete")(s) => i
  }

  /** Round `r` of the sequence for `seed`: the ops at sequence positions
    * `r * RoundLength` until the next round. */
  def round(seed: Long, r: Int, d: Domain): IndexedSeq[Op] = {
    val rnd = new scala.util.Random(seed * 1000003L + r)
    val base = r * RoundLength
    def key(): Long = d.orderKeyMin + (rnd.nextDouble() * d.orderKeyCount).toLong
    // ranges lie inside the data so every instance reads a full range
    def keyRange(width: Long): Long =
      d.orderKeyMin + (rnd.nextDouble() * (d.orderKeyCount - width)).toLong
    def eventRange(width: Long): Long =
      d.eventIdMin + (rnd.nextDouble() * (d.eventCount - width)).toLong
    val ops = scala.collection.mutable.ArrayBuffer[Op]()
    Layout.foreach { slot =>
      val (name, pg) = slot.split('/') match {
        case Array(n, "pg") => (n, true)
        case Array(n) => (n, false)
      }
      val op: Op = name match {
        case "point" => Read("point", key(), 0, pg)
        case "range" => Read("range", keyRange(RangeWidth), RangeWidth, pg)
        case "export" => Read("export", keyRange(ExportWidth), ExportWidth, pg)
        case "groupby" =>
          // cutoff in the middle half of the ship dates: the scan is full
          // either way, the result is always the six flag/status groups
          val span = d.shipDayMax - d.shipDayMin
          Read("groupby", d.shipDayMin + span / 4 + (rnd.nextDouble() * span / 2).toLong, 0, pg)
        case "join" => Read("join", keyRange(joinWidth(d)), joinWidth(d), pg)
        case "topk" => Read("topk", eventRange(topkWidth(d)), topkWidth(d), pg)
        case "insert" =>
          // ids above every existing event, disjoint across rounds
          Insert(d.eventIdMax + 1 + r.toLong * InsertRows, InsertRows)
        case "inserted" =>
          val ins = ops.last.asInstanceOf[Insert]
          Read("inserted", ins.firstId, ins.rows, pg)
        case "update" => Update(dmlKey(seed, d, 2L * r + 1), r.toLong)
        case "delete" => Delete(dmlKey(seed, d, 2L * r))
        case "point-updated" => Read("point", ops.last.asInstanceOf[Update].key, 0, pg)
        case "point-deleted" => Read("point", ops.last.asInstanceOf[Delete].key, 0, pg)
        case s if s.startsWith("stale-") => Reval(base + s.stripPrefix("stale-").toInt, stale = true)
        case s if s.startsWith("fresh-") => Reval(base + s.stripPrefix("fresh-").toInt, stale = false)
      }
      ops += op
    }
    ops.toIndexedSeq
  }

  /** The `i`-th UPDATE/DELETE key of a sequence: an affine permutation of
    * the dense key range, so keys never repeat (a repeated DELETE would
    * match no row and commit nothing) for the first `orderKeyCount` writes. */
  def dmlKey(seed: Long, d: Domain, i: Long): Long = {
    val n = d.orderKeyCount
    val rnd = new scala.util.Random(seed ^ 0x5DEECE66DL)
    var a = 1L + (rnd.nextLong() & Long.MaxValue) % (n - 1)
    while (gcd(a, n) != 1) a += 1
    val b = (rnd.nextLong() & Long.MaxValue) % n
    d.orderKeyMin + java.lang.Math.floorMod(
      java.lang.Math.addExact(java.lang.Math.multiplyExact(a % n, i % n) % n, b), n)
  }

  private def gcd(x: Long, y: Long): Long = if (y == 0) x else gcd(y, x % y)
}

package graft.functions

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftBridge
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._

/** Top-k (id, score) rows of a group ordered by (score DESC, id ASC) as
  * one bounded aggregate — the rank-and-filter step of every top-k-per-
  * group query (ANN neighbor ranking, per-window leaders) without a
  * window sort.
  *
  * A `row_number() OVER (PARTITION BY g ORDER BY score DESC)` plan
  * shuffles EVERY candidate row to its group's partition and sorts them
  * all, only to discard all but k. This aggregate keeps ≤k entries per
  * (group, partition) in the map-side partial, so the exchange moves at
  * most k rows per group per partition and nothing is ever sorted beyond
  * the k-length insertion buffer — the shape that survives a 100 TB
  * candidate set. Ordering (score DESC, id ASC) is total, so results are
  * deterministic and identical to the window formulation.
  *
  * `dedup = true` additionally skips exact (id, score) twins — the
  * banded-LSH case, where a pair surfaced by several bands repeats with
  * an identical pair-deterministic score. This replaces a corpus-scale
  * `.distinct()` (a full extra shuffle + hash whose spill-merge is the
  * first thing to die on a starved heap — BASELINE.md round 17) with a
  * zero-cost check inside the already-k-bounded buffer: equal twins are
  * adjacent under the total order, so the check is one compare at the
  * insertion point. Off by default: with it on, duplicate (id, score)
  * INPUT rows that are distinct logical candidates would collapse.
  */
case class TopKScoredAggregate(
    id: Expression,
    score: Expression,
    k: Int,
    dedup: Boolean = false,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[TopKScoredAggregate.Buf] {

  require(k >= 1, s"k must be >= 1, got $k")

  override def children: Seq[Expression] = Seq(id, score)
  override def nullable: Boolean = false
  override def prettyName: String = "top_k_scored"
  override def dataType: DataType = ArrayType(
    StructType(Seq(StructField("id", LongType), StructField("score", DoubleType))),
    containsNull = false)

  override def createAggregationBuffer(): TopKScoredAggregate.Buf =
    new TopKScoredAggregate.Buf(new Array[Long](k), new Array[Double](k), 0)

  /** score DESC, id ASC: true iff (s1, i1) ranks strictly before (s2, i2).
    * Double.compare gives Spark's SQL sort order for specials — NaN ranks
    * above +Inf on DESC, exactly like the row_number window this replaces
    * (plain > / == would treat NaN rows as incomparable and make results
    * partition-order dependent). */
  private def before(s1: Double, i1: Long, s2: Double, i2: Long): Boolean = {
    val c = java.lang.Double.compare(s1, s2)
    c > 0 || (c == 0 && i1 < i2)
  }

  private def insert(b: TopKScoredAggregate.Buf, i: Long, s0: Double): Unit = {
    // -0.0 == 0.0 in Spark's sort (NormalizeNaNAndZero); normalize so the
    // id tie-break applies instead of Double.compare's -0.0 < 0.0
    val s = if (s0 == 0.0) 0.0 else s0
    if (b.n == k && !before(s, i, b.scores(k - 1), b.ids(k - 1))) return
    // find the insertion position WITHOUT mutating first: with dedup on,
    // an exact (score, id) twin — the multi-band repeated candidate — is
    // adjacent at pos-1 under this total order and must be skipped before
    // any shifting corrupts the buffer
    var pos = b.n
    while (pos > 0 && before(s, i, b.scores(pos - 1), b.ids(pos - 1))) pos -= 1
    if (dedup && pos > 0 && b.ids(pos - 1) == i &&
        java.lang.Double.compare(b.scores(pos - 1), s) == 0) return
    if (pos >= k) return
    var j = math.min(b.n, k - 1)
    while (j > pos) { b.ids(j) = b.ids(j - 1); b.scores(j) = b.scores(j - 1); j -= 1 }
    b.ids(pos) = i; b.scores(pos) = s
    if (b.n < k) b.n += 1
  }

  override def update(b: TopKScoredAggregate.Buf, input: InternalRow): TopKScoredAggregate.Buf = {
    val iv = id.eval(input)
    val sv = score.eval(input)
    if (iv != null && sv != null)
      insert(b, iv.asInstanceOf[Long], sv.asInstanceOf[Double])
    b
  }

  override def merge(b1: TopKScoredAggregate.Buf, b2: TopKScoredAggregate.Buf): TopKScoredAggregate.Buf = {
    var i = 0
    while (i < b2.n) { insert(b1, b2.ids(i), b2.scores(i)); i += 1 }
    b1
  }

  override def eval(b: TopKScoredAggregate.Buf): Any =
    new GenericArrayData(Array.tabulate[Any](b.n)(i =>
      new GenericInternalRow(Array[Any](b.ids(i), b.scores(i)))))

  override def serialize(b: TopKScoredAggregate.Buf): Array[Byte] = {
    val bos = new ByteArrayOutputStream(4 + 16 * b.n)
    val out = new DataOutputStream(bos)
    out.writeInt(b.n)
    var i = 0
    while (i < b.n) { out.writeLong(b.ids(i)); out.writeDouble(b.scores(i)); i += 1 }
    out.flush(); bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): TopKScoredAggregate.Buf = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val n = in.readInt()
    val b = new TopKScoredAggregate.Buf(new Array[Long](k), new Array[Double](k), 0)
    var i = 0
    while (i < n) {
      val id = in.readLong(); val s = in.readDouble()
      b.ids(i) = id; b.scores(i) = s
      i += 1
    }
    b.n = n
    b
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): TopKScoredAggregate =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): TopKScoredAggregate =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): Expression =
    copy(id = newChildren(0), score = newChildren(1))
}

object TopKScoredAggregate {
  /** Rank-sorted bounded buffer: ids/scores parallel arrays, n valid. */
  final class Buf(val ids: Array[Long], val scores: Array[Double], var n: Int)

  /** Column API: top_k_scored(id, score, k) → ARRAY<STRUCT<id, score>>
    * ordered (score DESC, id ASC); dedup skips exact (id, score) twins. */
  def top_k_scored(id: Column, score: Column, k: Int, dedup: Boolean = false): Column =
    GraftBridge.column(
      TopKScoredAggregate(GraftBridge.expression(id), GraftBridge.expression(score), k, dedup)
        .toAggregateExpression())
}

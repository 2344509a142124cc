package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}
import org.apache.spark.sql.GraftBridge

/** Native Catalyst expression for the Int64 dot product of two BIGINT
  * arrays — the hot inner loop of every embedding-similarity operator.
  *
  * Why not `aggregate(zip_with(a, b, (x, y) -> x*y), ...)`: Spark's
  * higher-order functions evaluate their lambdas interpreted (one closure
  * dispatch + boxing per element), which costs ~5-10× on a 64-dim dot.
  * This expression generates a tight primitive loop inside whole-stage
  * codegen. Semantics are identical (exact Int64 arithmetic, order-free),
  * so the DuckDB oracles are unaffected.
  */
case class DotProductLong(left: Expression, right: Expression)
    extends BinaryExpression with TotalKernel {

  override def dataType: DataType = LongType
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    if (left.dataType == ArrayType(LongType, false) || left.dataType == ArrayType(LongType, true)) {
      if (right.dataType == ArrayType(LongType, false) || right.dataType == ArrayType(LongType, true))
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"right side must be ARRAY<BIGINT>, got ${right.dataType.sql}")
    } else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"left side must be ARRAY<BIGINT>, got ${left.dataType.sql}")
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var acc = 0L
    var i = 0
    while (i < n) { acc += x.getLong(i) * y.getLong(i); i += 1 }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |${ev.value} = 0L;
         |for (int $i = 0; $i < $n; $i++) {
         |  ${ev.value} += $a.getLong($i) * $b.getLong($i);
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** The `nprobe` nearest centroids of a quantized vector, as an array of
  * cell ids ordered by (squared-L2 distance, cell id) — the IVF
  * assignment/probe step evaluated per row against a PLAN-BAKED centroid
  * table (K×dim, driver-collected between Lloyd iterations exactly like
  * Spark MLlib's KMeans: bounded by the cell-count parameter, never
  * data-sized). Distance ordering uses c_n2 - 2·dot(qe, cent), which
  * orders identically to the full |qe|² - 2·dot + c_n2 since |qe|² is
  * constant per row; all arithmetic is exact Int64, matching the
  * portable quantized spec the oracle replicates.
  */
case class NearestCells(
    child: Expression,
    // (cellId, centroid, |cent|²) — IndexedSeq (not Array) so case-class
    // equality is structural and semanticEquals/CSE/exchange reuse see
    // two identical centroid bakes as equal
    cents: IndexedSeq[(Long, IndexedSeq[Long], Long)],
    nprobe: Int)
  extends org.apache.spark.sql.catalyst.expressions.UnaryExpression
  with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback with TotalKernel {
  require(nprobe >= 1 && cents.nonEmpty)

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "nearest_cells"

  // hot-loop view of the centroids, materialized once per task
  @transient private lazy val centArr: Array[(Long, Array[Long], Long)] =
    cents.map { case (id, v, n2) => (id, v.toArray, n2) }.toArray

  override protected def nullSafeEval(input: Any): Any = {
    val qe = input.asInstanceOf[ArrayData].toLongArray()
    val cents = centArr
    val m = math.min(nprobe, cents.length)
    val bestCell = new Array[Long](m)
    val bestDist = new Array[Long](m)
    var filled = 0
    var c = 0
    while (c < cents.length) {
      val (cellId, cent, cn2) = cents(c)
      val n = math.min(qe.length, cent.length)
      var dot = 0L
      var i = 0
      while (i < n) { dot += qe(i) * cent(i); i += 1 }
      val d = cn2 - 2L * dot
      // insertion into the ≤m best list, ties to the lower cell id
      var pos = filled
      while (pos > 0 && (bestDist(pos - 1) > d ||
          (bestDist(pos - 1) == d && bestCell(pos - 1) > cellId))) pos -= 1
      if (pos < m) {
        val last = math.min(filled, m - 1)
        var j = last
        while (j > pos) { bestCell(j) = bestCell(j - 1); bestDist(j) = bestDist(j - 1); j -= 1 }
        bestCell(pos) = cellId; bestDist(pos) = d
        if (filled < m) filled += 1
      }
      c += 1
    }
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
      .fromPrimitiveArray(java.util.Arrays.copyOf(bestCell, filled))
  }

  override protected def withNewChildInternal(newChild: Expression): NearestCells =
    copy(child = newChild)
}

/** Two-level nearest-cell assignment in ONE pass: the `wCoarse` nearest
  * of the plan-baked COARSE centroids select which fine-centroid subsets
  * the row is scored against — O((K1 + w·K/K1)·dim) per row instead of
  * the flat quantizer's O(K·dim). A single expression rather than a
  * NearestCells-over-CASE composition because projection collapse
  * inlines a referenced-16-times coarse column into every CASE branch,
  * recomputing the coarse argmin per branch (the mm6 lesson — measured:
  * the composed form was SLOWER than flat). Distance and tie rules are
  * exactly NearestCells' (cn2 − 2·dot, lower id wins), so with one
  * coarse cell — or w ≥ K1 — assignment is bit-equal to flat over the
  * same fine centroids (OpsSpec asserts both). Returns the fine cell id,
  * or null only if every probed coarse cell is fine-less (builders drop
  * those). */
case class HierNearestCell(
    child: Expression,
    coarse: IndexedSeq[(Long, IndexedSeq[Long], Long)],
    fines: IndexedSeq[(Long, IndexedSeq[(Long, IndexedSeq[Long], Long)])],
    wCoarse: Int)
  extends org.apache.spark.sql.catalyst.expressions.UnaryExpression
  with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback with TotalKernel {
  require(coarse.nonEmpty && wCoarse >= 1)

  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def prettyName: String = "hier_nearest_cell"

  @transient private lazy val coarseArr: Array[(Long, Array[Long], Long)] =
    coarse.map { case (id, v, n2) => (id, v.toArray, n2) }.toArray
  @transient private lazy val fineMap: Map[Long, Array[(Long, Array[Long], Long)]] =
    fines.map { case (g, fs) =>
      g -> fs.map { case (id, v, n2) => (id, v.toArray, n2) }.toArray
    }.toMap

  override protected def nullSafeEval(input: Any): Any = {
    val qe = input.asInstanceOf[ArrayData].toLongArray()
    def dist(cent: Array[Long], cn2: Long): Long = {
      val n = math.min(qe.length, cent.length)
      var dot = 0L
      var i = 0
      while (i < n) { dot += qe(i) * cent(i); i += 1 }
      cn2 - 2L * dot
    }
    // top-w coarse cells, NearestCells' insertion with lower-id ties
    val m = math.min(wCoarse, coarseArr.length)
    val bestC = new Array[Long](m)
    val bestD = new Array[Long](m)
    var filled = 0
    var c = 0
    while (c < coarseArr.length) {
      val (cid, cent, cn2) = coarseArr(c)
      val d = dist(cent, cn2)
      var pos = filled
      while (pos > 0 && (bestD(pos - 1) > d ||
          (bestD(pos - 1) == d && bestC(pos - 1) > cid))) pos -= 1
      if (pos < m) {
        val last = math.min(filled, m - 1)
        var j = last
        while (j > pos) { bestC(j) = bestC(j - 1); bestD(j) = bestD(j - 1); j -= 1 }
        bestC(pos) = cid; bestD(pos) = d
        if (filled < m) filled += 1
      }
      c += 1
    }
    // global argmin over the probed coarse cells' fine lists
    var bd = Long.MaxValue
    var bid = Long.MaxValue
    var found = false
    var w = 0
    while (w < filled) {
      val fs = fineMap.getOrElse(bestC(w), Array.empty[(Long, Array[Long], Long)])
      var i = 0
      while (i < fs.length) {
        val (fid, cent, cn2) = fs(i)
        val d = dist(cent, cn2)
        if (d < bd || (d == bd && fid < bid)) { bd = d; bid = fid; found = true }
        i += 1
      }
      w += 1
    }
    if (found) bid else null
  }

  override protected def withNewChildInternal(newChild: Expression): HierNearestCell =
    copy(child = newChild)
}

/** Dense matrix × quantized-vector projection against a PLAN-BAKED
  * row-major matrix (outDim × dim doubles) — the serving half of PCA:
  * out_k = Σ_i (qe_i·scale − center_i)·mat_k_i. Zero shuffle, one tight
  * loop per row; the matrix is bounded by the projection parameters
  * (outDim·dim), never data-sized — the same bake-don't-join rule as
  * NearestCells. IndexedSeq fields so expression equality is structural
  * (CSE/exchange reuse see identical bakes as equal). Double arithmetic
  * is the same correctly-rounded IEEE sequence on every engine/executor,
  * so projections are deterministic given the trained matrix. */
case class MatVecProject(child: Expression,
                         mat: IndexedSeq[IndexedSeq[Double]],
                         center: IndexedSeq[Double],
                         scale: Double)
  extends org.apache.spark.sql.catalyst.expressions.UnaryExpression
  with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback with TotalKernel {
  require(mat.nonEmpty && mat.forall(_.length == center.length),
    "matrix rows and center must share the input dimension")

  override def dataType: DataType = ArrayType(
    org.apache.spark.sql.types.DoubleType, containsNull = false)
  override def prettyName: String = "matvec_project"

  @transient private lazy val m: Array[Array[Double]] = mat.map(_.toArray).toArray
  @transient private lazy val c: Array[Double] = center.toArray

  override protected def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val dim = math.min(arr.numElements(), c.length)
    val x = new Array[Double](dim)
    var i = 0
    while (i < dim) { x(i) = arr.getLong(i) * scale - c(i); i += 1 }
    val out = new Array[Double](m.length)
    var k = 0
    while (k < m.length) {
      val row = m(k)
      var s = 0.0
      var j = 0
      while (j < dim) { s += x(j) * row(j); j += 1 }
      out(k) = s
      k += 1
    }
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray(out)
  }

  override protected def withNewChildInternal(newChild: Expression): MatVecProject =
    copy(child = newChild)
}

/** Micro-unit quantization of a FLOAT/DOUBLE vector — the native twin of
  * `transform(vec, x -> CAST(round(CAST(x AS DOUBLE) * 1e6, 0) AS BIGINT))`.
  * The declarative spelling pays an interpreted lambda dispatch AND a
  * BigDecimal allocation (Spark's Round on DoubleType) PER ELEMENT —
  * dim × rows of it under every embedding operator's `prepared()`.
  * This runs one compiled loop per row with Round's exact semantics:
  * the decimal HALF_UP of the shortest-repr value, which for finite
  * |d| < 2^52 equals: frac > .5 → up, frac < .5 → down, frac == .5 →
  * away from zero (the shortest decimal repr of a non-tie double can
  * never cross the .5 boundary, and exact ties are exact doubles);
  * NaN/±Inf pass through round and then fail the BIGINT cast exactly
  * like the declarative spelling under ANSI. OpsSpec pins equality on
  * ties, near-ties, negatives, nulls and subnormals. Not a
  * [[TotalKernel]]: that failure must stay on the rows that reach it.
  */
case class QuantizeMicro(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {

  override def dataType: DataType = ArrayType(LongType, containsNull = true)
  override def prettyName: String = "quantize_micro"

  private lazy val fromFloat: Boolean = child.dataType match {
    case ArrayType(org.apache.spark.sql.types.FloatType, _) => true
    case ArrayType(org.apache.spark.sql.types.DoubleType, _) => false
    case other => throw new IllegalArgumentException(
      s"quantize_micro needs ARRAY<FLOAT|DOUBLE>, got ${other.sql}")
  }

  override protected def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val out = new Array[Any](n)
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) {
        val d = (if (fromFloat) arr.getFloat(i).toDouble else arr.getDouble(i)) * 1000000.0
        out(i) = java.lang.Long.valueOf(roundHalfUpToLong(d))
      }
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  private def roundHalfUpToLong(d: Double): Long = {
    if (java.lang.Double.isNaN(d) || java.lang.Double.isInfinite(d))
      throw new ArithmeticException(
        s"quantize_micro: $d cannot be cast to BIGINT (matches ANSI CAST on round($d))")
    if (math.abs(d) >= 4503599627370496.0) { // 2^52: integral already; round is identity
      if (d < Long.MinValue.toDouble || d > Long.MaxValue.toDouble)
        throw new ArithmeticException(
          s"quantize_micro: $d overflows BIGINT (matches ANSI CAST)")
      d.toLong
    } else {
      val f = math.floor(d)
      // compare against f + 0.5 (exact for |f| < 2^52), never d - f: for
      // d in (-1, 0) that difference rounds, e.g. -0.49999999999999994
      // would read as an exact tie and go to -1
      val mid = f + 0.5
      val r =
        if (d > mid) f + 1
        else if (d < mid) f
        else if (d >= 0) f + 1 // exact .5 tie: HALF_UP rounds away from zero
        else f
      r.toLong
    }
  }

  override protected def withNewChildInternal(newChild: Expression): QuantizeMicro =
    copy(child = newChild)
}

object VectorFunctions {
  /** Column API for DotProductLong. */
  def dot_q(a: Column, b: Column): Column =
    GraftBridge.column(DotProductLong(GraftBridge.expression(a), GraftBridge.expression(b)))

  /** Column API for QuantizeMicro: float/double vector → BIGINT micro-units. */
  def quantize_micro(vec: Column): Column =
    GraftBridge.column(QuantizeMicro(GraftBridge.expression(vec)))

  /** Column API for MatVecProject: centered projection of a quantized
    * vector through a plan-baked (outDim × dim) matrix. */
  def matvec_project(qe: Column, mat: Array[Array[Double]],
                     center: Array[Double], scale: Double): Column =
    GraftBridge.column(MatVecProject(GraftBridge.expression(qe),
      mat.map(_.toIndexedSeq).toIndexedSeq, center.toIndexedSeq, scale))

  /** Column API for NearestCells: `nprobe` nearest centroid cell ids. */
  def nearest_cells(qe: Column, cents: Array[(Long, Array[Long])], nprobe: Int): Column =
    GraftBridge.column(NearestCells(GraftBridge.expression(qe),
      cents.map { case (id, v) => (id, v.toIndexedSeq, v.map(x => x * x).sum) }.toIndexedSeq,
      nprobe))

  def hier_nearest_cell(qe: Column, coarse: Array[(Long, Array[Long])],
                        fines: Map[Long, Array[(Long, Array[Long])]],
                        wCoarse: Int): Column =
    GraftBridge.column(HierNearestCell(GraftBridge.expression(qe),
      coarse.map { case (id, v) => (id, v.toIndexedSeq, v.map(x => x * x).sum) }.toIndexedSeq,
      fines.toIndexedSeq.sortBy(_._1).map { case (g, fs) =>
        (g, fs.map { case (id, v) => (id, v.toIndexedSeq, v.map(x => x * x).sum) }.toIndexedSeq)
      },
      wCoarse))
}

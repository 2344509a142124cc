package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Embedding similarity operators: brute-force cosine (baseline),
  * label-blocked pairwise near-dup detection, and a hyperplane-LSH
  * bucketed ANN variant (the scale path: signature buckets shrink the
  * candidate set from N to N/2^planes before any distance math).
  *
  * Determinism across engines: float math is order-sensitive, so vectors
  * are quantized to integer micro-units (round(x*1e6)) and all dot
  * products/norms are exact Int64 sums — order-independent — with a single
  * deterministic double division+sqrt at the end. The DuckDB oracles use
  * the same quantization.
  */
object Embeddings {

  /** Quantize a float-array column to BIGINT micro-units — the native
    * QuantizeMicro expression (one compiled loop per row; the transform
    * lambda spelling, kept in test scope as OpsSpec's equality reference,
    * pays an interpreted dispatch + a Round BigDecimal per ELEMENT). */
  def quantize(vec: Column): Column =
    graft.functions.VectorFunctions.quantize_micro(vec)

  /** Exact dot product of two quantized vectors (Int64, order-free) via
    * the codegen'd DotProductLong expression — identical semantics to
    * aggregate(zip_with(...)) at ~5-10x the throughput (higher-order
    * lambdas run interpreted; see graft.functions.VectorExpressions). */
  def dotQ(a: Column, b: Column): Column =
    graft.functions.VectorFunctions.dot_q(a, b)

  /** Cosine from quantized dot and squared norms, as a deterministic
    * double: one cast per operand, one division, one sqrt each. */
  def cosine(dot: Column, na2: Column, nb2: Column): Column =
    dot.cast(DoubleType) / (sqrt(na2.cast(DoubleType)) * sqrt(nb2.cast(DoubleType)))

  /** Vectors with quantized embedding + squared norm precomputed. */
  def prepared(vecs: DataFrame, idCol: String, vecCol: String, extraCols: Seq[String] = Nil): DataFrame = {
    val base = vecs.select((Seq(col(idCol).as("vec_id"), quantize(col(vecCol)).as("qe")) ++
      extraCols.map(col)): _*)
    base.withColumn("n2", dotQ(col("qe"), col("qe")))
  }

  /** All pairs with cosine >= threshold within a blocking key (e.g. a
    * cluster/label column): the standard scale pattern — block first so the
    * quadratic pairwise stays within blocks, shuffled on the block key.
    *
    * SIZING GUARD: the pair work is Θ(Σ blockSize²) — a FIXED-cardinality
    * block key goes quadratic as the corpus grows (the round-15 sf10
    * probe measured 60× cost for 10× rows on a 10-value key). A block
    * larger than `maxBlockRows` therefore fails LOUDLY (one cheap
    * map-side-combined count on the block key, before any pair is
    * produced) instead of silently burning the cluster; the fix at scale
    * is a key whose cardinality grows with N, or the banded family
    * (knnGraphBanded / bandedNearDupPairs) whose candidate count is the
    * tunable bands·N²/2^planes instead of N²/blocks. Pass
    * maxBlockRows = 0 to disable (oracle replays on fixture constants).
    */
  def blockedNearDupPairs(vecs: DataFrame, idCol: String, vecCol: String,
                          blockCol: String, threshold: Double,
                          maxBlockRows: Long = 1L << 17): DataFrame = {
    val p = prepared(vecs, idCol, vecCol, Seq(blockCol))
    if (maxBlockRows > 0) {
      val worst = p.groupBy(col(blockCol)).count()
        .orderBy(col("count").desc).limit(1).collect()
      worst.headOption.filter(_.getLong(1) > maxBlockRows).foreach { r =>
        throw new IllegalArgumentException(
          s"blockedNearDupPairs: block ${r.get(0)} holds ${r.getLong(1)} rows " +
            s"(> $maxBlockRows) — ${r.getLong(1)}²/2 pairs in one block will not " +
            "scale. Use a block key whose cardinality grows with the corpus, " +
            "or the banded LSH family (knnGraphBanded) whose candidate count " +
            "is tunable; pass maxBlockRows = 0 only to force the quadratic.")
      }
    }
    p.as("a").join(p.as("b"),
        col(s"a.$blockCol") === col(s"b.$blockCol") && col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("id1"), col("b.vec_id").as("id2"),
        cosine(dotQ(col("a.qe"), col("b.qe")), col("a.n2"), col("b.n2")).as("cos"))
      .filter(col("cos") >= threshold)
  }

  /** Rank candidate (query_id, neighbor_id, cos) rows to their per-query
    * top-k via the bounded TopKScoredAggregate — map-side partials carry
    * at most k rows per (query, partition), and nothing is sorted beyond
    * the k-length insertion buffer, where a row_number window would
    * shuffle and sort EVERY candidate. Ordering (cos DESC, id ASC) is the
    * same total order the window used; `rnk` is the 1-based position.
    */
  private def rankTopK(cands: DataFrame, k: Int, dedup: Boolean = false): DataFrame =
    cands.groupBy("query_id")
      .agg(graft.functions.TopKScoredAggregate
        .top_k_scored(col("neighbor_id"), col("cos"), k, dedup).as("top"))
      .select(col("query_id"), posexplode(col("top")).as(Seq("i", "s")))
      .select(col("query_id"), col("s.id").as("neighbor_id"),
        col("s.score").as("cos"), (col("i") + 1).as("rnk"))

  /** k-NN GRAPH construction — the build primitive behind graph-ANN
    * indexes (HNSW/NSG base layers), graph-based dedup and
    * link-then-cluster pipelines: EVERY vector gets its k nearest
    * bucket-mates, not just a query subset. Candidates come from the
    * hyperplane-LSH signature SELF-join (expected N/2^planes per bucket,
    * never all-pairs — no broadcast: both sides are the corpus, so the
    * join shuffles on the signature key); per-node ranking runs in the
    * bounded TopKScoredAggregate (≤k rows per map-side partial), so
    * reduce state is k-bounded regardless of bucket skew. Recall is
    * signature-bounded (sim2's trade — raise planes / multi-probe at
    * scale). Returns (node_id, neighbor_id, cos, rnk ≤ k).
    */
  def knnGraph(vecs: DataFrame, idCol: String, vecCol: String,
               k: Int, planes: Int, dim: Int): DataFrame = {
    val signs = planeSigns(planes, dim)
    val p = prepared(vecs, idCol, vecCol)
      .withColumn("sig", lshSignature(col("qe"), signs))
    val nb = p.select(col("vec_id").as("neighbor_id"), col("qe").as("nb_qe"),
      col("n2").as("nb_n2"), col("sig"))
    rankTopK(
      p.join(nb, Seq("sig"))
        .filter(col("vec_id") =!= col("neighbor_id"))
        .select(col("vec_id").as("query_id"), col("neighbor_id"),
          cosine(dotQ(col("qe"), col("nb_qe")), col("n2"), col("nb_n2")).as("cos")),
      k)
      .select(col("query_id").as("node_id"), col("neighbor_id"), col("cos"), col("rnk"))
  }

  /** BANDED k-NN graph — the structural answer to knnGraph's documented
    * planes-vs-corpus trade: one signature of many planes shrinks buckets
    * (pairs ~ N²/2^planes) but loses recall, while FEW planes explode the
    * self-join quadratically. Banding (the dd3 minhash-LSH shape applied
    * to hyperplane signatures) runs `bands` INDEPENDENT signatures of
    * `planesPerBand` planes each: candidate pairs ≈ bands·N²/2^planesPerBand
    * with recall ≈ 1 − (1 − p^planesPerBand)^bands per true neighbor — the
    * (B, R) dial production LSH kNN tunes instead of one plane count. A
    * pair surfaced by several bands ranks ONCE (exact-cosine dedupe before
    * the bounded top-k). Plan shape: explode ×bands (in-row), ONE
    * signature-keyed self-join, pair-keyed dedupe, k-bounded ranking —
    * still never all-pairs, still no broadcast of the corpus. */
  def knnGraphBanded(vecs: DataFrame, idCol: String, vecCol: String,
                     k: Int, planesPerBand: Int, bands: Int, dim: Int): DataFrame = {
    require(planesPerBand >= 1 && bands >= 1 && k >= 1,
      s"need planesPerBand ($planesPerBand), bands ($bands), k ($k) >= 1")
    val signs = planeSigns(planesPerBand * bands, dim)
    // band b's signature = its own plane slice, PREFIXED with b so
    // different bands can never collide on the join key
    val sigCols = (0 until bands).map { b =>
      concat(lit(s"$b:"),
        lshSignature(col("qe"), signs.slice(b * planesPerBand, (b + 1) * planesPerBand)))
    }
    val p = prepared(vecs, idCol, vecCol)
      .withColumn("sig", explode(array(sigCols: _*)))
    val nb = p.select(col("vec_id").as("neighbor_id"), col("qe").as("nb_qe"),
      col("n2").as("nb_n2"), col("sig"))
    val cands = p.join(nb, Seq("sig"))
      .filter(col("vec_id") =!= col("neighbor_id"))
      .select(col("vec_id").as("query_id"), col("neighbor_id"),
        cosine(dotQ(col("qe"), col("nb_qe")), col("n2"), col("nb_n2")).as("cos"))
    // multi-band hits rank once: cos is pair-deterministic, so the exact
    // (id, cos) twin is skipped INSIDE the k-bounded aggregate — no
    // corpus-scale .distinct() shuffle/hash between join and ranking
    // (its spill-merge was the first OOM on a starved heap, BASELINE.md r17)
    rankTopK(cands, k, dedup = true)
      .select(col("query_id").as("node_id"), col("neighbor_id"), col("cos"), col("rnk"))
  }

  /** INCREMENTAL banded kNN-graph maintenance — dd19's incremental-ingest
    * discipline applied to the ANN index: when a batch of new vectors
    * arrives, do NOT rebuild the graph from the corpus; compute only the
    * candidate pairs that TOUCH the batch (batch signatures joined against
    * the old∪new corpus signatures, both orientations) and re-rank them
    * together with the EXISTING edges through the dedup-aware k-bounded
    * aggregate.
    *
    * The result is BIT-EQUAL to a full knnGraphBanded rebuild over
    * corpus∪batch: candidates only ever ACCUMULATE (signatures are a pure
    * function of the vector), so per node top-k(all pairs) =
    * top-k(top-k(old-old pairs) ∪ pairs-touching-batch) — an old-old pair
    * outside the old top-k is dominated by k old-old pairs that are still
    * in the pool, and new pairs can only push it further down. The sim16
    * oracle exploits exactly this: it replays the FULL rebuild in SQL and
    * hash-compares.
    *
    * Scale shape: per-batch cost is the batch-vs-corpus signature join
    * (batch-sized output per band bucket, never corpus²) + a k-bounded
    * aggregate over (old edges = N·k rows) ∪ (new candidates) — the daily
    * index refresh at 100 TB touches the corpus once, not quadratically.
    * `batch` ids must be disjoint from `corpus` ids (same contract as
    * dd19). `edges` must be knnGraphBanded(corpus) output with the same
    * (k, planesPerBand, bands, dim).
    */
  def knnGraphIncrement(edges: DataFrame, corpus: DataFrame, batch: DataFrame,
                        idCol: String, vecCol: String, k: Int,
                        planesPerBand: Int, bands: Int, dim: Int): DataFrame = {
    require(planesPerBand >= 1 && bands >= 1 && k >= 1,
      s"need planesPerBand ($planesPerBand), bands ($bands), k ($k) >= 1")
    val signs = planeSigns(planesPerBand * bands, dim)
    def sigCols = (0 until bands).map { b =>
      concat(lit(s"$b:"),
        lshSignature(col("qe"), signs.slice(b * planesPerBand, (b + 1) * planesPerBand)))
    }
    val po = prepared(corpus, idCol, vecCol).withColumn("sig", explode(array(sigCols: _*)))
    val pb = prepared(batch, idCol, vecCol).withColumn("sig", explode(array(sigCols: _*)))
    val touch = po.union(pb)
      .join(pb.select(col("vec_id").as("b_id"), col("qe").as("b_qe"),
        col("n2").as("b_n2"), col("sig")), Seq("sig"))
      .filter(col("vec_id") =!= col("b_id"))
      .select(col("vec_id"), col("b_id"),
        cosine(dotQ(col("qe"), col("b_qe")), col("n2"), col("b_n2")).as("cos"))
    // both orientations rank (cos is pair-symmetric); multi-band and
    // batch-batch double-surfacing dedupe inside the bounded aggregate
    val cands = touch.select(col("b_id").as("query_id"),
        col("vec_id").as("neighbor_id"), col("cos"))
      .union(touch.select(col("vec_id").as("query_id"),
        col("b_id").as("neighbor_id"), col("cos")))
      .union(edges.select(col("node_id").as("query_id"),
        col("neighbor_id"), col("cos")))
    rankTopK(cands, k, dedup = true)
      .select(col("query_id").as("node_id"), col("neighbor_id"), col("cos"), col("rnk"))
  }

  /** kNN-graph DELETION — the right-to-be-forgotten half of index
    * maintenance, and the structurally harder one: unlike inserts
    * (knnGraphIncrement), deletes are NOT monotone — a node whose top-k
    * contained a deleted vector needs BACKFILL from candidates the
    * k-bounded build already discarded. The bounded repair: only the
    * AFFECTED nodes (top-k contains a deleted id — found by one semi-join
    * of the stored edges against the tombstone set) recompute from their
    * band signatures against the remaining corpus; every other node's
    * list is provably unchanged (candidates only SHRINK under deletion,
    * and none of an unaffected node's kept k were removed, so nothing
    * can enter or leave its top-k). Result: BIT-EQUAL to a full rebuild
    * over corpus∖deleted — the sim17 oracle replays exactly that full
    * rebuild and hash-compares.
    *
    * Scale shape: repair cost ≈ |affected| × bucket-mates, and
    * |affected| is bounded by the deleted vectors' reverse-kNN in-degree
    * (≈ |deleted|·k on average) — the daily tombstone pass touches the
    * corpus once for signatures and repairs a deleted-sized node set,
    * never a rebuild. `corpus` is the vector set `edges` was built over,
    * INCLUDING the to-be-deleted rows; `deleted` carries `idCol`.
    */
  def knnGraphDelete(edges: DataFrame, corpus: DataFrame, deleted: DataFrame,
                     idCol: String, vecCol: String, k: Int,
                     planesPerBand: Int, bands: Int, dim: Int): DataFrame = {
    require(planesPerBand >= 1 && bands >= 1 && k >= 1,
      s"need planesPerBand ($planesPerBand), bands ($bands), k ($k) >= 1")
    val signs = planeSigns(planesPerBand * bands, dim)
    val sigCols = (0 until bands).map { b =>
      concat(lit(s"$b:"),
        lshSignature(col("qe"), signs.slice(b * planesPerBand, (b + 1) * planesPerBand)))
    }
    val delIds = deleted.select(deleted(idCol).cast(LongType).as("__del")).distinct()
    val remaining = corpus.join(delIds,
      corpus(idCol).cast(LongType) === col("__del"), "left_anti")
    // affected = survivors whose stored list references a tombstone
    val affected = edges
      .join(delIds, edges("neighbor_id") === col("__del"), "left_semi")
      .select(col("node_id")).distinct()
      .join(delIds, col("node_id") === col("__del"), "left_anti")
    val untouched = edges
      .join(delIds, edges("node_id") === col("__del"), "left_anti")
      .join(affected, Seq("node_id"), "left_anti")
    val p = prepared(remaining, idCol, vecCol)
      .withColumn("sig", explode(array(sigCols: _*)))
    val affQ = p.join(affected.select(col("node_id").as("vec_id")), Seq("vec_id"), "left_semi")
      .select(col("vec_id").as("query_id"), col("qe").as("q_qe"),
        col("n2").as("q_n2"), col("sig"))
    val repaired = rankTopK(
      p.join(affQ, Seq("sig"))
        .filter(col("vec_id") =!= col("query_id"))
        .select(col("query_id"), col("vec_id").as("neighbor_id"),
          cosine(dotQ(col("qe"), col("q_qe")), col("n2"), col("q_n2")).as("cos")),
      k, dedup = true)
      .select(col("query_id").as("node_id"), col("neighbor_id"), col("cos"), col("rnk"))
    untouched.select(col("node_id"), col("neighbor_id"), col("cos"), col("rnk"))
      .unionByName(repaired)
  }

  /** Brute-force top-k cosine neighbors for a query subset: broadcast the
    * (small) query side against the full corpus, rank per query. The
    * baseline ANN answer — O(|Q| * N) dots, embarrassingly parallel.
    */
  def topKBruteForce(vecs: DataFrame, idCol: String, vecCol: String,
                     queryPred: Column, k: Int): DataFrame = {
    val p = prepared(vecs, idCol, vecCol)
    val queries = p.filter(queryPred)
      .select(col("vec_id").as("query_id"), col("qe").as("q_qe"), col("n2").as("q_n2"))
    rankTopK(
      p.join(broadcast(queries), col("vec_id") =!= col("query_id"))
        .select(col("query_id"), col("vec_id").as("neighbor_id"),
          cosine(dotQ(col("qe"), col("q_qe")), col("n2"), col("q_n2")).as("cos")),
      k)
  }

  /** Maximal-Marginal-Relevance diversified top-k (Carbonell & Goldstein
    * 1998): select k results that balance relevance to the query against
    * redundancy with what's already selected —
    *
    *   pick_i = argmax over remaining candidates of
    *            λ·cos(c, query) − (1−λ)·max_{s ∈ selected} cos(c, s)
    *
    * — the diversity re-rank stage of a retrieval pipeline (dedup-aware
    * RAG/search serving). Two-stage scale shape: candidate generation is
    * DISTRIBUTED (exact cosine against the baked query vector, bounded
    * TakeOrdered top-candK — swap in the IVF/PQ index for the 100 TB
    * corpus, the interface is the same), then the inherently sequential
    * greedy runs driver-side over the ≤candK candidate set — O(candK²·k)
    * on a constant-bounded set, the same collect-then-bake budget as the
    * IVF centroid training.
    *
    * Determinism: cosines are the exact-Int64-dot / correctly-rounded
    * sqrt/divide doubles every other embedding op uses; λ and 1−λ are
    * materialized as lambdaNum/lambdaDen and (lambdaDen−lambdaNum)/
    * lambdaDen (NOT 1.0−λ, whose rounding differs from the directly-
    * rounded quotient), so scores are bit-identical to the oracle's
    * decimal literals; score ties break on the smaller id. */
  def mmrTopK(vecs: DataFrame, idCol: String, vecCol: String,
              queryId: Long, candK: Int, k: Int,
              lambdaNum: Long = 7L, lambdaDen: Long = 10L): DataFrame = {
    require(candK >= k && k >= 1, s"need candK >= k >= 1, got candK=$candK k=$k")
    require(lambdaDen >= 1L && lambdaNum >= 0L && lambdaNum <= lambdaDen)
    val spark = vecs.sparkSession
    import spark.implicits._
    val p = prepared(vecs, idCol, vecCol)
    val qRow = p.filter(col("vec_id") === queryId).select(col("qe"), col("n2")).collect()
    require(qRow.nonEmpty, s"query vector $queryId not found")
    val qqe = qRow(0).getSeq[Long](0).toArray
    val qn2 = qRow(0).getLong(1)
    val qLit = array(qqe.toIndexedSeq.map(lit(_)): _*)
    val cands = p.filter(col("vec_id") =!= queryId)
      .select(col("vec_id"), col("qe"), col("n2"),
        cosine(dotQ(col("qe"), qLit), col("n2"), lit(qn2)).as("rel"))
      .orderBy(col("rel").desc, col("vec_id"))
      .limit(candK)
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1).toArray, r.getLong(2), r.getDouble(3)))
    def cos(a: (Long, Array[Long], Long, Double), b: (Long, Array[Long], Long, Double)): Double = {
      var dot = 0L; var i = 0
      while (i < a._2.length) { dot += a._2(i) * b._2(i); i += 1 }
      dot.toDouble / (math.sqrt(a._3.toDouble) * math.sqrt(b._3.toDouble))
    }
    val lam = lambdaNum.toDouble / lambdaDen
    val mu = (lambdaDen - lambdaNum).toDouble / lambdaDen
    val sel = scala.collection.mutable.ArrayBuffer.empty[(Long, Double, Double)] // id, rel, score
    val selC = scala.collection.mutable.ArrayBuffer.empty[(Long, Array[Long], Long, Double)]
    val rem = scala.collection.mutable.ArrayBuffer(cands.toIndexedSeq: _*)
    while (sel.size < k && rem.nonEmpty) {
      var bi = 0; var bScore = Double.NegativeInfinity
      var i = 0
      while (i < rem.length) {
        val c = rem(i)
        // true max over selected (can be negative); empty set contributes 0
        var ms = if (selC.isEmpty) 0.0 else Double.NegativeInfinity
        var j = 0
        while (j < selC.length) { val s = cos(c, selC(j)); if (s > ms) ms = s; j += 1 }
        val score = lam * c._4 - mu * ms
        if (score > bScore || (score == bScore && c._1 < rem(bi)._1)) { bScore = score; bi = i }
        i += 1
      }
      val best = rem.remove(bi)
      sel += ((best._1, best._4, bScore))
      selC += best
    }
    sel.zipWithIndex
      .map { case ((id, rel, score), i) => (i + 1L, id, rel, score) }
      .toSeq.toDF("rnk", "neighbor_id", "rel", "score")
  }

  /** Element-wise integer mean of each cell's vectors (truncating DIV —
    * matches DuckDB's `//`): posexplode → per-(cell,pos) sum/count →
    * re-assembled in pos order. All shuffles keyed on (cell, pos)/cell.
    */
  private def recomputeCentroids(assigned: DataFrame): DataFrame =
    assigned
      .select(col("cell"), posexplode(col("qe")).as(Seq("pos", "v")))
      .groupBy("cell", "pos")
      .agg(sum("v").as("s"), count(lit(1)).as("c"))
      .withColumn("comp", expr("s DIV c"))
      .groupBy("cell")
      .agg(array_sort(collect_list(struct(col("pos"), col("comp")))).as("pc"))
      .select(col("cell"), expr("transform(pc, x -> x.comp)").as("cent"))

  /** IVF index QA — the cell-size balance profile of the trained coarse
    * quantizer: per-cell populations and the imbalance factor
    * (max·K/N ppm — 1e6 is perfectly balanced; a hot cell means probe
    * latency is bounded by IT, not the average, and the cure is more
    * cells or re-training). One in-row assignment against the
    * plan-baked centroids + one map-side-combined count. Returns ONE
    * row: (n_cells, n_vecs, min_sz, max_sz, balance_ppm).
    */
  def ivfCellProfile(vecs: DataFrame, idCol: String, vecCol: String,
                     numCells: Int, lloydIters: Int = 1): DataFrame = {
    val p = prepared(vecs, idCol, vecCol)
    val cents = trainCentroids(p, numCells, lloydIters)
    require(cents.nonEmpty, "IVF profile needs a non-empty corpus")
    assignCells(p, cents)
      .groupBy("cell").agg(count(lit(1)).as("sz"))
      .agg(count(lit(1)).as("n_cells"), sum("sz").as("n_vecs"),
        min("sz").as("min_sz"), max("sz").as("max_sz"))
      .select(col("n_cells"), col("n_vecs"), col("min_sz"), col("max_sz"),
        expr("1000000L * max_sz * n_cells div n_vecs").as("balance_ppm"))
  }

  /** IVF (inverted-file) ANN top-k with trained centroids: K seed
    * centroids (the lowest `numCells` vec_ids), `lloydIters` exact-integer
    * Lloyd refinements, inverted index = final cell assignment, search =
    * probe the `nprobe` nearest cells per query and exact-cosine rank
    * within them. All arithmetic is quantized Int64 (deterministic across
    * engines; the DuckDB oracle replicates it).
    *
    * Scale shape: centroids are always tiny (K×dim) and broadcast; the
    * data-sized stages are per-vector argmin windows (shuffle on vec_id),
    * centroid recompute (shuffle on (cell,pos)), and the probe join
    * (shuffle on cell) — the classic IVF layout where cells, not the
    * corpus, bound the per-query candidate set (expected k·N/K·nprobe
    * dots instead of N).
    */
  /** K seed centroids (the lowest `numCells` vec_ids) refined by
    * `lloydIters` exact-integer Lloyd rounds. Centroids live on the
    * DRIVER between rounds (K×dim values, bounded by the cell-count
    * parameter — the Spark MLlib KMeans pattern, never data-sized), so
    * every assignment is a per-row NearestCells evaluation against
    * plan-baked literals: NO crossJoin, NO per-vector argmin window, no
    * shuffle anywhere in assignment. Empty corpus → empty array. */
  private[graft] def trainCentroids(p: DataFrame, numCells: Int,
                                    lloydIters: Int): Array[(Long, Array[Long])] = {
    def collectCents(df: DataFrame): Array[(Long, Array[Long])] =
      df.collect().map(r => (r.getLong(0), r.getSeq[Long](1).toArray))
    var cents = collectCents(p.orderBy("vec_id").limit(numCells)
      .select(col("vec_id").as("cell"), col("qe").as("cent")))
    for (_ <- 0 until lloydIters if cents.nonEmpty)
      cents = collectCents(recomputeCentroids(assignCells(p, cents)))
    cents
  }

  /** Nearest-trained-cell id per vector, evaluated in-row. */
  private def assignCells(df: DataFrame, cents: Array[(Long, Array[Long])]): DataFrame =
    df.withColumn("cell",
      element_at(graft.functions.VectorFunctions.nearest_cells(col("qe"), cents, 1), 1))

  def ivfTopK(vecs: DataFrame, idCol: String, vecCol: String,
              queryPred: Column, k: Int, numCells: Int, nprobe: Int,
              lloydIters: Int = 1): DataFrame = {
    // same loud guard as ivfPqTopK: nprobe = 0 would silently return
    // zero rows (empty probe array -> null cell -> joinless result)
    require(numCells >= 1 && nprobe >= 1 && k >= 1,
      s"need numCells ($numCells), nprobe ($nprobe) and k ($k) >= 1")
    val p = prepared(vecs, idCol, vecCol)
    val cents = trainCentroids(p, numCells, lloydIters)
    // empty corpus → no centroids: answer the empty result with the right
    // schema instead of handing NearestCells an empty centroid table
    if (cents.isEmpty)
      return rankTopK(p.limit(0)
        .select(col("vec_id").as("query_id"), col("vec_id").as("neighbor_id"),
          lit(0.0).as("cos")), k)
    val index = assignCells(p, cents) // the inverted file
    // probe side: nprobe nearest trained cells per query, exploded —
    // queries are a filtered subset, broadcast into the candidate join
    val queries = p.filter(queryPred)
      .select(col("vec_id").as("query_id"), col("qe").as("q_qe"), col("n2").as("q_n2"))
      .withColumn("cell", explode_outer(
        graft.functions.VectorFunctions.nearest_cells(col("q_qe"), cents, nprobe)))
    rankTopK(
      index.join(broadcast(queries), Seq("cell"))
        .filter(col("vec_id") =!= col("query_id"))
        .select(col("query_id"), col("vec_id").as("neighbor_id"),
          cosine(dotQ(col("qe"), col("q_qe")), col("n2"), col("q_n2")).as("cos")),
      k)
  }

  /** Train an IVF centroid index on a batch corpus for reuse — e.g. by
    * the STREAMING semantic dedup, which assigns arriving vectors
    * against a fixed trained index (the offline-train / online-serve
    * split every production ANN system runs). K×dim longs, driver-held. */
  def trainIndex(vecs: DataFrame, idCol: String, vecCol: String,
                 numCells: Int, lloydIters: Int = 1): Array[(Long, Array[Long])] =
    trainCentroids(prepared(vecs, idCol, vecCol), numCells, lloydIters)

  /** Two-level (coarse → fine) IVF quantizer — the named scale follow-on
    * to the flat quantizer (BASELINE.md): flat assignment scores every
    * row against ALL K fine centroids, O(N·K·dim); here the `wCoarse`
    * nearest of K1 coarse cells pick which fine subsets the row is
    * scored against, O((K1 + w·K/K1)·dim) per row — the multi-probe
    * coarse layering every production IVF system adds once K grows past
    * ~10³ (w > 1 because in high dimensions the nearest fine cell
    * often lives under the 2nd-4th nearest coarse cell).
    *
    * Training is SAMPLE-bounded (the FAISS practice — quantizers never
    * need the corpus): fine centroids by the same exact-integer Lloyd
    * over ≤ sampleCap uniformly-sampled rows, then the coarse layer by
    * a driver-side Lloyd over the K fine centroids THEMSELVES (K×dim
    * longs — trivially driver-sized). Assignment stays a zero-shuffle
    * in-row expression: `HierNearestCell` does both levels in ONE eval
    * (a NearestCells-over-CASE composition recomputes the coarse argmin
    * per branch under projection collapse — measured slower than flat).
    *
    * The approximation is the standard one: a vector whose true nearest
    * fine cell lives outside the w probed coarse cells gets its best
    * within them. coarseCells = 1 (or w ≥ K1) reproduces flat assignment
    * bit-for-bit (OpsSpec asserts both); the probe records measured
    * flat-vs-hierarchical agreement alongside the speedup. */
  case class HierIndex(coarse: Array[(Long, Array[Long])],
                       fines: Map[Long, Array[(Long, Array[Long])]])

  def trainHierarchicalIndex(vecs: DataFrame, idCol: String, vecCol: String,
                             numCells: Int, coarseCells: Int = 0,
                             lloydIters: Int = 1,
                             sampleCap: Int = 65536): HierIndex = {
    val p = prepared(vecs, idCol, vecCol)
    val proj = p.select(col("vec_id"), col("qe"))
    val rows = proj.rdd.takeSample(withReplacement = false, num = sampleCap, seed = 11L)
    if (rows.isEmpty) return HierIndex(Array.empty, Map.empty)
    val sampled = p.sparkSession.createDataFrame(
      p.sparkSession.sparkContext.parallelize(rows.toIndexedSeq, 8), proj.schema)
    val fineCents = trainCentroids(sampled, numCells, lloydIters)
    val k1 = if (coarseCells > 0) coarseCells
      else math.max(1, math.round(math.sqrt(fineCents.length.toDouble)).toInt)
    // driver-side Lloyd over the fine centroids; same distance + integer
    // truncating mean as the distributed Lloyd (NearestCells'
    // cn2 − 2·dot ordering)
    def nearestIdx(v: Array[Long], cs: Array[Array[Long]]): Int = {
      var best = 0
      var bestD = Long.MaxValue
      var c = 0
      while (c < cs.length) {
        val cent = cs(c)
        val n = math.min(v.length, cent.length)
        var dot = 0L
        var cn2 = 0L
        var i = 0
        while (i < n) { dot += v(i) * cent(i); i += 1 }
        i = 0
        while (i < cent.length) { cn2 += cent(i) * cent(i); i += 1 }
        val d = cn2 - 2L * dot
        if (d < bestD) { bestD = d; best = c }
        c += 1
      }
      best
    }
    var coarse: Array[Array[Long]] = fineCents.sortBy(_._1).take(k1).map(_._2)
    for (_ <- 0 until 3) {
      val asg = fineCents.map(fc => nearestIdx(fc._2, coarse))
      coarse = coarse.indices.map { g =>
        val members = fineCents.indices.filter(i => asg(i) == g).map(fineCents(_)._2)
        if (members.isEmpty) coarse(g)
        else Array.tabulate(members.head.length)(d => members.map(_(d)).sum / members.length)
      }.toArray
    }
    val asg = fineCents.map(fc => nearestIdx(fc._2, coarse))
    val fines = fineCents.indices.groupBy(i => asg(i).toLong)
      .map { case (g, is) => g -> is.map(fineCents(_)).toArray }
    // a coarse cell with no fine members can never yield an assignment —
    // drop it so every matched branch has candidates
    val coarseBaked = coarse.indices.collect {
      case g if fines.contains(g.toLong) => (g.toLong, coarse(g))
    }.toArray
    HierIndex(coarseBaked, fines)
  }

  /** (vec_id, cell) via the two-level quantizer — zero shuffles.
    * `wCoarse` is the multi-probe width: how many nearest coarse cells
    * contribute their fine subsets (per-row cost (K1 + w·K/K1)·dim; in
    * high dimensions the nearest fine cell often lives under the 2nd-4th
    * nearest coarse cell, so w=1 loses too much — the probe measures
    * agreement vs flat per w). */
  def assignHierarchical(vecs: DataFrame, idCol: String, vecCol: String,
                         idx: HierIndex, wCoarse: Int = 4): DataFrame =
    assignCellsH(prepared(vecs, idCol, vecCol), idx, wCoarse)
      .select(col("vec_id"), col("cell"))

  /** (vec_id, cell) via the flat quantizer — the O(N·K·dim) baseline
    * assignHierarchical replaces at scale; public so QA/probes can
    * measure agreement and cost side by side. */
  def assignFlat(vecs: DataFrame, idCol: String, vecCol: String,
                 numCells: Int, lloydIters: Int = 1): DataFrame = {
    val p = prepared(vecs, idCol, vecCol)
    val cents = trainCentroids(p, numCells, lloydIters)
    if (cents.isEmpty)
      return p.limit(0).select(col("vec_id"), col("vec_id").as("cell"))
    assignCells(p, cents).select(col("vec_id"), col("cell"))
  }

  private def assignCellsH(df: DataFrame, idx: HierIndex, wCoarse: Int): DataFrame = {
    require(idx.coarse.nonEmpty, "empty hierarchical index")
    df.withColumn("cell", graft.functions.VectorFunctions.hier_nearest_cell(
      col("qe"), idx.coarse, idx.fines, wCoarse))
  }

  /** Semantic deduplication (SemDeDup-style, Abbas et al. 2023): cluster
    * the corpus with trained IVF centroids, then within each cluster mark
    * every vector that has a LOWER-id cluster-mate with cosine >=
    * `threshold` as a duplicate — the keep-one-per-near-identical-set
    * policy that pruned LAION/C4 training sets. Output: (vec_id, cell,
    * kept 1/0), every input vector accounted for.
    *
    * Scale shape: the quadratic pairwise NEVER leaves a cluster — one
    * shuffle on the cell id, candidate count bounded by (N/K)² per cell,
    * and at 100 TB you raise `numCells` so N/K stays constant (the same
    * knob as ivfTopK). Assignment itself is a zero-shuffle in-row
    * projection against plan-baked centroids; the duplicate set comes
    * back as a broadcast-able id list (bounded by the duplicate count,
    * not the corpus).
    *
    * SIZING RULE (numCells = 0 → auto): pair work is Θ(N²/K) and
    * training cost Θ(N·K), so K = ⌈√N⌉ balances them at Θ(N^1.5) total —
    * the round-15 sf10 probe measured the fixture's FIXED K=8 at ~60×
    * cost for 10× rows, and K ∝ √N returning 63× of it (329.6 → 5.2 s at
    * 200k vectors, matching prune quality). numCells = 0 runs one count
    * job and uses ⌈√N⌉; explicit values are for oracle replays (training
    * must be reproducible) and for callers with a measured better K.
    */
  def semDedup(vecs: DataFrame, idCol: String, vecCol: String,
               numCells: Int, threshold: Double,
               lloydIters: Int = 1, coarseCells: Int = 0,
               wCoarse: Int = 4): DataFrame = {
    require(numCells >= 0, s"numCells must be >= 0 (0 = auto ⌈√N⌉), got $numCells")
    val p = prepared(vecs, idCol, vecCol)
    val cells =
      if (numCells > 0) numCells
      else math.max(1, math.ceil(math.sqrt(p.count().toDouble)).toInt)
    def empty = p.limit(0).select(col("vec_id"), col("vec_id").as("cell"),
      lit(1L).as("kept"))
    // coarseCells > 0 routes assignment through the two-level quantizer —
    // the K ≫ 10³ path where flat per-row scoring stops being free
    val index =
      if (coarseCells > 0) {
        val idx = trainHierarchicalIndex(vecs, idCol, vecCol, cells,
          coarseCells, lloydIters)
        if (idx.coarse.isEmpty) return empty
        assignCellsH(p, idx, wCoarse)
      } else {
        val cents = trainCentroids(p, cells, lloydIters)
        if (cents.isEmpty) return empty
        assignCells(p, cents)
      }
    val pruned = index.as("a").join(index.as("b"),
        col("a.cell") === col("b.cell") && col("a.vec_id") < col("b.vec_id"))
      .filter(cosine(dotQ(col("a.qe"), col("b.qe")),
        col("a.n2"), col("b.n2")) >= threshold)
      .select(col("b.vec_id").as("vec_id")).distinct()
      .withColumn("__dup", lit(1))
    index.select(col("vec_id"), col("cell"))
      .join(pruned, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cell"),
        when(col("__dup").isNull, 1L).otherwise(0L).as("kept"))
  }

  /** Product-quantization ANN (Jégou et al. 2011 "Product quantization
    * for nearest neighbor search"): the corpus is compressed to `numSub`
    * codeword ids per vector — each subspace's codebook is
    * `codebookSize` centroids over a `subDim`-dim slice, trained with
    * the same exact-integer Lloyd as ivfTopK (seeds = lowest ids, one
    * truncating-mean refinement, ALL subspaces refined in one job) —
    * queries score every vector by asymmetric distance (exact query
    * vector against the reconstructed codewords), and the top `candK`
    * ADC candidates are re-ranked by exact cosine to the final k.
    *
    * Scale shape: codebooks are numSub×codebookSize×subDim longs,
    * driver-trained and plan-baked like ivfTopK's centroids; encoding
    * and ADC scoring are zero-shuffle in-row projections — at 100 TB the
    * scan reads numSub small codes per vector instead of the full float
    * array (the 8-32× scan-bytes reduction that is the point of PQ);
    * candidate selection is the bounded top-k aggregate, and only
    * candK rows per query ever touch full vectors again (broadcast
    * re-rank join). All arithmetic is quantized Int64 (ADC sums stay
    * below 2^53, so the Double top-k scores are exact).
    */
  /** Seed collect for PQ trainings, with the short-vector check (a short
    * SEED would silently truncate every subspace slice; non-seed rows
    * are guarded in-row by pqAssign). */
  private def pqSeedRows(p: DataFrame, n: Int, numSub: Int,
                         subDim: Int): Array[(Long, Array[Long])] = {
    val rows = p.orderBy("vec_id").limit(n)
      .select("vec_id", "qe").collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1).toArray))
    rows.find(_._2.length < numSub * subDim).foreach { case (id, v) =>
      throw new IllegalArgumentException(
        s"PQ needs $numSub x $subDim = ${numSub * subDim} dims; vec $id has ${v.length}")
    }
    rows
  }

  /** Melt per-subspace assignments to tagged (sub, cell, pos, v) rows;
    * `withIvfLayer` adds the full-vector coarse layer as sub = -1. */
  private def meltSubspaces(assigned: DataFrame, numSub: Int, subDim: Int,
                            withIvfLayer: Boolean): DataFrame = {
    val entries =
      (if (withIvfLayer) Seq(struct(lit(-1).as("sub"), col("cell"), col("qe").as("sv")))
       else Nil) ++
        (0 until numSub).map(s => struct(lit(s).as("sub"), col(s"c$s").as("cell"),
          slice(col("qe"), s * subDim + 1, subDim).as("sv")))
    assigned.select(explode(array(entries: _*)).as("x"))
      .select(col("x.sub").as("sub"), col("x.cell").as("cell"),
        posexplode(col("x.sv")).as(Seq("pos", "v")))
  }

  /** Truncating-DIV Lloyd mean over melted (sub, cell, pos, v) rows —
    * the ONE copy of the refine aggregation every PQ/IVF-PQ training
    * runs (bit-identical behavior across paths is load-bearing: the
    * sim4/sim5 oracles replay exactly this arithmetic). */
  private def refineMelted(melted: DataFrame): Array[org.apache.spark.sql.Row] =
    melted.groupBy("sub", "cell", "pos")
      .agg(sum("v").as("s"), count(lit(1)).as("c"))
      .withColumn("comp", expr("s DIV c"))
      .groupBy("sub", "cell")
      .agg(array_sort(collect_list(struct(col("pos"), col("comp")))).as("pc"))
      .select(col("sub"), col("cell"), expr("transform(pc, x -> x.comp)").as("cent"))
      .collect()

  private def codebooksOf(refined: Array[org.apache.spark.sql.Row],
                          numSub: Int): Array[Array[(Long, Array[Long])]] =
    Array.tabulate(numSub) { s =>
      refined.filter(_.getInt(0) == s)
        .map(r => (r.getLong(1), r.getSeq[Long](2).toArray))
        .sortBy(_._1)
    }

  private def pqSeedCodebooks(seedRows: Array[(Long, Array[Long])], numSub: Int,
                              subDim: Int, codebookSize: Int): Array[Array[(Long, Array[Long])]] =
    Array.tabulate(numSub)(s => seedRows.take(codebookSize).map { case (id, v) =>
      (id, v.slice(s * subDim, (s + 1) * subDim))
    })

  /** Per-subspace PQ codebooks: seeds = the lowest `codebookSize` ids'
    * subvector slices, ONE exact-integer Lloyd refinement across ALL
    * subspaces in a single job (melt to (sub, cell, pos, v), truncating
    * DIV mean — the oracle's `//` replays it). Empty corpus → empty. */
  private[graft] def trainPqCodebooks(p: DataFrame, numSub: Int, subDim: Int,
                                      codebookSize: Int): Array[Array[(Long, Array[Long])]] = {
    val seedRows = pqSeedRows(p, codebookSize, numSub, subDim)
    if (seedRows.isEmpty) return Array.empty
    val seeds = pqSeedCodebooks(seedRows, numSub, subDim, codebookSize)
    codebooksOf(refineMelted(
      meltSubspaces(pqAssign(p, seeds, subDim), numSub, subDim, withIvfLayer = false)),
      numSub)
  }

  /** Zero-shuffle in-row PQ encoding: code column c<s> per subspace. A
    * vector shorter than numSub×subDim would silently truncate its slices
    * (NearestCells/DotProductLong run over min length) — the driver-side
    * seed check only sees the lowest ids, so guard EVERY row in-row. */
  private def pqAssign(df: DataFrame, cbs: Array[Array[(Long, Array[Long])]],
                       subDim: Int): DataFrame = {
    val dims = cbs.length * subDim
    val guarded = df.withColumn("qe",
      when(size(col("qe")) < dims,
        expr(s"raise_error(concat('PQ needs $dims dims; vec has ', size(qe)))"))
        .otherwise(col("qe")))
    cbs.indices.foldLeft(guarded) { (d, s) =>
      d.withColumn(s"c$s", element_at(
        graft.functions.VectorFunctions.nearest_cells(
          slice(col("qe"), s * subDim + 1, subDim), cbs(s), 1), 1))
    }
  }

  /** In-row reconstruction from code columns via plan-baked code→codeword
    * maps (the ADC lookup table in column form). */
  private def pqRecon(cbs: Array[Array[(Long, Array[Long])]]): Column =
    concat(cbs.indices.map { s =>
      element_at(typedLit(cbs(s).map { case (cell, cent) => cell -> cent.toSeq }.toMap),
        col(s"c$s"))
    }: _*)

  /** ADC top-candK then exact-cosine re-rank to k, shared by the PQ
    * variants: `scored` carries (query_id, neighbor_id, cos=ADC). Only
    * candK rows per query ever touch full vectors again. */
  private def pqRerank(p: DataFrame, queries: DataFrame, scored: DataFrame,
                       k: Int, candK: Int): DataFrame = {
    val top = rankTopK(scored, candK).select("query_id", "neighbor_id")
    val exact = broadcast(top)
      .join(p.select(col("vec_id").as("neighbor_id"),
        col("qe").as("n_qe"), col("n2").as("n_n2")), Seq("neighbor_id"))
      .join(broadcast(queries), Seq("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        cosine(dotQ(col("n_qe"), col("q_qe")), col("n_n2"), col("q_n2")).as("cos"))
    rankTopK(exact, k)
  }

  /** PQ quantization QA — per-subspace reconstruction distortion of the
    * trained codebooks over the corpus: Σ‖subvector − codeword‖² in
    * exact Int64 micro-unit² sums, plus the per-vector average. The
    * measurement that sizes codebookSize/subDim BEFORE an index build
    * (and the reason ADC results re-rank through exact vectors). One
    * in-row assignment pass against the plan-baked codebooks + one
    * aggregate; nothing is collected beyond the codebooks themselves.
    * Returns (sub, n_vecs, total_err, avg_err).
    */
  def pqDistortion(vecs: DataFrame, idCol: String, vecCol: String,
                   numSub: Int, subDim: Int, codebookSize: Int): DataFrame = {
    val p = prepared(vecs, idCol, vecCol)
    val cbs = trainPqCodebooks(p, numSub, subDim, codebookSize)
    require(cbs.nonEmpty, "PQ distortion needs a non-empty corpus")
    val assigned = pqAssign(p, cbs, subDim)
    val errs = cbs.indices.map { s =>
      val cw = element_at(
        typedLit(cbs(s).map { case (cell, cent) => cell -> cent.toSeq }.toMap),
        col(s"c$s"))
      val sv = slice(col("qe"), s * subDim + 1, subDim)
      aggregate(zip_with(sv, cw, (a, b) => (a - b) * (a - b)),
        lit(0L), (acc, x) => acc + x).as(s"e$s")
    }
    assigned.select(errs: _*)
      .select(posexplode(array(cbs.indices.map(s => col(s"e$s")): _*))
        .as(Seq("sub", "e")))
      .groupBy(col("sub").cast(LongType).as("sub"))
      .agg(count(lit(1)).as("n_vecs"), sum("e").as("total_err"))
      .select(col("sub"), col("n_vecs"), col("total_err"),
        expr("total_err div n_vecs").as("avg_err"))
  }

  def pqTopK(vecs: DataFrame, idCol: String, vecCol: String,
             queryPred: Column, k: Int, numSub: Int, subDim: Int,
             codebookSize: Int, candK: Int): DataFrame = {
    require(numSub >= 1 && subDim >= 1 && codebookSize >= 1 && k >= 1 && candK >= k,
      s"need numSub/subDim/codebookSize >= 1 and candK ($candK) >= k ($k)")
    val p = prepared(vecs, idCol, vecCol)
    val cbs = trainPqCodebooks(p, numSub, subDim, codebookSize)
    if (cbs.isEmpty)
      return rankTopK(p.limit(0).select(col("vec_id").as("query_id"),
        col("vec_id").as("neighbor_id"), lit(0.0).as("cos")), k)
    val queries = p.filter(queryPred)
      .select(col("vec_id").as("query_id"), col("qe").as("q_qe"), col("n2").as("q_n2"))
    // ADC candidate scoring: integer dot against the reconstruction; the
    // scores are exact in Double, ties go to the lower neighbor id
    val cands = pqAssign(p, cbs, subDim).withColumn("recon", pqRecon(cbs))
      .join(broadcast(queries), col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        dotQ(col("recon"), col("q_qe")).cast(DoubleType).as("cos"))
    pqRerank(p, queries, cands, k, candK)
  }

  /** IVF-PQ ANN — the production composition (FAISS's IVFPQ layout):
    * IVF cells bound the CANDIDATE SET (nprobe cells per query instead
    * of the corpus), PQ codes bound the SCAN BYTES (numSub codes per
    * candidate instead of the float array), and only the top `candK`
    * ADC-scored candidates per query are re-ranked on full vectors.
    * Training = ivfTopK's integer Lloyd for the coarse cells + PQ's
    * per-subspace codebooks, both driver-held and plan-baked.
    *
    * Scale shape: the inverted file shuffles once on the cell id (the
    * sim3 probe-join shape) but moves (cell, codes) rows; the quadratic
    * never exceeds cells×nprobe×(N/K) candidates; full vectors are
    * touched for exactly candK ids per query via broadcast joins.
    */
  /** One-job joint training for IVF-PQ: BOTH the coarse-cell Lloyd
    * refinement and every PQ subspace's refinement aggregate from the
    * same scan, melted into tagged (layer, cell, pos, v) rows — sub = -1
    * is the IVF layer, sub >= 0 the PQ subspaces. One seed collect (the
    * lowest max(numCells, codebookSize) ids serve both layers) + one
    * refine job, vs four sequential jobs for the two trainings run
    * separately. The arithmetic is bit-identical to the separate paths
    * (same seeds, same truncating-DIV means), so the oracle — which
    * replays the two trainings independently — is unaffected.
    */
  private def trainIvfPqJoint(p: DataFrame, numCells: Int, numSub: Int,
                              subDim: Int, codebookSize: Int)
      : (Array[(Long, Array[Long])], Array[Array[(Long, Array[Long])]]) = {
    val seedRows = pqSeedRows(p, math.max(numCells, codebookSize), numSub, subDim)
    if (seedRows.isEmpty) return (Array.empty, Array.empty)
    val ivfSeeds = seedRows.take(numCells)
    val pqSeeds = pqSeedCodebooks(seedRows, numSub, subDim, codebookSize)
    val refined = refineMelted(meltSubspaces(
      pqAssign(assignCells(p, ivfSeeds), pqSeeds, subDim),
      numSub, subDim, withIvfLayer = true))
    val cents = refined.filter(_.getInt(0) == -1)
      .map(r => (r.getLong(1), r.getSeq[Long](2).toArray)).sortBy(_._1)
    (cents, codebooksOf(refined, numSub))
  }

  def ivfPqTopK(vecs: DataFrame, idCol: String, vecCol: String,
                queryPred: Column, k: Int, numCells: Int, nprobe: Int,
                numSub: Int, subDim: Int, codebookSize: Int, candK: Int): DataFrame = {
    require(numSub >= 1 && subDim >= 1 && codebookSize >= 1 && k >= 1 && candK >= k,
      s"need numSub/subDim/codebookSize >= 1 and candK ($candK) >= k ($k)")
    require(numCells >= 1 && nprobe >= 1,
      s"need numCells ($numCells) >= 1 and nprobe ($nprobe) >= 1")
    val p = prepared(vecs, idCol, vecCol)
    val (cents, cbs) = trainIvfPqJoint(p, numCells, numSub, subDim, codebookSize)
    if (cents.isEmpty || cbs.isEmpty)
      return rankTopK(p.limit(0).select(col("vec_id").as("query_id"),
        col("vec_id").as("neighbor_id"), lit(0.0).as("cos")), k)
    // the inverted file: cell id + PQ reconstruction per vector (at scale
    // this is the ONLY data-sized projection, and it carries codes, not
    // full vectors)
    val index = pqAssign(assignCells(p, cents), cbs, subDim)
      .select(col("vec_id"), col("cell"), pqRecon(cbs).as("recon"))
    val queries = p.filter(queryPred)
      .select(col("vec_id").as("query_id"), col("qe").as("q_qe"), col("n2").as("q_n2"))
    val probed = queries.withColumn("cell", explode_outer(
      graft.functions.VectorFunctions.nearest_cells(col("q_qe"), cents, nprobe)))
    val cands = index.join(broadcast(probed), Seq("cell"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        dotQ(col("recon"), col("q_qe")).cast(DoubleType).as("cos"))
    pqRerank(p, queries, cands, k, candK)
  }

  /** Deterministic ±1 hyperplane components: sign(p,d) = +1 iff the first
    * hex digit of md5("<p>_<d>") is even. Computed at plan-build time and
    * baked in as literals (the oracle recomputes the same md5 values). */
  def planeSigns(planes: Int, dim: Int): Seq[Seq[Long]] = {
    val mdt = java.security.MessageDigest.getInstance("MD5")
    (0 until planes).map { p =>
      (0 until dim).map { d =>
        val h = mdt.digest(s"${p}_$d".getBytes("UTF-8"))
        if (((h(0) >> 4) & 0xf) % 2 == 0) 1L else -1L
      }
    }
  }

  /** Bit-string LSH signature of a quantized vector: bit p = 1 iff the
    * signed projection onto plane p is positive (exact Int64 sum). */
  def lshSignature(qe: Column, signs: Seq[Seq[Long]]): Column =
    concat(signs.map { s =>
      val proj = graft.functions.VectorFunctions.dot_q(qe, typedLit(s))
      when(proj > 0, lit("1")).otherwise(lit("0"))
    }: _*)

  /** ANN top-k within hyperplane-LSH buckets: candidates are corpus
    * vectors sharing the query's signature (expected N/2^planes of them),
    * then exact cosine rank within the bucket. At 100 TB you'd raise
    * `planes` and add multi-probe/repetition; the plan shape (shuffle on
    * signature, per-bucket ranking) is unchanged.
    */
  def annTopK(vecs: DataFrame, idCol: String, vecCol: String,
              queryPred: Column, k: Int, planes: Int, dim: Int): DataFrame = {
    val signs = planeSigns(planes, dim)
    val p = prepared(vecs, idCol, vecCol)
      .withColumn("sig", lshSignature(col("qe"), signs))
    val queries = p.filter(queryPred)
      .select(col("vec_id").as("query_id"), col("qe").as("q_qe"),
        col("n2").as("q_n2"), col("sig").as("q_sig"))
    rankTopK(
      p.join(broadcast(queries), col("sig") === col("q_sig") && col("vec_id") =!= col("query_id"))
        .select(col("query_id"), col("vec_id").as("neighbor_id"),
          cosine(dotQ(col("qe"), col("q_qe")), col("n2"), col("q_n2")).as("cos")),
      k)
  }

  /** BANDED query-time ANN top-k — annTopK with sim13's (B, R) dial: R
    * independent signatures of B planes each instead of one wide one,
    * per-query recall ≈ 1 − (1 − p^B)^R at candidates ≈ R·|bucket|.
    * Same shapes as knnGraphBanded restricted to the query subset: the
    * query side broadcasts, a pair surfaced by several bands ranks ONCE
    * (exact-cosine dedupe before the bounded top-k). */
  def annTopKBanded(vecs: DataFrame, idCol: String, vecCol: String,
                    queryPred: Column, k: Int, planesPerBand: Int,
                    bands: Int, dim: Int): DataFrame = {
    require(planesPerBand >= 1 && bands >= 1 && k >= 1,
      s"need planesPerBand ($planesPerBand), bands ($bands), k ($k) >= 1")
    val signs = planeSigns(planesPerBand * bands, dim)
    val sigCols = (0 until bands).map { b =>
      concat(lit(s"$b:"),
        lshSignature(col("qe"), signs.slice(b * planesPerBand, (b + 1) * planesPerBand)))
    }
    val p = prepared(vecs, idCol, vecCol)
      .withColumn("sig", explode(array(sigCols: _*)))
    val queries = p.filter(queryPred)
      .select(col("vec_id").as("query_id"), col("qe").as("q_qe"),
        col("n2").as("q_n2"), col("sig"))
    rankTopK(
      p.join(broadcast(queries), Seq("sig"))
        .filter(col("vec_id") =!= col("query_id"))
        .select(col("query_id"), col("vec_id").as("neighbor_id"),
          cosine(dotQ(col("qe"), col("q_qe")), col("n2"), col("q_n2")).as("cos")),
      k, dedup = true) // multi-band twins skip inside the bounded buffer
  }

  /** DCG discount weights in ppm: round(1e6 / log2(rank+1)) for ranks
    * 1..k — baked as integer literals into BOTH the Spark plan and the
    * DuckDB oracle so the only floats in the IR metrics are single
    * divisions of identical Int64 operands (bit-portable). */
  def dcgWeightsPpm(k: Int): IndexedSeq[Long] =
    (1 to k).map(r => math.round(1e6 / (math.log(r + 1.0) / math.log(2.0))))

  /** IR RANKING METRICS for the banded-LSH ANN path — the offline eval
    * harness a retrieval deployment runs on a query sample before (and
    * after) every index rebuild: per query, with "relevant" = shares the
    * query's `labelCol` (the standard label-proxy relevance of ANN
    * benchmarks), over the annTopKBanded top-`k`:
    *
    *   - n_rel_corpus  — relevant items available (label count − self)
    *   - n_rel_topk    — relevant retrieved in the top-k
    *   - first_rel_rank (0 = none), rr = 1/first_rel_rank  (→ MRR)
    *   - recall_at_k   = n_rel_topk / min(k, n_rel_corpus)
    *   - dcg_ppm, ndcg_at_k — binary-relevance DCG with the ppm integer
    *     discount table above; nDCG's ideal is the prefix sum of the
    *     first min(k, n_rel_corpus) weights
    *
    * Scale shape: the ranked lists are query-sample-sized (nq·k rows), so
    * every post-ranking join BROADCASTS the ranked side against the
    * corpus-sized label projection — the corpus is never broadcast and
    * never reshuffled; label frequencies are one map-side-combined
    * aggregate (|labels| rows, broadcast back). Metrics are integer
    * aggregates + one baked-literal lookup each — determinism per the
    * quantization contract at the top of this file. */
  def irMetricsBanded(vecs: DataFrame, idCol: String, vecCol: String,
                      labelCol: String, queryPred: Column, k: Int,
                      planesPerBand: Int, bands: Int, dim: Int): DataFrame = {
    val ranked = annTopKBanded(vecs, idCol, vecCol, queryPred, k,
        planesPerBand, bands, dim)
      .select(col("query_id"), col("neighbor_id"), col("rnk").cast(LongType).as("rnk"))
    val labels = vecs.select(col(idCol).cast(LongType).as("__id"),
      col(labelCol).cast(LongType).as("__lab"))
    // corpus-side joins: tiny ranked/metric side broadcast, labels streamed
    val withNb = labels.join(broadcast(ranked), col("__id") === col("neighbor_id"))
      .select(col("query_id"), col("rnk"), col("__lab").as("nb_label"))
    val withQ = labels.join(broadcast(withNb), col("__id") === col("query_id"))
      .select(col("query_id"), col("__lab").as("q_label"), col("rnk"), col("nb_label"))
    val labCounts = labels.groupBy(col("__lab").as("q_label"))
      .agg(count(lit(1)).as("__c"))
    val w = dcgWeightsPpm(k)
    val idcg = w.scanLeft(0L)(_ + _).tail
    val rel = col("nb_label") === col("q_label")
    val wAt = element_at(array(w.map(lit): _*), col("rnk").cast(IntegerType))
    val kEff = least(lit(k.toLong), col("n_rel_corpus"))
    withQ.groupBy("query_id", "q_label")
      .agg(sum(when(rel, 1L).otherwise(0L)).as("n_rel_topk"),
        coalesce(min(when(rel, col("rnk"))), lit(0L)).as("first_rel_rank"),
        sum(when(rel, wAt).otherwise(0L)).as("dcg_ppm"))
      .join(broadcast(labCounts), Seq("q_label"))
      .withColumn("n_rel_corpus", col("__c") - 1L)
      .select(col("query_id"), col("q_label"), col("n_rel_corpus"),
        col("n_rel_topk"), col("first_rel_rank"), col("dcg_ppm"),
        when(col("first_rel_rank") > 0L,
          lit(1.0) / col("first_rel_rank").cast(DoubleType)).otherwise(lit(0.0)).as("rr"),
        when(kEff > 0L, col("n_rel_topk").cast(DoubleType) / kEff.cast(DoubleType))
          .otherwise(lit(0.0)).as(s"recall_at_$k"),
        when(kEff > 0L, col("dcg_ppm").cast(DoubleType) /
            element_at(array(idcg.map(lit): _*), greatest(kEff, lit(1L)).cast(IntegerType))
              .cast(DoubleType))
          .otherwise(lit(0.0)).as(s"ndcg_at_$k"))
  }

  /** Attribute-FILTERED ANN top-k — the "hybrid search" shape every
    * retrieval stack needs (top-k similar WHERE lang = 'en' AND ...):
    * `candPred` restricts the corpus side BEFORE any distance math and
    * before the bucket join's shuffle, so a selective filter SHRINKS the
    * candidate work — the alternative, post-filtering an unfiltered
    * top-k, silently under-fills k whenever fewer than k of the nearest
    * neighbors satisfy the predicate (the classic filtered-ANN bug).
    * Recall trades exactly as sim2's (same signature blocking); at very
    * high selectivity a real deployment flips to brute force over the
    * filtered slice — compose topKBruteForce(vecs.filter(candPred)) for
    * that regime. `extraCols` carries the filter attributes through the
    * quantization projection. */
  def annTopKFiltered(vecs: DataFrame, idCol: String, vecCol: String,
                      queryPred: Column, candPred: Column, k: Int,
                      planes: Int, dim: Int,
                      extraCols: Seq[String] = Nil): DataFrame = {
    val signs = planeSigns(planes, dim)
    val p = prepared(vecs, idCol, vecCol, extraCols)
      .withColumn("sig", lshSignature(col("qe"), signs))
    val queries = p.filter(queryPred)
      .select(col("vec_id").as("query_id"), col("qe").as("q_qe"),
        col("n2").as("q_n2"), col("sig").as("q_sig"))
    rankTopK(
      p.filter(candPred)
        .join(broadcast(queries), col("sig") === col("q_sig") && col("vec_id") =!= col("query_id"))
        .select(col("query_id"), col("vec_id").as("neighbor_id"),
          cosine(dotQ(col("qe"), col("q_qe")), col("n2"), col("q_n2")).as("cos")),
      k)
  }

  /** Semantic eval-contamination screen — the embedding twin of tx8's
    * n-gram overlap check: flag (eval, train) pairs whose cosine clears
    * `minCos`, i.e. eval documents whose near-paraphrases leaked into the
    * training corpus (verbatim n-gram screens miss paraphrase leakage —
    * the reason modern decontamination runs BOTH). Candidates come from
    * the hyperplane-LSH signature equi-join (the sim2 blocking: expected
    * N/2^planes candidates per bucket, never a crossJoin), the tiny eval
    * side broadcast; the exact quantized-Int64 cosine then filters inside
    * the join projection — zero extra shuffles. Recall is bounded by the
    * LSH (same trade as sim2); at 100 TB you raise `planes` and add
    * multi-probe/band repetitions, leaving the plan shape unchanged.
    * Returns flagged (eval_id, train_id, cos) pairs.
    */
  def semanticContamination(vecs: DataFrame, idCol: String, vecCol: String,
                            evalPred: Column, minCos: Double,
                            planes: Int, dim: Int): DataFrame = {
    val signs = planeSigns(planes, dim)
    val p = prepared(vecs, idCol, vecCol)
      .withColumn("sig", lshSignature(col("qe"), signs))
    val eval = p.filter(evalPred)
      .select(col("vec_id").as("eval_id"), col("qe").as("e_qe"),
        col("n2").as("e_n2"), col("sig"))
    p.filter(!evalPred)
      .join(broadcast(eval), "sig")
      .select(col("eval_id"), col("vec_id").as("train_id"),
        cosine(dotQ(col("qe"), col("e_qe")), col("n2"), col("e_n2")).as("cos"))
      .where(col("cos") >= minCos)
  }

  /** Distributed PCA projection — the dimensionality-reduction step
    * pipelines run before ANN indexing or clustering. Training is ONE
    * fixed-state pass: `GramAggregate` accumulates [n, Σv, Σvvᵀ] with
    * dim·(dim+3)/2+1 longs of state total (exact Int64 on
    * gramScale-reduced components, so the moments — and therefore the
    * eigenbasis — are independent of partitioning and merge order). The
    * driver builds the dim×dim covariance from the one collected buffer
    * and runs a cyclic Jacobi eigensolve (deterministic sweep order,
    * canonical sign: each eigenvector's largest-|component| entry is
    * positive); the top `outDim` eigenvectors bake into a zero-shuffle
    * in-row `MatVecProject` serving pass — train-once/project-anywhere,
    * the same collect-then-bake shape as the IVF centroids (bounded by
    * dim², never data-sized).
    *
    * Output: (vec_id, proj array<double> of outDim centered
    * coordinates). gramScale trades moment precision for overflow
    * headroom: sums of (qe/gramScale)² × rows must stay inside 63 bits
    * (defaults cover unit-normalized embeddings up to ~10¹² rows).
    */
  def pcaProject(vecs: DataFrame, idCol: String, vecCol: String,
                 dim: Int, outDim: Int, gramScale: Long = 1000L): DataFrame = {
    require(dim >= 1 && outDim >= 1 && outDim <= dim,
      s"need 1 <= outDim ($outDim) <= dim ($dim)")
    val p = prepared(vecs, idCol, vecCol)
    val row = p.agg(graft.functions.GramAggregate
      .gram_acc(col("qe"), dim, gramScale).as("g")).head()
    val buf = row.getSeq[Long](0).toArray
    if (buf(0) == 0L)
      return p.limit(0).select(col("vec_id"),
        array().cast(ArrayType(DoubleType, containsNull = false)).as("proj"))
    val m = trainPca(buf, dim, outDim)
    // center in VALUE units (qe = value·1e6; sums are qe/gramScale)
    val center = m.meanR.map(_ * gramScale / 1e6)
    p.select(col("vec_id"),
      graft.functions.VectorFunctions.matvec_project(
        col("qe"), m.basis, center, 1e-6).as("proj"))
  }

  /** Driver-side PCA model built from ONE collected Gram buffer — the
    * collect-then-bake step shared by projection and audit. All fields
    * are O(dim²), never data-sized. `traceInt` is the n²-scaled
    * covariance trace Σᵢ(n·Gᵢᵢ − Sᵢ²) in EXACT Int64 — the SQL-checkable
    * anchor tying the spectrum to the raw data (fits 63 bits whenever
    * the Gram itself does, i.e. n·Σr² < 2⁶²). */
  private[graft] final case class PcaModel(n: Long, meanR: Array[Double],
      traceInt: Long, traceDbl: Double, eigsDesc: Array[Double],
      basis: Array[Array[Double]])

  /** Covariance from the Gram buffer (in (qe/gramScale)² units — unit
    * conversion only affects eigenVALUE scale, not the eigenbasis),
    * cyclic-Jacobi spectrum sorted descending, canonical-sign top
    * `outDim` eigenvectors (largest-|component| entry positive). */
  private[graft] def trainPca(buf: Array[Long], dim: Int, outDim: Int): PcaModel = {
    val n = buf(0)
    require(n > 0L, "trainPca needs a non-empty Gram buffer")
    val mean = Array.tabulate(dim)(i => buf(1 + i).toDouble / n)
    val cov = Array.ofDim[Double](dim, dim)
    var traceInt = 0L
    var g = 1 + dim
    var i = 0
    while (i < dim) {
      var j = i
      while (j < dim) {
        val c = buf(g).toDouble / n - mean(i) * mean(j)
        cov(i)(j) = c; cov(j)(i) = c
        if (j == i) traceInt += n * buf(g) - buf(1 + i) * buf(1 + i)
        j += 1; g += 1
      }
      i += 1
    }
    val (vals, vecsM) = jacobiEigen(cov)
    val desc = vals.zipWithIndex.sortBy { case (v, idx) => (-v, idx) }
    val mat = desc.take(outDim).map { case (_, k) =>
      val v = Array.tabulate(dim)(r => vecsM(r)(k))
      val piv = v.indices.maxBy(r => (math.abs(v(r)), -r))
      if (v(piv) < 0) v.map(x => -x) else v
    }
    val traceDbl = (0 until dim).map(d => cov(d)(d)).sum
    PcaModel(n, mean, traceInt, traceDbl, desc.map(_._1), mat)
  }

  /** Invariant audit of the full PCA pipeline, shaped so a plain-SQL
    * oracle can pin every output row WITHOUT expressing the eigensolve
    * in SQL (ref seafowl has no PCA; public invariants of PCA per
    * Jolliffe 2002 ch.1). The audit projects the gramScale-TRUNCATED
    * components (the exact vectors the Gram pass measured) through the
    * trained eigenbasis and verifies, distributed, what the eigensolve
    * guarantees:
    *   - `count` / `trace_exact`: row count and the n²-scaled integer
    *     covariance trace, recomputed by the oracle from raw data in
    *     exact Int64 — the non-circular anchor (bit-equal by em2's
    *     already-proven Gram = SQL-sums identity);
    *   - `energy_ppm(i,i)`: measured variance of projected component i
    *     over eigenvalue λᵢ, in parts-per-million → 1 000 000 (the
    *     distributed MatVecProject really concentrates λᵢ energy);
    *   - `orth_ppm(i,j)`: measured cross-component covariance over the
    *     trace → 0 (the basis really diagonalizes);
    *   - `mean_ppm(i)`: projected mean over √trace → 0 (centering);
    *   - `eig_trace_ppm`: Σ all eigenvalues over trace → 1 000 000
    *     (rotations preserve trace); `psd_ok`: λ_min ≥ −1e-9·trace.
    * Rank-deficiency guard: every retained eigenvalue must exceed
    * 1e-12·trace — the numerical-resolution floor below which a
    * "variance direction" is indistinguishable from Jacobi/float error
    * (see the convergence bounds below). Inputs whose data rank is
    * below `outDim` fail loudly here with a lower-outDim hint; a
    * legitimately tiny-but-real direction under that floor cannot be
    * audited meaningfully either way and errors identically.
    * Jacobi converges to ≤1e-10 relative off-diagonal mass and float
    * summation error is ≤~1e-12 relative, so every ppm rounds exactly —
    * 5 000× under the half-quantum. One fixed-state Gram pass + one
    * fixed-state moment pass; output is Θ(outDim²) rows. */
  def pcaInvariantAudit(vecs: DataFrame, idCol: String, vecCol: String,
                        dim: Int, outDim: Int, gramScale: Long = 1000L): DataFrame = {
    require(dim >= 1 && outDim >= 1 && outDim <= dim,
      s"need 1 <= outDim ($outDim) <= dim ($dim)")
    val p = prepared(vecs, idCol, vecCol)
    val buf = p.agg(graft.functions.GramAggregate
      .gram_acc(col("qe"), dim, gramScale).as("g")).head().getSeq[Long](0).toArray
    val m = trainPca(buf, dim, outDim)
    require(m.traceDbl > 0.0, "audit needs non-degenerate input variance")
    // energy_ppm divides by each retained eigenvalue: a rank-deficient
    // input (data rank < outDim) would otherwise emit null/Infinity ppm
    // rows instead of a diagnosable error
    require(m.eigsDesc(outDim - 1) > 1e-12 * m.traceDbl,
      s"input covariance is rank-deficient for outDim=$outDim: eigenvalue " +
      s"#$outDim is ${m.eigsDesc(outDim - 1)} vs trace ${m.traceDbl}; " +
      "lower outDim to at most the data rank")
    val lam = m.eigsDesc.take(outDim)
    // project the truncated components (r = qe div gramScale — Spark SQL
    // `div` truncates toward zero, matching GramAggregate's Java `/`),
    // so measured moments are EXACTLY the diagonalized Gram covariance
    val projd = p.select(graft.functions.VectorFunctions.matvec_project(
      expr(s"transform(qe, e -> e div ${gramScale}L)"), m.basis, m.meanR, 1.0).as("pr"))
    val aggExprs: Seq[Column] =
      Seq(count(lit(1)).cast("long").as("n")) ++
      (0 until outDim).map(i => sum(element_at(col("pr"), i + 1)).as(s"m$i")) ++
      (for { i <- 0 until outDim; j <- i until outDim }
        yield sum(element_at(col("pr"), i + 1) * element_at(col("pr"), j + 1)).as(s"g${i}_$j"))
    val a = projd.agg(aggExprs.head, aggExprs.tail: _*)
    def meanOf(i: Int) = col(s"m$i") / col("n")
    def covOf(i: Int, j: Int) = col(s"g${i}_$j") / col("n") - meanOf(i) * meanOf(j)
    def chkRow(chk: String, i: Long, j: Long, v: Column) =
      struct(lit(chk).as("chk"), lit(i).as("i"), lit(j).as("j"), v.cast("long").as("v"))
    val psd = if (m.eigsDesc.last >= -1e-9 * math.max(m.traceDbl, 1.0)) 1L else 0L
    val rows: Seq[Column] =
      Seq(chkRow("count", -1L, -1L, col("n")),
          chkRow("trace_exact", -1L, -1L, lit(m.traceInt)),
          chkRow("eig_trace_ppm", -1L, -1L,
            lit(math.round(m.eigsDesc.sum / m.traceDbl * 1e6))),
          chkRow("psd_ok", -1L, -1L, lit(psd))) ++
      (0 until outDim).map(i =>
        chkRow("energy_ppm", i, i, round(covOf(i, i) / lit(lam(i)) * 1e6))) ++
      (for { i <- 0 until outDim; j <- (i + 1) until outDim }
        yield chkRow("orth_ppm", i, j, round(covOf(i, j) / lit(m.traceDbl) * 1e6))) ++
      (0 until outDim).map(i =>
        chkRow("mean_ppm", i, -1L, round(meanOf(i) / lit(math.sqrt(m.traceDbl)) * 1e6)))
    a.select(explode(array(rows: _*)).as("r"))
      .select(col("r.chk").as("chk"), col("r.i").as("i"),
        col("r.j").as("j"), col("r.v").as("v"))
      .orderBy("chk", "i", "j")
  }

  /** Cyclic Jacobi eigendecomposition of a symmetric matrix: rotations
    * sweep the upper triangle in fixed (p, q) order until the
    * off-diagonal mass is negligible — deterministic for a given input,
    * O(dim³) per sweep on the DRIVER (dim is the embedding width, not
    * the corpus). Returns (eigenvalues, column-eigenvector matrix). */
  private[graft] def jacobiEigen(a0: Array[Array[Double]],
                                 maxSweeps: Int = 64): (Array[Double], Array[Array[Double]]) = {
    val n = a0.length
    val a = a0.map(_.clone())
    val v = Array.tabulate(n, n)((i, j) => if (i == j) 1.0 else 0.0)
    def off(): Double = {
      var s = 0.0
      var i = 0
      while (i < n) {
        var j = i + 1
        while (j < n) { s += a(i)(j) * a(i)(j); j += 1 }
        i += 1
      }
      s
    }
    val tol = 1e-20 * math.max(1.0, a.map(r => r.map(math.abs).max).max)
    var sweep = 0
    while (sweep < maxSweeps && off() > tol) {
      var p = 0
      while (p < n - 1) {
        var q = p + 1
        while (q < n) {
          val apq = a(p)(q)
          if (math.abs(apq) > 0.0) {
            val theta = (a(q)(q) - a(p)(p)) / (2.0 * apq)
            val t = math.signum(theta) match {
              case 0.0 => 1.0 / (math.abs(theta) + math.sqrt(theta * theta + 1.0))
              case sgn => sgn / (math.abs(theta) + math.sqrt(theta * theta + 1.0))
            }
            val c = 1.0 / math.sqrt(t * t + 1.0)
            val s = t * c
            var k = 0
            while (k < n) {
              val akp = a(k)(p); val akq = a(k)(q)
              a(k)(p) = c * akp - s * akq
              a(k)(q) = s * akp + c * akq
              k += 1
            }
            k = 0
            while (k < n) {
              val apk = a(p)(k); val aqk = a(q)(k)
              a(p)(k) = c * apk - s * aqk
              a(q)(k) = s * apk + c * aqk
              val vkp = v(k)(p); val vkq = v(k)(q)
              v(k)(p) = c * vkp - s * vkq
              v(k)(q) = s * vkp + c * vkq
              k += 1
            }
          }
          q += 1
        }
        p += 1
      }
      sweep += 1
    }
    (Array.tabulate(n)(i => a(i)(i)), v)
  }
}

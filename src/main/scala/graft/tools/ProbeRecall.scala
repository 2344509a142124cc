package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.ops.Embeddings

/** Dev probe: recall@k of each ANN variant against the exact brute-force
  * top-k, over the same query set — the number that says what the scale
  * path (LSH buckets / IVF probes / PQ codes) trades for its speedup.
  * Recall@k = |ann∩exact| / k averaged over queries; ANN variants can
  * return < k rows when their buckets are too selective (counted as
  * misses, as they should be). Run at sf0.1 and optionally a scale dir.
  */
object ProbeRecall {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val k = args.lift(1).map(_.toInt).getOrElse(10)
    val nq = args.lift(2).map(_.toInt).getOrElse(50)
    val spark = graft.Sessions.build(graft.Sessions.Batch, Some(dir))

    val emb = graft.Tables.load(spark, dir, "embeddings")
    val pred = col("vec_id") < nq
    val n = emb.count()

    def ids(df: DataFrame): DataFrame =
      df.select(col("query_id"), col("neighbor_id"))

    val exact = ids(Embeddings.topKBruteForce(emb, "vec_id", "embedding", pred, k))
      .cache()
    val exactN = exact.count() // materialize once; every variant joins it

    def recall(name: String, df: => DataFrame): Unit = {
      val t0 = System.nanoTime()
      val hits = ids(df).join(exact, Seq("query_id", "neighbor_id")).count()
      val sec = (System.nanoTime() - t0) / 1e9
      println(f"$name%-10s recall@$k = ${hits.toDouble / exactN}%.3f  (${sec}%.1f s)")
    }

    println(s"n=$n vectors, ${exactN / k} queries, k=$k ($dir)")
    recall("lsh",   Embeddings.annTopK(emb, "vec_id", "embedding", pred, k, planes = 6, dim = 64))
    recall("ivf",   Embeddings.ivfTopK(emb, "vec_id", "embedding", pred, k, numCells = 8, nprobe = 2))
    recall("ivf+",  Embeddings.ivfTopK(emb, "vec_id", "embedding", pred, k, numCells = 8, nprobe = 4))
    recall("pq",    Embeddings.pqTopK(emb, "vec_id", "embedding", pred, k,
      numSub = 4, subDim = 16, codebookSize = 8, candK = 4 * k))
    recall("ivfpq", Embeddings.ivfPqTopK(emb, "vec_id", "embedding", pred, k,
      numCells = 8, nprobe = 2, numSub = 4, subDim = 16, codebookSize = 8, candK = 4 * k))
    // turned-up configurations: the knobs that buy recall at scale
    // (more probes, finer codebooks, wider re-rank candidate pools)
    recall("lsh-4p", Embeddings.annTopK(emb, "vec_id", "embedding", pred, k, planes = 4, dim = 64))
    recall("ivf-8pr", Embeddings.ivfTopK(emb, "vec_id", "embedding", pred, k, numCells = 16, nprobe = 8))
    recall("pq-64c", Embeddings.pqTopK(emb, "vec_id", "embedding", pred, k,
      numSub = 8, subDim = 8, codebookSize = 64, candK = 10 * k))
    recall("ivfpq+", Embeddings.ivfPqTopK(emb, "vec_id", "embedding", pred, k,
      numCells = 8, nprobe = 4, numSub = 8, subDim = 8, codebookSize = 64, candK = 10 * k))
    // query-time BANDED ANN (sim14): the (B, R) dial at the annTopK
    // shape — the claim is the equal-total-planes comparison vs one
    // wide signature, same as the graph rows below
    recall("lsh-18p", Embeddings.annTopK(emb, "vec_id", "embedding", pred, k, planes = 18, dim = 64))
    recall("band6x3", Embeddings.annTopKBanded(emb, "vec_id", "embedding", pred, k,
      planesPerBand = 6, bands = 3, dim = 64))
    recall("band8x4", Embeddings.annTopKBanded(emb, "vec_id", "embedding", pred, k,
      planesPerBand = 8, bands = 4, dim = 64))
    recall("band6x8", Embeddings.annTopKBanded(emb, "vec_id", "embedding", pred, k,
      planesPerBand = 6, bands = 8, dim = 64))

    // k-NN GRAPH recall: EVERY node is a query; ground truth is the full
    // brute force (the corpus broadcasts at probe scale). The banded
    // build trades one wide signature for R narrow ones — measure what
    // each (B, R) buys on the real embedding distribution.
    val gk = 3
    val exactG = Embeddings
      .topKBruteForce(emb, "vec_id", "embedding", lit(true), gk)
      .select(col("query_id").as("node_id"), col("neighbor_id"))
      .cache()
    val exactGN = exactG.count()
    def recallG(name: String, df: => DataFrame): Unit = {
      val t0 = System.nanoTime()
      val hits = df.select(col("node_id"), col("neighbor_id"))
        .join(exactG, Seq("node_id", "neighbor_id")).count()
      val sec = (System.nanoTime() - t0) / 1e9
      println(f"$name%-16s graph-recall@$gk = ${hits.toDouble / exactGN}%.3f  (${sec}%.1f s)")
    }
    recallG("graph-single18",
      Embeddings.knnGraph(emb, "vec_id", "embedding", gk, planes = 18, dim = 64))
    recallG("graph-single6",
      Embeddings.knnGraph(emb, "vec_id", "embedding", gk, planes = 6, dim = 64))
    recallG("graph-banded6x3",
      Embeddings.knnGraphBanded(emb, "vec_id", "embedding", gk, planesPerBand = 6, bands = 3, dim = 64))
    recallG("graph-banded8x4",
      Embeddings.knnGraphBanded(emb, "vec_id", "embedding", gk, planesPerBand = 8, bands = 4, dim = 64))
    recallG("graph-banded6x8",
      Embeddings.knnGraphBanded(emb, "vec_id", "embedding", gk, planesPerBand = 6, bands = 8, dim = 64))
    spark.stop()
  }
}

package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.ops.Embeddings

/** Recall governance for the banded-LSH ANN family (sim13 graph build /
  * sim14 serving / sim16 increment / sim17 delete-repair), at the
  * catalog's fixed configuration (planesPerBand B=6, bands R=3, k=3):
  *
  *  - recall@k of each variant's edge set against the EXACT brute-force
  *    top-k over the same survivors (ties broken identically — both
  *    sides rank through rankTopK — so recall deficits are genuinely
  *    missed neighbors, not tie noise)
  *  - measured band-join candidate-pair count vs the random-collision
  *    model R·N²/2^B (the quantity that governs join cost at scale; the
  *    measured count runs ABOVE the model exactly when the corpus has
  *    real angular structure — that excess is recall, not waste)
  *
  * Run at sf0.1 and a GenScale sf1 dir; BASELINE.md records the table.
  *
  *   scripts/run.sh graft.tools.ProbeBandedRecall <sfDir> [k B R dim]
  */
object ProbeBandedRecall {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val k = args.lift(1).map(_.toInt).getOrElse(3)
    val b = args.lift(2).map(_.toInt).getOrElse(6)
    val r = args.lift(3).map(_.toInt).getOrElse(3)
    val dim = args.lift(4).map(_.toInt).getOrElse(64)
    val spark = graft.Sessions.build(graft.Sessions.Batch, Some(dir))

    val emb = graft.Tables.load(spark, dir, "embeddings").cache()
    val n = emb.count()

    def pairs(df: DataFrame): DataFrame =
      df.select(col("query_id"), col("neighbor_id"))

    def exactGraph(vecs: DataFrame): DataFrame =
      pairs(Embeddings.topKBruteForce(vecs, "vec_id", "embedding", lit(true), k))

    def recallOf(got: DataFrame, exact: DataFrame): (Long, Long, Double) = {
      val e = exact.cache(); val en = e.count()
      val hits = got.select(col("node_id").as("query_id"), col("neighbor_id"))
        .join(e, Seq("query_id", "neighbor_id")).count()
      (hits, en, hits.toDouble / en)
    }

    // measured band-join candidate pairs (pre-verify) vs the model
    val signs = Embeddings.planeSigns(b * r, dim)
    val sigCols = (0 until r).map { bi =>
      concat(lit(s"$bi:"), Embeddings.lshSignature(col("qe"),
        signs.slice(bi * b, (bi + 1) * b)))
    }
    val sig = Embeddings.prepared(emb, "vec_id", "embedding")
      .select(col("vec_id"), explode(array(sigCols: _*)).as("sig"))
    val cand = sig.as("x").join(sig.as("y"),
        col("x.sig") === col("y.sig") && col("x.vec_id") < col("y.vec_id"))
      .select(col("x.vec_id"), col("y.vec_id")).distinct().count()
    val model = r.toDouble * n * n / math.pow(2, b) / 2

    println(f"n=$n%d vectors, k=$k, B=$b planes/band, R=$r bands ($dir)")
    println(f"candidates: measured=$cand%d  random-model=${model}%.0f  ratio=${cand / model}%.2f")

    // sim13: full banded build
    val exact = exactGraph(emb)
    val g13 = Embeddings.knnGraphBanded(emb, "vec_id", "embedding", k, b, r, dim)
    val (h13, e13, r13) = recallOf(g13, exact)
    println(f"sim13 build    recall@$k = $r13%.3f  ($h13/$e13)")

    // sim14: serving (100-query probe against the full corpus)
    val g14 = Embeddings.annTopKBanded(emb, "vec_id", "embedding",
        col("vec_id") < 100, k, b, r, dim)
      .select(col("query_id").as("node_id"), col("neighbor_id"))
    val exactQ = pairs(Embeddings.topKBruteForce(emb, "vec_id", "embedding",
      col("vec_id") < 100, k))
    val (h14, e14, r14) = recallOf(g14, exactQ)
    println(f"sim14 serve    recall@$k = $r14%.3f  ($h14/$e14)")

    // sim16: 80% base + 20% increment — recall of the maintained graph
    val cut = (n * 8) / 10
    val base = emb.filter(col("vec_id") < cut)
    val batch = emb.filter(col("vec_id") >= cut)
    val g16 = Embeddings.knnGraphIncrement(
      Embeddings.knnGraphBanded(base, "vec_id", "embedding", k, b, r, dim),
      base, batch, "vec_id", "embedding", k, b, r, dim)
    val (h16, e16, r16) = recallOf(g16, exact)
    println(f"sim16 increment recall@$k = $r16%.3f  ($h16/$e16)")

    // sim17: delete 10% of ids, repair — recall vs exact over survivors
    val dead = emb.filter(col("vec_id") % 10 === 3).select("vec_id")
    val survivors = emb.filter(col("vec_id") % 10 =!= 3)
    val g17 = Embeddings.knnGraphDelete(g13, emb, dead,
      "vec_id", "embedding", k, b, r, dim)
    val (h17, e17, r17) = recallOf(g17, exactGraph(survivors))
    println(f"sim17 delete   recall@$k = $r17%.3f  ($h17/$e17)")
    spark.stop()
  }
}

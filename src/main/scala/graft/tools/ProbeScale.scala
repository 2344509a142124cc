package graft.tools

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Consolidated 1×/N× scale probe (supersedes the per-round
  * ProbeScale/R8/R9/R12 generations BASELINE.md's history cites — their
  * suites live on here under the same names). Replicates sf0.1 inputs
  * with disjoint key spaces and realistic payload drift, then times each
  * operator family at 1× and N×: the claim under test is always that
  * wall clock grows near-linearly because candidate generation is
  * bounded by keys/buckets/bands/sketch sizes, never by pair products.
  *
  *   scripts/run.sh graft.tools.ProbeScale <sfDir> <mult> <suite...>
  *
  * Suites: text (dedup/similarity/text-analysis), r8 (pagerank,
  * interval join, bm25, weighted sample), r9 (k-core, SSSP, KMV, fused
  * percentiles, source matrix, session paths), r12 (phash, knn graph,
  * LPA, PPR, shared frames, dau/mau, mann-whitney), r13 (distributed
  * ranks: ev34 RFM, ev35 Gini, tx29 Zipf, q49 recursive CTE).
  */
object ProbeScale {

  private def t[A](label: String)(f: => A): Unit = {
    val t0 = System.nanoTime(); f
    println(f"$label ${(System.nanoTime() - t0) / 1e9}%.2f s")
  }

  private def noop(df: DataFrame): Unit =
    df.write.mode("overwrite").format("noop").save()

  // --- replicated inputs (disjoint key spaces; payload drift keeps
  // hash/signature distributions realistic) ------------------------------

  private def repDocs(spark: SparkSession, sfDir: String, m: Int): DataFrame =
    spark.range(m).crossJoin(graft.Tables.load(spark, sfDir, "documents"))
      .select((col("doc_id") + col("id") * 1000000L).as("doc_id"),
        concat(col("text"), lit(" rep"), col("id")).as("text"),
        col("lang"), col("source"), (col("n_chars") + col("id") % 7).as("n_chars"))
      .cache()

  private def repEvents(spark: SparkSession, sfDir: String, m: Int): DataFrame =
    spark.range(m).crossJoin(graft.Tables.load(spark, sfDir, "events"))
      .select((col("event_id") + col("id") * 10000000L).as("event_id"),
        col("ts"), (col("user_id") + col("id") * 1000L).as("user_id"),
        col("event_type"), col("value"), col("props"))
      .cache()

  private def repEmb(spark: SparkSession, sfDir: String, m: Int): DataFrame =
    spark.range(m).crossJoin(graft.Tables.load(spark, sfDir, "embeddings"))
      .select((col("vec_id") + col("id") * 1000000L).as("vec_id"),
        expr("transform(embedding, x -> x + cast(id as float) * 1e-3f)").as("embedding"))
      .cache()

  private def repLineitem(spark: SparkSession, sfDir: String, m: Int): DataFrame =
    spark.range(m).crossJoin(graft.Tables.load(spark, sfDir, "lineitem")
        .select("l_orderkey", "l_returnflag", "l_extendedprice"))
      .select((col("l_orderkey") + col("id") * 100000000L).as("l_orderkey"),
        col("l_returnflag"), col("l_extendedprice"))
      .cache()

  private def repPart(spark: SparkSession, sfDir: String, m: Int): DataFrame =
    spark.range(m).crossJoin(graft.Tables.load(spark, sfDir, "part")
        .select("p_partkey", "p_retailprice"))
      .select((col("p_partkey") + col("id") * 1000000L).as("p_partkey"),
        col("p_retailprice"))
      .cache()

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val mult = args.lift(1).map(_.toInt).getOrElse(10)
    val suites = if (args.size > 2) args.drop(2).toSeq else Seq("r13")
    val spark = graft.Sessions.build(graft.Sessions.Batch, Some(sfDir))
    suites.foreach { suite =>
      // r8/r9/r12/r13 time the distributed spellings at BOTH multipliers,
      // so growth isolates them, not the driver-or-cluster switch
      spark.conf.set(graft.ops.ScalePath.Conf, Set("r8", "r9", "r12", "r13")(suite))
      suite match {
        case "text" => text(spark, sfDir, mult)
        case "r8" => r8(spark, sfDir, mult)
        case "r9" => r9(spark, sfDir, mult)
        case "r12" => r12(spark, sfDir, mult)
        case "r13" => r13(spark, sfDir, mult)
        case "r14" => r14(spark, sfDir, mult)
        case "r17" => r17(spark, sfDir, mult)
        case other => sys.error(s"unknown suite $other (text|r8|r9|r12|r13|r14|r17)")
      }
    }
    spark.stop()
  }

  // --- text: dedup / similarity / text analysis -------------------------

  private def text(spark: SparkSession, sfDir: String, mult: Int): Unit = {
    val docs = repDocs(spark, sfDir, mult)
    println(s"docs: ${docs.count()} (x$mult)")
    import graft.ops.{TextAnalysis, TextDedup, Embeddings}
    t(s"dd3 minhash-lsh x$mult")(noop(
      TextDedup.minhashDedupPairs(docs, "doc_id", "text", 5, 16, 8, 0.8)))
    t(s"dd1 exact x$mult")(noop(TextDedup.exactDedup(docs, "doc_id", "text")))
    t(s"dd2 ngram-jaccard x$mult")(noop(
      TextDedup.jaccardPairs(docs, "doc_id", "text", 5, 0.8, 100)))
    t(s"tx5 winnow x$mult")(noop(
      TextAnalysis.winnowFingerprints(docs, "doc_id", "text", 4, 8)))
    t(s"tx13 seq-packing x$mult")(noop(
      TextAnalysis.packSequences(docs, "doc_id", "text", 512)))
    t(s"tx14 importance-weights x$mult")(noop(
      TextAnalysis.importanceWeights(docs, "doc_id", "text", col("doc_id") % 7 === 0)))
    t(s"tx15 lm-quality x$mult")(noop(
      TextAnalysis.lmQualityScore(docs, "doc_id", "text")))
    t(s"dd9 repeated-spans x$mult")(noop(
      TextAnalysis.repeatedSpans(docs, "doc_id", "text", 8)))
    val split = TextAnalysis.trainSplit(docs, "doc_id", "graft")
    t(s"tx8 contamination x$mult (exact)")(noop(
      TextAnalysis.contaminationCheck(split, "doc_id", "text", "split", 5, 0.5)))
    t(s"tx8 contamination x$mult (bloom-prefiltered)")(noop(
      TextAnalysis.contaminationCheck(split, "doc_id", "text", "split", 5, 0.5,
        bloomPrefilter = true)))
    t(s"dd10 chunk-dedup x$mult")(noop(TextDedup.chunkDedup(docs, "doc_id", "text", 10)))
    t(s"dd11 containment x$mult")(noop(
      TextDedup.containmentPairs(docs, "doc_id", "text", 5, 0.8, 100)))
    t(s"tx16 shard-shuffle x$mult")(noop(
      TextAnalysis.shardShuffle(docs, "doc_id", "shuf")))
    t(s"tx17 corpus-drift x$mult")(noop(TextAnalysis.corpusDrift(
      docs.withColumn("source", concat(lit("s"), col("doc_id") % 20)), "source", "text")))
    t(s"tx18 tfidf-topk x$mult")(noop(TextAnalysis.tfIdfTopK(docs, "doc_id", "text", 5)))
    t(s"tx19 bpe-pairs x$mult")(noop(TextAnalysis.bpePairCounts(docs, "text", 50)))
    t(s"tx20 domain-quota x$mult")(noop(TextAnalysis.domainQuotaSample(
      docs.withColumn("source", concat(lit("s"), col("doc_id") % 20)),
      "doc_id", "source", 10)))
    val em = repEmb(spark, sfDir, mult)
    println(s"vectors: ${em.count()}")
    t(s"sim2 lsh-ann x$mult")(noop(Embeddings.annTopK(em, "vec_id", "embedding",
      col("vec_id") < 10, k = 3, planes = 6, dim = 64)))
    t(s"sim3 ivf x$mult")(noop(Embeddings.ivfTopK(em, "vec_id", "embedding",
      col("vec_id") < 10, k = 3, numCells = 8, nprobe = 2)))
    t(s"sim4 pq x$mult")(noop(Embeddings.pqTopK(em, "vec_id", "embedding",
      col("vec_id") < 10, k = 3, numSub = 4, subDim = 16, codebookSize = 8, candK = 10)))
    t(s"sim5 ivfpq x$mult cells=${8 * mult} (scaled)")(noop(
      Embeddings.ivfPqTopK(em, "vec_id", "embedding", col("vec_id") < 10, k = 3,
        numCells = 8 * mult, nprobe = 2, numSub = 4, subDim = 16,
        codebookSize = 8, candK = 10)))
    t(s"dd8 semdedup x$mult cells=8 (fixed: quadratic)")(noop(
      Embeddings.semDedup(em, "vec_id", "embedding", numCells = 8, threshold = 0.4)))
    t(s"dd8 semdedup x$mult cells=${8 * mult} (scaled: linear)")(noop(
      Embeddings.semDedup(em, "vec_id", "embedding", numCells = 8 * mult, threshold = 0.4)))
    docs.unpersist(); em.unpersist()
  }

  // --- r8: pagerank / interval join / bm25 / weighted sample ------------

  private def r8(spark: SparkSession, sfDir: String, mult: Int): Unit =
    for (m <- Seq(1, mult)) {
      val ev = repEvents(spark, sfDir, m)
      val docs = repDocs(spark, sfDir, m)
      println(s"== x$m: events ${ev.count()}, docs ${docs.count()}")
      t(s"gr1 pagerank x$m (distributed path)")(noop(
        graft.ops.Graph.pageRank(graft.ops.Graph.itemTransitionEdges(ev),
          "src", "dst", "w", iters = 10)))
      t(s"ev12 interval-join x$m") {
        val errors = ev.where(col("event_type") === "error")
          .select(col("event_id"), unix_micros(col("ts")).as("tus"))
          .withColumn("end_us", col("tus") + lit(600000000L))
        val purchases = ev.where(col("event_type") === "purchase")
          .select(unix_micros(col("ts")).as("pts"))
        noop(graft.ops.TimeSeriesOps.binnedIntervalJoin(
            errors, purchases, "tus", "end_us", "pts", 600000000L)
          .groupBy("event_id").count())
      }
      t(s"tx23 bm25 x$m")(noop(graft.ops.TextAnalysis.bm25Search(
        docs, "doc_id", "text", Seq("hash", "join", "filter"), 20)))
      t(s"tx22 weighted-sample x$m")(noop(
        graft.ops.TextAnalysis.weightedSample(docs, "doc_id", "n_chars", 100, "samp")))
      ev.unpersist(); docs.unpersist()
    }

  // --- r9: k-core / SSSP / KMV / percentiles / source matrix / paths ----

  private def r9(spark: SparkSession, sfDir: String, mult: Int): Unit =
    for (m <- Seq(1, mult)) {
      val ev = repEvents(spark, sfDir, m)
      val docs = repDocs(spark, sfDir, m)
      val li = repLineitem(spark, sfDir, m)
      println(s"== x$m: events ${ev.count()}, docs ${docs.count()}, lineitem ${li.count()}")
      t(s"gr4 k-core x$m (distributed loop)") {
        val bip = ev.filter(col("event_type") === "view")
          .select(concat(lit("u:"), col("user_id").cast("string")).as("a"),
            concat(lit("i:"),
              get_json_object(col("props"), "$.k").cast("long").cast("string")).as("b"))
        noop(graft.ops.Graph.kCorePeel(bip, "a", "b", k = 11, rounds = 12))
      }
      t(s"gr5 shortest paths x$m (distributed loop)") {
        val edges = graft.ops.Graph.itemTransitionEdges(ev).localCheckpoint(false)
        val tot = edges.agg(sum("w").as("s"), count(lit(1)).as("c"))
        val se = edges.crossJoin(broadcast(tot))
          .where(lit(2) * col("w") * col("c") > lit(3) * col("s"))
          .select(col("src"), col("dst"), expr("1000000L div w").as("cost"))
        noop(graft.ops.Graph.shortestPaths(se, "src", "dst", "cost",
          start = 0L, maxDepth = 6))
      }
      t(s"q42 KMV sketch intersect x$m") {
        import graft.functions.MinKMd5Aggregate.min_k_md5
        val tt = li.where(col("l_returnflag").isin("A", "R"))
          .select(col("l_returnflag").as("f"), col("l_orderkey").cast("string").as("ks"))
        noop(tt.agg(
          min_k_md5(when(col("f") === "A", col("ks")), 256).as("ska"),
          min_k_md5(when(col("f") === "R", col("ks")), 256).as("skr"),
          min_k_md5(col("ks"), 256).as("sku")))
      }
      t(s"q45 fused p90/p99 x$m") {
        val b = li.select(col("l_returnflag").as("f"),
          round(col("l_extendedprice") * 100).cast("long").as("c"))
        noop(graft.ops.ExactQuantile.rankStatsByKey(b, col("f"), col("c"), Seq(0.90, 0.99)))
      }
      t(s"dd13 source minhash matrix x$m") {
        val spread = docs.repartition(32, col("doc_id"))
        val sigRows = spread.select(col("source"),
            graft.functions.TextExprs.minhash_sig_hex(col("text"), 5, 16).as("mh"))
          .select(col("source"), posexplode_outer(col("mh")).as(Seq("j", "h")))
          .filter(col("h").isNotNull)
        val sig = sigRows.groupBy("source", "j").agg(min("h").as("h"))
          .groupBy("source")
          .agg(expr("transform(array_sort(collect_list(struct(j, h))), x -> x.h)").as("sig"))
          .localCheckpoint(false)
        val a = sig.select(col("source").as("src1"), col("sig").as("s1"))
        val bb = sig.select(col("source").as("src2"), col("sig").as("s2"))
        noop(a.join(bb, col("src1") < col("src2"))
          .select(col("src1"), col("src2"),
            expr("CAST(size(filter(zip_with(s1, s2, (x, y) -> x = y), v -> v)) AS BIGINT)").as("matches")))
      }
      t(s"ev16 session paths x$m") {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy("user_id").orderBy("tus", "event_id")
        val sess = ev
          .select(col("user_id"), col("event_id"), col("event_type"),
            unix_micros(col("ts")).as("tus"))
          .withColumn("prev", lag("tus", 1).over(w))
          .withColumn("brk",
            when(col("prev").isNull || col("tus") - col("prev") > 1800000000L, 1).otherwise(0))
          .withColumn("session_id",
            sum("brk").over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)).cast("long"))
          .withColumn("rn", row_number().over(
            Window.partitionBy("user_id", "session_id").orderBy("tus", "event_id")))
          .where(col("rn") <= 5)
        noop(sess.groupBy("user_id", "session_id")
          .agg(expr("concat_ws('>', transform(array_sort(collect_list(struct(rn, event_type))), x -> x.event_type))").as("path"))
          .groupBy("path").agg(count(lit(1)).as("n_sessions"))
          .orderBy(col("n_sessions").desc, col("path")).limit(20))
      }
      ev.unpersist(); docs.unpersist(); li.unpersist()
    }

  // --- r12: phash / knn graph / LPA / PPR / frames / dau-mau / ranksum --

  private def r12(spark: SparkSession, sfDir: String, mult: Int): Unit =
    for (m <- Seq(1, mult)) {
      val docs = repDocs(spark, sfDir, m)
      val ev = repEvents(spark, sfDir, m)
      val emb = repEmb(spark, sfDir, m)
      println(s"== x$m: docs ${docs.count()}, events ${ev.count()}, vecs ${emb.count()}")
      t(s"mm6 phash near-dup x$m")(noop(graft.ops.Multimodal.phashNearDupPairs(
        graft.ops.Multimodal.asBinaryTable(docs, "doc_id", "text"), maxHamming = 64)))
      t(s"sim9 knn graph x$m")(noop(graft.ops.Embeddings.knnGraph(
        emb, "vec_id", "embedding", k = 3, planes = 6, dim = 64)))
      val edges = graft.ops.Graph.itemTransitionEdges(ev).localCheckpoint(false)
      t(s"gr9 LPA x$m (distributed loop)")(noop(graft.ops.Graph.lpaCommunities(
        edges, "src", "dst", "w", iters = 4)))
      t(s"gr10 PPR x$m (distributed loop)")(noop(graft.ops.Graph.personalizedPageRank(
        edges, "src", "dst", "w", seeds = Set(1L, 2L, 3L), iters = 10)))
      t(s"mm7 shared frames x$m")(noop(graft.ops.Multimodal.sharedFramePairs(spark,
        graft.ops.Multimodal.asBinaryTable(docs, "doc_id", "text"))))
      t(s"ev33 dau/mau contribution explode x$m") {
        val a = ev.select(col("user_id"),
            expr("unix_micros(ts) div 86400000000L").as("d")).distinct()
        noop(a.withColumn("x", explode(sequence(lit(0), lit(29))))
          .select(col("user_id"), (col("d") + col("x")).as("d"))
          .distinct()
          .groupBy("d").agg(count(lit(1)).as("mau")))
      }
      t(s"ev22 mann-whitney x$m") {
        val base = ev.filter(col("event_type").isin("view", "purchase"))
          .select(date_trunc("day", col("ts")).as("day"),
            when(col("event_type") === "view", 1L).otherwise(0L).as("g"),
            round(col("value") * 1000).cast("long").as("vm"))
        val tv = base.groupBy("day", "vm")
          .agg(count(lit(1)).as("t"), sum("g").as("t1"))
        noop(tv.groupBy("day").agg(sum("t").as("n"), sum("t1").as("n1")))
      }
      docs.unpersist(); ev.unpersist(); emb.unpersist()
    }

  // --- r13: distributed ranks (ev34 / ev35 / tx29) + recursive CTE ------

  private def r13(spark: SparkSession, sfDir: String, mult: Int): Unit = {
    import graft.ops.DistributedRank
    for (m <- Seq(1, mult)) {
      val ev = repEvents(spark, sfDir, m)
      val docs = repDocs(spark, sfDir, m)
      println(s"== x$m: events ${ev.count()}, docs ${docs.count()}")
      t(s"ev34 RFM quintiles x$m (3 independent ranks off one checkpoint)") {
        val p = ev.filter(col("event_type") === "purchase")
          .select(col("user_id"), unix_micros(col("ts")).as("tus"),
            round(col("value") * 1000).cast("long").as("vm"))
        val u = p.crossJoin(broadcast(p.agg(max("tus").as("mt"))))
          .groupBy("user_id", "mt")
          .agg(max("tus").as("lt"), count(lit(1)).as("freq"), sum("vm").as("mon"))
          .select(col("user_id"),
            expr("(mt - lt) div 86400000000L").as("rec_days"), col("freq"), col("mon"))
          .localCheckpoint(false)
        val rb = DistributedRank.ntileByKey(u.withColumn("rneg", -col("rec_days")),
          Seq(), Seq("rneg", "user_id"), 5).select(col("user_id"), col("bin").as("r"))
        val fb = DistributedRank.ntileByKey(u, Seq(), Seq("freq", "user_id"), 5)
          .select(col("user_id"), col("bin").as("f"))
        val mb = DistributedRank.ntileByKey(u, Seq(), Seq("mon", "user_id"), 5)
          .select(col("user_id"), col("mon"), col("bin").as("m"))
        noop(rb.join(fb, "user_id").join(mb, "user_id")
          .groupBy("r", "f", "m")
          .agg(count(lit(1)).as("n_users"), sum("mon").as("mon_milli")))
      }
      t(s"ev35 Gini global row_number x$m") {
        val u = ev.filter(col("event_type") === "purchase")
          .groupBy("user_id")
          .agg(sum(round(col("value") * 1000).cast("long")).cast("long").as("vm"))
        val d38 = org.apache.spark.sql.types.DecimalType(38, 0)
        val r = DistributedRank.rowNumberByKey(
          u, Seq(), Seq(("vm", true), ("user_id", true)), out = "i")
        noop(r.agg(count(lit(1)).cast(d38).as("n"), sum(col("vm").cast(d38)).as("sx"),
          sum(col("i").cast(d38) * col("vm")).as("six")))
      }
      t(s"tx29 Zipf vocabulary rank x$m") {
        val f = docs.select(explode(split(col("text"), " ")).as("word"))
          .groupBy("word").agg(count(lit(1)).as("freq"))
        val r = DistributedRank.rowNumberByKey(
          f, Seq(), Seq(("freq", false), ("word", true)), out = "rnk")
        noop(r.select(
          expr("cast(floor(1000000 * ln(cast(rnk as double)) + 0.5) as decimal(38,0))").as("x"),
          expr("cast(floor(1000000 * ln(cast(freq as double)) + 0.5) as decimal(38,0))").as("y"))
          .agg(sum(col("x") * col("y")), sum(col("x") * col("x"))))
      }
      val emb = repEmb(spark, sfDir, m)
      println(s"   vecs ${emb.count()}")
      t(s"ivf flat assignment x$m K=256 (256 dots/row)")(noop(
        graft.ops.Embeddings.assignFlat(emb, "vec_id", "embedding", numCells = 256)))
      // note: assignFlat's time INCLUDES its corpus-Lloyd training (same
      // O(N·K) class as its assignment); hierarchical training is
      // sample-bounded and timed separately
      var idx: graft.ops.Embeddings.HierIndex = null
      t(s"ivf hierarchical TRAIN x$m K=256 K1=16 (default cap — binds past 65k rows)") {
        idx = graft.ops.Embeddings.trainHierarchicalIndex(
          emb, "vec_id", "embedding", numCells = 256, coarseCells = 16)
      }
      t(s"ivf hierarchical TRAIN x$m K=256 K1=16 sampleCap=4096 (corpus-independent)")(
        graft.ops.Embeddings.trainHierarchicalIndex(
          emb, "vec_id", "embedding", numCells = 256, coarseCells = 16,
          sampleCap = 4096))
      for (w <- Seq(1, 4))
        t(s"ivf hierarchical assignment x$m K=256 K1=16 w=$w (${16 + w * 16} dots/row)")(
          noop(graft.ops.Embeddings.assignHierarchical(
            emb, "vec_id", "embedding", idx, wCoarse = w)))
      if (m == 1) { // agreement is scale-independent; measure once per w
        val fl = graft.ops.Embeddings.assignFlat(emb, "vec_id", "embedding", 256)
          .localCheckpoint(false)
        for (w <- Seq(1, 2, 4, 8)) {
          val h = graft.ops.Embeddings.assignHierarchical(
              emb, "vec_id", "embedding", idx, wCoarse = w)
            .withColumnRenamed("cell", "hc")
          val agree = fl.join(h, "vec_id")
            .agg(avg(when(col("cell") === col("hc"), 1.0).otherwise(0.0)).as("a"))
            .collect()(0).getDouble(0)
          println(f"ivf hier-vs-flat agreement K=256 K1=16 w=$w: ${agree * 100}%.1f%%")
        }
      }
      // the sim13 dial: candidate pairs ≈ R·N²/2^B, so 2^B must scale
      // with the corpus — probe the fixed-B shape (deliberately
      // quadratic) AND the scaled-B shape (the 100 TB setting), the dd8
      // fixed-vs-scaled-cells pattern
      t(s"sim13 banded knn graph x$m B=6 R=3 (fixed B: quadratic)")(noop(
        graft.ops.Embeddings.knnGraphBanded(emb, "vec_id", "embedding",
          k = 3, planesPerBand = 6, bands = 3, dim = 64)))
      if (m > 1) {
        val bScaled = 6 + (math.log(m.toDouble) / math.log(2.0)).ceil.toInt
        t(s"sim13 banded knn graph x$m B=$bScaled R=3 (B scaled with corpus: ~linear)")(
          noop(graft.ops.Embeddings.knnGraphBanded(emb, "vec_id", "embedding",
            k = 3, planesPerBand = bScaled, bands = 3, dim = 64)))
      }
      // sim14's query-time twin of the dial: candidates ≈ R·nq·N/2^B —
      // LINEAR in the corpus at fixed query count, so scaling B keeps
      // per-query candidate pools (and the ranked shuffle) flat
      t(s"sim14 banded ann x$m B=6 R=3 (fixed B: linear growth)")(noop(
        graft.ops.Embeddings.annTopKBanded(emb, "vec_id", "embedding",
          col("vec_id") < 50, k = 3, planesPerBand = 6, bands = 3, dim = 64)))
      if (m > 1) {
        val bScaled = 6 + (math.log(m.toDouble) / math.log(2.0)).ceil.toInt
        t(s"sim14 banded ann x$m B=$bScaled R=3 (B scaled: flat per-query pools)")(
          noop(graft.ops.Embeddings.annTopKBanded(emb, "vec_id", "embedding",
            col("vec_id") < 50, k = 3, planesPerBand = bScaled, bands = 3, dim = 64)))
      }
      emb.unpersist()
      t(s"q49 recursive CTE x$m (part tree grows with keyspace)") {
        repPart(spark, sfDir, m).createOrReplaceTempView("probe_part")
        noop(spark.sql(
          """WITH RECURSIVE bom (root, node, lvl) AS (
            |  SELECT p_partkey, p_partkey, CAST(0 AS BIGINT) FROM probe_part
            |  WHERE p_partkey BETWEEN 8 AND 15
            |  UNION ALL
            |  SELECT b.root, p.p_partkey, b.lvl + 1
            |  FROM bom b JOIN probe_part p
            |    ON CAST(FLOOR(p.p_partkey / 2) AS BIGINT) = b.node
            |)
            |SELECT root, COUNT(*) AS n_parts, MAX(lvl) AS depth
            |FROM bom GROUP BY root""".stripMargin))
      }
      ev.unpersist(); docs.unpersist()
    }
  }

  /** Round-14 ops: incremental dedup (dd19) and BPE training (tx30).
    * dd19's claim: cost is corpus-pass + batch-bounded joins, so with a
    * FIXED batch wall clock grows ~linearly in the corpus (index build)
    * while the candidate/verify legs stay batch-sized. tx30's claim:
    * the corpus pass is the only corpus-scale stage; the N merge rounds
    * run over the vocab and are corpus-size-independent.
    */
  private def r14(spark: SparkSession, sfDir: String, mult: Int): Unit = {
    for (m <- Seq(1, mult)) {
      val docs = repDocs(spark, sfDir, m)
      println(s"== x$m: docs ${docs.count()}")
      // fixed-size batch: the ORIGINAL src0 slice; corpus grows with m
      val batch = graft.Tables.load(spark, sfDir, "documents")
        .filter(col("source") === "src0")
      val corpus = docs.filter(col("doc_id") >= 1000000L ||
        col("source") =!= "src0")
      t(s"dd19 incremental dedup x$m (fixed batch vs ${m}x corpus)")(noop(
        graft.ops.TextDedup.incrementalDedup(corpus, batch,
          "doc_id", "text", n = 5, k = 16, bands = 8, threshold = 0.8)))
      t(s"tx30 bpe train x$m (8 merges; rounds are vocab-sized)")(noop(
        graft.ops.Bpe.train(docs, "text", merges = 8)))
      docs.unpersist()
    }
  }

  /** Round-17 ops: sim15 IR metrics and p5 label spread. sim15's claim:
    * the metric layer adds O(nq·k) rows on top of sim14's candidate
    * generation, so wall clock tracks sim14 — linear in the corpus at
    * fixed queries, flat per-query pools when B scales with the corpus.
    * p5's claim: edge build is sim13's (scale B with the corpus), and
    * each propagation round is two edge-keyed hash aggregates — O(N·k)
    * state, never more than the adjacency. */
  private def r17(spark: SparkSession, sfDir: String, mult: Int): Unit = {
    for (m <- Seq(1, mult)) {
      // replicate with label carried (repEmb drops it) — disjoint ids,
      // small deterministic payload drift
      val emb = spark.range(m)
        .crossJoin(graft.Tables.load(spark, sfDir, "embeddings"))
        .select((col("vec_id") + col("id") * 1000000L).as("vec_id"),
          expr("transform(embedding, x -> x + cast(id as float) * 1e-3f)").as("embedding"),
          col("label"))
        .cache()
      println(s"== x$m: embeddings ${emb.count()}")
      val b = if (m > 1) 6 + (math.log(m.toDouble) / math.log(2.0)).ceil.toInt else 6
      t(s"sim15 ir metrics x$m B=$b R=3 (nq=10 fixed: linear, metric layer O(nq*k))")(noop(
        graft.ops.Embeddings.irMetricsBanded(emb, "vec_id", "embedding", "label",
          col("vec_id") < 10, k = 10, planesPerBand = b, bands = 3, dim = 64)))
      // sim16's claim: the daily refresh costs the batch-vs-corpus join,
      // not the rebuild — time the increment against a PRE-MATERIALIZED
      // edge set so only the incremental work is on the clock
      locally {
        val corpus = emb.filter(col("vec_id") % 10 =!= 0)
        val batch = emb.filter(col("vec_id") % 10 === 0)
        val edges = graft.ops.Embeddings.knnGraphBanded(corpus, "vec_id", "embedding",
          k = 3, planesPerBand = b, bands = 3, dim = 64).localCheckpoint(false)
        edges.count()
        t(s"sim16 full rebuild x$m B=$b R=3 (the cost the increment avoids)")(noop(
          graft.ops.Embeddings.knnGraphBanded(emb, "vec_id", "embedding",
            k = 3, planesPerBand = b, bands = 3, dim = 64)))
        t(s"sim16 increment x$m B=$b R=3 (10% batch vs stored edges)")(noop(
          graft.ops.Embeddings.knnGraphIncrement(edges, corpus, batch,
            "vec_id", "embedding", k = 3, planesPerBand = b, bands = 3, dim = 64)))
      }
      // sim17's claim: tombstone repair touches |affected| ≈ |deleted|·k
      // nodes, not the corpus — same pre-materialized-edges framing
      locally {
        val edges = graft.ops.Embeddings.knnGraphBanded(emb, "vec_id", "embedding",
          k = 3, planesPerBand = b, bands = 3, dim = 64).localCheckpoint(false)
        edges.count()
        val deleted = emb.filter(col("vec_id") % 20 === 0).select("vec_id")
        t(s"sim17 delete x$m B=$b R=3 (5% tombstones vs stored edges)")(noop(
          graft.ops.Embeddings.knnGraphDelete(edges, emb, deleted,
            "vec_id", "embedding", k = 3, planesPerBand = b, bands = 3, dim = 64)))
      }
      t(s"p5 label spread x$m B=$b R=3 (edge build + 3 rounds of 2 hash aggs)") {
        val edges = graft.ops.Embeddings.knnGraphBanded(emb, "vec_id", "embedding",
          k = 3, planesPerBand = b, bands = 3, dim = 64)
        val seeds = emb.filter(col("vec_id") % 5 === 0)
          .select(col("vec_id"), col("label"))
        noop(graft.ops.Graph.labelSpread(edges, "node_id", "neighbor_id",
          seeds, "vec_id", "label", iters = 3))
      }
      emb.unpersist()
    }
  }
}

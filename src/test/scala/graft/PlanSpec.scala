package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.ExplainMode

/** Physical-plan quality gates: these lock in the properties that make
  * the operators scale — filters reaching the parquet scan, column
  * pruning, broadcast of small join sides, two-phase (partial/final)
  * aggregation, and whole-stage codegen over hot expressions. A
  * regression here is a performance bug even when results stay correct.
  */
class PlanSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def planOf(q: String): String = {
    val df: DataFrame = SparkEntry.queries(q)(spark, dir)
    df.queryExecution.explainString(ExplainMode.fromString("formatted"))
  }

  test("filters are pushed into the parquet scan (q02)") {
    val p = planOf("q02_filter_predicates")
    assert(p.contains("PushedFilters"), p.take(2000))
    assert(p.contains("IsNotNull(l_tax)") || p.contains("GreaterThan") || p.contains("In(l_quantity"),
      "expected concrete pushed filters:\n" + p.take(2000))
  }

  test("column pruning reaches the scan (q02 reads only needed columns)") {
    val p = planOf("q02_filter_predicates")
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!readSchema.contains("l_partkey") && !readSchema.contains("l_suppkey"),
      s"scan should not read unused columns: $readSchema")
  }

  test("small dimension sides broadcast (q03 3-way join)") {
    val p = planOf("q03_join3_topk")
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
  }

  test("aggregations run partial then final (q01)") {
    val p = planOf("q01_pricing_summary")
    val hashAggs = p.linesIterator.count(_.contains("HashAggregate"))
    assert(hashAggs >= 2, s"expected partial+final HashAggregate, got $hashAggs:\n${p.take(2000)}")
  }

  test("order-by + limit uses TakeOrderedAndProject (q15 top-k, no full sort)") {
    val p = planOf("q15_sort_limit_offset")
    assert(p.contains("TakeOrderedAndProject"), p.take(2000))
  }

  test("exact dedup is a single shuffle (dd1)") {
    val p = planOf("dd1_dedup_exact")
    // one exchange for the groupBy, one for the final orderBy — no more
    // (formatted explain prints each node twice: tree + "(n) Node" detail)
    val exchanges = p.linesIterator.count(_.matches("""\(\d+\) Exchange\s*"""))
    assert(exchanges <= 2, s"expected <=2 exchanges, got $exchanges:\n${p.take(3000)}")
  }

  test("embedding queries use the codegen'd dot product (sim1)") {
    val df = SparkEntry.queries("sim1_topk_bruteforce")(spark, dir)
    val logical = df.queryExecution.optimizedPlan.toString
    assert(logical.toLowerCase.contains("dotproductlong"), logical.take(2000))
    // AQE only reports codegen spans on the FINAL plan, i.e. post-execution
    df.collect()
    val physical = df.queryExecution.executedPlan.toString
    // "*(n) Op" is the WholeStageCodegen marker in tree form
    assert(physical.contains("*("), physical.take(2000))
  }

  test("IVF centroids broadcast; the probe join never shuffles them (sim3)") {
    val p = planOf("sim3_ann_ivf")
    // every centroid-side join (assignment + probe) must be a broadcast —
    // a shuffled join on the K-row centroid table would serialize the
    // whole corpus through one exchange at scale for no reason
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      p.take(3000))
    assert(p.contains("BroadcastExchange"), p.take(3000))
  }

  test("n-gram Jaccard is two data shuffles, no windows, no joins (dd2)") {
    val p = planOf("dd2_dedup_ngram_jaccard")
    // per-doc shingle sets and sizes are computed inside the row
    // (ShingleHashSet) and the df cap inside the collect aggregate
    // (BoundedDocSetAggregate), so the whole pipeline is: inverted-index
    // groupBy(sh64) + pair groupBy — no distinct exchange, no size join,
    // no hot-shingle anti-join, and never a window sort
    assert(!p.contains("Window"), "dd2 must not use window functions:\n" + p.take(3000))
    assert(!p.contains("Join"), "dd2 must not join at all:\n" + p.take(3000))
    assert(p.contains("shingle_hash_set"),
      "dd2 should shingle inside the row:\n" + p.take(3000))
    // exchanges: small-input spread + two aggregation shuffles (+ the
    // presentation orderBy) — anything more means a lost fusion
    val exchanges = p.linesIterator.count(_.matches("""\(\d+\) Exchange\s*"""))
    assert(exchanges <= 4, s"expected <=4 exchanges, got $exchanges:\n${p.take(3000)}")
  }

  test("minhash signatures and band keys compute inside the row (dd3)") {
    val p = planOf("dd3_dedup_minhash_lsh")
    // the 16-seed signature + banding is ONE native expression per row
    // (no signature aggregate at all), and candidate verification
    // intersects in-row shingle sets instead of re-exploding shingles
    assert(p.contains("minhash_band_keys"),
      "dd3 should compute band keys inside the row:\n" + p.take(3000))
    assert(p.contains("array_intersect"),
      "dd3 should verify candidates by set intersection:\n" + p.take(3000))
    // the scan must never evaluate the signature expression (an inferred
    // generator filter would push it below the spread exchange)
    val scanLines = p.linesIterator.filter(_.contains("DataFilters")).mkString("\n")
    assert(!scanLines.contains("minhash_band_keys"),
      "signature expression leaked into the scan filters:\n" + scanLines)
  }

  test("near-dup survivors: two data shuffles, signatures never in the scan (dd7)") {
    val p = planOf("dd7_neardup_survivors")
    assert(!p.contains("Window"), "dd7 must not use window functions:\n" + p.take(3000))
    assert(p.contains("minhash_band_keys"),
      "dd7 should compute band keys inside the row:\n" + p.take(3000))
    val scanLines = p.linesIterator.filter(_.contains("DataFilters")).mkString("\n")
    assert(!scanLines.contains("minhash_band_keys"),
      "signature expression leaked into the scan filters:\n" + scanLines)
  }

  test("winnowing selects per-row: zero windows, zero data shuffles (tx5)") {
    val p = planOf("tx5_winnow")
    // the O(n) deque selection runs inside the row (WinnowSelect); the
    // only exchange left is the presentation orderBy
    val windows = p.linesIterator.count(_.matches("""\(\d+\) Window\s*"""))
    assert(windows == 0, s"expected no Window, got $windows:\n${p.take(3000)}")
    assert(p.contains("winnow_select"),
      "tx5 should select fingerprints inside the row:\n" + p.take(3000))
    val exchanges = p.linesIterator.count(_.matches("""\(\d+\) Exchange\s*"""))
    assert(exchanges <= 1, s"expected <=1 exchange, got $exchanges:\n${p.take(3000)}")
  }

  test("frame sampling plans no shuffle before the sample (mm2)") {
    val df = SparkEntry.queries("mm2_frame_sampling")(spark, dir)
    val p = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
    // the mapPartitions stage must sit directly on the scan: the only
    // exchange allowed is the final presentation orderBy
    val exchanges = p.linesIterator.count(_.matches("""\(\d+\) Exchange\s*"""))
    assert(exchanges <= 1, s"expected <=1 exchange, got $exchanges:\n${p.take(3000)}")
  }

  test("bucketed tables join without any shuffle (co-located join)") {
    // the pre-partitioning pattern for repeated large-table joins at
    // scale: bucket both sides on the join key at write time and the
    // join plans with ZERO exchanges (only per-bucket sorts)
    val spark2 = spark
    import spark2.implicits._
    spark.sql("DROP TABLE IF EXISTS bl")
    spark.sql("DROP TABLE IF EXISTS br")
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force the big-table path
    try {
      (0L until 1000L).map(i => (i, s"l$i")).toDF("k", "lv")
        .write.bucketBy(8, "k").sortBy("k").saveAsTable("bl")
      (0L until 1000L).map(i => (i, i * 2.0)).toDF("k", "rv")
        .write.bucketBy(8, "k").sortBy("k").saveAsTable("br")
      val joined = spark.table("bl").join(spark.table("br"), "k")
      assert(joined.count() === 1000)
      val p = joined.queryExecution.executedPlan.toString
      assert(!p.contains("Exchange"), s"bucketed join must not shuffle:\n${p.take(3000)}")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      spark.sql("DROP TABLE IF EXISTS bl")
      spark.sql("DROP TABLE IF EXISTS br")
    }
  }

  test("as-of join is a single keyed window, not a join (ev4)") {
    val p = planOf("ev4_asof_join")
    assert(p.contains("Window"), p.take(2000))
    assert(!p.contains("SortMergeJoin") && !p.contains("BroadcastNestedLoopJoin"),
      "as-of must not degrade to a join:\n" + p.take(3000))
  }

  test("multi-distinct aggregation pays ONE corpus scan (q09)") {
    // round 19: the single mixed-distinct aggregate replaced four narrow
    // scans — the Expand it introduces multiplies rows IN MEMORY only
    // (partial distinct aggregation dedups map-side before the
    // exchange, measured equal locally, 4 -> 1 scans at scale)
    val p = planOf("q09_distinct_aggs")
    assert(scanCount(p) == 1, s"expected exactly 1 scan:\n${p.take(3000)}")
    // partial aggregation below the exchange keeps the shuffle
    // (flag x distinct-values)-sized
    assert(p.contains("partial_count"), p.take(3000))
  }

  test("exact median runs as hash aggregation, not an object-hash percentile (q26)") {
    val p = planOf("q26_approx_aggs")
    assert(!p.contains("percentile("),
      "q26's exact median must use histogram+refine, not built-in percentile:\n" + p.take(3000))
    // percentile_approx (the sketch under test) is the ONLY object-hash agg
    val objAggs = p.linesIterator.count(_.matches("""\(\d+\) ObjectHashAggregate\s*"""))
    assert(objAggs <= 2, // partial+final of the percentile_approx pass
      s"expected only the sketch pass's ObjectHashAggregate pair, got $objAggs:\n${p.take(3000)}")
  }

  test("simhash computes entirely inside the row: zero data shuffles (dd4)") {
    val p = planOf("dd4_dedup_simhash")
    // the whole construction is one native expression (SimHash64); the
    // only exchange left is the presentation orderBy
    assert(p.contains("simhash64"),
      "dd4 should simhash inside the row:\n" + p.take(3000))
    val exchanges = p.linesIterator.count(_.matches("""\(\d+\) Exchange\s*"""))
    assert(exchanges <= 1, s"expected <=1 exchange, got $exchanges:\n${p.take(3000)}")
  }

  test("GROUPS frame composition shares one sort across both windows (q32)") {
    val p = planOf("q32_window_groups_frame")
    // dense_rank + RANGE-frame agg: same partitioning/order → ONE exchange
    // (plus the presentation orderBy's) and no second sort between windows
    val exchanges = p.linesIterator.count(_.matches("""\(\d+\) Exchange\s*"""))
    assert(exchanges <= 2, s"expected <=2 exchanges, got $exchanges:\n${p.take(3000)}")
    val windows = p.linesIterator.count(_.matches("""\(\d+\) Window\s*"""))
    assert(windows == 2, s"expected exactly 2 Window operators:\n${p.take(3000)}")
  }

  test("sequence packing never runs a global data window (tx13)") {
    val df = SparkEntry.queries("tx13_seq_packing")(spark, dir)
    // the DATA-side cumsum must be keyed on the id bucket — a partition-
    // less window over corpus rows would serialize the whole table
    // through one task. The only partition-less window allowed is the
    // bucket-OFFSETS scan, whose input is the per-bucket aggregate
    // (corpus/bucketSize counters), never raw rows.
    val plan = df.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.initialPlan
      case p => p
    }
    val windows = plan.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    assert(windows.nonEmpty)
    val global = windows.filter(_.partitionSpec.isEmpty)
    assert(global.size == 1, s"expected exactly 1 partition-less window (offsets), got ${global.size}")
    assert(global.head.collectFirst {
      case a: org.apache.spark.sql.execution.aggregate.BaseAggregateExec => a
    }.nonEmpty, "the partition-less window must consume the bucket-totals aggregate, not data rows")
    assert(windows.exists(_.partitionSpec.nonEmpty), "data cumsum must be bucket-keyed")
  }

  test("semantic dedup joins stay cell-keyed: no cartesian, no data broadcast (dd8)") {
    val p = planOf("dd8_dedup_semantic")
    assert(!p.contains("CartesianProduct"), p.take(3000))
    // the pairwise join must be keyed on the cell id, not nested-loop
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(3000))
  }

  test("repeated-span frequencies aggregate counts, not position lists (dd9)") {
    val p = planOf("dd9_repeated_spans")
    // hot-window detection is a count-only hash aggregate: no
    // ObjectHashAggregate (collect_list/set state) anywhere
    assert(!p.contains("ObjectHashAggregate"), p.take(3000))
    assert(p.contains("HashAggregate"), p.take(3000))
    // span merge is one doc-keyed window
    val windows = p.linesIterator.count(_.matches("""\(\d+\) Window\s*"""))
    assert(windows == 1, s"expected exactly 1 window:\n${p.take(3000)}")
  }

  test("chunk dedup's first-occurrence rule is codegen'd hash aggregation (dd10)") {
    val p = planOf("dd10_chunk_dedup")
    // the packed-long MIN must stay in HashAggregate (a min-struct falls
    // out into per-partition SortAggregate) and nothing may window over
    // the chunk stream
    assert(!p.contains("SortAggregate"), p.take(3000))
    assert(p.contains("HashAggregate"), p.take(3000))
    assert(!p.linesIterator.exists(_.matches("""\(\d+\) Window\s*""")), p.take(3000))
  }

  test("shard shuffle plans one data exchange: the shard hash (tx16)") {
    val p = planOf("tx16_shard_shuffle")
    // one hash exchange for the per-shard rank + the presentation sort;
    // no join, no aggregation anywhere
    val exchanges = p.linesIterator.count(_.matches("""\(\d+\) Exchange\s*"""))
    assert(exchanges == 2, s"expected shard hash + output sort exchanges:\n${p.take(3000)}")
    assert(!p.contains("Join"), p.take(3000))
  }

  test("PQ ANN scores against plan-baked codebooks: no codebook join or shuffle before top-k (sim4)") {
    val p = planOf("sim4_ann_pq")
    // ADC scoring: corpus scan x broadcast queries only — the codebooks
    // live inside the projection (nearest_cells + map literals), so no
    // extra exchange may appear between the scan and the bounded top-k
    assert(!p.contains("CartesianProduct"), p.take(3000))
    assert(p.contains("nearest_cells"), p.take(3000))
    // bounded top-k aggregates, never a rank-everything window
    assert(!p.linesIterator.exists(_.matches("""\(\d+\) Window\s*""")), p.take(3000))
  }

  test("IVF-PQ probes cell-keyed, scores in-row, never nested-loops the corpus (sim5)") {
    val p = planOf("sim5_ann_ivfpq")
    assert(!p.contains("CartesianProduct"), p.take(3000))
    // the candidate join must be keyed on the probed cell, not nested-loop
    // over the corpus (sim4's BNLJ shape is exactly what IVF removes)
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(3000))
    assert(p.contains("nearest_cells"), p.take(3000))
    assert(!p.linesIterator.exists(_.matches("""\(\d+\) Window\s*""")), p.take(3000))
  }

  test("importance scoring is a zero-shuffle projection (tx14)") {
    // the SCORING pass (weights already trained) must not exchange: one
    // scan, one native projection. Build it directly so the count-pass
    // jobs (which legitimately shuffle) are not in this plan.
    val docs = Tables.load(spark, dir, "documents")
    val scored = ops.TextAnalysis.importanceWeights(docs, "doc_id", "text",
      org.apache.spark.sql.functions.col("lang") === "en")
    val p = scored.queryExecution.explainString(ExplainMode.fromString("formatted"))
    assert(!p.contains("Exchange"), p.take(3000))
    assert(p.contains("bucket_weight_sum"), p.take(3000))
  }

  test("quota sampling ranks in the bounded aggregate, never a window sort (tx20)") {
    val p = planOf("tx20_domain_quota")
    assert(p.contains("top_k_scored"),
      "per-key selection must run in TopKScoredAggregate:\n" + p.take(3000))
    assert(!p.contains("Window"),
      "tx20 must not rank via a window (full per-key sort):\n" + p.take(3000))
  }

  test("BPE pairs explode the vocabulary, not the corpus (tx19)") {
    val p = planOf("tx19_bpe_pairs")
    // corpus-sized shuffle (word counts) + vocab-sized shuffle (pair
    // counts) — nothing else; top-k via TakeOrdered, no global sort
    val exchanges = p.linesIterator.count(_.matches("""\(\d+\) Exchange\s*"""))
    assert(exchanges == 2, s"expected 2 exchanges, got $exchanges:\n" + p.take(3000))
    assert(p.contains("TakeOrderedAndProject"), p.take(3000))
    assert(!p.contains("Window") && !p.contains("Join"), p.take(3000))
  }

  test("interval join runs as a binned EQUI-join, never a nested loop (ev12)") {
    val p = planOf("ev12_interval_join")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      "range join must not fall back to a nested loop:\n" + p.take(3000))
    // the bin pairing is a hash-key join (broadcast at tiny SF, shuffled
    // sort-merge at scale) — either way an equi strategy
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin") ||
      p.contains("ShuffledHashJoin"), p.take(3000))
  }

  test("PCA gram is ONE aggregation pass, no explode (em2)") {
    val p = planOf("em2_pca_gram")
    assert(p.contains("gram_acc"), "the fixed-state moment aggregate must run:\n" + p.take(3000))
    // the dim^2/2-rows-per-vector explode formulation is the anti-pattern
    val generates = p.linesIterator.count(_.matches("""\s*\(\d+\) Generate\s*"""))
    assert(generates <= 1, // one posexplode of the FINAL 1-row buffer is fine
      s"gram must not explode per-vector pairs, got $generates Generates:\n" + p.take(3000))
    assert(!p.contains("Window"), p.take(3000))
  }

  test("anomaly flags are one keyed window, zero joins (ev13)") {
    val p = planOf("ev13_anomaly")
    assert(!p.contains("Join"), p.take(3000))
    // one user_id window shuffle on the data path; the second exchange
    // is the presentation ORDER BY's range partitioning
    val exchanges = p.linesIterator.count(_.matches("""\s*\(\d+\) Exchange\s*"""))
    assert(exchanges <= 2, s"expected window shuffle + output sort only, got $exchanges:\n" + p.take(3000))
    val windows = p.linesIterator.count(_.matches("""\s*\(\d+\) Window\s*"""))
    assert(windows == 1, s"expected exactly one Window, got $windows:\n" + p.take(3000))
  }

  test("hybrid RRF fuses two bounded top-k lists, never a corpus product (p2)") {
    val p = planOf("p2_hybrid_rrf")
    assert(!p.contains("CartesianProduct"), p.take(3000))
    // sparse branch must bound the corpus before ranking (global top-k),
    // dense branch must rank inside the ≤k-state aggregate — the fusion
    // join then joins two ≤k-row frames, corpus-size independent
    assert(p.contains("TakeOrderedAndProject"),
      "bm25 side should end in a bounded top-k:\n" + p.take(3000))
    assert(p.contains("top_k_scored"),
      "dense side should rank inside the bounded aggregate:\n" + p.take(3000))
    // the only Window allowed is the ≤k-row rank numbering after the
    // sparse top-k (plus none on the dense side)
    val windows = p.linesIterator.count(_.matches("""\s*\(\d+\) Window\s*"""))
    assert(windows <= 1, s"expected at most one (bounded) Window, got $windows:\n" + p.take(3000))
  }

  test("rolling distinct runs the bounded fan-out, never a range join (ev14)") {
    val p = planOf("ev14_rolling_distinct")
    // the oracle's BETWEEN range join would plan as a nested loop; the
    // Spark side must instead explode ≤7 anchors and EQUI-join the
    // broadcast day spine
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      p.take(3000))
    assert(p.contains("BroadcastHashJoin"), "day spine should broadcast:\n" + p.take(3000))
    assert(p.contains("Generate"), "expected the sequence() fan-out:\n" + p.take(3000))
    assert(!p.contains("Window"), p.take(3000))
  }

  test("fuzzy linkage joins on the block key, never all-pairs (dd12)") {
    val p = planOf("dd12_fuzzy_linkage")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      p.take(3000))
    // the quadratic runs on the distinct-name dictionary: both join
    // inputs must be aggregates, and the edit distance must appear only
    // ABOVE the block-keyed join (post-join filter), bounded per block
    assert(p.contains("HashAggregate"), p.take(3000))
    assert(p.contains("levenshtein"), p.take(3000))
  }

  test("triangle counting is all equi-joins off the oriented edge list (gr3)") {
    val p = planOf("gr3_triangles")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      p.take(3000))
    // wedge + closing joins are equi-joins; counts come from one
    // map-side-combined aggregate, never a window
    assert(!p.contains("Window"), p.take(3000))
  }

  private def scanCount(p: String): Int =
    p.linesIterator.count(_.matches("""\(\d+\) Scan parquet\s*"""))

  test("KMV sketches build in ONE lineitem scan, exact pass in one more (q42)") {
    val p = planOf("q42_kmv_intersect")
    // pass 1: all three bounded sketch buffers share a single scan;
    // pass 2: the exact ground truth - two scans TOTAL, and the sketch
    // aggregate runs partial/final (ObjectHashAggregate x2 per level)
    assert(scanCount(p) == 2, s"expected 2 scans:\n${p.take(3000)}")
    assert(p.linesIterator.count(_.contains("ObjectHashAggregate")) >= 2, p.take(3000))
  }

  test("column profiling is ONE documents scan fanned out by one Generate (q43)") {
    val p = planOf("q43_profile")
    assert(scanCount(p) == 1, s"expected 1 scan:\n${p.take(3000)}")
    assert(p.linesIterator.count(_.matches("""\(\d+\) Generate\s*""")) == 1, p.take(3000))
    // no count-distinct Expand: distinct state lives in the KMV buffers
    assert(!p.contains("Expand"), p.take(3000))
  }

  test("fused percentiles pay ONE histogram + ONE refine scan for both ranks (q45)") {
    // round 19: the two bounded passes run as collect JOBS during frame
    // construction (bucket histogram, then the in-bucket refine — both
    // ranks share both), and the FINAL plan is LocalRelation-only: no
    // corpus scan, window, or broadcast chain survives to execution
    Tables.load(spark, dir, "lineitem") // footer reads outside the group
    // AQE materializes every exchange as its own job — pin it off so the
    // job count below is the operator's, not the scheduler mode's (the
    // bench session runs AQE-off too)
    val aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.sparkContext.setJobGroup("q45pin", "q45 scan-count pin")
    val df =
      try SparkEntry.queries("q45_quantile_disc")(spark, dir)
      finally {
        spark.sparkContext.clearJobGroup()
        spark.conf.set("spark.sql.adaptive.enabled", aqe)
      }
    val p = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
    assert(scanCount(p) == 0, s"final plan must be scan-free:\n${p.take(3000)}")
    assert(p.contains("LocalTableScan"), p.take(3000))
    assert(!p.contains("Window"), p.take(3000))
    // exactly one histogram job + one refine job (status tracker is fed
    // asynchronously — poll until it has seen both)
    def jobs = spark.sparkContext.statusTracker.getJobIdsForGroup("q45pin").length
    val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
    while (jobs < 2 && System.nanoTime() < deadline) Thread.sleep(20)
    Thread.sleep(200) // catch any unexpected THIRD job before asserting
    assert(jobs === 2, "expected exactly histogram + refine jobs")
  }

  test("EWMA is one keyed window pass, zero joins (ev15)") {
    val p = planOf("ev15_ewma")
    assert(p.linesIterator.count(_.matches("""\(\d+\) Window\s*""")) == 1, p.take(3000))
    assert(!p.contains("Join"), p.take(3000))
  }

  test("session paths end in TakeOrdered, windows share one exchange (ev16)") {
    val p = planOf("ev16_path_topk")
    assert(p.contains("TakeOrderedAndProject"), p.take(3000))
    // all three window passes (lag, session-sum, row_number) run above
    // the SAME user-keyed exchange; the only other exchange is the path
    // count aggregate - and the per-session truncation runs as a
    // WindowGroupLimit, never materializing full sessions
    assert(p.linesIterator.count(_.matches("""\(\d+\) Exchange\s*""")) == 2, p.take(3000))
    assert(p.contains("WindowGroupLimit"), p.take(3000))
  }

  test("semantic contamination blocks on the LSH signature, eval side broadcast (p3)") {
    val p = planOf("p3_semantic_contamination")
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      p.take(3000))
  }

  test("recursive CTE runs as the engine's UnionLoop, stepping by equi-join (q49)") {
    val p = planOf("q49_recursive_cte")
    assert(p.contains("UnionLoop"), p.take(3000))
    // the recursion step joins on the COMPUTED parent key — a hash/merge
    // equi-join per iteration, never a nested loop over the frontier
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      p.take(3000))
  }

  test("phash near-dup candidates come from a band-key equi-join, never all-pairs (mm6)") {
    val p = planOf("mm6_phash_neardup")
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("BroadcastHashJoin"), p.take(3000))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      p.take(3000))
  }

  test("knn graph self-joins on the LSH signature, ranks in the bounded aggregate (sim9)") {
    val p = planOf("sim9_knn_graph")
    // corpus-corpus join: shuffle on the signature key, never all-pairs
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("BroadcastHashJoin"), p.take(3000))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      p.take(3000))
    // per-node top-k via the TypedImperativeAggregate, not a window sort
    assert(p.contains("ObjectHashAggregate"), p.take(3000))
    assert(!p.contains("RunningWindowFunction") || !p.contains("row_number"), p.take(3000))
  }

  test("concurrency sweep distributes: windows partition by day, never globally (ev25)") {
    val p = planOf("ev25_concurrency")
    assert(p.contains("hashpartitioning(day"), p.take(4000))
    assert(!p.contains("SinglePartition") || p.contains("hashpartitioning(day"), p.take(4000))
  }

  test("pretrain blend composes with hash joins only, budget side broadcast (p4)") {
    val p = planOf("p4_pretrain_blend")
    assert(p.contains("BroadcastHashJoin"), p.take(4000))
    assert(!p.contains("CartesianProduct"), p.take(4000))
  }

  test("markov eval broadcasts the tiny model, scores in one pass (ev27)") {
    val p = planOf("ev27_markov_eval")
    assert(p.contains("BroadcastHashJoin"), p.take(4000))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      p.take(4000))
  }

  test("variant shredding parses once and aggregates partial+final (q50)") {
    val p = planOf("q50_variant_shred")
    // two-phase aggregation over the extracted columns
    assert(p.contains("HashAggregate"), p.take(3000))
    assert(p.contains("partial_"), p.take(3000))
  }

  test("banded knn graph joins on the band signature, ranks bounded, never all-pairs (sim13)") {
    val p = planOf("sim13_knn_graph_banded")
    assert(p.contains("ObjectHashAggregate"), p.take(4000)) // bounded top-k, no window sort
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      p.take(4000))
    // the candidate join is keyed on the band signature — either shape
    // (shuffled hash at scale, broadcast at tiny SF) is an equi-join
    assert(p.contains("hashpartitioning(sig") ||
      p.linesIterator.exists(l => l.contains("keys") && l.contains("[sig#")),
      p.take(4000))
  }

  test("incremental knn ranks in the bounded aggregate with no distinct exchange (sim16)") {
    val p = planOf("sim16_knn_increment")
    assert(p.contains("ObjectHashAggregate"), p.take(4000))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      p.take(4000))
    // pair dedupe rides TopKScoredAggregate(dedup) — a HashAggregate keyed
    // on (query_id, neighbor_id, cos) would be the corpus-scale distinct
    // this design removed
    assert(!p.linesIterator.exists(l => l.contains("HashAggregate") &&
      l.contains("neighbor_id") && l.contains("cos")), p.take(4000))
  }

  test("knn delete repairs via the bounded aggregate, no cartesian, no distinct (sim17)") {
    val p = planOf("sim17_knn_delete")
    assert(p.contains("ObjectHashAggregate"), p.take(4000))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      p.take(4000))
    assert(!p.linesIterator.exists(l => l.contains("HashAggregate") &&
      l.contains("neighbor_id") && l.contains("cos")), p.take(4000))
  }

  test("ir metrics broadcast the ranked side, never the corpus labels (sim15)") {
    val p = planOf("sim15_ir_metrics")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      p.take(4000))
    // every BroadcastExchange input is ranked/metric-sized: none may sit
    // directly over the embeddings scan (the corpus-side projection)
    val lines = p.linesIterator.toSeq
    val bcasts = lines.zipWithIndex.filter(_._1.contains("BroadcastExchange"))
    assert(bcasts.nonEmpty, p.take(2000))
    bcasts.foreach { case (_, i) =>
      val next = lines.slice(i + 1, i + 3).mkString
      assert(!next.contains("Scan parquet"),
        s"corpus scan directly under a broadcast:\n${lines.slice(i, i + 4).mkString("\n")}")
    }
  }

  test("gini + zipf rank via the distributed row_number at scale (ev35/tx29)") {
    // force the DistributedRank switch past the small-input textbook path
    withScalePaths() {
      Seq("ev35_revenue_gini", "tx29_zipf_slope").foreach { q =>
        val p = planOf(q)
        assert(p.contains("hashpartitioning(__pid"), s"$q:\n${p.take(3000)}")
      }
    }
  }

  test("incremental dedup joins by digest and bucket, never all-pairs (dd19)") {
    val p = planOf("dd19_incremental_dedup")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      p.take(4000))
    // the near leg's candidate join is keyed on the LSH band bucket
    assert(p.contains("bucket"), p.take(4000))
  }

  test("no global window over an unbounded input anywhere in the suite") {
    // The gate behind ev35/tx29: with the DistributedRank switch forced
    // to its scale path, NO query may plan a SinglePartition WindowExec
    // unless its input is bounded by construction — a limit/top-k below
    // it, a grand-total (empty-grouping) aggregate, or a counters table
    // keyed only by the synthetic bounded-cardinality __pid/__bkt ids
    // (the DistributedRank / packSequences offset tables), or the
    // value-DOMAIN-bounded histogram buckets __b/__k of ExactQuantile
    // (rows ≤ span/2^shift regardless of corpus size; a literal __k is
    // constant-folded out of the partition spec, which is how those
    // windows show up global here).
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.window.WindowExec
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.execution.{GlobalLimitExec, TakeOrderedAndProjectExec}
    val counters = Set("__bkt", "__pid", "__b", "__k")
    // the aggregate's grouping attrs get internal names (_groupingexpression,
    // literal "1"); the declared counter names survive only in the final
    // aggregate's resultExpressions — classify on the grouping-derived
    // result names (those referencing only grouping attributes)
    def countersOnlyAgg(a: BaseAggregateExec): Boolean = {
      if (a.groupingExpressions.isEmpty) return true
      val groupIds = a.groupingExpressions.map(_.toAttribute.exprId).toSet
      val groupedOut = a.resultExpressions
        .filter(_.references.forall(r => groupIds.contains(r.exprId)))
      groupedOut.nonEmpty &&
        groupedOut.map(_.name).forall(n => counters(n) || n.forall(_.isDigit))
    }
    def boundedBelow(p: SparkPlan): Boolean = p.collectFirst {
      case _: GlobalLimitExec => ()
      case _: TakeOrderedAndProjectExec => ()
      case a: BaseAggregateExec if countersOnlyAgg(a) => ()
    }.isDefined
    withScalePaths() {
      val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
        val plan = fn(spark, dir).queryExecution.sparkPlan
        plan.collect {
          case w: WindowExec if w.partitionSpec.isEmpty && !boundedBelow(w.child) =>
            s"$name: ${w.simpleString(200)}"
        }
      }
      assert(offenders.isEmpty,
        "global window over unbounded input:\n" + offenders.mkString("\n"))
    }
  }

  test("bpe encode is a zero-shuffle projection (merges baked as literals)") {
    import spark.implicits._
    val docs = Seq((1L, "aa ab aa"), (2L, "b a")).toDF("doc_id", "text")
    val enc = ops.Bpe.encodeWith(docs, "text", "doc_id", Seq(("a", "a"), ("aa", "b")))
    val p = enc.queryExecution.explainString(ExplainMode.fromString("formatted"))
    // the model travels in the plan (literal replace chain), the corpus
    // never moves: no Exchange, no join, no aggregate anywhere
    assert(!p.contains("Exchange"), p.take(2000))
    assert(!p.contains("Join") && !p.contains("Aggregate"), p.take(2000))
  }
}

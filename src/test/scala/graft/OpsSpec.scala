package graft

import graft.ops.Skew
import graft.streaming.StatefulSessions
import graft.streaming.StatefulSessions.{Event, Session}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Specs for the scale helpers: salted aggregation equivalence and
  * stateful streaming sessionization. */
class OpsSpec extends SparkSpec {
  import spark.implicits._

  test("salted aggregation matches plain aggregation on skewed data") {
    // heavy hitter: key 'hot' holds 90% of rows
    val rows = (1 to 900).map(i => ("hot", i.toDouble)) ++ (1 to 100).map(i => (s"k${i % 10}", i.toDouble))
    val df = rows.toDF("k", "v").repartition(8)
    val salted = Skew.saltedCountSum(df, Seq("k"), "v", saltBuckets = 16)
      .orderBy("k").collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    val plain = df.groupBy("k").agg(count(lit(1)).as("n"), sum("v").as("total"))
      .orderBy("k").collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    assert(salted.toSeq === plain.toSeq)
  }

  test("salted join matches plain join on skewed keys") {
    import spark.implicits._
    // 90% of big rows share one hot key
    val big = (0 until 1000).map(i => (if (i < 900) "hot" else s"k${i % 7}", i.toLong))
      .toDF("k", "v")
    val small = Seq(("hot", 1.0), ("k0", 2.0), ("k3", 3.0)).toDF("k", "w")
    val plain = big.join(small, Seq("k"), "inner")
      .select("k", "v", "w").collect().map(_.toSeq).toSet
    val salted = ops.Skew.saltedJoin(big, small, "k", saltBuckets = 8)
      .select("k", "v", "w").collect().map(_.toSeq).toSet
    assert(salted === plain)
    assert(salted.count(_.head == "hot") === 900) // the hot key fully joined
  }

  test("histogram+refine exact median matches built-in percentile") {
    // adversarial shapes: odd/even counts, heavy ties, values straddling
    // bucket boundaries (shift 4 → bucket width 16), negatives, and a
    // single-row group
    val rnd = new scala.util.Random(42)
    val rows = Seq.newBuilder[(String, Long)]
    for (g <- 0 until 7; _ <- 0 until (if (g == 6) 1 else 500 + g)) {
      val v = g match {
        case 0 => rnd.nextInt(1000).toLong           // dense, many ties
        case 1 => rnd.nextInt(40).toLong             // extreme ties
        case 2 => rnd.nextInt(100000).toLong - 50000 // negatives
        case 3 => (rnd.nextInt(8) * 16).toLong       // exactly on boundaries
        case 4 => rnd.nextLong() % 1000000
        case 5 => 17L                                // constant group
        case _ => 99L
      }
      rows += ((s"g$g", v))
    }
    // null values must be ignored, exactly like built-in percentile
    val data = rows.result().map { case (k, v) => (k, java.lang.Long.valueOf(v)) } ++
      Seq(("g0", null: java.lang.Long), ("g2", null: java.lang.Long))
    val df = data.toDF("k", "v")
    val got = graft.ops.ExactQuantile.medianByKey(df, col("k"), col("v"), bucketShift = 4)
      .select(col("__k").as("k"), col("median")).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    val gotValues = graft.ops.ExactQuantile.medianByKeyValues(df, col("k"), col("v"))
      .select(col("__k").as("k"), col("median")).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    val want = df.groupBy("k").agg(expr("percentile(v, 0.5)").as("m")).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(got.keySet === want.keySet)
    assert(gotValues.keySet === want.keySet)
    for ((k, w) <- want) {
      assert(got(k) === w, s"group $k (bucketed)")
      assert(gotValues(k) === w, s"group $k (single-scan values)")
    }
  }

  test("stateful streaming sessionization closes sessions on gaps") {
    implicit val s = spark
    val inDir = tmpDir("graft-sess-in")
    // user 1: two sessions (gap > 30 min); user 2: one session
    Seq(
      Event(1L, 0L, 1.0), Event(1L, 60_000_000L, 2.0),            // session A: 2 events
      Event(1L, 4_000_000_000L, 5.0),                             // session B (gap > 30min)
      Event(2L, 100L, 7.0))
      .toDS().write.parquet(inDir + "/b1")
    val stream = spark.readStream.schema(implicitly[org.apache.spark.sql.Encoder[Event]].schema)
      .parquet(inDir + "/b1").as[Event]
    val sessions = StatefulSessions.sessionize(stream, gapUs = 1_800_000_000L,
      flushTimeout = org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout)
    val q = sessions.writeStream.outputMode("append")
      .format("memory").queryName("sessout")
      .trigger(Trigger.ProcessingTime("1 second")).start()
    q.processAllAvailable(); q.stop()
    // only sessions CLOSED by a later event are emitted (open ones wait
    // for timeout): user 1 session A
    val emitted = spark.sql("SELECT * FROM sessout ORDER BY user_id, start_us")
      .as[Session].collect().toSeq
    assert(emitted === Seq(Session(1L, 0L, 60_000_000L, 2L, 3.0)))
  }

  test("sequence packing tiles the token axis and is repartition-stable") {
    val rnd = new scala.util.Random(7)
    val docs = (0 until 300).map { i =>
      (i.toLong, Seq.fill(1 + rnd.nextInt(40))("w").mkString(" "))
    }.toDF("doc_id", "text")
    def run(df: org.apache.spark.sql.DataFrame) =
      ops.TextAnalysis.packSequences(df, "doc_id", "text", seqLen = 64, bucketSize = 32)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .sortBy(x => (x._1, x._2)).toSeq
    val out = run(docs)
    // layout is a pure function of (id, token count): any partitioning
    // of the input produces the identical packing
    assert(run(docs.repartition(13)) === out)
    assert(run(docs.coalesce(1)) === out)
    // per-doc spans sum to the doc's token count
    val wantN = docs.select(col("doc_id"), size(split(col("text"), " ")).cast("long"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val gotN = out.groupBy(_._1).map { case (id, rs) => id -> rs.map(_._4).sum }
    assert(gotN === wantN)
    // the token axis tiles exactly: per sequence, spans start at 0 (or
    // continue a carried doc), are contiguous, and never exceed seqLen
    out.groupBy(_._2).foreach { case (_, rs) =>
      val spans = rs.sortBy(_._3)
      spans.foldLeft(-1L) { case (prevEnd, (_, _, lo, n)) =>
        assert(prevEnd == -1L || lo == prevEnd); assert(n >= 1); lo + n
      }
      assert(spans.map(_._4).sum <= 64)
    }
    // every sequence except the last is exactly full
    val perSeq = out.groupBy(_._2).view.mapValues(_.map(_._4).sum).toMap
    val lastSeq = perSeq.keys.max
    perSeq.foreach { case (s, tot) => if (s != lastSeq) assert(tot === 64L) }
  }

  test("semantic dedup prunes exactly the vectors with a lower-id near-twin") {
    val rnd = new scala.util.Random(11)
    val base = Array.fill(8)(Array.fill(16)(rnd.nextGaussian()))
    // 80 vectors in 8 loose clusters; every 10th is a near-copy of the
    // previous vector (tiny perturbation → cosine ~1)
    val vecs = (0 until 80).map { i =>
      val b = base(i % 8)
      val v = if (i % 10 == 9) ((i - 1).toLong, b)
        else (i.toLong, b.map(x => x + 0.3 * rnd.nextGaussian()))
      (i.toLong, v._2.map(x => (x + 0.001 * i).toFloat))
    }.toDF("vec_id", "embedding")
    val out = ops.Embeddings.semDedup(vecs, "vec_id", "embedding",
        numCells = 4, threshold = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out.length === 80) // every vector accounted for exactly once
    assert(out.map(_._1).distinct.length === 80)
    // reconstruct ground truth from the op's own cell assignment: kept=0
    // iff a lower-id cluster-mate with cosine >= threshold exists
    val byCell = out.groupBy(_._2)
    val q = vecs.collect().map(r => r.getLong(0) ->
      r.getSeq[Float](1).map(x => math.round(x * 1e6).toLong).toArray).toMap
    def cos(a: Array[Long], b: Array[Long]): Double = {
      val dot = a.zip(b).map { case (x, y) => x * y }.sum
      dot.toDouble / (math.sqrt(a.map(x => x * x).sum.toDouble) *
        math.sqrt(b.map(x => x * x).sum.toDouble))
    }
    for ((_, members) <- byCell; (id, _, kept) <- members) {
      val hasTwin = members.exists { case (o, _, _) => o < id && cos(q(o), q(id)) >= 0.9 }
      assert(kept === (if (hasTwin) 0L else 1L), s"vec $id")
    }
    // and the construction really produced duplicates to prune
    assert(out.count(_._3 == 0L) >= 4)
  }

  test("semDedup(numCells = 0) auto-sizes to ceil(sqrt(N)) and matches the explicit run") {
    val rnd = new scala.util.Random(11)
    val base = Array.fill(8)(Array.fill(16)(rnd.nextGaussian()))
    val vecs = (0 until 80).map { i =>
      val b = base(i % 8)
      val v = if (i % 10 == 9) ((i - 1).toLong, b)
        else (i.toLong, b.map(x => x + 0.3 * rnd.nextGaussian()))
      (i.toLong, v._2.map(x => (x + 0.001 * i).toFloat))
    }.toDF("vec_id", "embedding")
    def runOf(k: Int) = ops.Embeddings.semDedup(vecs, "vec_id", "embedding",
        numCells = k, threshold = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1).toSeq
    // N = 80 → auto K = ⌈√80⌉ = 9; training is deterministic (seeds =
    // lowest ids), so auto must be BIT-EQUAL to the explicit run
    assert(runOf(0) === runOf(9))
    assert(runOf(0).map(_._2).distinct.length > 1, "auto sizing must actually cluster")
  }

  test("blockedNearDupPairs refuses a block past the sizing guard; 0 forces through") {
    // one 100-row block: 4950 pairs — fine normally, over a 50-row guard
    val vecs = (0 until 100).map(i =>
      (i.toLong, Array.fill(4)((i % 7 + 1).toFloat), "allsame")).toDF("id", "v", "blk")
    val e = intercept[IllegalArgumentException] {
      ops.Embeddings.blockedNearDupPairs(vecs, "id", "v", "blk", 0.5, maxBlockRows = 50)
    }
    assert(e.getMessage.contains("banded"), e.getMessage)
    // maxBlockRows = 0 disables the guard (oracle-replay escape hatch)
    val forced = ops.Embeddings.blockedNearDupPairs(vecs, "id", "v", "blk", -1.0,
      maxBlockRows = 0).count()
    assert(forced === 100L * 99 / 2)
    // and the default guard admits sane blocks
    assert(ops.Embeddings.blockedNearDupPairs(vecs, "id", "v", "blk", -1.0).count()
      === 100L * 99 / 2)
  }

  test("banded knn graph: multi-band recall beats one wide signature; pairs rank once") {
    val rnd = new scala.util.Random(37)
    val base = Array.fill(10)(Array.fill(32)(rnd.nextGaussian()))
    val vecs = (0 until 300).map { i =>
      (i.toLong, base(i % 10).map(x => (x + 0.15 * rnd.nextGaussian()).toFloat))
    }.toDF("vec_id", "embedding")
    val k = 5
    val q = vecs.collect().map(r => r.getLong(0) ->
      r.getSeq[Float](1).map(x => math.round(x * 1e6).toLong).toArray).toMap
    def cos(a: Array[Long], b: Array[Long]): Double = {
      val dot = a.zip(b).map { case (x, y) => x * y }.sum
      dot.toDouble / (math.sqrt(a.map(x => x * x).sum.toDouble) *
        math.sqrt(b.map(x => x * x).sum.toDouble))
    }
    // exact ground truth (all-pairs, driver-side — 300 vectors)
    val truth: Map[Long, Set[Long]] = q.map { case (id, v) =>
      id -> q.toSeq.filter(_._1 != id)
        .map { case (o, w) => (-cos(v, w), o) }.sorted.take(k).map(_._2).toSet
    }
    def recall(rows: Array[(Long, Long)]): Double = {
      val got = rows.groupBy(_._1).map { case (n, xs) => n -> xs.map(_._2).toSet }
      q.keys.toSeq.map(id =>
        (got.getOrElse(id, Set.empty[Long]) & truth(id)).size.toDouble / k).sum / q.size
    }
    val bandedRows = ops.Embeddings.knnGraphBanded(vecs, "vec_id", "embedding",
        k, planesPerBand = 6, bands = 3, dim = 32)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val singleRows = ops.Embeddings.knnGraph(vecs, "vec_id", "embedding",
        k, planes = 18, dim = 32)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    // a pair surfaced by several bands must rank once
    assert(bandedRows.distinct.length === bandedRows.length)
    val rb = recall(bandedRows)
    val rs = recall(singleRows)
    assert(rb > rs, s"banded recall $rb should beat the single 18-plane signature's $rs")
    assert(rb >= 0.5, s"banded recall $rb too low for the clustered fixture")
  }

  test("banded query-time ANN beats the single wide signature at equal total planes") {
    val rnd = new scala.util.Random(43)
    val base = Array.fill(10)(Array.fill(32)(rnd.nextGaussian()))
    val vecs = (0 until 300).map { i =>
      (i.toLong, base(i % 10).map(x => (x + 0.15 * rnd.nextGaussian()).toFloat))
    }.toDF("vec_id", "embedding")
    val k = 5
    val pred = col("vec_id") < 30
    val q = vecs.collect().map(r => r.getLong(0) ->
      r.getSeq[Float](1).map(x => math.round(x * 1e6).toLong).toArray).toMap
    def cos(a: Array[Long], b: Array[Long]): Double = {
      val dot = a.zip(b).map { case (x, y) => x * y }.sum
      dot.toDouble / (math.sqrt(a.map(x => x * x).sum.toDouble) *
        math.sqrt(b.map(x => x * x).sum.toDouble))
    }
    val truth: Map[Long, Set[Long]] = (0L until 30L).map { id =>
      id -> q.toSeq.filter(_._1 != id)
        .map { case (o, w) => (-cos(q(id), w), o) }.sorted.take(k).map(_._2).toSet
    }.toMap
    def recall(rows: Array[(Long, Long)]): Double = {
      val got = rows.groupBy(_._1).map { case (n, xs) => n -> xs.map(_._2).toSet }
      truth.keys.toSeq.map(id =>
        (got.getOrElse(id, Set.empty[Long]) & truth(id)).size.toDouble / k).sum / truth.size
    }
    val banded = ops.Embeddings.annTopKBanded(vecs, "vec_id", "embedding",
        pred, k, planesPerBand = 6, bands = 3, dim = 32)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val single = ops.Embeddings.annTopK(vecs, "vec_id", "embedding",
        pred, k, planes = 18, dim = 32)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(banded.distinct.length === banded.length) // multi-band hits rank once
    val rb = recall(banded)
    val rs = recall(single)
    assert(rb > rs, s"banded recall $rb should beat single-signature $rs")
    assert(rb >= 0.5, s"banded recall $rb too low for the clustered fixture")
  }

  test("hierarchical quantizer: coarse=1 equals flat; assignment is within-group argmin") {
    val rnd = new scala.util.Random(23)
    val base = Array.fill(8)(Array.fill(16)(rnd.nextGaussian()))
    val vecs = (0 until 200).map { i =>
      (i.toLong, base(i % 8).map(x => (x + 0.25 * rnd.nextGaussian()).toFloat))
    }.toDF("vec_id", "embedding")
    // ONE coarse cell puts every fine centroid in a single CASE branch:
    // the two-level assignment degenerates to flat, bit-for-bit (the
    // corpus is below sampleCap, so fine training sees identical input)
    val idx1 = ops.Embeddings.trainHierarchicalIndex(vecs, "vec_id", "embedding",
      numCells = 8, coarseCells = 1)
    val hier1 = ops.Embeddings.assignHierarchical(vecs, "vec_id", "embedding", idx1)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
    val flat = ops.Embeddings.assignFlat(vecs, "vec_id", "embedding", numCells = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
    assert(hier1 === flat)
    // multi-coarse, w=1: each vector's cell must be the exact argmin
    // among the fine centroids of its NEAREST coarse cell (the
    // documented approximation contract), verified against a driver
    // replica of NearestCells' cn2 − 2·dot ordering with lower-id ties
    val idx = ops.Embeddings.trainHierarchicalIndex(vecs, "vec_id", "embedding",
      numCells = 8, coarseCells = 3)
    assert(idx.coarse.length >= 2, "fixture should produce several coarse cells")
    val hier = ops.Embeddings.assignHierarchical(vecs, "vec_id", "embedding",
        idx, wCoarse = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val q = vecs.collect().map(r => r.getLong(0) ->
      r.getSeq[Float](1).map(x => math.round(x * 1e6).toLong).toArray).toMap
    def best(v: Array[Long], cs: Seq[(Long, Array[Long])]): Long =
      cs.map { case (id, c) =>
        val dot = c.zip(v).map { case (x, y) => x * y }.sum
        (c.map(x => x * x).sum - 2L * dot, id)
      }.min._2
    q.foreach { case (id, v) =>
      val coarse = best(v, idx.coarse.toSeq)
      assert(hier(id) === best(v, idx.fines(coarse).toSeq), s"vec $id")
    }
    // w >= K1 probes every coarse cell: the union of fine subsets is the
    // full codebook, so assignment equals flat over the same centroids
    val hierAll = ops.Embeddings.assignHierarchical(vecs, "vec_id", "embedding",
        idx, wCoarse = idx.coarse.length)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
    assert(hierAll === flat)
    // semDedup routed through the hierarchy keeps the exactness contract
    // WITHIN its own assignment: kept=0 iff a lower-id cell-mate with
    // cosine >= threshold exists
    val out = ops.Embeddings.semDedup(vecs, "vec_id", "embedding",
        numCells = 8, threshold = 0.95, coarseCells = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out.length === 200 && out.map(_._1).distinct.length === 200)
    def cos(a: Array[Long], b: Array[Long]): Double = {
      val dot = a.zip(b).map { case (x, y) => x * y }.sum
      dot.toDouble / (math.sqrt(a.map(x => x * x).sum.toDouble) *
        math.sqrt(b.map(x => x * x).sum.toDouble))
    }
    for ((_, members) <- out.groupBy(_._2); (id, _, kept) <- members) {
      val hasTwin = members.exists { case (o, _, _) => o < id && cos(q(o), q(id)) >= 0.95 }
      assert(kept === (if (hasTwin) 0L else 1L), s"vec $id")
    }
  }

  test("chunk dedup keeps exactly one occurrence of every chunk content") {
    // doc 0: chunks A B; doc 1: chunks B C (B duplicated); doc 2 = doc 0
    // exactly (both chunks duplicated); doc 3: unique partial tail chunk
    def words(tag: String, n: Int) = (0 until n).map(i => s"$tag$i").mkString(" ")
    val a = words("a", 10); val b = words("b", 10); val c = words("c", 10)
    val docs = Seq(
      (0L, s"$a $b"), (1L, s"$b $c"), (2L, s"$a $b"), (3L, words("t", 4)))
      .toDF("doc_id", "text")
    val out = ops.TextDedup.chunkDedup(docs, "doc_id", "text", chunkWords = 10)
      .orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    assert(out.map(x => (x._1, x._2, x._3)).toSeq ===
      Seq((0L, 2L, 2L), (1L, 2L, 1L), (2L, 2L, 0L), (3L, 1L, 1L)))
    assert(out(0)._4 === s"$a $b") // first occurrences all survive
    assert(out(1)._4 === c)        // B removed, C kept, order preserved
    assert(out(2)._4 === "")       // exact duplicate fully deduplicated
    assert(out(3)._4 === words("t", 4))
    // global invariant: surviving chunks = distinct chunk contents
    assert(out.map(_._3).sum === 4L)
  }

  test("incremental dedup verdicts: exact beats near, near verified, short docs ok") {
    def words(tag: String, n: Int) = (0 until n).map(i => s"$tag$i").mkString(" ")
    val base = words("w", 30)
    val corpus = Seq(
      (100L, base), (101L, base), // exact-dup class in the corpus (min id wins)
      (102L, words("x", 30)), (103L, "tiny corpus doc")).toDF("doc_id", "text")
    val increment = Seq(
      (1L, base),                 // exact match → min corpus id 100
      (2L, base + " wExtra"),     // 26/27 shared shingles → jaccard 26/27 ≥ 0.8
      (3L, words("z", 30)),       // novel long doc
      (4L, "tiny corpus doc"),    // short (<5 words) but exact-matchable
      (5L, "short novel one")     // short and novel → never reaches the near leg
    ).toDF("doc_id", "text")
    val out = ops.TextDedup.incrementalDedup(corpus, increment, "doc_id", "text",
        n = 5, k = 16, bands = 8, threshold = 0.8)
      .orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getString(1),
        if (r.isNullAt(2)) -1L else r.getLong(2)))
    assert(out.toSeq === Seq(
      (1L, "exact", 100L), (2L, "near", 100L), (3L, "new", -1L),
      (4L, "exact", 103L), (5L, "new", -1L)))
  }

  test("bpe train learns greedy merges with left-to-right replace and early stop") {
    // 'aaa'×2 + 'aa'×1: round 1 pair (a,a) has freq 2·2+1=5; the merge is
    // left-to-right NON-overlapping, so ' a a a ' → ' aa a ' (not ' aa aa ');
    // round 2 merges (aa,a) freq 2; then the vocab is single-symbol and
    // training stops early even though 4 merges were requested.
    val docs = Seq("aaa aaa aa").toDF("text")
    val out = ops.Bpe.train(docs, "text", merges = 4)
      .orderBy("merge_rank")
      .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
    assert(out.toSeq === Seq((1, "a", "a", 5L), (2, "aa", "a", 2L)))
    // frequency tie breaks lexicographically on (lhs, rhs)
    val tie = Seq("ba ca").toDF("text")
    val t = ops.Bpe.train(tie, "text", merges = 1)
      .collect().map(r => (r.getString(1), r.getString(2))).toSeq
    assert(t === Seq(("b", "a")))
  }

  test("bpe encode replays the trained merge schedule per word") {
    val docs = Seq((1L, "aaa aaa aa"), (2L, ""), (3L, "ab")).toDF("doc_id", "text")
    // learned merges: (a,a) freq 5, (aa,a) freq 2, (a,b) freq 1
    val m = ops.Bpe.train(docs, "text", merges = 4)
    val out = ops.Bpe.encode(docs, "text", "doc_id", m).orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    // 'aaa': m1 merges left-to-right (' aa a '), m2 completes (' aaa ');
    // 'ab' only matches m3; the empty document encodes to zero tokens
    assert(out.toSeq === Seq(
      (1L, "aaa aaa aa", 3L), (2L, "", 0L), (3L, "ab", 1L)))
    // encoding the training corpus reproduces the trainer's final vocab
    // representation — and a shuffled merge table re-sorts by rank
    val shuffled = m.orderBy(col("lhs").desc)
    val out2 = ops.Bpe.encode(docs, "text", "doc_id", shuffled).orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(out2.toSeq === out.toSeq)
  }

  test("bpe vocab ids sort by UTF-8 bytes (not UTF-16) and tier; encodeIds pins order") {
    // U+FF61 is EF BD A1 in UTF-8 but FF61 in UTF-16; U+10000 is
    // F0 90 80 80 vs surrogate D800 DC00 — the two orders DISAGREE.
    // DuckDB's binary collation and Spark's UTF8String sort by bytes,
    // so vocab must too: ｡ before 𐀀 (a String.compareTo sort would flip
    // them and silently mismatch every downstream id).
    val docs = Seq("｡𐀀 ｡𐀀").toDF("text")
    val m = ops.Bpe.train(docs, "text", merges = 1)
    val v = ops.Bpe.vocab(docs, "text", m).orderBy("id")
      .collect().map(r => (r.getString(0), r.getLong(1)))
    assert(v.toSeq === Seq(("｡", 0L), ("𐀀", 1L),
      ("｡𐀀", 2L)))

    // id fingerprints: 'ab ab b' with merge (a,b) → ids [2,2,1] →
    // n=3, sum=5, dot=2·1+2·2+1·3=9 (position-weighted, order-sensitive)
    val d2 = Seq((1L, "ab ab b"), (2L, "")).toDF("doc_id", "text")
    val m2 = ops.Bpe.train(d2, "text", merges = 1)
    val ids = ops.Bpe.encodeIds(d2, "text", "doc_id", m2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(ids.toSeq === Seq((1L, 3L, 5L, 9L))) // empty doc excluded
  }

  test("bpe merges with quote/backslash symbols replace correctly (regression: SQL-literal escaping)") {
    // word = '\'\ (chars: quote backslash quote backslash) x3. Round 1
    // merges (', \) freq 6 — the replace PATTERN contains a quote and a
    // backslash; because replace is left-to-right NON-overlapping over the
    // sentinel-space string, the back-to-back second occurrence shares its
    // leading space with the first match and survives to round 2 (freq 3,
    // winning the tie with ('\, '\) lexicographically); round 3 then
    // merges ('\, '\) — BOTH replace arguments contain both characters.
    // The old expr()-interpolated replace corrupted these patterns; the
    // Column-API lit() path must not.
    val docs = Seq("'\\'\\ '\\'\\ '\\'\\").toDF("text")
    val out = ops.Bpe.train(docs, "text", merges = 4)
      .orderBy("merge_rank")
      .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
    assert(out.toSeq === Seq((1, "'", "\\", 6L), (2, "'", "\\", 3L), (3, "'\\", "'\\", 3L)))
  }

  test("shard shuffle is a stable dense permutation per shard") {
    val docs = (0L until 1000L).map(i => (i, s"d$i")).toDF("doc_id", "text")
    def run() = ops.TextAnalysis.shardShuffle(docs.repartition(7), "doc_id", "s8")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val out = run()
    assert(out.length === 1000 && out.map(_._1).distinct.length === 1000)
    assert(out.forall(x => x._2 >= 0 && x._2 < 16))
    // positions are dense 1..n within every shard
    for ((shard, members) <- out.groupBy(_._2))
      assert(members.map(_._3).sorted.toSeq === (1L to members.length).toSeq, s"shard $shard")
    // pure function of the id: identical on re-run over different partitioning
    assert(run().sortBy(_._1).toSeq === out.sortBy(_._1).toSeq)
    // md5 nibble really spreads: no shard holds more than 3x its fair share
    assert(out.groupBy(_._2).values.map(_.length).max <= 3 * 1000 / 16)
  }

  test("PQ ANN finds planted near-twins and re-ranks with exact cosines") {
    val rnd = new scala.util.Random(7)
    val base = Array.fill(6)(Array.fill(16)(rnd.nextGaussian()))
    // 60 clustered vectors; ids 0..4 are queries, each with a planted
    // near-twin at id+30: a tiny perturbation OF THE QUERY VECTOR itself
    // (cosine ~1), while everything else is loose cluster noise
    val raw = Array.tabulate(60)(i => base(i % 6).map(x => x + 0.4 * rnd.nextGaussian()))
    for (q <- 0 until 5) raw(30 + q) = raw(q).map(x => x + 0.01 * rnd.nextGaussian())
    val vecs = (0 until 60).map(i => (i.toLong, raw(i).map(_.toFloat)))
      .toDF("vec_id", "embedding")
    // twins share base(i % 6), so query i's twin is at 30 + ((i - 30) mod 6 alignment)
    val pq = ops.Embeddings.pqTopK(vecs, "vec_id", "embedding",
        col("vec_id") < 5, k = 3, numSub = 4, subDim = 4, codebookSize = 8, candK = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
    val bf = ops.Embeddings.topKBruteForce(vecs, "vec_id", "embedding",
        col("vec_id") < 5, k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
    assert(pq.map(_._1).distinct.sorted.toSeq === Seq(0L, 1L, 2L, 3L, 4L))
    // exact re-rank: any (query, neighbor) PQ shares with brute force
    // carries the IDENTICAL exact cosine
    val bfCos = bf.map(x => (x._1, x._2) -> x._3).toMap
    for ((q, n, cos, _) <- pq; exact <- bfCos.get((q, n))) assert(cos === exact)
    // query q (base cluster q) has its planted near-twin at id 30+q
    // (30+q mod 6 == q): ADC must surface it, exact re-rank puts it first
    for (q <- 0L until 5L) {
      val top1 = pq.filter(x => x._1 == q && x._4 == 1).head._2
      assert(top1 === 30L + q, s"query $q: expected planted twin ${30 + q}, got $top1")
    }
    // IVF-PQ: cells + codes composed must still surface the planted twin
    // (the twin lands in the query's own coarse cell, which is probed
    // first) and carry identical exact re-rank cosines
    val ivfpq = ops.Embeddings.ivfPqTopK(vecs, "vec_id", "embedding",
        col("vec_id") < 5, k = 3, numCells = 6, nprobe = 2,
        numSub = 4, subDim = 4, codebookSize = 8, candK = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
    for (q <- 0L until 5L) {
      val top1 = ivfpq.filter(x => x._1 == q && x._4 == 1).head._2
      assert(top1 === 30L + q, s"ivfpq query $q: expected twin ${30 + q}, got $top1")
    }
    for ((q, n, cos, _) <- ivfpq; exact <- bfCos.get((q, n))) assert(cos === exact)
  }

  test("bloom-prefiltered contamination screen is bit-identical to the exact one") {
    val rnd = new scala.util.Random(5)
    val vocab = Vector.tabulate(30)(i => s"w$i")
    def doc() = Seq.fill(25)(vocab(rnd.nextInt(vocab.size))).mkString(" ")
    val texts = Array.fill(120)(doc())
    // plant contamination: some docs share full text across the split draw
    for (i <- 60 until 80) texts(i) = texts(i - 60)
    val docs = ops.TextAnalysis.trainSplit(
      texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toSeq.toDF("doc_id", "text"),
      "doc_id", "graft")
    def run(bloom: Boolean) = ops.TextAnalysis.contaminationCheck(
        docs, "doc_id", "text", "split", n = 5, threshold = 0.5, bloomPrefilter = bloom)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1).toSeq
    val exact = run(false)
    assert(exact.nonEmpty && exact.exists(_._3 > 0)) // screen found overlap
    assert(run(true) === exact)
  }

  test("LM quality scoring ranks fluent text above shuffled gibberish") {
    val rnd = new scala.util.Random(3)
    val vocab = Vector("the", "cat", "sat", "on", "mat", "dog", "ran", "to", "park")
    // fluent docs: repeated common bigram patterns; gibberish: the SAME
    // unigram distribution but shuffled order (bigram structure destroyed)
    val fluent = (0 until 40).map { i =>
      (i.toLong, Seq.fill(8)("the cat sat on the mat").mkString(" "))
    }
    val gibberish = (40 until 80).map { i =>
      (i.toLong, rnd.shuffle(Seq.fill(48)(vocab(rnd.nextInt(vocab.size)))).mkString(" "))
    }
    val docs = (fluent ++ gibberish).toDF("doc_id", "text")
    val out = ops.TextAnalysis.lmQualityScore(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getDouble(3)))
    val fAvg = out.filter(_._1 < 40).map(_._2).sum / 40
    val gAvg = out.filter(_._1 >= 40).map(_._2).sum / 40
    assert(fAvg > gAvg,
      s"fluent docs must out-score shuffled gibberish: $fAvg vs $gAvg")
  }

  test("corpus drift flags the source whose vocabulary wanders from the blend") {
    val rnd = new scala.util.Random(13)
    val common = Vector("alpha", "beta", "gamma", "delta", "epsilon")
    val weird = Vector("zorp", "quux", "flarn", "grum", "snee")
    def doc(v: Vector[String]) = Seq.fill(30)(v(rnd.nextInt(v.size))).mkString(" ")
    // sources s0..s3 share one vocabulary; s4 uses a disjoint one
    val docs = (0 until 100).map { i =>
      val src = s"s${i % 5}"
      (i.toLong, if (src == "s4") doc(weird) else doc(common), src)
    }.toDF("doc_id", "text", "source")
    val out = ops.TextAnalysis.corpusDrift(docs, "source", "text")
      .collect().map(r => r.getString(0) -> r.getDouble(3)).toMap
    assert(out.size === 5)
    // the divergent source dominates; blended sources sit near zero
    assert(out("s4") > 5 * (out - "s4").values.max,
      s"s4 must stand out: $out")
    assert((out - "s4").values.forall(_ >= 0.0)) // KL is non-negative
  }

  test("importance weights separate target-like from off-target documents") {
    val en = Seq("the", "cat", "sat", "on", "the", "mat").mkString(" ")
    val de = Seq("der", "hund", "lief", "durch", "den", "wald").mkString(" ")
    val docs = ((0 until 50).map(i => (i.toLong, en + " extra" + (i % 3), "en")) ++
      (50 until 100).map(i => (i.toLong, de + " mehr" + (i % 3), "de")))
      .toDF("doc_id", "text", "lang")
    val out = ops.TextAnalysis.importanceWeights(docs, "doc_id", "text",
        col("lang") === "en")
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getDouble(3)))
    assert(out.length === 100)
    val enAvg = out.filter(_._1 < 50).map(_._3).sum / 50
    val deAvg = out.filter(_._1 >= 50).map(_._3).sum / 50
    // target-slice documents must score strictly higher under the
    // target-vs-raw likelihood ratio
    assert(enAvg > deAvg)
    assert(out.filter(_._1 < 50).map(_._3).min > out.filter(_._1 >= 50).map(_._3).max)
  }

  test("PCA projection captures planted low-rank structure deterministically") {
    val dim = 16
    val rnd = new scala.util.Random(11)
    // two orthogonal planted directions + tiny isotropic noise
    val u = Array.tabulate(dim)(i => if (i < 8) 0.35 else 0.0)
    val w = Array.tabulate(dim)(i => if (i >= 8) 0.35 else 0.0)
    val rows = (0 until 400).map { id =>
      val a = rnd.nextGaussian() * 3.0
      val b = rnd.nextGaussian() * 1.5
      val x = Array.tabulate(dim)(i => a * u(i) + b * w(i) + rnd.nextGaussian() * 0.01)
      (id.toLong, x.map(_.toFloat).toSeq)
    }
    val df = rows.toDF("vec_id", "embedding")
    def proj(d: org.apache.spark.sql.DataFrame) =
      ops.Embeddings.pcaProject(d, "vec_id", "embedding", dim, 2)
        .collect().map(r => (r.getLong(0), r.getSeq[Double](1).toVector)).toMap
    val out = proj(df)
    assert(out.size === 400 && out.values.forall(_.length == 2))
    // variance captured by the 2 projected dims vs total data variance
    val data = rows.map(_._2.map(_.toDouble).toArray)
    val means = Array.tabulate(dim)(i => data.map(_(i)).sum / data.size)
    val totalVar = (0 until dim).map(i => data.map(x => math.pow(x(i) - means(i), 2)).sum).sum
    val projVar = (0 until 2).map(k => {
      val vs = out.values.map(_(k)).toSeq
      val m = vs.sum / vs.size
      vs.map(x => (x - m) * (x - m)).sum
    }).sum
    assert(projVar / totalVar > 0.95,
      f"planted 2-dim structure must dominate: ${projVar / totalVar}%.3f")
    // training + projection are exact-integer/fixed-order: repartition-stable
    assert(proj(df.repartition(13)) === out)
  }

  test("Misra-Gries guarantees hold on skewed data under any partitioning") {
    // zipf-ish: word w_i appears ~1000/i times; tiny capacity forces
    // heavy decrementing so the bounds are actually exercised
    val rnd = new scala.util.Random(7)
    val tokens = rnd.shuffle(
      (1 to 200).flatMap(i => Seq.fill(1000 / i)(s"w$i")).toVector)
    val n = tokens.size.toLong
    val capacity = 16
    for (parts <- Seq(1, 7, 32)) {
      val df = tokens.map(Tuple1(_)).toDF("word").repartition(parts)
      val est = df.agg(functions.MisraGriesAggregate.misra_gries(col("word"), capacity).as("mg"))
        .select(explode(col("mg")).as("e"))
        .select(col("e.item"), col("e.est"))
        .collect().map(r => (r.getString(0), r.getLong(1))).toMap
      assert(est.size <= capacity)
      val exact = tokens.groupBy(identity).map { case (w, g) => (w, g.size.toLong) }
      val bound = n / (capacity + 1)
      exact.foreach { case (w, c) =>
        if (c > bound) assert(est.contains(w), s"$w (exact $c > $bound) missing at parts=$parts")
        est.get(w).foreach { e =>
          assert(e <= c, s"$w overestimated: $e > $c at parts=$parts")
          assert(c - e <= bound, s"$w undercounted past the bound at parts=$parts")
        }
      }
    }
  }

  test("BPE pair counts weight char pairs by word frequency") {
    // "ab" x3 and "cd" x1 across docs; "aaa" contributes TWO "aa" pairs
    // per occurrence (in-word multiplicity); 1-char words carry none
    val docs = Seq((1L, "ab ab cd x"), (2L, "ab aaa")).toDF("doc_id", "text")
    val out = ops.TextAnalysis.bpePairCounts(docs, "text", k = 10)
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(out === Map("ab" -> 3L, "aa" -> 2L, "cd" -> 1L))
  }

  test("domain quota sample is capped, deterministic, and repartition-stable") {
    val docs = (0 until 300).map(i => (i.toLong, s"src${i % 3}")).toDF("doc_id", "source")
    def sample(df: org.apache.spark.sql.DataFrame) =
      ops.TextAnalysis.domainQuotaSample(df, "doc_id", "source", quota = 7)
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    val a = sample(docs)
    assert(a.groupBy(_._1).forall(_._2.size == 7), "every source capped at quota")
    assert(a.map(_._3).forall(p => p >= 1 && p <= 7))
    // stable under a different physical layout (retry/rerun shape)
    assert(sample(docs.repartition(13)) === a)
    // quota >= group size keeps everything
    val all = ops.TextAnalysis.domainQuotaSample(docs, "doc_id", "source", quota = 100)
      .count()
    assert(all === 300)
  }

  test("labelSpread driver fast path and distributed loop are bit-equal") {
    import spark.implicits._
    // pseudorandom graph incl. self-loops (dropped), parallel edges,
    // unreachable nodes (stay null), and tie votes (min-label break)
    val rnd = new scala.util.Random(13)
    val edges = (1 to 400).map { _ =>
      (rnd.nextInt(60).toLong, rnd.nextInt(60).toLong)
    }.toDF("s", "t")
    val seeds = (0 until 60 by 4).map(n => (n.toLong, (n % 3).toLong)).toDF("n", "l")
    def run(scale: Boolean) = withScalePaths(scale) {
      ops.Graph.labelSpread(edges, "s", "t", seeds, "n", "l", iters = 3)
        .orderBy("node").collect()
        .map(r => (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1))).toSeq
    }
    assert(run(false) === run(true))
  }

  test("pageRank driver fast path and distributed loop are bit-equal") {
    // pseudorandom 40-node graph with weighted multi-edges and a few
    // dangling nodes (dst-only)
    val rnd = new scala.util.Random(7)
    val edges = (1 to 300).map { _ =>
      (rnd.nextInt(40).toLong, 40L + rnd.nextInt(10), 1L + rnd.nextInt(5))
    }.toDF("src", "dst", "w")
    def run(scale: Boolean) = withScalePaths(scale) {
      ops.Graph.pageRank(edges, "src", "dst", "w", iters = 10)
        .orderBy("node").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    }
    val fast = run(false)
    val distributed = run(true)
    assert(fast === distributed)
    // ranks are positive and dst-only nodes accumulate inbound mass
    assert(fast.forall(_._2 > 0))
    assert(fast.filter(_._1 >= 40).forall(_._2 > 150000L))
  }

  test("personalized PageRank: fast path == distributed loop; mass stays seed-reachable") {
    val rnd = new scala.util.Random(13)
    val edges = (1 to 300).map { _ =>
      (rnd.nextInt(40).toLong, 40L + rnd.nextInt(10), 1L + rnd.nextInt(5))
    }.toDF("src", "dst", "w")
    def run(scale: Boolean) = withScalePaths(scale) {
      ops.Graph.personalizedPageRank(edges, "src", "dst", "w", seeds = Set(1L, 2L),
          iters = 10)
        .orderBy("node").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    }
    val fast = run(false)
    assert(fast === run(true))
    // src nodes (<40) have NO in-edges in this construction: non-seed
    // sources hold rank 0, seeds hold at least the teleport mass
    assert(fast.filter(p => p._1 < 40 && p._1 != 1L && p._1 != 2L).forall(_._2 == 0L))
    assert(fast.filter(p => p._1 == 1L || p._1 == 2L).forall(_._2 >= 150000L))
    // dst-only nodes receive mass only via the graph
    assert(fast.filter(_._1 >= 40).exists(_._2 > 0L))
  }

  test("MMR re-rank suppresses redundant near-twins that pure relevance keeps") {
    // query 0 at the origin-ish; candidates: ids 1 and 2 are EXACT twins
    // (both very close to the query), id 3 slightly less relevant but
    // orthogonal-ish. Pure top-2 by relevance = {1, 2}; MMR's redundancy
    // penalty must pick {1, 3}.
    // ids 1/2: exact twins at +37° off the query; id 3: equally relevant
    // at −37° (cos(3,1) = 0.28, near-orthogonal-ish). Relevance ties
    // (0.8 each) break by id, so pure top-2 = {1, 2}; after picking 1,
    // MMR scores 2 at 0.56 − 0.3·1.0 = 0.26 vs 3 at 0.56 − 0.3·0.28 =
    // 0.476 → {1, 3}.
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f, 0.0f)),
      (1L, Array(0.8f, 0.6f, 0.0f, 0.0f)),
      (2L, Array(0.8f, 0.6f, 0.0f, 0.0f)), // exact twin of 1
      (3L, Array(0.8f, -0.6f, 0.0f, 0.0f)),
      (4L, Array(0.0f, 0.0f, 0.0f, 1.0f))
    ).toDF("vec_id", "embedding")
    val picks = ops.Embeddings.mmrTopK(vecs, "vec_id", "embedding",
      queryId = 0L, candK = 4, k = 2)
      .orderBy("rnk").collect().map(_.getLong(1)).toSeq
    assert(picks === Seq(1L, 3L))
    // rank 1 is always the pure-relevance argmax; results are stable
    // under a different physical layout
    val again = ops.Embeddings.mmrTopK(vecs.repartition(7), "vec_id", "embedding",
      queryId = 0L, candK = 4, k = 2)
      .orderBy("rnk").collect().map(_.getLong(1)).toSeq
    assert(again === picks)
  }

  test("reachability driver fast path and distributed loop are bit-equal") {
    val rnd = new scala.util.Random(11)
    val edges = (1 to 150).map { _ =>
      (rnd.nextInt(25).toLong, rnd.nextInt(25).toLong)
    }.distinct.toDF("src", "dst")
    def run(scale: Boolean) = withScalePaths(scale) {
      ops.Graph.reachability(edges, "src", "dst", start = 0L, maxDepth = 5)
        .orderBy("node").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    }
    val fast = run(false)
    val distributed = run(true)
    assert(fast === distributed)
    // ground truth by brute-force walk enumeration
    val adj = edges.collect().map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).map { case (s, a) => s -> a.map(_._2).toSeq }
    var walks = Map(0L -> 1L)
    val hops = scala.collection.mutable.HashMap(0L -> 0L)
    val paths = scala.collection.mutable.HashMap(0L -> 1L)
    for (d <- 1 to 5) {
      val next = scala.collection.mutable.HashMap[Long, Long]()
      walks.foreach { case (u, c) =>
        adj.getOrElse(u, Seq.empty).foreach(v => next(v) = next.getOrElse(v, 0L) + c)
      }
      next.foreach { case (v, c) =>
        if (!hops.contains(v)) hops(v) = d
        paths(v) = paths.getOrElse(v, 0L) + c
      }
      walks = next.toMap
    }
    val truth = hops.keys.toSeq.sorted.map(n => (n, hops(n), paths(n)))
    assert(fast === truth)
    // start node isolated from the graph still reports its anchor walk
    val lone = withScalePaths() {
      ops.Graph.reachability(edges, "src", "dst", start = 999L, maxDepth = 4).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    }
    assert(lone === Seq((999L, 0L, 1L)))
  }

  test("k-core peel: fast path and distributed loop are bit-equal and match brute force") {
    val rnd = new scala.util.Random(17)
    // random graph plus noise kCorePeel must absorb: reversed dupes, self-loops
    val base = (1 to 300).map(_ => (s"n${rnd.nextInt(40)}", s"n${rnd.nextInt(40)}"))
    val edges = (base ++ base.take(40).map(_.swap) ++ Seq(("n1", "n1"))).toDF("a", "b")
    def run(scale: Boolean) = withScalePaths(scale) {
      ops.Graph.kCorePeel(edges, "a", "b", k = 4, rounds = 10)
        .orderBy("node").collect()
        .map(r => (r.getString(0), r.getLong(1))).toSeq
    }
    val fast = run(false)
    val distributed = run(true)
    assert(fast === distributed)
    // brute-force synchronous peeling over the undirected simple graph
    val und = base.filter(e => e._1 != e._2)
      .flatMap(e => Seq(e, e.swap)).distinct
    val adj = und.groupBy(_._1).map { case (n, a) => n -> a.map(_._2).toSet }
    var alive = adj.keySet
    val truth = scala.collection.mutable.HashMap[String, Long]()
    var r = 1
    var done = false
    while (r <= 10 && !done) {
      val dead = alive.filter(n => adj(n).count(alive.contains) < 4)
      if (dead.isEmpty) done = true
      else { dead.foreach(n => truth(n) = r.toLong); alive = alive -- dead; r += 1 }
    }
    alive.foreach(n => truth(n) = 0L)
    assert(fast === truth.toSeq.sortBy(_._1))
    // core property: every survivor keeps >= k neighbors among survivors
    val core = fast.filter(_._2 == 0L).map(_._1).toSet
    core.foreach(n => assert(adj(n).count(core.contains) >= 4))
  }

  test("shortest paths: fast path and distributed loop are bit-equal and match brute force") {
    val rnd = new scala.util.Random(23)
    val edges = (1 to 200).map { _ =>
      (rnd.nextInt(30).toLong, rnd.nextInt(30).toLong, (rnd.nextInt(9) + 1).toLong)
    }.toDF("src", "dst", "cost")
    def run(scale: Boolean) = withScalePaths(scale) {
      ops.Graph.shortestPaths(edges, "src", "dst", "cost", start = 0L, maxDepth = 5)
        .orderBy("node").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq
    }
    val fast = run(false)
    val distributed = run(true)
    assert(fast === distributed)
    // brute force: min cost over ALL walks of <= 5 edges
    val es = edges.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    var best = Map(0L -> 0L)
    var frontier = Map(0L -> 0L)
    for (_ <- 1 to 5) {
      val next = scala.collection.mutable.HashMap[Long, Long]()
      frontier.foreach { case (u, du) =>
        es.foreach { case (s, d2, c) =>
          if (s == u) next(d2) = math.min(next.getOrElse(d2, Long.MaxValue), du + c)
        }
      }
      // bounded-walk semantics: dist(v) = min over walks of <= depth edges
      frontier = next.toMap
      next.foreach { case (v, dv) =>
        best += v -> math.min(best.getOrElse(v, Long.MaxValue), dv)
      }
    }
    assert(fast === best.toSeq.sortBy(_._1))
  }

  test("HITS: fast path and distributed loop are bit-equal and match brute force") {
    val rnd = new scala.util.Random(61)
    val edges = (1 to 120).map(_ => (rnd.nextInt(20).toLong, rnd.nextInt(20).toLong))
      .filter(e => e._1 != e._2).toDF("src", "dst")
    def run(scale: Boolean) = withScalePaths(scale) {
      ops.Graph.hits(edges, "src", "dst", iters = 3)
        .orderBy("node").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    }
    val fast = run(false)
    val distributed = run(true)
    assert(fast === distributed)
    // brute force over the distinct edge set
    val es = edges.distinct().collect().map(r => (r.getLong(0), r.getLong(1)))
    val nodes = (es.map(_._1) ++ es.map(_._2)).distinct
    var h = nodes.map(_ -> 1L).toMap
    var a = nodes.map(_ -> 1L).toMap
    for (_ <- 1 to 3) {
      a = nodes.map(n => n -> es.filter(_._2 == n).map(e => h(e._1)).sum).toMap
      h = nodes.map(n => n -> es.filter(_._1 == n).map(e => a(e._2)).sum).toMap
    }
    assert(fast === nodes.sorted.map(n => (n, h(n), a(n))).toSeq)
    // unnormalized growth past Int64 must refuse loudly, not wrap
    val boom = intercept[IllegalArgumentException] {
      ops.Graph.hits(edges, "src", "dst", iters = 40).collect()
    }
    assert(boom.getMessage.contains("growth bound"))
  }

  test("novelty scoring: a planted unique doc scores 1e6, a full mirror scores 0") {
    // base docs share no 5-grams; doc 11 mirrors doc 1 exactly, doc 12 is unique
    val words = (0 until 60).map(i => s"w${i}x").grouped(10).toSeq
    val docs = words.zipWithIndex.map { case (ws, i) => (i.toLong, ws.mkString(" ")) }
    val rows = (docs :+ (11L, docs.head._2) :+
      (12L, (100 to 109).map(i => s"u${i}").mkString(" "))).toDF("doc_id", "text")
    val out = ops.TextAnalysis.noveltyScores(rows, "doc_id", "text")
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(3))).toMap
    assert(out(12L) === 1000000L) // nothing shared
    assert(out(11L) === 0L && out(0L) === 0L) // mirrored pair: df=2 everywhere
    assert(out(1L) === 1000000L) // untouched doc stays fully novel
  }

  test("rankStatsByKey matches sort-based ceil(p*n) order statistics on random data") {
    val rnd = new scala.util.Random(31)
    val rows = (1 to 4000).map(_ => (s"k${rnd.nextInt(5)}", rnd.nextInt(100000).toLong - 50000L))
    val df = rows.toDF("k", "v").repartition(8)
    val ps = Seq(0.25, 0.5, 0.9, 0.99)
    val got = ops.ExactQuantile.rankStatsByKey(df, col("k"), col("v"), ps)
      .collect().map(r => ((r.getString(0), r.getInt(1)), (r.getLong(2), r.getLong(3)))).toMap
    rows.groupBy(_._1).foreach { case (k, g) =>
      val sorted = g.map(_._2).sorted
      ps.zipWithIndex.foreach { case (p, i) =>
        val r = math.ceil(p * sorted.length).toLong.toInt
        assert(got((k, i)) === ((sorted(r - 1), sorted.length.toLong)),
          s"key=$k p=$p rank=$r")
      }
    }
  }

  test("distributed ntile equals the textbook window ntile on random data") {
    val rnd = new scala.util.Random(53)
    // uneven key sizes incl. n < k, n % k != 0, duplicate order values
    // disambiguated by a unique id column
    val rows = (1 to 3000).map(i => (s"k${rnd.nextInt(4)}", rnd.nextInt(50).toLong, i.toLong))
    val df = rows.toDF("f", "c", "id").repartition(8)
    val plain = df.withColumn("bin",
        ntile(7).over(org.apache.spark.sql.expressions.Window
          .partitionBy("f").orderBy("c", "id")).cast("long"))
      .orderBy("f", "c", "id").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    withScalePaths() {
      val dist = ops.DistributedRank.ntileByKey(df, Seq("f"), Seq("c", "id"), k = 7,
          slices = 5)
        .orderBy("f", "c", "id").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
      assert(dist === plain)
      // tiny-key edge: a key with fewer rows than buckets gets bins 1..n
      val tiny = Seq(("t", 1L, 1L), ("t", 2L, 2L)).toDF("f", "c", "id")
      val tb = ops.DistributedRank.ntileByKey(tiny, Seq("f"), Seq("c", "id"), k = 7,
          slices = 3)
        .orderBy("c").collect().map(_.getLong(3)).toSeq
      assert(tb === Seq(1L, 2L))
      // plan shape of the forced distributed path: a RANGE repartition (the
      // parallelism source) and NO per-key-only window sort
      val plan = ops.DistributedRank.ntileByKey(df, Seq("f"), Seq("c", "id"), k = 7,
          slices = 5)
        .queryExecution.explainString(
          org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      assert(plan.contains("hashpartitioning(__pid"), plan.take(2000))
    }
  }

  test("distributed row_number equals the textbook window, incl. global + desc order") {
    val rnd = new scala.util.Random(59)
    val rows = (1 to 3000).map(i => (s"k${rnd.nextInt(4)}", rnd.nextInt(50).toLong, i.toLong))
    val df = rows.toDF("f", "c", "id").repartition(8)
    val w = org.apache.spark.sql.expressions.Window
    // per-key, mixed direction
    val plain = df.withColumn("rn", row_number()
        .over(w.partitionBy("f").orderBy(col("c").desc, col("id"))).cast("long"))
      .orderBy("f", "c", "id").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    val dist = withScalePaths() {
      ops.DistributedRank.rowNumberByKey(df, Seq("f"),
          Seq(("c", false), ("id", true)), out = "rn", slices = 5)
        .orderBy("f", "c", "id").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    }
    assert(dist === plain)
    // GLOBAL row_number (the ev35/tx29 shape): no keys at all
    val gPlain = df.withColumn("rn", row_number()
        .over(w.orderBy(col("c"), col("id"))).cast("long"))
      .orderBy("c", "id").collect().map(_.getLong(3)).toSeq
    withScalePaths() {
      val gDist = ops.DistributedRank.rowNumberByKey(df, Seq(),
          Seq(("c", true), ("id", true)), out = "rn", slices = 5)
        .orderBy("c", "id").collect().map(_.getLong(3)).toSeq
      assert(gDist === gPlain)
      // forced distributed plan: parallelism comes from the deterministic
      // slice id, never a single global sort partition
      val plan = ops.DistributedRank.rowNumberByKey(df, Seq(),
          Seq(("c", true), ("id", true)), out = "rn", slices = 5)
        .queryExecution.explainString(
          org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      assert(plan.contains("hashpartitioning(__pid"), plan.take(2000))
    }
  }

  test("distributed row_number handles NULL order values (ASC NULLS FIRST / DESC NULLS LAST)") {
    val rnd = new scala.util.Random(71)
    // ~20% null order values; unique id tiebreaks — the boundary
    // precedes-expression must route nulls exactly like the engine sorts
    val rows = (1 to 2000).map { i =>
      (if (rnd.nextInt(5) == 0) None else Some(rnd.nextInt(40).toLong), i.toLong)
    }
    val df = rows.toDF("c", "id").repartition(8)
    val w = org.apache.spark.sql.expressions.Window
    for (asc <- Seq(true, false)) {
      val order = if (asc) col("c").asc else col("c").desc
      val plain = df.withColumn("rn",
          row_number().over(w.orderBy(order, col("id"))).cast("long"))
        .orderBy("id").collect().map(_.getLong(2)).toSeq
      val dist = withScalePaths() {
        ops.DistributedRank.rowNumberByKey(df, Seq(),
            Seq(("c", asc), ("id", true)), out = "rn", slices = 6)
          .orderBy("id").collect().map(_.getLong(2)).toSeq
      }
      assert(dist === plain, s"asc=$asc")
    }
  }

  test("distributed row_number is exact on strings where UTF-16 and UTF-8 orders differ") {
    // U+FF61 encodes EF BD A1 in UTF-8 but FF61 in UTF-16; U+10000 (a
    // surrogate pair D800 DC00) encodes F0 90 80 80. UTF-16 code-unit
    // order (java String.compareTo, the driver-side boundary sort) says
    // FF61 > D800 while Spark's UTF8String binary order says the
    // opposite — the divergence BoundaryBucket's internal re-sort
    // guards against (a boundary list sorted under the WRONG comparator
    // would break slice contiguity and corrupt ranks silently).
    val rnd = new scala.util.Random(83)
    val tricky = Seq("｡", "𐀀", "a", "z｡", "z𐀀", "")
    val rows = (1 to 1200).map(i => (tricky(rnd.nextInt(tricky.length)), i.toLong))
    val df = rows.toDF("s", "id").repartition(8)
    val w = org.apache.spark.sql.expressions.Window
    val plain = df.withColumn("rn",
        row_number().over(w.orderBy(col("s"), col("id"))).cast("long"))
      .orderBy("id").collect().map(_.getLong(2)).toSeq
    val dist = withScalePaths() {
      ops.DistributedRank.rowNumberByKey(df, Seq(),
          Seq(("s", true), ("id", true)), out = "rn", slices = 7)
        .orderBy("id").collect().map(_.getLong(2)).toSeq
    }
    assert(dist === plain)
  }

  test("pca invariant audit raises on rank-deficient input (regression: null/Infinity ppm rows)") {
    val rnd = new scala.util.Random(17)
    // third coordinate constant → centered covariance has an exactly-zero
    // third row/column → eigenvalue #3 is exactly 0
    val rows = (0 until 200).map(id =>
      (id.toLong, Seq(rnd.nextInt(100).toFloat, rnd.nextInt(100).toFloat, 0f)))
    val df = rows.toDF("vec_id", "embedding")
    val ex = intercept[IllegalArgumentException](
      ops.Embeddings.pcaInvariantAudit(df, "vec_id", "embedding", dim = 3, outDim = 3))
    assert(ex.getMessage.contains("rank-deficient"), ex.getMessage)
    // outDim within the data rank still audits green
    val ok = ops.Embeddings.pcaInvariantAudit(df, "vec_id", "embedding", dim = 3, outDim = 2)
    assert(ok.count() > 0)
  }

  test("distributed rank rejects non-atomic order columns consistently on both paths") {
    val df = Seq((1L, Seq(1, 2)), (2L, Seq(3))).toDF("id", "arr")
    // an array order column would work on the small-window path but
    // throw deep inside boundary baking on the scale path — the up-front
    // validation makes the failure surface input-size independent
    for (scale <- Seq(true, false)) {
      val ex = intercept[IllegalArgumentException](withScalePaths(scale) {
        ops.DistributedRank.rowNumberByKey(df, Seq(),
          Seq(("arr", true), ("id", true)), out = "rn")
      })
      assert(ex.getMessage.contains("non-atomic"), ex.getMessage)
    }
    val ex2 = intercept[IllegalArgumentException](withScalePaths() {
      ops.DistributedRank.ntileByKey(df.withColumn("b", lit(Array[Byte](1))),
        Seq("b"), Seq("id"), k = 2)
    })
    assert(ex2.getMessage.contains("non-atomic"), ex2.getMessage)
  }

  test("SCD2: incremental applyChanges equals a from-scratch rebuild") {
    val rnd = new scala.util.Random(41)
    // observation log: 30 keys, random attr drift, unique (pk, ts)
    val obs = (for (k <- 0 until 30; t <- 0 until 8) yield
      (k.toLong, t.toLong * 10 + k, s"v${rnd.nextInt(3)}", rnd.nextInt(2).toLong))
      .toDF("id", "ts", "tier", "flag")
    // split: first 5 observations per key seed the dim, rest arrive as a
    // change batch PLUS a late backfill (ts between existing rows) and a
    // no-op repeat of a current value
    val seed = obs.where(col("ts") < lit(50) + col("id"))
    val batch = obs.where(col("ts") >= lit(50) + col("id"))
    val dim0 = ops.Scd2.fromHistory(seed, Seq("id"), "ts", Seq("tier", "flag"))
    val dim1 = ops.Scd2.applyChanges(dim0, batch, Seq("id"), "ts", Seq("tier", "flag"))
    val full = ops.Scd2.fromHistory(obs, Seq("id"), "ts", Seq("tier", "flag"))
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("id", "valid_from").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3),
          if (r.isNullAt(4)) -1L else r.getLong(4), r.getBoolean(5))).toSeq
    assert(canon(dim1) === canon(full))
    // interval sanity: exactly one current row per key, intervals chain
    val rows = canon(full).groupBy(_._1)
    rows.foreach { case (_, g) =>
      assert(g.count(_._6) === 1)
      g.sliding(2).foreach {
        case Seq(a, b) => assert(a._5 === b._4, s"gap between $a and $b")
        case _ =>
      }
    }
    // untouched keys pass through: apply an empty batch, nothing changes
    val dimSame = ops.Scd2.applyChanges(dim0, batch.limit(0), Seq("id"), "ts", Seq("tier", "flag"))
    assert(canon(dimSame) === canon(dim0))
  }

  test("triangle counts match brute force on a random graph with dupes and loops") {
    import spark.implicits._
    // seeded random graph, PLUS noise the dedup must absorb: reversed
    // duplicates, repeated edges, self-loops
    val rnd = new scala.util.Random(11)
    val base = (1 to 160).map(_ => (rnd.nextInt(30).toLong, rnd.nextInt(30).toLong))
    val noisy = base ++ base.take(40).map(_.swap) ++ Seq((5L, 5L), (7L, 7L))
    val got = ops.Graph.triangleCounts(noisy.toDF("src", "dst"), "src", "dst")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // local brute force over the canonical undirected edge set
    val und = base.filter(e => e._1 != e._2)
      .map(e => (math.min(e._1, e._2), math.max(e._1, e._2))).toSet
    val nodes = und.flatMap(e => Seq(e._1, e._2)).toSeq.sorted
    val truth = scala.collection.mutable.Map[Long, Long]().withDefaultValue(0L)
    for {
      a <- nodes; b <- nodes if b > a && und((a, b))
      c <- nodes if c > b && und((b, c)) && und((a, c))
    } { truth(a) += 1; truth(b) += 1; truth(c) += 1 }
    assert(got === truth.filter(_._2 > 0).toMap)
  }

  test("fuzzy linkage pairs within blocks only, under the distance bound") {
    import spark.implicits._
    // fact rows (frequency matters), two blocks by last token
    val facts = Seq(
      "acme corp", "acme corp", "acme corp", // canonical, n=3
      "acne corp",                           // typo, dist 1
      "azme corp",                           // dist 1 of acme, 2 of acne
      "zzzzz corp",                          // same block, dist > 2
      "acme inc"                             // other block: never compared
    ).toDF("name")
    val pairs = ops.Linkage.fuzzyNamePairs(facts, "name",
        blockKey = substring_index(col("name"), " ", -1), maxDist = 2)
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toSet
    assert(pairs === Set(
      ("acme corp", "acne corp", 1L, 3L, 1L),
      ("acme corp", "azme corp", 1L, 3L, 1L),
      ("acne corp", "azme corp", 2L, 1L, 1L)))
  }

  test("LPA communities: fast path and distributed loop are bit-equal; tie-break is min label") {
    import spark.implicits._
    // two triangles bridged by one weak edge: LPA should keep them as
    // two communities labeled by each triangle's min node
    val twoTri = Seq(
      (1L, 2L, 5L), (2L, 3L, 5L), (1L, 3L, 5L),
      (10L, 11L, 5L), (11L, 12L, 5L), (10L, 12L, 5L),
      (3L, 10L, 1L)).toDF("src", "dst", "w")
    def run(df: org.apache.spark.sql.DataFrame, scale: Boolean, iters: Int = 4) =
      withScalePaths(scale) {
        ops.Graph.lpaCommunities(df, "src", "dst", "w", iters = iters)
          .orderBy("node").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      }
    val got = run(twoTri, false)
    assert(got.filter(_._1 < 10).map(_._2).distinct.length === 1)
    assert(got.filter(_._1 >= 10).map(_._2).distinct.length === 1)
    assert(got.filter(_._1 < 10).head._2 !== got.filter(_._1 >= 10).head._2)
    // equal-weight star, ONE round: center 5 sees labels {1,2,3} each
    // with weight 1 → deterministic MIN label 1 (not partition-order-
    // dependent). One round only — a star is bipartite, so synchronous
    // LPA oscillates with period 2 on it (known property, why round
    // counts are fixed and even/odd matters for the oracle).
    val star = Seq((5L, 1L, 1L), (5L, 2L, 1L), (5L, 3L, 1L)).toDF("src", "dst", "w")
    val s1 = run(star, false, iters = 1)
    assert(s1.find(_._1 == 5L).get._2 === 1L)
    // random graph: driver recurrence == distributed loop, bit for bit
    val rnd = new scala.util.Random(11)
    val edges = (1 to 250).map { _ =>
      (rnd.nextInt(30).toLong, rnd.nextInt(30).toLong, 1L + rnd.nextInt(4))
    }.toDF("src", "dst", "w")
    assert(run(edges, false) === run(edges, true))
  }

  test("contQuantilesByKey matches built-in percentile_cont (R-7) on random data") {
    import spark.implicits._
    val rnd = new scala.util.Random(23)
    // heavy ties + singleton key + even/odd counts
    val rows = (1 to 801).map(i => ("a", rnd.nextInt(50).toLong)) ++
      (1 to 400).map(_ => ("b", rnd.nextInt(1000000).toLong)) ++
      Seq(("c", 42L))
    val df = rows.toDF("k", "v").repartition(8)
    val ps = Seq(0.0, 0.25, 0.5, 0.9, 1.0)
    val got = ops.ExactQuantile.contQuantilesByKey(df, col("k"), col("v"), ps)
      .collect().map(r => ((r.getString(0), r.getInt(1)), r.getDouble(2))).toMap
    val want = df.groupBy("k")
      .agg(expr(s"percentile(v, array(${ps.mkString(",")}))").as("q"))
      .collect().flatMap { r =>
        r.getSeq[Double](1).zipWithIndex.map { case (v, i) => ((r.getString(0), i), v) }
      }.toMap
    assert(got.keySet === want.keySet)
    got.foreach { case (k, v) =>
      assert(math.abs(v - want(k)) < 1e-6, s"$k: $v vs ${want(k)}")
    }
  }

  test("phash banding guarantee: any pair within hamming 3 shares a band (pigeonhole)") {
    // pure structural property of 4×16-bit banding over 64 bits: ≤3
    // differing bits cannot touch all 4 disjoint bands. Exhaustively
    // check a sample of flip patterns over a fixed hash string.
    val base = ("0110" * 16).toCharArray
    val rnd = new scala.util.Random(5)
    for (_ <- 1 to 200) {
      val flipped = base.clone()
      val nFlips = 1 + rnd.nextInt(3)
      (1 to nFlips).foreach { _ =>
        val i = rnd.nextInt(64)
        flipped(i) = if (flipped(i) == '0') '1' else '0'
      }
      val a = new String(base); val b = new String(flipped)
      val shareBand = (0 until 4).exists(bi =>
        a.substring(bi * 16, bi * 16 + 16) == b.substring(bi * 16, bi * 16 + 16))
      assert(shareBand, s"no shared band for flips=$nFlips: $b")
    }
  }

  test("phash near-dup: identical payloads collide at hamming 0, edits fall out of range") {
    import spark.implicits._
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy dog"), // byte-identical
      (3L, "the quick brown fox jumps over the lazy dot"), // 1-byte edit
      (4L, "completely different payload altogether")
    ).toDF("doc_id", "text")
    val media = ops.Multimodal.asBinaryTable(docs, "doc_id", "text")
    // identical payloads: identical phash → all 4 bands collide → pair at 0
    val close = ops.Multimodal.phashNearDupPairs(media, maxHamming = 6)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(close === Set((1L, 2L, 0L)))
    // under the stub decoder a 1-byte edit re-keys every luma cell: doc 3
    // must NOT land near docs 1/2 (real decoders change that, not the
    // join machinery). Unthresholded pairs only ever contain (1,2).
    val all = ops.Multimodal.phashNearDupPairs(media, maxHamming = 64)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(all === Set((1L, 2L)))
    // the hash is a 64-char bit string, stable across row order
    val ph = media.select(ops.Multimodal.phash64(col("payload")).as("p"))
      .collect().map(_.getString(0))
    assert(ph.forall(p => p.length == 64 && p.forall(c => c == '0' || c == '1')))
    assert(ph(0) === ph(1))
  }

  test("top_k_scored dedup skips exact (id, score) twins; without it they both rank") {
    import spark.implicits._
    import graft.functions.TopKScoredAggregate.top_k_scored
    // the banded-LSH shape: pair (1, 0.9) surfaced by three bands, pair
    // (2, 0.8) by two — spread over partitions so merge-time dedup runs too
    val rows = Seq((10L, 1L, 0.9), (10L, 1L, 0.9), (10L, 1L, 0.9),
      (10L, 2L, 0.8), (10L, 2L, 0.8), (10L, 3L, 0.7)).toDF("g", "id", "s")
      .repartition(4)
    def top(dedup: Boolean) = rows.groupBy("g")
      .agg(top_k_scored(col("id"), col("s"), 3, dedup).as("t"))
      .select(explode(col("t")).as("e"))
      .collect().map(r => (r.getStruct(0).getLong(0), r.getStruct(0).getDouble(1))).toSeq
    assert(top(dedup = true) === Seq((1L, 0.9), (2L, 0.8), (3L, 0.7)))
    // default keeps duplicate logical rows (the ev6/ev16 contract)
    assert(top(dedup = false) === Seq((1L, 0.9), (1L, 0.9), (1L, 0.9)))
    // distinct ids with equal scores are NOT twins — id tie-break keeps both
    val tie = Seq((10L, 5L, 0.5), (10L, 4L, 0.5)).toDF("g", "id", "s")
      .groupBy("g").agg(top_k_scored(col("id"), col("s"), 2, dedup = true).as("t"))
      .select(explode(col("t")).as("e"))
      .collect().map(_.getStruct(0).getLong(0)).toSeq
    assert(tie === Seq(4L, 5L))
  }

  test("incremental knn graph equals the full rebuild, including displacements") {
    import spark.implicits._
    // deterministic pseudo-random vectors; ids 0..59, batch = ids % 4 == 0
    def vec(seed: Long): Array[Float] = {
      var x = seed * 6364136223846793005L + 1442695040888963407L
      Array.fill(64) {
        x = x * 6364136223846793005L + 1442695040888963407L
        ((x >>> 40).toInt % 1000) / 1000.0f
      }
    }
    val all = (0L until 60L).map(i => (i, vec(i))).toDF("vec_id", "embedding")
    val corpus = all.filter(col("vec_id") % 4 =!= 0)
    val batch = all.filter(col("vec_id") % 4 === 0)
    val oldEdges = ops.Embeddings.knnGraphBanded(corpus, "vec_id", "embedding",
      k = 3, planesPerBand = 3, bands = 2, dim = 64)
    val inc = ops.Embeddings.knnGraphIncrement(oldEdges, corpus, batch,
        "vec_id", "embedding", k = 3, planesPerBand = 3, bands = 2, dim = 64)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    val full = ops.Embeddings.knnGraphBanded(all, "vec_id", "embedding",
        k = 3, planesPerBand = 3, bands = 2, dim = 64)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    assert(inc === full)
    // the increment must actually change old nodes' lists (displacement
    // happened), otherwise this fixture proves nothing
    val oldSet = oldEdges.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val fullOldNodes = full.collect { case (n, nb, _, _) if n % 4 != 0 => (n, nb) }
    assert(fullOldNodes.exists(p => !oldSet.contains(p)),
      "no old node gained a batch neighbor — weak fixture")
  }

  test("knn delete repairs only affected nodes and backfills discarded candidates") {
    import spark.implicits._
    def vec(seed: Long): Array[Float] = {
      var x = seed * 6364136223846793005L + 1442695040888963407L
      Array.fill(64) {
        x = x * 6364136223846793005L + 1442695040888963407L
        ((x >>> 40).toInt % 1000) / 1000.0f
      }
    }
    val all = (0L until 60L).map(i => (i, vec(i))).toDF("vec_id", "embedding")
    val edges = ops.Embeddings.knnGraphBanded(all, "vec_id", "embedding",
      k = 3, planesPerBand = 3, bands = 2, dim = 64)
    val deleted = all.filter(col("vec_id") % 7 === 0).select("vec_id")
    val got = ops.Embeddings.knnGraphDelete(edges, all, deleted,
        "vec_id", "embedding", k = 3, planesPerBand = 3, bands = 2, dim = 64)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    val want = ops.Embeddings.knnGraphBanded(
        all.filter(col("vec_id") % 7 =!= 0), "vec_id", "embedding",
        k = 3, planesPerBand = 3, bands = 2, dim = 64)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    assert(got === want)
    // the fixture must exercise the non-monotone part: some affected node
    // BACKFILLS with an edge the original k-bounded build discarded
    val oldEdges = edges.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got.exists { case (n, nb, _, _) => !oldEdges.contains((n, nb)) },
      "no backfilled edge — weak fixture (raise corpus size or k)")
    // and no tombstone survives anywhere
    assert(got.forall { case (n, nb, _, _) => n % 7 != 0 && nb % 7 != 0 })
  }

  test("label spread: seeds clamp, majority wins with min-label ties, unreached stay null") {
    import spark.implicits._
    // path 1-2-3-4-5 plus isolated edge 10-11; seeds: 1→7, 5→9, 10→7.
    // Round 1: 2 gets 7, 4 gets 9, 3 unlabeled (no labeled nb), 11 gets 7.
    // Round 2: 3 sees {7 from 2, 9 from 4} — tie of one vote each → MIN label 7.
    // Seed 5 keeps 9 forever even though its neighbor 4 votes 9 anyway;
    // flip seed 5's label and 4 must follow next round (clamp propagates).
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (10L, 11L))
      .toDF("s", "t")
    val seeds = Seq((1L, 7L), (5L, 9L), (10L, 7L)).toDF("n", "l")
    val r1 = ops.Graph.labelSpread(edges, "s", "t", seeds, "n", "l", iters = 1)
      .collect().map(r => r.getLong(0) -> (if (r.isNullAt(1)) -1L else r.getLong(1))).toMap
    assert(r1 === Map(1L -> 7L, 2L -> 7L, 3L -> -1L, 4L -> 9L, 5L -> 9L,
      10L -> 7L, 11L -> 7L))
    val r2 = ops.Graph.labelSpread(edges, "s", "t", seeds, "n", "l", iters = 2)
      .collect().map(r => r.getLong(0) -> (if (r.isNullAt(1)) -1L else r.getLong(1))).toMap
    assert(r2(3L) === 7L, "one-vote tie must break to the MIN label")
    // clamp: a seed never adopts neighbor votes (node 2 votes 7 at 1 forever)
    val manyIters = ops.Graph.labelSpread(edges, "s", "t", seeds, "n", "l", iters = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(manyIters(5L) === 9L && manyIters(1L) === 7L)
  }

  test("IR metrics: perfect, missed and zero-relevant queries score as defined") {
    import spark.implicits._
    // 64-dim quantization-friendly unit-ish vectors: three tight clusters
    // around orthogonal axes; labels follow clusters except vec 8 (label 0
    // planted in cluster 2's direction = the only label-0 partner for 0/1/2
    // queries beyond their own cluster).
    def vec(axis: Int, eps: Float): Array[Float] = {
      val a = Array.fill(64)(0.0f); a(axis) = 1.0f; a(axis + 3) = eps; a
    }
    val rows = Seq(
      (0L, vec(0, 0.01f), 0), (1L, vec(0, 0.02f), 0), (2L, vec(0, 0.03f), 0),
      (3L, vec(1, 0.01f), 1), (4L, vec(1, 0.02f), 1), (5L, vec(1, 0.03f), 1),
      (6L, vec(2, 0.01f), 2), (7L, vec(2, 0.02f), 2), (8L, vec(2, 0.04f), 3)
    ).toDF("vec_id", "embedding", "label")
    val m = ops.Embeddings.irMetricsBanded(rows, "vec_id", "embedding", "label",
        col("vec_id") < 9, k = 3, planesPerBand = 2, bands = 4, dim = 64)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(6), r.getDouble(7), r.getDouble(8)))
      .toMap
    // label-0 queries: 2 relevant in corpus; their cluster-mates rank top-2
    // → recall 1.0, first_rel_rank 1, ndcg 1.0 (dcg = idcg prefix)
    for (q <- Seq(0L, 1L, 2L)) {
      val (nRel, nTop, first, rr, recall, ndcg) = m(q)
      assert(nRel === 2L && nTop === 2L && first === 1L)
      assert(rr === 1.0 && recall === 1.0 && ndcg === 1.0)
    }
    // vec 8 (label 3): zero relevant anywhere → all metrics 0 by definition
    val (nRel8, nTop8, first8, rr8, recall8, ndcg8) = m(8L)
    assert(nRel8 === 0L && nTop8 === 0L && first8 === 0L)
    assert(rr8 === 0.0 && recall8 === 0.0 && ndcg8 === 0.0)
    // ppm discount table matches its definition and is strictly decreasing
    val w = ops.Embeddings.dcgWeightsPpm(10)
    assert(w.head === 1000000L && w(2) === 500000L)
    assert(w.sliding(2).forall(p => p(0) > p(1)))
  }

  test("Sessions.tune: default raise, user-set value kept") {
    val s1 = spark.newSession()
    graft.Sessions.tune(s1)
    assert(s1.conf.get("spark.sql.objectHashAggregate.sortBased.fallbackThreshold")
      === graft.Sessions.ObjectAggFallbackGroups.toString)
    val s3 = spark.newSession()
    s3.conf.set("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "777")
    graft.Sessions.tune(s3)
    assert(s3.conf.get("spark.sql.objectHashAggregate.sortBased.fallbackThreshold") === "777")
  }

  // ---- real image decode (javax.imageio) behind the multimodal surface ----

  /** Grayscale test image whose luma is constant inside each 9×8 dHash
    * grid cell, cell values ≥96 luma units apart between horizontal
    * neighbors — JPEG quantization noise (a few units after the 100-px
    * area average) can never flip a gradient comparison. */
  private def gridImage(flip: Boolean): java.awt.image.BufferedImage = {
    val img = new java.awt.image.BufferedImage(90, 80, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 80; x <- 0 until 90) {
      val cell = (y / 10) * 9 + (x / 10)
      val v0 = (cell * 37) % 8
      val v = (if (flip) 7 - v0 else v0) * 32 + 16
      img.setRGB(x, y, (v << 16) | (v << 8) | v)
    }
    img
  }

  private def jpegBytes(img: java.awt.image.BufferedImage, quality: Float): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    val writer = javax.imageio.ImageIO.getImageWritersByFormatName("jpeg").next()
    val ios = javax.imageio.ImageIO.createImageOutputStream(out)
    writer.setOutput(ios)
    val p = writer.getDefaultWriteParam
    p.setCompressionMode(javax.imageio.ImageWriteParam.MODE_EXPLICIT)
    p.setCompressionQuality(quality)
    writer.write(null, new javax.imageio.IIOImage(img, null, null), p)
    writer.dispose(); ios.close()
    out.toByteArray
  }

  private def pngBytes(img: java.awt.image.BufferedImage): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", out)
    out.toByteArray
  }

  private def hamming(a: String, b: String): Int =
    a.zip(b).count { case (x, y) => x != y }

  test("image magic sniff: JPEG/PNG route to decode, text (incl. 'BM…' prose) does not") {
    val a = gridImage(flip = false)
    assert(ops.ImageDecode.isImage(jpegBytes(a, 0.9f)))
    assert(ops.ImageDecode.isImage(pngBytes(a)))
    assert(!ops.ImageDecode.isImage("the quick brown fox".getBytes("UTF-8")))
    assert(!ops.ImageDecode.isImage("BMW is a carmaker, not a bitmap header".getBytes("UTF-8")))
    // decode really decodes: dimensions and luma plane match the source
    val g = ops.ImageDecode.decodeGray(pngBytes(a)).get
    assert(g.width === 90 && g.height === 80)
    // PNG is lossless: decoded luma of a gray pixel equals its channel value
    assert((g.luma(0) & 0xff) === ((77 * 16 + 150 * 16 + 29 * 16) >> 8))
  }

  test("image decode: BMP and GIF containers decode; corrupt image payloads fall back, never throw") {
    val a = gridImage(flip = false)
    def enc(fmt: String): Array[Byte] = {
      val out = new java.io.ByteArrayOutputStream()
      assert(javax.imageio.ImageIO.write(a, fmt, out), s"no $fmt writer")
      out.toByteArray
    }
    // all four containers of the SAME pixels agree on the decoded plane
    val png = ops.ImageDecode.decodeGray(pngBytes(a)).get
    for (fmt <- Seq("bmp", "gif")) {
      val g = ops.ImageDecode.decodeGray(enc(fmt)).get
      assert(g.width === 90 && g.height === 80, fmt)
      // BMP is lossless; GIF palettizes but the image is already 8 gray
      // levels, so the luma plane survives exactly
      assert(g.luma.toSeq === png.luma.toSeq, s"$fmt plane differs")
    }
    // corrupt payload carrying a JPEG magic: decode fails cleanly -> None
    val corrupt = jpegBytes(a, 0.9f).take(60)
    assert(ops.ImageDecode.decodeGray(corrupt).isEmpty)
    // and phash64 falls back to the deterministic byte-stub, no throw
    import spark.implicits._
    val ph = Seq((1L, corrupt)).toDF("doc_id", "payload")
      .select(ops.Multimodal.phash64(col("payload"))).collect().head.getString(0)
    assert(ph.length === 64 && ph.forall(c => c == '0' || c == '1'))
    // decompression-bomb guard: a tiny payload declaring a huge canvas is
    // rejected by the header-first dimension read (PNG IHDR forged dims)
    val bomb = pngBytes(a).clone()
    // IHDR width field at offset 16..19 -> 1e9 (payload stays tiny)
    bomb(16) = 0x3B.toByte; bomb(17) = 0x9A.toByte; bomb(18) = 0xCA.toByte; bomb(19) = 0x00.toByte
    assert(ops.ImageDecode.decodeGray(bomb).isEmpty)
  }

  test("phash64: same picture at two JPEG qualities lands in one band bucket, hamming <= 8") {
    import spark.implicits._
    val a = gridImage(flip = false)
    val b = gridImage(flip = true)
    val media = Seq(
      (1L, jpegBytes(a, 0.9f)),
      (2L, jpegBytes(a, 0.5f)),
      (3L, pngBytes(a)),
      (4L, jpegBytes(b, 0.9f))
    ).toDF("doc_id", "payload")
    val ph = media.select(col("doc_id"), ops.Multimodal.phash64(col("payload")).as("p"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    ph.values.foreach(p => assert(p.length == 64 && p.forall(c => c == '0' || c == '1')))
    // same picture, different encodings: perceptually identical
    assert(hamming(ph(1L), ph(2L)) <= 8, s"jpeg q90 vs q50: ${hamming(ph(1L), ph(2L))}")
    assert(hamming(ph(1L), ph(3L)) <= 8, s"jpeg vs png: ${hamming(ph(1L), ph(3L))}")
    // mirrored cell table flips every gradient comparison: far away
    assert(hamming(ph(1L), ph(4L)) >= 32, s"different pictures: ${hamming(ph(1L), ph(4L))}")
    // the production pair machinery finds exactly the re-encoding cluster
    val pairs = ops.Multimodal.phashNearDupPairs(media, maxHamming = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs === Set((1L, 2L), (1L, 3L), (2L, 3L)))
  }

  test("extractFeatures/resample: image payloads use decoded pixels, text keeps the byte contract") {
    import spark.implicits._
    val a = gridImage(flip = false)
    val png = pngBytes(a)
    val media = Seq((1L, png), (2L, "plain text payload".getBytes("UTF-8")))
      .toDF("doc_id", "payload")
    val feats = ops.Multimodal.extractFeatures(spark, media)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getString(3))).toMap
    // image row: digest is md5 of the DECODED luma plane (container-invariant)
    val g = ops.ImageDecode.decodeGray(png).get
    val md = java.security.MessageDigest.getInstance("MD5")
    val (bl1, ck1, dg1) = feats(1L)
    assert(bl1 === png.length.toLong)
    assert(ck1 === g.luma.take(4).map(v => (v & 0xff).toLong).sum)
    assert(dg1 === ops.Multimodal.toHex(md.digest(g.luma)))
    // jpeg re-encode of the same pixels: SAME decode path, different exact
    // pixels (lossy) — but text rows keep the old byte-stub digest exactly
    val (bl2, ck2, dg2) = feats(2L)
    val stub = ops.Multimodal.decodeStub(2L, "plain text payload".getBytes("UTF-8"))
    assert((bl2, ck2, dg2) === ((stub.byte_len, stub.checksum4, stub.digest)))
    // resample: real thumbnail — 90×80 at stride 10 → 9×8 = 72 samples
    val rs = ops.Multimodal.resample(spark, media.where(col("doc_id") === 1L), stride = 10)
      .collect().head
    assert(rs.getLong(1) === 90L * 80 && rs.getLong(2) === 72L)
    // thumbnail digest matches an independent downsample computation
    val thumb = ops.ImageDecode.downsample(g, 9, 8).get.map(_.toByte)
    md.reset()
    assert(rs.getString(3) ===
      ops.Multimodal.toHex(md.digest(ops.Multimodal.toHex(thumb).getBytes("UTF-8"))))
  }

  // ---- round-18 optimization pins ------------------------------------

  test("orderStatsAtRankExprs answers arithmetic rank expressions exactly (equi-depth ranks)") {
    import spark.implicits._
    val rnd = new scala.util.Random(91)
    // heavy ties (values 0..39) + a key with n < 10 so some ranks exceed
    // earlier bins' spans; both drive the ntile-boundary arithmetic
    val rows = (1 to 2500).map(_ => (s"k${rnd.nextInt(3)}", rnd.nextInt(40).toLong)) ++
      (1 to 7).map(i => ("tiny", i.toLong * 3))
    val df = rows.toDF("k", "v").repartition(8)
    def binEnd(i: Int) =
      s"(CAST($i AS BIGINT) * (__n DIV 10) + LEAST(CAST($i AS BIGINT), __n % 10))"
    val ranks = (1 to 10).flatMap(i => Seq(s"(${binEnd(i - 1)} + 1)", binEnd(i)))
    val got = ops.ExactQuantile.orderStatsAtRankExprs(df, col("k"), col("v"), ranks)
      .collect().map(r => ((r.getString(0), r.getInt(1)), r.getLong(2))).toMap
    rows.groupBy(_._1).foreach { case (k, g) =>
      val sorted = g.map(_._2).sorted
      val n = sorted.length
      def end(i: Int) = i.toLong * (n / 10) + math.min(i.toLong, n % 10)
      (1 to 10).foreach { i =>
        val (lo, hi) = (end(i - 1) + 1, end(i))
        if (hi >= lo) { // empty bins produce no row for either rank
          assert(got((k, (i - 1) * 2)) === sorted(lo.toInt - 1), s"key=$k bin=$i lo")
          assert(got((k, (i - 1) * 2 + 1)) === sorted(hi.toInt - 1), s"key=$k bin=$i hi")
        }
      }
    }
  }

  test("q46's rank-derived bins equal the windowed NTILE aggregate end-to-end") {
    val d = "/root/testdata/sf0.001"
    val got = SparkEntry.queries("q46_equidepth_bins")(spark, d)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    Tables.load(spark, d, "lineitem").createOrReplaceTempView("q46eq_li")
    val want = spark.sql(
      """WITH b AS (SELECT l_returnflag AS f, l_orderkey, l_linenumber,
        |             CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS c
        |           FROM q46eq_li),
        |t AS (SELECT f, c, NTILE(10) OVER (PARTITION BY f
        |        ORDER BY c, l_orderkey, l_linenumber) AS bin FROM b)
        |SELECT f, CAST(bin AS BIGINT), CAST(COUNT(*) AS BIGINT),
        |  CAST(MIN(c) AS BIGINT), CAST(MAX(c) AS BIGINT)
        |FROM t GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(got.toSeq === want.toSeq)
  }

  test("q49's dense-domain hop fast path and the sparse join fallback both match plain recursion") {
    import spark.implicits._
    def plainRecursion(d: String): Seq[(Long, Long, Long, Long)] = {
      Tables.load(spark, d, "part").createOrReplaceTempView("q49eq_part")
      spark.sql(
        """WITH RECURSIVE bom (root, node, lvl) AS (
          |  SELECT p_partkey, p_partkey, CAST(0 AS BIGINT) FROM q49eq_part
          |  WHERE p_partkey BETWEEN 8 AND 15
          |  UNION ALL
          |  SELECT b.root, p.p_partkey, b.lvl + 1
          |  FROM bom b JOIN q49eq_part p ON CAST(FLOOR(p.p_partkey / 2) AS BIGINT) = b.node
          |)
          |SELECT root, CAST(COUNT(*) AS BIGINT), MAX(lvl),
          |  CAST(SUM(CAST(FLOOR(p.p_retailprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
          |FROM bom JOIN q49eq_part p ON p.p_partkey = bom.node
          |GROUP BY root ORDER BY root""".stripMargin)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    }
    def runQ49(d: String): Seq[(Long, Long, Long, Long)] =
      SparkEntry.queries("q49_recursive_cte")(spark, d)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    // dense domain (the generator's shape): arithmetic fast path
    val dense = "/root/testdata/sf0.001"
    assert(runQ49(dense) === plainRecursion(dense))
    // SPARSE domain: knock out interior keys so intermediate-node
    // existence genuinely prunes paths — must take the doubling-join
    // fallback and still match the plain recursion exactly
    val d2 = tmpDir("q49sparse")
    (1L to 400L).filterNot(k => k % 7 == 3 || k == 25)
      .map(k => (k, 1000.0 + k % 97 + 0.25))
      .toDF("p_partkey", "p_retailprice")
      .write.mode("overwrite").parquet(s"$d2/part.parquet")
    assert(runQ49(d2) === plainRecursion(d2))
  }

  // ---- round-19 optimization pins ------------------------------------

  test("quantization data convention: every floor-half column is nonnegative " +
    "with x*scale far from any rounding tie") {
    // The suite spells HALF_UP rounding as floor(x*scale + 0.5) (round()
    // on DoubleType allocates a BigDecimal per row — ~25% of a scan-agg
    // pass). That spelling equals round() ONLY while every quantized
    // value is nonnegative and x*scale never lands on an exact .5 tie
    // (k-decimal values stored as double are an integer ± ~1e-11 after
    // the scale multiply). This pin makes generator drift fail LOUDLY:
    // a negative value or a >k-decimal value in any quantized column
    // breaks the equivalence silently at the oracle otherwise.
    val sites = Seq( // (table, column, scale) — every floor-half site
      ("lineitem", "l_extendedprice", 100.0),
      ("lineitem", "l_discount", 100.0),
      ("lineitem", "l_tax", 100.0),
      ("lineitem", "l_quantity", 100.0),
      ("part", "p_retailprice", 100.0),
      ("events", "value", 1000.0),
      ("events", "value", 1000000.0))
    for (d <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01");
         (t, c, scale) <- sites) {
      val bad = Tables.load(spark, d, t)
        .filter(col(c).isNotNull)
        .filter(col(c) < 0.0 ||
          // distance from the chosen integer must stay far from the 0.5
          // tie in BOTH directions: |x*scale - floor(x*scale + 0.5)| < 0.25
          abs(col(c) * scale - floor(col(c) * scale + 0.5)) >= 0.25)
        .count()
      assert(bad === 0L, s"$d $t.$c*$scale violates the floor-half convention")
    }
  }

  test("events.props fixed-layout convention: propsK equals get_json_object row-for-row") {
    // EventProps.propsK spells CAST(props->>'k' AS BIGINT) as a byte
    // slice because the generator writes props as exactly {"k": N}. If
    // the generator ever emits escapes, reordered keys, or different
    // whitespace, this pin fails loudly before the oracle silently
    // diverges. (JSON-surface queries keep real get_json_object.)
    for (d <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01",
                  "/root/testdata/sf0.1")) {
      val bad = Tables.load(spark, d, "events")
        .filter(!(ops.EventProps.propsK(col("props")) <=>
          get_json_object(col("props"), "$.k").cast("long")))
        .count()
      assert(bad === 0L, s"$d events.props violates the fixed-layout convention")
    }
  }

  test("propsK equals get_json_object on layouts the generator does not write") {
    import spark.implicits._
    val props = Seq[String]("""{"k":12}""", """{"k": 12, "x": 3}""", """{"x": 3, "k": 12}""",
      null, """{"k": 7}""", """{"k": "9"}""", """{"k": null}""").toDF("props")
    val got = props.select(ops.EventProps.propsK(col("props")).as("fast"),
      get_json_object(col("props"), "$.k").cast("long").as("json")).collect()
    got.foreach(r => assert(r.get(0) === r.get(1), r))
    assert(got.map(r => Option(r.get(0))).toSeq ===
      Seq(Some(12L), Some(12L), Some(12L), None, Some(7L), Some(9L), None))
  }

  test("native BPE encode expression equals the declarative lambda spelling bit-for-bit") {
    import spark.implicits._
    // adversarial shapes: multi-space runs, leading/trailing spaces,
    // empty text, unicode (surrogate pair, combining char), newline
    // inside a word ("." does not match line terminators), quote and
    // backslash merge symbols, merges that cascade left-to-right
    val docs = Seq(
      (1L, "ab ab abc"),
      (2L, "  a  b   ab aab "),
      (3L, ""),
      (4L, "a\nb a\rb a b"),
      (5L, "𝕏𝕏x éé"),
      (6L, "\"q \\s \"q\"q"),
      (7L, "aaaa aaa aa a"),
      (8L, "zzz")).toDF("doc_id", "text")
    val merges = Seq(("a", "b"), ("a", "ab"), ("ab", "c"), ("a", "a"),
      ("\"", "q"), ("\\", "s"), ("𝕏", "𝕏"), ("e", "́"))
    val native = ops.Bpe.encodeWith(docs, "text", "doc_id", merges)
      .orderBy("doc_id").collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val declarative = DeclarativeTwins.bpeEncodeWith(docs, "text", "doc_id", merges)
      .orderBy("doc_id").collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(native.toSeq === declarative.toSeq)
  }

  test("native quantize_micro equals the declarative round() lambda bit-for-bit") {
    import spark.implicits._
    // adversarial floats: exact .5 ties both signs (±2^-7 * 1e6 =
    // ±7812.5), near-ties, zero, subnormals, nulls, empty vectors,
    // large magnitudes — the tie direction (away from zero) and the
    // decimal-HALF_UP-on-shortest-repr semantics are what the native
    // expression must reproduce exactly
    val rnd = new scala.util.Random(97)
    val vecs = Seq(
      (1L, Seq[Option[Float]](Some(0.0078125f), Some(-0.0078125f), Some(1.23456f),
        Some(-9.87654f), Some(0f), Some(-0f))),
      (2L, Seq[Option[Float]](Some(java.lang.Float.MIN_VALUE),
        Some(-java.lang.Float.MIN_VALUE), Some(123456.78f), None)),
      (3L, Seq[Option[Float]]()),
      (4L, Seq.fill(64)(Some(rnd.nextFloat() * 2f - 1f)))
    ).toDF("id", "vec")
    val got = vecs.select(col("id"), ops.Embeddings.quantize(col("vec")).as("q"))
      .orderBy("id").collect().map(r => (r.getLong(0), r.getSeq[Any](1)))
    val want = vecs.select(col("id"), DeclarativeTwins.quantize(col("vec")).as("q"))
      .orderBy("id").collect().map(r => (r.getLong(0), r.getSeq[Any](1)))
    assert(got.toSeq === want.toSeq)
    // ARRAY<DOUBLE>: the products next to the -0.5 tie (-5e-7 scales to
    // exactly -0.5 → -1; its upper neighbour to -0.4999999999999999 → 0),
    // the +0.5 and -2.5 ties, and a random spread. The double one ulp
    // above -0.5 (-0.49999999999999994) is not a product of any double
    // and 1e6, so the scaled values never carry it.
    val dvecs = Seq(
      (1L, Seq(-5e-7, -4.999999999999999e-7, -5.000000000000001e-7, 5e-7,
        4.999999999999999e-7, -2.5e-6, 1.5e-6, -0.0, Double.MinPositiveValue)),
      (2L, Seq.fill(64)(rnd.nextDouble() * 2 - 1))
    ).toDF("id", "vec")
    def quantized(f: org.apache.spark.sql.Column => org.apache.spark.sql.Column) =
      dvecs.select(col("id"), f(col("vec")).as("q"))
        .orderBy("id").collect().map(r => (r.getLong(0), r.getSeq[Any](1))).toSeq
    assert(quantized(ops.Embeddings.quantize) ===
      quantized(DeclarativeTwins.quantize))
  }

  test("bpe train learns the same merges on the coalesced and the wide vocab path") {
    val rnd = new scala.util.Random(5)
    val docs = (1 to 400).map { _ =>
      Seq.fill(6)(Seq.fill(2 + rnd.nextInt(5))("abcde"(rnd.nextInt(5))).mkString)
        .mkString(" ")
    }.toDF("text").repartition(4)
    def merges(scale: Boolean) = withScalePaths(scale) {
      ops.Bpe.train(docs, "text", merges = 12).orderBy("merge_rank")
        .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
        .toSeq
    }
    val coalesced = merges(false)
    assert(coalesced.size === 12)
    assert(merges(true) === coalesced)
  }
}

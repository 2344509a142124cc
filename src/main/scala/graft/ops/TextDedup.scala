package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Distributed text deduplication for training-data pipelines: exact
  * (hash-groupBy), exact n-gram Jaccard via a shingle inverted index,
  * MinHash+LSH (shingle → minhash → band → bucket self-join), and SimHash.
  *
  * Hashing spec is deliberately engine-portable (md5 over seeded strings,
  * lexicographic MIN over hex digests) so results are bit-identical across
  * engines — the DuckDB oracles in queries/Pipelines.scala replicate it.
  * All operators are pure DataFrame compositions: every stage is a
  * shuffle on a bounded key (doc_id, shingle, or LSH bucket), no
  * driver-side collection, so the same plan runs at 100 TB — the only
  * scale knob is `maxShingleDf`, which drops ultra-common shingles that
  * would otherwise make the inverted-index join quadratic on hot keys.
  */
object TextDedup {

  /** (id, shingle) pairs — distinct word n-gram shingles per document
    * (space tokenization); documents with fewer than n words produce no
    * rows. Deliberately lambda-free: higher-order functions (transform)
    * execute interpreted in Spark, so the shingle is assembled from
    * codegen'd element_at indexing over an exploded start-index range.
    */
  def docShingles(docs: DataFrame, idCol: String, textCol: String, n: Int): DataFrame =
    docShingleRows(docs, idCol, textCol, n).distinct()

  /** Positional (id, shingle) rows WITHOUT the distinct pass — one row per
    * shingle occurrence. For consumers whose aggregate dedupes internally
    * (e.g. the bounded min-k fingerprint), skipping the distinct exchange
    * removes the largest shuffle of the pipeline. */
  def docShingleRows(docs: DataFrame, idCol: String, textCol: String, n: Int): DataFrame =
    spreadSmallInput(docs)
      .select(col(idCol).as("doc_id"), split(col(textCol), " ").as("w"))
      .filter(size(col("w")) >= n)
      .select(col("doc_id"), col("w"),
        explode(sequence(lit(1), size(col("w")) - (n - 1))).as("i"))
      .select(col("doc_id"),
        concat_ws(" ", (0 until n).map(k => element_at(col("w"), col("i") + k)): _*).as("shingle"))

  /** A corpus smaller than the core count arrives in fewer partitions
    * than cores (a 100-doc parquet file is ONE split), so every shingle/
    * hash projection above it runs single-threaded. Spread it once —
    * a no-op at scale, where file splits already exceed parallelism. */
  private[ops] def spreadSmallInput(docs: DataFrame): DataFrame = {
    val target = docs.sparkSession.sparkContext.defaultParallelism
    if (docs.rdd.getNumPartitions < target) docs.repartition(target) else docs
  }

  /** Ids flow through bounded Long-keyed aggregates and the union-find
    * fast path, so the id column must be integral — checked loudly here
    * (a silent cast would null every id and return empty results).
    * Shared with the streaming twins, which crash their primitive tuple
    * encoders on silently-nulled ids. */
  private[graft] def longId(docs: DataFrame, idCol: String, fn: String): Column = {
    val dt = docs.schema(idCol).dataType
    require(Seq(ByteType, ShortType, IntegerType, LongType).contains(dt),
      s"$fn requires an integral id column; '$idCol' is ${dt.simpleString}")
    col(idCol).cast(LongType)
  }

  /** Exact duplicate groups by md5 of the raw text: one row per duplicated
    * digest with the surviving (minimum) id and the victim count.
    * Scale: single hash-shuffle on the 32-char digest.
    */
  def exactDuplicateGroups(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(md5(col(textCol)).as("text_hash"), col(idCol).as("doc_id"))
      .groupBy("text_hash")
      .agg(min("doc_id").as("keep_id"), count(lit(1)).as("n_copies"))
      .filter(col("n_copies") > 1)

  /** Survivors of exact dedup: minimum id per distinct text. */
  def exactDedup(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(md5(col(textCol)).as("text_hash"), col(idCol).as("doc_id"))
      .groupBy("text_hash").agg(min("doc_id").as("doc_id"))

  /** Shared inverted-index pair pipeline behind the set-similarity
    * dedups (jaccardPairs, containmentPairs): (id1, id2, sz1, sz2,
    * inter) for every doc pair sharing at least one rare shingle —
    * pairs can only score > 0 if they share a shingle, so grouping by
    * shingle enumerates exactly the candidate space. `maxShingleDf`
    * drops shingles occurring in more than that many docs
    * (stop-shingles): bounds the per-key fan-out at scale. The df-cap
    * slightly changes semantics (capped shingles count for sizes but
    * not intersections) — the oracles apply the same cap.
    *
    * TWO data shuffles total. Each document's distinct shingle-hash set
    * and its size are computed INSIDE the row (split → per-position
    * xxhash64 → array_distinct), so the pipeline needs no distinct()
    * exchange and no doc-keyed size aggregation; the size rides the
    * exploded rows into the inverted index, so no size join either.
    * Shingles are keyed by their 64-bit xxhash: every exchange moves
    * 8-byte longs instead of n-word strings (a cross-shingle collision —
    * 2^-64 per pair — is the standard dedup-pipeline trade; the declared
    * score output is unchanged). The stop-shingle cap is enforced IN
    * the collect aggregate (BoundedDocSetAggregate): per-key state and
    * shuffle traffic stay ≤ cap+1 entries even for a boilerplate shingle
    * present in millions of documents — the property a collect_set +
    * post-filter would lose and a count pre-pass + anti-join would buy
    * back only at the cost of a full extra shuffle over the shingle set.
    */
  private def shinglePairCounts(docs: DataFrame, idCol: String, textCol: String,
                                n: Int, maxShingleDf: Int, fn: String): DataFrame = {
    val indexRows = spreadSmallInput(docs)
      .select(longId(docs, idCol, fn).as("doc_id"),
        graft.functions.TextExprs.shingle_hash_set(col(textCol), n).as("shs"))
      // explode_OUTER: a plain explode makes InferFiltersFromGenerate
      // push an inferred size(shingle_hash_set(text)) > 0 predicate all
      // the way into the (single-partition) scan, evaluating the whole
      // shingle expression once more single-threaded; the null rows an
      // outer explode emits for shingle-less docs are dropped right here
      .select(col("doc_id"), size(col("shs")).cast(LongType).as("sz"),
        explode_outer(col("shs")).as("sh64"))
      .filter(col("sh64").isNotNull)
    val bySh = indexRows
      .groupBy("sh64")
      .agg(graft.functions.BoundedDocSetAggregate
        .bounded_doc_set(col("doc_id"), col("sz"), maxShingleDf).as("ids"))
      .filter(size(col("ids")).between(2, maxShingleDf))
    bySh
      .select(col("ids"), explode(col("ids")).as("d1"))
      .select(col("d1"), explode(col("ids")).as("d2"))
      .filter(col("d1.id") < col("d2.id"))
      .groupBy(col("d1.id").as("id1"), col("d2.id").as("id2"),
        col("d1.sz").as("sz1"), col("d2.sz").as("sz2"))
      .agg(count(lit(1)).as("inter"))
  }

  /** All-pairs exact n-gram Jaccard >= threshold over the shared
    * inverted-index pipeline (see shinglePairCounts for the scale
    * shape). */
  def jaccardPairs(docs: DataFrame, idCol: String, textCol: String,
                   n: Int, threshold: Double, maxShingleDf: Int): DataFrame =
    shinglePairCounts(docs, idCol, textCol, n, maxShingleDf, "jaccardPairs")
      .withColumn("jaccard",
        col("inter").cast(DoubleType) / (col("sz1") + col("sz2") - col("inter")))
      .filter(col("jaccard") >= threshold)
      .select("id1", "id2", "jaccard")

  /** Overlap-coefficient (containment) pairs: inter / min(|A|, |B|) —
    * catches SUBSET duplication (a doc embedded inside a longer one)
    * that symmetric Jaccard dilutes away: a 40-shingle doc fully
    * contained in a 400-shingle doc has jaccard 0.1 but containment
    * 1.0. Same inverted-index pipeline, same df cap, same scale shape.
    */
  def containmentPairs(docs: DataFrame, idCol: String, textCol: String,
                       n: Int, threshold: Double, maxShingleDf: Int): DataFrame =
    shinglePairCounts(docs, idCol, textCol, n, maxShingleDf, "containmentPairs")
      .withColumn("containment",
        col("inter").cast(DoubleType) / least(col("sz1"), col("sz2")))
      .filter(col("containment") >= threshold)
      .select("id1", "id2", "containment")

  /** MinHash signature columns h0..h{k-1}: h_j = lexicographic MIN over
    * the doc's shingles of the first 16 hex chars of md5(j || ':' ||
    * shingle). A seeded md5 prefix is a uniform 64-bit hash of the shingle
    * space, so the hex-string MIN is a valid minhash (half the string
    * traffic of full digests); one groupBy computes all k mins with
    * map-side partial agg.
    */
  def minhashSignatures(ds: DataFrame, k: Int): DataFrame = {
    // one imperative aggregate for all k mins (see MinHashAggregate),
    // projected back to h0..h{k-1} columns for the banding stage
    val sig = ds.groupBy("doc_id")
      .agg(graft.functions.MinHashAggregate.minhash_sig(col("shingle"), k).as("sig"))
    sig.select(col("doc_id") +: (0 until k).map(j => col("sig").getItem(j).as(s"h$j")): _*)
  }

  /** LSH band buckets: `bands` bands of `rowsPerBand` signature rows each;
    * bucket key = band index ':' concatenated row hashes. One (doc, bucket)
    * row per band.
    */
  def lshBuckets(sigs: DataFrame, bands: Int, rowsPerBand: Int): DataFrame = {
    val bandCols = (0 until bands).map { b =>
      val rows = (0 until rowsPerBand).map(r => col(s"h${b * rowsPerBand + r}"))
      concat(lit(s"$b:") +: rows: _*)
    }
    sigs.select(col("doc_id"), explode(array(bandCols: _*)).as("bucket"))
  }

  /** Candidate pairs: docs sharing any LSH bucket (distinct, id1 < id2).
    * At extreme scale a degenerate bucket (everything identical) would
    * make this quadratic; cap with a per-bucket count filter upstream if
    * the corpus has giant exact-dup classes — exact dedup first is the
    * standard pipeline order.
    */
  def lshCandidates(buckets: DataFrame): DataFrame =
    buckets.as("a")
      .join(buckets.as("b"),
        col("a.bucket") === col("b.bucket") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id1"), col("b.doc_id").as("id2"))
      .distinct()

  /** Full MinHash-LSH near-dup pipeline with exact-Jaccard verification of
    * the candidates: shingle → k minhashes → band buckets → bucket
    * grouping → exact jaccard filter. Output (id1, id2, jaccard).
    *
    * Signatures, band keys, AND each document's distinct shingle-hash set
    * are all computed inside the row (MinHashBandKeys / ShingleHashSet),
    * so the data shuffles are exactly: the band-bucket grouping and the
    * candidate-pair distinct. Verification intersects the two in-row
    * shingle sets per candidate pair (sorted-array intersect) against the
    * doc-set side, which joins by doc id — broadcast when small, hash
    * otherwise; either way it moves each doc's set once, where the
    * exploded formulation shuffled every (doc, shingle) row through two
    * joins and re-aggregated.
    */
  def minhashDedupPairs(docs: DataFrame, idCol: String, textCol: String,
                        n: Int, k: Int, bands: Int, threshold: Double): DataFrame = {
    // Filter on the CHEAP no-shingle predicate (word count < n), never on
    // the expression outputs: a filter over bks/shs would be pushed below
    // the spread exchange and evaluate the whole k×md5 projection inside
    // the single-partition scan. With shingles guaranteed non-empty, bks
    // and shs are non-null by construction. The doc_id repartition then
    // pins ONE evaluation of the signature projection behind an exchange
    // that every consumer branch — bucket grouping and both verification
    // joins — shares via ReuseExchange. (NOT cache(): a returned lazy
    // frame could never be unpersisted.)
    val withSets = spreadSmallInput(
        docs.filter(size(split(col(textCol), " ")) >= n))
      .select(longId(docs, idCol, "minhashDedupPairs").as("doc_id"),
        graft.functions.TextExprs.minhash_band_keys(col(textCol), n, k, bands).as("bks"),
        graft.functions.TextExprs.shingle_hash_set(col(textCol), n).as("shs"))
    val docSets = withSets.select(col("doc_id"), col("shs"))
    val cands = withSets
      // explode_OUTER for the same InferFiltersFromGenerate reason as in
      // jaccardPairs: never re-evaluate the k×md5 signature inside the scan
      .select(col("doc_id"), explode_outer(col("bks")).as("bucket"))
      .filter(col("bucket").isNotNull)
      .groupBy("bucket").agg(collect_set(col("doc_id")).as("ids"))
      .filter(size(col("ids")) >= 2)
      .select(col("ids"), explode(col("ids")).as("id1"))
      .select(col("id1"), explode(col("ids")).as("id2"))
      .filter(col("id1") < col("id2"))
      .select("id1", "id2").distinct()
    cands
      .join(docSets.select(col("doc_id"), col("shs").as("shs1")), col("id1") === col("doc_id"))
      .drop("doc_id")
      .join(docSets.select(col("doc_id"), col("shs").as("shs2")), col("id2") === col("doc_id"))
      .select(col("id1"), col("id2"),
        size(array_intersect(col("shs1"), col("shs2"))).cast(LongType).as("inter"),
        size(col("shs1")).cast(LongType).as("sz1"), size(col("shs2")).cast(LongType).as("sz2"))
      .withColumn("jaccard",
        col("inter").cast(DoubleType) / (col("sz1") + col("sz2") - col("inter")))
      .filter(col("jaccard") >= threshold)
      .select("id1", "id2", "jaccard")
  }

  /** Near-dup suppression SURVIVORS — the batch twin of
    * `streaming.StreamingOps.nearDupDedupStream`: every document emits
    * one row per LSH band bucket (in-row MinHashBandKeys), each bucket
    * is owned by its minimum doc id, and a document survives iff it owns
    * ALL its buckets ("some band of mine belongs to an earlier document"
    * suppresses). Ownership follows a total order, so two near-dups can
    * never suppress each other both ways. Two shuffles: the bucket
    * grouping and the per-doc verdict. The per-bucket collect is bounded
    * in practice by LSH bucket sizes; exact-dedup first (dd1) is the
    * standard pipeline order that keeps degenerate buckets away.
    */
  def nearDupSurvivors(docs: DataFrame, idCol: String, textCol: String,
                       n: Int, k: Int, bands: Int): DataFrame =
    spreadSmallInput(docs.filter(size(split(col(textCol), " ")) >= n))
      .select(longId(docs, idCol, "nearDupSurvivors").as("doc_id"),
        explode_outer(graft.functions.TextExprs
          .minhash_band_keys(col(textCol), n, k, bands)).as("bucket"))
      .filter(col("bucket").isNotNull)
      .groupBy("bucket")
      .agg(min("doc_id").as("owner"), collect_set(col("doc_id")).as("ids"))
      .select(col("owner"), explode(col("ids")).as("doc_id"))
      .groupBy("doc_id")
      .agg(min(when(col("owner") === col("doc_id"), 1).otherwise(0)).as("all_own"))
      .filter(col("all_own") === 1)
      .select(col("doc_id"))

  /** 64-bit SimHash over the document's distinct words, returned as a
    * 16-hex-char string (portable: no int64 sign issues). Word hash =
    * first 16 hex chars of md5(word); bit b of the simhash is 1 iff the
    * sum over words of ±1 (per word-hash bit b) is positive.
    * Entirely expression-generated: 64 conditional-sum aggregates in one
    * hash aggregation, all codegen'd.
    */
  def simhash(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    // the whole construction (tokenize → distinct → md5 bit votes → sign
    // vector) runs inside the row as ONE native expression: zero
    // shuffles, zero exploded word rows — where the declarative form
    // paid an explode + 64 conditional-sum aggregate columns + one
    // doc-keyed exchange (the null filter mirrors that form, whose
    // explode dropped null-text docs)
    docs.filter(col(textCol).isNotNull)
      .select(col(idCol).as("doc_id"),
        graft.functions.TextExprs.simhash64(col(textCol), weighted = false).as("simhash"))

  /** Duplicate GROUPS from a near-dup pair list: connected components of
    * the (id1, id2) graph, every member labeled with its component's
    * minimum doc id — the survivor-selection step that turns pairwise
    * dedup output into "keep one per cluster". Iterative min-label
    * propagation: each round every node takes the min of its own and its
    * neighbors' labels; converges in O(component diameter) rounds (near-
    * dup components are shallow). Each round is one join + one groupBy on
    * the edge list — the standard distributed CC loop — with
    * localCheckpoint truncating the plan lineage so iteration N doesn't
    * re-execute rounds 1..N-1. Fixpoint detected by the monotone label
    * sum. Returns (doc_id, group_id) for every node of the graph.
    */
  def duplicateGroups(pairs: DataFrame, maxIters: Int = 20): DataFrame = {
    // symmetrize in ONE pass over pairs (a union of two selects would
    // execute the upstream pair pipeline twice — no CSE across branches)
    val edges = pairs
      .select(explode(array(
        struct(longId(pairs, "id1", "duplicateGroups").as("a"),
          longId(pairs, "id2", "duplicateGroups").as("b")),
        struct(longId(pairs, "id2", "duplicateGroups").as("a"),
          longId(pairs, "id1", "duplicateGroups").as("b")))).as("e"))
      .select(col("e.a").as("a"), col("e.b").as("b"))
      .distinct().cache()
    // Near-dup pair graphs are usually MINUSCULE next to the corpus (the
    // pair generators bound candidates hard), so when the edge list fits
    // comfortably on the driver, one collect + union-find answers
    // exactly in O(E α(E)) with zero iterative jobs. The distributed
    // min-label loop below stays the scale path for graphs above the
    // bound — the decision reads one cheap count off the cached edges.
    ScalePath.collectIfSmall(edges) match {
      case Some(rows) =>
        val spark = pairs.sparkSession
        val es = rows.map(r => (r.getLong(0), r.getLong(1)))
        edges.unpersist()
        val parent = new java.util.HashMap[Long, Long]()
        def find(x: Long): Long = {
          var r = x
          while (parent.get(r) != r) r = parent.get(r)
          var c = x
          while (parent.get(c) != r) { val n = parent.get(c); parent.put(c, r); c = n }
          r
        }
        es.foreach { case (x, y) =>
          parent.putIfAbsent(x, x); parent.putIfAbsent(y, y)
          val rx = find(x); val ry = find(y)
          // union by MIN id so every root IS its component's group id
          if (rx != ry) { if (rx < ry) parent.put(ry, rx) else parent.put(rx, ry) }
        }
        val out = parent.keySet().toArray(Array.empty[java.lang.Long])
          .map(id => (id.longValue(), find(id.longValue())))
        import spark.implicits._
        out.toSeq.toDF("doc_id", "group_id")
      case None =>
        // iteration 0 baked in: every node starts from min(self, neighbors)
        var labels = edges
          .groupBy(col("a").as("id")).agg(least(first(col("a")), min(col("b"))).as("lbl"))
          .localCheckpoint(false)
        var prevSum = labels.agg(sum("lbl")).collect()(0).getLong(0) // materializes ckpt
        var converged = false
        var iter = 0
        while (!converged && iter < maxIters) {
          val nbrMin = edges.join(labels, edges("b") === labels("id"))
            .groupBy(col("a").as("id")).agg(min("lbl").as("nlbl"))
          // lazy checkpoint: the convergence aggregate below is the single
          // action that both materializes this round and reads its label sum
          labels = labels.join(nbrMin, Seq("id"), "left")
            .select(col("id"), least(col("lbl"), coalesce(col("nlbl"), col("lbl"))).as("lbl"))
            .localCheckpoint(false)
          val s = labels.agg(sum("lbl")).collect()(0).getLong(0)
          converged = s == prevSum // label sum is strictly decreasing until fixpoint
          prevSum = s
          iter += 1
        }
        edges.unpersist()
        // a silent non-converged result would mislabel clusters (and diverge
        // from the transitive-closure oracle) — fail loudly instead
        if (!converged)
          throw new IllegalStateException(
            s"duplicateGroups did not converge within $maxIters iterations " +
              "(component diameter exceeds the cap); raise maxIters")
        labels.select(col("id").as("doc_id"), col("lbl").as("group_id"))
    }
  }

  /** Weighted 64-bit SimHash (the standard Charikar construction with
    * term-frequency weights): each distinct word votes ±tf on every bit
    * instead of ±1, so frequent terms dominate the signature — more robust
    * to boilerplate insertions than the unweighted variant. Same portable
    * bit spec as `simhash`; term frequencies and votes are computed
    * inside the row (native SimHash64 expression), replacing the
    * (doc, word) tf exchange + 64-column aggregation with a zero-shuffle
    * projection.
    */
  def simhashWeighted(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.filter(col(textCol).isNotNull)
      .select(col(idCol).as("doc_id"),
        graft.functions.TextExprs.simhash64(col(textCol), weighted = true).as("simhash"))

  /** C4-style duplicate-span removal (Raffel et al. 2020 §2.2: of every
    * span occurring more than once in the corpus, exactly ONE occurrence
    * survives). Documents are cut into consecutive non-overlapping
    * `chunkWords`-word chunks (C4's unit was three sentences; this corpus
    * is unpunctuated so the unit is a fixed word window), each chunk is
    * hashed, the occurrence with the lowest (doc_id, chunk_idx) wins, and
    * documents are reassembled from their surviving chunks in order.
    * Output: (doc_id, n_chunks, n_kept, clean_text) — every input doc
    * present, fully-deduplicated docs with n_kept=0 and empty text.
    *
    * Scale shape: chunking is an in-row projection + explode (no
    * shuffle); the global first-occurrence rule is ONE groupBy on the
    * 32-char digest whose MIN runs over (doc_id, idx) PACKED into a
    * single long — min(struct(...)) would fall out of HashAggregate into
    * a per-partition SortAggregate, while the packed long keeps the
    * whole stage codegen'd with map-side combine (NOT a window over all
    * occurrences, which would sort every chunk). The group key is the
    * chunk TEXT itself — equality is what the digest only proxied — so
    * the winner's text rides out of the aggregate as its key: no join
    * back to the chunk stream, no second explosion of the corpus, and
    * the buffer stays a primitive long (a min(chunk) AGGREGATE would
    * fall to SortAggregate; a string group KEY hash-aggregates fine).
    * The exchange carries the chunk text instead of a 32-char digest —
    * same order of bytes for word-window chunks. Reassembly shuffles
    * once on the winning doc id. Nothing data-sized ever reaches the
    * driver. Packing bounds:
    * idx < 2^21 (a 20M-word doc) raises loudly, doc ids above 2^42 would
    * need a wider split.
    */
  def chunkDedup(docs: DataFrame, idCol: String, textCol: String,
                 chunkWords: Int): DataFrame = {
    require(chunkWords >= 1, s"chunkWords must be >= 1, got $chunkWords")
    val id = longId(docs, idCol, "chunkDedup")
    val nChunksExpr = ((size(split(col(textCol), " ")) + (chunkWords - 1))
      .cast(LongType) / chunkWords).cast(LongType)
    val chunks = spreadSmallInput(docs)
      .select(id.as("doc_id"), split(col(textCol), " ").as("w"))
      .select(col("doc_id"),
        posexplode(expr(
          s"transform(sequence(0, (size(w) + ${chunkWords - 1}) DIV $chunkWords - 1), " +
            s"i -> array_join(slice(w, i * $chunkWords + 1, $chunkWords), ' '))"))
          .as(Seq("idx", "chunk")))
    val packed = shiftleft(col("doc_id"), 21).bitwiseOR(
      when(col("idx") >= (1 << 21) || col("doc_id") < 0 || col("doc_id") >= (1L << 42),
        expr("raise_error('chunkDedup: (doc_id, idx) outside the 42+21-bit pack range')"))
        .otherwise(col("idx")).cast(LongType))
    val winners = chunks
      .groupBy(col("chunk"))
      .agg(min(packed).as("keep"))
      .select(shiftright(col("keep"), 21).as("doc_id"),
        col("keep").bitwiseAND((1L << 21) - 1).cast(IntegerType).as("idx"),
        col("chunk"))
    val rebuilt = winners.groupBy("doc_id")
      .agg(count(lit(1)).as("n_kept"),
        expr("array_join(transform(array_sort(collect_list(struct(idx, chunk))), x -> x.chunk), ' ')")
          .as("clean_text"))
    docs.select(id.as("doc_id"), nChunksExpr.as("n_chunks"))
      .join(rebuilt, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_chunks"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("clean_text"), lit("")).as("clean_text"))
  }

  /** Incremental-ingest dedup: verdict for every document of a NEW batch
    * against an EXISTING corpus — the shape a production pipeline runs
    * daily (dedup the increment against the corpus index, never re-dedup
    * the corpus). Output one row per increment doc:
    * (doc_id, verdict ∈ exact|near|new, match_id = min matching corpus id,
    * NULL for 'new'). Within-batch duplicates are out of scope by design
    * (run dd1/dd3 over the batch first — the standard pipeline order).
    *
    * Verdict precedence: an exact text match (md5 anti-join against the
    * corpus digest index) wins and SKIPS the near-dup leg entirely, so
    * the expensive candidate join only sees the exact-novel residue.
    * Near = shares an LSH band bucket with a corpus doc AND verified
    * n-gram Jaccard >= threshold (same portable md5 minhash spec as
    * minhashDedupPairs, so the DuckDB oracle is bit-exact).
    *
    * Scale shape: the corpus side is the big one and builds exactly the
    * artifacts a persisted dedup index holds — digest → min-id, band
    * buckets, in-row shingle-hash sets — each in one corpus pass with
    * in-row signature expressions (amortized across batches when
    * persisted). The increment side is batch-sized: every join
    * (digest equi-join, bucket equi-join, two verification set joins)
    * broadcasts the small batch when AQE/stats allow, and all grouping
    * keys are bounded (digest, bucket, doc id). Nothing collects.
    */
  def incrementalDedup(corpus: DataFrame, increment: DataFrame,
                       idCol: String, textCol: String,
                       n: Int, k: Int, bands: Int, threshold: Double): DataFrame = {
    val corpDigests = corpus
      .select(md5(col(textCol)).as("text_hash"),
        longId(corpus, idCol, "incrementalDedup").as("cid"))
      .groupBy("text_hash").agg(min("cid").as("exact_match"))
    val inc = increment.select(
      longId(increment, idCol, "incrementalDedup").as("doc_id"),
      md5(col(textCol)).as("text_hash"), col(textCol).as("__text"))
    val exact = inc.join(corpDigests, Seq("text_hash"), "left")
      .select(col("doc_id"), col("__text"), col("exact_match"))

    // near-dup leg over the exact-novel residue only
    def sets(df: DataFrame, id: Column, t: Column): DataFrame =
      spreadSmallInput(df.filter(size(split(t, " ")) >= n))
        .select(id.as("sid"),
          graft.functions.TextExprs.minhash_band_keys(t, n, k, bands).as("bks"),
          graft.functions.TextExprs.shingle_hash_set(t, n).as("shs"))
    val incSets = sets(exact.filter(col("exact_match").isNull),
      col("doc_id"), col("__text"))
    val corpSets = sets(corpus, longId(corpus, idCol, "incrementalDedup"),
      col(textCol))
    val cands = incSets
      .select(col("sid").as("doc_id"), explode_outer(col("bks")).as("bucket"))
      .filter(col("bucket").isNotNull)
      .join(corpSets.select(col("sid").as("cid"),
          explode_outer(col("bks")).as("bucket"))
        .filter(col("bucket").isNotNull), Seq("bucket"))
      .select("doc_id", "cid").distinct()
    val near = cands
      .join(incSets.select(col("sid"), col("shs").as("shs1")), col("doc_id") === col("sid"))
      .drop("sid")
      .join(corpSets.select(col("sid"), col("shs").as("shs2")), col("cid") === col("sid"))
      .select(col("doc_id"), col("cid"),
        size(array_intersect(col("shs1"), col("shs2"))).cast(DoubleType).as("inter"),
        size(col("shs1")).cast(DoubleType).as("sz1"),
        size(col("shs2")).cast(DoubleType).as("sz2"))
      .filter(col("inter") / (col("sz1") + col("sz2") - col("inter")) >= threshold)
      .groupBy("doc_id").agg(min("cid").as("near_match"))

    exact.join(near, Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("exact_match").isNotNull, "exact")
          .when(col("near_match").isNotNull, "near")
          .otherwise("new").as("verdict"),
        coalesce(col("exact_match"), col("near_match")).as("match_id"))
  }

  /** Hamming distance between two 16-hex-char simhash columns (given by
    * name; portable: per-nibble popcount of xor). */
  def simhashHamming(aCol: String, bCol: String): Column =
    (0 until 16).map { j =>
      val va = expr(s"instr('0123456789abcdef', substring($aCol, ${j + 1}, 1)) - 1")
      val vb = expr(s"instr('0123456789abcdef', substring($bCol, ${j + 1}, 1)) - 1")
      bit_count(va.bitwiseXOR(vb))
    }.reduce(_ + _)
}

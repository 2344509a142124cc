package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType, StringType}

/** The native text expressions (ShingleHashSet, SimHash64,
  * MinKFingerprint, WinnowSelect) must be value-identical to the
  * declarative Spark formulations they replaced — checked over a
  * randomized corpus that includes repeated shingles, duplicate words,
  * empty/short docs, multi-space runs, and unicode.
  */
class TextExprsSpec extends SparkSpec {

  private def corpus() = {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val vocab = Vector("the", "cat", "sat", "on", "a", "mat", "und", "naïve",
      "東京", "x1", "", "zz")
    val docs = (1L to 60L).map { id =>
      val nw = rnd.nextInt(30)
      val words = Seq.fill(nw)(vocab(rnd.nextInt(vocab.size)))
      (id, words.mkString(" "))
    } ++ Seq((100L, ""), (101L, "one two three four five one two three four five"),
      (102L, "a  b   c a  b"))
    docs.toDF("doc_id", "text")
  }

  test("ShingleHashSet == split+transform+xxhash64+array_distinct") {
    val docs = corpus()
    val n = 3
    val legacy = docs
      .select(col("doc_id"), split(col("text"), " ").as("w"))
      .filter(size(col("w")) >= n)
      .select(col("doc_id"),
        array_sort(array_distinct(transform(sequence(lit(1), size(col("w")) - (n - 1)),
          i => xxhash64(concat_ws(" ",
            (0 until n).map(k => element_at(col("w"), i + k)): _*))))).as("shs"))
    val native = docs
      .select(col("doc_id"),
        graft.functions.TextExprs.shingle_hash_set(col("text"), n).as("shs"))
      .filter(size(col("shs")) > 0)
    assert(legacy.exceptAll(native).isEmpty && native.exceptAll(legacy).isEmpty)
  }

  test("SimHash64 (unweighted + weighted) == 64-conditional-sum pipelines") {
    val docs = corpus().filter(col("text").isNotNull)
    def nib(hexCol: String, d: Int) =
      expr(s"instr('0123456789abcdef', substring($hexCol, ${d + 1}, 1)) - 1")
    def legacy(weighted: Boolean) = {
      val words =
        if (weighted)
          docs.select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
            .groupBy("doc_id", "word").agg(count(lit(1)).as("tf"))
        else
          docs.select(col("doc_id"),
              explode(array_distinct(split(col("text"), " "))).as("word"))
            .withColumn("tf", lit(1L))
      val wh = words.withColumn("wh", substring(md5(col("word")), 1, 16))
      val sums = (0 until 64).map { b =>
        val bit = (shiftright(nib("wh", b / 4), 3 - b % 4) bitwiseAND lit(1))
          .cast("int")
        sum((bit * 2 - 1) * col("tf")).as(s"s$b")
      }
      val bits = wh.groupBy("doc_id").agg(sums.head, sums.tail: _*)
      val nibbles = (0 until 16).map { j =>
        val v = (0 until 4).map { r =>
          when(col(s"s${j * 4 + r}") > 0, lit(1 << (3 - r))).otherwise(lit(0))
        }.reduce(_ + _)
        lit("0123456789abcdef").substr(v + 1, lit(1))
      }
      bits.select(col("doc_id"), concat(nibbles: _*).as("simhash"))
    }
    for (weighted <- Seq(false, true)) {
      val native = docs.select(col("doc_id"),
        graft.functions.TextExprs.simhash64(col("text"), weighted).as("simhash"))
      val l = legacy(weighted)
      assert(l.exceptAll(native).isEmpty && native.exceptAll(l).isEmpty,
        s"weighted=$weighted")
    }
  }

  test("MinKFingerprint == min_k_md5 aggregate over shingle rows") {
    val docs = corpus()
    val legacy = graft.ops.TextDedup.docShingleRows(docs, "doc_id", "text", 5)
      .groupBy("doc_id")
      .agg(array_join(
        graft.functions.MinKMd5Aggregate.min_k_md5(col("shingle"), 3), "").as("fp"))
    val native = docs.select(col("doc_id"),
        graft.functions.TextExprs.min_k_fingerprint(col("text"), 5, 3).as("fp"))
      .filter(col("fp").isNotNull)
    assert(legacy.exceptAll(native).isEmpty && native.exceptAll(legacy).isEmpty)
  }

  test("WinnowSelect == windowed string-MIN selection") {
    import org.apache.spark.sql.expressions.Window
    val (k, w) = (4, 8)
    val docs = corpus()
    val kg = docs
      .select(col("doc_id"), split(col("text"), " ").as("wd"))
      .filter(size(col("wd")) >= k)
      .select(col("doc_id"),
        explode(sequence(lit(1), size(col("wd")) - (k - 1))).as("i"),
        col("wd"))
      .select(col("doc_id"), col("i"),
        substring(md5(concat_ws(" ",
          (0 until k).map(j => element_at(col("wd"), col("i") + j)): _*)), 1, 16).as("h"))
    val win = Window.partitionBy("doc_id").orderBy("i").rowsBetween(-(w - 1), 0)
    val legacy = kg
      .withColumn("key",
        concat(col("h"), lpad((lit(99999999) - col("i")).cast(StringType), 8, "0")))
      .withColumn("sel", min("key").over(win))
      .filter(col("i") >= w)
      .groupBy("doc_id", "sel").agg(lit(1).as("__one"))
      .select(col("doc_id"),
        (lit(99999999L) - substring(col("sel"), 17, 8).cast(LongType)).as("pos"),
        substring(col("sel"), 1, 16).as("fp"))
    val native = docs
      .select(col("doc_id"),
        explode(graft.functions.TextExprs.winnow_select(col("text"), k, w)).as("s"))
      .select(col("doc_id"), col("s.pos").as("pos"), col("s.fp").as("fp"))
    assert(legacy.exceptAll(native).isEmpty && native.exceptAll(legacy).isEmpty)
  }

  test("TokenCounts == split-size + regexp_extract_all count") {
    val docs = corpus()
    val legacy = docs.select(col("doc_id"),
      size(split(col("text"), " ")).cast(LongType).as("ws"),
      size(regexp_extract_all(col("text"), lit("[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]"), lit(0)))
        .cast(LongType).as("re"))
    val tc = graft.functions.TextExprs.token_counts(col("text"))
    val native = docs.select(col("doc_id"),
      element_at(tc, 1).as("ws"), element_at(tc, 2).as("re"))
    assert(legacy.exceptAll(native).isEmpty && native.exceptAll(legacy).isEmpty)
  }

  test("MarkerCounts == per-set interpreted filter() counts") {
    val docs = corpus()
    val sets = graft.ops.TextAnalysis.markers.map(_._2)
    def inList(c: org.apache.spark.sql.Column, xs: Seq[String]) =
      xs.map(c === _).reduce(_ || _)
    val toks = split(col("text"), " ")
    val legacy = docs.select(Seq(col("doc_id")) ++
      sets.zipWithIndex.map { case (set, i) =>
        size(filter(toks, t => inList(t, set))).cast(LongType).as(s"c$i")
      } ++ Seq(
        size(filter(toks, t => inList(t, sets.flatten))).cast(LongType).as("stop"),
        size(toks).cast(LongType).as("ntok")): _*)
    val mc = graft.functions.TextExprs.marker_counts(col("text"), sets)
    val native = docs.select(Seq(col("doc_id")) ++
      sets.indices.map(i => element_at(mc, i + 1).as(s"c$i")) ++ Seq(
        element_at(mc, sets.size + 1).as("stop"),
        element_at(mc, sets.size + 2).as("ntok")): _*)
    assert(legacy.exceptAll(native).isEmpty && native.exceptAll(legacy).isEmpty)
  }

  test("WindowHashes == positional slice+md5-prefix pipeline") {
    val docs = corpus()
    for (n <- Seq(1, 3)) windowHashesCase(docs, n)
  }
  private def windowHashesCase(docs: org.apache.spark.sql.DataFrame, n: Int): Unit = {
    val wd = split(col("text"), " ")
    // declarative: positional n-gram, first 16 md5 hex chars
    val legacy = docs
      .select(col("doc_id"), wd.as("w"), size(wd).as("nw"))
      .filter(col("nw") >= n)
      .select(col("doc_id"), col("w"),
        explode(sequence(lit(1), col("nw") - (n - 1))).as("pos"))
      .select(col("doc_id"), col("pos").cast(LongType).as("pos"),
        substring(md5(concat_ws(" ",
          (0 until n).map(j => element_at(col("w"), col("pos") + j)): _*)), 1, 16).as("hx"))
    val native = docs
      .select(col("doc_id"),
        posexplode(graft.functions.TextExprs.window_hashes(col("text"), n))
          .as(Seq("p0", "h")))
      .select(col("doc_id"), (col("p0") + 1).cast(LongType).as("pos"),
        lpad(lower(hex(col("h"))), 16, "0").as("hx"))
    assert(legacy.exceptAll(native).isEmpty && native.exceptAll(legacy).isEmpty)
  }

  test("BucketWeightSum == interpreted per-token md5-bucket map lookup sum") {
    val docs = corpus()
    val rnd = new scala.util.Random(13)
    val weights = IndexedSeq.fill(256)(rnd.nextLong() % 1000000L)
    val wMap = typedLit((0 until 256).map(b => f"$b%02x" -> weights(b)).toMap)
    val toks = split(col("text"), " ")
    val legacy = docs.select(col("doc_id"),
      size(toks).cast(LongType).as("n_tokens"),
      aggregate(toks, lit(0L),
        (acc, t) => acc + element_at(wMap, substring(md5(t), 1, 2))).as("score"))
    val bs = graft.functions.TextExprs.bucket_weight_sum(col("text"), weights)
    val native = docs.select(col("doc_id"),
      bs.getField("n_tokens").as("n_tokens"), bs.getField("score").as("score"))
    assert(legacy.exceptAll(native).isEmpty && native.exceptAll(legacy).isEmpty)
  }

  test("NgramBucketWeightSum == exploded md5-3hex bucket join sum") {
    val docs = corpus()
    val rnd = new scala.util.Random(29)
    val weights = IndexedSeq.fill(4096)(rnd.nextLong() % 1000000L)
    val wMap = typedLit((0 until 4096).map(b => f"$b%03x" -> weights(b)).toMap)
    for (n <- Seq(1, 2, 3)) {
      val wd = split(col("text"), " ")
      val legacy = docs
        .select(col("doc_id"), wd.as("w"),
          greatest(size(wd) - (n - 1), lit(0)).cast(LongType).as("n_windows"))
        .withColumn("score", when(size(col("w")) < n, 0L).otherwise(aggregate(
          sequence(lit(1), size(col("w")) - (n - 1)),
          lit(0L),
          (acc, i) => acc + element_at(wMap, substring(md5(concat_ws(" ",
            (0 until n).map(j => element_at(col("w"), i + j)): _*)), 1, 3)))))
        .select(col("doc_id"), col("n_windows"), col("score"))
      val e = graft.functions.TextExprs.ngram_bucket_weight_sum(col("text"), n, weights)
      val native = docs.select(col("doc_id"),
        e.getField("n_windows").as("n_windows"), e.getField("score").as("score"))
      assert(legacy.exceptAll(native).isEmpty && native.exceptAll(legacy).isEmpty, s"n=$n")
    }
  }

  test("MinHashBandKeys induces the same candidate pairs as the declarative banding") {
    val docs = corpus()
    val (n, k, bands) = (3, 8, 4)
    // legacy: md5-seeded signature aggregate -> string band buckets -> join
    val sigs = graft.ops.TextDedup.minhashSignatures(
      graft.ops.TextDedup.docShingleRows(docs, "doc_id", "text", n), k)
    val legacy = graft.ops.TextDedup.lshCandidates(
      graft.ops.TextDedup.lshBuckets(sigs, bands, k / bands))
    // native: in-row band keys -> bucket grouping (band equality classes
    // are identical up to a 2^-64 key-hash collision)
    val native = docs
      .select(col("doc_id"),
        explode_outer(graft.functions.TextExprs
          .minhash_band_keys(col("text"), n, k, bands)).as("bucket"))
      .filter(col("bucket").isNotNull)
      .groupBy("bucket").agg(collect_set(col("doc_id")).as("ids"))
      .select(col("ids"), explode(col("ids")).as("id1"))
      .select(col("id1"), explode(col("ids")).as("id2"))
      .filter(col("id1") < col("id2"))
      .select("id1", "id2").distinct()
    assert(legacy.exceptAll(native).isEmpty && native.exceptAll(legacy).isEmpty)
  }

  test("PiiRedact == sequential regexp_replace + regexp_extract_all counts") {
    import spark.implicits._
    val docs = Seq(
      (1L, "mail me at a.b+c@ex-ample.org or x@y.io thanks"),
      (2L, "call +1 (555) 123-4567 or 08 123 456 789 now"),
      (3L, "ssn-ish 123456789012 and code 987654321"),
      (4L, "overlap: bob@site.com 123456789 +44 20 7946 0958"),
      (5L, ""), (6L, "no pii here at all")).toDF("doc_id", "text")
    val email = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
    val phone = "\\+?[0-9][0-9()\\- ]{7,}[0-9]"
    val idrun = "[0-9]{9,}"
    val t1 = regexp_replace(col("text"), email, "<EMAIL>")
    val t2 = regexp_replace(t1, idrun, "<ID>")
    val legacy = docs.select(col("doc_id"),
      regexp_replace(t2, phone, "<PHONE>").as("redacted"),
      size(regexp_extract_all(col("text"), lit(email), lit(0))).cast(LongType).as("n_emails"),
      size(regexp_extract_all(t1, lit(idrun), lit(0))).cast(LongType).as("n_ids"),
      size(regexp_extract_all(t2, lit(phone), lit(0))).cast(LongType).as("n_phones"))
    val native = graft.ops.TextAnalysis.redactPii(docs, "doc_id", "text")
    assert(legacy.exceptAll(native).isEmpty && native.exceptAll(legacy).isEmpty)
    // the <ID> stage must actually fire (it is unreachable when phones
    // run first — their pattern also matches bare 9+-digit runs)
    assert(native.filter(col("n_ids") > 0).count() > 0)
  }

  test("TopKScoredAggregate == row_number window over (score DESC, id ASC)") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val rnd = new scala.util.Random(11)
    // includes NaN / infinities / signed zeros: Spark's DESC sort ranks
    // NaN above +Inf and treats -0.0 == 0.0 — the aggregate must agree
    val specials = Array(Double.NaN, Double.PositiveInfinity,
      Double.NegativeInfinity, 0.0, -0.0)
    val rows = (1 to 2000).map { _ =>
      val s = if (rnd.nextInt(10) == 0) specials(rnd.nextInt(specials.length))
              else rnd.nextInt(50) / 10.0
      (rnd.nextInt(20).toLong, rnd.nextInt(5000).toLong, s)
    }.distinct
    val df = rows.toDF("g", "id", "score")
    val w = Window.partitionBy("g").orderBy(col("score").desc, col("id"))
    val legacy = df.withColumn("rnk", row_number().over(w)).filter(col("rnk") <= 5)
      .select(col("g"), col("id"), col("score"), col("rnk").cast("int").as("rnk"))
    val native = df.groupBy("g")
      .agg(graft.functions.TopKScoredAggregate.top_k_scored(col("id"), col("score"), 5).as("top"))
      .select(col("g"), posexplode(col("top")).as(Seq("i", "s")))
      .select(col("g"), col("s.id").as("id"), col("s.score").as("score"),
        (col("i") + 1).as("rnk"))
    assert(legacy.exceptAll(native).isEmpty && native.exceptAll(legacy).isEmpty)
  }

  test("duplicateGroups: union-find fast path == distributed label-propagation loop") {
    import spark.implicits._
    val rnd = new scala.util.Random(13)
    // random sparse graph incl. chains (multi-hop components)
    val pairs = ((1 to 120).map { _ =>
      val a = rnd.nextInt(60).toLong; val b = a + 1 + rnd.nextInt(8)
      (math.min(a, b), math.max(a, b))
    } ++ Seq((200L, 201L), (201L, 202L), (202L, 203L), (203L, 204L))) // chain
      .distinct.filter(p => p._1 != p._2)
    val df = pairs.toDF("id1", "id2")
    val fast = graft.ops.TextDedup.duplicateGroups(df)
      .orderBy("doc_id").collect().map(r => (r.getLong(0), r.getLong(1)))
    val loop = withScalePaths() {
      graft.ops.TextDedup.duplicateGroups(df)
        .orderBy("doc_id").collect().map(r => (r.getLong(0), r.getLong(1)))
    }
    assert(fast.sameElements(loop))
  }

  test("PHash64 == declarative md5-over-hex dHash pipeline") {
    val docs = corpus()
    // the oracle's formulation: digest once, 128 md5 calls via transform
    val legacy = docs.select(col("doc_id"),
      concat_ws("", transform(sequence(lit(0), lit(63)), p => {
        val dg = md5(lower(hex(col("text").cast("binary"))))
        def cell(i: org.apache.spark.sql.Column) =
          md5(concat(dg, lit(":"), i.cast("string")))
        val left = (p.cast("long") / 8).cast("long") * 9 + pmod(p, lit(8))
        when(cell(left) > cell(left + 1), "1").otherwise("0")
      })).as("ph"))
    val native = docs.select(col("doc_id"),
      graft.functions.TextExprs.phash64_bits(col("text").cast("binary")).as("ph"))
    assert(legacy.exceptAll(native).isEmpty && native.exceptAll(legacy).isEmpty)
  }

  test("BoundedDocSetAggregate caps per-key state and matches collect_set under the cap") {
    import spark.implicits._
    val rows = Seq(
      (1L, 10L, 3L), (1L, 11L, 4L), (1L, 10L, 3L), // key 1: 2 distinct
      (2L, 20L, 1L), (2L, 21L, 1L), (2L, 22L, 1L), (2L, 23L, 1L) // key 2: 4 > cap
    ).toDF("key", "id", "sz")
    val out = rows.groupBy("key")
      .agg(graft.functions.BoundedDocSetAggregate
        .bounded_doc_set(col("id"), col("sz"), 3).as("ids"))
      .select(col("key"), size(col("ids")).as("n"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(out(1L) == 2)
    assert(out(2L) == 4, "over-cap key keeps exactly cap+1 entries as proof") // 3+1
  }
}

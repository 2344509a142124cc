package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Distributed byte-pair-encoding TRAINER (Sennrich et al. 2016): learn
  * the first N merges of a BPE tokenizer from a corpus. The classic
  * two-phase shape every scalable tokenizer trainer uses:
  *
  *   1. ONE corpus-scale pass — word frequencies (map-side-combined
  *      groupBy, output is vocab-sized, localCheckpoint'd so no later
  *      round re-touches the corpus).
  *   2. N merge rounds over the VOCAB table only: count adjacent symbol
  *      pairs weighted by word frequency (one bounded-key shuffle over
  *      pair strings), pick the global argmax (a 1-row TakeOrdered
  *      collect — the learned merge itself, not data), and apply it to
  *      every vocab entry with a literal string replace.
  *
  * At 100 TB the corpus pass dominates and parallelizes perfectly; the
  * rounds cost N small vocab-sized jobs regardless of corpus size.
  *
  * Word → symbol-sequence representation is a space-delimited string
  * with sentinel spaces (' a b c '), so a merge is exactly
  * replace(seq, ' a b ', ' ab '): left-to-right non-overlapping
  * replacement — identical semantics in Spark's UTF8String.replace and
  * DuckDB's replace, which is what makes the unrolled SQL oracle
  * bit-exact (' a a a ' + merge (a,a) → ' aa a ' in both). Ties on
  * frequency break lexicographically on (lhs, rhs) for cross-engine
  * determinism. If the vocab merges to single symbols before N rounds,
  * training stops early — the oracle's empty-CTE cascade produces the
  * same truncated merge table.
  *
  * Output: (merge_rank, lhs, rhs, freq) — the ordered merge table a
  * tokenizer applies at encode time.
  */
object Bpe {

  def train(docs: DataFrame, textCol: String, merges: Int): DataFrame =
    trainState(docs, textCol, merges)._1

  /** `train` plus the trainer's OWN state: (merge table, the
    * checkpointed PRE-merge word-seq/frequency vocab v0). Callers that
    * also need the vocabulary (tx32/tx33) derive it from v0 via
    * `vocabOf` instead of paying a second corpus scan.
    */
  def trainState(docs: DataFrame, textCol: String, merges: Int): (DataFrame, DataFrame) = {
    require(merges >= 1 && merges <= 64, s"merges must be in [1,64], got $merges")
    val spark = docs.sparkSession
    // corpus pass → vocab (seq, wc); checkpoint truncates corpus lineage
    // so the N rounds below never re-read the input
    val vocab0 = docs
      .select(explode(split(col(textCol), " ")).as("word"))
      .filter(length(col("word")) > 0)
      .groupBy("word").agg(count(lit(1)).as("wc"))
      .select(concat(lit(" "), regexp_replace(col("word"), "(.)", "$1 ")).as("seq"),
        col("wc"))
      .localCheckpoint()

    // The merge rounds run over the VOCAB (≤ distinct words), orders of
    // magnitude smaller than the corpus: at bench-class corpora a
    // single partition turns every round's pair-count + argmax into ONE
    // exchange-free single-task stage (SinglePartition satisfies every
    // distribution) instead of 3 stages / 9 tasks of per-task floor.
    // Big corpora (vocabs worth distributing) keep the checkpoint's full
    // width — the threshold rides the corpus size, the same
    // input-proportional policy as the bench shuffle width.
    // N rounds stack N literal replace projections on the checkpointed
    // vocab — O(N²) tiny projections total, never a corpus re-read
    var vocab = if (ScalePath.smallEstimate(docs)) vocab0.coalesce(1) else vocab0
    val learned = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, Long)]
    var rank = 1
    var exhausted = false
    while (rank <= merges && !exhausted) {
      // argmax via a 1-row min-struct aggregate, not orderBy.limit(1):
      // TakeOrdered cancels straggler tasks whose late accumulator
      // updates spam the driver log with non-existent-accumulator
      // traces, and the grand aggregate skips the sort entirely
      // (min over (-freq, lhs, rhs) = highest freq, lexicographic
      // tie-break). Costs one extra 32-row exchange stage per round —
      // pure scheduling floor at test SFs, nothing at scale — for
      // clean driver logs and a sortless plan.
      val top = vocab
        .select(split(trim(col("seq")), " ").as("s"), col("wc"))
        .filter(size(col("s")) >= 2) // sequence(1,0) would run DESCENDING
        .select(col("s"), col("wc"),
          explode(sequence(lit(1), size(col("s")) - 1)).as("j"))
        .select(element_at(col("s"), col("j")).as("lhs"),
          element_at(col("s"), col("j") + 1).as("rhs"), col("wc"))
        .groupBy("lhs", "rhs").agg(sum("wc").as("freq"))
        .agg(min(struct((-col("freq")).as("nf"), col("lhs"), col("rhs"),
          col("freq"))).as("m"))
        .select(col("m.lhs"), col("m.rhs"), col("m.freq"))
        .filter(col("lhs").isNotNull) // empty pair table → min = null struct
        .collect()
      if (top.isEmpty) exhausted = true
      else {
        val (a, b, f) = (top(0).getString(0), top(0).getString(1), top(0).getLong(2))
        learned += ((rank, a, b, f))
        // Column-API replace with lit() arguments: merge symbols pass
        // through as raw values (no SQL-literal escaping), so tokens
        // containing quotes or backslashes cannot diverge from the
        // oracle's raw-string replace.
        vocab = vocab.withColumn("seq",
          call_function("replace", col("seq"), lit(s" $a $b "), lit(s" $a$b ")))
        rank += 1
      }
    }
    import spark.implicits._
    (learned.toSeq.toDF("merge_rank", "lhs", "rhs", "freq"), vocab0)
  }

  /** Apply a trained merge table to a corpus: the ENCODE half of the
    * tokenizer. Each document splits into whitespace words; each word
    * becomes the sentinel-space symbol string (' a b c ') and the merges
    * replay IN RANK ORDER with exactly the trainer's replace semantics
    * (left-to-right non-overlapping literal replace, one pass per merge)
    * — so encoding the training corpus reproduces the trainer's final
    * vocab representation bit-for-bit, and the unrolled SQL oracle stays
    * exact cross-engine.
    *
    * Output: (doc_id, tokens, n_tokens) — tokens is the space-joined
    * symbol string of the whole document, n_tokens its symbol count.
    *
    * 100 TB shape: the merge table is the MODEL (<= 64 rows by the
    * trainer's contract) — collected once and baked into the plan as
    * literals, so encoding is a zero-shuffle per-row projection that
    * scales linearly with the corpus and never moves data.
    */
  def encode(docs: DataFrame, textCol: String, idCol: String,
             mergeTable: DataFrame): DataFrame = {
    val m = mergeTable.select("merge_rank", "lhs", "rhs").collect()
      .sortBy(_.getInt(0)).map(r => (r.getString(1), r.getString(2))).toSeq
    encodeWith(docs, textCol, idCol, m)
  }

  /** The tokenizer's vocabulary: every base symbol (distinct characters
    * across the corpus's whitespace words) plus every merge-produced
    * symbol, with DENSE deterministic ids — single-character tokens
    * first, then multi-character, each tier in UTF-8 BYTE order (the
    * order Spark's UTF8String and DuckDB's binary collation both sort
    * strings by; java's UTF-16 `compareTo` disagrees on supplementary
    * characters, so the driver sorts raw bytes, never Strings).
    *
    * 100 TB shape: the distinct-characters pass is one corpus scan whose
    * output is bounded by the CHARSET (≤ the unicode space), collected
    * once — the vocabulary is the model, like the merge table itself.
    *
    * Output: (token, id), ids dense from 0.
    */
  def vocab(docs: DataFrame, textCol: String, mergeTable: DataFrame): DataFrame =
    // distinct WORDS first: the char explode then runs over the
    // vocabulary, not over every corpus occurrence — the same
    // corpus-scale-to-vocab-scale reduction the trainer's v0 pass makes
    vocabOf(docs.select(explode(split(col(textCol), " ")).as("word"))
      .filter(length(col("word")) > 0).distinct()
      .select(concat(lit(" "), regexp_replace(col("word"), "(.)", "$1 ")).as("seq")),
      mergeTable)

  /** `vocab` from the trainer's own pre-merge state (`trainState`'s v0,
    * or any (seq) frame of sentinel-spaced symbol strings): base symbols
    * are the distinct tokens of v0 — NO corpus re-scan. */
  def vocabOf(vocab0: DataFrame, mergeTable: DataFrame): DataFrame = {
    val spark = vocab0.sparkSession
    val merges = mergeTable.select("merge_rank", "lhs", "rhs").collect()
      .sortBy(_.getInt(0)).map(r => (r.getString(1), r.getString(2))).toSeq
    val base = vocab0
      .select(explode(split(trim(col("seq")), " ")).as("token"))
      .filter(length(col("token")) > 0)
      .distinct().collect().map(_.getString(0))
    val all = (base ++ merges.map { case (a, b) => a + b }).distinct
    val utf8Order: Ordering[String] = (x: String, y: String) => {
      val a = x.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      val b = y.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      var i = 0
      var r = 0
      while (r == 0 && i < a.length && i < b.length) {
        r = (a(i) & 0xff) - (b(i) & 0xff); i += 1
      }
      if (r != 0) r else a.length - b.length
    }
    val sorted = all.sortBy(t => (t.codePointCount(0, t.length) > 1, t))(
      Ordering.Tuple2(Ordering.Boolean, utf8Order))
    import spark.implicits._
    sorted.zipWithIndex.map { case (t, i) => (t, i.toLong) }.toSeq.toDF("token", "id")
  }

  /** Token-ID encoding: `encode` + a broadcast join against `vocab`,
    * reduced to per-document integer fingerprints so the mapping is
    * oracle-checkable without shipping every token row: `n_tokens`,
    * `id_sum` = Σ id, and `id_dot` = Σ id·position (1-based) — the
    * positional weighting pins token ORDER, not just the multiset.
    * Documents that encode to zero tokens are excluded.
    *
    * Shape note (measured at sf1, 10M tokens): a fully in-row variant —
    * the vocab baked as a map literal, ids via `transform` +
    * `aggregate` — is ~1.5 s SLOWER than this explode + broadcast-join
    * + groupBy, because Spark's higher-order-function lambdas evaluate
    * INTERPRETED while explode, BroadcastHashJoin, and partial
    * aggregation are all whole-stage-codegen'd. The join's shuffle is
    * O(#docs), not O(#tokens): explode preserves row locality, so the
    * map-side partial aggregate collapses each document to one row
    * before the exchange. Codegen'd-with-a-tiny-shuffle beats
    * interpreted-zero-shuffle here. */
  def encodeIds(docs: DataFrame, textCol: String, idCol: String,
                mergeTable: DataFrame): DataFrame =
    encodeIdsWith(docs, textCol, idCol, mergeTable,
      vocab(docs, textCol, mergeTable))

  /** `encodeIds` with the vocabulary already built (tx33 derives it from
    * the trainer's v0 state — one corpus scan fewer). */
  def encodeIdsWith(docs: DataFrame, textCol: String, idCol: String,
                    mergeTable: DataFrame, v: DataFrame): DataFrame = {
    val enc = encode(docs, textCol, idCol, mergeTable)
    enc.filter(col("tokens") =!= "")
      .select(col("doc_id"), posexplode(split(col("tokens"), " ")))
      .join(broadcast(v), col("col") === col("token"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        sum("id").as("id_sum"),
        sum(col("id") * (col("pos") + 1)).as("id_dot"))
  }

  /** `encode` with the merge list already on the driver (rank order).
    * The per-word tokenize + merge-replay runs as ONE native expression
    * (TextExprs.BpeEncodeDoc): the declarative per-word lambda spelling
    * (`transform` over split words, kept in test scope as OpsSpec's
    * equality pin) evaluates INTERPRETED per word per merge — the
    * tx31/tx33 hot path.
    */
  def encodeWith(docs: DataFrame, textCol: String, idCol: String,
                 merges: Seq[(String, String)]): DataFrame = {
    require(merges.size <= 64, s"merge table too large: ${merges.size} (model, not data)")
    docs.select(col(idCol).as("doc_id"),
        graft.functions.TextExprs.bpe_encode_doc(col(textCol), merges).as("tokens"))
      .withColumn("n_tokens",
        when(col("tokens") === "", lit(0L))
          .otherwise(size(split(col("tokens"), " ")).cast("long")))
  }
}

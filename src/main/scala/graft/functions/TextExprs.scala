package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftBridge
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression, UnsafeArrayData, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** Native per-document text-shingling expressions: the whole per-row
  * computation (tokenize → window → hash → dedup) runs as ONE tight JVM
  * loop over the string's UTF-8 bytes, where the equivalent declarative
  * pipeline (split + explode + concat_ws + xxhash64 + distinct) pays a
  * per-element expression-eval or a per-shingle row through an exchange.
  * Used by the dedup/fingerprint operators whose only consumer of the
  * intermediate shingle rows is an aggregation — fewer stages, zero
  * interpreted-lambda overhead.
  */
object TextExprs {

  /** 64-bit dHash-style perceptual hash of a BINARY payload as a 64-char
    * '0'/'1' bit string — the native twin of the declarative
    * md5-over-hex formulation mm6's oracle computes (TextExprsSpec
    * asserts bit-equality): luma of grid cell i (8 rows × 9 cols) is
    * md5(md5hex(lowercase-hex payload) || ':' || i), bit (r,c) =
    * luma(r,c) > luma(r,c+1) with hex-lexicographic order ==
    * unsigned-byte digest order. ONE payload hex+digest pass, then 72
    * constant-length digests with a REUSED MessageDigest — the
    * interpreted transform(sequence(0,63), …) tree this replaces paid
    * 128 full concat+md5 expression evals per row (measured 3.0 s vs
    * ~0.1 s for 50k docs).
    */
  case class PHash64(child: Expression)
    extends UnaryExpression with CodegenFallback with TotalKernel {

    override def dataType: DataType = StringType
    override def prettyName: String = "phash64"

    @transient private lazy val md = java.security.MessageDigest.getInstance("MD5")

    override protected def nullSafeEval(input: Any): Any = {
      val payload = input.asInstanceOf[Array[Byte]]
      // REAL decode path: payloads carrying an image magic (JPEG/PNG/GIF/
      // BMP — all invalid UTF-8 prefixes, so text payloads can never route
      // here) are decoded via javax.imageio, area-averaged onto the 9×8
      // luma grid and dHashed on actual brightness. Two re-encodings of
      // the SAME picture (different JPEG qualities, JPEG vs PNG) land
      // within small hamming distance — the perceptual property the stub
      // could not provide. Undecodable/bomb-guarded payloads fall through
      // to the md5-stub grid, which remains the oracle-exact contract for
      // non-image payloads (TextExprsSpec bit-equality).
      if (graft.ops.ImageDecode.isImage(payload)) {
        graft.ops.ImageDecode.dHashBits(payload) match {
          case Some(bits) => return UTF8String.fromBytes(bits)
          case None => // fall through to the byte-stub grid
        }
      }
      val hex = new Array[Byte](payload.length * 2)
      var i = 0
      while (i < payload.length) {
        val v = payload(i) & 0xff
        hex(i * 2) = PHash64.Hex(v >> 4)
        hex(i * 2 + 1) = PHash64.Hex(v & 0xf)
        i += 1
      }
      md.reset()
      md.update(hex)
      val dg = md.digest()
      // "<32 hex chars>:" — the shared prefix of every cell's hash input
      val prefix = new Array[Byte](33)
      i = 0
      while (i < 16) {
        val v = dg(i) & 0xff
        prefix(i * 2) = PHash64.Hex(v >> 4)
        prefix(i * 2 + 1) = PHash64.Hex(v & 0xf)
        i += 1
      }
      prefix(32) = ':'
      val cells = new Array[Array[Byte]](72)
      var c = 0
      while (c < 72) {
        md.reset()
        md.update(prefix)
        md.update(PHash64.CellSuffix(c))
        cells(c) = md.digest()
        c += 1
      }
      val bits = new Array[Byte](64)
      var p = 0
      while (p < 64) {
        val li = (p / 8) * 9 + (p % 8)
        bits(p) = if (PHash64.cmpU(cells(li), cells(li + 1)) > 0) '1' else '0'
        p += 1
      }
      UTF8String.fromBytes(bits)
    }

    override protected def withNewChildInternal(newChild: Expression): PHash64 =
      copy(child = newChild)
  }

  object PHash64 {
    private val Hex = "0123456789abcdef".getBytes(java.nio.charset.StandardCharsets.US_ASCII)
    private val CellSuffix: Array[Array[Byte]] = Array.tabulate(72)(i =>
      java.lang.Integer.toString(i).getBytes(java.nio.charset.StandardCharsets.US_ASCII))
    // unsigned byte-wise compare == lexicographic compare of the hex
    // spellings (what the declarative/oracle string compare does)
    private def cmpU(a: Array[Byte], b: Array[Byte]): Int = {
      var i = 0
      while (i < 16) {
        val d = (a(i) & 0xff) - (b(i) & 0xff)
        if (d != 0) return d
        i += 1
      }
      0
    }
  }

  /** Column API: 64-char dHash bit string of a binary payload column. */
  def phash64_bits(payload: Column): Column =
    GraftBridge.column(PHash64(GraftBridge.expression(payload)))

  /** Distinct xxhash64 (seed 42, Spark's xxhash64) values of the word
    * n-gram shingles of `text` (single-space tokenization). Hash input
    * bytes are exactly `concat_ws(" ", words i..i+n-1)`: because words
    * are the between-space byte runs, that join equals the original
    * text's byte range from word i's start to word i+n-1's end — so the
    * window is hashed in place, no substring materialization. Documents
    * with fewer than n words yield an empty array. Result order is
    * ascending (sort-based dedup), which downstream set consumers are
    * insensitive to.
    */
  case class ShingleHashSet(child: Expression, n: Int)
    extends UnaryExpression with CodegenFallback with TotalKernel {
    require(n >= 1, s"shingle width must be >= 1, got $n")

    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def prettyName: String = "shingle_hash_set"

    override protected def nullSafeEval(input: Any): Any = {
      val bytes = input.asInstanceOf[UTF8String].getBytes
      val starts = wordStarts(bytes)
      val nShingles = starts.length - 1 - (n - 1)
      if (bytes.length == 0 || nShingles <= 0)
        return UnsafeArrayData.fromPrimitiveArray(Array.emptyLongArray)
      val hashes = new Array[Long](nShingles)
      var i = 0
      while (i < nShingles) {
        val from = starts(i)
        val until = starts(i + n) - 1 // end of word i+n-1
        hashes(i) = XXH64.hashUnsafeBytes(
          bytes, Platform.BYTE_ARRAY_OFFSET + from, until - from, 42L)
        i += 1
      }
      java.util.Arrays.sort(hashes)
      var uniq = 1
      i = 1
      while (i < nShingles) { if (hashes(i) != hashes(i - 1)) uniq += 1; i += 1 }
      if (uniq == nShingles) return UnsafeArrayData.fromPrimitiveArray(hashes)
      val out = new Array[Long](uniq)
      out(0) = hashes(0)
      var o = 1
      i = 1
      while (i < nShingles) {
        if (hashes(i) != hashes(i - 1)) { out(o) = hashes(i); o += 1 }
        i += 1
      }
      UnsafeArrayData.fromPrimitiveArray(out)
    }

    override protected def withNewChildInternal(newChild: Expression): ShingleHashSet =
      copy(child = newChild)
  }

  /** Column API: distinct 64-bit shingle hashes of a text column. */
  def shingle_hash_set(text: Column, n: Int): Column =
    GraftBridge.column(ShingleHashSet(GraftBridge.expression(text), n))

  /** Whole-document BPE encode as ONE native pass — the compiled twin of
    * the declarative per-word lambda
    * `array_join(transform(filter(split(text,' '), len>0), w =>
    * trim(replace×N(' ' || regexp_replace(w,"(.)","$1 ")))) , ' ')`.
    * Higher-order-function lambdas evaluate INTERPRETED (one generic
    * expression-tree eval per word per replace — the tx31/tx33 hot
    * path); this runs the identical semantics in a tight JVM loop:
    *
    *  - words are the non-empty runs between single spaces (split ' ',
    *    limit -1, empties dropped);
    *  - char separation replicates Java regex "(.)" → "$1 ": one match
    *    per CODE POINT, line terminators (\n \r U+0085 U+2028 U+2029)
    *    are not matched by "." and pass through unseparated;
    *  - each merge is a literal left-to-right non-overlapping replace
    *    (Java String.replace == UTF8String.replace semantics);
    *  - the final trim strips SPACES only (SQL trim), matching the
    *    sentinel-space convention.
    *
    * OpsSpec pins bit-equality against the declarative spelling on
    * adversarial inputs; the DuckDB oracle replays the same chain.
    */
  case class BpeEncodeDoc(child: Expression, merges: Seq[(String, String)])
    extends UnaryExpression with CodegenFallback with TotalKernel {

    override def dataType: DataType = StringType
    override def prettyName: String = "bpe_encode_doc"

    @transient private lazy val pats: Array[(String, String)] =
      merges.map { case (a, b) => (s" $a $b ", s" $a$b ") }.toArray

    override protected def nullSafeEval(input: Any): Any = {
      val text = input.asInstanceOf[UTF8String].toString
      val out = new java.lang.StringBuilder(text.length * 2)
      var first = true
      var i = 0
      val n = text.length
      while (i <= n) {
        val j = text.indexOf(' ', i)
        val end = if (j < 0) n else j
        if (end > i) {
          if (!first) out.append(' ')
          out.append(encodeWord(text, i, end))
          first = false
        }
        i = if (j < 0) n + 1 else end + 1
      }
      UTF8String.fromString(out.toString)
    }

    private def isLineTerm(cp: Int): Boolean =
      cp == '\n' || cp == '\r' || cp == 0x85 || cp == 0x2028 || cp == 0x2029

    private def encodeWord(text: String, from: Int, until: Int): String = {
      val sb = new java.lang.StringBuilder((until - from) * 2 + 2)
      sb.append(' ')
      var i = from
      while (i < until) {
        val cp = text.codePointAt(i)
        val cc = Character.charCount(cp)
        sb.append(text, i, i + cc)
        if (!isLineTerm(cp)) sb.append(' ') // "." never matches line terminators
        i += cc
      }
      var s = sb.toString
      var m = 0
      while (m < pats.length) {
        s = s.replace(pats(m)._1, pats(m)._2)
        m += 1
      }
      // SQL trim semantics: strip 0x20 spaces only, both ends
      var b = 0
      var e = s.length
      while (b < e && s.charAt(b) == ' ') b += 1
      while (e > b && s.charAt(e - 1) == ' ') e -= 1
      s.substring(b, e)
    }

    override protected def withNewChildInternal(newChild: Expression): BpeEncodeDoc =
      copy(child = newChild)
  }

  /** Column API: native whole-document BPE encode over a merge list. */
  def bpe_encode_doc(text: Column, merges: Seq[(String, String)]): Column =
    GraftBridge.column(BpeEncodeDoc(GraftBridge.expression(text), merges))

  /** A byte range of a backing array usable as an exact hash key —
    * word-distinctness and term frequencies are computed on the raw
    * UTF-8 bytes (no String decode, so invalid sequences round-trip). */
  private final class ByteSlice(val bytes: Array[Byte], val from: Int, val len: Int) {
    override def hashCode(): Int = {
      var h = 1
      var i = from
      while (i < from + len) { h = 31 * h + bytes(i); i += 1 }
      h
    }
    override def equals(o: Any): Boolean = o match {
      case s: ByteSlice =>
        s.len == len && {
          var i = 0
          while (i < len) {
            if (bytes(from + i) != s.bytes(s.from + i)) return false
            i += 1
          }
          true
        }
      case _ => false
    }
  }

  /** Word start offsets of single-space-tokenized `bytes`, with a
    * sentinel start at len+1 (the "virtual space" after the last word):
    * word i spans [starts(i), starts(i+1) - 1). */
  private def wordStarts(bytes: Array[Byte]): Array[Int] = {
    val len = bytes.length
    var nWords = 1
    var j = 0
    while (j < len) { if (bytes(j) == ' ') nWords += 1; j += 1 }
    val starts = new Array[Int](nWords + 1)
    var w = 1
    j = 0
    while (j < len) { if (bytes(j) == ' ') { starts(w) = j + 1; w += 1 }; j += 1 }
    starts(nWords) = len + 1
    starts
  }

  private val hexChars = "0123456789abcdef".toCharArray

  /** 64-bit SimHash of the document as a 16-hex-char string — the whole
    * Charikar construction in one pass per row: tokenize, count distinct
    * words (term frequencies if `weighted`), vote ±weight per bit of each
    * word's md5-prefix hash, render the sign vector. Bit spec matches the
    * portable SQL formulation (word hash = first 16 hex chars of
    * md5(word); bit b = bit (3 - b%4) of hex digit b/4), so outputs are
    * bit-identical to the declarative pipeline and the DuckDB oracle.
    * Replaces an explode + 64 conditional-sum aggregate columns + one
    * doc-keyed exchange with a zero-shuffle projection.
    */
  case class SimHash64(child: Expression, weighted: Boolean)
    extends UnaryExpression with CodegenFallback with TotalKernel {

    override def dataType: DataType = StringType
    override def prettyName: String = if (weighted) "simhash64_weighted" else "simhash64"

    @transient private lazy val md = java.security.MessageDigest.getInstance("MD5")

    override protected def nullSafeEval(input: Any): Any = {
      val bytes = input.asInstanceOf[UTF8String].getBytes
      val starts = wordStarts(bytes)
      val nWords = starts.length - 1
      val counts = new java.util.HashMap[ByteSlice, Int]()
      var i = 0
      while (i < nWords) {
        val s = new ByteSlice(bytes, starts(i), starts(i + 1) - 1 - starts(i))
        counts.merge(s, 1, (a, b) => a + b)
        i += 1
      }
      val sums = new Array[Long](64)
      val it = counts.entrySet().iterator()
      while (it.hasNext) {
        val e = it.next()
        val s = e.getKey
        val weight = if (weighted) e.getValue.longValue() else 1L
        md.reset()
        md.update(s.bytes, s.from, s.len)
        val d = md.digest()
        var b = 0
        while (b < 64) {
          val nib = if ((b & 4) == 0) (d(b >> 3) >> 4) & 0xf else d(b >> 3) & 0xf
          sums(b) += (if (((nib >> (3 - (b & 3))) & 1) == 1) weight else -weight)
          b += 1
        }
      }
      val out = new Array[Char](16)
      var j = 0
      while (j < 16) {
        var v = 0
        var r = 0
        while (r < 4) { if (sums(4 * j + r) > 0) v |= 1 << (3 - r); r += 1 }
        out(j) = hexChars(v)
        j += 1
      }
      UTF8String.fromString(new String(out))
    }

    override protected def withNewChildInternal(newChild: Expression): SimHash64 =
      copy(child = newChild)
  }

  /** Column API: 64-bit SimHash (16 hex chars) of a text column. */
  def simhash64(text: Column, weighted: Boolean): Column =
    GraftBridge.column(SimHash64(GraftBridge.expression(text), weighted))

  /** Document fingerprint: concatenation of the `k` lexicographically
    * smallest DISTINCT md5 hex digests over the document's word n-gram
    * shingles — MinKMd5Aggregate's selection computed entirely inside the
    * row (shingle windows hashed in place over the text bytes, bounded
    * ≤k-digest buffer), so the fingerprint pass is a pure projection with
    * NO shuffle at all. NULL for documents with fewer than n words (the
    * aggregate formulation produced no group for those).
    */
  case class MinKFingerprint(child: Expression, n: Int, k: Int)
    extends UnaryExpression with CodegenFallback with TotalKernel {
    require(n >= 1 && k >= 1)

    override def dataType: DataType = StringType
    override def nullable: Boolean = true
    override def prettyName: String = "min_k_fingerprint"

    @transient private lazy val md = java.security.MessageDigest.getInstance("MD5")

    private def compareBytes(a: Array[Byte], b: Array[Byte]): Int = {
      var i = 0
      while (i < 16) {
        val c = (a(i) & 0xff) - (b(i) & 0xff)
        if (c != 0) return c
        i += 1
      }
      0
    }

    override protected def nullSafeEval(input: Any): Any = {
      val bytes = input.asInstanceOf[UTF8String].getBytes
      val starts = wordStarts(bytes)
      val nShingles = starts.length - 1 - (n - 1)
      if (nShingles <= 0) return null
      val buf = new java.util.ArrayList[Array[Byte]](k)
      var i = 0
      while (i < nShingles) {
        md.reset()
        md.update(bytes, starts(i), starts(i + n) - 1 - starts(i))
        val d = md.digest()
        // insert into the sorted ≤k buffer unless duplicate or too large
        var lo = 0
        var hi = buf.size()
        var dup = false
        while (lo < hi && !dup) {
          val mid = (lo + hi) >>> 1
          val c = compareBytes(d, buf.get(mid))
          if (c == 0) dup = true
          else if (c < 0) hi = mid
          else lo = mid + 1
        }
        if (!dup && lo < k) {
          buf.add(lo, d)
          if (buf.size() > k) buf.remove(k)
        }
        i += 1
      }
      val out = new Array[Char](32 * buf.size())
      var o = 0
      i = 0
      while (i < buf.size()) {
        val d = buf.get(i)
        var j = 0
        while (j < 16) {
          out(o) = hexChars((d(j) >> 4) & 0xf); o += 1
          out(o) = hexChars(d(j) & 0xf); o += 1
          j += 1
        }
        i += 1
      }
      UTF8String.fromString(new String(out))
    }

    override protected def withNewChildInternal(newChild: Expression): MinKFingerprint =
      copy(child = newChild)
  }

  /** Column API: min-k-md5 shingle fingerprint of a text column. */
  def min_k_fingerprint(text: Column, n: Int, k: Int): Column =
    GraftBridge.column(MinKFingerprint(GraftBridge.expression(text), n, k))

  /** Robust winnowing selection (Schleimer et al., SIGMOD'03) computed
    * per row in O(positions) with a monotonic deque: word k-gram hashes
    * (first 16 hex chars of md5, compared as unsigned 64-bit prefixes =
    * lexicographic hex order), every window of `w` consecutive k-grams
    * selects its minimum with rightmost-position tie-breaking, and the
    * result is the distinct selected (pos, fp) set, ascending by pos —
    * exactly the windowed string-MIN formulation
    * (min(h || lpad(99999999 - pos)) over ROWS -(w-1)..0, complete
    * windows only), but with NO doc-keyed sort/exchange and O(n) instead
    * of O(n·w) work. Documents with fewer than w+k-1 words (no complete
    * window) yield an empty array.
    */
  case class WinnowSelect(child: Expression, k: Int, w: Int)
    extends UnaryExpression with CodegenFallback with TotalKernel {
    require(k >= 1 && w >= 1)

    override def dataType: DataType = ArrayType(
      StructType(Seq(StructField("pos", LongType), StructField("fp", StringType))),
      containsNull = false)
    override def prettyName: String = "winnow_select"

    @transient private lazy val md = java.security.MessageDigest.getInstance("MD5")

    override protected def nullSafeEval(input: Any): Any = {
      val bytes = input.asInstanceOf[UTF8String].getBytes
      val starts = wordStarts(bytes)
      val nKg = starts.length - 1 - (k - 1)
      if (nKg < w) return new GenericArrayData(Array.empty[Any])
      // first 8 digest bytes as a big-endian u64: unsigned compare ==
      // lexicographic compare of the 16-hex rendering
      val h = new Array[Long](nKg + 1) // 1-based positions
      var i = 1
      while (i <= nKg) {
        md.reset()
        md.update(bytes, starts(i - 1), starts(i - 1 + k) - 1 - starts(i - 1))
        val d = md.digest()
        var v = 0L
        var j = 0
        while (j < 8) { v = (v << 8) | (d(j) & 0xffL); j += 1 }
        h(i) = v
        i += 1
      }
      // monotonic deque of candidate positions (increasing pos, strictly
      // increasing key): a newer equal-or-smaller hash displaces older
      // entries (rightmost tie-break)
      val deque = new Array[Int](nKg + 1)
      var head = 0
      var tail = 0 // exclusive
      val sel = new scala.collection.mutable.ArrayBuffer[Any]()
      var lastEmitted = 0
      i = 1
      while (i <= nKg) {
        while (tail > head && java.lang.Long.compareUnsigned(h(deque(tail - 1)), h(i)) >= 0)
          tail -= 1
        deque(tail) = i; tail += 1
        if (i >= w) {
          while (deque(head) <= i - w) head += 1
          val p = deque(head)
          if (p != lastEmitted) {
            val out = new Array[Char](16)
            var j = 0
            while (j < 16) {
              out(j) = hexChars(((h(p) >>> (60 - 4 * j)) & 0xf).toInt)
              j += 1
            }
            sel += new GenericInternalRow(
              Array[Any](p.toLong, UTF8String.fromString(new String(out))))
            lastEmitted = p
          }
        }
        i += 1
      }
      new GenericArrayData(sel.toArray)
    }

    override protected def withNewChildInternal(newChild: Expression): WinnowSelect =
      copy(child = newChild)
  }

  /** Column API: winnowing fingerprint selection of a text column. */
  def winnow_select(text: Column, k: Int, w: Int): Column =
    GraftBridge.column(WinnowSelect(GraftBridge.expression(text), k, w))

  /** ALL positional word n-gram hashes of a document, in position order
    * (element i = window starting at word i+1): first 8 md5 digest bytes
    * as a big-endian 64-bit value, so equality matches the 16-hex-char
    * md5 prefix any engine computes. The positional sibling of
    * ShingleHashSet (which dedups and sorts) — used where downstream
    * needs to know WHERE a window sits, e.g. repeated-span extraction.
    * Windows are hashed in place over the text bytes (the n-gram join
    * equals the original byte range); fewer than n words → empty array.
    */
  case class WindowHashes(child: Expression, n: Int)
    extends UnaryExpression with CodegenFallback with TotalKernel {
    require(n >= 1, s"window width must be >= 1, got $n")

    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def prettyName: String = "window_hashes"

    @transient private lazy val md = java.security.MessageDigest.getInstance("MD5")

    override protected def nullSafeEval(input: Any): Any = {
      val bytes = input.asInstanceOf[UTF8String].getBytes
      val starts = wordStarts(bytes)
      // NO empty-text special case: split('', ' ') is one empty token,
      // so n=1 over '' has one window (md5('')) — exactly what the
      // declarative positional-slice formulation and the sibling
      // NgramBucketWeightSum produce
      val nWindows = starts.length - 1 - (n - 1)
      if (nWindows <= 0)
        return UnsafeArrayData.fromPrimitiveArray(Array.emptyLongArray)
      val out = new Array[Long](nWindows)
      var i = 0
      while (i < nWindows) {
        md.reset()
        md.update(bytes, starts(i), starts(i + n) - 1 - starts(i))
        val d = md.digest()
        var v = 0L
        var j = 0
        while (j < 8) { v = (v << 8) | (d(j) & 0xffL); j += 1 }
        out(i) = v
        i += 1
      }
      UnsafeArrayData.fromPrimitiveArray(out)
    }

    override protected def withNewChildInternal(newChild: Expression): WindowHashes =
      copy(child = newChild)
  }

  /** Column API: positional md5-prefix hashes of every word n-gram. */
  def window_hashes(text: Column, n: Int): Column =
    GraftBridge.column(WindowHashes(GraftBridge.expression(text), n))

  /** Per-language marker-word hit counts in one tokenization pass:
    * output is [count(set_0), ..., count(set_{m-1}), count(any set),
    * n_tokens] as ARRAY<BIGINT>. Tokens are the single-space splits
    * (empty tokens included, exactly like split(text, ' ')); membership
    * is exact byte equality. Replaces m interpreted
    * size(filter(tokens, λ)) higher-order passes — the language-ID and
    * quality operators become single codegen-friendly projections.
    */
  case class MarkerCounts(child: Expression, markerSets: Seq[Seq[String]])
    extends UnaryExpression with CodegenFallback with TotalKernel {
    // membership packs into an Int bitmask (1 << i) below
    require(markerSets.size <= 32,
      s"marker_counts supports at most 32 marker sets, got ${markerSets.size}")

    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def prettyName: String = "marker_counts"

    // word → bitmask of the marker sets containing it
    @transient private lazy val masks: java.util.HashMap[ByteSlice, java.lang.Integer] = {
      val m = new java.util.HashMap[ByteSlice, java.lang.Integer]()
      markerSets.zipWithIndex.foreach { case (set, i) =>
        set.foreach { word =>
          val b = word.getBytes(java.nio.charset.StandardCharsets.UTF_8)
          val s = new ByteSlice(b, 0, b.length)
          m.merge(s, Int.box(1 << i), (a, x) => Int.box(a.intValue() | x.intValue()))
        }
      }
      m
    }

    override protected def nullSafeEval(input: Any): Any = {
      val bytes = input.asInstanceOf[UTF8String].getBytes
      val starts = wordStarts(bytes)
      val nWords = starts.length - 1
      val counts = new Array[Long](markerSets.size + 2)
      counts(markerSets.size + 1) = nWords
      var i = 0
      while (i < nWords) {
        val mask = masks.get(new ByteSlice(bytes, starts(i), starts(i + 1) - 1 - starts(i)))
        if (mask != null) {
          val m = mask.intValue()
          var s = 0
          while (s < markerSets.size) {
            if (((m >> s) & 1) == 1) counts(s) += 1
            s += 1
          }
          counts(markerSets.size) += 1
        }
        i += 1
      }
      UnsafeArrayData.fromPrimitiveArray(counts)
    }

    override protected def withNewChildInternal(newChild: Expression): MarkerCounts =
      copy(child = newChild)
  }

  /** Column API: marker-set hit counts + any-marker count + token count. */
  def marker_counts(text: Column, markerSets: Seq[Seq[String]]): Column =
    GraftBridge.column(MarkerCounts(GraftBridge.expression(text), markerSets))

  /** Per-document hashed-bucket weight sum in one tokenization pass:
    * each single-space token's md5 leading byte picks one of 256
    * plan-baked weights, summed exactly in Int64 — the scoring half of
    * DSIR-style importance weighting as a zero-shuffle projection.
    * Output is struct(n_tokens BIGINT, score BIGINT). The bucket id
    * (digest byte 0, 0..255) equals the first two md5 hex chars, so the
    * weights line up 1:1 with the declarative
    * element_at(map, substring(md5(tok), 1, 2)) formulation — which runs
    * every token through an interpreted lambda + map probe, where this
    * loop is one digest and one array index. Weights are an IndexedSeq
    * so expression equality stays structural (CSE/exchange reuse).
    */
  case class BucketWeightSum(child: Expression, weights: IndexedSeq[Long])
    extends UnaryExpression with CodegenFallback with TotalKernel {
    require(weights.length == 256, s"need 256 bucket weights, got ${weights.length}")

    override def dataType: DataType = StructType(Seq(
      StructField("n_tokens", LongType, nullable = false),
      StructField("score", LongType, nullable = false)))
    override def prettyName: String = "bucket_weight_sum"

    @transient private lazy val md = java.security.MessageDigest.getInstance("MD5")
    @transient private lazy val wArr: Array[Long] = weights.toArray

    override protected def nullSafeEval(input: Any): Any = {
      val bytes = input.asInstanceOf[UTF8String].getBytes
      val starts = wordStarts(bytes)
      val nWords = starts.length - 1
      var score = 0L
      var i = 0
      while (i < nWords) {
        md.reset()
        md.update(bytes, starts(i), starts(i + 1) - 1 - starts(i))
        score += wArr(md.digest()(0) & 0xff)
        i += 1
      }
      new GenericInternalRow(Array[Any](nWords.toLong, score))
    }

    override protected def withNewChildInternal(newChild: Expression): BucketWeightSum =
      copy(child = newChild)
  }

  /** Column API: struct(n_tokens, score) of md5-bucketed weight sums. */
  def bucket_weight_sum(text: Column, weights: IndexedSeq[Long]): Column =
    GraftBridge.column(BucketWeightSum(GraftBridge.expression(text), weights))

  /** Word n-gram generalization of BucketWeightSum: every n-gram window
    * (the in-place byte ranges WindowHashes uses) hashes into one of 4096
    * buckets — the first THREE md5 hex chars, i.e. the digest's top 12
    * bits — and the plan-baked bucket weights are summed exactly in
    * Int64. Output struct(n_windows BIGINT, score BIGINT); documents
    * with fewer than n words score 0 over 0 windows. The scoring half of
    * hashed n-gram language models (perplexity-style quality filters) as
    * a zero-shuffle projection.
    */
  case class NgramBucketWeightSum(child: Expression, n: Int, weights: IndexedSeq[Long])
    extends UnaryExpression with CodegenFallback with TotalKernel {
    require(n >= 1, s"n-gram width must be >= 1, got $n")
    require(weights.length == 4096, s"need 4096 bucket weights, got ${weights.length}")

    override def dataType: DataType = StructType(Seq(
      StructField("n_windows", LongType, nullable = false),
      StructField("score", LongType, nullable = false)))
    override def prettyName: String = "ngram_bucket_weight_sum"

    @transient private lazy val md = java.security.MessageDigest.getInstance("MD5")
    @transient private lazy val wArr: Array[Long] = weights.toArray

    override protected def nullSafeEval(input: Any): Any = {
      val bytes = input.asInstanceOf[UTF8String].getBytes
      val starts = wordStarts(bytes)
      val nWindows = math.max(starts.length - 1 - (n - 1), 0)
      var score = 0L
      var i = 0
      while (i < nWindows) {
        md.reset()
        md.update(bytes, starts(i), starts(i + n) - 1 - starts(i))
        val d = md.digest()
        score += wArr(((d(0) & 0xff) << 4) | ((d(1) & 0xff) >>> 4))
        i += 1
      }
      new GenericInternalRow(Array[Any](nWindows.toLong, score))
    }

    override protected def withNewChildInternal(newChild: Expression): NgramBucketWeightSum =
      copy(child = newChild)
  }

  /** Column API: struct(n_windows, score) of n-gram bucket weight sums. */
  def ngram_bucket_weight_sum(text: Column, n: Int, weights: IndexedSeq[Long]): Column =
    GraftBridge.column(NgramBucketWeightSum(GraftBridge.expression(text), n, weights))

  /** MinHash-LSH band bucket keys of a document, computed entirely inside
    * the row: distinct word n-gram shingles (64-bit-hash dedup, the
    * pipeline's standard 2^-64 collision trade), k minhashes
    * h_j = MIN over shingles of the first 8 md5("j:" || shingle) digest
    * bytes as an unsigned 64-bit value (== lexicographic MIN of the
    * 16-hex-char prefix), then one 64-bit key per band hashing the band
    * index with its rowsPerBand signature values. Documents with no
    * shingle evaluate to NULL (the aggregate formulation produced no
    * group). Band-key equality is equivalent to band equality up to a
    * 2^-64 hash collision, and candidates are exact-Jaccard-verified
    * downstream, so the declared pair output is unchanged.
    */
  case class MinHashBandKeys(child: Expression, n: Int, k: Int, bands: Int)
    extends UnaryExpression with CodegenFallback with TotalKernel {
    require(n >= 1 && k >= 1 && bands >= 1 && k % bands == 0,
      s"k ($k) must be a multiple of bands ($bands)")
    private val rowsPerBand = k / bands

    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def nullable: Boolean = true
    override def prettyName: String = "minhash_band_keys"

    @transient private lazy val md = java.security.MessageDigest.getInstance("MD5")
    @transient private lazy val seedPrefixes: Array[Array[Byte]] =
      Array.tabulate(k)(j => s"$j:".getBytes(java.nio.charset.StandardCharsets.UTF_8))

    override protected def nullSafeEval(input: Any): Any = {
      val bytes = input.asInstanceOf[UTF8String].getBytes
      val starts = wordStarts(bytes)
      val nShingles = starts.length - 1 - (n - 1)
      if (bytes.length == 0 || nShingles <= 0) return null
      val seen = new java.util.HashSet[java.lang.Long]()
      val mins = new Array[Long](k)
      java.util.Arrays.fill(mins, -1L) // unsigned max
      var i = 0
      while (i < nShingles) {
        val from = starts(i)
        val len = starts(i + n) - 1 - from
        val h = XXH64.hashUnsafeBytes(bytes, Platform.BYTE_ARRAY_OFFSET + from, len, 42L)
        if (seen.add(h)) {
          var j = 0
          while (j < k) {
            md.reset()
            md.update(seedPrefixes(j))
            md.update(bytes, from, len)
            val d = md.digest()
            var v = 0L
            var b = 0
            while (b < 8) { v = (v << 8) | (d(b) & 0xffL); b += 1 }
            if (java.lang.Long.compareUnsigned(v, mins(j)) < 0) mins(j) = v
            j += 1
          }
        }
        i += 1
      }
      val keys = new Array[Long](bands)
      var b = 0
      while (b < bands) {
        var h = XXH64.hashLong(b.toLong, 42L)
        var r = 0
        while (r < rowsPerBand) { h = XXH64.hashLong(mins(b * rowsPerBand + r), h); r += 1 }
        keys(b) = h
        b += 1
      }
      UnsafeArrayData.fromPrimitiveArray(keys)
    }

    override protected def withNewChildInternal(newChild: Expression): MinHashBandKeys =
      copy(child = newChild)
  }

  /** Column API: LSH band bucket keys (`bands` longs) of a text column. */
  def minhash_band_keys(text: Column, n: Int, k: Int, bands: Int): Column =
    GraftBridge.column(MinHashBandKeys(GraftBridge.expression(text), n, k, bands))

  /** The raw k-seed minhash signature of a text's word n-gram shingle set,
    * computed entirely in-row (MinHashBandKeys without the banding step):
    * element j = the unsigned-min seeded md5 of the doc's shingles,
    * rendered as the 16-hex-char prefix so a lexicographic `min(...)`
    * aggregate over docs composes it into a group-level signature (min of
    * mins == min over the union of the shingle sets — the property
    * dd13's per-source signature relies on, and exactly the SQL
    * `MIN(substr(md5(j||':'||shingle), 1, 16))` an oracle computes).
    * NULL for shingle-less docs.
    */
  case class MinHashSigHex(child: Expression, n: Int, k: Int)
    extends UnaryExpression with CodegenFallback with TotalKernel {
    require(n >= 1 && k >= 1, s"need n >= 1 and k >= 1, got n=$n k=$k")

    override def dataType: DataType = ArrayType(StringType, containsNull = false)
    override def nullable: Boolean = true
    override def prettyName: String = "minhash_sig_hex"

    @transient private lazy val md = java.security.MessageDigest.getInstance("MD5")
    @transient private lazy val seedPrefixes: Array[Array[Byte]] =
      Array.tabulate(k)(j => s"$j:".getBytes(java.nio.charset.StandardCharsets.UTF_8))
    private val hexChars = "0123456789abcdef".toCharArray

    override protected def nullSafeEval(input: Any): Any = {
      val bytes = input.asInstanceOf[UTF8String].getBytes
      val starts = wordStarts(bytes)
      val nShingles = starts.length - 1 - (n - 1)
      if (bytes.length == 0 || nShingles <= 0) return null
      val seen = new java.util.HashSet[java.lang.Long]()
      val mins = new Array[Long](k)
      java.util.Arrays.fill(mins, -1L) // unsigned max
      var i = 0
      while (i < nShingles) {
        val from = starts(i)
        val len = starts(i + n) - 1 - from
        val h = XXH64.hashUnsafeBytes(bytes, Platform.BYTE_ARRAY_OFFSET + from, len, 42L)
        if (seen.add(h)) {
          var j = 0
          while (j < k) {
            md.reset()
            md.update(seedPrefixes(j))
            md.update(bytes, from, len)
            val d = md.digest()
            var v = 0L
            var b = 0
            while (b < 8) { v = (v << 8) | (d(b) & 0xffL); b += 1 }
            if (java.lang.Long.compareUnsigned(v, mins(j)) < 0) mins(j) = v
            j += 1
          }
        }
        i += 1
      }
      new org.apache.spark.sql.catalyst.util.GenericArrayData(
        Array.tabulate[Any](k) { j =>
          val h = mins(j)
          val out = new Array[Char](16)
          var i2 = 0
          while (i2 < 16) { out(i2) = hexChars(((h >>> ((15 - i2) * 4)) & 0xf).toInt); i2 += 1 }
          UTF8String.fromString(new String(out))
        })
    }

    override protected def withNewChildInternal(newChild: Expression): MinHashSigHex =
      copy(child = newChild)
  }

  /** Column API: raw k-seed minhash signature (16-hex-char mins) of a
    * text column's word n-gram shingle set. */
  def minhash_sig_hex(text: Column, n: Int, k: Int): Column =
    GraftBridge.column(MinHashSigHex(GraftBridge.expression(text), n, k))

  /** Whitespace and BPE-ish token counts in one byte scan:
    * [ws_tokens, re_tokens] where ws_tokens = single-space split count and
    * re_tokens counts the regex segmentation
    * `[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]` — letter runs, digit runs, and one
    * token per remaining code point (UTF-8 lead bytes start a code point;
    * both Java regex and RE2 match char classes per code point, so the
    * byte scan is value-identical on valid UTF-8 input). Replaces a
    * regexp_extract_all that materializes every token just to count them.
    */
  case class TokenCounts(child: Expression)
    extends UnaryExpression with CodegenFallback with TotalKernel {

    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def prettyName: String = "token_counts"

    override protected def nullSafeEval(input: Any): Any = {
      val bytes = input.asInstanceOf[UTF8String].getBytes
      var ws = 1L
      var re = 0L
      var state = 0 // 0 none, 1 letter run, 2 digit run
      var i = 0
      while (i < bytes.length) {
        val b = bytes(i)
        if (b == ' ') { ws += 1; state = 0 }
        else if ((b >= 'a' && b <= 'z') || (b >= 'A' && b <= 'Z')) {
          if (state != 1) { re += 1; state = 1 }
        } else if (b >= '0' && b <= '9') {
          if (state != 2) { re += 1; state = 2 }
        } else if ((b & 0xc0) != 0x80) { // ASCII other / non-ASCII lead byte
          re += 1; state = 0
        }
        i += 1
      }
      UnsafeArrayData.fromPrimitiveArray(Array(ws, re))
    }

    override protected def withNewChildInternal(newChild: Expression): TokenCounts =
      copy(child = newChild)
  }

  /** Column API: [whitespace tokens, regex tokens] of a text column. */
  def token_counts(text: Column): Column =
    GraftBridge.column(TokenCounts(GraftBridge.expression(text)))

  /** PII redaction in one matcher pass per pattern: each pattern's count
    * AND replacement come from the same scan (vs regexp_replace +
    * regexp_extract_all doing two), patterns applied in fixed order so
    * later ones run over the previous replacement: emails, then long
    * BARE digit runs (ids), then phone-shaped runs — ids before phones,
    * because the phone pattern also matches any 9+-digit run and would
    * otherwise make the id stage unreachable. Same java-regex semantics
    * as the equivalent declarative chain. Output:
    * struct(redacted, n_emails, n_ids, n_phones).
    */
  case class PiiRedact(child: Expression)
    extends UnaryExpression with CodegenFallback with TotalKernel {

    override def dataType: DataType = StructType(Seq(
      StructField("redacted", StringType),
      StructField("n_emails", LongType),
      StructField("n_ids", LongType),
      StructField("n_phones", LongType)))
    override def prettyName: String = "pii_redact"

    @transient private lazy val patterns = Array(
      java.util.regex.Pattern.compile("[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}") -> "<EMAIL>",
      java.util.regex.Pattern.compile("[0-9]{9,}") -> "<ID>",
      java.util.regex.Pattern.compile("\\+?[0-9][0-9()\\- ]{7,}[0-9]") -> "<PHONE>")

    override protected def nullSafeEval(input: Any): Any = {
      var text: String = input.asInstanceOf[UTF8String].toString
      val counts = new Array[Long](patterns.length)
      var p = 0
      while (p < patterns.length) {
        val (pat, repl) = patterns(p)
        val m = pat.matcher(text)
        if (m.find()) {
          val sb = new java.lang.StringBuilder(text.length)
          var n = 0L
          do { n += 1; m.appendReplacement(sb, repl) } while (m.find())
          m.appendTail(sb)
          text = sb.toString
          counts(p) = n
        }
        p += 1
      }
      new GenericInternalRow(Array[Any](
        UTF8String.fromString(text), counts(0), counts(1), counts(2)))
    }

    override protected def withNewChildInternal(newChild: Expression): PiiRedact =
      copy(child = newChild)
  }

  /** Column API: struct(redacted, n_emails, n_ids, n_phones). */
  def pii_redact(text: Column): Column =
    GraftBridge.column(PiiRedact(GraftBridge.expression(text)))

  private def litInt(e: Expression, fn: String, arg: String): Int = {
    require(e.foldable, s"$fn: $arg must be a literal integer")
    e.eval() match {
      case i: Int => i
      case l: Long => l.toInt
      case s: Short => s.toInt
      case b: Byte => b.toInt
      case other => throw new IllegalArgumentException(
        s"$fn: $arg must be a literal integer, got $other")
    }
  }

  /** SQL builders for the engine text functions, shared by
    * GraftContext's function registry and the GraftExtensions
    * injectFunction hook — so `SELECT simhash64(text) ...` works over the
    * HTTP/pg frontends and in plain spark-sql sessions alike. Integer
    * parameters must be literals (they are baked into the expression).
    */
  def sqlBuilders: Seq[(String, Seq[Expression] => Expression)] = {
    import org.apache.spark.sql.catalyst.expressions.Cast
    def str(e: Expression) =
      if (e.dataType == StringType) e else Cast(e, StringType)
    def lng(e: Expression) =
      if (e.dataType == LongType) e else Cast(e, LongType)
    def dbl(e: Expression) =
      if (e.dataType == DoubleType) e else Cast(e, DoubleType)
    // arity-checked so a mis-called SQL function surfaces as an analysis
    // error naming the signature, not an IndexOutOfBoundsException
    def sig(name: String, usage: String, n: Int)(
        build: Seq[Expression] => Expression): (String, Seq[Expression] => Expression) =
      name -> { es =>
        if (es.length != n) throw new IllegalArgumentException(
          s"$name expects $n argument(s): $usage; got ${es.length}")
        build(es)
      }
    Seq(
      sig("shingle_hash_set", "(text, n)", 2)(es =>
        ShingleHashSet(str(es(0)), litInt(es(1), "shingle_hash_set", "n"))),
      sig("window_hashes", "(text, n)", 2)(es =>
        WindowHashes(str(es(0)), litInt(es(1), "window_hashes", "n"))),
      sig("simhash64", "(text)", 1)(es => SimHash64(str(es(0)), weighted = false)),
      sig("simhash64_weighted", "(text)", 1)(es => SimHash64(str(es(0)), weighted = true)),
      sig("min_k_fingerprint", "(text, n, k)", 3)(es => MinKFingerprint(str(es(0)),
        litInt(es(1), "min_k_fingerprint", "n"), litInt(es(2), "min_k_fingerprint", "k"))),
      sig("winnow_select", "(text, k, w)", 3)(es => WinnowSelect(str(es(0)),
        litInt(es(1), "winnow_select", "k"), litInt(es(2), "winnow_select", "w"))),
      sig("token_counts", "(text)", 1)(es => TokenCounts(str(es(0)))),
      sig("pii_redact", "(text)", 1)(es => PiiRedact(str(es(0)))),
      sig("minhash_band_keys", "(text, n, k, bands)", 4)(es => MinHashBandKeys(str(es(0)),
        litInt(es(1), "minhash_band_keys", "n"), litInt(es(2), "minhash_band_keys", "k"),
        litInt(es(3), "minhash_band_keys", "bands"))),
      sig("minhash_sig_hex", "(text, n, k)", 3)(es => MinHashSigHex(str(es(0)),
        litInt(es(1), "minhash_sig_hex", "n"), litInt(es(2), "minhash_sig_hex", "k"))),
      sig("top_k_scored", "(id, score, k)", 3)(es => TopKScoredAggregate(lng(es(0)), dbl(es(1)),
        litInt(es(2), "top_k_scored", "k")).toAggregateExpression()),
      sig("bounded_doc_set", "(key, doc_id, cap)", 3)(es => BoundedDocSetAggregate(lng(es(0)), lng(es(1)),
        litInt(es(2), "bounded_doc_set", "cap")).toAggregateExpression()))
  }
}

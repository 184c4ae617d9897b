package graft.functions

import graft.functions.GraftFunction._
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, IntegerType, LongType}
import org.apache.spark.unsafe.types.UTF8String

import java.nio.charset.StandardCharsets
import java.security.MessageDigest

/** Native Catalyst expressions for the hashing-heavy dedup operators.
  *
  * The expression-composition versions (nested transform/aggregate over
  * md5) are semantically identical but evaluate through Spark's interpreted
  * higher-order-function path — ~12 md5 calls per shingle for a 12-hash
  * signature. These single-pass native expressions compute one md5 per
  * shingle/token and derive the hash family with integer arithmetic,
  * participate in whole-stage codegen (doGenCode emits a static call), and
  * keep the operators shuffle-free. ~20-40x faster at corpus scale, same
  * results (the DuckDB oracle replays the identical arithmetic in SQL).
  */
object HashSupport {
  val P: Long = 2147483647L // 2^31-1; a*h+b stays < 2^47, no overflow

  private val digests = ThreadLocal.withInitial[MessageDigest](() => MessageDigest.getInstance("MD5"))
  private val HEX = "0123456789abcdef".toCharArray

  def md5Hex(s: String): String = {
    val d = digests.get()
    d.reset()
    val bytes = d.digest(s.getBytes(StandardCharsets.UTF_8))
    val out = new Array[Char](32)
    var i = 0
    while (i < 16) {
      out(2 * i) = HEX((bytes(i) >> 4) & 0xf)
      out(2 * i + 1) = HEX(bytes(i) & 0xf)
      i += 1
    }
    new String(out)
  }

  /** First 15 hex chars of md5 as a positive long, reduced mod P —
    * identical to DuckDB `('0x' || substr(md5(s),1,15))::BIGINT % P`.
    */
  def md5Long(s: String): Long =
    java.lang.Long.parseLong(md5Hex(s).substring(0, 15), 16) % P

  /** MinHash signature over character k-shingles: element j is
    * min over shingles of (a_j * md5Long(shingle) + b_j) mod P.
    */
  def minhash(text: String, k: Int, a: Array[Long], b: Array[Long]): Array[Long] = {
    // shingle over CODE POINTS, not UTF-16 units (the winnowing rule, and
    // what DuckDB's substr replays): a unit-based substring splits
    // surrogate pairs, and the lone halves encode as '?' — two DIFFERENT
    // astral characters then alias to identical boundary shingles,
    // inflating similarity for any non-BMP text. BMP text is bit-identical
    // under either walk.
    val cps = text.codePoints().toArray
    val n = a.length
    val mins = Array.fill(n)(Long.MaxValue)
    val last = math.max(cps.length - k, 0)
    var off = 0
    while (off <= last) {
      val end = math.min(off + k, cps.length)
      val h = md5Long(new String(cps, off, end - off))
      var j = 0
      while (j < n) {
        val v = (a(j) * h + b(j)) % P
        if (v < mins(j)) mins(j) = v
        j += 1
      }
      off += 1
    }
    mins
  }

  /** 32-bit SimHash over lowercase whitespace tokens; bit i (MSB-first of
    * the low 32 bits) is set when the +-1 votes from each token's md5 hex
    * digit high-bits sum positive. Matches the SQL formulation exactly.
    */
  def simhash32(text: String): Long = {
    val votes = new Array[Int](32)
    val tokens = text.toLowerCase(java.util.Locale.ROOT).split("\\s+", -1)
    var t = 0
    while (t < tokens.length) {
      val hex = md5Hex(tokens(t))
      var i = 0
      while (i < 32) {
        // hex alphabet is 0-9a-f, so c >= '8' <=> high bit of the nibble
        if (hex.charAt(i) >= '8') votes(i) += 1 else votes(i) -= 1
        i += 1
      }
      t += 1
    }
    var out = 0L
    var i = 0
    while (i < 32) {
      if (votes(i) > 0) out |= 1L << (31 - i)
      i += 1
    }
    out
  }

  /** Winnowing fingerprints (Schleimer, Wilkerson & Aiken, "Winnowing:
    * local algorithms for document fingerprinting", SIGMOD 2003): k-gram
    * Rabin-Karp rolling hashes over the code points of `text`, then the
    * minimum of each w-hash sliding window (monotonic-deque, O(n) total —
    * not O(n·w)), distinct and sorted. Guarantee: any shared substring of
    * length >= w + k - 1 between two documents yields at least one shared
    * fingerprint. Arithmetic is term-wise `(cp · B^j mod M)` summed mod M
    * so the SQL oracle can replay it exactly in BIGINTs.
    */
  def winnowing(text: String, k: Int, w: Int): Array[Long] = {
    val cps = text.codePoints().toArray
    val n = cps.length
    if (n < k) return Array.emptyLongArray
    val M = P
    val B = 257L
    // B^(k-1), B^(k-2), ..., 1 (mod M)
    val pw = new Array[Long](k)
    pw(k - 1) = 1L
    var j = k - 2
    while (j >= 0) { pw(j) = pw(j + 1) * B % M; j -= 1 }
    val nh = n - k + 1
    val hs = new Array[Long](nh)
    // TRUE rolling update — O(n), not the O(n·k) re-sum per position:
    //   hs(i+1) = ((hs(i) − cp(i)·B^{k-1}) · B + cp(i+k)) mod M
    // Modular arithmetic makes the residues IDENTICAL to the term-wise
    // Σ cp·B^j form the SQL oracle replays, so outputs are unchanged.
    var acc0 = 0L
    var t = 0
    while (t < k) { acc0 = (acc0 + cps(t) * pw(t)) % M; t += 1 }
    hs(0) = acc0
    var i = 1
    while (i < nh) {
      var x = (hs(i - 1) - cps(i - 1) * pw(0) % M) % M
      if (x < 0) x += M
      hs(i) = (x * B + cps(i + k - 1)) % M
      i += 1
    }
    val selected = new java.util.TreeSet[java.lang.Long]()
    if (nh <= w) {
      var min = hs(0)
      var x = 1
      while (x < nh) { if (hs(x) < min) min = hs(x); x += 1 }
      selected.add(min)
    } else {
      // sliding-window minimum via monotonic deque of indices
      val deque = new Array[Int](nh)
      var head = 0
      var tail = 0 // [head, tail)
      var s = 0
      while (s < nh) {
        while (tail > head && hs(deque(tail - 1)) >= hs(s)) tail -= 1
        deque(tail) = s; tail += 1
        if (deque(head) <= s - w) head += 1
        if (s >= w - 1) selected.add(hs(deque(head)))
        s += 1
      }
    }
    val out = new Array[Long](selected.size())
    val it = selected.iterator()
    var o = 0
    while (it.hasNext) { out(o) = it.next(); o += 1 }
    out
  }

  /** 64-bit SimHash — the scale form of [[simhash32]] (twice the bits →
    * vastly fewer random collisions at corpus scale). Two votes per md5 hex
    * digit: bit 2i from the nibble's 8-bit, bit 2i+1 from its 4-bit, packed
    * MSB-first. Matches the q52 SQL formulation exactly.
    */
  def simhash64(text: String): Long = {
    val votes = new Array[Int](64)
    val tokens = text.toLowerCase(java.util.Locale.ROOT).split("\\s+", -1)
    var t = 0
    while (t < tokens.length) {
      val hex = md5Hex(tokens(t))
      var i = 0
      while (i < 32) {
        val c = hex.charAt(i)
        val nib = if (c >= 'a') c - 'a' + 10 else c - '0'
        if ((nib & 8) != 0) votes(2 * i) += 1 else votes(2 * i) -= 1
        if ((nib & 4) != 0) votes(2 * i + 1) += 1 else votes(2 * i + 1) -= 1
        i += 1
      }
      t += 1
    }
    var out = 0L
    var j = 0
    while (j < 64) {
      if (votes(j) > 0) out |= 1L << (63 - j)
      j += 1
    }
    out
  }
}

object DotSupport {
  import org.apache.spark.sql.catalyst.util.ArrayData

  /** Sequential dot product with explicit element-wise widening to double —
    * bit-identical to `SUM(CAST(a[i] AS DOUBLE) * CAST(b[i] AS DOUBLE))`
    * accumulated in index order (the DuckDB oracle formulation).
    */
  def dot(a: ArrayData, b: ArrayData, aFloat: Boolean, bFloat: Boolean): Double = {
    val n = a.numElements()
    // fail LOUDLY on a dimension mismatch (same contract as PqSupport): a
    // min-length clamp would return a plausible in-range cosine computed
    // over a truncated vector — a corrupt/short embedding could rank #1
    // for queries it doesn't resemble, with no error anywhere
    if (b.numElements() != n)
      throw new IllegalArgumentException(
        s"graft_array_dot: dimension mismatch $n vs ${b.numElements()}")
    var acc = 0.0
    var i = 0
    while (i < n) {
      val x = if (aFloat) a.getFloat(i).toDouble else a.getDouble(i)
      val y = if (bFloat) b.getFloat(i).toDouble else b.getDouble(i)
      acc += x * y
      i += 1
    }
    acc
  }
}

/** double dot-product over two numeric arrays (codegen-enabled) — replaces
  * the interpreted zip_with+aggregate composition in the similarity path.
  */
case class ArrayDot(left: Expression, right: Expression) extends GraftBinary(
      "graft_array_dot", "two array<float>/array<double> inputs", isVector, isVector) {
  // the input check matters here: an array<int> child would have getDouble
  // reinterpret 4-byte int slots of the unsafe buffer — silent garbage
  override def dataType: DataType = DoubleType
  private def lf = isFloatArray(left.dataType)
  private def rf = isFloatArray(right.dataType)

  protected def call(a: Any, b: Any): Any = DotSupport.dot(array(a), array(b), lf, rf)
  protected def callCode(ctx: CodegenContext, a: String, b: String): String =
    s"graft.functions.DotSupport.dot($a, $b, $lf, $rf)"

  override protected def withNewChildrenInternal(l: Expression, r: Expression): ArrayDot =
    copy(left = l, right = r)
}

object LshSupport {
  import org.apache.spark.sql.catalyst.util.ArrayData

  /** Sign-bit LSH bucket: bit h set iff dot(v, plane_h) > 0. One pass over
    * all planes — emitting this as a single expression keeps the generated
    * whole-stage code small (8 inlined dot-product expressions measurably
    * bloat Janino compilation).
    */
  def bucket(v: ArrayData, planes: Array[Array[Double]], isFloat: Boolean): Long = {
    var out = 0L
    var h = 0
    while (h < planes.length) {
      val p = planes(h)
      // same loud-mismatch contract as dot(): a truncated vector would
      // otherwise bucket on a prefix projection and silently land in the
      // wrong bucket for every band
      if (v.numElements() != p.length)
        throw new IllegalArgumentException(
          s"graft_lsh_bucket: vector dimension ${v.numElements()} != plane dimension ${p.length}")
      val n = p.length
      var acc = 0.0
      var i = 0
      while (i < n) {
        val x = if (isFloat) v.getFloat(i).toDouble else v.getDouble(i)
        acc += x * p(i)
        i += 1
      }
      if (acc > 0) out |= 1L << h
      h += 1
    }
    out
  }
}

/** long sign-bit LSH bucket over fixed hyperplanes (codegen-enabled).
  * `planes` is Seq[Seq[...]] — NOT Seq[Array[...]] — so case-class equality
  * is structural: Arrays compare by reference, and two LshBucket
  * expressions built from fresh `hyperplanes()` calls would never be
  * semantically equal, defeating common-subexpression elimination and
  * cached-plan matching (the PQ expressions use the same convention).
  */
case class LshBucket(child: Expression, planes: Seq[Seq[Double]])
    extends GraftUnary("graft_lsh_bucket", "array<float> or array<double>", isVector) {
  override def dataType: DataType = LongType
  @transient private lazy val planeArr: Array[Array[Double]] = planes.map(_.toArray).toArray
  private def f = isFloatArray(child.dataType)

  protected def call(a: Any): Any = LshSupport.bucket(array(a), planeArr, f)
  protected def callCode(ctx: CodegenContext, a: String): String = {
    val ref = ctx.addReferenceObj("planes", planeArr, "double[][]")
    s"graft.functions.LshSupport.bucket($a, $ref, $f)"
  }

  override protected def withNewChildInternal(c: Expression): LshBucket = copy(child = c)
}

object IntersectSupport {
  import org.apache.spark.sql.catalyst.util.ArrayData

  /** Intersection size of two ascending-sorted long arrays via two-pointer
    * merge — O(n+m), zero allocation. The built-in array_intersect falls
    * back to a generic O(n·m) interpreted scan for non-atomic element types
    * and builds a hash set per row for atomic ones; a near-dup verify stage
    * evaluates this once per candidate pair, so the merge path matters.
    */
  def sortedIntersectSize(a: ArrayData, b: ArrayData): Long = {
    val n = a.numElements()
    val m = b.numElements()
    var i = 0
    var j = 0
    var out = 0L
    while (i < n && j < m) {
      val x = a.getLong(i)
      val y = b.getLong(j)
      if (x == y) { out += 1; i += 1; j += 1 }
      else if (x < y) i += 1
      else j += 1
    }
    out
  }

  /** Intersection size of two arrays of 2-field long structs, both sorted
    * ascending by (field0, field1) — the PPJoin rarity order (df, gram key).
    * Same two-pointer merge; operating directly on the ranked struct arrays
    * avoids materializing a second per-doc gram array just for verification.
    */
  def sortedStructIntersectSize(a: ArrayData, b: ArrayData): Long = {
    val n = a.numElements()
    val m = b.numElements()
    var i = 0
    var j = 0
    var out = 0L
    while (i < n && j < m) {
      val x = a.getStruct(i, 2)
      val y = b.getStruct(j, 2)
      val c0 = java.lang.Long.compare(x.getLong(0), y.getLong(0))
      val c = if (c0 != 0) c0 else java.lang.Long.compare(x.getLong(1), y.getLong(1))
      if (c == 0) { out += 1; i += 1; j += 1 }
      else if (c < 0) i += 1
      else j += 1
    }
    out
  }

  /** array<struct<bigint, bigint>> with any field names. */
  val isLongPairs: DataType => Boolean = {
    case ArrayType(s: org.apache.spark.sql.types.StructType, _) =>
      s.fields.length == 2 && s.fields.forall(_.dataType == LongType)
    case _ => false
  }
}

/** long intersection size of two sorted array<long> columns (codegen-enabled).
  * Both inputs MUST be sorted ascending (e.g. via sort_array) and duplicate-
  * free for set semantics.
  */
case class SortedIntersectSize(left: Expression, right: Expression) extends GraftBinary(
      "graft_sorted_intersect_size", "two array<bigint> inputs", isArrayOf(LongType), isArrayOf(LongType)) {
  override def dataType: DataType = LongType

  protected def call(a: Any, b: Any): Any = IntersectSupport.sortedIntersectSize(array(a), array(b))
  protected def callCode(ctx: CodegenContext, a: String, b: String): String =
    s"graft.functions.IntersectSupport.sortedIntersectSize($a, $b)"

  override protected def withNewChildrenInternal(l: Expression, r: Expression): SortedIntersectSize =
    copy(left = l, right = r)
}

/** long intersection size of two array<struct<long,long>> columns, both
  * sorted ascending by (field0, field1) (codegen-enabled).
  */
case class SortedStructIntersectSize(left: Expression, right: Expression) extends GraftBinary(
      "graft_sorted_struct_intersect_size", "two array<struct<bigint,bigint>> inputs",
      IntersectSupport.isLongPairs, IntersectSupport.isLongPairs) {
  override def dataType: DataType = LongType

  protected def call(a: Any, b: Any): Any = IntersectSupport.sortedStructIntersectSize(array(a), array(b))
  protected def callCode(ctx: CodegenContext, a: String, b: String): String =
    s"graft.functions.IntersectSupport.sortedStructIntersectSize($a, $b)"

  override protected def withNewChildrenInternal(l: Expression, r: Expression): SortedStructIntersectSize =
    copy(left = l, right = r)
}

object TextStatsSupport {
  import org.apache.spark.sql.catalyst.InternalRow
  import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
  import org.apache.spark.sql.catalyst.util.GenericArrayData

  private val WS = java.util.regex.Pattern.compile("\\s+")

  /** One pass over the lowercase whitespace tokens of `text`, producing every
    * count the text-analysis operators need: token count, distinct-token
    * count, total character length, stopword hits, and per-marker-set hits.
    *
    * Semantics replicate the expression composition exactly: tokenization is
    * `split(lower(text), "\\s+")` with Spark's limit=-1 (trailing empty
    * tokens kept), lowercase is Locale.ROOT (truly locale-independent —
    * UTF8String.toLowerCase falls back to DEFAULT-locale String.toLowerCase
    * for non-ASCII text, so a tr-TR host would diverge; on the ASCII
    * fixtures all paths agree with Spark's `lower` and the DuckDB oracle),
    * and lengths count code points (same as the `length` function). The HOF composition walks the token array once
    * per statistic through the interpreted lambda path (~7 passes for the
    * corpus gates); this walks it once, codegen'd.
    */
  def stats(
      text: UTF8String,
      stop: java.util.HashSet[String],
      markers: Array[java.util.HashSet[String]]
  ): InternalRow = {
    val toks = WS.split(text.toString.toLowerCase(java.util.Locale.ROOT), -1)
    val uniq = new java.util.HashSet[String](toks.length * 2)
    val marks = new Array[Int](markers.length)
    var totalLen = 0
    var nStop = 0
    var i = 0
    while (i < toks.length) {
      val w = toks(i)
      totalLen += w.codePointCount(0, w.length)
      uniq.add(w)
      if (stop.contains(w)) nStop += 1
      var m = 0
      while (m < markers.length) {
        if (markers(m).contains(w)) marks(m) += 1
        m += 1
      }
      i += 1
    }
    new GenericInternalRow(
      Array[Any](toks.length, uniq.size, totalLen, nStop, new GenericArrayData(marks))
    )
  }

  def toSet(words: Seq[String]): java.util.HashSet[String] = {
    val s = new java.util.HashSet[String](words.length * 2)
    words.foreach(s.add)
    s
  }
}

/** struct<n:int, n_unique:int, total_len:int, n_stop:int, marks:array<int>>
  * text statistics in one token pass (codegen-enabled). `marks(i)` counts
  * tokens in `markerSets(i)`.
  */
case class TextStats(child: Expression, stop: Seq[String], markerSets: Seq[Seq[String]])
    extends GraftUnary("graft_text_stats", "a string", isString) {
  import org.apache.spark.sql.types.{IntegerType, StructField, StructType}

  override def dataType: DataType = StructType(
    Seq(
      StructField("n", IntegerType, nullable = false),
      StructField("n_unique", IntegerType, nullable = false),
      StructField("total_len", IntegerType, nullable = false),
      StructField("n_stop", IntegerType, nullable = false),
      StructField("marks", ArrayType(IntegerType, containsNull = false), nullable = false)
    )
  )

  @transient private lazy val stopSet = TextStatsSupport.toSet(stop)
  @transient private lazy val markerArr = markerSets.map(TextStatsSupport.toSet).toArray

  protected def call(a: Any): Any = TextStatsSupport.stats(utf8(a), stopSet, markerArr)
  protected def callCode(ctx: CodegenContext, a: String): String = {
    val stopRef = ctx.addReferenceObj("stopSet", stopSet, "java.util.HashSet")
    val markRef = ctx.addReferenceObj("markerArr", markerArr, "java.util.HashSet[]")
    s"graft.functions.TextStatsSupport.stats($a, $stopRef, $markRef)"
  }

  override protected def withNewChildInternal(c: Expression): TextStats = copy(child = c)
}

object RepStatsSupport {
  import org.apache.spark.sql.catalyst.InternalRow
  import org.apache.spark.sql.catalyst.expressions.GenericInternalRow

  private val WS = java.util.regex.Pattern.compile("\\s+")

  /** Repetition statistics (the Gopher-style repetition quality signals) in
    * one pass over the lowercase whitespace tokens: token count, the count
    * of the most frequent token, bigram count, and the count of the most
    * frequent bigram. Tokenization matches `split(lower(text), "\\s+")`
    * exactly (limit -1: trailing empties kept), so the DuckDB oracle's
    * regexp_split_to_array sees the same tokens.
    *
    * Per-row transient hash maps only — nothing escapes the row, so the
    * expression stays a pure codegen'd map at any corpus size.
    */
  def stats(text: UTF8String): InternalRow = {
    val toks = WS.split(text.toString.toLowerCase(java.util.Locale.ROOT), -1)
    val uni = new java.util.HashMap[String, Int](toks.length * 2)
    var topUni = 0
    var i = 0
    while (i < toks.length) {
      val c = uni.merge(toks(i), 1, Integer.sum)
      if (c > topUni) topUni = c
      i += 1
    }
    val nBi = math.max(toks.length - 1, 0)
    val bi = new java.util.HashMap[String, Int](nBi * 2)
    var topBi = 0
    i = 0
    while (i < nBi) {
      val c = bi.merge(toks(i) + " " + toks(i + 1), 1, Integer.sum)
      if (c > topBi) topBi = c
      i += 1
    }
    new GenericInternalRow(Array[Any](toks.length, topUni, nBi, topBi))
  }
}

/** struct<n:int, top_unigram:int, n_bigrams:int, top_bigram:int> repetition
  * statistics in one token pass (codegen-enabled).
  */
case class RepStats(child: Expression) extends GraftUnary("graft_rep_stats", "a string", isString) {
  import org.apache.spark.sql.types.{IntegerType, StructField, StructType}

  override def dataType: DataType = StructType(
    Seq(
      StructField("n", IntegerType, nullable = false),
      StructField("top_unigram", IntegerType, nullable = false),
      StructField("n_bigrams", IntegerType, nullable = false),
      StructField("top_bigram", IntegerType, nullable = false)
    )
  )

  protected def call(a: Any): Any = RepStatsSupport.stats(utf8(a))
  protected def callCode(ctx: CodegenContext, a: String): String =
    s"graft.functions.RepStatsSupport.stats($a)"

  override protected def withNewChildInternal(c: Expression): RepStats = copy(child = c)
}

object NGramSupport {
  import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}

  /** Space-joined lowercase word n-grams, one per token offset; documents
    * shorter than n yield a single gram of all tokens. Semantics identical
    * to the transform/element_at composition and the DuckDB list-slice
    * comprehension, in one JVM pass.
    */
  def wordNGrams(text: String, n: Int): ArrayData = {
    val toks = text.toLowerCase(java.util.Locale.ROOT).split("\\s+", -1)
    val m = math.max(toks.length - n + 1, 1)
    val out = new Array[Any](m)
    var i = 0
    while (i < m) {
      val sb = new java.lang.StringBuilder
      var j = 0
      while (j < n && i + j < toks.length) {
        if (j > 0) sb.append(' ')
        sb.append(toks(i + j))
        j += 1
      }
      out(i) = UTF8String.fromString(sb.toString)
      i += 1
    }
    new GenericArrayData(out)
  }
}

/** array<string> word n-grams expression (codegen-enabled). */
case class WordNGrams(child: Expression, n: Int)
    extends GraftUnary("graft_word_ngrams", "a string", isString) {
  override def dataType: DataType =
    ArrayType(org.apache.spark.sql.types.StringType, containsNull = false)

  protected def call(a: Any): Any = NGramSupport.wordNGrams(a.toString, n)
  protected def callCode(ctx: CodegenContext, a: String): String =
    s"graft.functions.NGramSupport.wordNGrams($a.toString(), $n)"

  override protected def withNewChildInternal(c: Expression): WordNGrams = copy(child = c)
}

/** array<long> MinHash signature expression (codegen-enabled). */
case class MinHashSignature(child: Expression, k: Int, a: Seq[Long], b: Seq[Long])
    extends GraftUnary("graft_minhash", "a string", isString) {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  @transient private lazy val aArr = a.toArray
  @transient private lazy val bArr = b.toArray

  protected def call(in: Any): Any =
    ArrayData.toArrayData(HashSupport.minhash(in.toString, k, aArr, bArr))
  protected def callCode(ctx: CodegenContext, in: String): String = {
    val aRef = ctx.addReferenceObj("aArr", aArr, "long[]")
    val bRef = ctx.addReferenceObj("bArr", bArr, "long[]")
    s"""org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(
       |  graft.functions.HashSupport.minhash($in.toString(), $k, $aRef, $bRef))""".stripMargin
  }

  override protected def withNewChildInternal(c: Expression): MinHashSignature = copy(child = c)
}

/** long SimHash32 expression (codegen-enabled). */
case class SimHash32Expr(child: Expression) extends GraftUnary("graft_simhash32", "a string", isString) {
  override def dataType: DataType = LongType

  protected def call(a: Any): Any = HashSupport.simhash32(a.toString)
  protected def callCode(ctx: CodegenContext, a: String): String =
    s"graft.functions.HashSupport.simhash32($a.toString())"

  override protected def withNewChildInternal(c: Expression): SimHash32Expr = copy(child = c)
}

/** array<long> winnowing-fingerprint expression (codegen-enabled): distinct
  * sorted sliding-window minima of k-gram rolling hashes.
  */
case class WinnowingFingerprints(child: Expression, k: Int, w: Int)
    extends GraftUnary("graft_winnow", "a string", isString) {
  // analysis-time range check (the file's error-at-analysis contract):
  // k = 0 would reach pw(-1) inside the per-row walk and kill every task
  // with a bare AIOOBE instead of a message naming the bad argument
  require(k >= 1 && w >= 1, s"graft_winnow needs k >= 1 and w >= 1, got k=$k w=$w")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  protected def call(a: Any): Any =
    ArrayData.toArrayData(HashSupport.winnowing(a.toString, k, w))
  protected def callCode(ctx: CodegenContext, a: String): String =
    s"""org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(
       |  graft.functions.HashSupport.winnowing($a.toString(), $k, $w))""".stripMargin

  override protected def withNewChildInternal(c: Expression): WinnowingFingerprints = copy(child = c)
}

object PqSupport {
  import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}

  /** PQ code assignment: `codes(s) = argmin_j (||C[s][j]||² − 2·x_s·C[s][j])`,
    * ties to smallest j. One tight pass, no allocation beyond the output —
    * the scan-side cost that dominates PQ index builds at corpus scale.
    * MUST rank by exactly the value the composed-expression/oracle forms
    * compute (precomputed `cNorms(s)(j)` minus 2·(index-order double dot)),
    * so the chosen code is bit-identical to theirs.
    */
  def assignCodes(
      v: ArrayData,
      cb: Array[Array[Array[Double]]],
      cNorms: Array[Array[Double]],
      isFloat: Boolean
  ): ArrayData = {
    val m = cb.length
    // fail LOUDLY on a short vector: UnsafeArrayData getters do not bounds-
    // check, so without this a truncated embedding would silently encode
    // garbage read from adjacent buffer memory
    val need = m * cb(0)(0).length
    if (v.numElements() < need)
      throw new IllegalArgumentException(
        s"pq_assign_codes: vector has ${v.numElements()} elements, codebook needs $need")
    val out = new Array[Int](m)
    var s = 0
    while (s < m) {
      val subCb = cb(s)
      val norms = cNorms(s)
      val dsub = subCb(0).length
      val off = s * dsub
      var best = 0
      var bestD = Double.PositiveInfinity
      var j = 0
      while (j < subCb.length) {
        val c = subCb(j)
        var acc = 0.0
        var i = 0
        while (i < dsub) {
          val x = if (isFloat) v.getFloat(off + i).toDouble else v.getDouble(off + i)
          acc += x * c(i)
          i += 1
        }
        val d = norms(j) - 2.0 * acc
        if (d < bestD) { bestD = d; best = j }
        j += 1
      }
      out(s) = best
      s += 1
    }
    new GenericArrayData(out)
  }

  /** Per-query ADC distance table: `table(s)(j) = ||q_s − C[s][j]||²`,
    * computed as `(dot(q_s, q_s) + ||C[s][j]||²) − 2·dot(q_s, C[s][j])` in
    * EXACTLY the arithmetic order of the plan-expression composition it
    * replaces (sequential index-order dots, precomputed norms) — the q85
    * oracle replays that formula term-for-term, so the native form must be
    * bit-identical. One call materializes the whole m×ksub table: the
    * composed form was m·ksub array expressions (thousands of Catalyst
    * nodes once codebook literals are inlined), which cost seconds of
    * analysis + Janino compilation per query plan.
    */
  def queryTable(
      v: ArrayData,
      cb: Array[Array[Array[Double]]],
      cNorms: Array[Array[Double]],
      isFloat: Boolean
  ): ArrayData = {
    val m = cb.length
    val dsub = cb(0)(0).length
    if (v.numElements() < m * dsub)
      throw new IllegalArgumentException(
        s"pq_query_table: vector has ${v.numElements()} elements, codebook needs ${m * dsub}")
    val out = new Array[Any](m)
    var s = 0
    val sub = new Array[Double](dsub)
    while (s < m) {
      val off = s * dsub
      // copy the subvector out of ArrayData ONCE per subspace — reading it
      // through getFloat/getDouble inside the centroid loop would multiply
      // the unsafe-buffer accesses by ksub
      var ss = 0.0
      var i = 0
      while (i < dsub) {
        val x = if (isFloat) v.getFloat(off + i).toDouble else v.getDouble(off + i)
        sub(i) = x
        ss += x * x
        i += 1
      }
      val subCb = cb(s)
      val norms = cNorms(s)
      val row = new Array[Double](subCb.length)
      var j = 0
      while (j < subCb.length) {
        val c = subCb(j)
        var d = 0.0
        var k = 0
        while (k < dsub) {
          d += sub(k) * c(k)
          k += 1
        }
        row(j) = (ss + norms(j)) - 2.0 * d
        j += 1
      }
      out(s) = new GenericArrayData(row)
      s += 1
    }
    new GenericArrayData(out)
  }

  /** ADC distance: left fold over subspaces of the per-query distance
    * table at the row's code — same accumulation order as the
    * aggregate(zip_with(...)) composition and the oracle's ordered
    * list_sum, so results are bit-identical.
    */
  def adcDistance(codes: ArrayData, table: ArrayData): Double = {
    val m = codes.numElements()
    if (table.numElements() < m)
      throw new IllegalArgumentException(
        s"pq_adc_distance: table has ${table.numElements()} subspaces, codes have $m")
    var acc = 0.0
    var s = 0
    while (s < m) {
      val t = table.getArray(s)
      val c = codes.getInt(s)
      if (c < 0 || c >= t.numElements())
        throw new IllegalArgumentException(
          s"pq_adc_distance: code $c out of range for a ${t.numElements()}-centroid subspace")
      acc += t.getDouble(c)
      s += 1
    }
    acc
  }

  /** Squared norm of every centroid, per subspace. */
  def norms(cb: Array[Array[Array[Double]]]): Array[Array[Double]] =
    cb.map(_.map(c => c.map(x => x * x).sum))

  /** array<array<double>>: a per-query distance table. */
  val isTable: DataType => Boolean = {
    case ArrayType(ArrayType(DoubleType, _), _) => true
    case _ => false
  }
}

/** PQ code assignment (codegen-enabled); input vector length must be ≥
  * m·dsub. The codebook rides into generated code as a reference object —
  * no per-row construction, no 128-way expression tree for Janino to chew.
  */
case class PqAssignCodes(child: Expression, codebooks: Seq[Seq[Seq[Double]]])
    extends GraftUnary("pq_assign_codes", "array<float> or array<double>", isVector) {
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)

  @transient private lazy val cbArr: Array[Array[Array[Double]]] =
    codebooks.map(_.map(_.toArray).toArray).toArray
  @transient private lazy val normArr: Array[Array[Double]] = PqSupport.norms(cbArr)
  private def f = isFloatArray(child.dataType)

  protected def call(a: Any): Any = PqSupport.assignCodes(array(a), cbArr, normArr, f)
  protected def callCode(ctx: CodegenContext, a: String): String = {
    val cbRef = ctx.addReferenceObj("pqCodebook", cbArr, "double[][][]")
    val nRef = ctx.addReferenceObj("pqNorms", normArr, "double[][]")
    s"graft.functions.PqSupport.assignCodes($a, $cbRef, $nRef, $f)"
  }

  override protected def withNewChildInternal(c: Expression): PqAssignCodes = copy(child = c)
}

/** Per-query ADC distance table (codegen-enabled): query vector
  * array<float|double> → m×ksub array<array<double>>. The codebook and its
  * precomputed norms ride in as reference objects — the composed-expression
  * form inlined them as thousands of literal nodes, costing seconds of
  * plan analysis and Janino compilation per query (the fixed overhead that
  * dominated the persisted-index probe path).
  */
case class PqQueryTableExpr(child: Expression, codebooks: Seq[Seq[Seq[Double]]])
    extends GraftUnary("pq_query_table", "array<float> or array<double>", isVector) {
  override def dataType: DataType =
    ArrayType(ArrayType(DoubleType, containsNull = false), containsNull = false)

  @transient private lazy val cbArr: Array[Array[Array[Double]]] =
    codebooks.map(_.map(_.toArray).toArray).toArray
  @transient private lazy val normArr: Array[Array[Double]] = PqSupport.norms(cbArr)
  private def f = isFloatArray(child.dataType)

  protected def call(a: Any): Any = PqSupport.queryTable(array(a), cbArr, normArr, f)
  protected def callCode(ctx: CodegenContext, a: String): String = {
    val cbRef = ctx.addReferenceObj("pqCodebook", cbArr, "double[][][]")
    val nRef = ctx.addReferenceObj("pqNorms", normArr, "double[][]")
    s"graft.functions.PqSupport.queryTable($a, $cbRef, $nRef, $f)"
  }

  override protected def withNewChildInternal(c: Expression): PqQueryTableExpr = copy(child = c)
}

/** ADC table-lookup distance (codegen-enabled): codes array<int> ×
  * per-query table array<array<double>> → double.
  */
case class PqAdcDistance(left: Expression, right: Expression) extends GraftBinary(
      "pq_adc_distance", "(array<int>, array<array<double>>)",
      isArrayOf(IntegerType), PqSupport.isTable) {
  override def dataType: DataType = DoubleType

  protected def call(codes: Any, table: Any): Any = PqSupport.adcDistance(array(codes), array(table))
  protected def callCode(ctx: CodegenContext, codes: String, table: String): String =
    s"graft.functions.PqSupport.adcDistance($codes, $table)"

  override protected def withNewChildrenInternal(l: Expression, r: Expression): PqAdcDistance =
    copy(left = l, right = r)
}

/** long SimHash64 expression (codegen-enabled). */
case class SimHash64Expr(child: Expression) extends GraftUnary("graft_simhash64", "a string", isString) {
  override def dataType: DataType = LongType

  protected def call(a: Any): Any = HashSupport.simhash64(a.toString)
  protected def callCode(ctx: CodegenContext, a: String): String =
    s"graft.functions.HashSupport.simhash64($a.toString())"

  override protected def withNewChildInternal(c: Expression): SimHash64Expr = copy(child = c)
}

object HashExprs {
  /** Deterministic odd multipliers / offsets for the minhash family. */
  def seeds(n: Int): (Seq[Long], Seq[Long]) = {
    val a = (0 until n).map(i => (2L * i + 1) * 2654435761L % 32749 + 1)
    val b = (0 until n).map(i => (i + 1) * 40503L % 30011)
    (a, b)
  }

  def minhashSignature(text: Column, k: Int, n: Int): Column = {
    val (a, b) = seeds(n)
    column(MinHashSignature(_, k, a, b), text)
  }

  def simhash32(text: Column): Column = column(SimHash32Expr, text)

  def simhash64(text: Column): Column = column(SimHash64Expr, text)

  def winnowingFingerprints(text: Column, k: Int, w: Int): Column =
    column(WinnowingFingerprints(_, k, w), text)

  def wordNGrams(text: Column, n: Int): Column = column(WordNGrams(_, n), text)

  def arrayDot(a: Column, b: Column): Column = column(ArrayDot, a, b)

  def pqAssignCodes(v: Column, codebooks: Array[Array[Array[Double]]]): Column =
    column(PqAssignCodes(_, codebooks.toSeq.map(_.toSeq.map(_.toSeq))), v)

  def pqAdcDistance(codes: Column, table: Column): Column = column(PqAdcDistance, codes, table)

  def pqQueryTable(v: Column, codebooks: Array[Array[Array[Double]]]): Column =
    column(PqQueryTableExpr(_, codebooks.toSeq.map(_.toSeq.map(_.toSeq))), v)

  def lshBucket(v: Column, planes: Seq[Array[Double]]): Column =
    column(LshBucket(_, planes.map(_.toSeq)), v)

  def sortedIntersectSize(a: Column, b: Column): Column = column(SortedIntersectSize, a, b)

  def sortedStructIntersectSize(a: Column, b: Column): Column =
    column(SortedStructIntersectSize, a, b)

  def textStats(text: Column, stop: Seq[String], markerSets: Seq[Seq[String]]): Column =
    column(TextStats(_, stop, markerSets), text)

  def repStats(text: Column): Column = column(RepStats, text)
}

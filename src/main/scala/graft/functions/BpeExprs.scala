package graft.functions

import graft.functions.GraftFunction._
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Byte-pair-encoding tokenization with a CALLER-SUPPLIED merges table —
  * the public GPT-2 algorithm (Sennrich et al. 2016; Radford et al. 2019's
  * bpe()): a word starts as its character sequence, then the pair with the
  * LOWEST merge rank present is merged (all its occurrences, left to
  * right) until no pair remains in the table. Token budgets specified in
  * model tokens are the production contract; every other token count in
  * the engine (q29 stats, q68 chunking, q82 packing, q102 budgets) is
  * whitespace-split — this is the exact path.
  *
  * TWO atom sets share one merge loop: character-level (a merge is a pair
  * of symbol STRINGS, atoms are single characters) and BYTE-level — the
  * production GPT-2 alphabet, where a word's UTF-8 bytes pass through the
  * published bytes_to_unicode bijection ([[BpeSupport.ByteToChar]]) before
  * merging, so 256 base symbols cover any string and multi-byte characters
  * merge from their byte pieces. Words are the whitespace-split segments
  * of the input — merges never cross word boundaries, exactly like GPT-2's
  * pre-tokenizer contract.
  *
  * Well-formedness (validated at Column construction): every non-atomic
  * symbol a merge references must be PRODUCED by an earlier-ranked merge.
  * This is the invariant BPE training guarantees, and it is what makes
  * rank-sequential application (each rank to fixpoint, in order — the
  * form a SQL oracle can replay as an unrolled replace chain) equivalent
  * to the min-rank loop: merging rank r only ever creates pairs that
  * contain r's output symbol, whose own merges all rank AFTER r.
  * BpeSpec pins the equivalence property on randomized inputs.
  *
  * Scale shape: a pure per-row projection (no shuffle, no state); the
  * ranks table rides the expression as a reference object, built once per
  * codegen instance, O(|merges|) memory.
  */
object BpeSupport {

  /** Compiled merges table: pair → rank (insertion order = rank). */
  final class Ranks(val pairs: Array[(String, String)]) extends Serializable {
    @transient lazy val rank: java.util.HashMap[String, Integer] = {
      val m = new java.util.HashMap[String, Integer](pairs.length * 2)
      var i = 0
      while (i < pairs.length) {
        m.put(pairs(i)._1 + "\u0000" + pairs(i)._2, Integer.valueOf(i))
        i += 1
      }
      m
    }
    // STRUCTURAL equality: the table rides Catalyst expressions as a
    // reference object, and the default reference equality makes two
    // expressions built from identical merges forever unequal — defeating
    // common-subexpression elimination and cached-plan matching (the
    // Array-vs-Seq hazard HashExprs documents), so the min-rank loop would
    // run once per textual occurrence instead of once per distinct input
    override def equals(o: Any): Boolean = o match {
      case r: Ranks =>
        java.util.Arrays.equals(
          pairs.asInstanceOf[Array[AnyRef]], r.pairs.asInstanceOf[Array[AnyRef]])
      case _ => false
    }
    override def hashCode: Int =
      java.util.Arrays.hashCode(pairs.asInstanceOf[Array[AnyRef]])
  }

  /** Require every compound symbol to be the output of an earlier merge,
    * and every pair to appear once — a duplicate pair would overwrite its
    * own rank (the table is a FUNCTION pair → rank in BPE), silently
    * demoting the first occurrence and breaking the rank-sequential ==
    * min-rank equivalence the oracle relies on (found by the randomized
    * equivalence property in BpeSpec).
    */
  def validate(merges: Seq[(String, String)]): Unit = {
    val produced = scala.collection.mutable.HashSet[String]()
    val seen = scala.collection.mutable.HashSet[(String, String)]()
    merges.zipWithIndex.foreach { case ((a, b), i) =>
      require(a.nonEmpty && b.nonEmpty, s"merge $i has an empty symbol")
      // ASCII whitespace only — the pre-tokenizer's actual boundary class
      // (a U+3000 inside an ASCII-split word is a legal symbol char, and
      // merges learned over such words must not be rejected)
      require(!a.exists(c => c == ' ' || (c >= '\t' && c <= '\r')) &&
        !b.exists(c => c == ' ' || (c >= '\t' && c <= '\r')),
        s"merge $i contains whitespace — merges operate within words")
      require(!a.contains('\u0000') && !b.contains('\u0000'),
        s"merge $i contains NUL, the rank-table key separator — a symbol with an " +
          "embedded NUL could alias a different pair's key and corrupt rank lookup")
      require(seen.add((a, b)), s"merge $i duplicates pair ($a, $b)")
      for (s <- Seq(a, b) if s.length > 1)
        require(produced.contains(s),
          s"merge $i references compound symbol '$s' not produced by an earlier merge " +
            "(malformed table: rank-sequential and min-rank application would diverge)")
      produced += a + b
    }
  }

  /** GPT-2's bytes_to_unicode (Radford et al. 2019, encoder.py — the
    * published algorithm, re-derived): a bijection byte -> unicode char
    * that keeps the 188 "printable" bytes (33-126, 161-172, 174-255) as
    * themselves and shifts the rest to 256+n in byte order, so every byte
    * sequence becomes a clean string the merge loop can treat as symbols.
    * Index = byte value.
    */
  val ByteToChar: Array[Char] = {
    val printable =
      ((33 to 126) ++ (161 to 172) ++ (174 to 255)).toSet
    val arr = new Array[Char](256)
    var n = 0
    var b = 0
    while (b < 256) {
      if (printable(b)) arr(b) = b.toChar
      else { arr(b) = (256 + n).toChar; n += 1 }
      b += 1
    }
    arr
  }

  /** Inverse of [[ByteToChar]] (the bijection makes it total on the
    * alphabet): remapped char → byte value, -1 for any char outside the
    * 256-char alphabet. Array-indexed — the remap tops out at 256+67.
    */
  val CharToByte: Array[Int] = {
    val max = ByteToChar.map(_.toInt).max
    val arr = Array.fill(max + 1)(-1)
    var b = 0
    while (b < 256) { arr(ByteToChar(b).toInt) = b; b += 1 }
    arr
  }

  /** ids → text, the DECODE half of [[tokenIds]]/[[tokenIdsBytes]]: look
    * each id up in the vocabulary, concatenate the symbols, and (byte
    * level) invert [[ByteToChar]] back to UTF-8 bytes. NULL — never an
    * exception — on any id outside [0, |vocab|) (including the encoder's
    * -1 OOV marker: an OOV token has no text) or, byte-level, any symbol
    * character outside the remapped alphabet. The round-trip law
    * `decode(encode(word)) == word` holds per WORD under a vocabulary
    * covering the final symbols — the encoder's id stream carries no word
    * separators (GPT-2 keeps spaces inside tokens; this engine's
    * pre-tokenizer splits them away), so whole-document round-trips would
    * need the caller to keep per-word id arrays.
    */
  def decodeIds(
      ids: org.apache.spark.sql.catalyst.util.ArrayData,
      vocab: Array[String],
      byteLevel: Boolean): UTF8String = {
    val n = ids.numElements()
    val sb = new java.lang.StringBuilder()
    var i = 0
    while (i < n) {
      // A NULL element must not read as id 0 (ArrayData.getInt on an unset
      // slot returns 0): a corrupt id stream decodes to NULL, never to text.
      if (ids.isNullAt(i)) return null
      val id = ids.getInt(i)
      if (id < 0 || id >= vocab.length) return null
      sb.append(vocab(id))
      i += 1
    }
    if (!byteLevel) return UTF8String.fromString(sb.toString)
    val bytes = new Array[Byte](sb.length())
    var j = 0
    while (j < sb.length()) {
      val c = sb.charAt(j).toInt
      val b = if (c < CharToByte.length) CharToByte(c) else -1
      if (b < 0) return null
      bytes(j) = b.toByte
      j += 1
    }
    // the documented NULL-on-corrupt contract covers the ASSEMBLED bytes
    // too: an id stream ending mid-multibyte-sequence passes every
    // CharToByte check yet is not UTF-8 — fromBytes would mint a malformed
    // UTF8String that corrupts downstream comparisons/parquet (and the
    // SQL mirror errors on the same input)
    if (!isValidUtf8(bytes)) return null
    UTF8String.fromBytes(bytes)
  }

  /** Strict UTF-8 validity (RFC 3629: no overlongs, no surrogates, max
    * U+10FFFF) — the [[decodeIds]] byte-path gate.
    */
  private def isValidUtf8(b: Array[Byte]): Boolean = {
    var i = 0
    while (i < b.length) {
      val c = b(i) & 0xFF
      if (c < 0x80) i += 1
      else {
        val (len, lo, hi) =
          if (c >= 0xC2 && c <= 0xDF) (2, 0x80, 0xBF)
          else if (c == 0xE0) (3, 0xA0, 0xBF)
          else if (c >= 0xE1 && c <= 0xEC) (3, 0x80, 0xBF)
          else if (c == 0xED) (3, 0x80, 0x9F) // no surrogates
          else if (c >= 0xEE && c <= 0xEF) (3, 0x80, 0xBF)
          else if (c == 0xF0) (4, 0x90, 0xBF)
          else if (c >= 0xF1 && c <= 0xF3) (4, 0x80, 0xBF)
          else if (c == 0xF4) (4, 0x80, 0x8F) // max U+10FFFF
          else return false
        if (i + len > b.length) return false
        val c1 = b(i + 1) & 0xFF
        if (c1 < lo || c1 > hi) return false
        var k = i + 2
        while (k < i + len) {
          val ck = b(k) & 0xFF
          if (ck < 0x80 || ck > 0xBF) return false
          k += 1
        }
        i += len
      }
    }
    true
  }

  /** A word's BYTE-LEVEL atom sequence: UTF-8 bytes through
    * [[ByteToChar]] — the GPT-2 alphabet. A multi-byte character becomes
    * several atoms (e.g. "é" = C3 A9 -> "Ã", "©"), which is exactly what
    * lets a byte-level vocabulary cover any string with 256 base symbols.
    */
  def byteAtoms(word: String): Array[String] = {
    val bytes = word.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val out = new Array[String](bytes.length)
    var i = 0
    while (i < bytes.length) {
      out(i) = String.valueOf(ByteToChar(bytes(i) & 0xFF))
      i += 1
    }
    out
  }

  /** GPT-2 bpe(): token count of ONE word under the merges table. Atoms
    * are CODEPOINTS, not UTF-16 code units: a charAt walk atomized an
    * astral-plane character (emoji, rare CJK) into its two surrogate
    * halves — diverging from the codepoint-indexed DuckDB oracle AND
    * emitting lone-surrogate symbols UTF8String mangles to '?'.
    */
  def tokenizeWord(word: String, ranks: Ranks): Array[String] = {
    if (word.isEmpty) return Array.empty
    val syms = new Array[String](word.codePointCount(0, word.length))
    var i = 0
    var k = 0
    while (i < word.length) {
      val len = Character.charCount(word.codePointAt(i))
      syms(k) = word.substring(i, i + len)
      k += 1
      i += len
    }
    tokenize(syms, ranks)
  }

  /** Byte-level GPT-2 bpe(): the SAME merge loop over [[byteAtoms]] —
    * merges must be pairs over the remapped byte alphabet.
    */
  def tokenizeWordBytes(word: String, ranks: Ranks): Array[String] = {
    if (word.isEmpty) return Array.empty
    tokenize(byteAtoms(word), ranks)
  }

  /** The min-rank merge loop shared by the char-level and byte-level atom
    * sets — the alphabet is the ONLY difference between the two paths.
    */
  private def tokenize(atoms: Array[String], ranks: Ranks): Array[String] = {
    var syms = atoms
    val table = ranks.rank
    while (syms.length > 1) {
      // lowest-ranked pair present
      var best = -1
      var bestRank = Integer.MAX_VALUE
      var j = 0
      while (j < syms.length - 1) {
        val r = table.get(syms(j) + "\u0000" + syms(j + 1))
        if (r != null && r.intValue() < bestRank) { bestRank = r.intValue(); best = j }
        j += 1
      }
      if (best < 0) return syms
      val a = syms(best)
      val b = syms(best + 1)
      // merge ALL (a, b) occurrences left to right
      val out = new scala.collection.mutable.ArrayBuffer[String](syms.length)
      var k = 0
      while (k < syms.length) {
        if (k < syms.length - 1 && syms(k) == a && syms(k + 1) == b) {
          out += a + b
          k += 2
        } else {
          out += syms(k)
          k += 1
        }
      }
      syms = out.toArray
    }
    syms
  }

  /** Total BPE token count of a document: sum over whitespace words —
    * UnigramSupport.eachWord, the one shared boundary iterator (five
    * hand-rolled split("\\s+") copies used to drift independently and
    * allocate a String[] per row on the hottest count path).
    */
  def countTokens(text: UTF8String, ranks: Ranks): Int = {
    if (text == null) return 0
    var total = 0
    UnigramSupport.eachWord(text)(w => total += tokenizeWord(w, ranks).length)
    total
  }

  /** Token id array of a document: each token's index in `vocab`, -1 for
    * out-of-vocabulary tokens. Returned as Catalyst array data.
    */
  def tokenIds(text: UTF8String, ranks: Ranks, vocab: java.util.HashMap[String, Integer]): GenericArrayData = {
    if (text == null) return new GenericArrayData(Array.emptyIntArray)
    val out = new scala.collection.mutable.ArrayBuffer[Int]()
    UnigramSupport.eachWord(text) { w =>
      val toks = tokenizeWord(w, ranks)
      var j = 0
      while (j < toks.length) {
        val id = vocab.get(toks(j))
        out += (if (id == null) -1 else id.intValue())
        j += 1
      }
    }
    new GenericArrayData(out.toArray)
  }

  /** Byte-level [[countTokens]]: sum of [[tokenizeWordBytes]] lengths. */
  def countTokensBytes(text: UTF8String, ranks: Ranks): Int = {
    if (text == null) return 0
    var total = 0
    UnigramSupport.eachWord(text)(w => total += tokenizeWordBytes(w, ranks).length)
    total
  }

  /** Byte-level [[tokenIds]]: ids index `vocab` over REMAPPED symbols. */
  def tokenIdsBytes(
      text: UTF8String,
      ranks: Ranks,
      vocab: java.util.HashMap[String, Integer]): GenericArrayData = {
    if (text == null) return new GenericArrayData(Array.emptyIntArray)
    val out = new scala.collection.mutable.ArrayBuffer[Int]()
    UnigramSupport.eachWord(text) { w =>
      val toks = tokenizeWordBytes(w, ranks)
      var j = 0
      while (j < toks.length) {
        val id = vocab.get(toks(j))
        out += (if (id == null) -1 else id.intValue())
        j += 1
      }
    }
    new GenericArrayData(out.toArray)
  }

  /** Adjacent symbol pairs of a document's words under `ranks` — see
    * [[BpeAdjacentPairs]]. Catalyst array of (a, b) struct rows.
    */
  def adjacentPairs(text: UTF8String, ranks: Ranks): GenericArrayData =
    pairsOf(text, ranks, byteLevel = false)

  /** Byte-level [[adjacentPairs]]. */
  def adjacentPairsBytes(text: UTF8String, ranks: Ranks): GenericArrayData =
    pairsOf(text, ranks, byteLevel = true)

  private def pairsOf(text: UTF8String, ranks: Ranks, byteLevel: Boolean): GenericArrayData = {
    if (text == null) return new GenericArrayData(Array.empty[Any])
    val out = new scala.collection.mutable.ArrayBuffer[Any]()
    UnigramSupport.eachWord(text) { w =>
      val syms = if (byteLevel) tokenizeWordBytes(w, ranks) else tokenizeWord(w, ranks)
      var j = 0
      while (j < syms.length - 1) {
        out += org.apache.spark.sql.catalyst.InternalRow(
          UTF8String.fromString(syms(j)),
          UTF8String.fromString(syms(j + 1)))
        j += 1
      }
    }
    new GenericArrayData(out.toArray)
  }

  def vocabMap(vocab: Seq[String]): java.util.HashMap[String, Integer] = {
    val m = new java.util.HashMap[String, Integer](vocab.length * 2)
    vocab.zipWithIndex.foreach { case (s, i) => m.put(s, Integer.valueOf(i)) }
    m
  }

  /** The DuckDB re-derivation of [[countTokens]] for ONE word expression:
    * the rank-sequential replace chain. Each rank applies twice — a chain
    * of adjacent occurrences shares boundary spaces in the string
    * encoding, so one left-to-right replace() pass takes the odd
    * occurrences and leaves the rest isolated for the second pass.
    *
    * REQUIRES a != b for every merge: with distinct symbols the pattern
    * ' a b ' self-overlaps only on the boundary space (max border 1), so
    * two passes are exact; a SELF-pair ' a a ' has border ' a ' and the
    * string scan can then pair a run's members differently than GPT-2's
    * symbol-pairwise walk (found by the randomized equivalence property:
    * a 6-run of 'a' under (a,a) becomes aa,a,aa,a via replace but
    * aa,aa,aa via the walk). The ENGINE expressions keep full GPT-2
    * semantics including self-pairs; only this SQL replay is restricted.
    * Equivalence for a != b tables (validated, duplicate-free) is pinned
    * by BpeSpec's randomized property.
    */
  def duckWordCountSql(wordExpr: String, merges: Seq[(String, String)]): String =
    // no empty-word CASE: duckWordSymbolsSql already yields CAST([] AS
    // VARCHAR[]) for the empty word, whose len() is the same 0 (the byte
    // twin documents the identical reasoning)
    s"len(${duckWordSymbolsSql(wordExpr, merges)})"

  /** The per-word chain's FINAL SYMBOL LIST (empty for the empty word) —
    * the building block both the token count and the vocabulary-membership
    * (OOV) replay share, so neither can drift from the other.
    */
  def duckWordSymbolsSql(wordExpr: String, merges: Seq[(String, String)]): String = {
    require(merges.forall { case (a, b) => a != b },
      "the SQL replay supports a != b merges only (self-pairs need the symbol-pairwise walk)")
    val base = s"(' ' || regexp_replace($wordExpr, '(.)', '\\1 ', 'g'))"
    // quote-escape the symbols (the byte-level twin's rule): char-level
    // merges legitimately contain apostrophes ("'", "s") and an unescaped
    // one terminates the SQL string literal — malformed (or, with crafted
    // symbols, injected) oracle SQL
    def esc(s0: String) = s0.replace("'", "''")
    val chained = merges.foldLeft(base) { case (acc, (a, b)) =>
      val pat = s"' ${esc(a)} ${esc(b)} '"
      val rep = s"' ${esc(a)}${esc(b)} '"
      s"replace(replace($acc, $pat, $rep), $pat, $rep)"
    }
    s"(CASE WHEN len($wordExpr) = 0 THEN CAST([] AS VARCHAR[]) " +
      s"ELSE regexp_split_to_array(trim($chained), ' ') END)"
  }

  /** Whole-document DuckDB token count: sum of the per-word chain over the
    * whitespace-split words of `textExpr`.
    */
  def duckDocCountSql(textExpr: String, merges: Seq[(String, String)]): String =
    // NULL text stays NULL (the engine expressions are nullIntolerant);
    // the coalesce exists for the zero-WORD document, not the null one
    s"""CASE WHEN ($textExpr) IS NULL THEN NULL
       | ELSE CAST(coalesce(list_sum([${duckWordCountSql("w", merges)}
       | for w in regexp_split_to_array($textExpr, '[ \\t\\n\\v\\f\\r]+')]), 0) AS BIGINT) END""".stripMargin

  /** Whole-document OUT-OF-VOCABULARY symbol count under (merges, vocab):
    * the chain's final symbols filtered by vocabulary membership — the
    * oracle half of the tokenizer-fit report (q120). Shares
    * [[duckWordSymbolsSql]] with the count replay.
    */
  def duckDocOovCountSql(
      textExpr: String, merges: Seq[(String, String)], vocab: Seq[String]): String = {
    val lst = vocab.map(v => s"'${v.replace("'", "''")}'").mkString(", ")
    val sym = duckWordSymbolsSql("w", merges)
    s"""CASE WHEN ($textExpr) IS NULL THEN NULL
       | ELSE CAST(coalesce(list_sum([len(list_filter($sym, s -> NOT list_contains([$lst], s)))
       | for w in regexp_split_to_array($textExpr, '[ \\t\\n\\v\\f\\r]+')]), 0) AS BIGINT) END""".stripMargin
  }

  /** [[ByteToChar]] as a SQL string literal: character b+1 is byte b's
    * remapped char, so `substr(TBL, b+1, 1)` IS the remap (DuckDB substr
    * is character-indexed). Quote chars doubled for the literal.
    */
  private def byteTableLiteral: String =
    "'" + new String(ByteToChar).replace("'", "''") + "'"

  /** The DuckDB re-derivation of [[countTokensBytes]] for ONE word: the
    * GPT-2 byte remap REPLAYED IN SQL — UTF-8 bytes via hex(encode(w)),
    * each hex pair decoded positionally and looked up in the
    * [[ByteToChar]] table literal — then the same rank-sequential replace
    * chain as [[duckWordCountSql]] over the remapped atoms. Merges must be
    * pairs over the remapped alphabet, a != b (the replay contract), and
    * quote characters in symbols are escaped here.
    */
  def duckByteWordCountSql(wordExpr: String, merges: Seq[(String, String)]): String =
    // No empty-word CASE here: duckByteWordSymbolsSql already yields
    // CAST([] AS VARCHAR[]) for the empty word, whose len() is the same 0.
    s"len(${duckByteWordSymbolsSql(wordExpr, merges)})"

  /** The byte-level per-word chain's FINAL SYMBOL LIST — the
    * [[duckWordSymbolsSql]] twin over remapped byte atoms, shared by the
    * count ([[duckByteWordCountSql]]) and decode ([[duckByteDecodeSql]])
    * replays so neither can drift.
    */
  def duckByteWordSymbolsSql(wordExpr: String, merges: Seq[(String, String)]): String = {
    require(merges.forall { case (a, b) => a != b },
      "the SQL replay supports a != b merges only (self-pairs need the symbol-pairwise walk)")
    val hexd = "'0123456789abcdef'"
    def atomOf(hexExpr: String) =
      // byte = 16*(p1-1) + (p2-1); 1-based table index = byte + 1
      s"substr($byteTableLiteral, " +
        s"16*(strpos($hexd, substr($hexExpr, 2*i-1, 1))-1)" +
        s" + strpos($hexd, substr($hexExpr, 2*i, 1)), 1)"
    val base =
      s"(' ' || array_to_string(list_transform(" +
        s"range(1, octet_length(encode($wordExpr)) + 1), " +
        s"i -> ${atomOf(s"lower(hex(encode($wordExpr)))")}), ' ') || ' ')"
    def q(s: String) = s.replace("'", "''")
    val chained = merges.foldLeft(base) { case (acc, (a, b)) =>
      val pat = s"' ${q(a)} ${q(b)} '"
      val rep = s"' ${q(a)}${q(b)} '"
      s"replace(replace($acc, $pat, $rep), $pat, $rep)"
    }
    s"(CASE WHEN len($wordExpr) = 0 THEN CAST([] AS VARCHAR[]) " +
      s"ELSE regexp_split_to_array(trim($chained), ' ') END)"
  }

  /** The byte-level DECODE replayed in SQL: concatenate a symbol list and
    * run each character back through the INVERSE of [[ByteToChar]] —
    * strpos into the same table literal (a bijection, so first-occurrence
    * lookup IS the inverse), hex-assemble, from_hex, decode to text. The
    * exact mirror of [[decodeIds]]' byte path, so the q128 round-trip
    * gate breaks if either direction of the remap drifts.
    */
  def duckByteDecodeSql(symbolsExpr: String): String = {
    val joined = s"array_to_string($symbolsExpr, '')"
    s"decode(from_hex(array_to_string(list_transform(range(1, len($joined) + 1), " +
      s"i -> right('0' || lower(to_hex(strpos($byteTableLiteral, substr($joined, i, 1)) - 1)), 2)), '')))"
  }

  /** Whole-document byte-level DuckDB token count. */
  def duckByteDocCountSql(textExpr: String, merges: Seq[(String, String)]): String =
    s"""CASE WHEN ($textExpr) IS NULL THEN NULL
       | ELSE CAST(coalesce(list_sum([${duckByteWordCountSql("w", merges)}
       | for w in regexp_split_to_array($textExpr, '[ \\t\\n\\v\\f\\r]+')]), 0) AS BIGINT) END""".stripMargin
}

/** INT BPE token count of a string column (codegen-enabled). */
case class BpeTokenCount(
    child: Expression,
    ranks: BpeSupport.Ranks,
    byteLevel: Boolean = false
) extends GraftUnary("graft_bpe_count", "a string", isString) {
  override def dataType: DataType = IntegerType
  private def fn = if (byteLevel) "countTokensBytes" else "countTokens"

  protected def call(a: Any): Any =
    if (byteLevel) BpeSupport.countTokensBytes(utf8(a), ranks) else BpeSupport.countTokens(utf8(a), ranks)
  protected def callCode(ctx: CodegenContext, a: String): String = {
    val ranksRef = ctx.addReferenceObj("bpeRanks", ranks, classOf[BpeSupport.Ranks].getName)
    s"graft.functions.BpeSupport.$fn($a, $ranksRef)"
  }

  override protected def withNewChildInternal(c: Expression): BpeTokenCount = copy(child = c)
}

/** array<struct<a,b>> of ADJACENT SYMBOL PAIRS of a document under the
  * current merges table — the corpus statistic BPE TRAINING consumes: one
  * round of Sennrich et al. 2016 is "count all adjacent pairs, merge the
  * most frequent". Pairs never cross word boundaries (same pre-tokenizer
  * contract as the walks); a run like "aaa" contributes its two
  * overlapping (a,a) pairs — the standard training count. Codegen-enabled
  * pure projection, so each training round is one scan + one pair-count
  * aggregate.
  */
case class BpeAdjacentPairs(
    child: Expression,
    ranks: BpeSupport.Ranks,
    byteLevel: Boolean = false
) extends GraftUnary("graft_bpe_pairs", "a string", isString) {
  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("a", StringType, nullable = false),
      StructField("b", StringType, nullable = false))),
    containsNull = false)
  private def fn = if (byteLevel) "adjacentPairsBytes" else "adjacentPairs"

  protected def call(a: Any): Any =
    if (byteLevel) BpeSupport.adjacentPairsBytes(utf8(a), ranks) else BpeSupport.adjacentPairs(utf8(a), ranks)
  protected def callCode(ctx: CodegenContext, a: String): String = {
    val ranksRef = ctx.addReferenceObj("bpeRanks", ranks, classOf[BpeSupport.Ranks].getName)
    s"graft.functions.BpeSupport.$fn($a, $ranksRef)"
  }

  override protected def withNewChildInternal(c: Expression): BpeAdjacentPairs = copy(child = c)
}

/** array<int> BPE token ids of a string column (codegen-enabled); ids index
  * the caller vocabulary, -1 = out of vocabulary.
  */
case class BpeTokenIds(
    child: Expression,
    ranks: BpeSupport.Ranks,
    vocab: Seq[String],
    byteLevel: Boolean = false
) extends GraftUnary("graft_bpe_ids", "a string", isString) {
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  @transient private lazy val vmap = BpeSupport.vocabMap(vocab)
  private def fn = if (byteLevel) "tokenIdsBytes" else "tokenIds"

  protected def call(a: Any): Any =
    if (byteLevel) BpeSupport.tokenIdsBytes(utf8(a), ranks, vmap)
    else BpeSupport.tokenIds(utf8(a), ranks, vmap)
  protected def callCode(ctx: CodegenContext, a: String): String = {
    val ranksRef = ctx.addReferenceObj("bpeRanks", ranks, classOf[BpeSupport.Ranks].getName)
    val vocabRef = ctx.addReferenceObj("bpeVocab", vmap, "java.util.HashMap")
    s"graft.functions.BpeSupport.$fn($a, $ranksRef, $vocabRef)"
  }

  override protected def withNewChildInternal(c: Expression): BpeTokenIds = copy(child = c)
}

/** STRING detokenization of an array<int> id column under a vocabulary —
  * the decode half of [[BpeTokenIds]]: vocab lookup, symbol concat, and
  * (byte level) the inverse bytes_to_unicode remap back to UTF-8. NULL for
  * any id outside the vocabulary (including the encoder's -1 OOV marker)
  * or any non-alphabet symbol character — the untrusted-input rule, not an
  * exception. `decode(encode(word)) == word` is the spec-pinned law.
  */
case class BpeDecodeIds(
    child: Expression,
    vocab: Seq[String],
    byteLevel: Boolean = false
) extends GraftUnary("graft_bpe_decode", "array<int> ids", isArrayOf(IntegerType), nullResult = true) {
  override def dataType: DataType = StringType
  @transient private lazy val varr: Array[String] = vocab.toArray

  protected def call(a: Any): Any = BpeSupport.decodeIds(array(a), varr, byteLevel)
  protected def callCode(ctx: CodegenContext, a: String): String = {
    val vocabRef = ctx.addReferenceObj("bpeVocabArr", varr, "java.lang.String[]")
    s"graft.functions.BpeSupport.decodeIds($a, $vocabRef, $byteLevel)"
  }

  override protected def withNewChildInternal(c: Expression): BpeDecodeIds = copy(child = c)
}

object BpeExprs {
  /** Exact BPE token count under `merges` (validated well-formed). */
  def bpeTokenCount(text: Column, merges: Seq[(String, String)]): Column =
    column(BpeTokenCount(_, ranks(merges)), text)

  /** Exact BPE token ids under `merges`, indexed into `vocab` (-1 = OOV). */
  def bpeTokenIds(text: Column, merges: Seq[(String, String)], vocab: Seq[String]): Column =
    column(BpeTokenIds(_, ranks(merges), vocab), text)

  /** Adjacent symbol pairs under `merges` (training statistic) — the
    * empty table gives base-atom pairs, round 0 of training.
    */
  def bpeAdjacentPairs(
      text: Column, merges: Seq[(String, String)], byteLevel: Boolean = false): Column =
    column(BpeAdjacentPairs(_, ranks(merges), byteLevel), text)

  /** BYTE-level exact BPE token count: atoms are the GPT-2
    * bytes_to_unicode remap of the word's UTF-8 bytes
    * ([[BpeSupport.ByteToChar]]); merges are pairs over that alphabet.
    */
  def bpeByteTokenCount(text: Column, merges: Seq[(String, String)]): Column =
    column(BpeTokenCount(_, ranks(merges), byteLevel = true), text)

  /** BYTE-level exact BPE token ids; `vocab` indexes REMAPPED symbols. */
  def bpeByteTokenIds(
      text: Column, merges: Seq[(String, String)], vocab: Seq[String]): Column =
    column(BpeTokenIds(_, ranks(merges), vocab, byteLevel = true), text)

  /** ids → text under `vocab` (char-level symbols concatenated); NULL on
    * any id outside the vocabulary.
    */
  def bpeDecodeIds(ids: Column, vocab: Seq[String]): Column = column(BpeDecodeIds(_, vocab), ids)

  /** BYTE-level ids → text: vocab symbols concatenated, then the inverse
    * bytes_to_unicode remap back to UTF-8 ([[BpeSupport.CharToByte]]).
    * `bpeByteDecodeIds(bpeByteTokenIds(w, m, v), v) == w` for any word
    * whose final symbols are all in `v` (the spec-pinned round-trip law).
    */
  def bpeByteDecodeIds(ids: Column, vocab: Seq[String]): Column =
    column(BpeDecodeIds(_, vocab, byteLevel = true), ids)

  /** The merges table, validated well-formed, as ranks. */
  private def ranks(merges: Seq[(String, String)]): BpeSupport.Ranks = {
    BpeSupport.validate(merges)
    new BpeSupport.Ranks(merges.toArray)
  }
}

package graft.functions

import graft.functions.GraftFunction._
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Unigram-LM (SentencePiece-family) tokenization — the OTHER major
  * subword family next to BPE ([[BpeSupport]]): where BPE composes a word
  * bottom-up through a merge list, the unigram model (Kudo 2018, "Subword
  * Regularization") picks, per word, the GLOBALLY best segmentation under
  * per-piece costs — a Viterbi shortest path over character positions.
  *
  * House exactness rule: piece costs are exact integer milli-units (the
  * [[graft.operators.LmScore]] rational surrogate `(T + V) · 1000 DIV
  * (cnt + 1)` — like the negative log it is positive and strictly
  * decreasing in count, but BIGINT-exact), the DP minimizes the exact
  * lexicographic pair (total cost, token count), and the tie on both
  * falls to the LONGEST final piece — a total order, so the segmentation
  * is unique and bit-identical on any JVM and in the SQL replay.
  *
  * Pre-tokenizer contract is BPE's: words are whitespace-split, pieces
  * never cross word boundaries. Every single character is always
  * costed — vocabulary single-chars at their learned cost, anything else
  * at `unkCost` — so the DP always completes (full coverage, the
  * SentencePiece character-coverage contract).
  *
  * The SQL replay ([[UnigramSupport.duckDocOracleSql]]) unrolls the DP over a BOUNDED word
  * length as one chained-alias SELECT expression, packing (cost, tokens)
  * into `cost·1024 + tokens` so `LEAST` is exactly the lexicographic
  * minimum — valid iff tokens < 1024 and the packed value stays in
  * BIGINT, which the generator asserts from its bounds (the ENGINE DP
  * compares the pair directly and has no such limits).
  */
object UnigramSupport {

  /** Piece-cost model: `costs` maps piece → milli-cost; `maxPieceLen` the
    * longest piece; `unkCost` the single-character fallback cost.
    */
  final case class Model(
      costs: java.util.HashMap[String, java.lang.Long],
      maxPieceLen: Int,
      unkCost: Long)
      extends Serializable

  def model(pieces: Seq[(String, Long)], unkCost: Long): Model = {
    require(pieces.nonEmpty, "need at least one piece")
    require(unkCost > 0, s"unkCost must be positive, got $unkCost")
    val m = new java.util.HashMap[String, java.lang.Long](pieces.size * 2)
    var maxLen = 1
    pieces.foreach { case (p, c) =>
      require(p.nonEmpty, "empty piece")
      // ASCII whitespace ONLY — the actual pre-tokenizer boundary class
      // (eachWord and every oracle/trainer split on ASCII \s). The broad
      // Character.isWhitespace predicate here used to reject pieces
      // containing U+3000 (ideographic space — word-INTERNAL under the
      // ASCII boundary, ubiquitous in CJK text), which made training on
      // such a corpus throw from its own single-char seed pieces.
      require(!p.exists(c => c == ' ' || (c >= '\t' && c <= '\r')),
        s"piece '$p' contains whitespace (the pre-tokenizer boundary)")
      require(c >= 0, s"piece '$p' has negative cost $c")
      require(m.put(p, c) == null, s"duplicate piece '$p'")
      maxLen = math.max(maxLen, p.length)
    }
    Model(m, maxLen, unkCost)
  }

  /** Codepoint boundary offsets of `word`: bounds(k) is the char offset
    * where codepoint k starts, bounds(last) = word.length. The DP below
    * steps by CODEPOINT, not UTF-16 code unit — a code-unit DP priced an
    * astral-plane character (emoji, rare CJK) as TWO unk tokens (its
    * surrogate halves) where the generated DuckDB oracle's
    * codepoint-indexed substr prices one, silently diverging (n_tokens,
    * total_cost_milli) on real web text.
    */
  private def codepointBounds(word: String): Array[Int] = {
    val out = new Array[Int](word.codePointCount(0, word.length) + 1)
    var i = 0
    var k = 0
    while (i < word.length) {
      out(k) = i; k += 1
      i += Character.charCount(word.codePointAt(i))
    }
    out(k) = word.length
    out
  }

  /** Viterbi DP for one word: (totalCostMilli, nTokens, backLengths,
    * codepointBounds). backLengths(i) = CODEPOINT length of the best
    * piece ENDING at codepoint position i.
    */
  private def viterbi(word: String, m: Model): (Long, Int, Array[Int], Array[Int]) = {
    val bounds = codepointBounds(word)
    val n = bounds.length - 1
    val dpCost = new Array[Long](n + 1)
    val dpTok = new Array[Int](n + 1)
    val back = new Array[Int](n + 1)
    var i = 1
    while (i <= n) {
      var bestCost = Long.MaxValue
      var bestTok = Int.MaxValue
      var bestJ = -1
      // a piece of j codepoints is at least j chars, so maxPieceLen (chars)
      // still bounds the candidate window
      val jMax = math.min(m.maxPieceLen, i)
      var j = 1
      while (j <= jMax) {
        val piece = word.substring(bounds(i - j), bounds(i))
        val c0 = m.costs.get(piece)
        val c: java.lang.Long = if (c0 == null && j == 1) m.unkCost else c0
        if (c != null) {
          val cost = dpCost(i - j) + c.longValue()
          val tok = dpTok(i - j) + 1
          // lexicographic (cost, tokens), tie -> longer piece (j scans
          // ascending, so >= prefers the later = longer candidate)
          if (cost < bestCost || (cost == bestCost && (tok < bestTok ||
              (tok == bestTok && j >= bestJ)))) {
            bestCost = cost; bestTok = tok; bestJ = j
          }
        }
        j += 1
      }
      dpCost(i) = bestCost; dpTok(i) = bestTok; back(i) = bestJ
      i += 1
    }
    (dpCost(n), dpTok(n), back, bounds)
  }

  /** The pre-tokenizer boundary class: ASCII whitespace ONLY — exactly
    * Java's \s = [ \t\n\u000B\f\r], which the generated DuckDB
    * replays spell as the explicit class '[ \t\n\v\f\r]+' (RE2's \s
    * OMITS \v/U+000B, so the bare '\s+' the oracles used to emit split
    * differently on vertical-tab text). A broader Java predicate here
    * would split words the oracle keeps whole (U+3000 et al.) and the
    * per-doc counts would silently diverge on CJK text.
    */
  private def isAsciiWs(c: Char): Boolean = c == ' ' || (c >= '\t' && c <= '\r')

  private[functions] def eachWord[A](text: UTF8String)(f: String => Unit): Unit = {
    val s = text.toString
    var i = 0
    val n = s.length
    while (i < n) {
      while (i < n && isAsciiWs(s.charAt(i))) i += 1
      val start = i
      while (i < n && !isAsciiWs(s.charAt(i))) i += 1
      if (i > start) f(s.substring(start, i))
    }
  }

  def countTokens(text: UTF8String, m: Model): Int = {
    var total = 0
    eachWord(text)(w => total += viterbi(w, m)._2)
    total
  }

  def totalCost(text: UTF8String, m: Model): Long = {
    var total = 0L
    eachWord(text)(w => total += viterbi(w, m)._1)
    total
  }

  def tokens(text: UTF8String, m: Model): GenericArrayData = {
    val out = scala.collection.mutable.ArrayBuffer.empty[Any]
    eachWord(text) { w =>
      val (_, nTok, back, bounds) = viterbi(w, m)
      val pieces = new Array[Any](nTok)
      var i = bounds.length - 1 // codepoint positions, like the DP
      var k = nTok - 1
      while (i > 0) {
        val j = back(i)
        pieces(k) = UTF8String.fromString(w.substring(bounds(i - j), bounds(i)))
        i -= j
        k -= 1
      }
      out ++= pieces
    }
    new GenericArrayData(out.toArray)
  }

  /** Full DuckDB oracle statement: per-document (n_tokens,
    * total_cost_milli) under the packed DP, words whitespace-split and
    * truncated to `maxLen` chars (the ENGINE input must be truncated
    * identically — q160 does it in the shared fixture). The DP chain
    * rides a plain SELECT's lateral column aliases (dp0 → dp1 → …), one
    * row per word, then aggregates per id with a left join back so
    * wordless documents keep their zero row.
    */
  def duckDocOracleSql(
      table: String,
      idCol: String,
      textExpr: String,
      pieces: Seq[(String, Long)],
      unkCost: Long,
      maxLen: Int): String = {
    val chain = duckDpChain("w", pieces, unkCost, maxLen)
    val list = (0 to maxLen).map(i => s"dp$i").mkString(", ")
    s"""WITH words AS (
       |  SELECT $idCol AS __id, unnest(regexp_split_to_array($textExpr, '[ \\t\\n\\v\\f\\r]+')) AS w0
       |  FROM $table),
       |trunc AS (SELECT __id, substr(w0, 1, $maxLen) AS w FROM words WHERE len(w0) > 0),
       |dp AS (SELECT __id, w, CAST(0 AS BIGINT) AS dp0, $chain FROM trunc),
       |pk AS (SELECT __id, list_value($list)[len(w) + 1] AS packed FROM dp),
       |agg AS (SELECT __id, CAST(SUM(packed % 1024) AS BIGINT) AS n_tokens,
       |               CAST(SUM(packed // 1024) AS BIGINT) AS total_cost_milli
       |        FROM pk GROUP BY __id)
       |SELECT t.$idCol,
       |       CASE WHEN ($textExpr) IS NULL THEN NULL
       |            ELSE COALESCE(agg.n_tokens, 0) END AS n_tokens,
       |       CASE WHEN ($textExpr) IS NULL THEN NULL
       |            ELSE COALESCE(agg.total_cost_milli, 0) END AS total_cost_milli
       |FROM $table t LEFT JOIN agg ON t.$idCol = agg.__id
       |ORDER BY t.$idCol""".stripMargin
  }

  /** The dp1..dpN chained-alias column list. Packing contract: the DP
    * value is `cost·1024 + tokens`, so `LEAST` is exactly the
    * lexicographic (cost, tokens) minimum — valid because words here are
    * ≤ maxLen < 1024 chars (tokens fit the low bits) and the asserted
    * cost bound keeps the product in BIGINT. Single chars fall back to
    * `unkCost` via COALESCE, so every position is reachable (the engine's
    * coverage rule).
    */
  private def duckDpChain(
      wordExpr: String,
      pieces: Seq[(String, Long)],
      unkCost: Long,
      maxLen: Int): String = {
    require(maxLen >= 1 && maxLen < 1024, s"maxLen must be in [1, 1023], got $maxLen")
    val maxCost = (pieces.map(_._2) :+ unkCost).max
    // Division form: `maxCost * maxLen` could itself wrap Long for costs
    // near Long.MaxValue / maxLen and sneak past the guard, letting the
    // generated oracle's cost*1024 packing silently overflow BIGINT.
    require(maxCost >= 0 && maxCost < (Long.MaxValue >> 11) / maxLen,
      "packed DP would overflow BIGINT at these cost bounds")
    def lit(s: String) = "'" + s.replace("'", "''") + "'"
    val maxPieceLen = math.max(1, pieces.map(_._1.length).max)
    val byLen = pieces.groupBy(_._1.length)
    def caseFor(j: Int, i: Int): Option[String] = byLen.get(j).map { ps =>
      val arms = ps.sortBy(_._1)
        .map { case (p, c) => s"WHEN ${lit(p)} THEN $c" }.mkString(" ")
      s"CASE substr($wordExpr, ${i - j + 1}, $j) $arms END"
    }
    (1 to maxLen).map { i =>
      val arms = (1 to math.min(maxPieceLen, i)).flatMap { j =>
        val costSql =
          if (j == 1) Some(s"COALESCE(${caseFor(1, i).getOrElse("NULL")}, $unkCost)")
          else caseFor(j, i)
        costSql.map(c => s"(dp${i - j} + ($c) * 1024 + 1)")
      }
      val least = if (arms.size == 1) arms.head else s"LEAST(${arms.mkString(", ")})"
      s"CASE WHEN len($wordExpr) >= $i THEN $least END AS dp$i"
    }.mkString(",\n  ")
  }
}

/** string → int token count under a unigram piece model. */
case class UnigramTokenCount(child: Expression, model: UnigramSupport.Model)
    extends GraftUnary("graft_unigram_count", "a string", isString) {
  override def dataType: DataType = IntegerType

  protected def call(a: Any): Any = UnigramSupport.countTokens(utf8(a), model)
  protected def callCode(ctx: CodegenContext, a: String): String = {
    val ref = ctx.addReferenceObj("unigramModel", model, classOf[UnigramSupport.Model].getName)
    s"graft.functions.UnigramSupport.countTokens($a, $ref)"
  }

  override protected def withNewChildInternal(c: Expression): UnigramTokenCount = copy(child = c)
}

/** string → bigint total milli-cost under a unigram piece model. */
case class UnigramTokenCost(child: Expression, model: UnigramSupport.Model)
    extends GraftUnary("graft_unigram_cost", "a string", isString) {
  override def dataType: DataType = LongType

  protected def call(a: Any): Any = UnigramSupport.totalCost(utf8(a), model)
  protected def callCode(ctx: CodegenContext, a: String): String = {
    val ref = ctx.addReferenceObj("unigramModel", model, classOf[UnigramSupport.Model].getName)
    s"graft.functions.UnigramSupport.totalCost($a, $ref)"
  }

  override protected def withNewChildInternal(c: Expression): UnigramTokenCost = copy(child = c)
}

/** string → array<string> Viterbi segmentation under a unigram model. */
case class UnigramTokensOf(child: Expression, model: UnigramSupport.Model)
    extends GraftUnary("graft_unigram_tokens", "a string", isString) {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  protected def call(a: Any): Any = UnigramSupport.tokens(utf8(a), model)
  protected def callCode(ctx: CodegenContext, a: String): String = {
    val ref = ctx.addReferenceObj("unigramModel", model, classOf[UnigramSupport.Model].getName)
    s"graft.functions.UnigramSupport.tokens($a, $ref)"
  }

  override protected def withNewChildInternal(c: Expression): UnigramTokensOf = copy(child = c)
}

object UnigramExprs {
  def unigramTokens(text: Column, model: UnigramSupport.Model): Column =
    column(UnigramTokensOf(_, model), text)

  def unigramCount(text: Column, pieces: Seq[(String, Long)], unkCost: Long): Column =
    column(UnigramTokenCount(_, UnigramSupport.model(pieces, unkCost)), text)

  def unigramCost(text: Column, pieces: Seq[(String, Long)], unkCost: Long): Column =
    column(UnigramTokenCost(_, UnigramSupport.model(pieces, unkCost)), text)

  def unigramTokens(text: Column, pieces: Seq[(String, Long)], unkCost: Long): Column =
    column(UnigramTokensOf(_, UnigramSupport.model(pieces, unkCost)), text)
}

package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis operators for training-data pipelines: token statistics,
  * quality scoring, n-gram-marker language ID, document fingerprinting and a
  * BPE-ish regex token count. All pure per-row expressions (no shuffle, no
  * UDFs) — at 100 TB these run at parquet-scan speed.
  */
object TextAnalysis {

  def tokens(text: Column): Column = split(lower(text), "\\s+")

  val StopWords: Seq[String] =
    Seq("the", "a", "of", "and", "to", "in", "is", "it", "on", "for")

  /** The hashed n-gram feature stream and its bucket function — ONE
    * definition shared by [[hashedLinearScore]] and
    * [[Classifier.trainHashedPerceptron]]: a trained weight table is only
    * valid under the scorer's EXACT bucket mapping, and two drifting
    * copies would silently degrade the classifier to noise (training
    * still converges, scoring still runs — just against the wrong
    * indices).
    */
  private[operators] def hashedNgramFeatures(text: Column, maxNgram: Int): Column =
    (1 to maxNgram)
      .map(n => graft.functions.HashExprs.wordNGrams(text, n))
      .reduce(concat(_, _))

  private[operators] def featureBucket(f: Column, numBuckets: Int): Column =
    (Sampling.hash60(f) % numBuckets).cast("int")

  /** Marker-word language ID sets. Ties / no markers fall through to 'en'. */
  val LangMarkers: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("der", "die", "das", "und", "nicht", "ist"),
    "es" -> Seq("el", "los", "las", "una", "es", "y"),
    "fr" -> Seq("le", "les", "des", "une", "est", "et"),
    "en" -> Seq("the", "a", "of", "and", "is", "to")
  )

  /** All token-level counts in one native pass (see
    * [[graft.functions.TextStats]]): the derived operators below read struct
    * fields, and identical sibling calls within one projection collapse to a
    * single evaluation under whole-stage-codegen subexpression elimination.
    * Semantics (tokenization, lowercase, code-point lengths) are those of the
    * previous split/filter/aggregate composition — the DuckDB oracles are
    * unchanged.
    */
  private def stats(text: Column): Column =
    graft.functions.HashExprs.textStats(text, StopWords, LangMarkers.map(_._2))

  def tokenCount(text: Column): Column = stats(text).getField("n")

  def uniqueTokenCount(text: Column): Column = stats(text).getField("n_unique")

  /** Mean token length as exact-int division (sum of lengths / count).
    * Returned unrounded: the division of exact ints is bit-deterministic,
    * while a final round() can disagree across engines on .5 boundaries.
    */
  def meanTokenLen(text: Column): Column = {
    val s = stats(text)
    s.getField("total_len").cast("double") / s.getField("n")
  }

  def stopwordRatio(text: Column): Column = {
    val s = stats(text)
    s.getField("n_stop").cast("double") / s.getField("n")
  }

  /** Composite quality score in [0,1]: stopword presence, token-length
    * plausibility, document length. Deterministic double arithmetic from
    * exact integer counts.
    */
  def qualityScore(text: Column): Column = {
    val s = stats(text)
    val n = s.getField("n")
    val stopR = s.getField("n_stop").cast("double") / n
    val meanLen = s.getField("total_len").cast("double") / n
    val lenScore = least(meanLen / lit(8.0), lit(1.0))
    val sizeScore = least(n.cast("double") / lit(50.0), lit(1.0))
    lit(0.3) * stopR + lit(0.3) * lenScore + lit(0.4) * sizeScore
  }

  def langId(text: Column): Column = {
    val marks = stats(text).getField("marks")
    // argmax where each branch requires a STRICT lead, so leader ties fall
    // through to the LATER-listed language (de==es → es; all tied → en).
    // This is the behavior the oracle replays — callers wanting a different
    // tie priority must reorder the chain, not trust declaration order.
    val Seq(de, es, fr, en) = LangMarkers.indices.map(i => element_at(marks, i + 1))
    when(de > es && de > fr && de > en, "de")
      .when(es > fr && es > en, "es")
      .when(fr > en, "fr")
      .otherwise("en")
  }

  /** Normalized-content fingerprint: lowercase, collapse whitespace, trim,
    * md5. Plus a 16-hex-char prefix fingerprint for cheap equality blocking.
    */
  def fingerprint(text: Column): Column =
    md5(trim(regexp_replace(lower(text), "\\s+", " ")))

  def fingerprintPrefix(text: Column): Column = substring(fingerprint(text), 1, 16)

  /** BPE-ish token count: alpha runs, digit runs, or single non-space
    * symbols — the standard pre-tokenizer shape.
    */
  def bpeishTokenCount(text: Column): Column =
    regexp_count(text, lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"))

  /** Rolling-hash winnowing fingerprints (Schleimer-Wilkerson-Aiken,
    * SIGMOD 2003) over the whitespace-normalized document: k-gram
    * Rabin-Karp hashes, then the distinct sliding-window minima (window w).
    * Any two documents sharing a substring of length >= w + k - 1 share a
    * fingerprint — the MOSS-style partial-overlap detector, complementing
    * [[fingerprint]]'s whole-document equality. O(n) per row (monotonic
    * deque inside a codegen expression), no shuffle.
    */
  def winnowingFingerprints(text: Column, k: Int = 5, w: Int = 8): Column =
    graft.functions.HashExprs.winnowingFingerprints(
      trim(regexp_replace(lower(text), "\\s+", " ")), k, w)

  /** Boundary-aware sentence chunking — the alternative to [[tokenChunks]]
    * when mid-sentence splits are unacceptable (instruction data, QA
    * contexts): sentences (split on `". "`) pack greedily into
    * `maxTokens`-sized chunks under the [[Sampling
    * .packSequences]] boundary convention — a sentence is NEVER split;
    * chunk_id = (tokens before the sentence) DIV maxTokens, so a
    * boundary-straddling sentence joins the EARLIER chunk (which may then
    * exceed maxTokens — the price of never splitting a sentence), and a
    * sentence longer than maxTokens overflows its own chunk rather than
    * being cut.
    * Deterministic by construction (sentence order is textual order), and
    * the assignment is exact integer arithmetic the oracle replays with a
    * window prefix sum. One hash shuffle on the doc key for the per-doc
    * window; token counting filters empty splits (the q123/q124 rule).
    *
    * @return one row per sentence: df's id + (sent_idx, n_tokens,
    *         chunk_id, sentence)
    */
  def sentenceChunks(
      df: org.apache.spark.sql.DataFrame,
      idCol: String,
      textCol: String,
      maxTokens: Int
  ): org.apache.spark.sql.DataFrame = {
    require(maxTokens >= 1, "maxTokens must be >= 1")
    val outCols = Seq("sent_idx", "sentence", "n_tokens", "chunk_id")
    // the id must not share a name with an OUTPUT either: the old carve-out
    // (c != idCol) let idCol = "chunk_id" through, and the withColumn below
    // then silently overwrote the document key
    require(!outCols.contains(idCol),
      s"idCol '$idCol' collides with an output column (${outCols.mkString("/")}) — rename the id first")
    require(!outCols.exists(df.columns.contains),
      s"input already has one of ${outCols.mkString("/")} — rename it before chunking")
    import org.apache.spark.sql.expressions.Window
    val sentences = df
      .select(col(idCol), posexplode(split(col(textCol), "\\. ")).as(Seq("sent_idx", "sentence")))
      .withColumn(
        "n_tokens",
        size(filter(split(trim(col("sentence")), "\\s+"), w => length(w) > 0)).cast("long"))
    val cum = Window
      .partitionBy(col(idCol))
      .orderBy(col("sent_idx"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    sentences
      .withColumn("__cum", sum(col("n_tokens")).over(cum))
      .withColumn("chunk_id", expr(s"(__cum - n_tokens) DIV $maxTokens"))
      .drop("__cum")
  }

  /** C4-style LINE-level cleaning (Raffel et al. 2020's heuristics, the
    * line half): a line survives iff it carries at least `minWordsPerLine`
    * non-empty words AND contains none of `badPhrases` (case-insensitive
    * substring match — the "javascript"/policy-boilerplate rule). Returns
    * the kept lines re-joined plus per-doc counts, so the caller can gate
    * (drop docs whose kept fraction collapses) or replace text with the
    * cleaned form. Pure per-row array expression — no shuffle; word
    * counting filters empty splits explicitly so blank lines and
    * whitespace runs count identically on any engine (the oracle replays
    * the same lambda chain).
    *
    * @return df's rows + (n_lines, n_kept_lines, kept_text)
    */
  def c4LineFilter(
      df: org.apache.spark.sql.DataFrame,
      textCol: String,
      minWordsPerLine: Int = 5,
      badPhrases: Seq[String] = Seq("javascript", "cookie policy", "terms of use")
  ): org.apache.spark.sql.DataFrame = {
    require(minWordsPerLine >= 0, "minWordsPerLine must be >= 0")
    require(badPhrases.forall(p => p.nonEmpty && p == p.toLowerCase(java.util.Locale.ROOT)),
      "badPhrases must be non-empty lowercase strings (matching is case-insensitive)")
    val outCols = Seq("n_lines", "n_kept_lines", "kept_text")
    require(!outCols.exists(df.columns.contains),
      s"c4LineFilter writes output columns ${outCols.mkString(", ")}; the input already has " +
        "one — rename it before calling")
    // null text behaves like empty text (size(NULL) is -1 under
    // ansi=false — counts must never go negative)
    val lines = split(coalesce(col(textCol), lit("")), "\n")
    val words = (l: Column) => filter(split(trim(l), "\\s+"), w => length(w) > 0)
    val keep = (l: Column) =>
      size(words(l)) >= minWordsPerLine &&
        badPhrases.foldLeft(lit(true)) { (acc, p) => acc && !lower(l).contains(p) }
    df.withColumn("n_lines", size(lines))
      .withColumn("__kl", filter(lines, keep))
      .withColumn("n_kept_lines", size(col("__kl")))
      .withColumn("kept_text", array_join(col("__kl"), "\n"))
      .drop("__kl")
  }

  /** Gopher document-level quality rules (Rae et al. 2021, the repetition
    * rules' sibling family): word-count bounds, mean-word-length bounds,
    * symbol-to-word ratio, bullet-line and ellipsis-line fractions. Every
    * statistic is an EXACT integer (permille via `DIV`, never a double
    * division) so the verdicts are bit-stable on any engine and
    * parallelism — the determinism contract. Definitions, stated once and
    * replayed by the oracle: words are non-empty whitespace splits;
    * symbol words contain `#` or `...`; a bullet line starts (after trim)
    * with `- ` or `* `; an ellipsis line ends with `...`; ratios of an
    * empty denominator are 0.
    *
    * @return df's rows + (n_words, mean_len_permille, symbol_permille,
    *         bullet_permille, ellipsis_permille, gopher_pass)
    */
  def gopherRules(
      df: org.apache.spark.sql.DataFrame,
      textCol: String,
      minWords: Int = 50,
      maxWords: Int = 100000,
      minMeanLenPermille: Long = 3000L,
      maxMeanLenPermille: Long = 10000L,
      maxSymbolPermille: Long = 100L,
      maxBulletPermille: Long = 900L,
      maxEllipsisPermille: Long = 300L
  ): org.apache.spark.sql.DataFrame = {
    val outCols = Seq("n_words", "mean_len_permille", "symbol_permille", "bullet_permille",
      "ellipsis_permille", "gopher_pass")
    require(!outCols.exists(df.columns.contains),
      s"gopherRules writes output columns ${outCols.mkString(", ")}; the input already has " +
        "one — rename it before calling")
    // null text behaves like empty text (same size(NULL) = -1 hazard as
    // c4LineFilter — a null doc must fail the word-count bound, not carry
    // negative statistics)
    val text = coalesce(col(textCol), lit(""))
    val words = filter(split(text, "\\s+"), w => length(w) > 0)
    val lines = split(text, "\n")
    val nw = size(words).cast("long")
    val chars = aggregate(words, lit(0L), (acc, w) => acc + length(w).cast("long"))
    val nSym = size(filter(words, w => w.contains("#") || w.contains("..."))).cast("long")
    val nl = size(lines).cast("long")
    val nBullet = size(filter(lines, l =>
      trim(l).startsWith("- ") || trim(l).startsWith("* "))).cast("long")
    val nEllipsis = size(filter(lines, l => trim(l).endsWith("..."))).cast("long")
    df.withColumn("n_words", nw)
      .withColumn("__chars", chars)
      .withColumn(
        "mean_len_permille",
        when(nw > 0, expr("__chars * 1000 DIV n_words")).otherwise(lit(0L)))
      .withColumn("__nsym", nSym)
      .withColumn(
        "symbol_permille",
        when(nw > 0, expr("__nsym * 1000 DIV n_words")).otherwise(lit(0L)))
      .withColumn("__nl", nl)
      .withColumn("__nb", nBullet)
      .withColumn("__ne", nEllipsis)
      .withColumn(
        "bullet_permille",
        when(col("__nl") > 0, expr("__nb * 1000 DIV __nl")).otherwise(lit(0L)))
      .withColumn(
        "ellipsis_permille",
        when(col("__nl") > 0, expr("__ne * 1000 DIV __nl")).otherwise(lit(0L)))
      .withColumn(
        "gopher_pass",
        col("n_words") >= minWords && col("n_words") <= maxWords &&
          col("mean_len_permille") >= minMeanLenPermille &&
          col("mean_len_permille") <= maxMeanLenPermille &&
          col("symbol_permille") <= maxSymbolPermille &&
          col("bullet_permille") <= maxBulletPermille &&
          col("ellipsis_permille") <= maxEllipsisPermille)
      .drop("__chars", "__nsym", "__nl", "__nb", "__ne")
  }

  /** Fill-in-the-middle transform (Bavarian et al. 2022, "Efficient
    * Training of Language Models to Fill in the Middle"): a deterministic
    * `numerator/denominator` band of docs is rewritten into PSM layout —
    * sentinel-delimited (prefix, suffix, middle) with the middle moved to
    * the end, so an autoregressive model learns infilling "for free".
    * Selection AND the two split points come from the portable key hash
    * (id salted with `#fim1`/`#fim2`, modulo length+1), so the transform
    * is reproducible across runs, partitionings, and engines — the same
    * contract as every sampler here, and fully replayable by the oracle
    * (pure substr arithmetic; character positions, so engines agree
    * independent of byte encodings). Docs outside the band, or shorter
    * than `minChars`, pass through untouched with `fim = false`. Pure
    * per-row projection — no shuffle.
    *
    * @return df's rows + (fim: boolean, fim_text: the PSM rendering, or
    *         the original text when fim = false)
    */
  def fimTransform(
      df: org.apache.spark.sql.DataFrame,
      idCol: String,
      textCol: String,
      numerator: Int,
      denominator: Int,
      minChars: Int,
      preTok: String = "<PRE>",
      sufTok: String = "<SUF>",
      midTok: String = "<MID>"
  ): org.apache.spark.sql.DataFrame = {
    require(denominator > 0 && numerator >= 0 && numerator <= denominator, "need 0 <= num <= den")
    require(minChars >= 1, "minChars must be >= 1")
    require(!df.columns.contains("fim") && !df.columns.contains("fim_text"),
      "fimTransform writes output columns 'fim' and 'fim_text'; the input already has one — " +
        "rename it before calling")
    val id = col(idCol)
    val text = col(textCol)
    val n = length(text)
    // coalesce to FALSE: a NULL id or NULL text made `selected` NULL, and
    // the documented "pass through untouched with fim = false" contract
    // broke — NULL is not-true under BOTH filter(fim) and filter(!fim),
    // so such rows vanished from every branch of a fim/non-fim split
    val selected = coalesce(
      Sampling.hash60(id) % denominator < numerator && n >= minChars,
      lit(false))
    def cut(salt: String): Column =
      pmod(Sampling.hash60(concat(id.cast("string"), lit(salt))), n + 1)
    val c1 = cut("#fim1")
    val c2 = cut("#fim2")
    val lo = least(c1, c2)
    val hi = greatest(c1, c2)
    val prefix = text.substr(lit(1), lo)
    val middle = text.substr(lo + 1, hi - lo)
    val suffix = text.substr(hi + 1, n - hi)
    val rendered = concat(lit(preTok), prefix, lit(sufTok), suffix, lit(midTok), middle)
    df.withColumn("fim", selected)
      .withColumn("fim_text", when(col("fim"), rendered).otherwise(text))
  }

  /** Overlapping token-window chunks — the context-window splitter of a
    * training pipeline. Each chunk is `chunkSize` whitespace tokens starting
    * every `stride` tokens (stride < chunkSize ⇒ overlap); the tail chunk is
    * short rather than dropped, and a doc shorter than one chunk yields
    * itself. Pure per-row array expression (explode at the call site): no
    * shuffle, and chunk identity is (doc, start) — deterministic under any
    * partitioning.
    *
    * @return array<struct<start:int, ntok:int, chunk:string>> — token start
    *         offset, tokens in the chunk, and the space-joined chunk text.
    */
  def tokenChunks(text: Column, chunkSize: Int, stride: Int): Column = {
    require(chunkSize > 0 && stride > 0, "chunkSize and stride must be positive")
    val toks = split(text, "\\s+")
    val n = size(toks)
    val nChunks = when(n <= chunkSize, lit(1))
      .otherwise(floor((n - chunkSize + stride - 1) / lit(stride)).cast("int") + 1)
    // NULL text -> NULL array (the house null propagation; explode drops
    // it): under ansi=false size(NULL) is -1, which minted a phantom
    // {start:0, ntok:-1, chunk:""} training chunk per null-text doc
    when(text.isNotNull, transform(
      sequence(lit(0), nChunks - 1),
      i => {
        val sl = slice(toks, i * stride + 1, lit(chunkSize))
        struct(
          (i * stride).cast("int").as("start"),
          size(sl).as("ntok"),
          concat_ws(" ", sl).as("chunk")
        )
      }
    ))
  }

  /** Corpus vocabulary with exact term and document frequencies — the
    * tokenizer-training / vocabulary-pruning primitive. Two-level
    * aggregation: the (term, doc) level combines map-side BEFORE the term
    * shuffle, so a heavy hitter ("the" in half the corpus) arrives at its
    * reducer as one partial row per upstream partition, never as raw token
    * occurrences — frequency skew is absorbed by partial aggregation, which
    * is exactly why exact counts stay feasible at 100 TB. (For a
    * fixed-memory approximate path see [[heavyHittersSketch]].)
    *
    * @return (term, tf, df): total occurrences and distinct-document count
    */
  def vocabulary(docs: org.apache.spark.sql.DataFrame, idCol: String, textCol: String): org.apache.spark.sql.DataFrame =
    docs
      .select(col(idCol), explode(tokens(col(textCol))).as("term"))
      .groupBy(col("term"), col(idCol))
      .agg(count(lit(1)).as("tf_doc"))
      .groupBy(col("term"))
      .agg(sum(col("tf_doc")).as("tf"), count(lit(1)).as("df"))

  /** Approximate heavy hitters: a Count-Min sketch over the token stream
    * (Cormode & Muthukrishnan, J.Algorithms 2005). Fixed memory regardless
    * of vocabulary size, mergeable across partitions/sources (the
    * distributed build merges per-partition sketches), estimates are
    * one-sided: `true ≤ estimate ≤ true + eps·N` with the configured
    * confidence. The exact [[vocabulary]] is the verifier.
    */
  def heavyHittersSketch(
      docs: org.apache.spark.sql.DataFrame,
      textCol: String,
      eps: Double = 0.0001,
      confidence: Double = 0.99,
      seed: Int = 42
  ): org.apache.spark.util.sketch.CountMinSketch =
    docs
      .select(explode(tokens(col(textCol))).as("term"))
      .stat
      .countMinSketch("term", eps, confidence, seed)

  /** Per-document n-gram novelty report — the boilerplate signal: what
    * fraction of a doc's DISTINCT word n-grams appear in at most `rareDf`
    * documents corpus-wide. Low rare_frac = the doc is assembled from
    * corpus-common text (templates, navigation, license blocks); high =
    * genuinely novel content. The complement of the winnowing/paragraph
    * dedup family: those find WHO shares text, this scores HOW MUCH of a
    * doc is shared at all.
    *
    * Scale shape: one distinct shuffle on (doc, gram) + one count window
    * over the gram — the vocabulary-aggregation cost class (hot grams
    * combine map-side in the distinct). rare_frac is a single division of
    * two exactly-agreed BIGINTs, so it is bit-deterministic (Qdef).
    *
    * @return (doc_id, n_grams, n_rare, rare_frac)
    */
  def noveltyReport(
      docs: org.apache.spark.sql.DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 3,
      rareDf: Int = 1
  ): org.apache.spark.sql.DataFrame = {
    val grams = docs
      .select(col(idCol).as("doc_id"), explode(graft.functions.HashExprs.wordNGrams(col(textCol), n)).as("gram"))
      .distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // gram document frequency via a groupBy AGGREGATE joined back, not a
    // count window: a boilerplate gram shared corpus-wide collapses to one
    // row per map task in the aggregate's partials and the join-back is
    // AQE-skew-splittable, where a window over gram would buffer the hot
    // gram's whole partition in one un-splittable task. grams persists:
    // the df aggregate and the probe both read it.
    val dfPerGram = grams.groupBy("gram").agg(count(lit(1)).as("df"))
    grams
      .join(dfPerGram, Seq("gram"))
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_grams"),
        sum(when(col("df") <= rareDf, 1L).otherwise(0L)).as("n_rare")
      )
      .withColumn("rare_frac", col("n_rare").cast("double") / col("n_grams"))
  }

  /** Novelty vs a REFERENCE corpus — the continued-pretraining selection
    * signal ([[noveltyReport]]'s cross-corpus sibling: that one scores
    * self-novelty within the corpus; this scores freshness against what a
    * model has already seen). Per doc: its distinct word n-grams, how many
    * never occur in `ref`, and the fraction.
    *
    * Scale shape: the reference gram set aggregates to DISTINCT once and
    * the per-doc membership join runs on the gram hash — broadcast while
    * the reference vocabulary fits (gram vocabularies saturate far below
    * corpus size), AQE-shuffled over it. For reference sets where only the
    * BITS fit, [[bloomNoveltyLowerBound]] is the scan-side fast path.
    *
    * @return (doc_id, n_grams, n_new, new_frac)
    */
  def noveltyVsReference(
      docs: org.apache.spark.sql.DataFrame,
      ref: org.apache.spark.sql.DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 3
  ): org.apache.spark.sql.DataFrame = {
    val grams = docs
      .select(col(idCol).as("doc_id"), explode(graft.functions.HashExprs.wordNGrams(col(textCol), n)).as("gram"))
      .distinct()
    val refGrams = ref
      .select(explode(graft.functions.HashExprs.wordNGrams(col(textCol), n)).as("gram"))
      .distinct()
      .withColumn("__seen", lit(true))
    grams
      .join(refGrams, Seq("gram"), "left")
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_grams"),
        sum(when(col("__seen").isNull, 1L).otherwise(0L)).as("n_new")
      )
      .withColumn("new_frac", col("n_new").cast("double") / col("n_grams"))
  }

  /** Scan-side LOWER BOUND on [[noveltyVsReference]]'s n_new, against a
    * bloom of the reference grams: a gram the bloom rejects is PROVABLY
    * absent from the reference (blooms cannot false-negative), while a
    * bloom hit is only "maybe seen" — so this undercounts novelty by
    * exactly the false-positive rate and never overcounts. Pure per-row
    * projection, no join, no shuffle: the 100 TB shape when only the
    * reference's BITS fit an executor. Build the bits with
    * `BloomExprs.bloomAgg` over md5-prefix gram hashes
    * ([[Sampling.hash60]], the portable hash).
    */
  def bloomNoveltyLowerBound(text: Column, bloomBits: Array[Byte], n: Int = 3): Column = {
    val grams = array_distinct(graft.functions.HashExprs.wordNGrams(text, n))
    size(filter(grams, g =>
      !graft.functions.BloomExprs.mightContain(lit(bloomBits), Sampling.hash60(g))))
  }

  /** Exact-integer compression ratio in permille: 1000 · deflated / raw
    * bytes of the UTF-8 text ([[graft.functions.CompressExprs.deflatedSize]]).
    * Low permille = highly redundant (boilerplate/template/generated) —
    * the cheap scan-side gate complementing q65's token repetition.
    * NULL for empty text (no bytes to measure).
    */
  def compressionPermille(text: Column, level: Int = 6): Column = {
    val bytes = encode(text, "UTF-8")
    when(
      octet_length(bytes) > 0,
      (lit(1000L) * graft.functions.CompressExprs.deflatedSize(bytes, level)
        .cast("long")) / octet_length(bytes)
    ).cast("long")
  }

  /** Code-corpus hygiene signals — the Stack/StarCoder-class filters a
    * code slice of a training mix needs and prose filters never compute
    * (the q30/q123/q124 family, aimed at source files):
    *
    *  - `n_lines`, `max_line_len`, `avg_line_len` (exact integer: non-
    *    newline chars DIV lines) — MINIFIED/bundled artifacts are the code
    *    corpus's boilerplate class: one 80 kB line of webpack output
    *    teaches a model nothing a thousand times over,
    *  - `ws_permille` — whitespace density; minifiers strip it, generators
    *    and humans keep it,
    *  - `license` — first-400-chars license-family tag
    *    (apache/mit/bsd/gpl/mpl, first match in that fixed order, NULL
    *    when none): license-aware filtering is a LEGAL gate for code
    *    corpora, not a quality nicety,
    *  - `is_generated` — "do not edit"/"auto-generated"/"@generated"
    *    marker in the first 1024 chars (the conventional machine-output
    *    stamps protoc/stringer/grpc emit),
    *  - `is_minified` — max_line_len ≥ 500 or avg_line_len ≥ 200.
    *
    * Everything is built-in string/array expressions (whole-stage codegen,
    * zero shuffles) with exact integer arithmetic — replayable by a SQL
    * oracle, the house rule.
    */
  def codeHygiene(text: Column): Column = {
    // exact floor division for positive longs: subtract the remainder, then
    // the double division is exact (numerator divisible, values << 2^53)
    def idiv(a: Column, b: Column): Column = ((a - pmod(a, b)) / b).cast("long")
    val lines = split(text, "\n", -1)
    val nLines = size(lines).cast("long")
    val maxLine = coalesce(array_max(transform(lines, l => length(l).cast("long"))), lit(0L))
    val nonNl = length(text).cast("long") - (nLines - 1)
    val avgLine = idiv(nonNl, nLines) // split("") = [""], so nLines >= 1
    val ws = length(text).cast("long") -
      length(regexp_replace(text, "[ \t\r\n]", "")).cast("long")
    val wsPermille =
      when(length(text) > 0, idiv(lit(1000L) * ws, length(text).cast("long")))
        .otherwise(lit(0L))
    val head400 = lower(substring(text, 1, 400))
    val license = when(head400.contains("apache license"), "apache")
      .when(head400.contains("mit license"), "mit")
      .when(head400.contains("bsd license"), "bsd")
      .when(head400.contains("gnu general public license"), "gpl")
      .when(head400.contains("mozilla public license"), "mpl")
    val head1k = lower(substring(text, 1, 1024))
    val generated = head1k.contains("do not edit") ||
      head1k.contains("auto-generated") || head1k.contains("@generated")
    val minified = maxLine >= 500L || avgLine >= 200L
    struct(
      nLines.as("n_lines"),
      maxLine.as("max_line_len"),
      avgLine.as("avg_line_len"),
      wsPermille.as("ws_permille"),
      license.as("license"),
      generated.as("is_generated"),
      minified.as("is_minified"))
  }

  /** fastText-style hashed linear text scorer (Joulin, Grave, Bojanowski &
    * Mikolov, "Bag of tricks for efficient text classification", EACL
    * 2017; Weinberger et al.'s hashing trick, ICML 2009) — the shape of
    * the quality classifiers big-corpus curation pipelines gate on: every
    * word n-gram (n = 1..maxNgram, the min-1 [[graft.functions.NGramSupport.wordNGrams]]
    * semantics) hashes into one of `weights.length` buckets via the
    * portable md5-prefix hash, and the score is the exact BIGINT sum of
    * the hit buckets' integer weights.
    *
    * Weights are caller-supplied SCALED INTEGERS (train elsewhere, ship
    * the table): integer summation makes the score independent of
    * evaluation order and bit-reproducible by the SQL oracle, the repo's
    * exactness pattern (Qdef). Thresholding/ranking on the linear score is
    * equivalent to doing so on the sigmoid (monotone), so no float ever
    * appears. Pure per-row projection — no shuffle; the weight table
    * travels as a literal (broadcast-equivalent) and costs
    * 8·|buckets| bytes.
    */
  def hashedLinearScore(text: Column, weights: Array[Long], maxNgram: Int = 2): Column = {
    require(weights.nonEmpty, "need a non-empty weight table")
    require(maxNgram >= 1, s"maxNgram must be >= 1, got $maxNgram")
    val b = weights.length
    val w = array(weights.map(lit): _*)
    val feats = hashedNgramFeatures(text, maxNgram)
    aggregate(feats, lit(0L), (acc, f) => acc + element_at(w, featureBucket(f, b) + 1))
  }
}

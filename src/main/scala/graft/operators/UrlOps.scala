package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** URL canonicalization and registered-domain derivation — how production
  * web corpora are keyed for per-source statistics and mixture weighting
  * (the same URL crawled as `HTTP://WWW.Site.COM:80/x?utm_source=feed#top`
  * and `http://site.com/x` must count as ONE source).
  *
  * Rules (deterministic, applied in order; all plain regexp/string
  * builtins, so the whole chain is codegen'd AND replayable in the DuckDB
  * oracle via the paired `duck*Sql` builders below — one definition per
  * rule, two renderings, spec-pinned to agree):
  *
  *   1. trim; split at the authority boundary (`scheme://authority` vs
  *      path-query-fragment)
  *   2. userinfo dropped (`user:pass@host` → `host` — credentials are
  *      never part of a source identity, and leaving them in breaks the
  *      host parse); scheme and host lowercase; leading `www.` dropped
  *   3. default ports dropped (`:80` for http, `:443` for https)
  *   4. fragment dropped
  *   5. tracking parameters dropped (utm_*, gclid, fbclid, msclkid,
  *      igshid, ref_src), separators re-collapsed, dangling `?`/`&`
  *      trimmed
  *   6. a bare-root `/` path dropped
  *
  * Path case and non-tracking query parameters are PRESERVED (they are
  * semantic); parameter reordering and percent-encoding normalization are
  * deliberately out of scope. Registered domain uses a compact heuristic
  * over the public-suffix idea: the last two labels, or the last three
  * when the middle label is a common second-level suffix (co/com/net/org/
  * ac/gov/edu) under a two-letter country TLD — the full Mozilla PSL is a
  * data file a deployment can swap in, but the heuristic covers the
  * dominant cases without shipping one.
  */
object UrlOps {

  private val TrackingParams = "utm_[a-z0-9_]*|gclid|fbclid|msclkid|igshid|ref_src"
  private val SecondLevel = "co|com|net|org|ac|gov|edu"

  /** Canonical form of a URL column (see object doc for the rules). */
  def canonicalizeUrl(url: Column): Column = {
    val t = trim(url)
    val head = regexp_extract(t, "^[^/?#]+://[^/?#]*", 0)
    val rest = substring(t, length(head) + 1, lit(1 << 30))
    val h = regexp_replace(
      regexp_replace(
        regexp_replace(
          regexp_replace(lower(head), "://[^/@]*@", "://"),
          "://www\\.", "://"),
        "^(http://[^/:]+):80$", "$1"),
      "^(https://[^/:]+):443$", "$1")
    val r = regexp_replace(
      regexp_replace(
        regexp_replace(
          regexp_replace(
            regexp_replace(rest, "#.*", ""),
            s"([?&])($TrackingParams)=[^&#]*", "$1"),
          "([?&])&+", "$1"),
        "[?&]$", ""),
      "^/$", "")
    concat(h, r)
  }

  /** Registered domain of a CANONICAL url (host minus subdomains under the
    * compact suffix heuristic); the bare host when it has no dot.
    */
  def registeredDomain(canonicalUrl: Column): Column = {
    val host = regexp_extract(canonicalUrl, "^[a-z0-9+.-]+://([^/:?#]+)", 1)
    val reg = regexp_extract(host, s"([^.]+\\.(?:$SecondLevel)\\.[a-z]{2}|[^.]+\\.[^.]+)$$", 1)
    when(reg === "", host).otherwise(reg)
  }

  /** Per-domain corpus report: docs, token total, and exact permille share
    * of tokens — the inspection table behind domain-budget mixtures. One
    * hash shuffle on the derived domain; the canonicalization itself is a
    * scan-side projection.
    */
  def domainReport(df: DataFrame, urlCol: Column, tokens: Column): DataFrame = {
    val dom = registeredDomain(canonicalizeUrl(urlCol))
    // persisted: the per-domain aggregate feeds TWO actions — the eager
    // total check below and the returned plan — and without the cache the
    // canonicalize+groupBy pipeline scans the corpus twice. Domain-sized
    // (one row per registered domain), so the cache is tiny; Spark's
    // ContextCleaner reclaims it once the result plan is unreferenced.
    val agg = df
      .select(dom.as("domain"), tokens.cast("long").as("__tok"))
      .groupBy(col("domain"))
      .agg(count(lit(1)).as("docs"), sum(col("__tok")).as("tokens"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // A NULL sum (empty input or all-null token counts) would NPE at
    // getLong and a zero total would render NULL permilles — fail loudly
    // with the actual problem instead.
    val totalBoxed = agg.agg(sum(col("tokens"))).head.getAs[java.lang.Long](0)
    require(totalBoxed != null && totalBoxed.longValue() > 0L,
      s"domainReport: corpus token total is ${Option(totalBoxed).getOrElse("NULL")} — " +
        "empty input or all-null token counts; permille shares are undefined")
    val total = totalBoxed.longValue()
    // integer DIV, not `/` (which widens to double) — exact permille
    agg.withColumn("token_permille", expr(s"tokens * 1000 DIV ${total}L"))
  }

  /** Registered domain of a CANONICAL url under a caller-supplied
    * public-suffix list — the data-file form the object doc promises: the
    * FULL published PSL algorithm (exception rules prevail, then longest
    * matching rule with wildcard `*.x` bases one label deep, whole-host
    * rules give NULL, default-`*` when nothing matches) over rules
    * compiled into broadcast-style reference HashSets
    * ([[graft.functions.UrlExprs.pslDomain]] — O(labels) lookups per row
    * at any list size; the 7-suffix heuristic of [[registeredDomain]]
    * stays the no-file fallback). Parse a PSL-format file with
    * [[graft.functions.PslSupport.parseSuffixList]]; the stock Mozilla
    * list loads verbatim — all three rule kinds are supported.
    */
  def registeredDomainPsl(canonicalUrl: Column, rules: Seq[String]): Column = {
    val host = regexp_extract(canonicalUrl, "^[a-z0-9+.-]+://([^/:?#]+)", 1)
    graft.functions.UrlExprs.pslDomain(host, rules)
  }

  /** Canonical-URL dedup: keep the single best doc per CANONICAL url — the
    * crawl-dedup pass that precedes content dedup in every web pipeline
    * (the same page fetched as `HTTP://WWW.x.COM:80/p?utm_source=a#top`
    * and `http://x.com/p` is one document, whatever its bytes did).
    * Survivor = highest `quality`, ties to the smallest id — the same
    * keep-best rule as [[Dedup.keepBestPerCluster]], with the canonical
    * URL as the (free, scan-side) cluster key: no banding, no pair
    * search, one hash shuffle on the canonical string.
    *
    * Scale shape: the window partitions by canonical URL, so a group is
    * ONE page's crawl copies — bounded by re-crawl policy, not corpus
    * size (a hot URL with millions of copies would be the skew flag;
    * dedupe such a feed upstream by (url, content digest) first).
    *
    * @return survivors with their `canonical_url` appended
    */
  def canonicalUrlDedup(
      df: DataFrame,
      idCol: String,
      urlCol: Column,
      quality: Column
  ): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(!df.columns.contains("canonical_url"),
      "canonicalUrlDedup writes output column 'canonical_url'; the input already has one — " +
        "rename it before calling")
    val w = Window
      .partitionBy(col("canonical_url"))
      .orderBy(quality.desc, col(idCol).asc)
    // a row with NO usable URL (null or blank canonical) has no dedup
    // identity and passes through unexamined: the bare window would put
    // every such row in ONE partition and keep exactly one survivor —
    // 10,000 null-url docs silently deleting 9,999 of themselves. (The
    // window expression still evaluates for those rows; the `when` just
    // discards its rank — one pass, no union split.)
    val hasKey = col("canonical_url").isNotNull && trim(col("canonical_url")) =!= ""
    df.withColumn("canonical_url", canonicalizeUrl(urlCol))
      .withColumn("__rk", when(hasKey, row_number().over(w)).otherwise(1))
      .filter(col("__rk") === 1)
      .drop("__rk")
  }

  /** The STATIC side of the incremental canonical-URL dedup — the crawl
    * twin of [[Dedup.corpusIndex]] for the q119 family: one row per
    * canonical URL already in the corpus, carrying the corpus's BEST
    * (quality DESC, id ASC) holder of that URL, so a probe batch can
    * reproduce [[canonicalUrlDedup]]'s keep-best verdict without touching
    * the corpus again. Build once (and persist) per corpus snapshot.
    *
    * @return (canonical_url, corpus_id, corpus_quality)
    */
  def canonicalUrlCorpusIndex(
      corpus: DataFrame,
      idCol: String,
      urlCol: Column,
      quality: Column
  ): DataFrame =
    canonicalUrlDedup(corpus, idCol, urlCol, quality)
      .select(col("canonical_url"), col(idCol).as("corpus_id"), quality.as("corpus_quality"))

  /** Probe a batch of docs against a [[canonicalUrlCorpusIndex]]: the
    * INCREMENTAL form of [[canonicalUrlDedup]] — a batch doc survives iff
    * it would survive the batch operator run over corpus ∪ batch. Two
    * steps, both exactly the batch rule: keep-best WITHIN the batch (the
    * same window), then a left join against the index keeps a candidate
    * iff its URL is new to the corpus or it BEATS the corpus's best holder
    * under the identical (quality DESC NULLS LAST, id ASC) order — so the
    * survivor set equals the batch operator's restricted to batch ids
    * (StreamsSpec parity law). Streaming composition:
    * this function inside `foreachBatch` (StreamsSpec drives it on a real
    * stream; [[graft.streaming.Streams.intakeBatch]] calls it per batch).
    *
    * Scale shape: one hash shuffle of the BATCH on canonical_url (group
    * sizes bounded by re-crawl policy, as in the batch operator) plus one
    * equi-join against the URL-scale index — the batch side is micro-batch
    * sized, so AQE broadcasts it against the big static side.
    *
    * @return surviving batch rows with `canonical_url` appended
    */
  def canonicalUrlProbeDedup(
      batch: DataFrame,
      idCol: String,
      urlCol: Column,
      quality: Column,
      index: DataFrame
  ): DataFrame = {
    require(
      Seq("canonical_url", "corpus_id", "corpus_quality").forall(index.columns.contains),
      "index must come from canonicalUrlCorpusIndex: (canonical_url, corpus_id, corpus_quality)")
    // same clobber guard as every sibling: a batch already carrying the
    // index's column names would hit an ambiguous-reference
    // AnalysisException at the filter below with no hint of the cause
    require(
      Seq("corpus_id", "corpus_quality").forall(!batch.columns.contains(_)),
      "canonicalUrlProbeDedup joins index columns corpus_id/corpus_quality; the batch " +
        "already carries one — rename or drop it first")
    val inBatch = canonicalUrlDedup(batch, idCol, urlCol, quality)
    // beats = the window's (quality DESC NULLS LAST, id ASC) order as a
    // predicate: non-null quality beats null, higher beats lower, the id
    // breaks exact ties (null-safe equality so two null qualities tie too)
    val beats = (col("corpus_quality").isNull && quality.isNotNull) ||
      quality > col("corpus_quality") ||
      (quality <=> col("corpus_quality") && col(idCol) < col("corpus_id"))
    inBatch
      .join(index, Seq("canonical_url"), "left")
      .filter(col("corpus_id").isNull || beats)
      .drop("corpus_id", "corpus_quality")
  }

  // ---- DuckDB renderings of the SAME rules (oracle builders) ----

  /** [[canonicalizeUrl]] as a DuckDB expression over `urlExpr`. */
  def duckCanonicalSql(urlExpr: String): String = {
    val t = s"trim($urlExpr)"
    val head = s"regexp_extract($t, '^[^/?#]+://[^/?#]*', 0)"
    val rest = s"substr($t, len($head) + 1)"
    // NOTE: plain concatenation, never stripMargin — embedded SQL (e.g. a
    // caller's url expression) legitimately contains `||`, and stripMargin
    // would eat the first pipe of any line-leading `||`
    val h = s"regexp_replace(regexp_replace(regexp_replace(regexp_replace(lower($head), " +
      s"'://[^/@]*@', '://'), " +
      s"'://www\\.', '://'), '^(http://[^/:]+):80$$', '\\1'), " +
      s"'^(https://[^/:]+):443$$', '\\1')"
    val r = s"regexp_replace(regexp_replace(regexp_replace(regexp_replace(regexp_replace($rest, " +
      s"'#.*', ''), '([?&])($TrackingParams)=[^&#]*', '\\1', 'g'), " +
      s"'([?&])&+', '\\1', 'g'), '[?&]$$', ''), '^/$$', '')"
    s"($h || $r)"
  }

  /** [[registeredDomain]] as a DuckDB expression over a canonical url. */
  def duckDomainSql(canonicalExpr: String): String = {
    val host = s"regexp_extract($canonicalExpr, '^[a-z0-9+.-]+://([^/:?#]+)', 1)"
    val reg = s"regexp_extract($host, '([^.]+\\.($SecondLevel)\\.[a-z]{2}|[^.]+\\.[^.]+)$$', 1)"
    s"(CASE WHEN coalesce($reg, '') = '' THEN $host ELSE $reg END)"
  }

  /** [[registeredDomainPsl]] as a DuckDB expression: the FULL PSL decision
    * replayed with the rule set rendered INTO the SQL as an ordered CASE
    * chain — exception rules first (they prevail over everything; the
    * registered domain is the rule itself), then plain and wildcard rules
    * by descending public-suffix depth (longest wins; each rule carries
    * its host-IS-the-suffix NULL branch before its registered branch),
    * then the default-`*` last-two-labels rule, NULL when nothing
    * registers. Intended for oracle-scale rule subsets; the engine side
    * uses the hash-set expression precisely because a large rendered rule
    * chain is not a plan.
    */
  def duckDomainPslSql(canonicalExpr: String, rules: Seq[String]): String = {
    val sfx = graft.functions.PslSupport.compile(rules) // same validation as the engine side
    // lower() mirrors PslSupport.registered's host lowering, so a raw
    // (uncanonicalized) host column gets the same answer from both engines —
    // without it the case-sensitive rule compares would diverge on any
    // mixed-case input even though q116 happens to feed canonical URLs.
    val host = s"lower(regexp_extract($canonicalExpr, '^[a-z0-9+.-]+://([^/:?#]+)', 1))"
    def esc(r: String) = r.replace(".", "\\.")
    def lbl(r: String) = r.count(_ == '.') + 1
    val excBranches = sfx.exceptions.sortBy(-lbl(_)).map { e =>
      s"WHEN $host = '$e' OR regexp_matches($host, '\\.${esc(e)}$$') THEN '$e'"
    }
    // (effective public-suffix depth, branch) for plain + wildcard rules
    val ruleBranches = (
      sfx.plain.map { r =>
        (lbl(r),
          s"WHEN $host = '$r' THEN NULL " +
            s"WHEN regexp_matches($host, '\\.${esc(r)}$$') " +
            s"THEN regexp_extract($host, '([^.]+\\.${esc(r)})$$', 1)")
      } ++
      sfx.wildcardBases.map { b =>
        (lbl(b) + 1,
          s"WHEN regexp_matches($host, '^[^.]+\\.${esc(b)}$$') THEN NULL " +
            s"WHEN regexp_matches($host, '\\.[^.]+\\.${esc(b)}$$') " +
            s"THEN regexp_extract($host, '([^.]+\\.[^.]+\\.${esc(b)})$$', 1)")
      }
    ).sortBy(-_._1).map(_._2)
    val branches = (excBranches ++ ruleBranches).mkString(" ")
    s"""(CASE $branches
        WHEN len(string_split($host, '.')) >= 2
          THEN regexp_extract($host, '([^.]+\\.[^.]+)$$', 1)
        ELSE NULL END)""".replaceAll("\n\\s*", " ")
  }

  /** Crawler-trap detection by URL-TEMPLATE profiling: a calendar, a
    * session-id scheme, or a faceted-search explosion manufactures an
    * infinite URL space under ONE path shape — the classic way a frontier
    * drowns (Heydon & Najork, "Mercator", WWW 1999 names traps as the
    * scaling hazard). Collapsing digit runs to `{N}` turns every such
    * space into a single template, so the host whose top template covers
    * nearly all its distinct URLs (high `trap_permille` at high `top_n`)
    * is the one to cap in [[WebIntake.planFrontier]]'s per-host queue.
    *
    * Template = the URL's PATH (query/fragment excluded, empty path → `/`)
    * with every digit run replaced by `{N}`. Exact integers end to end;
    * top-template tie-break is (count DESC, template string DESC) — a
    * total order, so the report is partition-invariant.
    *
    * Scale shape: one (host, template) aggregate with map-side distinct
    * partials — a trap's millions of URLs collapse toward one row per map
    * task — then a host-scale rollup; no pair joins, no windows over the
    * URL table.
    *
    * @return (host, n_urls, n_templates, top_template, top_n,
    *         trap_permille) — n_urls = distinct URLs on the host,
    *         trap_permille = top_n·1000 DIV n_urls
    */
  def urlTrapReport(df: DataFrame, urlCol: Column): DataFrame = {
    // scheme match case-insensitive and host case-folded (RFC 3986 §3.1/
    // §3.2.2: scheme and host compare case-insensitively — raw crawl
    // frontiers really do carry 'HTTP://WWW.Site.COM/...'): a sensitive
    // match binned every such URL under a phantom "" host whose single
    // "/" template read as a 1000-permille trap, while Site.com vs
    // site.com split one real host's stats across case variants. Paths
    // stay case-sensitive (they are).
    val host = lower(regexp_extract(urlCol, "(?i)^https?://([^/:?#]+)", 1))
    val rawPath = regexp_extract(urlCol, "(?i)^https?://[^/?#]+([^?#]*)", 1)
    val path = when(rawPath === "", "/").otherwise(rawPath)
    val perTemplate = df
      .select(host.as("host"),
        regexp_replace(path, "[0-9]+", "{N}").as("template"), urlCol.as("__u"))
      .groupBy(col("host"), col("template"))
      .agg(countDistinct(col("__u")).as("n_urls"))
    perTemplate
      .groupBy(col("host"))
      .agg(
        sum(col("n_urls")).as("n_urls"),
        count(lit(1)).as("n_templates"),
        max(struct(col("n_urls").as("c"), col("template").as("t"))).as("__top"))
      .select(
        col("host"), col("n_urls"), col("n_templates"),
        col("__top.t").as("top_template"), col("__top.c").as("top_n"),
        expr("__top.c * 1000 DIV n_urls").as("trap_permille"))
  }
}

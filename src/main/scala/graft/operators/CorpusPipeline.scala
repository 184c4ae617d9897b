package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The composed training-data cleaning pipeline: length gate → quality gate
  * → language filter → exact dedup → near-dedup (exact trigram-Jaccard
  * pairs via PPJoin prefix filtering — see [[Dedup.ngramJaccardPairs]]) →
  * optional per-registered-domain token cap ([[DomainCap]] — the q109
  * budget machinery as a stage). Every dropped row carries its first
  * matching `drop_reason`, so the pipeline doubles as a corpus audit — the
  * kept/dropped split plus reasons is what a data team actually reviews.
  *
  * Everything is column-level composition of the operator library; the only
  * shuffles are the two dedup stages (hash aggregate + prefix join), both
  * sub-quadratic.
  */
object CorpusPipeline {

  /** `classifier`: optional learned-quality gate — a (weights, minScore)
    * pair routed through [[TextAnalysis.hashedLinearScore]] (fastText-shaped
    * hashed n-gram linear model, exact integer scores). Runs AFTER the
    * heuristic gates (`low_quality` fires first on the obviously-broken
    * rows, keeping the classifier's `classifier_low` reason for the
    * subtler model-detected rejections), still a pure per-row projection.
    */
  /** `minCompressionPermille`: optional redundancy gate — docs whose
    * UTF-8 bytes deflate below this permille of their raw size
    * ([[TextAnalysis.compressionPermille]]) drop as `too_compressible`
    * (boilerplate/template/generated text compresses dramatically; normal
    * prose sits far above any sane threshold). Runs with the heuristic
    * gates, still a pure per-row projection.
    */
  /** Per-registered-domain token cap (the q109 machinery as a pipeline
    * stage): after every other gate, each domain keeps a deterministic
    * pseudo-random selection of its surviving docs filling `capTokens`
    * (overridable per domain via `budgets`); the rest drop as
    * `domain_over_cap`. Over-represented domains are the most common
    * real-web-corpus skew — a handful of boilerplate-heavy sites can be
    * half the tokens — and capping AFTER dedup/quality means the budget is
    * spent on docs that would actually train. The domain is derived from
    * `urlCol` via [[UrlOps.canonicalizeUrl]] + [[UrlOps.registeredDomain]]
    * (or the full PSL algorithm when `pslRules` is supplied); docs whose
    * domain is NULL (unregistrable host) are capped together as one
    * bucket. Selection is [[Sampling.tokenBudgetMixture]]'s two-phase
    * distributed prefix sum — no per-domain single-task window at scale —
    * and its boundary convention (the first overshooting doc is kept), so
    * the standalone q109 selection and this stage pick IDENTICAL docs
    * given the same inputs (spec-pinned).
    */
  final case class DomainCap(
      urlCol: String,
      capTokens: Long,
      budgets: Map[String, Long] = Map.empty,
      pslRules: Option[Seq[String]] = None,
      numShards: Int = 64
  )

  final case class Config(
      minTokens: Int = 10,
      minQuality: Double = 0.3,
      allowedLangs: Seq[String] = Seq("en"),
      nearDupJaccard: Double = 0.8,
      classifier: Option[(Array[Long], Long)] = None,
      minCompressionPermille: Option[Long] = None,
      domainCap: Option[DomainCap] = None
  )

  /** Returns the corpus annotated with `drop_reason` (null = kept). */
  def annotate(docs: DataFrame, idCol: String, textCol: String, cfg: Config = Config()): DataFrame = {
    val id = col(idCol)
    val text = col(textCol)

    val measured = docs
      .withColumn("__tokens", TextAnalysis.tokenCount(text))
      .withColumn("__quality", TextAnalysis.qualityScore(text))
      .withColumn("__lang", TextAnalysis.langId(text))

    // exact dedup: keep min id per content hash
    val exactW = Window.partitionBy(md5(text)).orderBy(id)
    val withExact = measured.withColumn("__exact_rank", row_number().over(exactW))

    // gate reasons BEFORE near-dedup (language gate precedes quality: the
    // quality heuristics are language-specific)
    // Persisted: the gated table feeds two plan branches (the near-dup
    // survivor set and the final annotate join), and the exact-dup window
    // shuffle would otherwise run twice. Spark's ContextCleaner reclaims the
    // blocks once the result plan is unreferenced (same contract as the gram
    // table inside ngramJaccardPairs).
    val heuristicGate =
      when(col("__tokens") < cfg.minTokens, "too_short")
        .when(!col("__lang").isInCollection(cfg.allowedLangs), "wrong_lang")
        .when(col("__quality") < cfg.minQuality, "low_quality")
        .when(col("__exact_rank") > 1, "exact_dup")
    val compressGate = cfg.minCompressionPermille match {
      case Some(minPm) =>
        heuristicGate.when(
          TextAnalysis.compressionPermille(text) < minPm,
          "too_compressible")
      case None => heuristicGate
    }
    val fullGate = cfg.classifier match {
      case Some((weights, minScore)) =>
        compressGate.when(
          TextAnalysis.hashedLinearScore(text, weights) < minScore,
          "classifier_low")
      case None => compressGate
    }
    val gated = withExact
      .withColumn("__gate", fullGate)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    // near-dedup runs among GATE SURVIVORS only: a doc already dropped by
    // an earlier gate must not eliminate its (valid) near-duplicate
    // partner — otherwise a cluster of copies could lose every
    // representative. Greedily drop the larger id of each surviving pair.
    val survivors = gated.filter(col("__gate").isNull).select(id.as(idCol), text.as(textCol))
    val nearDropIds = Dedup
      .ngramJaccardPairs(survivors, idCol, textCol, cfg.nearDupJaccard)
      .select(col("doc_b").as("__drop_id"))
      .distinct()

    // no broadcast() hint: the drop-id set scales with the corpus's
    // duplication (every non-minimal member of every near-dup pair), and a
    // hint is UNCONDITIONAL — a build side that outgrows the driver OOMs it
    // instead of falling back. AQE broadcasts it whenever its runtime size
    // allows (the same rationale as Scd.refreshDedup's hash side).
    val annotated = gated
      .join(nearDropIds, id === col("__drop_id"), "left")
      .withColumn(
        "drop_reason",
        coalesce(col("__gate"), when(col("__drop_id").isNotNull, "near_dup"))
      )

    // optional per-domain token cap, LAST: the budget must be spent on docs
    // that survived every other gate (a doc dropped as exact_dup must not
    // consume its domain's budget). The kept-id set is the q109 selection
    // itself — same machinery, same boundary convention — run over the
    // survivors with the already-measured token counts.
    val capped = cfg.domainCap match {
      case None => annotated
      case Some(dc) =>
        val keptIds = Sampling
          .tokenBudgetMixture(
            annotated.filter(col("drop_reason").isNull),
            group = capDomain(dc),
            key = id,
            tokens = col("__tokens"),
            budgets = dc.budgets,
            numShards = dc.numShards,
            defaultBudget = Some(dc.capTokens))
          .select(id.as("__cap_keep"))
        annotated
          .join(keptIds, id === col("__cap_keep"), "left")
          .withColumn(
            "drop_reason",
            coalesce(col("drop_reason"), when(col("__cap_keep").isNull, "domain_over_cap")))
          .drop("__cap_keep")
    }
    capped.drop("__tokens", "__quality", "__lang", "__exact_rank", "__drop_id", "__gate")
  }

  def clean(docs: DataFrame, idCol: String, textCol: String, cfg: Config = Config()): DataFrame =
    annotate(docs, idCol, textCol, cfg).filter(col("drop_reason").isNull).drop("drop_reason")

  /** The per-domain token cap as a STANDALONE last gate — the same q109
    * selection [[annotate]] runs internally, for compositions whose drop
    * gates extend past this pipeline's own ([[TrainingPipeline.prepare]]:
    * hygiene, repetition, fluency, decontamination, the dedup family,
    * span trim). The cap's principle is that budget is spent only on docs
    * that survive EVERY other gate — inside `annotate` that holds for the
    * heuristic gates, but a downstream stage dropping a doc after the cap
    * ran would leave its domain under-budget with its legitimate docs
    * already refused — so a longer pipeline must apply the cap once, at
    * its own end, over its own final text (token counts are re-measured
    * here: a span-trimmed doc budgets at its trained length, not its
    * pre-trim length).
    */
  def applyDomainCap(docs: DataFrame, idCol: String, textCol: String, dc: DomainCap): DataFrame = {
    require(!docs.columns.contains("__cap_tokens") && !docs.columns.contains("__cap_keep"),
      "applyDomainCap reserves __cap_tokens/__cap_keep as helper columns — an input " +
        "already carrying one would be silently clobbered before the budget computation")
    val id = col(idCol)
    val keptIds = Sampling
      .tokenBudgetMixture(
        docs.withColumn("__cap_tokens", TextAnalysis.tokenCount(col(textCol))),
        group = capDomain(dc),
        key = id,
        tokens = col("__cap_tokens"),
        budgets = dc.budgets,
        numShards = dc.numShards,
        defaultBudget = Some(dc.capTokens))
      .select(id.as("__cap_keep"))
    docs.join(keptIds, id === col("__cap_keep"), "left_semi")
  }

  /** The budget group of the per-domain cap: the registered domain of the
    * canonicalized URL, by the PSL rules when given. One derivation for
    * [[annotate]]'s cap and [[applyDomainCap]], so both spend a domain's
    * budget on the same docs.
    */
  private def capDomain(dc: DomainCap): Column = {
    val canon = UrlOps.canonicalizeUrl(col(dc.urlCol))
    dc.pslRules match {
      case Some(rules) => UrlOps.registeredDomainPsl(canon, rules)
      case None => UrlOps.registeredDomain(canon)
    }
  }

  /** Audit summary: kept/dropped counts per reason. */
  def report(docs: DataFrame, idCol: String, textCol: String, cfg: Config = Config()): DataFrame =
    annotate(docs, idCol, textCol, cfg)
      .groupBy(coalesce(col("drop_reason"), lit("kept")).as("outcome"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("outcome"))
}

package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The full corpus → training-chunks journey, composed from the operator
  * library end to end:
  *
  *   1. quality gates + exact/near dedup   ([[CorpusPipeline.clean]]; incl.
  *                                          the optional per-domain token
  *                                          cap, [[CorpusPipeline.DomainCap]])
  *   2. repetition gate                    ([[graft.functions.RepStats]])
  *   3. LM fluency gate (optional)         ([[LmScore.score]] vs a
  *                                          reference slice, CCNet-style)
  *   4. benchmark decontamination          ([[Decontaminate.clean]], or the
  *                                          bloom-prefiltered
  *                                          [[Decontaminate.cleanViaBloom]])
  *   5. cluster-level near-dup collapse    ([[Dedup.minhashClusterEdges]] →
  *                                          [[Graph.connectedComponents]])
  *   5b. embedding near-dup collapse       (optional: [[Dedup.embedNearDupPairs]]
  *                                          per-run, a persisted
  *                                          [[VectorIndex]] probed per refresh,
  *                                          or [[Dedup.semanticDedup]] —
  *                                          SemDeDup's cluster-bounded mode)
  *   5c. image near-dup collapse (optional) ([[Dedup.nearDupPairs]] —
  *                                          perceptual dHash over a photo
  *                                          side table; re-encoded/resized
  *                                          image copies collapse like text
  *                                          near-dups)
  *   5c2. audio near-dup collapse (optional) ([[Dedup.nearDupPairs]] —
  *                                          the clip twin: resampled/
  *                                          re-encoded/gain-shifted audio
  *                                          copies collapse via the 49-bit
  *                                          energy-map fingerprint)
  *   5c3. video near-dup collapse (optional) ([[Dedup.nearDupPairs]] —
  *                                          rescaled/re-framed/brightness-
  *                                          shifted video copies collapse
  *                                          via the 64-bit frame-sampled
  *                                          fingerprint)
  *   5d. exact substring trim (optional)   ([[Dedup.trimRepeatedSpans]] —
  *                                          Lee et al. 2022: cut every
  *                                          cross-doc repeated run >= minLen
  *                                          out of the survivors)
  *   6. PII redaction                      ([[Pii.scrub]])
  *   7. overlapping context-window chunks  ([[TextAnalysis.tokenChunks]])
  *
  * Ordering is deliberate: per-row gates (1–2) run first so the join-bearing
  * stages (3–5) see the smallest possible corpus; the LM gate sits before
  * them for the same reason (its own cost is a broadcast join, cheaper than
  * what it saves downstream); PII scrubbing runs after dedup/decontamination
  * so fingerprints are computed over original text (redaction placeholders
  * would otherwise create artificial shared substrings across unrelated
  * docs); the substring trim runs after the document-level dedups for the
  * same reason in reverse — whole-doc and near-dup copies are already
  * collapsed, so the trim pays its gram shuffle only for genuine partial
  * boilerplate (and a doc trimmed to nothing is dropped, not chunked);
  * chunking runs last, after every document-level decision.
  *
  * Shuffle inventory = the sum of its parts (each documented at its
  * operator): per-row gates are scan-speed maps, dedup/decontamination are
  * the sub-quadratic bucket joins, chunking is a pure explode. Nothing in
  * the composition adds a shuffle of its own.
  */
object TrainingPipeline {

  /** `decontamBloomBytes`: None runs decontamination through the broadcast
    * path ([[Decontaminate.clean]] — right while the benchmark fingerprint
    * set fits a broadcast); Some(numBytes) routes it through the bloom
    * prefilter ([[Decontaminate.cleanViaBloom]] — bit-identical output,
    * the scale path once the raw set outgrows a broadcast but its bits
    * don't). Size per the operator's rule: ≈1.2·|bench fps|·ln(1/fpRate)/8.
    */
  /** `dropMinified`/`dropGenerated`/`dropLicenses` turn on the code-corpus
    * hygiene gate ([[TextAnalysis.codeHygiene]], stage 2b): drop
    * minified/bundled artifacts, machine-generated files, and files whose
    * detected license FAMILY is in the drop list (files with no detected
    * license are never dropped by the license rule — absence of a header
    * is not evidence of a restrictive license; pair with a provenance
    * allow-list upstream when the legal bar requires positive evidence).
    */
  final case class Config(
      corpus: CorpusPipeline.Config = CorpusPipeline.Config(),
      maxTopBigramFrac: Double = 0.2,
      lmMaxScore: Double = Double.MaxValue,
      decontamMinShared: Int = 5,
      decontamBloomBytes: Option[Int] = None,
      trimRepeatsMinLen: Option[Int] = None,
      chunkSize: Int = 64,
      chunkStride: Int = 48,
      dropMinified: Boolean = false,
      dropGenerated: Boolean = false,
      dropLicenses: Seq[String] = Nil
  )

  /** Optional image near-dup stage (5c): `photos` is a side table keyed
    * like the corpus ((idCol, contentCol) — e.g. the photo-store read-back
    * table, [[graft.sources.vgsi.PhotoSink.photoTable]]). Docs whose photo
    * perceptually duplicates a surviving smaller-id doc's photo are
    * dropped (the same min-id cluster rule as the text near-dup stage);
    * docs without a photo, or with undecodable bytes, always survive.
    *
    * `maxAHamming = Some(a)` switches the stage to the dual-hash verified
    * operator ([[Modality.photoVerified]]): dHash banding still
    * generates the candidates, but a pair must also agree on aHash within
    * `a` bits — cutting the gradient-only false positives (recolors,
    * inverted themes) that dHash banding alone admits, at no extra decode
    * cost (both hashes come from one decode).
    */
  final case class ImageStage(
      photos: DataFrame,
      idCol: String = "doc_id",
      contentCol: String = "content",
      maxHamming: Int = 3,
      maxAHamming: Option[Int] = None
  )

  /** Optional audio near-dup stage (5c2) — the clip twin of [[ImageStage]]:
    * `clips` is a (idCol, contentCol) WAV side table keyed like the corpus.
    * Docs whose clip perceptually duplicates a surviving smaller-id doc's
    * clip ([[Modality.audio]] — resampled/re-encoded/gain-shifted
    * copies collapse) are dropped with the same min-id cluster rule; docs
    * without a clip, or with undecodable bytes (NULL fingerprint), always
    * survive.
    */
  final case class AudioStage(
      clips: DataFrame,
      idCol: String = "doc_id",
      contentCol: String = "content",
      maxHamming: Int = 3
  )

  /** Optional video near-dup stage (5c3) — the last member of the media
    * dedup family: `clips` is a (idCol, contentCol) AVI side table keyed
    * like the corpus. Docs whose video perceptually duplicates a surviving
    * smaller-id doc's video ([[Modality.video]] —
    * rescaled/re-framed/brightness-shifted copies collapse) are dropped
    * with the same min-id cluster rule; docs without a clip, or with
    * undecodable bytes (NULL fingerprint), always survive.
    */
  final case class VideoStage(
      clips: DataFrame,
      idCol: String = "doc_id",
      contentCol: String = "content",
      maxHamming: Int = 3
  )

  /** Optional embedding near-dup stage (5b). `index = None` hashes the
    * corpus per run ([[Dedup.embedNearDupPairs]], LSH candidates); with a
    * persisted [[VectorIndex]] handle the stage probes the index instead —
    * the repeated/incremental-run shape: build once, probe per refresh.
    * `embeddings` is a (idCol, embCol) side table keyed like the corpus.
    *
    * `rebalanceMaxSkew` (index mode only) runs the index's maintenance
    * policy before the probe: posting lists past the skew bound are split
    * ([[VectorIndex.rebalanceIfNeeded]]) so a refresh whose appends drifted
    * the index probes restored geometry instead of degraded recall. The
    * `embeddings` table must then cover every INDEXED id (it is the raw-
    * vector source of truth the re-encode reads), not just this refresh's
    * corpus — rebalance fails loudly on unresolved ids rather than dropping
    * them.
    *
    * `retrainTolerance` (index mode only) is the other maintenance half —
    * codebook staleness: when the corpus' quantization error exceeds
    * tolerance × the build-time baseline, subspace codebooks are retrained
    * and every list re-encoded ([[VectorIndex.retrainIfDrifted]]) before
    * the probe. Runs AFTER rebalance (geometry first, then codes — retrain
    * keeps assignments, so the order composes; the reverse would retrain
    * against about-to-be-split lists). Same full-coverage contract on
    * `embeddings` as rebalance.
    *
    * `semanticCentroids` selects the third candidate-generation mode:
    * SemDeDup ([[Dedup.semanticDedup]] — near-dup search bounded by
    * nearest-centroid clusters; Abbas et al. 2023) instead of LSH banding
    * or an index probe. Docs the stage marks `kept=false` are dropped;
    * docs absent from the embeddings table are kept, same as in the pair
    * modes (no embedding ⇒ no candidate). Size the centroid count with
    * the corpus (k ∝ N) — see the operator's scaladoc.
    */
  final case class EmbedStage(
      embeddings: DataFrame,
      idCol: String = "doc_id",
      embCol: String = "embedding",
      threshold: Double = 0.95,
      // Nil (the default) = derive the occupancy-constant geometry from
      // the corpus count ([[Similarity.planesFor]]); pass explicit planes
      // only to replay a pinned geometry
      lshPlanes: Seq[Array[Double]] = Nil,
      lshBands: Int = 4,
      index: Option[VectorIndex.Handle] = None,
      nProbe: Int = 4,
      k: Int = 10,
      rebalanceMaxSkew: Option[Double] = None,
      retrainTolerance: Option[Double] = None,
      semanticCentroids: Option[Array[Array[Double]]] = None
  )

  /** @return (chunks, audit): training-ready chunk rows
    *         (doc_id, start, ntok, chunk) and a per-stage surviving-doc
    *         count audit (lazy — materialized when the audit is acted on).
    */
  def prepare(
      docs: DataFrame,
      bench: DataFrame,
      idCol: String,
      textCol: String,
      cfg: Config = Config(),
      lmRef: Option[DataFrame] = None,
      embed: Option[EmbedStage] = None,
      image: Option[ImageStage] = None,
      audio: Option[AudioStage] = None,
      video: Option[VideoStage] = None
  ): (DataFrame, DataFrame) = {
    val id = col(idCol)
    val text = col(textCol)

    // The domain cap is deferred to the END of the drop gates (stage 6e,
    // [[CorpusPipeline.applyDomainCap]]), NOT run inside annotate: the
    // cap's own principle is that budget goes only to docs that survive
    // every other gate, and this pipeline has gates annotate cannot see —
    // hygiene, repetition, fluency, decontamination, the dedup family,
    // span trim. Capping at stage 1 let a domain fill its budget with
    // minified bundles stage 2b then deleted, leaving the domain far
    // under cap with its legitimate docs already refused.
    val gated = CorpusPipeline.clean(docs, idCol, textCol, cfg.corpus.copy(domainCap = None))

    // 2b (optional): code-corpus hygiene — scan-side flags, no shuffle
    val hygieneOn = cfg.dropMinified || cfg.dropGenerated || cfg.dropLicenses.nonEmpty
    val hygienic =
      if (!hygieneOn) gated
      else {
        val h = TextAnalysis.codeHygiene(text)
        var keep: org.apache.spark.sql.Column = lit(true)
        if (cfg.dropMinified) keep = keep && !h.getField("is_minified")
        if (cfg.dropGenerated) keep = keep && !h.getField("is_generated")
        if (cfg.dropLicenses.nonEmpty)
          keep = keep && (h.getField("license").isNull ||
            !h.getField("license").isin(cfg.dropLicenses: _*))
        gated.filter(keep)
      }

    val rep = graft.functions.HashExprs.repStats(text)
    val unrepeated = hygienic.filter(
      rep.getField("n_bigrams") === 0 ||
        rep.getField("top_bigram").cast("double") / rep.getField("n_bigrams") <= cfg.maxTopBigramFrac
    )

    // Optional CCNet-style fluency gate: keep docs whose mean smoothed
    // inverse token probability vs the reference model is at most
    // lmMaxScore. One id-hash semi-join back onto the corpus (the score
    // table is one row per doc — too big to broadcast at scale).
    val fluent = lmRef match {
      case Some(ref) =>
        // anti-join on FAILURES, not semi-join on passes: LmScore emits no
        // row for a doc whose text tokenizes to zero tokens, and absence-
        // as-failure silently dropped such docs at this stage even with
        // the gate nominally disabled (lmMaxScore = MaxValue) — a doc with
        // no fluency evidence passes, it is not condemned unheard
        val fail = LmScore
          .score(unrepeated, idCol, textCol, ref)
          .filter(col("lm_score") > cfg.lmMaxScore)
          .select(col("doc_id").as("__fail"))
        unrepeated.join(fail, id === col("__fail"), "left_anti")
      case None => unrepeated
    }

    // persist the two expensive stage boundaries: the audit union below
    // counts EVERY stage, and without these each count re-executes the
    // decontamination fingerprint join and the MinHash dedup chain once per
    // downstream stage (up to 8 re-runs of the costliest joins at scale)
    val decontaminated = (cfg.decontamBloomBytes match {
      case Some(nb) =>
        Decontaminate.cleanViaBloom(
          fluent, bench, idCol, textCol, minShared = cfg.decontamMinShared, numBytes = nb)
      case None =>
        Decontaminate.clean(fluent, bench, idCol, textCol, minShared = cfg.decontamMinShared)
    }).persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    val deduped = Dedup.dropNearDups(
      decontaminated,
      idCol,
      Dedup.minhashClusterEdges(decontaminated, idCol, textCol)
    ).persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    // 5b (optional): embedding near-dup collapse. Pairs are computed over
    // the embeddings of docs still alive (semi-join first, so a dropped
    // doc can't pull a survivor out of the corpus), then collapsed with
    // the same min-id cluster rule as the text stage.
    val embedDeduped = embed match {
      case Some(e) =>
        val alive = e.embeddings.join(
          deduped.select(id.as("__alive")),
          col(e.idCol) === col("__alive"),
          "left_semi")
        e.semanticCentroids match {
          case Some(cents) =>
            // SemDeDup mode decides survivors directly (kept flag), no pair
            // set: drop the flagged docs with the same anti-join shape
            // dropNearDups uses; docs without embeddings never appear in
            // `alive` and therefore survive, matching the pair modes
            val losers = Dedup
              .semanticDedup(alive, e.idCol, e.embCol, cents, e.threshold)
              .filter(!col("kept"))
              .select(col(e.idCol).as("__loser"))
            deduped.join(losers, id === col("__loser"), "left_anti")
          case None =>
            val pairs = e.index match {
              case Some(h0) =>
                val h1 = e.rebalanceMaxSkew.fold(h0)(
                  VectorIndex.rebalanceIfNeeded(h0, e.embeddings, e.idCol, e.embCol, _))
                val h = e.retrainTolerance.fold(h1)(
                  VectorIndex.retrainIfDrifted(h1, e.embeddings, e.idCol, e.embCol, _))
                Dedup.embedNearDupPairsViaIndex(alive, e.idCol, e.embCol, h, e.threshold, e.nProbe, e.k)
              case None if e.lshPlanes.isEmpty =>
                // the default path: derived occupancy-constant geometry
                // (count → bitsPerBand). Before round 14, Nil planes fell
                // through to a single 0-bit bucket — an ALL-PAIRS join on
                // the default config, the exact quadratic the banding
                // exists to prevent.
                Dedup.embedNearDupPairs(alive, e.idCol, e.embCol, e.threshold, e.lshBands)
              case None =>
                Dedup.embedNearDupPairs(alive, e.idCol, e.embCol, e.lshPlanes, e.lshBands, e.threshold)
            }
            Dedup.dropNearDups(deduped, idCol, pairs.select(col("doc_a"), col("doc_b")))
        }
      case None => deduped
    }

    // 5c/5c2/5c3 (optional): perceptual image/audio/video dedup — ONE
    // shape shared by all three modalities (the blocks were hand-copied
    // triplets, so a fix to the alive-join rule needed three synchronized
    // edits): pairs come from the media rows of docs still alive
    // (semi-join first, same rationale as the embed stage — a dropped doc
    // must not pull a survivor out of the corpus), collapsed with the
    // min-id cluster rule. A doc with no media row (or undecodable bytes
    // → NULL hash/fingerprint) never pairs, so it survives.
    def perceptualDedup(
        prev: DataFrame,
        mediaRows: DataFrame,
        mediaIdCol: String
    )(pairsOf: DataFrame => DataFrame): DataFrame = {
      val alive = mediaRows.join(
        prev.select(id.as("__alive")),
        col(mediaIdCol) === col("__alive"),
        "left_semi")
      Dedup.dropNearDups(prev, idCol, pairsOf(alive).select(col("doc_a"), col("doc_b")))
    }
    val imageDeduped = image.fold(embedDeduped) { im =>
      val m = im.maxAHamming.fold(Modality.photo)(Modality.photoVerified(_))
      perceptualDedup(embedDeduped, im.photos, im.idCol)(
        Dedup.nearDupPairs(m, _, im.idCol, im.contentCol, im.maxHamming))
    }
    val audioDeduped = audio.fold(imageDeduped) { au =>
      perceptualDedup(imageDeduped, au.clips, au.idCol)(
        Dedup.nearDupPairs(Modality.audio, _, au.idCol, au.contentCol, au.maxHamming))
    }
    val videoDeduped = video.fold(audioDeduped) { vi =>
      perceptualDedup(audioDeduped, vi.clips, vi.idCol)(
        Dedup.nearDupPairs(Modality.video, _, vi.idCol, vi.contentCol, vi.maxHamming))
    }

    // 5d (optional): Lee et al. substring trim — replace each survivor's
    // text with its normalized complement of cross-doc repeated spans; a
    // doc whose every char was boilerplate vanishes rather than emitting
    // empty chunks. Runs over the deduped survivors only, so the gram
    // shuffle never pays for rows earlier stages already dropped.
    val trimmed = cfg.trimRepeatsMinLen match {
      case Some(l) =>
        val kept = Dedup
          .trimRepeatedSpans(videoDeduped, idCol, textCol, l)
          .select(col("doc_id").as("__tid"), col("kept_text"))
        videoDeduped
          .join(kept, id === col("__tid"))
          .withColumn(textCol, col("kept_text"))
          .drop("__tid", "kept_text")
          .filter(length(text) > 0)
      case None => videoDeduped
    }

    // 6e (optional): the per-domain token cap, LAST of the drop gates —
    // over the post-trim text (a trimmed doc budgets at the length that
    // will actually be chunked). See the stage-1 note for why it cannot
    // run inside annotate here.
    val capped = cfg.corpus.domainCap match {
      case Some(dc) => CorpusPipeline.applyDomainCap(trimmed, idCol, textCol, dc)
      case None => trimmed
    }

    val scrubbed = capped.withColumn(textCol, Pii.scrub(text))

    val chunks = scrubbed
      .select(id.as("doc_id"), explode(TextAnalysis.tokenChunks(text, cfg.chunkSize, cfg.chunkStride)).as("c"))
      .select(col("doc_id"), col("c.start").as("start"), col("c.ntok").as("ntok"), col("c.chunk").as("chunk"))

    val audit = (Seq(
      "1_input" -> docs,
      "2_gated" -> gated
    ) ++
      (if (hygieneOn) Seq("2b_hygiene" -> hygienic) else Nil) ++ Seq(
      "3_unrepeated" -> unrepeated,
      "4_fluent" -> fluent,
      "5_decontaminated" -> decontaminated,
      "6_deduped" -> deduped
    ) ++ (if (embed.isDefined) Seq("6b_embed_deduped" -> embedDeduped) else Nil) ++
      (if (image.isDefined) Seq("6c_image_deduped" -> imageDeduped) else Nil) ++
      (if (audio.isDefined) Seq("6c2_audio_deduped" -> audioDeduped) else Nil) ++
      (if (video.isDefined) Seq("6c3_video_deduped" -> videoDeduped) else Nil) ++
      (if (cfg.trimRepeatsMinLen.isDefined) Seq("6d_trimmed" -> trimmed) else Nil) ++
      (if (cfg.corpus.domainCap.isDefined) Seq("6e_domain_capped" -> capped) else Nil) ++ Seq(
      "7_chunks" -> chunks
    )).map { case (stage, df) => df.agg(count(lit(1)).as("rows")).select(lit(stage).as("stage"), col("rows")) }
      .reduce(_ unionByName _)

    (chunks, audit)
  }
}

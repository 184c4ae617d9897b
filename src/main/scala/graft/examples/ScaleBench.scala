package graft.examples

import graft.SparkEntry
import graft.operators.{Decontaminate, Dedup, EntityResolution, Graph, Modality, Multimodal, Sampling, Similarity, VectorIndex}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Empirical scale validation for the dedup / connected-components / ANN
  * families: the plan SHAPES are asserted in PlanInvariantsSpec, this
  * measures the actual scaling CURVES. `/root/testdata` tops out at sf0.1,
  * so the bench self-generates k× corpora (k = 1, 3, 10) in a scratch dir
  * and times the scale-critical queries plus a VectorIndex build/probe at
  * each size. Results land in SCALE.md.
  *
  * Corpus scaling must not change the PROBLEM's geometry, only its size:
  *  - documents: copy c applies a per-copy substitution cipher to letters
  *    and digits (`translate`, alphabet rotated by c). Within a copy every
  *    shingle/gram relationship is isomorphic to the base (identical
  *    near-dup structure), while cross-copy shingle overlap is ~zero — so
  *    pair counts and cluster sizes scale exactly k×, which is what "10×
  *    corpus, same density" means. A naive suffix/prefix perturbation
  *    would leave copies near-duplicates of each other and grow pairs
  *    quadratically BY CONSTRUCTION — measuring the generator, not the
  *    engine.
  *  - embeddings: copy c rotates each vector by c positions — norms and
  *    within-copy geometry preserved, cross-copy cosines decorrelated.
  *
  * Usage: runMain graft.examples.ScaleBench [baseSfDir] [scratchDir] [scalesCsv]
  * (scalesCsv e.g. "1,10,30"; default 1,3,10). Optional env
  * SPARK_GRAFT_SCALE_ONLY=q24_ngram_jaccard,... restricts the query list.
  * Prints one JSON line per (scale, query) and a summary line; rerunning
  * reuses materialized corpora if present.
  */
object ScaleBench {

  // the queries the round-3 verdict named as the scale-critical families
  private val Queries = Seq(
    "q24_ngram_jaccard",
    "q25_minhash_lsh",
    "q62_neardup_clusters",
    "q63_neardup_dropped",
    "q87_cluster_best",
    "q85_pq_adc",
    // round-7 fixed-parameter linear ops (BM25's inverted index is only
    // ever |queryTerms| wide; the split is one window + a map; the
    // classifier is a pure per-row projection; novelty is the vocabulary
    // cost class; the RRF fuse only ever touches two top-20 lists)
    "q96_bm25_topk",
    "q97_group_split",
    "q98_quality_classifier",
    "q99_hybrid_rrf",
    "q100_novelty",
    "q101_novelty_vs_ref",
    "q102_token_budget",
    // q106 = q102's budget machinery with the scan-side exact BPE count —
    // the delta over q102's curve is the per-row merge walk, no new shuffle
    "q106_bpe_token_budget",
    // (q110 runs as the sim_pack special case below: its pair source's
    // band-key WIDTH must grow with log(N) — the q26-vs-q52 saturation
    // lesson — so the curve scales the plane count with the corpus, the
    // same parameterized-scale recipe as semdedup's k ∝ N)
    // round-8 exact substring dedup: the cipher copies are gram-disjoint
    // across copies and gram-isomorphic within one, so repeated spans scale
    // exactly k× — the row law; the gram table and its two linear shuffles
    // scale k× with it. (q104's curve runs as the substring_trim special
    // case below: count() on it is join-eliminated via distinct-key
    // propagation, so the uniform protocol would time nothing.)
    "q103_repeated_spans",
    // probe side is the fixed ~2% band so spans scale k× with the corpus;
    // the index build (distinct grams) is the dominant, linear cost
    "q111_incremental_spans",
    // round-11 intake family: paragraph dedup is one digest exchange + a
    // doc regroup (both k×-linear — the cipher keeps paragraphs distinct
    // across copies); WARC split and HTML extract are pure scan-side byte
    // walks whose fixture AND parse both scale with corpus bytes
    "q134_paragraph_dedup",
    "q135_warc_records",
    "q136_html_extract",
    // round-11 web family: link/anchor extraction and main-content are
    // scan-side page walks (fixture and parse both scale with corpus
    // rows); PageRank's shuffles are GRAPH-sized — the construction pins
    // hosts at 199 whatever the corpus, so its curve isolates the
    // corpus-scan edge derivation from the fixed-size iterate
    "q137_html_links",
    "q138_host_pagerank",
    "q140_anchor_text",
    "q141_html_main_text",
    // the rest of the intake chain — all scan-side walks (sitemap XML,
    // RFC 3986 resolution over exploded links, page metadata, charset
    // sniff+decode): per-row cost only, fixture and parse scale together
    "q143_sitemap_entries",
    "q144_resolve_links",
    "q145_html_meta",
    "q146_charset_decode",
    // round-12 additions: the banding-quality report composes q25's LSH and
    // q24's PPJoin inventories (both k×-linear on the cipher corpora — the
    // truth-pair count scales exactly k×); NFC and mojibake repair are pure
    // scan-side codegen (per-row cost, zero exchanges); containment pairs
    // run the prefix-filtered candidate join whose planted-hot A/B is the
    // containment_hot special case below
    "q130_lsh_quality",
    "q131_nfc_normalize",
    "q132_mojibake_repair",
    "q133_containment_pairs",
    // round-12 intake/curation additions: gzip WARC framing, line dedup,
    // feed parse and MIME sniff are pure scan-side walks (fixture build
    // and parse both scale with corpus bytes; the gzip fixture pays a
    // deflate AND an inflate per record — the heaviest scan expression
    // class, like q107); importance resampling is one B-bounded bucket
    // aggregate + a static broadcast join + one per-doc partial-agg sum,
    // so its exchanges carry buckets and docs, never bigram occurrences
    "q150_warc_gzip",
    "q151_importance_resample",
    "q152_line_dedup",
    "q153_feed_entries",
    "q154_mime_sniff",
    // exif build + parse + scrub + re-parse: four scan-side byte walks per
    // row, zero exchanges — the per-row cost class of q154/q79
    "q155_exif_gps",
    // revisit scheduling: per-URL lag window (policy-bounded partitions) +
    // one map-side-combinable rollup; scaleEvents grows the URL space, so
    // rows are exactly k× and per-URL work constant
    "q156_revisit_schedule",
    // code hygiene: pure scan-side string stats (q30's cost class);
    // anchor corpus: scan-side extract+resolve then two hash aggregates —
    // its TARGET space is fixture-bounded (28 urls), so output rows stay
    // constant while counts grow k× (the hot-target argmax is the point)
    "q157_code_hygiene",
    "q158_anchor_corpus",
    // unigram Viterbi: per-word DP, O(len × maxPieceLen) per row, zero
    // exchanges — the BPE-count cost class
    "q160_unigram_tokens",
    // bigram fluency: model build on the ref slice + broadcast unigram +
    // AQE-shaped bigram join + one per-doc agg (q77's cost class, one
    // extra model join)
    "q161_lm_bigram",
    // wet round trip: frame + deflate + shard-pack, then inflate + split —
    // two passes of the q150 heavy-scan class around one shard exchange
    "q163_wet_roundtrip",
    // politeness budget / hygiene profile / sitemap refresh: host- or
    // source-bounded rollups over scan-side signals (output rows bounded
    // by hosts/sources, not corpus)
    "q162_politeness_budget",
    "q164_hygiene_profile",
    "q165_sitemap_refresh",
    // round-13 curve completions (the four round-12 rows that carried
    // inventory arguments but no measured numbers): conserving PageRank
    // inherits q138's fixed-graph protocol (hosts pinned whatever the
    // corpus — the curve isolates the corpus-scan edge derivation from the
    // fixed-size iterate + per-round dangling scalar); HTTP response parse
    // is a pure scan-side walk (fixture and parse scale together); the
    // trap report's output is host-scale (the trap host's k×-growing URL
    // space collapses to ONE template group — flat output is the law);
    // recrawl frontier rides q156's policy-bounded windows over the
    // k×-growing events URL space with a host-bounded cap stage
    "q147_pagerank_conserving",
    "q148_http_response",
    "q149_url_trap_report",
    "q159_recrawl_frontier"
  )

  private val IdOffset = 100000000L

  private def rotated(s: String, c: Int): String = {
    val n = s.length
    (0 until n).map(i => s((i + c) % n)).mkString
  }

  /** Extension ring for cipher copies PAST the ASCII alphabet's period-36
    * (the x100 decade, round-16 verdict): 100 caseless/lowercase BMP
    * letters — Cyrillic а–я, Greek α–ω, Armenian ա–ֆ, Georgian ა–ე — all
    * FIXED UNDER lower() (validated at construction), so case-folding can
    * never fold two copies together (the k>26 hazard that motivated the
    * period require). Copies 36..135 map the 36-char source alphabet into
    * windows of this ring: images are disjoint from every ASCII-cipher
    * copy (ring ∩ ascii = ∅) and windows at distinct offsets of a
    * 100-ring are pairwise distinct, so every copy's text stays a
    * per-character bijection with no cross-copy coincidence. Copies 0–35
    * keep the EXACT historical ASCII rotation — materialized corpora and
    * committed curves at k ≤ 36 are byte-identical.
    */
  private val ExtensionRing: String = {
    val r = ((0x430 to 0x44F) ++ (0x3B1 to 0x3C9) ++ (0x561 to 0x586) ++ (0x10D0 to 0x10D4))
      .map(_.toChar).mkString
    require(r.length == 100, s"ring is ${r.length} chars")
    require(r.toLowerCase == r, "ring must be fixed under case folding")
    require(r.distinct == r, "ring chars must be distinct")
    r
  }

  /** Target alphabet for cipher copy `c`: the historical ASCII rotation
    * below 36, an extension-ring window above.
    */
  private def cipherTarget(alphabet: String, c: Int): String = {
    require(c < 36 + ExtensionRing.length,
      s"cipher ring exhausted: copy $c >= ${36 + ExtensionRing.length}")
    if (c < 36) rotated(alphabet, c)
    else (0 until alphabet.length).map(i => ExtensionRing((i + c - 36) % ExtensionRing.length)).mkString
  }

  /** `idOffset` is the per-copy doc_id stride. ScaleBench's own curves use
    * the default disjoint 100M spaces; MakeSf passes the base table's row
    * count for CONTIGUOUS ids — the media fixtures pack doc_id into
    * bounded code spaces (audio < 7^6, video < 8^7), which 100M offsets
    * overflow (measured: q115/q127 fail at sf1 under the default).
    */
  private[examples] def scaleDocs(
      spark: SparkSession, baseDir: String, k: Int,
      idOffset: Long = IdOffset): DataFrame = {
    val base = spark.read.parquet(s"$baseDir/documents.parquet")
    // The cipher must be a bijection in the ANALYZERS' domain: every dedup
    // operator lowercases first, so any cipher whose case-folded image
    // coincides across copies manufactures cross-copy near-dups. (Both a
    // per-class rotation and a 62-char rotation fail at k > 26: lower ∘
    // rot_26 is the identity on letters, so copies 26..29 fold back onto
    // 0..3 — observed as q24 emitting 29.7k pairs at the 30× point instead
    // of the exact-linear 7.7k.) So: lowercase the text HERE (a no-op for
    // the lowercasing analyzers) and rotate one 36-char lowercase+digit
    // alphabet — bijective under folding, period 36 > every scale we run.
    val alphabet = "abcdefghijklmnopqrstuvwxyz0123456789"
    require(k <= 36 + ExtensionRing.length,
      s"cipher ring exhausted at ${36 + ExtensionRing.length}, got scale $k")
    (0 until k).map { c =>
      if (c == 0) base
      else
        base.select(
          (col("doc_id") + c * idOffset).as("doc_id"),
          translate(lower(col("text")), alphabet, cipherTarget(alphabet, c)).as("text"),
          col("lang"),
          col("source"),
          col("n_chars")
        )
    }.reduce(_ unionByName _)
  }

  private[examples] def scaleEmbeddings(
      spark: SparkSession, baseDir: String, k: Int,
      idOffset: Long = IdOffset): DataFrame = {
    val base = spark.read.parquet(s"$baseDir/embeddings.parquet")
    // derive the dimension from the data — a hardcoded 64 would silently
    // truncate copies of any other corpus into ragged vectors and corrupt
    // the vindex scale measurements
    val dim = base.select(max(size(col("embedding")))).head.getInt(0)
    require(
      base.filter(size(col("embedding")) =!= dim).isEmpty,
      "scaleEmbeddings: ragged base embedding dimensions")
    // rotation period is dim; past it (the x100 decade), copy c composes
    // the rotation by c % dim with a GLOBAL SIGN FLIP — still orthogonal
    // (within-copy cosine structure preserved exactly), and copy c vs
    // c - dim are antipodal (cosine -1), so case k <= 2*dim copies can
    // never coincide. Copies below dim keep the historical pure rotation.
    require(k <= 2 * dim, s"rotation+flip period is ${2 * dim}, scale $k would collide copies")
    (0 until k).map { c =>
      if (c == 0) base
      else {
        val e = col("embedding")
        val r = c % dim
        val rot =
          if (r == 0) e
          else concat(slice(e, r + 1, dim - r), slice(e, 1, r))
        val vec = if (c < dim) rot else transform(rot, x => -x)
        base.select(
          (col("vec_id") + c * idOffset).as("vec_id"),
          vec.as("embedding"),
          col("label")
        )
      }
    }.reduce(_ unionByName _)
  }

  /** k× crawl history for the revisit-schedule curve: each copy shifts
    * event_id by a large multiple of 4, so q156's URL key (`event_id DIV
    * 4`) lands every copy in its own URL space with group boundaries
    * aligned — MORE URLs at the same per-URL history length, which is the
    * honest crawl-scaling model (a bigger web, not a deeper history: the
    * scheduler itself floors revisit intervals, so history depth is
    * policy-bounded). Output is exactly k× rows.
    */
  private def scaleEvents(spark: SparkSession, baseDir: String, k: Int): DataFrame = {
    val base = spark.read.parquet(s"$baseDir/events.parquet")
    (0 until k).map { c =>
      if (c == 0) base
      else base.withColumn("event_id", col("event_id") + c * 1000000000L)
    }.reduce(_ unionByName _)
  }

  /** A k× near-dup-structured name corpus for the entity-resolution curve:
    * the base `customer` slice q91 resolves (c_custkey < 500 — blocking on
    * a 16-char name prefix makes the UNFILTERED table one degenerate block,
    * which measures the block-size guard, not the operator), copied with
    * the same substitution cipher as [[scaleDocs]]. A per-character
    * bijection preserves edit distances exactly, so every within-copy
    * pair/cluster replicates and cross-copy blocks never coincide — pairs
    * and entities scale exactly k×.
    */
  private def scaleCustomer(spark: SparkSession, baseDir: String, k: Int): DataFrame = {
    val base = spark.read
      .parquet(s"$baseDir/customer.parquet")
      .filter(col("c_custkey") < 500)
      .select(col("c_custkey"), col("c_name"), col("c_acctbal"))
    val alphabet = "abcdefghijklmnopqrstuvwxyz0123456789"
    require(k <= 36 + ExtensionRing.length,
      s"cipher ring exhausted at ${36 + ExtensionRing.length}, got scale $k")
    (0 until k).map { c =>
      if (c == 0) base
      else
        base.select(
          (col("c_custkey") + c * IdOffset).as("c_custkey"),
          translate(lower(col("c_name")), alphabet, cipherTarget(alphabet, c)).as("c_name"),
          col("c_acctbal")
        )
    }.reduce(_ unionByName _)
  }

  private def materialize(spark: SparkSession, baseDir: String, scratch: String, k: Int): String = {
    val dir = s"$scratch/x$k"
    val marker = new java.io.File(s"$dir/_READY")
    // the marker records WHICH base produced the corpus: a bare existence
    // check would silently reuse a stale corpus from a different baseDir
    // (or regenerated testdata) while the summary line labels it with the
    // new base — mislabeled curves. The tag therefore carries the base
    // file's (mtime, size) too: the driver regenerates testdata IN PLACE,
    // so a path-only tag cannot see the swap. The #v2 suffix versions the
    // LAYOUT (customer500 added for the entity-resolution curve).
    // fingerprint EVERY base this scratch derives from (the MakeSf fix):
    // a documents-only tag reused a stale corpus when events/customer/
    // embeddings regenerated independently
    val baseFp = MakeSf.baseFingerprint(baseDir,
      Seq("documents", "embeddings", "customer", "events"))
    val tag = s"$baseDir@$baseFp#v4" // v4: full-base fingerprint
    val fresh = marker.exists() &&
      new String(java.nio.file.Files.readAllBytes(marker.toPath), "UTF-8") == tag
    if (!fresh) {
      scaleDocs(spark, baseDir, k).write.mode("overwrite").parquet(s"$dir/documents.parquet")
      scaleEmbeddings(spark, baseDir, k).write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
      scaleCustomer(spark, baseDir, k).write.mode("overwrite").parquet(s"$dir/customer500.parquet")
      scaleEvents(spark, baseDir, k).write.mode("overwrite").parquet(s"$dir/events.parquet")
      java.nio.file.Files.write(marker.toPath, tag.getBytes("UTF-8"))
    }
    dir
  }

  /** One timed run that also reports the LONGEST single task (ms) — the
    * skew fixture's evidence: wall time alone can hide one stalled task
    * behind otherwise-idle executors, max-task shows it directly.
    */
  private def timeWithMaxTask(spark: SparkSession)(body: => Unit): (Double, Long) = {
    val listener = new org.apache.spark.scheduler.SparkListener {
      val maxMs = new java.util.concurrent.atomic.AtomicLong(0L)
      override def onTaskEnd(e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
        val d = e.taskInfo.duration
        var cur = maxMs.get()
        while (d > cur && !maxMs.compareAndSet(cur, d)) cur = maxMs.get()
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      // min-of-2, cache cleared per run (the time2 discipline); the
      // max-task is read per run and the pair from the faster run wins
      def once(): (Double, Long) = {
        spark.sharedState.cacheManager.clearCache()
        listener.maxMs.set(0L)
        val t0 = System.nanoTime()
        body
        val t = (System.nanoTime() - t0) / 1e9
        Thread.sleep(500) // listener bus is async; let task-end events drain
        (t, listener.maxMs.get())
      }
      val a = once()
      val b = once()
      if (a._1 <= b._1) a else b
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  /** The round-8 repeated-spans mark — windows partitioned by bare `gram`
    * — kept ONLY as the A/B baseline for the planted-hot-gram skew
    * fixture: a window partition cannot be split by AQE, so every row of a
    * hot gram lands in one task. [[graft.operators.Dedup.repeatedSpans]]
    * is the production (salted) form; do not use this one. Only the mark
    * differs: the char n-grams and the hits → spans merge are the
    * production ones.
    */
  private def legacySpans(
      spark: SparkSession, df: DataFrame, minLen: Int, minDocs: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val positions = df
      .select(col("doc_id"), Dedup.normText("text").as("__t"))
      .withColumn("__pg", explode(Dedup.charGrams("__t", minLen)))
      .select(col("doc_id"), col("__pg.pos").as("pos"), col("__pg.gram").as("gram"))
      .repartition(col("gram"))
    val wFirst = Window.partitionBy(col("gram"), col("doc_id")).orderBy(col("pos"))
    val wGram = Window.partitionBy(col("gram"))
    val hits = positions
      .withColumn("__first", when(row_number().over(wFirst) === 1, 1L).otherwise(0L))
      .withColumn("__nd", sum(col("__first")).over(wGram))
      .filter(col("__nd") >= minDocs)
      .select(col("doc_id"), col("pos"))
    Dedup.spansOfHits(hits, minLen, count(lit(1)))
  }

  /** min-of-2 timed runs, cache cleared before each (same discipline as
    * Bench: measure compute, not a cache hit).
    */
  private def time2(spark: SparkSession)(body: => Unit): Double = {
    def once(): Double = {
      spark.sharedState.cacheManager.clearCache()
      val t0 = System.nanoTime()
      body
      (System.nanoTime() - t0) / 1e9
    }
    math.min(once(), once())
  }

  def main(args: Array[String]): Unit = {
    val baseDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val scratch =
      if (args.length > 1) args(1)
      else s"${sys.props("java.io.tmpdir")}/graft_scale"
    val scales =
      if (args.length > 2) args(2).split(",").map(_.trim.toInt).toSeq else Seq(1, 3, 10)
    val only = sys.env.get("SPARK_GRAFT_SCALE_ONLY").map(_.split(",").map(_.trim).toSet)
    // SCALE_ONLY may also INJECT SparkEntry query names outside the static
    // list (tools/round_bench.sh's 30x spot-check of the round's worst
    // sf1-ratio queries is computed at run time, so it can't be a static
    // entry here). An injected query still runs against the scaled scratch
    // dir — which materializes only documents/embeddings/customer500/events
    // — so the per-query try below reports -1 for anything whose tables
    // aren't scalable instead of killing the whole sweep.
    val queries = only.fold(Queries)(f =>
      (Queries ++ f.toSeq.sorted.filter(SparkEntry.queries.contains)).distinct.filter(f.contains))
    val doVindex = only.forall(f => f.contains("vindex"))
    val doEr = only.forall(f => f.contains("entity_resolve"))
    val doAv = only.forall(f => f.contains("av_sniff"))
    val doSem = only.forall(f => f.contains("semdedup"))
    val doBloom = only.forall(f => f.contains("bloom_decon"))
    val doTrim = only.forall(f => f.contains("substring_trim"))
    val doSimPack = only.forall(f => f.contains("sim_pack"))
    val doHot = only.forall(f => f.exists(_.startsWith("substring_hot")))
    val doContainHot = only.forall(f => f.exists(_.startsWith("containment_hot")))
    val doGramAppend = only.forall(f => f.exists(_.startsWith("gram_append")))
    val doNoveltyHot = only.forall(f => f.exists(_.startsWith("novelty_hot")))
    val doLshKnob = only.forall(f => f.exists(_.startsWith("lsh_knob")))
    val doPhash = only.forall(f => f.contains("phash"))
    val doAudio = only.forall(f => f.contains("audio_fp"))
    val doBpeTrain = only.forall(f => f.exists(_.startsWith("bpe_train")))
    val doVideo = only.forall(f => f.contains("video_fp"))
    val doRepeats = only.forall(f => f.exists(_.startsWith("repeats")))
    val doChunks = only.forall(f => f.exists(_.startsWith("sentence_chunks")))
    // SPARK_GRAFT_SCALE_SHUFFLE_PARTITIONS: hold PER-PARTITION shuffle
    // volume constant across the decades instead of partition COUNT — the
    // cluster norm (a real job sizes partitions to data; AQE can coalesce
    // down but never split an unskewed sort above this number). The x100
    // decade at the default 32 puts ~3 GB of gram rows into each sort
    // partition and the spill turns a linear law super-linear
    // (q133: 12.4x wall at 3.33x data, reproduced twice — measured and
    // recorded in SCALE.md round 16).
    val shufflePartitions = sys.env.get("SPARK_GRAFT_SCALE_SHUFFLE_PARTITIONS")
      .map(_.toInt).getOrElse(32)
    val spark = graft.GraftSession.local(shufflePartitions = shufflePartitions)
    spark.sparkContext.setLogLevel("WARN")
    spark.range(1000000).agg(sum(col("id"))).collect() // session warm-up

    val results = scales.map { k =>
      val dir = materialize(spark, baseDir, scratch, k)
      val queryTimes = queries.map { q =>
        var rows = 0L
        val t =
          try time2(spark) { rows = SparkEntry.queries(q)(spark, dir).count() }
          catch {
            case e: Throwable =>
              // -1 = failure marker, same contract as graft.Bench: an
              // injected query whose tables the scratch dir doesn't
              // materialize must not kill the static curves
              System.err.println(s"[scale] $q FAILED at x$k: ${e.getMessage}")
              -1.0
          }
        val extra = if (q == "q62_neardup_clusters") s""","cc_rounds":${Graph.lastRounds}""" else ""
        println(s"""{"bench":"scale","scale":$k,"query":"$q","sec":$t,"rows":$rows$extra}""")
        q -> t
      }
      // the persistent index lifecycle at this corpus size: one build
      // (reported separately — it amortizes across every later probe), then
      // the per-refresh probe cost, which is what recurs at scale
      val vindexTimes = if (!doVindex) Nil else {
        val emb = spark.read.parquet(s"$dir/embeddings.parquet")
        val t0 = System.nanoTime()
        val h = VectorIndex.build(emb, "vec_id", "embedding", s"$dir/vindex", kLists = 16, m = 8, ksub = 16)
        val tBuild = (System.nanoTime() - t0) / 1e9
        val qs = emb.filter(col("vec_id") < 100).select(col("vec_id").as("qid"), col("embedding").as("qe"))
        var probed = 0L
        val tQuery = time2(spark) { probed = VectorIndex.query(h, qs, nProbe = 4, k = 10).count() }
        println(s"""{"bench":"scale","scale":$k,"query":"vindex_build","sec":$tBuild}""")
        println(s"""{"bench":"scale","scale":$k,"query":"vindex_probe","sec":$tQuery,"rows":$probed}""")
        Seq("vindex_build" -> tBuild, "vindex_probe" -> tQuery)
      }
      // q91 family: transitive entity resolution (blocked edit-distance
      // pairs → CC closure → survivor window) on the ciphered k× name
      // corpus. The row law is exact (entities scale k×); the CC refinement
      // rounds must stay bounded as the graph grows.
      val erTimes = if (!doEr) Nil else {
        val cust = spark.read.parquet(s"$dir/customer500.parquet")
        var ents = 0L
        val t = time2(spark) {
          ents = EntityResolution
            .resolve(cust, "c_custkey", "c_name", blockLen = 16, maxDist = 1, quality = col("c_acctbal"))
            .count()
        }
        println(
          s"""{"bench":"scale","scale":$k,"query":"entity_resolve","sec":$t,"rows":$ents,"cc_rounds":${Graph.lastRounds}}""")
        Seq("entity_resolve" -> t)
      }
      // q92 family: A/V container synthesis + header sniff over the k×
      // documents — the timed body is generate+parse (both linear in
      // bytes), and the reported byte volume makes the per-byte cost curve
      // explicit: flat per-byte cost is the 100 TB design claim.
      val avTimes = if (!doAv) Nil else {
        import spark.implicits._
        val docs = spark.read.parquet(s"$dir/documents.parquet")
        // fixture step via typed mapPartitions — same shape as q92's
        // definition; no per-row ScalaUDF anywhere in the timed plan
        val fixtures = docs
          .select(col("doc_id"), col("n_chars").cast("int"))
          .as[(Long, Int)]
          .mapPartitions(_.map { case (id, n) =>
            val content =
              if (id % 2 == 0) {
                val c = ((id / 2) % 2 + 1).toInt
                val r = 8000 * (((id / 2) % 3).toInt + 1)
                Multimodal.wavBytes(c, r, 16, n * 100)
              } else {
                val ts = 600 + (id % 5).toInt * 100
                val cc = Seq("avc1", "hvc1", "mp4a")(((id / 2) % 3).toInt)
                Multimodal.mp4Bytes(ts, n.toLong * 7, cc)
              }
            (id, content)
          })
          .toDF("doc_id", "content")
        var nDocs = 0L
        var nBytes = 0L
        val t = time2(spark) {
          val r = Multimodal
            .withAvMeta(fixtures, "content")
            .filter(col("av_format").isNotNull)
            .agg(count(lit(1)), sum(octet_length(col("content"))))
            .head
          nDocs = r.getLong(0)
          nBytes = r.getLong(1)
        }
        println(
          s"""{"bench":"scale","scale":$k,"query":"av_sniff","sec":$t,"rows":$nDocs,"bytes":$nBytes}""")
        Seq("av_sniff" -> t)
      }
      // q94 family AT the operator's own scale recipe: SemDeDup's cluster
      // count grows with the corpus (k ∝ N — the paper's configuration),
      // so per-cluster candidate sets stay constant-size and the
      // within-cluster join is linear. (q94's FIXED 8 centroids are a
      // correctness-gate fixture; benching them at 30× would measure the
      // deliberate misconfiguration — cluster size, hence join cost, grows
      // with the corpus when k is pinned.)
      val semTimes = if (!doSem) Nil else {
        val emb = spark.read
          .parquet(s"$dir/embeddings.parquet")
          .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
        // deterministic centroid draw: first 8·scale base vectors (k·d
        // driver collect — metadata-scale at any corpus size)
        val centroids = emb
          .orderBy(col("vec_id"))
          .limit(8 * k)
          .select(col("emb"))
          .collect()
          .map(_.getSeq[Double](0).toArray)
        var rows = 0L
        val t = time2(spark) {
          rows = Dedup.semanticDedup(emb, "vec_id", "emb", centroids, threshold = 0.9).count()
        }
        val corpusN = emb.count()
        require(rows == corpusN, s"semanticDedup row law broken: $rows out of $corpusN in")
        println(
          s"""{"bench":"scale","scale":$k,"query":"semdedup","sec":$t,"rows":$rows,"centroids":${8 * k}}""")
        Seq("semdedup" -> t)
      }
      // q110's similarity packing with the pair source's band keys sized
      // TO the corpus: fixed 8-bit band keys saturate (Σ|bucket|² goes
      // quadratic once occupancy ≫ 1 — measured 54× wall at 30× with the
      // q110 literal config), so the curve grows plane count with log(N):
      // 4 bands × (8 + log2 k) bits, keeping bucket occupancy O(1). The
      // row law (one output row per vector, exactly k×) is unchanged.
      val simPackTimes = if (!doSimPack) Nil else {
        val bandBits = 8 + (63 - java.lang.Long.numberOfLeadingZeros(k.toLong)).toInt.max(0)
        val planes = graft.operators.Similarity.hyperplanes(4 * bandBits, 64)
        val emb = spark.read
          .parquet(s"$dir/embeddings.parquet")
          .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
        var rows = 0L
        val t = time2(spark) {
          val pairs = Dedup
            .embedNearDupPairs(emb, "vec_id", "emb", planes, bands = 4, threshold = 0.9)
            .select(col("doc_a"), col("doc_b"))
          val docs = emb.select(col("vec_id").as("doc_id"),
            (col("vec_id") % 50 + 20).cast("long").as("tok"))
          rows = Sampling
            .similarityOrderedPack(docs, "doc_id", col("tok"), pairs, numShards = 8, maxTokens = 512L)
            .count()
        }
        println(
          s"""{"bench":"scale","scale":$k,"query":"sim_pack","sec":$t,"rows":$rows,"planes":${4 * bandBits}}""")
        Seq("sim_pack" -> t)
      }
      // q104's trim, timed through sum(removed_chars): a bare count() on
      // the trim output is join-eliminated (spans is an aggregate on
      // doc_id, distinct-key propagation drops the left join entirely), so
      // the aggregate forces the span derivation AND the cut fold. Row law:
      // removed chars scale exactly k× (cipher copies are gram-isomorphic).
      val trimTimes = if (!doTrim) Nil else {
        val docs = spark.read.parquet(s"$dir/documents.parquet")
        var removed = 0L
        val t = time2(spark) {
          removed = Dedup
            .trimRepeatedSpans(docs, "doc_id", "text", minLen = 30)
            .agg(sum(col("removed_chars")))
            .collect()(0).getLong(0)
        }
        println(
          s"""{"bench":"scale","scale":$k,"query":"substring_trim","sec":$t,"removed_chars":$removed}""")
        Seq("substring_trim" -> t)
      }
      // q95 family with the bloom sized TO the benchmark set (bits ∝ bench
      // fps — the operator's own sizing rule), so the prefilter's FP rate,
      // hence its effectiveness, is constant across scales. A fixed-size
      // bloom would saturate at large k and the curve would measure
      // saturation, not the operator.
      val bloomTimes = if (!doBloom) Nil else {
        val docs = spark.read.parquet(s"$dir/documents.parquet")
        val isBench = Sampling.hash60(col("doc_id")) % 100 >= 98
        var flagged = 0L
        val t = time2(spark) {
          flagged = Decontaminate
            .overlapsViaBloom(
              docs.filter(!isBench), docs.filter(isBench), "doc_id", "text",
              numBytes = (1 << 17) * k, numHashes = 7)
            .count()
        }
        println(
          s"""{"bench":"scale","scale":$k,"query":"bloom_decon","sec":$t,"rows":$flagged,"bloomKiB":${128 * k}}""")
        Seq("bloom_decon" -> t)
      }
      // Planted-hot-gram skew fixture (the round-8 verdict's scale-killer
      // probe): the cipher corpora are gram-disjoint across copies, so the
      // ordinary curves never exercise per-gram skew — here HALF the docs
      // get the same appended 600-char 'z' run, whose every 30-window is
      // ONE shared gram (~571 positions × half the corpus = ~43M rows
      // behind a single gram at 30×, the web-boilerplate shape). The
      // A/B: the salted mark (repeatedSpans) vs the round-8 gram-window
      // form ([[legacySpans]], kept here solely as this baseline). Both
      // must emit identical spans; the reported max-task wall shows the
      // legacy form serializing the hot gram into one task while the
      // salted form spreads it.
      val hotTimes = if (!doHot) Nil else {
        val docs = spark.read.parquet(s"$dir/documents.parquet")
        val hot = docs.select(
          col("doc_id"),
          when(pmod(col("doc_id"), lit(2)) === 0,
            concat(col("text"), lit(" " + "z" * 600))).otherwise(col("text")).as("text"))
        var rowsSalted = 0L
        var rowsLegacy = 0L
        val (tSalted, maxSalted) = timeWithMaxTask(spark) {
          rowsSalted = Dedup.repeatedSpans(hot, "doc_id", "text", minLen = 30).count()
        }
        val (tLegacy, maxLegacy) = timeWithMaxTask(spark) {
          rowsLegacy = legacySpans(spark, hot, minLen = 30, minDocs = 2).count()
        }
        require(rowsSalted == rowsLegacy,
          s"salted and legacy span marks disagree: $rowsSalted vs $rowsLegacy")
        println(s"""{"bench":"scale","scale":$k,"query":"substring_hot_salted","sec":$tSalted,"rows":$rowsSalted,"max_task_ms":$maxSalted}""")
        println(s"""{"bench":"scale","scale":$k,"query":"substring_hot_legacy","sec":$tLegacy,"rows":$rowsLegacy,"max_task_ms":$maxLegacy}""")
        Seq("substring_hot_salted" -> tSalted, "substring_hot_legacy" -> tLegacy)
      }
      // Planted-hot-gram A/B for the CONTAINMENT join (the round-11
      // verdict's q133 probe, same protocol as substring_hot): every 4th
      // doc gets one appended boilerplate sentence, so its word-trigrams
      // are shared by n/4 docs — the naive inverted-index self-join emits
      // ~(n/4)² collision pairs per shared gram BEFORE any threshold can
      // bind, while the PPJoin-prefix form admits a gram into candidate
      // generation only when it is among a doc's RAREST. Reported:
      // candidate-pair counts for both strategies (the bounded quantity)
      // and the full-operator wall time; results are identical by
      // construction (TextNormSpec pins output parity on a fixture).
      val containHotTimes = if (!doContainHot) Nil else {
        val docs = spark.read.parquet(s"$dir/documents.parquet")
          .select(col("doc_id"), col("text"))
        val hot = docs.withColumn("text",
          when(pmod(col("doc_id"), lit(4)) === 0,
            concat(col("text"), lit(" subscribe to our newsletter for updates and offers")))
            .otherwise(col("text")))
        // prefix-filtered candidates: the operator's own candidate stage
        var candPrefix = 0L
        val tPrefixCand = time2(spark) {
          val (d, c) = Dedup.containmentCandidates(hot, "doc_id", "text", 800)
          candPrefix = c.count()
          d.unpersist()
        }
        // naive candidates: every cross-doc gram collision, distinct —
        // the pre-round-12 formulation's pair generator (kept here solely
        // as this baseline; mirrors the shared gram derivation)
        val grams = hot
          .select(col("doc_id"),
            explode(array_distinct(graft.functions.HashExprs.wordNGrams(col("text"), 3)))
              .as("gs"))
          .select(col("doc_id"), Sampling.hash60(col("gs")).as("g"))
        var candNaive = 0L
        val tNaiveCand = time2(spark) {
          candNaive = grams.as("a")
            .join(grams.as("b"),
              col("a.g") === col("b.g") && col("a.doc_id") =!= col("b.doc_id"))
            .select(col("a.doc_id"), col("b.doc_id")).distinct().count()
        }
        var pairs = 0L
        val tFull = time2(spark) {
          pairs = Dedup.containmentPairs(hot, "doc_id", "text", 800).count()
        }
        println(s"""{"bench":"scale","scale":$k,"query":"containment_hot_prefix","sec":$tPrefixCand,"candidates":$candPrefix}""")
        println(s"""{"bench":"scale","scale":$k,"query":"containment_hot_naive","sec":$tNaiveCand,"candidates":$candNaive}""")
        println(s"""{"bench":"scale","scale":$k,"query":"containment_hot_full","sec":$tFull,"rows":$pairs}""")
        Seq("containment_hot_prefix" -> tPrefixCand, "containment_hot_naive" -> tNaiveCand,
          "containment_hot_full" -> tFull)
      }
      // Planted-hot-gram A/B for the NOVELTY df stage (the round-12 q100
      // trade): the skew-hardening sweep replaced the gram-df count WINDOW
      // with a groupBy aggregate + join-back, paying one extra exchange at
      // fixture scale. Here HALF the docs share one appended boilerplate
      // sentence, so each of its trigrams carries df = n/2 — the window
      // form buffers that gram's whole partition in one un-splittable task
      // (max_task_ms is the tell), while the aggregate collapses it to one
      // row per map task before the exchange and the join-back is
      // AQE-skew-splittable. Both forms must emit identical
      // (doc_id, n_grams, n_rare) rows (order-free checksum).
      val noveltyHotTimes = if (!doNoveltyHot) Nil else {
        val docs = spark.read.parquet(s"$dir/documents.parquet")
          .select(col("doc_id"), col("text"))
        val hot = docs.withColumn("text",
          when(pmod(col("doc_id"), lit(2)) === 0,
            concat(col("text"),
              lit(" all rights reserved terms of service privacy policy contact")))
            .otherwise(col("text")))
        def checksum(r: org.apache.spark.sql.DataFrame): Long = r
          .agg(sum(xxhash64(col("doc_id"), col("n_grams"), col("n_rare"))))
          .head.getLong(0)
        var chkAgg = 0L
        var chkWin = 0L
        val (tAgg, maxAgg) = timeWithMaxTask(spark) {
          chkAgg = checksum(
            graft.operators.TextAnalysis.noveltyReport(hot, "doc_id", "text"))
        }
        // the pre-round-12 window formulation, kept here solely as this
        // baseline
        val (tWin, maxWin) = timeWithMaxTask(spark) {
          val grams = hot
            .select(col("doc_id"),
              explode(graft.functions.HashExprs.wordNGrams(col("text"), 3)).as("gram"))
            .distinct()
          val w = org.apache.spark.sql.expressions.Window.partitionBy(col("gram"))
          chkWin = checksum(
            grams.withColumn("df", count(lit(1)).over(w))
              .groupBy(col("doc_id"))
              .agg(
                count(lit(1)).as("n_grams"),
                sum(when(col("df") <= 1, 1L).otherwise(0L)).as("n_rare")))
        }
        require(chkAgg == chkWin,
          s"novelty aggregate and window forms disagree: $chkAgg vs $chkWin")
        println(s"""{"bench":"scale","scale":$k,"query":"novelty_hot_agg","sec":$tAgg,"max_task_ms":$maxAgg}""")
        println(s"""{"bench":"scale","scale":$k,"query":"novelty_hot_window","sec":$tWin,"max_task_ms":$maxWin}""")
        Seq("novelty_hot_agg" -> tAgg, "novelty_hot_window" -> tWin)
      }
      // Fixed-vs-scaled LSH geometry for the embedding near-dup family
      // (the q54/q110 knob law, measured at the sf1 point as the suite's
      // one super-linear row): with FIXED bands × bits, candidate pairs
      // grow ∝ N²/2^bits as bucket occupancy rises; scaling bits/band
      // ~log₂(k) keeps occupancy — and so candidates per doc — constant.
      // Both geometries run the FULL verified operator on the q54 fixture
      // (corpus ∪ +0.05-perturbed copy). Reported per form: candidate-pair
      // count (the bounded quantity), wall, and planted-pair recall —
      // narrower buckets buy candidate volume with recall on the margin,
      // and that price is measured here, not hidden (which is also why an
      // occupancy CAP would be wrong for LSH: hot buckets hold real dense-
      // region pairs, unlike boilerplate grams).
      val lshKnobTimes = if (!doLshKnob) Nil else {
        val baseV = spark.read.parquet(s"$dir/embeddings.parquet")
          .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
        // twin ids sit far above ANY per-copy id space this bench
        // materializes (copy offsets are 1e8-strided; 30 copies < 4e9):
        // reusing the copy stride here would hand copy-c's twin the id of
        // copy-(c+1)'s base vector, and dropDuplicates would then score an
        // arbitrary one of the two — scrambling both the candidate count
        // and the planted recall at every k >= 2
        val twinOff = 1000000000000L
        val nearV = baseV.select(
          (col("vec_id") + twinOff).as("vec_id"),
          transform(col("emb"), (x, i) => when(i === 0, x + 0.05).otherwise(x)).as("emb"))
        // materialize the twin-union fixture to parquet, NOT persist():
        // time2 clears the session cache before every timed run (so the
        // near-dup family can't serve rep 2 from rep 1's blocks), which
        // also evicted this persist before it was ever used — every timed
        // body silently re-built the union and the measured walls carried
        // fixture reconstruction. A parquet fixture gives the timed bodies
        // the production shape: a flat scan of an on-disk corpus.
        val uPath = s"$dir/lsh_knob_twins.parquet"
        baseV.unionByName(nearV).write.mode("overwrite").parquet(uPath)
        val u = spark.read.parquet(uPath)
        val nPlanted = baseV.count()
        def runForm(bits: Int, tag: String): Seq[(String, Double)] = {
          val planes = Similarity.hyperplanes(4 * bits, 64)
          val perBand = planes.size / 4
          // the operator's own candidate stage, reconstructed standalone so
          // the bounded quantity is countable before the cosine verify
          val bandCols = (0 until 4).map { b =>
            struct(lit(b).as("band"),
              Similarity.lshBucket(col("emb"), planes.slice(b * perBand, (b + 1) * perBand)).as("bucket"))
          }
          val keyed = u.select(col("vec_id"), col("emb"))
            .select(col("vec_id"), explode(array(bandCols: _*)).as("bk"))
          var cands = 0L
          val tCand = time2(spark) {
            cands = keyed.as("a")
              .join(keyed.as("b"), col("a.bk") === col("b.bk") && col("a.vec_id") < col("b.vec_id"))
              .select(col("a.vec_id"), col("b.vec_id")).distinct().count()
          }
          var found = 0L
          val tFull = time2(spark) {
            found = Dedup.embedNearDupPairs(u, "vec_id", "emb", planes, bands = 4, threshold = 0.9)
              .filter(col("doc_b") === col("doc_a") + twinOff)
              .count()
          }
          val recall = found.toDouble / nPlanted
          println(s"""{"bench":"scale","scale":$k,"query":"lsh_knob_$tag","sec":$tFull,"cand_sec":$tCand,"candidates":$cands,"bits":$bits,"recall":$recall}""")
          Seq(s"lsh_knob_$tag" -> tFull)
        }
        val fixed = runForm(8, "fixed")
        val scaledBits = 8 + math.ceil(math.log(k.toDouble) / math.log(2.0)).toInt
        val scaled = runForm(scaledBits, "scaled")
        // the DEFAULT path (round 14): count → bitsPerBand — what a
        // caller now gets without touching any knob. Must track the
        // scaled form's near-linear law; also cross-checked against the
        // auto overload itself so the bench measures the geometry the
        // production entry point actually derives
        val autoBits = Similarity.bitsPerBand(u.count())
        val auto = runForm(autoBits, "auto")
        val viaDefault =
          Dedup.embedNearDupPairs(u, "vec_id", "emb", threshold = 0.9)
            .filter(col("doc_b") === col("doc_a") + twinOff).count()
        val viaExplicit =
          Dedup.embedNearDupPairs(u, "vec_id", "emb",
            Similarity.hyperplanes(4 * autoBits, 64), bands = 4, threshold = 0.9)
            .filter(col("doc_b") === col("doc_a") + twinOff).count()
        require(viaDefault == viaExplicit,
          s"default-geometry overload disagrees with explicit planes at bits=$autoBits: $viaDefault vs $viaExplicit")
        fixed ++ scaled ++ auto
      }
      // Incremental gram-index maintenance: at corpus scale k, a snapshot
      // rebuild (write the full index) costs ∝ k; appending a FIXED intake
      // batch (the base corpus re-idd, constant size across scales) must
      // stay ~flat — the append writes only the batch's grams (lake
      // append-mode = new files only; the index is neither scanned nor
      // shuffled). The probe afterwards verifies the appended index serves
      // spans. Single-run timings: a second append would change the index
      // under measurement.
      val gramAppendTimes = if (!doGramAppend) Nil else {
        val docs = spark.read.parquet(s"$dir/documents.parquet")
        val idxDir = s"$dir/gram_index_bench"
        var tRebuild = 0.0
        var tAppend = 0.0
        var probed = 0L
        spark.sharedState.cacheManager.clearCache()
        locally {
          val t0 = System.nanoTime()
          Dedup.substringGramIndex(docs, "text", 30)
            .write.mode("overwrite").parquet(idxDir)
          tRebuild = (System.nanoTime() - t0) / 1e9
        }
        val batch = spark.read.parquet(s"$baseDir/documents.parquet")
          .select((col("doc_id") + 900000000L).as("doc_id"),
            concat(col("text"), lit(" appended batch suffix")).as("text"))
        locally {
          val t0 = System.nanoTime()
          Dedup.substringGramIndex(batch, "text", 30)
            .write.mode("append").parquet(idxDir)
          tAppend = (System.nanoTime() - t0) / 1e9
        }
        val probe = spark.read.parquet(s"$baseDir/documents.parquet")
          .filter(col("doc_id") % 50 === 0)
          .select((col("doc_id") + 950000000L).as("doc_id"), col("text"))
        val tProbe = time2(spark) {
          probed = Dedup
            .repeatedSpansVsCorpus(probe, "doc_id", "text",
              spark.read.parquet(idxDir), 30)
            .count()
        }
        println(s"""{"bench":"scale","scale":$k,"query":"gram_append","sec":$tAppend,"rebuild_sec":$tRebuild,"probe_sec":$tProbe,"probe_rows":$probed}""")
        Seq("gram_append" -> tAppend)
      }
      // q105 family: per-byte PNG decode + dHash + the banded pair join over
      // a synthesized photo corpus keyed by the k× document ids (the %10
      // plant survives the IdOffset, so planted pairs scale exactly k×).
      // repartitionByBytes sizes tasks by binary volume — the media-skew
      // discipline — and the reported bytes make the per-byte decode cost
      // curve explicit: flat per-byte cost is the 100 TB claim.
      val phashTimes = if (!doPhash) Nil else {
        val ids = spark.read.parquet(s"$dir/documents.parquet").select(col("doc_id"))
        var pairs = 0L
        var nBytes = 0L
        val t = time2(spark) {
          // synthesize ONCE into a cache: the PNG ENCODE is as heavy as the
          // decode, and the un-cached form paid it three times per body
          // (repartitionByBytes' internal agg, the byte agg, the pair
          // pass) — the curve would then measure synthesis scheduling, not
          // the decode family. 256 KiB targets keep the decode parallel at
          // the 1× point too.
          val raw = Multimodal.phashPhotoFixture(ids, "doc_id")
            .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          try {
            nBytes = raw.agg(sum(octet_length(col("content")))).head.getLong(0)
            val photos = Multimodal.repartitionByBytes(raw, "content", targetBytes = 256L << 10)
            pairs = Dedup.nearDupPairs(Modality.photo, photos, "doc_id", "content", maxHamming = 3)
              .count()
          } finally raw.unpersist()
        }
        println(
          s"""{"bench":"scale","scale":$k,"query":"phash","sec":$t,"rows":$pairs,"bytes":$nBytes}""")
        Seq("phash" -> t)
      }
      // q115 family, decode side: WAV synthesis + PCM decode + 7×7 Goertzel
      // fingerprint over the k× ids (codes wrap at 7^6 via pmod — fine for
      // the DECODE cost curve, which is what this point measures; the pair
      // join's row law is the spec/q115 oracle's job, where ids stay in
      // range). Linear in clip bytes; per-byte cost must stay flat.
      val audioTimes = if (!doAudio) Nil else {
        val ids = spark.read.parquet(s"$dir/documents.parquet")
          .select(pmod(col("doc_id"), lit(117649L)).as("doc_id"))
        var clips = 0L
        var nBytes = 0L
        val t = time2(spark) {
          // same synthesize-once discipline as the phash fixture (the WAV
          // synthesis is cheaper than PNG encode but still double-counted
          // by repartitionByBytes' internal agg otherwise)
          val raw = Multimodal.audioClipFixture(ids, "doc_id")
            .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          try {
            val wavs = Multimodal.repartitionByBytes(raw, "content", targetBytes = 2L << 20)
            val r = wavs
              .select(graft.functions.AudioExprs.audioFingerprint(col("content")).as("fp"),
                octet_length(col("content")).as("len"))
              .agg(count(col("fp")), sum(col("len")))
              .head
            clips = r.getLong(0)
            nBytes = r.getLong(1)
          } finally raw.unpersist()
        }
        println(
          s"""{"bench":"scale","scale":$k,"query":"audio_fp","sec":$t,"rows":$clips,"bytes":$nBytes}""")
        Seq("audio_fp" -> t)
      }
      // q127 family, decode side: AVI synthesis + chunk walk + 8-frame 3×3
      // block-average fingerprint over the k× ids (codes wrap at 8^7 via
      // pmod — the DECODE cost curve, same caveat as audio_fp). The walk is
      // linear in clip bytes and the pixel work touches only the 8 sampled
      // frames; per-byte cost must stay flat.
      val videoTimes = if (!doVideo) Nil else {
        val idsBase = spark.read.parquet(s"$dir/documents.parquet")
          .select(pmod(col("doc_id"), lit(2097152L)).as("doc_id"))
        // AVI clips average ~140 KB (copies 660 KB) — repartition the ID
        // side BEFORE synthesis so a persisted partition stays ~30 MB; the
        // read-side partitioning would otherwise put GB-scale blocks in
        // 32 concurrent memory stores and OOM at the 10× point
        val nParts = math.max(32L, idsBase.count() / 200L).toInt
        val ids = idsBase.repartition(nParts)
        var clips = 0L
        var nBytes = 0L
        val t = time2(spark) {
          // same synthesize-once discipline as the phash/audio fixtures,
          // but DISK_ONLY: the 10×/30× video corpus (7/21 GB of byte
          // arrays) OOMs the memory store under 32 concurrent block
          // builds; disk blocks stream through the writer and the decode
          // pass reads them back — the same cost at every scale, so the
          // curve stays comparable
          val raw = Multimodal.videoClipFixture(ids, "doc_id")
            .persist(org.apache.spark.storage.StorageLevel.DISK_ONLY)
          try {
            val avis = Multimodal.repartitionByBytes(raw, "content", targetBytes = 2L << 20)
            val r = avis
              .select(graft.functions.VideoExprs.videoFingerprint(col("content")).as("fp"),
                octet_length(col("content")).as("len"))
              .agg(count(col("fp")), sum(col("len")))
              .head
            clips = r.getLong(0)
            nBytes = r.getLong(1)
          } finally raw.unpersist()
        }
        println(
          s"""{"bench":"scale","scale":$k,"query":"video_fp","sec":$t,"rows":$clips,"bytes":$nBytes}""")
        Seq("video_fp" -> t)
      }
      // q121 family: the upsampling mixture is the ONE operator whose
      // OUTPUT grows faster than its input (rows ∝ epochs × corpus), so the
      // curve runs the epoch dimension at each data scale: budgets = e ×
      // natural total per source, e ∈ {1, 4, 16}. Wall time must track the
      // OUTPUT row count (the honest cost of repeats — scan-side explode),
      // not super-linearly.
      val repeatsTimes = if (!doRepeats) Nil else {
        // parquet fixture, not persist(): time2's pre-run clearCache
        // evicted the persist before first use, so every timed body
        // re-paid the token-split scan — a constant floor distorting the
        // "wall tracks output rows" law at small e (same fix as lsh_knob)
        val tokPath = s"$dir/repeats_tok.parquet"
        spark.read.parquet(s"$dir/documents.parquet")
          .select(col("doc_id"), col("source"),
            size(split(lower(col("text")), "\\s+")).cast("long").as("n_tokens"))
          .write.mode("overwrite").parquet(tokPath)
        val withTok = spark.read.parquet(tokPath)
        val totals = withTok.groupBy(col("source")).agg(sum(col("n_tokens")).as("t"))
          .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
        Seq(1, 4, 16).map { e =>
          val budgets = totals.view.mapValues(_ * e).toMap
          var rows = 0L
          val t = time2(spark) {
            rows = Sampling.tokenBudgetMixtureWithRepeats(
              withTok, col("source"), col("doc_id"), col("n_tokens"),
              budgets, numShards = 64, maxEpochs = 32).count()
          }
          println(
            s"""{"bench":"scale","scale":$k,"query":"repeats_e$e","sec":$t,"rows":$rows}""")
          s"repeats_e$e" -> t
        }
      }
      // q126 family: sentence-boundary chunking — sentence explode at the
      // scan plus one per-doc window prefix sum; must scale linearly with
      // the corpus.
      val chunkTimes = if (!doChunks) Nil else {
        val docs = spark.read.parquet(s"$dir/documents.parquet")
        var rows = 0L
        val t = time2(spark) {
          rows = graft.operators.TextAnalysis
            .sentenceChunks(docs, "doc_id", "text", maxTokens = 64).count()
        }
        println(
          s"""{"bench":"scale","scale":$k,"query":"sentence_chunks","sec":$t,"rows":$rows}""")
        Seq("sentence_chunks" -> t)
      }
      // BPE trainer scale shape (the round-9 verdict's perf-weak): corpus =
      // the base docs repeated k× VERBATIM (ids offset, text unchanged), so
      // occurrences grow k× while DISTINCT WORDS stay constant — exactly
      // the regime where the word-frequency form's V rounds are flat (they
      // scan the vocab-scale word table) and the per-occurrence rescan
      // form's V rounds grow k× (they re-scan the corpus). Both must learn
      // the identical table (the parity law, asserted here too).
      val bpeTrainTimes = if (!doBpeTrain) Nil else {
        val base = spark.read.parquet(s"$baseDir/documents.parquet")
          .select(col("doc_id"), col("text"))
        val corpus = (0 until k).map { c =>
          if (c == 0) base
          else base.select((col("doc_id") + c * IdOffset).as("doc_id"), col("text"))
        }.reduce(_ unionByName _)
        var mergesLocal: Seq[(String, String)] = Nil
        var mergesFast: Seq[(String, String)] = Nil
        var mergesRescan: Seq[(String, String)] = Nil
        val tLocal = time2(spark) {
          mergesLocal = graft.operators.BpeTrainer.trainMerges(corpus, "text", numMerges = 5)
        }
        val tFast = time2(spark) {
          mergesFast = graft.operators.BpeTrainer
            .trainMerges(corpus, "text", numMerges = 5, maxDriverWords = 0L)
        }
        val tRescan = time2(spark) {
          mergesRescan =
            graft.operators.BpeTrainer.trainMergesRescan(corpus, "text", numMerges = 5)
        }
        require(mergesLocal == mergesRescan && mergesFast == mergesRescan,
          s"trainer forms disagree: $mergesLocal vs $mergesFast vs $mergesRescan")
        println(s"""{"bench":"scale","scale":$k,"query":"bpe_train_local","sec":$tLocal,"merges":${mergesLocal.size}}""")
        println(s"""{"bench":"scale","scale":$k,"query":"bpe_train_wordfreq","sec":$tFast,"merges":${mergesFast.size}}""")
        println(s"""{"bench":"scale","scale":$k,"query":"bpe_train_rescan","sec":$tRescan,"merges":${mergesRescan.size}}""")
        // the DEPTH dimension (the round-10 verdict's remaining BPE gap):
        // a production vocabulary means tens of thousands of ROUNDS, and
        // the distributed forms pay one Spark job per round — pure
        // scheduler overhead at vocab scale. 500 merges, once, at the
        // smallest scale (depth is not a data-scale curve): the
        // driver-local loop must finish in seconds where the distributed
        // rounds take minutes, and both must learn the identical table.
        val depth = if (k != scales.min) Nil else {
          var dLocal: Seq[(String, String)] = Nil
          var dDist: Seq[(String, String)] = Nil
          // the documents fixture has only 31 distinct words (fully merged
          // by round 89), so the depth corpus appends per-doc id words —
          // their shared digit structure sustains well past 500 rounds,
          // which is the dimension this benchmark isolates (rounds = Spark
          // jobs in the distributed form, zero jobs in the local one)
          val deep = base.select(
            col("doc_id"),
            concat(col("text"), lit(" tok"), col("doc_id").cast("string")).as("text"))
          val tdLocal = time2(spark) {
            dLocal = graft.operators.BpeTrainer.trainMerges(deep, "text", numMerges = 500)
          }
          val tdDist = time2(spark) {
            dDist = graft.operators.BpeTrainer
              .trainMerges(deep, "text", numMerges = 500, maxDriverWords = 0L)
          }
          require(dLocal == dDist, "500-merge depth: local and distributed tables diverged")
          println(s"""{"bench":"scale","scale":$k,"query":"bpe_depth_local","sec":$tdLocal,"merges":${dLocal.size}}""")
          println(s"""{"bench":"scale","scale":$k,"query":"bpe_depth_dist","sec":$tdDist,"merges":${dDist.size}}""")
          Seq("bpe_depth_local" -> tdLocal, "bpe_depth_dist" -> tdDist)
        }
        Seq("bpe_train_local" -> tLocal, "bpe_train_wordfreq" -> tFast,
          "bpe_train_rescan" -> tRescan) ++ depth
      }
      k -> (queryTimes ++ vindexTimes ++ erTimes ++ avTimes ++ semTimes ++ trimTimes ++
        simPackTimes ++ bloomTimes ++ hotTimes ++ containHotTimes ++ gramAppendTimes ++
        noveltyHotTimes ++ lshKnobTimes ++ phashTimes ++
        audioTimes ++ videoTimes ++ repeatsTimes ++ chunkTimes ++ bpeTrainTimes)
    }.toMap

    // summary: growth factors vs the smallest scale (a ~linear engine shows
    // ~k/k0 at scale k)
    val k0 = scales.min
    val names = queries ++
      (if (doVindex) Seq("vindex_build", "vindex_probe") else Nil) ++
      (if (doEr) Seq("entity_resolve") else Nil) ++
      (if (doAv) Seq("av_sniff") else Nil) ++
      (if (doSem) Seq("semdedup") else Nil) ++
      (if (doTrim) Seq("substring_trim") else Nil) ++
      (if (doSimPack) Seq("sim_pack") else Nil) ++
      (if (doBloom) Seq("bloom_decon") else Nil) ++
      (if (doHot) Seq("substring_hot_salted", "substring_hot_legacy") else Nil) ++
      (if (doContainHot) Seq("containment_hot_prefix", "containment_hot_naive", "containment_hot_full") else Nil) ++
      (if (doGramAppend) Seq("gram_append") else Nil) ++
      (if (doNoveltyHot) Seq("novelty_hot_agg", "novelty_hot_window") else Nil) ++
      (if (doLshKnob) Seq("lsh_knob_fixed", "lsh_knob_scaled", "lsh_knob_auto") else Nil) ++
      (if (doPhash) Seq("phash") else Nil) ++
      (if (doAudio) Seq("audio_fp") else Nil) ++
      (if (doVideo) Seq("video_fp") else Nil) ++
      (if (doRepeats) Seq("repeats_e1", "repeats_e4", "repeats_e16") else Nil) ++
      (if (doChunks) Seq("sentence_chunks") else Nil) ++
      (if (doBpeTrain) Seq("bpe_train_local", "bpe_train_wordfreq", "bpe_train_rescan") else Nil)
    val summary = names.map { q =>
      val t1 = results(k0).toMap.apply(q)
      // a -1 failure marker (an injected query whose tables the scratch
      // doesn't materialize, or a thrown run) must read as a marked
      // failure in the committed summary, never as a negative "curve"
      val g =
        if (t1 <= 0) scales.map(_ => "null").mkString("[", ",", "]")
        else scales.map { k =>
          val t = results(k).toMap.apply(q)
          if (t <= 0) "null" else f"${t / t1}%.1f"
        }.mkString("[", ",", "]")
      s""""$q":{"sec_${k0}x":$t1,"growth":$g}"""
    }.mkString("{", ",", "}")
    println(s"""{"bench":"scale_summary","base":"$baseDir","scales":[${scales.mkString(",")}],"queries":$summary}""")
    spark.stop()
  }
}

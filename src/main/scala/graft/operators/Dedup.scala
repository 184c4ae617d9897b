package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for large-scale training-data pipelines: exact
  * (hash-groupBy), MinHash+LSH (shingle → minhash → band → bucket-join),
  * SimHash, and n-gram Jaccard.
  *
  * Algorithms follow the public literature — minwise hashing (Broder,
  * "On the resemblance and containment of documents", 1997), LSH banding
  * (Indyk & Motwani 1998; the banded formulation popularized by Mining of
  * Massive Datasets ch. 3), SimHash (Charikar, "Similarity estimation
  * techniques from rounding algorithms", STOC 2002) — implementations are
  * original Spark-first code.
  *
  * Design for 100 TB:
  *  - Signatures (minhash/simhash/fingerprints) are pure per-row expression
  *    pipelines — no shuffle, fully codegen'd, embarrassingly parallel.
  *  - Candidate generation joins on (band, bucket) — an equi-join Spark hash
  *    partitions; bucket cardinality grows with corpus size so partitions
  *    stay balanced (the whole point of banding: ~|corpus|/bucket pairs
  *    instead of |corpus|² pairwise comparisons).
  *  - Exact dedup is one hash aggregate on the content digest — map-side
  *    partial aggregation collapses duplicates before the shuffle.
  */
object Dedup {

  /** MinHash signature via the native single-pass expression
    * ([[graft.functions.HashExprs.minhashSignature]]): one md5 per shingle,
    * integer hash family (a_j·h + b_j mod 2³¹-1). The earlier
    * expression-composition version (12 md5 calls per shingle through
    * interpreted higher-order functions) was ~20x slower at corpus scale.
    */
  def minhashSignature(text: Column, shingleK: Int, numHashes: Int): Column =
    graft.functions.HashExprs.minhashSignature(text, shingleK, numHashes)

  /** LSH banding: the signature is cut into `bands` groups of `rows` hashes;
    * each band's bucket id is its slice rendered as a string (the join key —
    * no digest needed). Two docs collide in a band iff that band's rows all
    * match.
    */
  def lshBandBuckets(signature: Column, bands: Int, rows: Int): Column =
    array((0 until bands).map { b =>
      array_join(transform(slice(signature, b * rows + 1, rows), _.cast("string")), ",")
    }: _*)

  /** (doc_id, band, bucket) rows — the MinHash LSH index of a corpus. Pure
    * map (signature expression + explode); at scale this is what you
    * precompute and STORE alongside the lake so later batches probe it
    * without re-reading the corpus ([[probeNewDocs]]).
    */
  def minhashBuckets(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleK: Int = 5,
      numHashes: Int = 12,
      bands: Int = 4
  ): DataFrame = {
    // same divisibility contract as embedNearDupPairs' planes/bands: a
    // silent truncation would band only the first rows*bands hashes and
    // quietly change the precision/recall geometry the caller tuned
    require(numHashes % bands == 0,
      s"numHashes $numHashes not divisible by bands $bands — the remainder hashes would be " +
        "computed and never banded")
    val rows = numHashes / bands
    // fan out BEFORE the signature projection: the per-shingle md5 pass is
    // the heavy map work, and a sub-split input (one parquet row group, a
    // small refresh batch) would otherwise run it on ONE task ([[Par]])
    Par
      .fanOutSmall(df.select(col(idCol).as("doc_id"), col(textCol).as("__mh_text")))
      .select(col("doc_id"), minhashSignature(col("__mh_text"), shingleK, numHashes).as("sig"))
      .select(col("doc_id"), posexplode(lshBandBuckets(col("sig"), bands, rows)))
      .toDF("doc_id", "band", "bucket")
  }

  /** Candidate near-duplicate pairs via MinHash + LSH: docs sharing any band
    * bucket. Output: (doc_a, doc_b) with doc_a < doc_b, distinct.
    */
  def minhashCandidatePairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleK: Int = 5,
      numHashes: Int = 12,
      bands: Int = 4
  ): DataFrame = {
    // persisted: both self-join sides read the signature (one md5 per
    // shingle), and under AQE's broadcast choice they share no exchange.
    // Lazy, not [[Par.eager]] (eager cost q62/q63/q89 +9–14%), and not
    // rebalanced first (+7–13%; OPTIMIZATION_r17.md, "1b. q90").
    val bucketed = minhashBuckets(df, idCol, textCol, shingleK, numHashes, bands)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    bucketed
      .as("a")
      .join(
        bucketed.as("b"),
        col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket") &&
          col("a.doc_id") < col("b.doc_id")
      )
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
  }

  /** MinHash+LSH similarity EDGES for clustering: per (band, bucket), a star
    * (bucket-min → member) instead of [[minhashCandidatePairs]]'s all-pairs.
    *
    * The connected components of these stars are EXACTLY the components of
    * the full pair set (a bucket's star and its clique connect the same
    * member set), but the edge count is linear in corpus size instead of
    * quadratic in bucket occupancy — a hot bucket (boilerplate near-dups at
    * 100 TB) emits |bucket| edges, not |bucket|²/2. The bucket minimum is a
    * map-side-combinable AGGREGATE joined back to the membership stream (a
    * hot bucket collapses to one row per map task in the min's partials,
    * and the join-back is AQE-skew-splittable) — not a min window, which
    * would buffer the whole hot bucket in one un-splittable task. Feed this
    * to [[Graph.connectedComponents]] / [[nearDupClusters]]; use the pair
    * form only when the per-pair list itself is the product.
    */
  def minhashClusterEdges(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleK: Int = 5,
      numHashes: Int = 12,
      bands: Int = 4
  ): DataFrame = {
    // lazy persist, not eager or rebalanced: see minhashCandidatePairs
    // (q62/q63 +10%; OPTIMIZATION_r17.md, "1b. q90").
    val bucketed = minhashBuckets(df, idCol, textCol, shingleK, numHashes, bands)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val centers = bucketed.groupBy(col("band"), col("bucket"))
      .agg(min(col("doc_id")).as("doc_a"))
    bucketed
      .join(centers, Seq("band", "bucket"))
      .filter(col("doc_a") < col("doc_id"))
      .select(col("doc_a"), col("doc_id").as("doc_b"))
      .distinct()
  }

  /** 32-bit SimHash over lowercase whitespace tokens via the native
    * single-pass codegen expression ([[graft.functions.HashExprs.simhash32]]).
    * Bit i of each token's md5 (the high bit of hex digit i) votes +1/-1;
    * the fingerprint sets bit i where the vote sum is positive. Pure per-row
    * expression — no shuffle.
    */
  def simhash32(text: Column): Column =
    graft.functions.HashExprs.simhash32(text)

  /** 64-bit SimHash (two votes per md5 hex digit) — the 100 TB fingerprint:
    * twice the bits of [[simhash32]], so random fingerprint collisions (and
    * therefore spurious band-bucket candidates) fall off by ~2^32.
    */
  def simhash64(text: Column): Column =
    graft.functions.HashExprs.simhash64(text)

  /** Near-dup pairs at hamming distance <= maxHamming over 64-bit SimHash
    * fingerprints, via Manku-style multi-table permuted banding (Manku,
    * Jain & Das Sarma, "Detecting near-duplicates for web crawling",
    * WWW 2007 §3): split the fingerprint into `blocks` contiguous blocks
    * and build one join table per combination of `blocks - maxHamming`
    * block indices, keyed on those blocks' concatenated bits.
    *
    * EXACT by pigeonhole: <= maxHamming differing bits touch at most
    * maxHamming blocks, so some (blocks - maxHamming)-subset of blocks is
    * untouched and its table keys the pair together. vs the fixed
    * 8-bit-band scheme of q26: keys here carry ~64·(1 - d/B) bits (32+ at
    * B=6, d=3 — billions of buckets instead of 256 per band), which is what
    * keeps bucket occupancy O(1) and the join sub-quadratic at corpus
    * scale; the price is C(B, B-d) tables (20 at B=6,d=3) instead of 4.
    */
  def simhash64Pairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      maxHamming: Int = 3,
      blocks: Int = 6
  ): DataFrame =
    bandedFingerprintPairs(
      Par
        .fanOutSmall(df.select(col(idCol).as("doc_id"), col(textCol).as("__shtext")))
        .select(col("doc_id"), simhash64(col("__shtext")).as("fp"))
        // cheap codegen'd fingerprint: lazy persist (see bandedFingerprintPairs)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK),
      maxHamming,
      blocks,
      bits = 64
    )

  /** 32-bit twin of [[simhash64Pairs]] — same Manku multi-table permuted
    * banding over [[simhash32]] fingerprints (exact at `maxHamming` by the
    * same pigeonhole), just `bits = 32`. At B=6, d=3 each of the C(6,3)=20
    * tables keys on ~16 block bits (~65k buckets), vs the 256 buckets/band
    * a fixed 4×8-bit scheme saturates at — candidates stay sub-quadratic
    * as the corpus grows. Prefer the 64-bit form for new pipelines; this
    * exists because 32-bit fingerprints are what some legacy stores hold.
    */
  def simhash32Pairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      maxHamming: Int = 3,
      blocks: Int = 6
  ): DataFrame =
    bandedFingerprintPairs(
      Par
        .fanOutSmall(df.select(col(idCol).as("doc_id"), col(textCol).as("__shtext")))
        .select(col("doc_id"), simhash32(col("__shtext")).as("fp"))
        // cheap codegen'd fingerprint: lazy persist (see bandedFingerprintPairs)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK),
      maxHamming,
      blocks,
      bits = 32
    )

  /** Embedding-cosine near-duplicate pairs: sign-bit LSH banding for
    * candidate generation + exact cosine verification at `threshold` —
    * the dedup-shaped sibling of the ANN family ([[Similarity]]).
    *
    * Candidates: `planes.size / bands` hyperplane sign bits per band; two
    * vectors collide in a band iff every one of its planes agrees, so
    * candidate generation is a band-bucket equi-join (sub-quadratic — no
    * all-pairs scan), and only candidates pay the exact cosine. Recall is
    * approximate by construction (a qualifying pair agreeing in no band is
    * missed); more/narrower bands raise recall at more candidate cost —
    * the q28/q40 recall lever applied to dedup. Deterministic: fixed
    * planes mean reruns (and the replayed-plane oracle) see identical
    * buckets.
    *
    * This DEFAULT-geometry form is the one a caller should reach for: it
    * counts the corpus (one cheap count-star job — the knob computation,
    * paid once per run) and derives the scale-safe band width via
    * [[Similarity.bitsPerBand]] (bits ≈ log₂(n / targetOccupancy),
    * floor 8). The explicit-planes overload below keeps FIXED geometry —
    * occupancy, and so candidate pairs per doc, grow linearly with n and
    * the pair join quadratically (measured: 23.9× wall at 10× data,
    * 900× candidates at 30× — `lsh_knob` in SCALE.md) — so fixed planes
    * are for callers replaying a pinned geometry (oracles, A/B forms),
    * not for production corpora whose n the call site doesn't know.
    */
  def embedNearDupPairs(
      df: DataFrame,
      idCol: String,
      embCol: String,
      threshold: Double,
      bands: Int = 4,
      targetOccupancy: Long = 32L
  ): DataFrame = {
    // n and dim in ONE job; dim from the widest row so a ragged corpus
    // fails in hyperplane arithmetic rather than silently truncating
    val stats = df
      .agg(count(lit(1)), coalesce(max(size(col(embCol))), lit(0)))
      .head()
    val (n, dim) = (stats.getLong(0), stats.getInt(1))
    val planes = Similarity.planesFor(n, dim, bands, targetOccupancy)
    embedNearDupPairs(df, idCol, embCol, planes, bands, threshold)
  }

  /** Pinned-geometry form — see the default overload above for when each
    * applies (short version: replay/oracle/A-B callers only; a fixed
    * width is a measured quadratic at corpus scale).
    */
  def embedNearDupPairs(
      df: DataFrame,
      idCol: String,
      embCol: String,
      planes: Seq[Array[Double]],
      bands: Int,
      threshold: Double
  ): DataFrame = {
    require(planes.size % bands == 0, s"planes ${planes.size} not divisible by bands $bands")
    val perBand = planes.size / bands
    val emb = col("emb")
    // one native lshBucket expression per band (single pass over the vector
    // per band); per-doc norm computed ONCE here, not per candidate pair
    val bandCols = (0 until bands).map { b =>
      struct(
        lit(b).as("band"),
        Similarity.lshBucket(emb, planes.slice(b * perBand, (b + 1) * perBand)).as("bucket")
      )
    }
    // two-step projection: `emb` must exist BEFORE the select that explodes
    // over it (a same-select alias is a lateral column reference, which
    // Spark refuses inside a Generate); the optimizer collapses the pair
    val keyed = df
      .select(col(idCol).as("doc_id"), col(embCol).as("emb"))
      .select(
        col("doc_id"),
        col("emb"),
        Similarity.norm(col("emb")).as("nrm"),
        explode(array(bandCols: _*)).as("bk")
      )
      // both-sides-read-it persist (the bandedFingerprintPairs rationale):
      // per-row norms + per-band hyperplane projections otherwise compute
      // once per self-join side (lazy on purpose — the r16 eager/fan-out
      // experiment measured q54 1.55x worse: the extra exchange + blocking
      // count cost more than the cheap duplicated projection)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    keyed
      .as("a")
      .join(keyed.as("b"), col("a.bk") === col("b.bk") && col("a.doc_id") < col("b.doc_id"))
      // cosine BEFORE the pair-dedup shuffle, never after: the distinct
      // used to run over rows still CARRYING both embedding arrays
      // (~1 KB/row at 64 dims — an 8 GB spill-prone exchange at a 10M-
      // candidate corpus, measured 7.8× wall at 3× data in the r15 30×
      // spot), where computing the dot map-side first ships 24-byte
      // (id, id, cos) rows and lets the threshold prune the exchange down
      // to the qualifying pairs. A multi-band collision pays the dot once
      // per colliding band — map-side codegen'd arithmetic, noise against
      // the exchange it replaces — and duplicate pairs carry IDENTICAL
      // cos, so filter-then-distinct returns exactly the same rows.
      .select(
        col("a.doc_id").as("doc_a"),
        col("b.doc_id").as("doc_b"),
        // NULL, not NaN, on a zero-norm vector: Spark's NaN compares GREATER
        // than everything, so `NaN >= threshold` is TRUE and a single failed
        // (all-zero) embedding would "near-duplicate" its whole bucket;
        // NULL >= threshold is NULL and filters out (same contract as
        // Similarity.cosine)
        nanvl(
          Similarity.dot(col("a.emb"), col("b.emb")) / (col("a.nrm") * col("b.nrm")),
          lit(null).cast("double")).as("cos")
      )
      .filter(col("cos") >= threshold)
      .dropDuplicates("doc_a", "doc_b")
  }

  /** Embedding near-dup pairs through a PERSISTED [[VectorIndex]] — the
    * repeated/incremental-run form of [[embedNearDupPairs]]: build the
    * index once, probe it on every pipeline refresh instead of re-hashing
    * the whole corpus per run. Candidates come from the index's
    * partition-pruned ADC probe (each doc queries its own nProbe lists for
    * k approximate neighbors); only candidates pay the exact-cosine
    * verification, via an equi-join back to the raw vectors (candidate set
    * is ≤ n·k rows, never all-pairs). Same output contract as
    * [[embedNearDupPairs]]: (doc_a < doc_b, cos ≥ threshold) distinct.
    *
    * Recall knob differs from the LSH form: raise nProbe/k instead of
    * bands. With nProbe = kLists and k ≥ the largest true neighborhood the
    * candidate set is effectively exhaustive per doc.
    */
  def embedNearDupPairsViaIndex(
      df: DataFrame,
      idCol: String,
      embCol: String,
      index: VectorIndex.Handle,
      threshold: Double,
      nProbe: Int = 4,
      k: Int = 10
  ): DataFrame = {
    val vecs = df.select(col(idCol).as("doc_id"), col(embCol).as("emb"))
    val queries = vecs.select(col("doc_id").as("qid"), col("emb").as("qe"))
    val cands = VectorIndex
      .query(index, queries, nProbe, k, excludeSelf = true)
      // canonical orientation BEFORE distinct: the probe sees each pair
      // from both ends (a queries b, b queries a) — fold them together
      .select(
        least(col("qid"), col("vec_id")).as("doc_a"),
        greatest(col("qid"), col("vec_id")).as("doc_b")
      )
      .dropDuplicates("doc_a", "doc_b")
    cands
      .join(vecs.select(col("doc_id").as("doc_a"), col("emb").as("ea")), Seq("doc_a"))
      .join(vecs.select(col("doc_id").as("doc_b"), col("emb").as("eb")), Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"), Similarity.cosine(col("ea"), col("eb")).as("cos"))
      .filter(col("cos") >= threshold)
  }

  /** MOSS-style near-dup pairs by shared winnowing fingerprints
    * ([[TextAnalysis.winnowingFingerprints]]): inverted fingerprint index →
    * pair counts → `shared >= minShared`.
    *
    * Scale shape: winnowing selects ~2/(w+1) of the k-gram hashes, so the
    * inverted index is ~(w+1)/2× smaller than a full gram index before any
    * filtering, and boilerplate fingerprints are dropped up front, exactly
    * the stop-gram control PPJoin achieves with prefixes. TWO df cutoffs
    * compose (a fingerprint survives only under BOTH — the TfIdf rule):
    * `maxDfFrac` is the relative boilerplate cut, and `maxDfCount` is the
    * ABSOLUTE posting-list bound. The relative cut alone GROWS with the
    * corpus: at the sf1 point (50k docs) 0.05·N admits 2,500-doc posting
    * lists — ~3.1M self-join pairs from ONE hot fingerprint — and the
    * measured q56 wall was 27.5 s (8.6× sf0.1 for 10× docs, superlinear);
    * at 100 TB the same frac is a 10⁸-doc list. The absolute bound caps
    * candidate volume at |fps|·maxDfCount² whatever N.
    */
  def winnowingOverlapPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 5,
      w: Int = 8,
      maxDfFrac: Double = 0.05,
      minShared: Int = 5,
      maxDfCount: Long = 1000L
  ): DataFrame = {
    val nDocs = df.count()
    // fanned out (the rolling-hash fingerprint pass is the heavy map work;
    // a sub-split input runs it on one task); lazy persist — a blocking
    // count here serializes stages AQE overlaps (the q62/q24 measurement)
    val fps = Par
      .fanOutSmall(df.select(col(idCol).as("doc_id"), col(textCol).as("__wtext")))
      .select(
        col("doc_id"),
        explode(TextAnalysis.winnowingFingerprints(col("__wtext"), k, w)).as("fp")
      )
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // document frequency per fingerprint via a groupBy AGGREGATE joined back
    // — NOT a count window over fp: the aggregate partial-aggregates
    // map-side (the hottest boilerplate fingerprint collapses to one row per
    // map task before its exchange) and the join-back is AQE-skew-
    // splittable, where a window partitioned on fp would buffer every
    // occurrence of the hot key in one un-splittable task (the q133/q134
    // argument). fps persists: the df aggregate and the join probe both
    // read it.
    val dfTable = fps.groupBy(col("fp")).agg(count(lit(1)).as("__df"))
    // Persisted because both sides of the self-join read it; the blocks are
    // reclaimed by Spark's ContextCleaner once the returned plan is
    // unreferenced (same lifecycle contract as CorpusPipeline's gated
    // table) — callers holding many results long-term should unpersist via
    // sparkSession.sharedState.cacheManager if storage pressure matters.
    val kept = fps
      .join(
        dfTable.filter(col("__df") <= least(lit(nDocs * maxDfFrac), lit(maxDfCount))),
        Seq("fp"))
      .drop("__df")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    kept
      .as("a")
      .join(kept.as("b"), col("a.fp") === col("b.fp") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("shared"))
      .filter(col("shared") >= minShared)
  }

  /** The banding join itself, over a (doc_id, fp[, afp]) frame — separated
    * so specs can drive it with synthetic fingerprints and prove recall is
    * exact. `bits` is the fingerprint width (64 for [[simhash64]] and the
    * photo/video fingerprints, 32 for [[simhash32]], 49 for audio) — ONE
    * implementation serves every width, parameterized, so there is no
    * second fixed-band code path to drift. `maxAHamming = Some(a)` (the
    * verified photo family) carries the confirm hash `afp`: pairs gain
    * `a_hamming` and must keep it within `a`.
    *
    * BOTH sides of the band-key self-join read `fps`, and under AQE's
    * broadcast choice the sides do NOT share an exchange — so callers hand
    * in a PERSISTED frame, choosing the persist by fingerprint cost:
    *  - media decodes ([[nearDupPairs]]) use [[Par.eager]]. Uncached, the
    *    per-row image decode / PCM Goertzel pass runs once per side
    *    (measured at sf0.1: q105 6.4→3.6 s, q115 4.5→2.6 s, q117 5.8→3.2 s,
    *    targeted min-of-3); and because AQE submits the two sides
    *    CONCURRENTLY, even a lazy persist lost the race and both stages paid
    *    the full decode (the r16 measurement: q105's sides as two
    *    overlapping 5.2 s single-task stages).
    *  - the codegen'd text simhashes use a LAZY `MEMORY_AND_DISK` persist:
    *    there the blocking count() + cache write EXCEEDS the cheap
    *    duplicated projection it would save (the r16 verdict's q52 ×0.64
    *    regression; the same measurement that kept minhash/embed-LSH lazy).
    * The cached rows are just (doc_id, fp[, afp]) — bytes per doc, not the
    * media. Blocks are reclaimed by Spark's ContextCleaner once the result
    * plan is unreferenced (the winnowingOverlapPairs lifecycle contract).
    */
  private[graft] def bandedFingerprintPairs(
      fps: DataFrame,
      maxHamming: Int,
      blocks: Int,
      bits: Int = 64,
      maxAHamming: Option[Int] = None
  ): DataFrame = {
    val keyed = fingerprintBandKeys(fps, maxHamming, blocks, bits)
    keyed
      .as("a")
      .join(keyed.as("b"), col("a.bk") === col("b.bk") && col("a.doc_id") < col("b.doc_id"))
      .select(
        Seq(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b")) ++
          hammings(c => col(s"a.$c"), c => col(s"b.$c"), maxAHamming): _*)
      .distinct()
      .filter(withinBounds(maxHamming, maxAHamming))
  }

  /** `hamming` (plus `a_hamming` under the aHash confirm) between two
    * fingerprint rows; `l(c)` / `r(c)` name column `c` of each side.
    */
  private def hammings(
      l: String => Column, r: String => Column, maxAHamming: Option[Int]): Seq[Column] =
    bit_count(l("fp").bitwiseXOR(r("fp"))).as("hamming") +:
      maxAHamming.toSeq.map(_ => bit_count(l("afp").bitwiseXOR(r("afp"))).as("a_hamming"))

  private def withinBounds(maxHamming: Int, maxAHamming: Option[Int]): Column =
    maxAHamming.foldLeft(col("hamming") <= maxHamming)((c, a) => c && col("a_hamming") <= a)

  /** (doc_id, fp, bk) band-key rows for a (doc_id, fp) fingerprint table —
    * the Manku key construction, shared by the batch self-join
    * ([[bandedFingerprintPairs]]), the corpus index ([[corpusIndex]]) and
    * the index probe ([[probeDups]]) so all three key with byte-identical
    * arithmetic. One packed-long key per
    * block combination (combo bits + table id in the high bits); the
    * table-id width derives from the ACTUAL combination count — a fixed
    * 5-bit assumption aliased table ids past 32 combos (e.g. blocks=9,
    * maxHamming=4 → C(9,5)=126 tables), which kept output correct (the
    * hamming filter re-verifies) but silently degraded candidate
    * generation toward the quadratic blow-up banding exists to prevent.
    * Exactness: <= maxHamming differing bits leave some
    * (blocks − maxHamming)-block subset untouched, so every qualifying
    * pair shares at least one band key (pigeonhole).
    */
  private[graft] def fingerprintBandKeys(
      fps: DataFrame,
      maxHamming: Int,
      blocks: Int,
      bits: Int
  ): DataFrame = {
    require(blocks > maxHamming, s"need blocks > maxHamming, got $blocks <= $maxHamming")
    require(bits >= blocks && bits <= 64, s"fingerprint width $bits out of range")
    val keep = blocks - maxHamming
    // contiguous block layout over the `bits` bits (low-to-high), wider blocks first
    val sizes = Array.tabulate(blocks)(i => bits / blocks + (if (i < bits % blocks) 1 else 0))
    val offsets = sizes.scanLeft(0)(_ + _)
    def blockVal(i: Int): Column =
      shiftright(col("fp"), offsets(i)).bitwiseAND(lit((1L << sizes(i)) - 1))
    val combos = (0 until blocks).combinations(keep).toSeq
    val idBits = math.max(1, 64 - java.lang.Long.numberOfLeadingZeros(combos.size - 1L))
    val keys = combos.zipWithIndex.map { case (c, t) =>
      val packedBits = c.map(sizes(_)).sum
      val packed = c.foldLeft((lit(0L), 0)) { case ((acc, shift), i) =>
        (acc.bitwiseOR(shiftleft(blockVal(i), shift)), shift + sizes(i))
      }._1
      require(
        packedBits + idBits <= 63,
        s"key overflow: $packedBits packed bits + $idBits table-id bits")
      packed.bitwiseOR(lit(t.toLong << (63 - idBits))).as(s"k$t")
    }
    // every input column rides along (doc_id, fp, plus any verify-side
    // payload like the dual-hash confirm column) — callers that pass a
    // bare (doc_id, fp) frame get the historical output
    fps.select(col("*"), explode(array(keys: _*)).as("bk"))
  }

  /** (doc_id, fp[, afp]) of modality `m` with the fingerprint expression
    * evaluated EXACTLY ONCE per row. The naive select(expr).filter(isnotnull)
    * shape lets the optimizer rewrite the filter below the projection as
    * isnotnull(<expr>) — the heaviest scan expression in the engine (the
    * image/PCM/AVI decode) then runs TWICE per row, once in the Filter and
    * once in the Project; the verified family's bare struct-field reads get
    * rewritten by CollapseProject into one decode PER CONSUMER (fp, afp,
    * the filter — measured +50% on q117). A Generate's generator expression
    * is never inlined into parents, so explode(array(expr)) is a one-eval
    * barrier; explode of a one-element array is exactly one output row per
    * input row (a null element yields a null row — filtered: undecodable
    * bytes never pair).
    */
  private def fpOnce(m: Modality, df: DataFrame, idCol: String, contentCol: String): DataFrame = {
    val fp = explode(array(m.fingerprint(col(contentCol))))
    val once = m.maxAHamming match {
      case None => df.select(col(idCol).as("doc_id"), fp.as("fp"))
      case Some(_) =>
        df.select(col(idCol).as("doc_id"), fp.as("__dual"))
          .select(col("doc_id"), col("__dual.dhash").as("fp"), col("__dual.ahash").as("afp"))
    }
    once.filter(col("fp").isNotNull)
  }

  /** Perceptual near-dup pairs of one [[Modality]]: its fingerprint banded
    * through the SAME Manku machinery as [[simhash64Pairs]], so candidate
    * generation is exact at `maxHamming` by pigeonhole and sub-quadratic by
    * banding. Catches re-encoded / resized / resampled media copies whose
    * BYTES differ — invisible to byte-digest dedup (the reference's only
    * image mechanism). Rows whose bytes do not decode (NULL fingerprint)
    * drop out before banding: a corrupt blob never pairs with anything.
    * Under [[Modality.photoVerified]] every candidate must also agree on
    * aHash within its bound; the confirm rides the banding join as a
    * projection — no second join, no second shuffle.
    *
    * Scale shape: decode + fingerprint is the per-row cost (the heaviest
    * scan expressions in the engine — gate with the header sniff first,
    * and pair with [[Multimodal.repartitionByBytes]] for skewed media); the
    * pair search is the banded equi-join, same inventory as q52.
    *
    * @return (doc_a, doc_b, hamming[, a_hamming]) — doc_a < doc_b
    */
  def nearDupPairs(
      m: Modality,
      df: DataFrame,
      idCol: String,
      contentCol: String,
      maxHamming: Int = 3,
      blocks: Int = 6
  ): DataFrame =
    bandedFingerprintPairs(
      Par.eager(fpOnce(m, df, idCol, contentCol)), maxHamming, blocks, m.bits, m.maxAHamming)

  /** Band-keyed fingerprint table of a corpus — the STATIC side of the
    * incremental perceptual dedup probe ([[probeDups]]). Build once (and
    * persist) per corpus snapshot: each later probe batch pays only its own
    * decodes + one equi-join against this table, never a corpus re-decode.
    * Columns (corpus_id, corpus_fp[, corpus_afp], bk); undecodable blobs
    * never enter. The banding parameters ride as `bk` column metadata
    * stamped with the modality's family ([[bandingStamp]]), which survives
    * parquet persist/reload.
    */
  def corpusIndex(
      m: Modality,
      corpus: DataFrame,
      idCol: String,
      contentCol: String,
      maxHamming: Int = 3,
      blocks: Int = 6
  ): DataFrame =
    fingerprintBandKeys(fpOnce(m, corpus, idCol, contentCol), maxHamming, blocks, m.bits)
      .select(
        Seq(col("doc_id").as("corpus_id"), col("fp").as("corpus_fp")) ++
          m.maxAHamming.map(_ => col("afp").as("corpus_afp")) :+
          col("bk").as("bk", bandingStamp(m.family, maxHamming, blocks)): _*)

  /** Probe a batch against a [[corpusIndex]] of the same modality: every
    * (probe doc, corpus doc) pair within the bounds — the INCREMENTAL form
    * of [[nearDupPairs]] (new media against an existing corpus, the twin of
    * [[probeNewDocs]]). The banding/hamming arithmetic is
    * [[fingerprintBandKeys]]' — identical to the batch self-join, so a pair
    * this probe reports is exactly a pair the batch operator would.
    * Stateless, so it is also the per-micro-batch intake probe:
    *
    * {{{
    *   val idx = Dedup.corpusIndex(Modality.photo, photos, "doc_id", "content").persist()
    *   stream.writeStream.foreachBatch { (batch, _) =>
    *     sink(Dedup.probeDups(Modality.photo, batch, "doc_id", "content", idx))
    *   }.start()
    * }}}
    *
    * Rebuild the index when the corpus snapshot advances.
    *
    * (maxHamming, blocks) MUST equal the values the index was built with —
    * band keys from different parameters never collide, so a mismatch
    * would under-report pairs with no error. A stamped index throws on a
    * mismatch and on another modality's stamp; for an unstamped frame
    * (hand-built or pre-stamp persisted) the equality is the caller's
    * contract.
    *
    * @return (doc_id, dup_of, hamming[, a_hamming]) — probe id, corpus id
    */
  def probeDups(
      m: Modality,
      probe: DataFrame,
      idCol: String,
      contentCol: String,
      index: DataFrame,
      maxHamming: Int = 3,
      blocks: Int = 6
  ): DataFrame = {
    requireMatchingBanding(index, m.family, maxHamming, blocks)
    fingerprintBandKeys(fpOnce(m, probe, idCol, contentCol), maxHamming, blocks, m.bits)
      .join(index, "bk")
      .select(
        Seq(col("doc_id"), col("corpus_id").as("dup_of")) ++
          hammings(c => col(c), c => col(s"corpus_$c"), m.maxAHamming): _*)
      .distinct()
      .filter(withinBounds(maxHamming, m.maxAHamming))
  }

  /** Banding-parameter stamp for a fingerprint index's key column: band
    * keys built under different (maxHamming, blocks) are incompatible — a
    * mismatched probe join would silently degrade candidate generation
    * (keys just fail to collide), so [[corpusIndex]] writes this stamp and
    * [[probeDups]] verifies it. `family` keys the stamp per
    * [[Modality]] so an index of one modality can never silently probe as
    * another. Column metadata rides the schema through parquet
    * persist/reload.
    */
  private def bandingStamp(
      family: String, maxHamming: Int, blocks: Int): org.apache.spark.sql.types.Metadata =
    new org.apache.spark.sql.types.MetadataBuilder()
      .putLong(s"graft_${family}_max_hamming", maxHamming.toLong)
      .putLong(s"graft_${family}_blocks", blocks.toLong)
      .build()

  /** Require an index's banding stamp ([[bandingStamp]]) to match the
    * probe's family and parameters. An unstamped frame (hand-built or
    * pre-stamp persisted) passes — the contract is then on the caller, as
    * documented on [[probeDups]].
    */
  private def requireMatchingBanding(
      index: DataFrame, family: String, maxHamming: Int, blocks: Int): Unit = {
    val m = index.schema.find(_.name == "bk").map(_.metadata)
    m.foreach { md =>
      if (md.contains(s"graft_${family}_max_hamming")) {
        val (ih, ib) =
          (md.getLong(s"graft_${family}_max_hamming"), md.getLong(s"graft_${family}_blocks"))
        require(ih == maxHamming && ib == blocks,
          s"$family index was built with (maxHamming=$ih, blocks=$ib) but the probe asked for " +
            s"(maxHamming=$maxHamming, blocks=$blocks) — band keys would not collide and " +
            "candidate generation would silently degrade; rebuild the index or match the params")
      } else {
        // a stamp from a DIFFERENT family is a wrong-modality index (e.g. an
        // audio index handed to a phash probe): the fingerprints are not
        // comparable at all, so fail loudly instead of joining to nothing
        Modality.all.map(_.family).filter(_ != family).foreach { other =>
          require(!md.contains(s"graft_${other}_max_hamming"),
            s"probe expected a $family index but the frame is stamped as a $other index — " +
              "fingerprints of different modalities never pair; pass the matching index")
        }
      }
    }
  }

  /** BANDING-QUALITY report: precision/recall of the MinHash-LSH CANDIDATE
    * set against the exact word-trigram Jaccard pairs at `exactThreshold` —
    * the tuning report that decides (numHashes, bands) for a corpus before
    * committing a full dedup run to them. Both sides run over the SAME
    * frame (hand it a deterministic hash-band sample — the report's cost is
    * the candidate join plus one exact PPJoin pass over the sample);
    * candidates come from [[minhashCandidatePairs]], truth from
    * [[ngramJaccardPairs]] (PPJoin is EXACT — identical output to a full
    * inverted-index join — so "recall" here is against ground truth, not
    * another approximation). One label-union + per-pair pivot + one global
    * aggregate — no cross join, no driver loop.
    *
    * Permilles are exact integer DIV; NULL when the denominator is empty
    * (an empty candidate or truth set has no precision/recall).
    *
    * @return ONE row: (n_candidates, n_true, n_hit, precision_permille,
    *         recall_permille)
    */
  def bandingQualityReport(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleK: Int = 5,
      numHashes: Int = 12,
      bands: Int = 4,
      exactThreshold: Double = 0.2
  ): DataFrame = {
    val cand = minhashCandidatePairs(df, idCol, textCol, shingleK, numHashes, bands)
      .select(col("doc_a"), col("doc_b"))
      .withColumn("__src", lit("cand"))
    val truth = ngramJaccardPairs(df, idCol, textCol, exactThreshold)
      .select(col("doc_a"), col("doc_b"))
      .withColumn("__src", lit("truth"))
    cand.unionByName(truth)
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(
        max(when(col("__src") === "cand", 1).otherwise(0)).as("__c"),
        max(when(col("__src") === "truth", 1).otherwise(0)).as("__t"))
      .agg(
        sum(col("__c")).cast("long").as("n_candidates"),
        sum(col("__t")).cast("long").as("n_true"),
        sum(col("__c") * col("__t")).cast("long").as("n_hit"))
      .select(
        col("n_candidates"), col("n_true"), col("n_hit"),
        when(col("n_candidates") > 0, expr("n_hit * 1000 DIV n_candidates"))
          .as("precision_permille"),
        when(col("n_true") > 0, expr("n_hit * 1000 DIV n_true")).as("recall_permille"))
  }

  /** Exact duplicate groups by content digest: canonical (min) id + copy
    * count per distinct content.
    */
  def exactDupGroups(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(md5(col(textCol)).as("content_hash"))
      .agg(min(col(idCol)).as("canonical_id"), count(lit(1)).as("n_copies"))

  /** Keep exactly one row (min id) per distinct content.
    *
    * Skew note: this is a `row_number` window over the content digest, but
    * the `rn = 1` filter triggers Catalyst's `InferWindowGroupLimit`, which
    * plants a PARTIAL `WindowGroupLimit` below the exchange — every map
    * task forwards at most one row per digest, so a hot exact-duplicate
    * (10^8 copies of one page at web scale) collapses map-side exactly like
    * a min-aggregate would, and the digest shuffle carries digest-scale
    * volume. Plan shape pinned in DedupSpec. (A rank filter is the ONLY
    * window form with this defense — unbounded count/min windows buffer
    * the hot partition in one task; see ngramJaccardPairs' df aggregate.)
    */
  def dropExactDups(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(md5(col(textCol))).orderBy(col(idCol))
    df.withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1).drop("__rn")
  }

  /** Paragraph-level exact dedup (the RefinedWeb / Dolma intra-corpus
    * rule): split each document on `sep`, keep only the FIRST occurrence
    * — by (id, position) — of every distinct paragraph across the whole
    * corpus, and reassemble what survives. Catches the boilerplate class
    * doc-level exact dedup misses (shared footers / headers / navigation
    * repeated across otherwise-distinct pages) without the cost of the
    * substring machinery ([[repeatedSpans]], q103): the unit is the
    * paragraph boundary the corpus already carries.
    *
    * Plan shape: paragraphs explode scan-side; the first-occurrence
    * verdict is ONE hash aggregate on the 128-bit paragraph digest —
    * `min(struct(id, pos, para))` — which gets MAP-SIDE partial
    * aggregation: every occurrence of the hottest paragraph ("home |
    * about | contact" at 10^9 occurrences at web scale) collapses to one
    * row per map task before the exchange, so the digest shuffle carries
    * digest-scale volume, never corpus-scale, and skew degrades to a
    * busy combiner, not a one-task occurrence pile. (A `row_number`
    * window over the digest would ship EVERY occurrence of the hot key
    * through the exchange to one task — the shape this operator
    * deliberately avoids.) The winning (id, pos) rides the aggregate
    * with its paragraph TEXT, so no join back to the occurrence table is
    * needed: reassembly regroups the winners by doc id (one
    * winner-scale exchange, in-group sort bounded by paragraphs-per-doc)
    * and a doc-scale left join against the per-doc paragraph counts
    * restores rows whose every paragraph was seen earlier. md5
    * collisions merge distinct paragraphs at negligible odds — the same
    * digest contract as [[exactDupGroups]].
    *
    * @return one row per input row: (idCol, n_paras, n_kept, kept_text) —
    *         kept_text is the surviving paragraphs re-joined with `sep`
    *         ('' when every paragraph was seen earlier in the corpus).
    */
  def paragraphDedup(
      df: DataFrame,
      idCol: String,
      textCol: String,
      sep: String = "\n\n"
  ): DataFrame = {
    require(sep.nonEmpty, "sep must be non-empty")
    val outCols = Seq("n_paras", "n_kept", "kept_text")
    require(!outCols.exists(c => c != idCol && df.columns.contains(c)),
      s"input already has one of ${outCols.mkString("/")} — rename it before paragraphDedup")
    val paras = df.select(
      col(idCol),
      posexplode(split(col(textCol), java.util.regex.Pattern.quote(sep)))
        .as(Seq("__pos", "__para")))
    // first-occurrence winners: min over the (id, pos) total order, the
    // paragraph text riding along (it never affects the comparison —
    // (id, pos) is unique per occurrence). Partial aggregation collapses
    // hot digests map-side.
    val winners = paras
      .groupBy(md5(col("__para")).as("__dig"))
      .agg(min(struct(col(idCol).as("i"), col("__pos").as("p"), col("__para").as("t")))
        .as("__w"))
      .select(col("__w.i").as("__kid"), col("__w.p").as("__pos"), col("__w.t").as("__para"))
    val perDoc = paras.groupBy(col(idCol)).agg(count(lit(1)).as("n_paras"))
    val kept = winners
      .groupBy(col("__kid"))
      .agg(
        count(lit(1)).as("n_kept"),
        array_join(
          transform(
            array_sort(collect_list(struct(col("__pos"), col("__para")))),
            s => s.getField("__para")),
          sep).as("kept_text"))
    // left join restores docs with zero survivors; null-safe on the key so
    // a null doc id behaves like any other group value
    perDoc
      .join(kept, col(idCol) <=> col("__kid"), "left")
      .select(
        col(idCol),
        col("n_paras"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("kept_text"), lit("")).as("kept_text"))
  }

  /** Word 3-grams (space-joined lowercase token triples), used as the
    * Jaccard unit — native single-pass codegen expression.
    */
  def wordTrigrams(text: Column): Column =
    graft.functions.HashExprs.wordNGrams(text, 3)

  /** Near-duplicate pairs by n-gram Jaccard similarity >= threshold, using
    * PPJoin-style prefix filtering (Xiao, Wang, Lin & Yu, "Efficient
    * similarity joins for near duplicate detection", WWW 2008) — exact: the
    * output is identical to the naive all-pairs formulation.
    *
    * Plan shape (the scale story):
    *  1. distinct grams per doc, keyed by a 60-bit md5-derived integer
    *     (cheaper shuffle/probes than gram strings; birthday collisions
    *     negligible even at ~10^8 distinct grams, and the oracle hashes
    *     identically);
    *  2. a global total order on grams by (document frequency asc, key asc)
    *     — one count window over g, no global sort;
    *  3. per doc, only the PREFIX (the sz - ceil(t·sz) + 1 RAREST grams) is
    *     exploded into the self-join. Two docs with Jaccard >= t must share
    *     a prefix gram, so candidate generation touches hot grams only for
    *     docs whose rarest grams are themselves hot — this is what removes
    *     the count² blow-up of a full inverted-index join;
    *  4. candidates are verified exactly via array_intersect of the full
    *     gram sets (a pair of equi-joins on doc_id, no re-shingling).
    *
    * A length filter (least(sz) >= t·greatest(sz)) prunes candidates before
    * verification. The rounded-jaccard output filter means a pair with true
    * J in [t - 5e-5, t) still rounds up into the result, so candidate
    * generation runs at threshold t - 5e-5 (prefixes only lengthen — recall
    * is preserved, exactness is unaffected).
    */
  def ngramJaccardPairs(df: DataFrame, idCol: String, textCol: String, threshold: Double): DataFrame = {
    // Candidate-generation threshold: relaxed for round(j,4) >= t semantics,
    // minus a float-noise epsilon so ceil() can only lengthen the prefix.
    val tCand = threshold - 5e-5 - 1e-9
    // The ranked doc table feeds both prefix-join sides and both verify
    // sides: persist it so shingling + ranking run once. ContextCleaner
    // reclaims the blocks once the result plan is unreferenced; at cluster
    // scale swap for an explicit checkpoint. (Fan-out history: r16's
    // input fan-out regressed ~15%; the r17 retry — a fan-out here plus a
    // keyed one on doc_id before the collect_list aggregate — won warm
    // (2.09→1.39 s) but read flat on q24 and −15% on q133 in the cold
    // interleaved bench, so the as-scanned shape stays; numbers in
    // OPTIMIZATION_r17.md, "q24_ngram_jaccard / q133_containment_pairs".)
    val grams = df
      .select(col(idCol).as("doc_id"), explode(array_distinct(wordTrigrams(col(textCol)))).as("gs"))
      .select(
        col("doc_id"),
        conv(substring(md5(col("gs")), 1, 15), 16, 10).cast("long").as("g")
      )
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // Global order = (document frequency asc, gram key asc): struct sort is
    // lexicographic by field, so sort_array ranks each doc's grams rarest
    // first without any global sort or rank assignment. Document frequency
    // comes from a groupBy AGGREGATE joined back to the gram stream — NOT a
    // count window over g: the aggregate gets map-side partial aggregation
    // (a boilerplate gram shared by 10^8 docs collapses to one row per map
    // task before its exchange, and the join-back is AQE-skew-splittable),
    // where a window partitioned on g would buffer EVERY occurrence of the
    // hottest gram in one task — WindowExec cannot be skew-split
    // (the q133/q134 paragraph-dedup argument). grams persists: the df
    // aggregate and the join probe both read it.
    val dfTable = grams.groupBy(col("g")).agg(count(lit(1)).as("df"))
    // One gram-set view per doc: rarity-sorted (df, g) structs. The rarity
    // order is itself a total order, so the same array feeds both the prefix
    // slice and the two-pointer verification merge.
    val docs = grams
      .join(dfTable, Seq("g"))
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_list(struct(col("df"), col("g")))).as("ranked"))
      .select(col("doc_id"), col("ranked"), size(col("ranked")).as("sz"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val prefixLen = greatest((col("sz") - ceil(col("sz") * tCand) + 1).cast("int"), lit(1))
    val prefixes = docs
      .select(col("doc_id"), col("sz"), posexplode(slice(col("ranked"), lit(1), prefixLen)))
      .select(col("doc_id"), col("sz"), col("pos"), col("col.g").as("g"))
    // POSITIONAL filter (PPJoin §3.2): a collision at 0-based rarity
    // positions (pa, pb) can contribute at most
    // 1 + min(sz_a − pa − 1, sz_b − pb − 1) overlapping grams (everything
    // shared sits at-or-after the collision in the shared total order),
    // while J >= t needs overlap >= t/(1+t)·(sz_a + sz_b). For a TRUE pair
    // the EARLIEST shared gram meets the bound (all of the intersection
    // lies at-or-after it on both sides), so pruning collisions that fail
    // it never loses a qualifying pair — it just stops hot-but-hopeless
    // collisions (size-mismatched docs colliding deep in their prefixes)
    // from reaching the distinct + verify joins. Measured at the 10× scale
    // corpus: candidate pairs drop ~3.1M → ~0.5M with identical output.
    val minOverlap = (col("a.sz") + col("b.sz")) * (tCand / (1 + tCand))
    val candidates = prefixes
      .as("a")
      .join(
        prefixes.as("b"),
        col("a.g") === col("b.g") && col("a.doc_id") < col("b.doc_id") &&
          least(col("a.sz"), col("b.sz")) >= greatest(col("a.sz"), col("b.sz")) * tCand &&
          lit(1) + least(col("a.sz") - col("a.pos") - 1, col("b.sz") - col("b.pos") - 1) >= minOverlap
      )
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    // Exact verification: codegen'd two-pointer merge over the rarity-sorted
    // gram structs — O(sz_a + sz_b) per candidate pair, no per-row hash set.
    candidates
      .join(docs.as("da"), col("doc_a") === col("da.doc_id"))
      .join(docs.as("db"), col("doc_b") === col("db.doc_id"))
      .select(
        col("doc_a"),
        col("doc_b"),
        graft.functions.HashExprs
          .sortedStructIntersectSize(col("da.ranked"), col("db.ranked"))
          .as("inter"),
        col("da.sz").as("sa"),
        col("db.sz").as("sb")
      )
      .select(
        col("doc_a"),
        col("doc_b"),
        round(col("inter") / (col("sa") + col("sb") - col("inter")), 4).as("jaccard")
      )
      .filter(col("jaccard") >= threshold)
  }

  /** DIRECTIONAL containment pairs: (doc_a, doc_b) where at least
    * `thresholdPermille`/1000 of doc_a's distinct word trigrams also occur
    * in doc_b — the ASYMMETRIC near-dup relation Jaccard can't see: a
    * short quote, an excerpt, or a truncated mirror is nearly CONTAINED in
    * its source while their symmetric Jaccard stays low (the union is
    * dominated by the longer doc). The quote/excerpt detector every
    * dedup-then-train pipeline wants alongside [[ngramJaccardPairs]].
    *
    * Exactness: containment_permille = |A∩B|·1000 DIV |A| — integer
    * arithmetic end to end, same gram derivation (distinct word trigrams →
    * 60-bit md5 prefix) as the Jaccard operator, so the two reports are
    * comparable. Docs with fewer than three words have NO trigrams and
    * never appear on either side (containment of an empty set is 0/0 —
    * excluded, not defined as 0 or 1000).
    *
    * Scale shape — PPJoin-style A-SIDE prefix filtering (the q24 machinery,
    * adapted to the asymmetric relation): rank every doc's grams by the
    * global (document-frequency asc, key asc) total order, then explode
    * only the |A| − ⌈t·|A|⌉ + 1 RAREST grams of each doc as the A side of
    * the candidate join. Pigeonhole-exact: if none of A's prefix grams is
    * in B then |A∩B| ≤ ⌈t·|A|⌉ − 1 < t·|A|, so every qualifying pair has a
    * prefix collision — candidate generation never touches a hot
    * boilerplate gram unless it is among a doc's RAREST, which kills the
    * n² pair blowup one shared hot gram would otherwise emit from a plain
    * inverted-index self-join. The B side cannot be prefix-filtered (A may
    * sit anywhere inside B), so it is the full gram index, but pairs only
    * materialize where an A-prefix gram collides, and a size filter
    * (|B| ≥ ⌈t·|A|⌉ — containment needs that much intersection) prunes at
    * the join. Verification is the exact sorted-merge intersection over
    * the ranked arrays (no re-shingle, no per-row hash set). Output is
    * IDENTICAL to the naive formulation.
    *
    * `dfCap` additionally drops grams whose document frequency exceeds the
    * cap from candidate generation — a hard bound on any single gram's
    * join fan-out for heavily templated corpora. Unlike the prefix filter
    * it is NOT exact: a pair whose only prefix collision is a hot gram is
    * missed. Default = no cap = exact.
    *
    * @return (doc_a, doc_b, containment_permille): a contained-in b
    */
  def containmentPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      thresholdPermille: Int = 800,
      dfCap: Long = Long.MaxValue
  ): DataFrame = {
    val (docs, candidates) = containmentCandidates(df, idCol, textCol, thresholdPermille, dfCap)
    // exact verification: codegen'd two-pointer merge over the rarity-sorted
    // gram structs — O(sz_a + sz_b) per candidate, same as q24's
    candidates
      .join(docs.as("da"), col("doc_a") === col("da.doc_id"))
      .join(docs.as("db"), col("doc_b") === col("db.doc_id"))
      .select(
        col("doc_a"),
        col("doc_b"),
        graft.functions.HashExprs
          .sortedStructIntersectSize(col("da.ranked"), col("db.ranked"))
          .as("inter"),
        col("da.sz").cast("long").as("__sa"))
      // long arithmetic like the candidate stage's identical pattern: an
      // INT `inter * 1000` wraps negative past ~2.1M shared grams under
      // non-ANSI semantics, silently rejecting a true containment pair
      // (and emitting a negative permille)
      .filter(col("inter").cast("long") * 1000L >= lit(thresholdPermille.toLong) * col("__sa"))
      .select(col("doc_a"), col("doc_b"),
        expr("CAST(inter AS BIGINT) * 1000 DIV __sa").as("containment_permille"))
  }

  /** [[containmentPairs]]' candidate stage, exposed for the ScaleBench
    * planted-hot-gram A/B (candidate counts are the quantity the prefix
    * filter exists to bound). Returns (docs, candidates): `docs` is the
    * persisted rarity-ranked gram-array frame (doc_id, ranked, sz) the
    * verify joins read, `candidates` the distinct (doc_a, doc_b) pairs
    * that survive the A-side prefix + size filter (+ dfCap).
    */
  private[graft] def containmentCandidates(
      df: DataFrame,
      idCol: String,
      textCol: String,
      thresholdPermille: Int,
      dfCap: Long = Long.MaxValue
  ): (DataFrame, DataFrame) = {
    require(thresholdPermille >= 1 && thresholdPermille <= 1000,
      "thresholdPermille must be in [1, 1000]")
    require(dfCap >= 1L, "dfCap must be positive")
    val grams = df
      .select(col(idCol).as("doc_id"), explode(array_distinct(wordTrigrams(col(textCol)))).as("gs"))
      .select(
        col("doc_id"),
        conv(substring(md5(col("gs")), 1, 15), 16, 10).cast("long").as("g"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // rarity ranking (q24's construction) via AGGREGATE + join-back, not a
    // count window: a hot boilerplate gram's occurrences collapse to one
    // row per map task in the df aggregate's partials, and the join-back
    // probe streams against a one-row build — where a window partitioned
    // on g would buffer EVERY occurrence of the hottest gram in one task
    // (WindowExec cannot be skew-split by AQE; the q134/paragraph-dedup
    // argument). grams persists: both the df aggregate and the probe read
    // it. The same (df, g)-sorted array feeds the prefix slice, the B
    // index, and the verify merge; docs persists for those reads.
    val dfTable = grams.groupBy(col("g")).agg(count(lit(1)).as("df"))
    val docs = grams
      .join(dfTable, Seq("g"))
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_list(struct(col("df"), col("g")))).as("ranked"))
      .select(col("doc_id"), col("ranked"), size(col("ranked")).as("sz"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // ⌈t·sz⌉ in exact integer permille; prefixLen = sz − need + 1 ≥ 1
    val prefixLen =
      (col("sz") - expr(s"(sz * ${thresholdPermille}L + 999) div 1000") + 1).cast("int")
    val prefixes = docs
      .select(col("doc_id"), col("sz"), explode(slice(col("ranked"), lit(1), prefixLen)).as("pg"))
      .select(col("doc_id"), col("sz"), col("pg.df").as("gdf"), col("pg.g").as("g"))
      .filter(col("gdf") <= dfCap)
    val index = docs
      .select(col("doc_id"), col("sz"), explode(col("ranked")).as("ig"))
      .select(col("doc_id"), col("sz"), col("ig.df").as("gdf"), col("ig.g").as("g"))
      .filter(col("gdf") <= dfCap)
    val candidates = prefixes.as("a")
      .join(
        index.as("b"),
        col("a.g") === col("b.g") && col("a.doc_id") =!= col("b.doc_id") &&
          col("b.sz").cast("long") * 1000 >= col("a.sz").cast("long") * thresholdPermille)
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    (docs, candidates)
  }

  /** Incremental dedup probe: which NEW docs near-duplicate an EXISTING
    * corpus doc. The continuous-ingestion path — the corpus index
    * (`corpusBuckets`, from [[minhashBuckets]], in practice precomputed and
    * stored with the lake) is joined only against the new batch's buckets,
    * so each batch costs O(batch) signature work + a bucket join against
    * the index, never a corpus rescan or an all-pairs check.
    *
    * @return (new_id, dup_of) distinct — one row per (new doc, matched
    *         corpus doc) bucket collision.
    */
  def probeNewDocs(
      newDocs: DataFrame,
      corpusBuckets: DataFrame,
      idCol: String,
      textCol: String,
      shingleK: Int = 5,
      numHashes: Int = 12,
      bands: Int = 4
  ): DataFrame = {
    val nb = minhashBuckets(newDocs, idCol, textCol, shingleK, numHashes, bands)
    nb.as("n")
      .join(
        corpusBuckets.as("c"),
        col("n.band") === col("c.band") && col("n.bucket") === col("c.bucket")
      )
      .select(col("n.doc_id").as("new_id"), col("c.doc_id").as("dup_of"))
      .distinct()
  }

  /** Near-dup pairs that CROSS a split assignment — the train/validation
    * LEAKAGE check: a validation doc with a near-duplicate in train inflates
    * eval scores, and a random split of a deduplicated-but-not-clustered
    * corpus produces exactly these pairs. Returns each crossing pair with
    * both split labels; empty result = clean split. Same cost shape as the
    * pair generator itself (the split join touches only paired docs).
    */
  def crossSplitPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      split: Column,
      shingleK: Int = 5,
      numHashes: Int = 12,
      bands: Int = 4
  ): DataFrame = {
    val labeled = df.select(col(idCol), split.as("__split"))
    minhashCandidatePairs(df, idCol, textCol, shingleK, numHashes, bands)
      .join(labeled.select(col(idCol).as("doc_a"), col("__split").as("split_a")), "doc_a")
      .join(labeled.select(col(idCol).as("doc_b"), col("__split").as("split_b")), "doc_b")
      .filter(col("split_a") =!= col("split_b"))
  }

  /** Collapse similarity pairs into duplicate clusters: (doc_id, cluster)
    * for every doc touched by a pair, cluster = smallest member id. The
    * transitive-closure step every pair generator above feeds into —
    * see [[Graph.connectedComponents]] for the scale argument.
    */
  def nearDupClusters(pairs: DataFrame): DataFrame =
    Graph
      .connectedComponents(pairs, "doc_a", "doc_b")
      .withColumnRenamed("id", "doc_id")
      .withColumnRenamed("component", "cluster")

  /** Keep-one-per-cluster corpus dedup: drop every doc that belongs to a
    * near-dup cluster and is not its smallest member. Docs untouched by any
    * pair survive unchanged (left_anti join against the non-survivor set —
    * no full-corpus shuffle, the tiny cluster assignment broadcasts).
    */
  def dropNearDups(df: DataFrame, idCol: String, pairs: DataFrame): DataFrame = {
    val losers = nearDupClusters(pairs)
      .filter(col("doc_id") =!= col("cluster"))
      .select(col("doc_id").as("__loser"))
    df.join(losers, col(idCol) === col("__loser"), "left_anti")
  }

  /** Keep the BEST doc per near-dup cluster, ranked by a caller-supplied
    * quality expression (ties → smallest id) — what a production dedup
    * keeps, rather than the arbitrary min-id member: near-identical docs
    * usually differ in boilerplate/truncation and the highest-quality copy
    * should survive. Docs untouched by any pair are their own singleton
    * cluster and always survive.
    *
    * Scale shape: the cluster assignment (only docs that collided) joins
    * onto the corpus scan with NO static broadcast hint — collided-doc
    * count scales with corpus duplication, not with anything bounded (a
    * boilerplate-heavy crawl collides most of itself), so a hint is the
    * unconditional-build hazard the robots/J2 rule names; AQE broadcasts
    * the common small case and shuffles past the threshold. The top-1
    * ranking windows only over clustered docs, never the whole corpus,
    * and its `rn = 1` filter plans as WindowGroupLimit (map-side partial
    * limit), so even a giant cluster collapses per map task.
    *
    * @return df's rows that survive, plus a `cluster` column
    */
  def keepBestPerCluster(df: DataFrame, idCol: String, pairs: DataFrame, quality: Column): DataFrame = {
    val clusters = nearDupClusters(pairs)
      .select(col("doc_id").as("__cid"), col("cluster").as("__cluster"))
    // Rank ONLY the docs that collided into a cluster (inner join against
    // the assignment); the untouched majority of the corpus must never
    // enter the window — a left-join-then-rank formulation would shuffle
    // and sort the whole corpus and evaluate `quality` on every row.
    val inCluster = df
      .join(clusters, col(idCol) === col("__cid"))
      .withColumn("__q", quality)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__cluster"))
      .orderBy(col("__q").desc, col(idCol).asc)
    val best = inCluster
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .withColumn("cluster", col("__cluster"))
      .drop("__rn", "__q", "__cid", "__cluster")
    // untouched docs are their own cluster; the label must match the CC
    // output's type (long for numeric ids, string for hash-mapped string
    // ids — a hardcoded cast("long") made every string id's own-cluster
    // label NULL and the union ill-typed)
    val untouched = df
      .join(clusters, col(idCol) === col("__cid"), "left_anti")
      .withColumn("cluster", col(idCol).cast(clusters.schema("__cluster").dataType))
    best.unionByName(untouched)
  }

  /** SemDeDup-style semantic deduplication (Abbas, Tirumala, Simig, Ganguli
    * & Morcos, "SemDeDup: Data-efficient learning at web-scale through
    * semantic deduplication", arXiv:2303.09540, 2023): assign every
    * embedding to its nearest centroid, then look for near-duplicates only
    * WITHIN each cluster — the cluster bound plays the role LSH banding
    * plays in [[embedNearDupPairs]], replacing the corpus-wide all-pairs
    * with per-cluster candidate sets.
    *
    * Drop rule (one-pass variant of the paper's greedy): a doc is dropped
    * iff some LOWER-id doc in the same cluster has cosine ≥ `threshold`
    * with it. This is expressible as a single self-join + anti-join (no
    * sequential scan over each cluster), fully deterministic, and keeps the
    * lowest-id member of every mutually-similar set; it differs from the
    * strictly-sequential greedy only for chains where a dropped middle doc
    * is the sole link to a later one (the one-pass rule then drops MORE —
    * conservative for training-data dedup).
    *
    * Scale shape: assignment is a pure per-row map against broadcast
    * centroids (no shuffle); the pair join shuffles on the cluster id, so
    * `centroids.length` is the skew knob — production SemDeDup sizes k with
    * the corpus (~√N clusters) precisely so per-cluster candidate sets stay
    * small; the within-cluster join is then O(Σ|cluster|²) ≪ N².
    *
    * @param centroids cluster centers, index = emitted cluster id (from
    *                  [[Similarity.ivfIndex]]'s k-means, or any fixed set)
    * @return (idCol, cluster, kept) — one row per input doc, `kept` false
    *         iff the drop rule fired; total ordering is the caller's job
    */
  def semanticDedup(
      df: DataFrame,
      idCol: String,
      embCol: String,
      centroids: Array[Array[Double]],
      threshold: Double
  ): DataFrame = {
    require(centroids.nonEmpty, "semanticDedup needs at least one centroid")
    val assigned = df
      .select(col(idCol).as("doc_id"), col(embCol).as("emb"))
      .withColumn("cluster", element_at(Similarity.nearestCentroids(col("emb"), centroids, 1), 1))
      .withColumn("nrm", Similarity.norm(col("emb")))
    val dropped = assigned
      .as("a")
      .join(assigned.as("b"), col("a.cluster") === col("b.cluster") && col("a.doc_id") < col("b.doc_id"))
      .select(
        col("b.doc_id").as("doc_id"),
        // NULL (not NaN) on zero-norm embeddings — same contract as
        // embedNearDupPairs: a degenerate vector never "near-duplicates"
        nanvl(Similarity.dot(col("a.emb"), col("b.emb")) / (col("a.nrm") * col("b.nrm")), lit(null).cast("double"))
          .as("cos")
      )
      .filter(col("cos") >= threshold)
      .select(col("doc_id"))
      .distinct()
      .withColumn("__dropped", lit(true))
    assigned
      .join(dropped, Seq("doc_id"), "left")
      .select(
        col("doc_id").as(idCol),
        col("cluster"),
        coalesce(!col("__dropped"), lit(true)).as("kept")
      )
  }

  /** Whitespace-normalized text (lowercase, collapsed spaces, trimmed) —
    * the character space [[repeatedSpans]] positions index, identical to
    * the winnowing normalization so spans and fingerprints agree on
    * coordinates.
    */
  // private[graft]: the streaming boilerplate pregate
  // (Streams.flagCorpusOverlap) must share THIS normalization byte-for-
  // byte — its "false is PROOF" law holds only while the two agree, and a
  // hand-copied twin gave a future edit here no compiler-visible link
  private[graft] def normText(textCol: String): Column =
    trim(regexp_replace(lower(col(textCol)), "\\s+", " "))

  /** EXACT cross-document repeated-substring spans — the arbitrary-length
    * dedup modality of Lee et al. 2022 ("Deduplicating Training Data Makes
    * Language Models Better"): every maximal span of a document whose every
    * character lies inside some substring of length >= `minLen` that also
    * occurs in at least `minDocs - 1` OTHER documents. Catches templated /
    * boilerplate text that whole-doc hashing (q22), fixed-block hashing
    * (q75 — misses block-misaligned copies) and MinHash (similarity, not
    * containment) all miss.
    *
    * Formulation — the scale-safe GROUPED one, not an in-memory suffix
    * array: a substring of length m >= L repeats elsewhere iff every one of
    * its length-L windows repeats elsewhere, so covered characters are
    * exactly the union of cross-document-repeated L-grams' extents. The
    * plan is therefore: (1) emit every (doc, pos, L-gram) — a pure
    * scan-side explode; (2) mark grams whose DISTINCT-document frequency
    * reaches `minDocs` — the SALTED two-level mark (see the inline
    * comment): per-(gram, salt-of-doc) partial distinct-doc counts,
    * combined per gram over at most `saltBuckets` partial rows, with the
    * verdict joined back at (gram, salt) granularity so the gram table
    * crosses the wire exactly once; NO pair formation anywhere (a gram
    * shared by a million docs costs a million rows spread over
    * `saltBuckets` tasks, never a million-squared join and never one
    * task); (3) merge
    * each doc's covered intervals [pos, pos+L-1] into maximal runs with a
    * per-doc window (adjacent iff the gap <= L). One (gram, salt)-keyed
    * exchange + one doc-keyed window; shuffle bytes are ~L x corpus — the
    * honest price of EXACT substring dedup (the same order as Lee et
    * al.'s suffix-array I/O), with q56's winnowing overlap as the cheap
    * approximate sibling.
    *
    * Positions are 1-based character offsets into the NORMALIZED text
    * (see [[normText]]); `span_end` is inclusive. `n_grams` is the count
    * of repeated gram start positions inside the span (evidence density —
    * can be less than span_len - L + 1 when merged intervals skip).
    *
    * @return (doc_id, span_start, span_end, span_len, n_grams)
    */
  def repeatedSpans(
      df: DataFrame,
      idCol: String,
      textCol: String,
      minLen: Int,
      minDocs: Int = 2,
      saltBuckets: Int = 64
  ): DataFrame = {
    require(minLen >= 2, "minLen must be >= 2")
    require(minDocs >= 2, "minDocs must be >= 2 (a substring always repeats in its own doc)")
    require(saltBuckets >= 1, "saltBuckets must be >= 1")
    import org.apache.spark.sql.expressions.Window
    // a redundant self-alias (`doc_id AS doc_id`) is removed asymmetrically
    // across the two consumers of the shared exchange below (the optimizer
    // keeps it only where the aliased attribute is the subtree's output),
    // which de-canonicalizes the exchange and doubles the scan — so only
    // alias when the name actually changes
    val docId = if (idCol == "doc_id") col("doc_id") else col(idCol).as("doc_id")
    // fan out the raw projection BEFORE normalize+explode: the gram
    // explode is the heavy map work (30x the input bytes), and a sub-split
    // input otherwise runs it on one task ([[Par.fanOutSmall]] — no-op at
    // corpus scale). Sits below the shared (gram, salt) exchange, so both
    // consumers' subtrees stay identical (the ReuseExchange law above).
    val positions = Par
      .fanOutSmall(df.select(docId, col(textCol).as("__raw")))
      .select(col("doc_id"), normText("__raw").as("__t"))
      .withColumn(
        "__pg",
        explode(
          when(
            length(col("__t")) >= minLen,
            expr(
              s"""transform(sequence(1, length(__t) - $minLen + 1),
                 |          i -> named_struct('pos', i, 'gram', substring(__t, i, $minLen)))""".stripMargin)
          ).otherwise(expr("CAST(array() AS array<struct<pos:int,gram:string>>)"))
        )
      )
      .select(col("doc_id"), col("__pg.pos").as("pos"), col("__pg.gram").as("gram"))
      // no-op by construction (grams are substrings of a non-null __t, and
      // __salt below is a pmod over a seeded hash), but load-bearing for
      // exchange reuse: the verdict join infers isnotnull on its keys and
      // pushes the filters into ITS branch only, which would
      // de-canonicalize the shared (gram, salt) exchange and double the
      // scan+explode; stating the filters once here keeps both consumers'
      // subtrees identical (InferFiltersFromConstraints dedupes the
      // inferred copies)
      .filter(col("gram").isNotNull)
    // Distinct-document frequency per gram, SALTED. The round-7 window form
    // partitioned its windows by bare `gram`; a window partition cannot be
    // split by AQE, so a 30-char boilerplate gram shared by 10^6+ docs of a
    // real web corpus is ONE stalled task (the round-8 verdict's
    // scale-killer). The de-skewed mark keeps the one-full-exchange shape:
    //
    //  1. salt = pmod(hash(doc_id), saltBuckets) — a FUNCTION of doc_id, so
    //     per-(gram, salt) groups are doc-disjoint and their distinct-doc
    //     partials sum to the exact per-gram count; a hot gram spreads over
    //     `saltBuckets` tasks. The only full-size exchange keys on
    //     (gram, salt).
    //  2. partials: two STACKED in-partition hash aggregates — dedup to
    //     (gram, salt, doc), then count per (gram, salt).
    //     HashPartitioning(gram, salt) satisfies both groupings via the
    //     clustered-subset rule, so neither re-exchanges — and unlike the
    //     round-9 row_number form, neither needs the full-table SORT the
    //     window demanded (the only full-size sort in the old plan; its
    //     removal is the round-10 df-branch clawback — q103 3.6→2.9 s
    //     targeted at sf0.1, hot-gram curve unchanged). The first
    //     aggregate carries a max(pos) nobody reads: it keeps `pos` alive
    //     below the exchange so both consumers' subtrees stay
    //     column-identical (the ReuseExchange law — see the isnotnull
    //     note above).
    //  3. the verdict travels at (gram, salt) granularity, never row
    //     granularity: per-gram totals via a window over the PARTIALS
    //     (<= saltBuckets rows per gram — skew-bounded by construction),
    //     filtered to qualifying groups, then equi-joined back on BOTH keys
    //     (gram, __salt). The full-size side already satisfies the join's
    //     required distribution, so EnsureRequirements exchanges only the
    //     tiny flag side — the gram table crosses the wire exactly once. A
    //     shuffled-hash hint pins the stats-blind broadcast cliff away
    //     (aggregate-output sizes are guessed; the q103 plan archaeology
    //     measured that death at 30x).
    //
    // Both consumers of the full table — the verdict join's probe side and
    // the partials branch — hang off the SAME (gram, salt) exchange with
    // column-identical subtrees (the window's orderBy keeps `pos` alive
    // below the exchange in the partials branch), so ReuseExchange
    // collapses them: one scan + explode + shuffle write, two shuffle
    // reads, one full-table sort. The planted-hot-gram ScaleBench fixture
    // (substring_hot) measures the skew behavior.
    val salted = positions
      .withColumn("__salt", pmod(hash(col("doc_id")), lit(saltBuckets)))
      .filter(col("__salt").isNotNull) // reuse-keeping no-op, see above
      .repartition(col("gram"), col("__salt"))
    // `pos` must stay load-bearing in this branch: the pruner would
    // otherwise drop it, shrink the projection below the exchange, and
    // split the shared scan in two (a bare max(pos) dummy gets pruned; an
    // aggregate whose value the verdict READS cannot). pos >= 1 always
    // (sequence starts at 1), so threading it through `when` is a no-op
    // on the VALUES — stated here once for both paths below.
    val posKept = when(col("pos") >= 1, col("doc_id"))
    val wGram = Window.partitionBy(col("gram"))
    val okGroups =
      if (minDocs == 2) {
        // minDocs=2 (the default, and the common corpus-dedup setting) has
        // an exact statistic far cheaper than distinct-doc counting: a
        // gram repeats across docs iff its global min(doc_id) !=
        // max(doc_id). ONE in-partition integer min/max aggregate per
        // (gram, salt) — no (gram, salt, doc) dedup pass, no sort — then
        // the same tiny per-gram window combine over <= saltBuckets rows.
        val partials = salted
          .groupBy(col("gram"), col("__salt"))
          .agg(min(posKept).as("__dmin"), max(col("doc_id")).as("__dmax"))
        partials
          .withColumn("__gmin", min(col("__dmin")).over(wGram))
          .withColumn("__gmax", max(col("__dmax")).over(wGram))
          .filter(col("__gmin") =!= col("__gmax"))
          .select(col("gram"), col("__salt"))
      } else {
        // general minDocs: exact distinct-doc counts via two stacked
        // in-partition hash aggregates (dedup to (gram, salt, doc), count
        // per (gram, salt)); HashPartitioning(gram, salt) satisfies both
        // groupings by the clustered-subset rule, so neither re-exchanges
        // and neither needs the full-table sort the round-9 row_number
        // window demanded
        val partials = salted
          .groupBy(col("gram"), col("__salt"), col("doc_id"))
          .agg(min(posKept).as("__p1"))
          .groupBy(col("gram"), col("__salt"))
          .agg(count(col("__p1")).as("__pd"))
        partials
          .withColumn("__nd", sum(col("__pd")).over(wGram))
          .filter(col("__nd") >= minDocs)
          .select(col("gram"), col("__salt"))
      }
    val hits = salted
      .join(okGroups.hint("shuffle_hash"), Seq("gram", "__salt"))
      .select(col("doc_id"), col("pos"))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val cum = Window
      .partitionBy(col("doc_id"))
      .orderBy(col("pos"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    hits
      .withColumn(
        "__brk",
        when(col("pos") - lag(col("pos"), 1).over(w) > minLen, 1).otherwise(0))
      .withColumn("__run", sum(col("__brk")).over(cum))
      .groupBy(col("doc_id"), col("__run"))
      .agg(
        min(col("pos")).as("span_start"),
        (max(col("pos")) + lit(minLen - 1)).as("span_end"),
        count(lit(1)).as("n_grams")
      )
      .select(
        col("doc_id"),
        col("span_start"),
        col("span_end"),
        (col("span_end") - col("span_start") + 1).as("span_len"),
        col("n_grams")
      )
  }

  /** DISTINCT minLen-gram set of a corpus — the STATIC side of the
    * incremental substring-dedup probe ([[repeatedSpansVsCorpus]]). Build
    * once (and persist, or write to the lake) per corpus snapshot; each
    * later probe batch pays only its own gram explode + one equi-join —
    * the corpus is never re-scanned per refresh, the same
    * index-then-probe contract as [[probeNewDocs]] (text) and
    * [[corpusIndex]] (media). One linear shuffle to distinct.
    */
  def substringGramIndex(corpus: DataFrame, textCol: String, minLen: Int): DataFrame = {
    require(minLen >= 2, "minLen must be >= 2")
    Par
      .fanOutSmall(corpus.select(col(textCol).as("__raw")))
      .select(normText("__raw").as("__t"))
      .withColumn(
        "gram",
        explode(
          when(
            length(col("__t")) >= minLen,
            expr(s"transform(sequence(1, length(__t) - $minLen + 1), i -> substring(__t, i, $minLen))")
          ).otherwise(expr("CAST(array() AS array<string>)"))))
      .select(col("gram"))
      .distinct()
  }

  /** Snapshot advance WITHOUT a rebuild: the grams of an intake batch
    * appended to an existing [[substringGramIndex]]. Cost is the BATCH's
    * explode + distinct only — the corpus-scale index is neither scanned
    * nor shuffled (a DataFrame union is a narrow no-op), which is what
    * makes per-refresh maintenance viable: rebuild is ∝ corpus, append is
    * ∝ batch.
    *
    * Contract: the result is a MULTISET — a gram both sides share appears
    * once per side (deduping would need an anti-join against the full
    * index, corpus-cost by definition). The probes are duplicate-tolerant
    * by construction ([[repeatedSpansVsCorpus]] counts DISTINCT gram
    * positions; bloom bits are idempotent), so duplicates cost only probe
    * join multiplicity, bounded by the number of appends sharing the gram
    * — run a compaction (`index.distinct()`) on the cadence rebuilds used
    * to happen. AppendGramIndexSpec pins append ≡ rebuild at the probe.
    *
    * Bloom refresh law (spec-pinned): bits of the appended index ==
    * [[graft.functions.BloomSupport.or]] of the old bits and the batch
    * grams' bits (same size/hashes) — the streaming pregate
    * ([[graft.streaming.Streams.flagCorpusOverlap]]) advances without
    * touching the index at all.
    */
  def appendGramIndex(
      gramIndex: DataFrame,
      newDocs: DataFrame,
      textCol: String,
      minLen: Int
  ): DataFrame =
    gramIndex.unionByName(substringGramIndex(newDocs, textCol, minLen))

  /** Bloom bits over a [[substringGramIndex]]'s gram hashes — the
    * fixed-size form of the corpus gram set for scan-side membership
    * pregates ([[graft.streaming.Streams.flagCorpusOverlap]]): the index
    * itself is corpus-scale, its BITS are not. Grams hash through the
    * portable md5-prefix ([[Sampling.hash60]]) so any engine holding the
    * same bits probes identically. Size per the bloom rule
    * (≈1.2·|grams|·ln(1/fp)/8); mergeable build, numBytes per partition
    * on the shuffle.
    */
  def substringGramBloom(
      gramIndex: DataFrame,
      numBytes: Int = 1 << 20,
      numHashes: Int = 7
  ): Array[Byte] =
    gramIndex
      .agg(graft.functions.BloomExprs
        .bloomAgg(Sampling.hash60(col("gram")), numBytes, numHashes).as("bits"))
      .collect()(0)
      .getAs[Array[Byte]](0)

  /** Incremental [[repeatedSpans]]: maximal spans of PROBE documents
    * covered by substrings of length >= minLen that occur anywhere in the
    * indexed corpus — the refresh-time form (the corpus index is built
    * once by [[substringGramIndex]]; only the new docs pay a scan).
    * Unlike the self-join form, evidence is one-sided: a span means "this
    * run of the new doc already exists in the corpus", which is exactly
    * the dedup/boilerplate decision an intake pipeline makes before
    * admitting a document. Same coverage semantics and output shape as
    * [[repeatedSpans]].
    *
    * @return (doc_id, span_start, span_end, span_len, n_grams)
    */
  def repeatedSpansVsCorpus(
      probe: DataFrame,
      idCol: String,
      textCol: String,
      gramIndex: DataFrame,
      minLen: Int
  ): DataFrame = {
    require(minLen >= 2, "minLen must be >= 2")
    import org.apache.spark.sql.expressions.Window
    val positions = Par
      .fanOutSmall(probe.select(col(idCol).as("doc_id"), col(textCol).as("__raw")))
      .select(col("doc_id"), normText("__raw").as("__t"))
      .withColumn(
        "__pg",
        explode(
          when(
            length(col("__t")) >= minLen,
            expr(
              s"""transform(sequence(1, length(__t) - $minLen + 1),
                 |          i -> named_struct('pos', i, 'gram', substring(__t, i, $minLen)))""".stripMargin)
          ).otherwise(expr("CAST(array() AS array<struct<pos:int,gram:string>>)"))
        )
      )
      .select(col("doc_id"), col("__pg.pos").as("pos"), col("__pg.gram").as("gram"))
    // shuffle join with the PROBE as the build side: the probe batch is
    // the small relation here (the index is corpus-scale), and hinting it
    // also keeps the planner from broadcasting the index off the
    // stats-blind distinct-aggregate estimate (the q103 cliff)
    val hits = positions
      .hint("shuffle_hash")
      .join(gramIndex, "gram")
      .select(col("doc_id"), col("pos"))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val cum = Window
      .partitionBy(col("doc_id"))
      .orderBy(col("pos"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    hits
      .withColumn(
        "__brk",
        when(col("pos") - lag(col("pos"), 1).over(w) > minLen, 1).otherwise(0))
      .withColumn("__run", sum(col("__brk")).over(cum))
      .groupBy(col("doc_id"), col("__run"))
      .agg(
        min(col("pos")).as("span_start"),
        (max(col("pos")) + lit(minLen - 1)).as("span_end"),
        // DISTINCT, not count(1): an [[appendGramIndex]]-maintained index
        // is a multiset, and a duplicated gram duplicates hit rows — the
        // duplicates land in the same run (zero gap), so min/max/lag are
        // unaffected and distinct positions restore the exact evidence
        // count without an extra probe-side exchange
        count_distinct(col("pos")).as("n_grams")
      )
      .select(
        col("doc_id"),
        col("span_start"),
        col("span_end"),
        (col("span_end") - col("span_start") + 1).as("span_len"),
        col("n_grams")
      )
  }

  /** The removal operator over [[repeatedSpans]]: every covered character
    * is cut out of the normalized text (Lee et al.'s dedup applied as a
    * TRIM — boilerplate runs vanish from every copy; compose with
    * [[exactDupGroups]]/[[dropExactDups]] afterwards if whole-doc survivors
    * should also collapse). Span collection per doc is bounded by document
    * length, and the cut itself is a single codegen'd `aggregate` fold —
    * no extra shuffle beyond [[repeatedSpans]]' own plus the final
    * doc-keyed join.
    *
    * @return (doc_id, norm_len, n_spans, removed_chars, kept_len, kept_md5,
    *         kept_text) — lengths in characters of the normalized text
    */
  def trimRepeatedSpans(
      df: DataFrame,
      idCol: String,
      textCol: String,
      minLen: Int,
      minDocs: Int = 2,
      saltBuckets: Int = 64
  ): DataFrame =
    applySpanTrim(df, idCol, textCol,
      repeatedSpans(df, idCol, textCol, minLen, minDocs, saltBuckets))

  /** Intake-time trim: cut out of each PROBE document every span already
    * present in the indexed corpus ([[repeatedSpansVsCorpus]] spans) —
    * what an admission pipeline does to new documents before they join
    * the lake: the novel content survives, the boilerplate the corpus
    * already carries does not. Same output shape as
    * [[trimRepeatedSpans]]; only the probe pays a scan.
    */
  def trimSpansVsCorpus(
      probe: DataFrame,
      idCol: String,
      textCol: String,
      gramIndex: DataFrame,
      minLen: Int
  ): DataFrame =
    applySpanTrim(probe, idCol, textCol,
      repeatedSpansVsCorpus(probe, idCol, textCol, gramIndex, minLen))

  /** Cut a span report out of its documents — the shared removal step of
    * [[trimRepeatedSpans]] (self-join spans) and [[trimSpansVsCorpus]]
    * (corpus-index spans): spans collect per doc (bounded by doc length)
    * and one codegen `aggregate` fold performs the cut.
    */
  private def applySpanTrim(
      df: DataFrame,
      idCol: String,
      textCol: String,
      spanReport: DataFrame
  ): DataFrame = {
    val spans = spanReport
      .groupBy(col("doc_id"))
      .agg(
        sort_array(collect_list(struct(col("span_start").as("s"), col("span_end").as("e"))))
          .as("__spans"))
    df.select(col(idCol).as("doc_id"), normText(textCol).as("__t"))
      .join(spans, Seq("doc_id"), "left")
      .withColumn(
        "__spans",
        coalesce(col("__spans"), expr("CAST(array() AS array<struct<s:int,e:int>>)")))
      .withColumn(
        "kept_text",
        expr(
          """aggregate(__spans,
            |          named_struct('nxt', 1, 'acc', ''),
            |          (a, x) -> named_struct('nxt', x.e + 1,
            |                                 'acc', concat(a.acc, substring(__t, a.nxt, x.s - a.nxt))),
            |          a -> concat(a.acc, substring(__t, a.nxt, length(__t) - a.nxt + 1)))""".stripMargin))
      .select(
        col("doc_id"),
        length(col("__t")).as("norm_len"),
        size(col("__spans")).as("n_spans"),
        (length(col("__t")) - length(col("kept_text"))).as("removed_chars"),
        length(col("kept_text")).as("kept_len"),
        md5(col("kept_text")).as("kept_md5"),
        col("kept_text")
      )
  }
}

package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persistent IVF-PQ vector index — the index-as-artifact lifecycle a real
  * ANN deployment runs, as opposed to the per-query computation of
  * [[Similarity.ivfTopK]]/[[Similarity.pqTopK]]:
  *
  *  - BUILD once: k-means posting lists ([[Similarity.ivfIndex]]) + PQ
  *    codebooks ([[Similarity.pqTrainKMeans]]); the corpus is stored as
  *    m-byte PQ codes in a parquet table PARTITIONED BY posting list.
  *  - OPEN anywhere: centroids and codebooks are tiny parquet artifacts
  *    (k·d + m·ksub·dsub doubles) read back into plan literals — no
  *    driver-side model objects, any session can reopen the index.
  *  - QUERY: each query probes its nProbe nearest lists; because `cluster`
  *    is a PARTITION column of the postings table and the probe side is a
  *    broadcast join key, Spark's dynamic partition pruning skips every
  *    unprobed posting file — the scan reads nProbe/kLists of the index,
  *    which is the entire point at 100 TB (VectorIndexSpec asserts the
  *    dynamicpruning expression in the plan). Ranking is PQ/ADC table
  *    lookups over the codes; no d-dim arithmetic, no shuffle before the
  *    per-query top-k window.
  *
  * Codes quantize RESIDUALS `x − centroid[cluster(x)]` by default (classic
  * IVF-PQ, Jégou et al. TPAMI'11 §IV): within a posting list every vector
  * shares its centroid, so residuals concentrate near the origin and the
  * ksub sub-centroids per subspace spend their resolution on the
  * within-list variation instead of re-describing the coarse geometry the
  * IVF step already captured — measurably better recall at the same code
  * budget (VectorIndexSpec compares the two modes head-to-head). The
  * layout and partition-pruned probe path are identical in both modes; the
  * query side just subtracts the probed list's centroid before building
  * its ADC table — one extra d-dim subtraction per (query, probed list),
  * on the broadcast side only. `residual = false` reproduces the flat
  * encoding (vectors quantized raw, one ADC table per query).
  */
object VectorIndex {

  /** `version` mirrors the on-disk meta version the handle was loaded
    * against; probes compare it to the current on-disk version and fail
    * loudly when a retrain/rebalance has rolled the index forward (the
    * enforced form of the restart contract the streaming probes document).
    */
  final case class Handle(
      dir: String,
      centroids: Array[Array[Double]],
      codebooks: Array[Array[Array[Double]]],
      residual: Boolean,
      version: Int = 1
  )

  /** Writer lease over the index directory: every maintenance op
    * ([[append]]/[[rebalanceIfNeeded]]/[[retrainIfDrifted]]/[[remove]])
    * holds `__writer_lease` for its duration — the shared
    * [[graft.lake.WriterLease]] machinery (generalized FROM here, so the
    * lake's mutation paths enforce the same single-writer contract), with
    * this index's fail-FAST policy: a second concurrent maintenance op
    * throws immediately (waitMs = 0) instead of queueing behind a
    * long retrain. Staleness window default 30 min; conf
    * `spark.graft.vectorIndex.leaseStaleMs`.
    */
  private[graft] type WriterLease = graft.lake.WriterLease

  private def leaseStaleMs(spark: SparkSession): Long =
    spark.conf.getOption("spark.graft.vectorIndex.leaseStaleMs")
      .map(_.toLong)
      .getOrElse(30L * 60L * 1000L)

  /** A WriterLease handle over an EXISTING (or absent) lease file without
    * acquiring it — spec-only seam for unit-testing the ownership
    * semantics (release must not delete a usurper's lease; heartbeat must
    * fail loudly on takeover) that the public ops only hit in mid-op race
    * windows no deterministic test can schedule.
    */
  private[graft] def leaseHandle(dir: String, spark: SparkSession, token: String): WriterLease =
    graft.lake.WriterLease.handle(dir, spark, token)

  private def acquireLease(dir: String, spark: SparkSession, op: String): WriterLease =
    graft.lake.WriterLease.acquire(
      dir, spark, op,
      staleMs = leaseStaleMs(spark),
      waitMs = 0L, // maintenance ops fail fast rather than queue
      what = s"VectorIndex at $dir",
      staleConf = "spark.graft.vectorIndex.leaseStaleMs")

  /** Index metadata: monotone version (bumped by every geometry/encoding
    * change), encoding mode, and the BUILD-TIME mean quantization error —
    * the baseline [[retrainIfDrifted]] measures drift against. `None` on
    * indexes built before the drift metric existed.
    */
  private final case class Meta(version: Int, residual: Boolean, baselineQerr: Option[Double])

  private def readMeta(spark: SparkSession, dir: String): Meta = {
    import spark.implicits._
    // a crashed REBUILD leaves mixed-generation artifacts that are
    // individually readable (meta written last, so the pre-crash meta
    // still matches the handle) — the tombstone is the only signal, and
    // every reader must refuse it loudly rather than rank garbage
    locally {
      val fs = new org.apache.hadoop.fs.Path(dir)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (fs.exists(new org.apache.hadoop.fs.Path(s"$dir/__rebuild")))
        throw new IllegalStateException(
          s"VectorIndex at $dir: a rebuild was interrupted mid-overwrite (__rebuild tombstone " +
            "present) — artifacts may span two generations; run VectorIndex.build again")
    }
    // after a crash inside a retrain commit or a meta swap, the staged copy
    // is the real metadata. PRECEDENCE MATTERS: meta.__retrain is written
    // LAST in staging, so its presence means the staged set is complete
    // and authoritative — commitRetrain may already have swapped postings
    // while live meta still carries the old version, and reading live meta
    // first would let a stale handle pass requireFresh and score NEW codes
    // with OLD codebooks. The retrain marker therefore supersedes live;
    // the plain swap stage is last (its live copy, when present, wins).
    val paths = Seq(s"$dir/meta.__retrain", s"$dir/meta", s"$dir/meta.__swap")
    val df = paths.view
      .map(p => scala.util.Try(spark.read.parquet(p)))
      .collectFirst { case scala.util.Success(d) => d }
      .getOrElse {
        // LEGACY fallback (pre-meta index: no meta artifact was ever
        // written) — but an index whose postings/codebooks exist alongside
        // an UNREADABLE-but-present meta is corrupt, not legacy: defaulting
        // residual=false there would silently flat-decode a residual index,
        // the exact garbage-ranking failure the meta file exists to prevent
        val fs = new org.apache.hadoop.fs.Path(dir)
          .getFileSystem(spark.sparkContext.hadoopConfiguration)
        if (fs.exists(new org.apache.hadoop.fs.Path(s"$dir/meta")))
          throw new IllegalStateException(
            s"VectorIndex at $dir: meta directory exists but is unreadable — refusing the " +
              "legacy residual=false fallback (a residual index would silently flat-decode); " +
              "restore meta or rebuild the index")
        return Meta(1, residual = false, None) // pre-residual legacy index
      }
    val version = df.select($"version").as[Int].head()
    val residual = df.select($"residual").as[Boolean].head()
    val baseline =
      if (df.columns.contains("baseline_qerr"))
        df.select($"baseline_qerr").as[Option[Double]].head()
      else None
    Meta(version, residual, baseline)
  }

  private def writeMeta(spark: SparkSession, path: String, m: Meta): Unit = {
    import spark.implicits._
    Seq((m.version, m.residual, m.baselineQerr))
      .toDF("version", "residual", "baseline_qerr")
      .coalesce(1)
      .write
      .mode("overwrite")
      .parquet(path)
  }

  /** Staged LIVE-meta rewrite: write `meta.__swap` fully, then delete live
    * + rename — the same discipline commitRetrain uses, replacing the
    * non-atomic parquet overwrite a crash could leave unreadable (readMeta
    * would then hit its legacy fallback and flat-decode a residual index).
    * The only crash window leaves `meta.__swap` alone, which [[readMeta]]
    * reads directly and [[recoverArtifactSwap]] promotes on the next entry.
    * Callers writing a STAGED path (meta.__retrain) keep plain writeMeta —
    * that path is already behind the retrain marker protocol.
    */
  private def writeMetaSwap(spark: SparkSession, dir: String, m: Meta): Unit = {
    writeMeta(spark, s"$dir/meta.__swap", m)
    swapIn(dir, spark, "meta", "__swap")
  }

  /** Reconcile an interrupted staged `<name>.__swap` rewrite: live copy
    * present → the swap never deleted it (pre-delete crash) or is a stray —
    * the staged copy is discarded (benign: it carried at most a baseline
    * adoption, version bump, or a centroid refit the next maintenance call
    * recomputes); live copy absent → the crash hit between delete and
    * rename — promote the staged copy. Idempotent. Used for `meta` and
    * `centroids` (the two artifacts maintenance rewrites IN PLACE; postings
    * and codebooks go through the retrain marker protocol instead).
    */
  private def recoverArtifactSwap(dir: String, spark: SparkSession, name: String): Unit = {
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val stage = new org.apache.hadoop.fs.Path(s"$dir/$name.__swap")
    if (fs.exists(stage)) {
      if (!fs.exists(new org.apache.hadoop.fs.Path(s"$dir/$name"))) swapIn(dir, spark, name, "__swap")
      else if (!fs.delete(stage, true))
        throw new java.io.IOException(s"could not discard stray $name swap $stage")
    }
  }

  /** Every staged artifact a write leaves beside the live index: the
    * retrain set (`*.__retrain`, see [[commitRetrain]]) and the in-place
    * rewrites of meta and centroids (`*.__swap`).
    */
  private val StagedNames = Seq(
    "meta.__retrain", "postings.__retrain", "codebooks.__retrain", "meta.__swap", "centroids.__swap")

  /** Install the fully-written `<name>.<stage>` as the live `<name>`:
    * delete the live copy when there is one, then rename the stage over
    * it — both checked (HDFS-style filesystems report failure by
    * returning false). The one step every staged rewrite, retrain commit
    * and recovery shares.
    */
  private def swapIn(dir: String, spark: SparkSession, name: String, stage: String): Unit = {
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val live = new org.apache.hadoop.fs.Path(s"$dir/$name")
    val staged = new org.apache.hadoop.fs.Path(s"$dir/$name.$stage")
    if (fs.exists(live) && !fs.delete(live, true))
      throw new java.io.IOException(s"$name.$stage: could not retire $live")
    if (!fs.rename(staged, live))
      throw new java.io.IOException(s"$name.$stage: could not promote $staged")
  }

  private def writeCodebooks(
      spark: SparkSession,
      path: String,
      codebooks: Array[Array[Array[Double]]]): Unit = {
    import spark.implicits._
    (for { s <- codebooks.indices; j <- codebooks(s).indices }
      yield (s, j, codebooks(s)(j).toSeq)).toDF("s", "j", "c")
      .coalesce(1)
      .write
      .mode("overwrite")
      .parquet(path)
  }

  /** Element-wise `vec − centroids[cluster]` as a plan expression. The
    * centroid matrix rides in as a nested array literal; at kLists·d
    * doubles it's metadata-sized. Result is array<double> (explicit
    * float→double widening, same discipline as the distance math).
    */
  private def residualCol(vec: Column, cluster: Column, centroids: Array[Array[Double]]): Column = {
    val centArr = array(centroids.map(c => array(c.map(lit): _*)): _*)
    zip_with(vec, element_at(centArr, cluster + lit(1)), (a, b) => a.cast("double") - b)
  }

  /** Build and persist the index under `dir`. Returns an open handle. */
  def build(
      corpus: DataFrame, // (idCol, vecCol: array<float>)
      idCol: String,
      vecCol: String,
      dir: String,
      kLists: Int = 8,
      m: Int = 8,
      ksub: Int = 16,
      seed: Long = 42L,
      residual: Boolean = true,
      qerrSampleFraction: Double = 1.0
  ): Handle = {
    val spark = corpus.sparkSession
    import spark.implicits._
    // a (re)build is a WRITE: it must hold the writer lease (otherwise it
    // races a concurrent append/rebalance's staged commits) and it must
    // discard any crashed retrain's staging FIRST — the meta.__retrain
    // marker is a roll-forward promise, and leaving it in place lets the
    // next open() promote the stale pre-crash artifacts OVER this fresh
    // build, silently destroying it
    val lease = acquireLease(dir, spark, "build")
    try {
      val fsb = new org.apache.hadoop.fs.Path(dir)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      StagedNames.foreach { n =>
        val pp = new org.apache.hadoop.fs.Path(s"$dir/$n")
        if (fsb.exists(pp) && !fsb.delete(pp, true))
          throw new java.io.IOException(s"build: could not discard stale staging $pp")
      }
      // REBUILD tombstone: buildBody overwrites postings → centroids →
      // codebooks → meta in sequence with no staging, so a crash leaves a
      // mixed-generation index whose artifacts are individually readable —
      // open() would succeed and silently rank one generation's codes
      // against another's codebooks. The tombstone (dropped before the
      // first overwrite, cleared after the last) makes every reader refuse
      // the window loudly (readMeta throws on it); a crashed rebuild heals
      // by rebuilding, which is what the caller was doing anyway. FIRST
      // builds need it too — there is no generation to mix, but a crash
      // between the codebooks write and the meta write (quantizationError
      // is a corpus-scale job in between) leaves artifacts readMeta's
      // pre-meta-era fallback opens as residual=false, silently
      // flat-decoding a residual-coded index; the tombstone makes that
      // window loud as well.
      val tomb = new org.apache.hadoop.fs.Path(s"$dir/__rebuild")
      fsb.create(tomb, true).close()
      val h = buildBody(corpus, idCol, vecCol, dir, kLists, m, ksub, seed, residual, qerrSampleFraction)
      if (!fsb.delete(tomb, false))
        throw new java.io.IOException(s"build: could not clear rebuild tombstone $tomb")
      h
    } finally lease.release()
  }

  private def buildBody(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      dir: String,
      kLists: Int,
      m: Int,
      ksub: Int,
      seed: Long,
      residual: Boolean,
      qerrSampleFraction: Double
  ): Handle = {
    val spark = corpus.sparkSession
    import spark.implicits._
    // null vectors never index: arrayDot is null-intolerant, so a null
    // embedding's centroid distances are all NULL, the assignment falls
    // through to cluster 0 with NULL codes, and the NULL adist then ranks
    // FIRST (Spark windows sort NULLS FIRST asc) for every query probing
    // that list. Failed-embedding rows are routine; they simply aren't in
    // the index — the embedNearDupPairsViaIndex contract.
    val std = corpus
      .select(col(idCol).as("vec_id"), col(vecCol).as("embedding"))
      .filter(col("embedding").isNotNull)
    val (assigned, centroids) = Similarity.ivfIndex(std, kLists, seed)
    // In residual mode both codebook training and encoding run over the
    // residuals — train/encode must see the same distribution or the codes
    // are systematically biased toward the raw geometry.
    val (encodeInput0, encodeCol) =
      if (residual)
        (assigned.withColumn("rvec", residualCol($"embedding", $"cluster", centroids)), "rvec")
      else (assigned, "embedding")
    // persist: the codebook trainer probes the dimension, samples for
    // training, and the encode write scans — three actions over a lineage
    // that includes the full k-means assignment of the corpus; one
    // materialization serves all of them
    val encodeInput = encodeInput0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val codebooks =
      try {
        val cb = Similarity.pqTrainKMeans(encodeInput, encodeCol, m, ksub, seed)
        Similarity
          .pqEncode(encodeInput, encodeCol, cb)
          .select($"vec_id", $"cluster", $"codes")
          .write
          .mode("overwrite")
          .partitionBy("cluster")
          .parquet(s"$dir/postings")
        cb
      } finally encodeInput.unpersist(blocking = false)
    centroids.zipWithIndex
      .map { case (c, i) => (i, c.toSeq) }
      .toSeq
      .toDF("cluster", "centroid")
      .coalesce(1)
      .write
      .mode("overwrite")
      .parquet(s"$dir/centroids")
    writeCodebooks(spark, s"$dir/codebooks", codebooks)
    // meta carries the encoding mode (a reopened index MUST decode the way
    // it was encoded — probing a residual index flat, or vice versa, would
    // silently rank garbage distances) and the build-time quantization
    // error, the drift baseline retrainIfDrifted compares against
    val h0 = Handle(dir, centroids, codebooks, residual)
    val baseline = quantizationError(h0, std, "vec_id", "embedding", qerrSampleFraction)
    writeMeta(spark, s"$dir/meta", Meta(1, residual, Some(baseline)))
    h0
  }

  /** Incrementally add vectors to a persisted index — the refresh path of
    * the build-once lifecycle: new vectors are assigned to their nearest
    * EXISTING centroid and encoded with the EXISTING codebooks (an IVF
    * index's geometry is frozen at build time; rebuild when drift
    * accumulates), then appended into the cluster-partitioned postings —
    * only the touched partitions gain files, probes prune exactly as
    * before. Assignment uses the same argmin ‖x−c‖² the builder's k-means
    * transform uses, so an appended vector lands in the list a monolithic
    * build would have put it in.
    *
    * Caller contract: ids must not collide with vectors already in the
    * index (same as any append-only store).
    */
  /** Background lease heartbeat around ONE long Spark action: retrain/
    * rebalance heartbeat between their phases, but append's encode+write
    * is a single action with no driver-side seam — without a beat it
    * crosses the staleness window on a large batch and a concurrent op
    * takes over and races the in-flight postings write. The daemon thread
    * refreshes at a third of the window; a takeover detected mid-run
    * surfaces as the loud failure the lease promises (after the body —
    * the action cannot be safely interrupted midway, but the caller must
    * never see a silent success).
    */
  private def withHeartbeat[T](lease: WriterLease, spark: SparkSession)(body: => T): T =
    graft.lake.WriterLease.withHeartbeat(lease, leaseStaleMs(spark))(body)

  def append(h0: Handle, newVectors: DataFrame, idCol: String, vecCol: String): Unit = {
    val spark = newVectors.sparkSession
    val lease = acquireLease(h0.dir, spark, "append")
    try withHeartbeat(lease, spark) {
      // roll-forward + reload: appending with a pre-retrain handle's
      // codebooks after a promoted commit would mix encodings in one list
      val h = freshHandle(h0, spark)
      // same null-vector guard as the build path (a null would land in
      // cluster 0 with NULL codes and rank 1 for every probe of that list)
      val std = newVectors
        .select(col(idCol).as("vec_id"), col(vecCol).as("embedding"))
        .filter(col("embedding").isNotNull)
      val assigned = std.withColumn(
        "cluster",
        element_at(Similarity.nearestCentroids(col("embedding"), h.centroids, 1), 1))
      val (encodeInput, encodeCol) =
        if (h.residual)
          (assigned.withColumn("rvec", residualCol(col("embedding"), col("cluster"), h.centroids)), "rvec")
        else (assigned, "embedding")
      Similarity
        .pqEncode(encodeInput, encodeCol, h.codebooks)
        .select(col("vec_id"), col("cluster"), col("codes"))
        .write
        .mode("append")
        .partitionBy("cluster")
        .parquet(s"${h.dir}/postings")
    } finally lease.release()
  }

  /** Posting-list occupancy: (cluster, n_vectors) — the skew signal. A list
    * that grows far past corpus/kLists makes its probes expensive (IVF's
    * version of a hot partition); that is the rebuild trigger for an index
    * that has absorbed many appends.
    */
  def stats(h: Handle, spark: SparkSession): DataFrame =
    spark.read
      .parquet(s"${h.dir}/postings")
      .groupBy(col("cluster"))
      .agg(count(lit(1)).as("n_vectors"))
      .orderBy(col("cluster"))

  /** Codebook-staleness observability — the drift twin of [[stats]]'
    * occupancy skew (which a distribution shift can leave perfectly
    * balanced): the current mean [[quantizationError]] of `corpus` against
    * the baseline recorded at build/retrain time, as one row
    * `(baseline_qerr, current_qerr, ratio, drifted)`. `drifted` applies
    * `tolerance` the same way [[retrainIfDrifted]] does, so a monitoring
    * job can alert on exactly the condition maintenance would act on —
    * without triggering the (expensive) retrain itself. `ratio` is NULL
    * for an index predating the drift metric (no baseline recorded).
    */
  def driftStats(
      h: Handle,
      corpus: DataFrame, // (idCol, vecCol) — the current corpus
      idCol: String,
      vecCol: String,
      tolerance: Double = 1.5,
      sampleFraction: Double = 1.0
  ): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    // same freshness gate as every query path: a stale handle would score
    // current_qerr with OLD codebooks against the rolled-forward baseline —
    // mismatched generations whose ratio is meaningless (a healthy index
    // reporting drifted=true pages an operator for nothing). This is a
    // monitoring read; it must fail loudly, not report wrong numbers.
    requireFresh(h, spark)
    val current = quantizationError(h, corpus, idCol, vecCol, sampleFraction)
    val baseline = readMeta(spark, h.dir).baselineQerr
    val ratio = baseline.filter(_ > 0.0).map(current / _)
    Seq((baseline, current, ratio, ratio.exists(_ > tolerance)))
      .toDF("baseline_qerr", "current_qerr", "ratio", "drifted")
  }

  /** Per-row achieved PQ reconstruction error under `codebooks`:
    * `Σ_s min_j ‖x_s − C[s][j]‖²`. Encoding picks the argmin sub-centroid
    * per subspace, so the per-subspace MIN over the ADC query table IS the
    * error the encode of `x` achieves — no separate encode+decode pass.
    * Pure scan-side expression; nothing shuffles.
    */
  private def qerrCol(x: Column, codebooks: Array[Array[Array[Double]]]): Column =
    aggregate(
      transform(Similarity.pqQueryTable(x, codebooks), a => array_min(a)),
      lit(0.0),
      (acc, v) => acc + v)

  /** Mean PQ quantization error of `corpus` under the index's CURRENT
    * geometry (centroids + codebooks): each vector is assigned to its
    * nearest centroid, the encode input (residual or raw, matching the
    * index's mode) is scored with [[qerrCol]], and the mean is returned.
    *
    * This is the codebook-staleness signal: [[build]] records it as the
    * baseline in meta, and [[retrainIfDrifted]] compares the same metric
    * over the drifted corpus against that baseline. Quantization error is
    * the right lens because it is exactly the quantity ADC ranking
    * degrades by — a distribution shift that doesn't move it doesn't hurt
    * recall, and one that does is invisible to [[stats]]' occupancy skew
    * (a new modality can land perfectly balanced and still quantize
    * terribly).
    *
    * `sampleFraction` bounds the cost on a large corpus via the portable
    * deterministic hash band ([[Sampling.hash60]] on the id) — same rows,
    * same estimate, on any cluster. Falls back to the full corpus when the
    * band comes back empty (tiny corpus × small fraction).
    */
  def quantizationError(
      h: Handle,
      corpus: DataFrame, // (idCol, vecCol: array<float>)
      idCol: String,
      vecCol: String,
      sampleFraction: Double = 1.0
  ): Double = {
    require(sampleFraction > 0.0 && sampleFraction <= 1.0, s"sampleFraction $sampleFraction not in (0,1]")
    val std = corpus
      .select(col(idCol).as("vec_id"), col(vecCol).as("embedding"))
      .filter(col("embedding").isNotNull)
    def meanErr(df: DataFrame): Option[Double] = {
      val assigned = df.withColumn(
        "cluster",
        element_at(Similarity.nearestCentroids(col("embedding"), h.centroids, 1), 1))
      val x =
        if (h.residual) residualCol(col("embedding"), col("cluster"), h.centroids)
        else col("embedding")
      assigned
        .select(avg(qerrCol(x, h.codebooks)).as("__e"))
        .collect()
        .headOption
        .flatMap(r => if (r.isNullAt(0)) None else Some(r.getDouble(0)))
    }
    val sampled =
      if (sampleFraction >= 1.0) std
      else {
        val den = 1 << 20
        Sampling.bernoulli(std, col("vec_id"), math.max(1, (sampleFraction * den).toInt), den)
      }
    meanErr(sampled)
      .orElse(meanErr(std))
      .getOrElse(throw new IllegalArgumentException(
        "quantizationError: corpus has no non-null vectors"))
  }

  /** The "when to rebuild" half of the append lifecycle: split posting
    * lists that outgrew their peers. [[append]] freezes the coarse
    * geometry, so a drifting corpus (a new content mode the build never
    * saw) pours into whichever existing list is least-wrong — [[stats]]
    * shows the skew, and this acts on it.
    *
    * A list is HOT when its occupancy exceeds `maxSkew ×` the mean
    * (corpus / kLists). Each hot list is split by a k-means over ITS
    * MEMBERS' RAW VECTORS into ~mean-sized sub-lists: the first sub-list
    * keeps the old cluster id, the rest take fresh ids appended to the
    * centroid table — ids are stable, so untouched partitions (the vast
    * majority) are never rewritten or re-encoded. Residual encoding is
    * what makes the repair LOCAL: a member's code depends only on its own
    * list's centroid, so re-encoding a split list (frozen codebooks, new
    * sub-centroid residuals) touches exactly that list's rows.
    *
    * `corpus` is the source of truth for raw vectors (keyed by `idCol`) —
    * the index stores only 8-bit codes, and reconstructing vectors from
    * codes would compound quantization error into the new assignment. Every
    * hot-list member must resolve in `corpus`; missing ids fail loudly
    * rather than silently dropping vectors from the index.
    *
    * Same single-writer contract as [[append]] and the lake: the hot
    * partitions are replaced non-atomically (delete, then append the
    * re-encoded rows); don't probe concurrently with a rebalance.
    *
    * Returns the updated handle (== `h` when nothing was hot). The meta
    * artifact's version is bumped so a reopened session observes the new
    * centroid count.
    */
  def rebalanceIfNeeded(
      h0: Handle,
      corpus: DataFrame, // (idCol, vecCol) — raw vectors for at least every indexed id
      idCol: String,
      vecCol: String,
      maxSkew: Double = 4.0,
      seed: Long = 42L
  ): Handle = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val lease = acquireLease(h0.dir, spark, "rebalance")
    try {
    // crash repair FIRST: roll forward any interrupted retrain commit (its
    // staged artifacts are authoritative once the marker exists — and when
    // one is promoted the caller's handle is STALE, so reload; re-encoding
    // below with pre-retrain codebooks would write mixed encodings), then
    // collapse cross-list duplicates — an interrupted rebalance (between
    // its append and delete) leaves moved vectors in two lists, and a
    // re-run allocates DIFFERENT fresh list ids, so nothing downstream
    // could ever collapse the copies — they'd double-count in every probe
    // forever
    val h = freshHandle(h0, spark)
    repairCrossListDuplicates(h, spark)
    val occ = stats(h, spark).as[(Int, Long)].collect()
    val total = occ.map(_._2).sum
    val mean = math.max(1.0, total.toDouble / h.centroids.length)
    val hot = occ.filter { case (_, n) => n > maxSkew * mean && n > 1 }
    if (hot.isEmpty) return h

    val postings = spark.read.parquet(s"${h.dir}/postings")
    val hotIds = hot.map(_._1)
    val members = postings
      .filter(col("cluster").isin(hotIds.map(Int.box): _*))
      .select(col("vec_id"), col("cluster").as("__old"))
      .join(
        corpus.select(col(idCol).as("vec_id"), col(vecCol).as("embedding")),
        Seq("vec_id"))
      .persist()
    try {
      val resolved = members.count()
      require(
        resolved == hot.map(_._2).sum,
        s"rebalance: corpus resolves $resolved of ${hot.map(_._2).sum} hot-list vectors — " +
          "refusing to drop the unresolved ones from the index")
      lease.heartbeat() // the resolve join scanned the corpus
    } catch {
      case t: Throwable => members.unpersist(blocking = false); throw t
    }

    // per hot list: k-means its members into ~mean-sized sub-lists, map the
    // local sub-cluster ids onto (old id, fresh global ids...)
    var nextId = h.centroids.length
    val newCentroids = scala.collection.mutable.ArrayBuffer(h.centroids.toSeq: _*)
    val reassigned = hot.map { case (l, n) =>
      val kSplit = math.min(16, math.max(2, math.ceil(n / mean).toInt))
      val (sub, subCentroids) =
        Similarity.ivfIndex(members.filter(col("__old") === l).select($"vec_id", $"embedding"), kSplit, seed)
      val globalIds = subCentroids.indices.map { c =>
        if (c == 0) { newCentroids(l) = subCentroids(0); l }
        else { newCentroids += subCentroids(c); nextId += 1; nextId - 1 }
      }
      val idMap = globalIds.zipWithIndex.map { case (g, c) => (c, g) }.toMap
      sub.withColumn(
        "cluster",
        element_at(
          array(idMap.toSeq.sortBy(_._1).map(p => lit(p._2)): _*),
          col("cluster") + lit(1)))
    }.reduce(_ unionByName _)

    val centroidArr = newCentroids.toArray
    val (encodeInput, encodeCol) =
      if (h.residual)
        (reassigned.withColumn("rvec", residualCol($"embedding", $"cluster", centroidArr)), "rvec")
      else (reassigned, "embedding")
    val reencoded = Similarity
      .pqEncode(encodeInput, encodeCol, h.codebooks)
      .select($"vec_id", $"cluster", $"codes")

    // CENTROIDS AND META PERSIST FIRST, postings swap second: every cluster
    // id the re-encoded rows reference must be resolvable by open() at
    // every instant — in the reverse order, a crash between the postings
    // swap and the centroid write strands the split rows on ids no probe
    // can reach (nearestCentroids only emits ids < centroid count), i.e.
    // silent unrepairable data loss. With this order a crash leaves at
    // worst (a) not-yet-populated lists — a probe selecting one wastes a
    // probe slot, nothing is lost — or (b) a hot list whose rows still
    // carry pre-split codes against the refit list-0 centroid: transiently
    // degraded ranking, and the list is still over-mean, so a RE-RUN
    // re-splits it and completes the repair.
    // STAGED swap, not a bare overwrite: Spark's static overwrite deletes
    // the live dir before its write job commits, so a crash in that
    // window would leave NO centroids — a k-means artifact nothing can
    // regenerate; open() would fail forever on an index whose postings,
    // codebooks, and meta are all intact. The swap's only crash window
    // leaves centroids.__swap, which recoverRetrain reconciles on the
    // next maintenance entry.
    centroidArr.zipWithIndex
      .map { case (c, i) => (i, c.toSeq) }
      .toSeq
      .toDF("cluster", "centroid")
      .coalesce(1)
      .write
      .mode("overwrite")
      .parquet(s"${h.dir}/centroids.__swap")
    swapIn(h.dir, spark, "centroids", "__swap")
    // version bump (staged swap — a crash mid-write must not leave live
    // meta unreadable); the drift BASELINE is preserved — a rebalance
    // refits coarse geometry only, the codebooks (whose staleness the
    // baseline measures) are untouched
    val oldMeta = readMeta(spark, h.dir)
    writeMetaSwap(spark, h.dir, oldMeta.copy(version = oldMeta.version + 1, residual = h.residual))

    // append-then-delete swap: snapshot the hot partitions' current files,
    // write the re-encoded rows alongside them, then remove exactly the
    // snapshotted files. A crash between the two steps leaves each moved
    // vector in TWO lists (the old list's row plus the fresh list's) —
    // which a plain re-run could never collapse, because it would allocate
    // DIFFERENT fresh list ids; [[repairCrossListDuplicates]] at the top
    // of every rebalance detects exactly that state and restores
    // exactly-once placement before any new split.
    lease.heartbeat() // the k-means + re-encode above can outlast a stale window
    val fs = new org.apache.hadoop.fs.Path(h.dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    try swapPartitions(fs, h.dir, hotIds.toSeq, reencoded.dropDuplicates("vec_id", "cluster"))
    finally members.unpersist(blocking = false)
    h.copy(centroids = centroidArr, version = oldMeta.version + 1)
    } finally lease.release()
  }

  /** Hadoop FS signals delete failure by returning FALSE, not throwing —
    * an unchecked delete after an append-then-delete swap would leave the
    * old rows live alongside their replacements, silently doubling them.
    */
  private def checkedDelete(fs: org.apache.hadoop.fs.FileSystem, p: org.apache.hadoop.fs.Path): Unit =
    if (fs.exists(p) && !fs.delete(p, false))
      throw new java.io.IOException(
        s"could not delete $p — old rows would stay live alongside their replacements")

  /** The append-then-delete partition swap shared by
    * [[rebalanceIfNeeded]], [[repairCrossListDuplicates]] and [[remove]]:
    * snapshot the named lists' current files, append `rows` (the caller
    * has already applied its own dedup discipline and materialized off
    * the pre-swap listing), then delete exactly the snapshotted files. A
    * crash between the two steps leaves duplicate rows, never lost ones —
    * each caller's re-run collapses them. ONE implementation on purpose:
    * this is the crash-window-bearing code, and a safety fix applied to a
    * hand-copied variant in two of three places silently reopens the
    * window in the third.
    */
  private def swapPartitions(
      fs: org.apache.hadoop.fs.FileSystem,
      dir: String,
      lists: Seq[Int],
      rows: DataFrame): Unit = {
    val oldFiles = lists.flatMap { l =>
      val p = new org.apache.hadoop.fs.Path(s"$dir/postings/cluster=$l")
      if (fs.exists(p)) fs.listStatus(p).map(_.getPath).toSeq else Nil
    }
    rows.write.mode("append").partitionBy("cluster").parquet(s"$dir/postings")
    oldFiles.foreach(checkedDelete(fs, _))
  }

  /** Collapse any vec_id present in more than one posting list — the state
    * an interrupted [[rebalanceIfNeeded]] leaves behind (old-list row +
    * fresh-list row; a re-run allocates different fresh ids, so no later
    * write can merge the copies). Canonical placement is the LARGEST
    * cluster id: maintenance only ever moves vectors toward newer
    * (higher-id) lists, so the newest placement is the interrupted run's
    * intent; same-cluster copies collapse arbitrarily (they decode against
    * the same centroid). Only partitions holding a row of a duplicated
    * vec_id are rewritten; the repair itself uses the same append-then-
    * delete swap and CONVERGES under repeated crashes (a crash mid-repair
    * only adds same-cluster copies, which the next pass collapses).
    */
  private def repairCrossListDuplicates(h: Handle, spark: SparkSession): Unit = {
    import spark.implicits._
    val postings = spark.read.parquet(s"${h.dir}/postings")
    val placement = postings
      .groupBy($"vec_id")
      .agg(max($"cluster").as("__keep"), count(lit(1)).as("__n"))
      .filter($"__n" > 1)
      .select($"vec_id", $"__keep")
      .persist()
    try {
      if (placement.count() == 0L) return
      val hitLists = postings
        .join(placement, Seq("vec_id"), "left_semi")
        .select($"cluster")
        .distinct()
        .as[Int]
        .collect()
      val affected = postings.filter(col("cluster").isin(hitLists.map(Int.box): _*))
      val survivors = affected
        .join(placement, Seq("vec_id"), "left")
        .filter($"__keep".isNull || $"cluster" === $"__keep")
        .dropDuplicates("vec_id")
        .select($"vec_id", $"cluster", $"codes")
        .persist()
      try {
        survivors.count() // fully materialize off the pre-swap listing
        val fs = new org.apache.hadoop.fs.Path(h.dir)
          .getFileSystem(spark.sparkContext.hadoopConfiguration)
        swapPartitions(fs, h.dir, hitLists.toSeq, survivors)
      } finally survivors.unpersist(blocking = false)
    } finally placement.unpersist(blocking = false)
  }

  /** The codebook-staleness half of the maintenance lifecycle.
    * [[rebalanceIfNeeded]] repairs the COARSE geometry (posting-list skew)
    * but always re-encodes against the BUILD-TIME codebooks — tolerable
    * under mild drift (residual encoding concentrates what the codebooks
    * must describe), but a corpus whose embedding distribution genuinely
    * shifts (new modality, new encoder version) degrades ADC quantization
    * with no occupancy signal at all. This is the remedy: measure the
    * current [[quantizationError]] against the build-time baseline stored
    * in meta, and when it exceeds `tolerance ×` baseline, retrain the
    * subspace codebooks on the current distribution (bounded deterministic
    * sample — [[Similarity.pqTrainKMeans]]'s FAISS-style train-on-sample)
    * and re-encode EVERY posting list. Cluster assignments are untouched:
    * codebooks describe within-list residual structure, not the coarse
    * geometry, so (vec_id, cluster) is stable and probes prune exactly as
    * before — only `codes` change.
    *
    * Crash safety is a staged roll-forward commit: new postings and
    * codebooks are written to `*.__retrain` directories first, the staged
    * meta (version+1, NEW baseline) is written LAST as the completion
    * marker, and then each staged artifact is swapped into place
    * ([[commitRetrain]] — meta last, so the marker outlives the swaps it
    * gates). A crash before the marker exists discards the partial stage
    * on the next maintenance call; a crash after it rolls FORWARD — every
    * entry point ([[open]], [[rebalanceIfNeeded]], this method) runs
    * [[recoverRetrain]] first, and [[readMeta]] falls back to the staged
    * copy inside the commit window. Old codes are never readable alongside
    * new codebooks or vice versa EXCEPT inside the commit window itself,
    * which the index's existing single-writer/no-concurrent-probe contract
    * already excludes.
    *
    * `corpus` must resolve every indexed id (same loud-failure contract as
    * [[rebalanceIfNeeded]] — reconstructing vectors from 8-bit codes would
    * compound the very quantization error being repaired). An index built
    * before the drift metric existed has no baseline: the current error is
    * adopted as the baseline and written back, so the NEXT call has a
    * reference point.
    *
    * Returns the updated handle (`h` unchanged when not drifted).
    */
  def retrainIfDrifted(
      h0: Handle,
      corpus: DataFrame, // (idCol, vecCol) — raw vectors for at least every indexed id
      idCol: String,
      vecCol: String,
      tolerance: Double = 1.5,
      seed: Long = 42L,
      sampleFraction: Double = 1.0
  ): Handle = {
    require(tolerance >= 1.0, s"tolerance $tolerance < 1 would flag an IMPROVED fit as drift")
    val spark = corpus.sparkSession
    val lease = acquireLease(h0.dir, spark, "retrain")
    try {
    // roll-forward + reload: after promoting an interrupted commit the
    // caller's handle carries pre-retrain codebooks, and measuring drift
    // with them against the promoted baseline would immediately re-retrain
    val h = freshHandle(h0, spark)
    val meta = readMeta(spark, h.dir)
    val current = quantizationError(h, corpus, idCol, vecCol, sampleFraction)
    // heartbeat after EVERY long phase, not once at the end: the lease's
    // fail-fast promise is void for exactly the operations long enough to
    // cross the staleness window if the mtime only moves at acquisition
    lease.heartbeat()
    val baseline = meta.baselineQerr.getOrElse {
      // baseline adoption rewrites LIVE meta — staged swap, not a bare
      // overwrite a crash could leave unreadable
      writeMetaSwap(spark, h.dir, meta.copy(baselineQerr = Some(current)))
      return h
    }
    if (baseline <= 0.0 || current <= tolerance * baseline) return h

    val postings = spark.read.parquet(s"${h.dir}/postings")
    // keep the EXISTING assignment — the retrain repairs codes, not geometry
    val indexed = postings
      .select(col("vec_id"), col("cluster"))
      .join(
        corpus.select(col(idCol).as("vec_id"), col(vecCol).as("embedding")),
        Seq("vec_id"))
    val (encodeInput0, encodeCol) =
      if (h.residual)
        (indexed.withColumn("rvec", residualCol(col("embedding"), col("cluster"), h.centroids)), "rvec")
      else (indexed, "embedding")
    // one materialization serves the resolve check, the trainer's sample,
    // the re-encode write, and the new-baseline scoring
    val encodeInput = encodeInput0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val resolved = encodeInput.count()
      val total = postings.count()
      require(
        resolved == total,
        s"retrain: corpus resolves $resolved of $total indexed vectors — " +
          "refusing to drop the unresolved ones from the index")
      val m = h.codebooks.length
      val ksub = h.codebooks.headOption.map(_.length).getOrElse(0)
      lease.heartbeat() // resolve/count scans above are corpus-sized
      val cb = Similarity.pqTrainKMeans(encodeInput, encodeCol, m, ksub, seed)
      Similarity
        .pqEncode(encodeInput, encodeCol, cb)
        .select(col("vec_id"), col("cluster"), col("codes"))
        .write
        .mode("overwrite")
        .partitionBy("cluster")
        .parquet(s"${h.dir}/postings.__retrain")
      lease.heartbeat() // the train + full re-encode is the longest phase
      writeCodebooks(spark, s"${h.dir}/codebooks.__retrain", cb)
      // the new baseline is the retrained fit of the CURRENT corpus — the
      // reference the NEXT drift check measures against
      val newBaseline = encodeInput
        .select(avg(qerrCol(col(encodeCol), cb)).as("__e"))
        .collect()
        .head
        .getDouble(0)
      // staging-complete marker: written last, so its presence guarantees
      // the staged postings/codebooks are fully written
      lease.heartbeat() // re-encode of every list can outlast a stale window
      writeMeta(spark, s"${h.dir}/meta.__retrain", Meta(meta.version + 1, h.residual, Some(newBaseline)))
      commitRetrain(h.dir, spark)
      h.copy(codebooks = cb, version = meta.version + 1)
    } finally encodeInput.unpersist(blocking = false)
    } finally lease.release()
  }

  /** Complete an interrupted retrain. Staging writes `meta.__retrain`
    * LAST, so: marker present → the staged set is complete and
    * authoritative → roll the commit FORWARD; marker absent → any stray
    * staged directory is a pre-marker crash → discard it (the live set
    * was never touched). Idempotent and convergent under repeated crashes
    * — every step re-checks existence.
    */
  private def recoverRetrain(dir: String, spark: SparkSession): Boolean = {
    recoverArtifactSwap(dir, spark, "meta") // reconcile an interrupted live-meta swap first
    recoverArtifactSwap(dir, spark, "centroids") // and an interrupted centroid refit
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(new org.apache.hadoop.fs.Path(s"$dir/meta.__retrain"))) {
      commitRetrain(dir, spark)
      true
    } else {
      Seq("postings.__retrain", "codebooks.__retrain").foreach { n =>
        val p = new org.apache.hadoop.fs.Path(s"$dir/$n")
        if (fs.exists(p) && !fs.delete(p, true))
          throw new java.io.IOException(s"could not discard partial retrain stage $p")
      }
      false
    }
  }

  /** A handle guaranteed to match the on-disk index: rolls any interrupted
    * retrain commit forward first, and when that happened, RELOADS — the
    * caller's handle predates the commit, and its stale codebooks would
    * otherwise write mixed encodings into the freshly-promoted postings
    * (append/rebalance encode with `h.codebooks`). Every mutating entry
    * point passes through here.
    */
  private def freshHandle(h: Handle, spark: SparkSession): Handle = {
    val rolled = recoverRetrain(h.dir, spark)
    // reload on ANY version drift, not only after an interrupted commit
    // THIS call rolled forward: a retrain/rebalance that COMPLETED cleanly
    // in another session also leaves this handle's centroids/codebooks
    // stale, and mutating with them writes mixed encodings (append) or
    // reuses another session's centroid ids for unrelated sub-lists
    // (rebalance) — the same silent corruption the roll-forward reload
    // exists to prevent, minus the convenient marker.
    if (rolled || readMeta(spark, h.dir).version != h.version) open(spark, h.dir) else h
  }

  /** Swap staged retrain artifacts into place: postings, codebooks, then
    * meta — meta LAST, because its staged copy is the roll-forward marker
    * and must outlive the swaps it gates ([[readMeta]] reads it directly
    * inside the window). Each swap is one [[swapIn]].
    */
  private def commitRetrain(dir: String, spark: SparkSession): Unit = {
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    Seq("postings", "codebooks", "meta").foreach { n =>
      if (fs.exists(new org.apache.hadoop.fs.Path(s"$dir/$n.__retrain"))) swapIn(dir, spark, n, "__retrain")
    }
  }

  /** Remove vectors from the index — the delete half of the incremental
    * lifecycle (a corpus drops documents: takedowns, dedup survivors'
    * siblings, retention windows). Locality mirrors [[rebalanceIfNeeded]]:
    * only the posting partitions that actually CONTAIN a victim are
    * rewritten (their survivors re-appended code-for-code — no re-encoding,
    * the geometry is untouched); every other partition's files are never
    * read or replaced. Same append-then-delete swap: a crash between the
    * append and the delete leaves duplicate survivor rows, never lost
    * survivors — and because the survivor set is written DISTINCT, a re-run
    * with the same ids reads the duplicated partition, collapses it, and
    * restores exactly-once rows (the re-run's removed count reflects the
    * duplicates it collapsed, not live vectors).
    *
    * Victim ids are cast to the index's own vec_id type (build/append
    * accept any id type — hardcoding a cast to one type would silently
    * no-op every takedown on, say, a string-keyed index). Ids absent from
    * the index are ignored (idempotent — removing twice is safe). Returns
    * the number of vectors actually removed.
    */
  def remove(h0: Handle, ids: DataFrame, idCol: String): Long = {
    val spark = ids.sparkSession
    import spark.implicits._
    val lease = acquireLease(h0.dir, spark, "remove")
    try {
    // roll the staged commit forward BEFORE rewriting postings: removing
    // from the live set while a completed stage awaits promotion would be
    // undone wholesale when the stage later promotes over it — the
    // removed vectors would resurrect
    val h = freshHandle(h0, spark)
    val postings = spark.read.parquet(s"${h.dir}/postings")
    val victims = ids
      .select(col(idCol).cast(postings.schema("vec_id").dataType).as("vec_id"))
      .distinct()
    val hitLists = postings
      .join(victims, Seq("vec_id"), "left_semi")
      .select($"cluster")
      .distinct()
      .as[Int]
      .collect()
    if (hitLists.isEmpty) return 0L

    val affected = postings.filter(col("cluster").isin(hitLists.map(Int.box): _*))
    // distinct by (vec_id, cluster): the swap below can crash between its
    // append and delete, leaving each survivor twice in the partition — a
    // re-run must collapse those copies, not double them again
    val survivors = affected
      .join(victims, Seq("vec_id"), "left_anti")
      .select($"vec_id", $"cluster", $"codes")
      .dropDuplicates("vec_id", "cluster")
      .persist()
    try {
      val removed = {
        val before = affected.count()
        before - survivors.count() // both off the persisted/pre-swap listing
      }
      val fs = new org.apache.hadoop.fs.Path(h.dir)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      swapPartitions(fs, h.dir, hitLists.toSeq, survivors)
      removed
    } finally survivors.unpersist(blocking = false)
    } finally lease.release()
  }

  /** Reopen a persisted index: the metadata artifacts are tiny and land in
    * plan literals, exactly like a fresh build's.
    */
  def open(spark: SparkSession, dir: String): Handle = {
    import spark.implicits._
    // complete an interrupted retrain commit before reading anything: past
    // the staging marker the staged artifacts are the real index, and
    // reading a half-swapped mix (new codes under old codebooks) would
    // silently rank garbage. Recovery MUTATES (delete + rename), so it
    // runs under the writer lease: two sessions reopening a crashed index
    // concurrently would otherwise both enter commitRetrain — A promotes
    // the stage, B then deletes A's freshly promoted postings and fails
    // its own rename with the stage gone: the data destroyed. The probe
    // path stays lock-free on a HEALTHY index (the common case): the
    // unleased existence check below is racy only toward recovery, and the
    // leased recovery re-checks every marker before touching anything.
    locally {
      val fs = new org.apache.hadoop.fs.Path(dir)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      val pending = StagedNames.exists(n => fs.exists(new org.apache.hadoop.fs.Path(s"$dir/$n")))
      if (pending) {
        val lease = acquireLease(dir, spark, "open-recovery")
        try recoverRetrain(dir, spark)
        finally lease.release()
      }
    }
    val centroids = spark.read
      .parquet(s"$dir/centroids")
      .select($"cluster", $"centroid")
      .as[(Int, Seq[Double])]
      .collect()
      .sortBy(_._1)
      .map(_._2.toArray)
    val cbRows = spark.read
      .parquet(s"$dir/codebooks")
      .select($"s", $"j", $"c")
      .as[(Int, Int, Seq[Double])]
      .collect()
    require(
      centroids.nonEmpty && cbRows.nonEmpty,
      s"VectorIndex.open: no centroid/codebook rows under $dir — missing or partially-built index")
    val m = cbRows.map(_._1).max + 1
    val ksub = cbRows.map(_._2).max + 1
    val codebooks = Array.ofDim[Array[Double]](m, ksub)
    cbRows.foreach { case (s, j, c) => codebooks(s)(j) = c.toArray }
    // a ragged artifact (some (s,j) rows missing) would otherwise surface
    // as an NPE deep inside query-table construction
    require(
      codebooks.forall(sub => sub != null && sub.forall(_ != null)),
      s"VectorIndex.open: ragged codebook under $dir (expected $m×$ksub dense rows)")
    // meta is absent only for pre-residual indexes, which were flat-encoded
    // (readMeta's legacy fallback); mid-commit it reads the staged copy
    val meta = readMeta(spark, dir)
    Handle(dir, centroids, codebooks, meta.residual, meta.version)
  }

  /** ADC top-k over the persisted index: probe nProbe lists per query.
    * Returns (qid, vec_id, rank, adist), rank 1 = nearest by quantized L2.
    *
    * @param excludeSelf drop candidates whose `vec_id` equals the query's
    *        `qid` — correct when queries are drawn from the corpus itself
    *        (the default, matching the in-memory top-k operators); set
    *        false for an EXTERNAL query set, where a coincidental id
    *        collision must not silently delete a true neighbor.
    *
    * Dynamic partition pruning fires when `queries` carries a selective
    * predicate over a real source (the standard shape: a filtered scan of
    * a query table) — the optimizer then derives the postings partition
    * filter from the broadcast probe side at runtime. A purely in-memory
    * literal query set is constant-folded into a LocalRelation, which
    * leaves no predicate for the DPP rule to key on; the probe still
    * works, it just scans every posting file.
    */
  def query(
      h: Handle,
      queries: DataFrame, // (qid, qe: array<float>)
      nProbe: Int,
      k: Int,
      excludeSelf: Boolean = true
  ): DataFrame =
    rankTopK(scoredCandidates(h, queries, nProbe, excludeSelf), k)

  /** The stateless half of [[query]]: every (query, candidate) pair from the
    * probed lists with its ADC distance — no per-query ranking yet. This is
    * the largest plan fragment that is pure projection + stream-static join,
    * which makes it directly usable on an UNBOUNDED query stream
    * ([[graft.streaming.Streams.probeVectorStream]]): the top-k window below
    * needs all of a query's candidates and so cannot run on a stream.
    */
  /** The probe side of the ADC join: `(qid, cluster, __qt)` — one row per
    * (query, probed list), ADC table attached.
    */
  private def probeSide(h: Handle, queries: DataFrame, nProbe: Int): DataFrame =
    (if (h.residual) {
      // residual mode: codes quantize x − centroid[cluster], so the ADC
      // table must measure ||(q − centroid[cluster])_s − C[s][j]||² — one
      // table per (query, probed list), built AFTER the explode from the
      // per-list residual. nProbe× more table construction than flat mode,
      // all of it on the tiny broadcast side.
      queries
        .withColumn("cluster", explode(Similarity.nearestCentroids(col("qe"), h.centroids, nProbe)))
        .withColumn(
          "__qt",
          Similarity.pqQueryTable(residualCol(col("qe"), col("cluster"), h.centroids), h.codebooks))
    } else {
      // flat mode: the ADC table is built BEFORE the probe explode — one
      // m×ksub table per query, duplicated (not recomputed) across its
      // nProbe rows
      queries
        .withColumn("__qt", Similarity.pqQueryTable(col("qe"), h.codebooks))
        .withColumn("cluster", explode(Similarity.nearestCentroids(col("qe"), h.centroids, nProbe)))
    }).select(col("qid"), col("cluster"), col("__qt"))

  private def adcJoin(postings: DataFrame, probed: DataFrame, excludeSelf: Boolean): DataFrame = {
    if (excludeSelf) {
      // qid =!= vec_id across incomparable types coerces one side to NULL,
      // the predicate evaluates NULL for EVERY row, and the filter silently
      // returns zero candidates for every query — fail loudly instead
      // (numeric pairs widen losslessly and are fine)
      val qt = probed.schema("qid").dataType
      val vt = postings.schema("vec_id").dataType
      val comparable = qt == vt ||
        (qt.isInstanceOf[org.apache.spark.sql.types.NumericType] &&
          vt.isInstanceOf[org.apache.spark.sql.types.NumericType])
      require(comparable,
        s"excludeSelf=true but query qid is $qt while the index vec_id is $vt — the " +
          "comparison would cast to NULL and drop every candidate; an external query " +
          "set should pass excludeSelf=false")
    }
    postings
      // the broadcast keeps the probe side tiny AND makes `cluster` a DPP
      // candidate: the partition filter on the postings scan is derived at
      // runtime from the probed cluster set
      .join(broadcast(probed), Seq("cluster"))
      .filter(if (excludeSelf) col("qid") =!= col("vec_id") else lit(true))
      .select(
        col("qid"),
        col("vec_id"),
        graft.functions.HashExprs.pqAdcDistance(col("codes"), col("__qt")).as("adist")
      )
  }

  /** Enforced form of the documented restart contract: a probe holding a
    * handle from before a retrain/rebalance would rank with stale
    * centroids/codebooks against rolled-forward postings — silently wrong
    * distances. One tiny meta read per call (k·d-scale, driver-side)
    * compares versions and fails LOUDLY with the skew instead.
    */
  private def requireFresh(h: Handle, spark: SparkSession): Unit = {
    val onDisk = readMeta(spark, h.dir).version
    if (onDisk != h.version)
      throw new IllegalStateException(
        s"VectorIndex handle for ${h.dir} is stale: handle version ${h.version}, on-disk " +
          s"version $onDisk — a retrain/rebalance rolled the index forward; reopen with " +
          "VectorIndex.open (a streaming probe must restart to observe the new geometry)")
  }

  def scoredCandidates(
      h: Handle,
      queries: DataFrame, // (qid, qe: array<float>)
      nProbe: Int,
      excludeSelf: Boolean = true
  ): DataFrame = {
    requireFresh(h, queries.sparkSession)
    adcJoin(
      queries.sparkSession.read.parquet(s"${h.dir}/postings"),
      probeSide(h, queries, nProbe),
      excludeSelf)
  }

  /** [[scoredCandidates]] with the probed lists pruned STATICALLY: the
    * distinct probed cluster ids are computed first (a metadata-scale job —
    * bounded by kLists, not by rows) and applied as a literal partition
    * filter on the postings read, so only the probed lists' files are ever
    * listed or scanned. In plain batch this buys nothing over
    * [[scoredCandidates]] — the broadcast join's runtime filter (DPP)
    * already prunes — but DPP does not plan across a stream-static
    * boundary, so this is the per-micro-batch form a streaming probe
    * should run inside `foreachBatch`
    * ([[graft.streaming.Streams.probeVectorBatch]] wires it): the two-job
    * cost (tiny centroid projection + pruned join) replaces a full
    * postings file-listing every micro-batch.
    */
  def scoredCandidatesPruned(
      h: Handle,
      queries: DataFrame, // (qid, qe: array<float>)
      nProbe: Int,
      excludeSelf: Boolean = true
  ): DataFrame = {
    val spark = queries.sparkSession
    import spark.implicits._
    requireFresh(h, spark)
    // bounded by the list count (≤ kLists ints), never by query volume; a
    // dedicated centroid-only projection, so the ADC tables aren't built
    // twice (probeSide recomputes over the already-materialized batch)
    val clusters = queries
      .select(explode(Similarity.nearestCentroids(col("qe"), h.centroids, nProbe)).as("cluster"))
      .distinct()
      .as[Int]
      .collect()
      .toSeq
    val postings = spark.read
      .parquet(s"${h.dir}/postings")
      .filter(col("cluster").isin(clusters: _*))
    adcJoin(postings, probeSide(h, queries, nProbe), excludeSelf)
  }

  /** Per-query top-k over scored candidates: rank 1 = nearest by quantized
    * L2. Batch-scoped — in a streaming sink apply it inside `foreachBatch`,
    * where each micro-batch is a plain DataFrame.
    */
  def rankTopK(scored: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("qid")).orderBy(col("adist").asc, col("vec_id"))
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }
}

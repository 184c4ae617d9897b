package graft.ingest

import graft.lake.{Checkpoint, Checkpoints, Lake}
import graft.scd.Scd
import graft.sources.{Flatten, ScrapeResult}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions.{broadcast, col, count, lit, struct}
import org.apache.spark.util.LongAccumulator

/** The per-source contract — the Spark dual of the reference's
  * `SourceDefinition` (/root/reference/src/engine/base.py:16-53). `scrapeOne`
  * runs inside executor tasks (mapPartitions); implementations throw
  * [[InvalidEntryException]] for permanently-bad entries and any other
  * exception for retryable errors. HTTP lives behind this interface so tests
  * inject fakes exactly like the reference's test suite.
  */
trait Source extends Serializable {
  def name: String
  def scrapeOne(entryId: Long): ScrapeResult

  /** Where refresh discovers known entry ids: (table, column) — the
    * reference's `entry_id_source` string contract (base.py:38-42).
    */
  def entryIdSource: (String, String) = ("properties", "pid")
  def ratePerSec: Double = 5.0
  def maxRetries: Int = 3

  /** Optional photo hook — the `get_photo_items_fn` contract
    * (base.py:48-53): extract (photo_url, entry_id) download items from one
    * scrape result. None = source has no photos.
    */
  def photoItems: Option[ScrapeResult => Seq[(String, Long)]] = None

  /** Photo fetcher (the `download_fn` dual, source.py:647-669); invoked on
    * executors, one call per not-yet-downloaded photo.
    */
  def fetchPhoto(url: String): Array[Byte] =
    throw new UnsupportedOperationException(s"$name: photoItems set but fetchPhoto not implemented")
}

final case class IngestConfig(
    workers: Int = 4,
    maxConsecutiveErrors: Int = 50, // 0 = unlimited (engine.py:119)
    compactAfter: Boolean = true,
    checkpoint: Boolean = true,
    /** Entries per incremental batch: each batch is scraped, written and
      * checkpointed as its own Spark job, so a mid-run abort (circuit
      * breaker, crash) keeps all completed batches — the D7/D8 forward-
      * progress guarantee of the reference's batch/checkpoint loop.
      */
    checkpointEvery: Int = 1000,
    /** When set and the source defines [[Source.photoItems]], each batch's
      * photos are downloaded here during the load — the reference's
      * `download_photos` flag + photo_dir (engine.py:210-217).
      */
    photoDir: Option[String] = None
)

final case class IngestStats(
    scraped: Long,
    errors: Long,
    invalid: Long,
    rowsWritten: Map[String, Long],
    /** Wall time of the batch loop, post-run compaction included. */
    wallSeconds: Double = 0.0
) {
  /** Scraped entries per second of [[wallSeconds]] — the throughput the
    * reference logs at completion (engine.py:347-348); 0 for an empty run.
    */
  def entriesPerSecond: Double = if (wallSeconds > 0) scraped / wallSeconds else 0.0
}

/** Ingestion engine (D1/D2): the reference's thread-pool load/refresh loop
  * re-expressed as a sequence of Spark batch jobs.
  *
  *  - Entry IDs are processed in `checkpointEvery`-sized batches; within a
  *    batch they repartition to `workers` tasks — Spark's scheduler replaces
  *    the bounded-prefetch future loop (D4). Each batch appends and
  *    checkpoints before the next starts (D7/D8): aborts lose at most one
  *    batch of work, like the reference's flush-every-N loop.
  *  - Fetch+parse runs in `mapPartitions` with a per-JVM rate limiter (D3),
  *    retry/backoff (S5/S6), invalid-entry skip (D6), and a consecutive-
  *    error circuit breaker (D5): `maxConsecutiveErrors` failures in a row
  *    inside any partition abort the run (after Spark's own task retries —
  *    note that on a cluster a retried task re-fetches its partition and
  *    accumulator counts are at-least-once, the standard Spark caveat for
  *    transformation-side accumulators).
  *  - Flatten dedups the batch on uuid once, fans it into relational
  *    tables (§2.8 UDTF dual) and metadata is stamped. ONE snapshot dedup
  *    (J2, [[Scd.snapshotChangedKeys]] keyed on (table, entity)) finds
  *    every table's changed entities; only tables with changed entities
  *    are written, each filtered to them. Loads pay it too (not just
  *    refresh): it is what makes a rerun after a crash-before-checkpoint
  *    idempotent instead of permanently doubling the batch.
  *  - Entries that exhaust their retries are counted as errors and NOT
  *    retried by later resumed loads (the checkpoint advances past them,
  *    matching the reference's checkpoint loop); `runRefresh` re-scrapes
  *    every known entry and recovers them.
  *
  * At 100 TB scale results and tables stay distributed end to end; only the
  * entry-ID list (ids are small — thousands per scope, vs GBs of page data),
  * each batch's changed (table, entity key) set (at most 8 ×
  * `checkpointEvery` keys), checkpoint docs and accumulator counters live
  * on the driver.
  */
object Engine {

  def runLoad(
      spark: SparkSession,
      source: Source,
      entryIds: Seq[Long],
      root: String,
      scope: String,
      config: IngestConfig = IngestConfig()
  ): IngestStats = run(spark, source, entryIds, root, scope, config, refresh = false)

  /** Refresh: known IDs from the lake (the source's entryIdSource table and
    * column), re-scrape, write only changed rows.
    *
    * The known-ID set is NEVER collected whole: the distributed distinct is
    * range-bucketed into ≈`checkpointEvery`-sized slices and each slice is
    * collected lazily just before its batch runs — driver memory holds one
    * batch of IDs at a time, so a lake with billions of entities refreshes
    * with the same bounded footprint as a thousand-row one. (Bucket sizes
    * track ID-space density: heavy clustering inflates a bucket, but only
    * to that cluster's size, never the full set.)
    */
  def runRefresh(
      spark: SparkSession,
      source: Source,
      root: String,
      scope: String,
      config: IngestConfig = IngestConfig()
  ): IngestStats = {
    val (idTable, idCol) = source.entryIdSource
    val raw = Lake.read(spark, root, scope, idTable)
    // Fail loudly on an ID column that doesn't survive the long cast: a
    // silent NULL here would drop those entities from every range bucket
    // and they would quietly never be re-scraped.
    val unparseable = raw.filter(col(idCol).isNotNull && col(idCol).cast("long").isNull).count()
    require(unparseable == 0L,
      s"runRefresh: $unparseable '$idCol' values in $idTable are not castable to long")
    val known = raw
      .select(col(idCol).cast("long").as("id"))
      .filter(col("id").isNotNull)
      .distinct()
    known.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val batches = rangeBatches(known, math.max(config.checkpointEvery, 1))
      runBatches(spark, source, batches, root, scope, config, refresh = true, priorTotal = 0L)
    } finally known.unpersist()
  }

  /** Slice a distinct-ID DataFrame into ascending, ≈batchSize-sized ranges;
    * each `next()` collects only its own range (one narrow filter over the
    * cached distinct — no full-set materialization anywhere).
    */
  private[graft] def rangeBatches(
      known: org.apache.spark.sql.DataFrame,
      batchSize: Int
  ): Iterator[Seq[Long]] = {
    import org.apache.spark.sql.functions._
    val spark = known.sparkSession
    import spark.implicits._
    val bounds = known.agg(min("id"), max("id"), count("id")).head()
    if (bounds.isNullAt(2) || bounds.getLong(2) == 0L) return Iterator.empty
    val (lo, hi, n) = (bounds.getLong(0), bounds.getLong(1), bounds.getLong(2))
    val nBuckets = math.max(1L, math.ceil(n.toDouble / batchSize).toLong)
    // All span/cursor arithmetic in BigInt: a full-width ID range
    // (hi - lo + 1, or hi + 1 at Long.MaxValue) overflows Long, which would
    // collapse width to 1 (one filter per ID value = a hung refresh) or
    // wrap the final bound (silently dropping the last IDs).
    val width = (BigInt(hi) - BigInt(lo) + 1 + nBuckets - 1) / nBuckets // ceil, >= 1
    Iterator
      .iterate(BigInt(lo))(_ + width)
      .takeWhile(_ <= hi)
      .map { startB =>
        val start = startB.toLong
        val endIncl = (startB + width - 1).min(BigInt(hi)).toLong
        known
          .filter($"id" >= start && $"id" <= endIncl)
          .orderBy("id")
          .as[Long]
          .collect()
          .toSeq
      }
      .filter(_.nonEmpty)
  }

  private def run(
      spark: SparkSession,
      source: Source,
      entryIds: Seq[Long],
      root: String,
      scope: String,
      config: IngestConfig,
      refresh: Boolean
  ): IngestStats = {
    // Resume correctness depends on ascending IDs (each batch checkpoints
    // batch.max and resume filters ids > last), so sort+dedup here rather
    // than trusting the caller's ordering.
    val ordered = entryIds.distinct.sorted
    // Resume: ordered-ID filter past the checkpoint (replaces the
    // reference's string-compare trim, engine.py:164-167).
    val prior: Option[Checkpoint] =
      if (config.checkpoint) Checkpoints.load(spark, root, scope) else None
    // non-numeric last_entry_id (the doc shape allows arbitrary strings —
    // the reference writes e.g. "MBLU-104-7") voids the WHOLE checkpoint,
    // honoring Checkpoints.load's "bad checkpoint means start over, never
    // a wedged scope" contract; an unguarded .toLong would throw on every
    // attempt until the file was hand-deleted. Voiding the cursor alone
    // while keeping totalScraped would double-count every re-scraped
    // entry in the doc the restart rewrites — the cumulative-accounting
    // contract breaks on exactly the recovery path.
    val validPrior = prior.filter(c => scala.util.Try(c.lastEntryId.toLong).isSuccess)
    val resumeFrom: Option[Long] =
      if (refresh) None else validPrior.map(_.lastEntryId.toLong)
    val ids = resumeFrom.fold(ordered)(last => ordered.filter(_ > last))
    if (ids.isEmpty)
      return IngestStats(0, 0, 0, Map.empty)
    val batchSize = math.max(config.checkpointEvery, 1)
    runBatches(spark, source, ids.grouped(batchSize), root, scope, config, refresh,
      validPrior.map(_.totalScraped).getOrElse(0L))
  }

  /** Shared batch loop: loads feed it pre-sorted in-memory slices, refresh
    * feeds it lazily-collected range buckets — either way one batch of IDs
    * is live on the driver at a time.
    */
  private def runBatches(
      spark: SparkSession,
      source: Source,
      batches: Iterator[Seq[Long]],
      root: String,
      scope: String,
      config: IngestConfig,
      refresh: Boolean,
      priorTotal: Long
  ): IngestStats = {
    val t0 = System.nanoTime()
    val errAcc: LongAccumulator = spark.sparkContext.longAccumulator("scrape_errors")
    val invAcc: LongAccumulator = spark.sparkContext.longAccumulator("invalid_entries")
    val okAcc: LongAccumulator = spark.sparkContext.longAccumulator("scraped")

    val writtenTotals = scala.collection.mutable.Map[String, Long]().withDefaultValue(0L)
    var ranAny = false

    // uuid identity is the LAKE's property, not the run's: a fresh scope
    // starts scope-keyed (stable against page-label rendering,
    // UuidMigration scaladoc) and is marked so at creation; a pre-marker
    // lake stays on the legacy page-town basis until its one-shot
    // migration — flipping here without the history rewrite would split
    // every existing chain.
    val scopeKey: Option[String] = {
      import graft.lake.UuidMigration
      // scopeHasAnyData, NOT Lake.tables.isEmpty: a legacy scope whose
      // only table sits at `.__old` mid-crashed-swap lists zero tables,
      // and marking it scope-keyed here would irreversibly fork its chains
      if (!UuidMigration.scopeHasAnyData(spark, root, scope))
        UuidMigration.markScopeKeyed(spark, root, scope)
      if (UuidMigration.identityOf(spark, root, scope) == UuidMigration.ScopeKeyIdentity)
        Some(scope)
      else None
    }

    batches.foreach { batch =>
      ranAny = true
      val written = runBatch(spark, source, batch, root, scope, config, okAcc, errAcc, invAcc, scopeKey)
      written.foreach { case (t, n) => writtenTotals(t) += n }
      // Checkpoint after every completed batch (D8): loads advance the
      // last-id cursor; refresh runs leave the load cursor untouched
      // (resume is a load-only concept, and a refresh overwrite would
      // corrupt total_scraped accounting).
      if (config.checkpoint && !refresh) {
        Checkpoints.save(
          spark,
          root,
          Checkpoint(
            scopeKey = scope,
            lastEntryId = batch.max.toString,
            totalScraped = priorTotal + okAcc.value, // cumulative, engine.py:329-334
            checkpointTime = java.time.Instant.now().toString
          )
        )
      }
    }

    if (ranAny && config.compactAfter)
      // one lease hold for the whole post-run compaction sweep (inner
      // per-table compacts re-enter), same rationale as the batch writes
      Lake.withScopeLease(spark, root, scope, "post-run-compaction") {
        Lake.tables(spark, root, scope).foreach(t => Lake.compactIfNeeded(spark, root, scope, t))
      }

    IngestStats(okAcc.value, errAcc.value, invAcc.value, writtenTotals.toMap, (System.nanoTime() - t0) / 1e9)
  }

  private def runBatch(
      spark: SparkSession,
      source: Source,
      batch: Seq[Long],
      root: String,
      scope: String,
      config: IngestConfig,
      okAcc: LongAccumulator,
      errAcc: LongAccumulator,
      invAcc: LongAccumulator,
      scopeKey: Option[String]
  ): Map[String, Long] = {
    import spark.implicits._
    val src = source
    val maxConsecutive = config.maxConsecutiveErrors

    // RateLimiter is per-executor-JVM and its contract makes the DIVIDED
    // rate the caller's responsibility: undivided, a 10-executor cluster
    // would hit the scraped site at 10× the configured budget. local[n]
    // runs report a single executor entry (the driver), so the division is
    // exact there too. The count is re-sampled PER BATCH, so a cluster
    // that grows mid-run corrects at the next batch boundary (a changed
    // rate keys a fresh limiter whose lost pacing carry-over is under one
    // slot). Known residual: executors that have not yet REGISTERED when
    // batch 1 starts are invisible here, and that first batch can exceed
    // the budget by the late-registration factor — on a dynamic-allocation
    // cluster, gate startup with spark.scheduler.minRegisteredResourcesRatio
    // (standard Spark knob) so the first sample sees the real fleet.
    val executorCount =
      math.max(1, spark.sparkContext.statusTracker.getExecutorInfos.length - 1)
    val perJvmRate = src.ratePerSec / executorCount

    val results: Dataset[ScrapeResult] = spark
      .createDataset(batch)
      .repartition(config.workers)
      .mapPartitions { it =>
        val limiter = RateLimiter.forKey(src.name, perJvmRate)
        var consecutive = 0
        it.flatMap { id =>
          try {
            // the limiter slot is paid PER ATTEMPT (acquire inside the
            // retried block) and the backoff is the documented S5/S6
            // policy (1s ×2 — Retry's default, the reference's
            // 1s/2s/4s): an initialDelay of 10ms with one slot for all
            // attempts hit a STRUGGLING site with ~4× the politeness
            // budget inside 70ms, exactly when it can least absorb it
            val r = Retry.withBackoff(maxRetries = src.maxRetries) {
              limiter.acquire()
              src.scrapeOne(id)
            }
            consecutive = 0
            okAcc.add(1)
            Some(r)
          } catch {
            case _: InvalidEntryException =>
              invAcc.add(1) // not an error (D6)
              None
            case e: Exception =>
              consecutive += 1
              errAcc.add(1)
              if (maxConsecutive > 0 && consecutive >= maxConsecutive)
                throw new RuntimeException(
                  s"circuit breaker: $consecutive consecutive errors in ${src.name}", e)
              None
          }
        }
      }

    val scrapedAt = new java.sql.Timestamp(System.currentTimeMillis())
    // cache the scrape BEFORE persisting the deduped batch over it: the
    // photo hook reads the scrape too, and a persist planned ahead of this
    // cache would run a second scrape of its own (Flatten.dedupBatch)
    results.cache()
    val deduped = Flatten.dedupBatch(results, scopeKey).persist()
    try {
      // Photo hook (S11, engine.py:210-217): derive this batch's download
      // items from the cached results and run the side-effecting sink —
      // per-photo failures are counted, never fatal (PhotoSink contract).
      for (dir <- config.photoDir; itemsFn <- src.photoItems) {
        val items = results
          .flatMap(itemsFn(_))
          .toDF("photo_url", "pid")
          .withColumn("city", lit(scope))
        graft.sources.vgsi.PhotoSink.downloadPhotos(items, dir, src.fetchPhoto)
      }
      val stamped = Flatten.tablesOf(deduped).map { case (t, df) => t -> Lake.stampMetadata(df, scrapedAt) }
      val existingTables = Lake.tables(spark, root, scope).toSet
      // one lease hold for the batch's dedup read and all its table writes
      Lake.withScopeLease(spark, root, scope, "engine-batch-writes") {
        val changed = changedKeys(spark, stamped, existingTables, root, scope)
        stamped.map { case (table, df) =>
          changed.get(table) match {
            case None => table -> 0L
            case Some(keys) =>
              val toWrite =
                if (existingTables(table))
                  df.join(broadcast(keys.toDF("__changed_key")),
                    col(Flatten.identityColumnOf(table)) <=> col("__changed_key"), "left_semi")
                else df
              val obs = org.apache.spark.sql.Observation()
              Lake.append(toWrite.hint("rebalance").observe(obs, count(lit(1)).as("rows")), root, scope, table)
              table -> obs.get("rows").asInstanceOf[Long]
          }
        }
      }
    } finally {
      deduped.unpersist()
      results.unpersist()
    }
  }

  /** Every table's changed identity keys for one batch, from ONE
    * [[Scd.snapshotChangedKeys]] plan keyed on (table, identity key): the
    * incoming side is the union of the stamped frames, the existing side
    * the union of the lake tables' pruned (key, scraped_at, row_hash)
    * scans. A table not yet in the lake has no stored snapshot, so all its
    * keys are changed; a table with no incoming rows has no keys. The
    * existing side drops null keys, which the per-table form never
    * matches either. The snapshot key comes from Flatten's table contract,
    * never from the frame's column names, and the lake side is re-read
    * per batch rather than held in memory for the whole run.
    */
  private def changedKeys(
      spark: SparkSession,
      stamped: Map[String, DataFrame],
      existingTables: Set[String],
      root: String,
      scope: String
  ): Map[String, Seq[String]] = {
    import spark.implicits._
    def keyed(table: String, df: DataFrame, cols: String*): DataFrame =
      df.select(lit(table).as("table") +: col(Flatten.identityColumnOf(table)).as("key") +: cols.map(col): _*)
    val tables = stamped.keys.toSeq.sorted
    val incoming = tables.map(t => keyed(t, stamped(t), "row_hash")).reduce(_ union _)
    val existing = tables.filter(existingTables).map { t =>
      val lake = Lake.read(spark, root, scope, t)
      Scd.requireSnapshotContract(stamped(t), lake, Flatten.identityColumnOf(t))
      keyed(t, lake, "scraped_at", "row_hash")
    }.reduceOption(_ union _)
      .getOrElse(incoming.select($"table", $"key", lit(null).cast("timestamp").as("scraped_at"), $"row_hash").limit(0))
      .filter($"key".isNotNull)
    Scd.snapshotChangedKeys(incoming, existing, struct($"table", $"key"), $"scraped_at")
      .select($"__rd_key.table", $"__rd_key.key")
      .as[(String, String)]
      .collect()
      .toSeq
      .groupMap(_._1)(_._2)
  }
}

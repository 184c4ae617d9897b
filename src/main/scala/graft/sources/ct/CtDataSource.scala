package graft.sources.ct

import graft.lake.{Checkpoint, Checkpoints, Lake}
import graft.scd.Scd
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** CT Socrata open-data source (S6/S7) — behavioral port of
  * /root/reference/scrapers/llc_ct_data/source.py: five registry datasets,
  * paginated JSON fetch ($limit/$offset pages of 50,000), rename
  * `id → business_id` for the businesses dataset, fixed scope
  * `llc_ct_data`.
  *
  * Spark shape: page keys (`"dataset:offset"`, the reference's entry-key
  * format) are distributed over executors; each task fetches its page and
  * yields raw JSON lines; `spark.read.json` infers the drifting Socrata
  * schema (all-string values, occasional nesting — schema-on-read exactly
  * like the reference's Arrow inference).
  */
object CtDataSource {

  /** dataset id → table name (source.py:32-38). */
  val Datasets: Map[String, String] = Map(
    "n7gp-d28j" -> "businesses",
    "ah3s-bes7" -> "filings",
    "qh2m-n44y" -> "agents",
    "ka36-64k6" -> "principals",
    "enwv-52we" -> "name_changes"
  )

  val PageSize: Int = 50000
  val Scope: String = "llc_ct_data"

  /** Entry keys for one dataset given its row count (S7 count-probe sizing):
    * `"<dataset>:<offset>"` pages (source.py:105-135,212-227).
    */
  def pageKeys(datasetId: String, totalRows: Long): Seq[String] =
    (0L until math.max(totalRows, 1L) by PageSize.toLong).map(off => s"$datasetId:$off")

  def splitKey(key: String): (String, Long) = {
    val i = key.lastIndexOf(':')
    if (i < 0) (key, 0L) else (key.substring(0, i), key.substring(i + 1).toLong)
  }

  /** Ingest one dataset: fetch pages in parallel tasks, schema-on-read the
    * JSON rows, apply the businesses rename (P7), stamp metadata, append.
    * `fetchPage(datasetId, offset, limit)` returns the page as JSON-lines
    * (one object per row); tests inject fakes.
    *
    * Crash-safe (D8, mirroring the engine loop): pages are processed in
    * `pagesPerBatch` groups, each appended and checkpointed
    * (`_checkpoints/llc_ct_data.<table>.json`, cursor = last completed
    * offset) before the next starts. A rerun after a partial load resumes
    * past completed pages, and every append into an EXISTING table goes
    * through the content-hash dedup — so the one crash window (appended but
    * not yet checkpointed) re-fetches a batch without duplicating its rows.
    */
  def loadDataset(
      spark: SparkSession,
      datasetId: String,
      totalRows: Long,
      fetchPage: (String, Long, Int) => Seq[String],
      root: String,
      refresh: Boolean = false,
      checkpoint: Boolean = true,
      pagesPerBatch: Int = 64
  ): (String, Long) = {
    val table = Datasets.getOrElse(datasetId, datasetId)
    val cpScope = s"$Scope.$table"
    val allKeys = pageKeys(datasetId, totalRows)
    // Refresh re-fetches everything (dedup drops unchanged rows); plain
    // loads resume past the last checkpointed offset.
    val prior: Option[Checkpoint] =
      if (refresh || !checkpoint) None
      else Checkpoints.load(spark, root, cpScope)
    // a non-numeric cursor voids the WHOLE checkpoint (cursor AND total):
    // an unguarded .toLong would throw on every load until the doc was
    // hand-deleted — the wedged-scope failure Checkpoints.load's contract
    // (and Engine.run's identical guard) exists to prevent; and keeping
    // totalScraped while restarting from zero would double-count every
    // re-fetched page in the rewritten doc
    val validPrior = prior.filter(c => scala.util.Try(c.lastEntryId.toLong).isSuccess)
    val keys = validPrior.map(_.lastEntryId.toLong).fold(allKeys)(last => allKeys.filter(k => splitKey(k)._2 > last))
    if (keys.isEmpty) return table -> 0L

    // Cumulative accounting survives resume: the doc carries the lifetime
    // total, this run adds to it. Refresh never writes the checkpoint at
    // all (same contract as Engine.runBatches) — it would clobber the load
    // cursor and reset the total to the refresh's mostly-deduped count.
    val priorTotal = validPrior.map(_.totalScraped).getOrElse(0L)
    var written = 0L
    keys.grouped(math.max(pagesPerBatch, 1)).foreach { batch =>
      written += loadPages(spark, batch, table, fetchPage, root)
      if (checkpoint && !refresh) {
        val done = batch.map(k => splitKey(k)._2).max
        Checkpoints.save(
          spark,
          root,
          Checkpoint(cpScope, done.toString, priorTotal + written, java.time.Instant.now().toString))
      }
    }
    table -> written
  }

  private def loadPages(
      spark: SparkSession,
      keys: Seq[String],
      table: String,
      fetchPage: (String, Long, Int) => Seq[String],
      root: String
  ): Long = {
    import spark.implicits._
    // Persist the fetched pages: json schema inference, dedup and the
    // write would otherwise EACH re-run the HTTP flatMap (3x API traffic,
    // and the written rows could differ from the inferred ones).
    val jsonLines = spark
      .createDataset(keys)
      .repartition(math.min(keys.size, 32))
      .flatMap { key =>
        val (ds, off) = splitKey(key)
        fetchPage(ds, off, PageSize)
      }
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    try {
      var df = spark.read.json(jsonLines)
      if (table == "businesses" && df.columns.contains("id"))
        df = df.withColumnRenamed("id", "business_id") // source.py:41-43,156-159

      val stamped0 = Lake.stampMetadata(df, new java.sql.Timestamp(System.currentTimeMillis()))
      // In-BATCH dedup first (the Engine path's U2 step, which CT rows
      // never pass through): Socrata pagination without $order is not
      // stable, so a row inserted between two page fetches shifts an
      // existing row across a page boundary and both copies arrive in ONE
      // batch — same row_hash, same scraped_at stamp, both surviving the
      // lake anti-join below, permanently doubling that content version.
      // NOTE the lake-side hash intentionally EXCLUDES a column literally
      // named `id` for every dataset (Canonical.MetadataCols, mirroring
      // the reference's _DEFAULT_EXCLUDE, hash.py:5-23) — only businesses
      // renames id→business_id into hashed space, exactly the reference's
      // FIELD_RENAMES (source.py:40-43); matching its hash surface is the
      // parity contract, so the other datasets' hypothetical `id` columns
      // stay excluded here too.
      val stamped = stamped0.dropDuplicates("row_hash")
      // Dedup against ANY existing table (not just refresh): makes reruns
      // after a crash-before-checkpoint idempotent.
      // EXPLICIT FullHistory mode (reference-parity anti-join): CT rows
      // carry no uuid/property_uuid identity, so per-entity-latest is
      // undefined here — and this source KNOWS that statically, so it
      // says so rather than letting a column sniff decide (a dataset that
      // happened to ship a `uuid` column would otherwise silently switch
      // the write path to snapshot semantics)
      val toWrite =
        if (Lake.tables(spark, root, Scope).contains(table))
          Scd.refreshDedupForLake(stamped, Lake.read(spark, root, Scope, table),
            Scd.RefreshDedupMode.FullHistory)
        else stamped
      // emptiness probe + write from ONE persisted materialization: a
      // no-change refresh must not append a schema-only parquet file, and
      // isEmpty + append would execute the dedup anti-join (and its scan
      // of the existing lake table) twice — the pages cache only covers
      // the fetch side
      val cached = toWrite.persist()
      try {
        val n = cached.count()
        if (n == 0L) 0L
        else { Lake.append(cached, root, Scope, table); n }
      } finally cached.unpersist(blocking = false)
    } finally jsonLines.unpersist()
  }

  /** D10 — refresh-all over every registered dataset. */
  def loadAll(
      spark: SparkSession,
      counts: Map[String, Long],
      fetchPage: (String, Long, Int) => Seq[String],
      root: String,
      refresh: Boolean = false
  ): Map[String, Long] =
    Datasets.keys.toSeq.sorted.map { ds =>
      loadDataset(spark, ds, counts.getOrElse(ds, 0L), fetchPage, root, refresh)
    }.toMap}

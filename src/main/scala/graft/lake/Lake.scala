package graft.lake

import graft.functions.Canonical
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The append-only Parquet lake: directory-per-table under a scope namespace
  * (`root/<scope>/<table>/...`), mirroring the reference layout
  * (/root/reference/src/engine/database.py:156-160, README.md:98-116).
  *
  * Contracts preserved from the reference:
  *  - append-only, never mutate (SCD2 derives versions at query time);
  *  - every row stamped with `scraped_at` + content `row_hash`
  *    (database.py:135-137);
  *  - schema drift tolerated: reads union-by-name across files
  *    (database.py:275 → mergeSchema);
  *  - compaction merges a session's small files, other sessions untouched
  *    (database.py:246-288).
  *
  * Scale notes: writes go through Spark's committer (task-retry safe,
  * at-least-once like the reference — dedup stays query-time by design,
  * README.md:118-121). Each table dir can later be bucketed by the entity
  * key to eliminate the SCD window shuffle.
  */
object Lake {

  def tablePath(root: String, scope: String, table: String): String =
    s"$root/$scope/$table"

  private def leaseStaleMs(spark: SparkSession): Long =
    spark.conf.getOption("spark.graft.lake.leaseStaleMs")
      .map(_.toLong)
      .getOrElse(30L * 60L * 1000L)

  private def leaseWaitMs(spark: SparkSession): Long =
    spark.conf.getOption("spark.graft.lake.leaseWaitMs")
      .map(_.toLong)
      // 10 min, not seconds: the lease is SCOPE-granular, so an append to
      // table A legally queues behind a long compaction of sibling table
      // B — the wait must comfortably cover a big table's rewrite, or the
      // serialization the lease introduces turns into spurious loud
      // failures on healthy workloads (waiting costs only a 100 ms poll)
      .getOrElse(10L * 60L * 1000L)

  // scope leases HELD by the current thread (qualified URIs): makes
  // withScopeLease re-entrant, so a maintenance job that takes the scope
  // lease for its whole run (UuidMigration.migrate) can call the leased
  // mutation primitives (append/rewriteTable) without deadlocking on its
  // own lease. Thread-local, not process-wide: two DRIVER threads of one
  // JVM racing a scope are exactly the writers the lease must serialize.
  private val heldScopeLeases = new ThreadLocal[scala.collection.mutable.Set[String]] {
    override def initialValue(): scala.collection.mutable.Set[String] =
      scala.collection.mutable.Set.empty[String]
  }

  /** Run `body` holding the SCOPE's writer lease — the lake's
    * single-writer contract, ENFORCED (it used to be documentation only:
    * "the caller's scheduler must serialize writers"). Every mutation
    * entry point ([[append]], [[appendPartitioned]], [[compact]],
    * [[compactPartitioned]], [[rewriteTable]]) takes it, and maintenance
    * jobs that must see a QUIESCENT scope across several mutations
    * ([[UuidMigration.migrate]]) take it once around their whole run —
    * re-entrant within a thread, so the inner per-mutation acquisitions
    * are no-ops under an outer hold.
    *
    * Policy (vs the VectorIndex maintenance lease's fail-fast): a
    * contended acquisition WAITS up to `spark.graft.lake.leaseWaitMs`
    * (default 10 min) before failing loud — an engine's append landing
    * while a post-session compaction finishes should serialize behind
    * it, not fail the batch. A lease older than
    * `spark.graft.lake.leaseStaleMs` (default 30 min) is a crashed
    * writer and is taken over; a daemon heartbeat refreshes ours at a
    * third of that window so a long rewrite isn't mistaken for a crash.
    * Readers stay lock-free (the [[read]]/[[withReadRetry]] contract is
    * unchanged — the swap discipline already serves them).
    *
    * GRANULARITY TRADE (deliberate): the lease is per-SCOPE, so two
    * writers on DIFFERENT tables of one scope — safe under the old
    * per-table convention — now serialize. Scope granularity is what
    * makes [[UuidMigration.migrate]] sound: a per-table lease cannot
    * stop a fresh engine run (whose identity basis was resolved
    * pre-marker) from appending legacy rows to an already-rewritten
    * table mid-migration. The cost is queueing, bounded by the wait
    * budget; same-JVM batch writers amortize it by holding the lease
    * once per batch (the [[graft.ingest.Engine]] pattern — re-entrancy
    * makes the per-table inner acquisitions free).
    */
  def withScopeLease[T](spark: SparkSession, root: String, scope: String, op: String)(
      body: => T): T = {
    val dir = new Path(s"$root/$scope")
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val key = fs.makeQualified(dir).toString
    val held = heldScopeLeases.get()
    if (held.contains(key)) body // re-entrant: an outer hold covers us
    else {
      val stale = leaseStaleMs(spark)
      val lease = WriterLease.acquire(
        key, spark, op,
        staleMs = stale,
        waitMs = leaseWaitMs(spark),
        what = s"lake scope $key",
        staleConf = "spark.graft.lake.leaseStaleMs")
      held += key
      try WriterLease.withHeartbeat(lease, stale)(body)
      finally {
        held -= key
        lease.release()
      }
    }
  }

  /** Stamp engine metadata: ingestion timestamp (one per batch, not per row —
    * database.py:128) and the canonical content hash.
    */
  def stampMetadata(df: DataFrame, scrapedAt: java.sql.Timestamp): DataFrame =
    df.withColumn("scraped_at", lit(scrapedAt))
      .withColumn("row_hash", Canonical.rowHash(df))

  /** Writer-side recovery for a crashed whole-table swap: data stranded at
    * `<table>.__old` with no live `<table>` promotes back ([[Swap.promote]]).
    * Every WRITE entry point calls this first; readers never promote (they
    * fail cleanly through [[withReadRetry]] and the next writer heals).
    */
  private def recoverStrandedSwap(fs: FileSystem, path: String): Unit =
    Swap.promote(fs, new Path(s"$path.__old"), new Path(path))

  private def recoverBeforeWrite(df: DataFrame, path: String): Unit = {
    val fs = new Path(path)
      .getFileSystem(df.sparkSession.sparkContext.hadoopConfiguration)
    recoverStrandedSwap(fs, path)
  }

  /** Promote every table in `scope` stranded at `<table>.__old` by a
    * crashed whole-table swap (same writer-only contract as
    * [[recoverStrandedSwap]], which each WRITE entry point runs for its
    * own table) — for maintenance jobs like [[UuidMigration.migrate]]
    * that PLAN over the table listing: a stranded table is invisible to
    * [[tables]] (work-dir filter), and planning around it would rewrite
    * the rest of the scope while the strand later promotes back
    * un-rewritten.
    */
  private[graft] def recoverScopeStrands(spark: SparkSession, root: String, scope: String): Unit = {
    val p = new Path(s"$root/$scope")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) return
    fs.listStatus(p)
      .filter(st => st.isDirectory && st.getPath.getName.endsWith(".__old"))
      .foreach(st => Swap.promote(fs, st.getPath, new Path(p, st.getPath.getName.stripSuffix(".__old"))))
  }

  /** Recovery sweep for crashed PER-LEAF swaps at every partition level:
    * data stranded at `.X.__old` with no live `X` promotes back; a
    * completed swap's leftover aside (or stale tmp) is dropped. Runs
    * before EVERY partitioned write, not only before compaction — an
    * append that recreated a crashed leaf with only new rows would turn
    * the next compaction's live-exists aside-delete into permanent loss
    * of the pre-crash copy. Cost: one recursive listing — the same
    * listing partitioned discovery pays anyway.
    */
  private def recoverPartitionStrands(fs: FileSystem, base: Path): Unit = {
    if (!fs.exists(base)) return
    def sweep(p: Path): Unit = {
      val children = fs.listStatus(p).filter(_.isDirectory).map(_.getPath).toSeq
      children.filter(c => c.getName.startsWith(".") && c.getName.endsWith(".__old")).foreach { o =>
        Swap.promote(fs, o, new Path(p, o.getName.stripPrefix(".").stripSuffix(".__old")))
        fs.delete(o, true) // still there only when the live leaf was: a completed swap's leftover
      }
      children.filter(_.getName.endsWith(".__compact_tmp")).foreach(t => fs.delete(t, true))
      children
        .filter(c => !c.getName.startsWith(".") && !c.getName.startsWith("_") && c.getName.contains("="))
        .foreach(sweep)
    }
    sweep(base)
  }

  /** True when the table dir holds hive partition dirs (`col=value`). */
  private def isPartitioned(fs: FileSystem, path: Path): Boolean =
    fs.exists(path) && fs.listStatus(path).exists(st => st.isDirectory && st.getPath.getName.contains("="))

  /** Append one batch to a table (ZSTD parquet, new files only).
    *
    * Writer contract (shared by [[appendPartitioned]] and [[compact]]):
    * ONE writer per scope at a time, ENFORCED by [[withScopeLease]] —
    * the enforcement matters because `recoverBeforeWrite` cannot
    * distinguish a CRASHED swap from a LIVE compact inside its
    * two-rename window: an append racing a live compact could promote
    * `.__old` back mid-swap (compact's checked renames would fail the
    * compact — rollback, no data loss — but the table's quiescence would
    * be broken). Under the lease, a concurrent writer serializes behind
    * the holder (bounded wait) or fails loud with the holder named.
    */
  def append(df: DataFrame, root: String, scope: String, table: String): Unit =
    withScopeLease(df.sparkSession, root, scope, s"append:$table") {
      val path = tablePath(root, scope, table)
      recoverBeforeWrite(df, path)
      df.write
        .mode("append")
        .option("compression", "zstd")
        .parquet(path)
    }

  /** [[append]] unless `df` is empty; returns the rows written. A
    * refresh whose rows are all already in the lake must not append a
    * schema-only parquet file (each one counts toward [[compactIfNeeded]]'s
    * file threshold), and the emptiness count and the write read ONE
    * persisted materialization, so a dedup plan feeding `df` (and its scan
    * of the existing table) runs once.
    */
  def appendIfNonEmpty(df: DataFrame, root: String, scope: String, table: String): Long = {
    val cached = df.persist()
    try {
      val n = cached.count()
      if (n > 0L) append(cached, root, scope, table)
      n
    } finally cached.unpersist(blocking = false)
  }

  /** Partitioned append: the given columns become directory levels
    * (`table/col=value/...`), so equality/range predicates on them prune at
    * file-listing time — no row-group is even opened. The right layout for
    * time-partitioned lakes at 100 TB (partition by ingest date; scope is
    * already a directory level). Same lease-enforced one-writer-per-scope
    * contract as [[append]].
    */
  def appendPartitioned(
      df: DataFrame,
      root: String,
      scope: String,
      table: String,
      partitionCols: Seq[String]
  ): Unit = withScopeLease(df.sparkSession, root, scope, s"appendPartitioned:$table") {
    val path = tablePath(root, scope, table)
    recoverBeforeWrite(df, path)
    // leaf-level strand recovery too: a crashed per-leaf compaction swap
    // leaves the partition's only copy at `.X.__old`, and appending a new
    // live leaf over it would set up the next compaction sweep to delete
    // that only copy (see recoverPartitionStrands)
    recoverPartitionStrands(
      new Path(path).getFileSystem(df.sparkSession.sparkContext.hadoopConfiguration),
      new Path(path))
    df.write
      .mode("append")
      .option("compression", "zstd")
      .partitionBy(partitionCols: _*)
      .parquet(path)
  }

  /** Schema-merging read across all of a table's files.
    *
    * Concurrent-reader contract with [[compact]]: the swap is two renames,
    * so there is a sub-millisecond window where the table dir is absent
    * (never partially present — the data is whole at `<table>` or
    * `<table>.__old` at every instant). PLANNING a read inside that window
    * would fail on the missing path, so resolution here retries through it;
    * an already-planned scan EXECUTED across the window can still lose the
    * race (its listed files were renamed away) — wrap such actions in
    * [[withReadRetry]], which re-plans from the post-swap listing. Neither
    * window can yield partial or duplicated rows: compaction never deletes
    * before the replacement is in place, so a read either fails cleanly
    * (and retries) or sees the full row set.
    */
  def read(spark: SparkSession, root: String, scope: String, table: String): DataFrame = {
    val path = tablePath(root, scope, table)
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    // bounded resolution retry over the two-rename window; a genuinely
    // missing table still fails fast-ish (≤ ~1s) with the normal error
    var waited = 0L
    while (!fs.exists(new Path(path)) && waited < 1000) {
      Thread.sleep(50); waited += 50
    }
    spark.read
      .option("mergeSchema", "true")
      .parquet(path)
  }

  /** Run a read ACTION (count/collect/write of a frame over this lake) with
    * retries across a concurrent [[compact]] swap: a scan planned before
    * the swap references file names the swap renamed away and fails with a
    * missing-file error; the retry re-plans against the post-swap listing.
    * Only swap-shaped failures are retried — anything else rethrows
    * immediately. This (plus single WRITER per table) is the lake's
    * concurrency contract: readers are lock-free and always see the full
    * row set, at the price of re-running a race-losing action.
    *
    * `onRetry` runs before each re-attempt; it MUST invalidate any cached
    * file listing for the paths the action reads, or every re-plan reuses
    * the session's shared FileStatusCache entry — the same dead file list
    * that just failed — and the retries are spent for nothing. Use
    * [[withTableReadRetry]], which wires `spark.catalog.refreshByPath` for
    * a lake table.
    */
  def withTableReadRetry[T](
      spark: SparkSession,
      root: String,
      scope: String,
      table: String,
      attempts: Int = 5
  )(body: => T): T =
    withReadRetry(attempts, () => spark.catalog.refreshByPath(tablePath(root, scope, table)))(body)

  def withReadRetry[T](attempts: Int = 5, onRetry: () => Unit = () => ())(body: => T): T = {
    def swapShaped(e: Throwable): Boolean =
      Iterator
        .iterate(e)(_.getCause)
        .takeWhile(_ != null)
        .take(8)
        .exists { c =>
          c.isInstanceOf[java.io.FileNotFoundException] ||
          (c.getMessage != null &&
            (c.getMessage.contains("FileNotFound") || c.getMessage.contains("does not exist") ||
              // a reader that lists the table dir in the instant between
              // the two swap renames sees it absent/empty and fails schema
              // inference — the same transient shape as a vanished file
              // (a GENUINELY empty table still throws once retries
              // exhaust; the classifier only delays that, never masks it)
              c.getMessage.contains("UNABLE_TO_INFER_SCHEMA")))
        }
    var left = attempts
    var backoff = 100L
    while (true) {
      try return body
      catch {
        case e: Throwable if left > 1 && swapShaped(e) =>
          left -= 1
          // exponential backoff (capped): consecutive failures mean the
          // action keeps straddling swaps — waiting longer beats re-racing
          Thread.sleep(backoff)
          backoff = math.min(backoff * 2, 1000L)
          onRetry()
      }
    }
    sys.error("unreachable")
  }

  /** Distinct content hashes of a table — the preload set for refresh dedup
    * (database.py:86-106). Column-pruned: only row_hash is read from disk.
    */
  def existingHashes(spark: SparkSession, root: String, scope: String, table: String): DataFrame =
    read(spark, root, scope, table).select("row_hash").distinct()

  /** Scope discovery: non-underscore child dirs of the lake root
    * (/root/reference/src/engine/base.py:90-99).
    */
  def scopes(spark: SparkSession, root: String): Seq[String] = {
    val p = new Path(root)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) Nil
    else
      fs.listStatus(p)
        .filter(_.isDirectory)
        .map(_.getPath.getName)
        .filterNot(_.startsWith("_"))
        .sorted
        .toSeq
  }

  def tables(spark: SparkSession, root: String, scope: String): Seq[String] = {
    val p = new Path(s"$root/$scope")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) Nil
    else
      fs.listStatus(p)
        .filter(_.isDirectory)
        .map(_.getPath.getName)
        .filterNot(n => n.contains(".__")) // compaction work dirs are not tables
        .sorted
        .toSeq
  }

  /** Bucketed materialization of a lake table: hash-bucket + sort by the
    * entity key so every SCD window / self-join / refresh group-by on that
    * key runs WITHOUT an Exchange — the scan's bucketing satisfies the
    * required distribution. This is the 100 TB form of the lake: the
    * shuffle cost is paid once at write time, every subsequent analytic
    * query gets co-location for free (verified by BucketingSpec: the
    * currentState plan over a bucketed table contains no Exchange).
    */
  def writeBucketed(
      df: DataFrame,
      tableName: String,
      path: String,
      key: String,
      buckets: Int
  ): Unit =
    df.write
      .mode("overwrite")
      .format("parquet")
      .option("compression", "zstd")
      .option("path", path)
      .bucketBy(buckets, key)
      .sortBy(key)
      .saveAsTable(tableName)

  /** Compaction (D9): rewrite a FLAT table's many small files as
    * ~`targetFileBytes` files (not the reference's single file — one file
    * per ~128MB is the useful default on a cluster), swapped in through
    * [[Swap.install]] with `<table>.__compact_tmp` / `<table>.__old`.
    * Hive-partitioned tables are refused: a whole-table rewrite would fold
    * `col=value` dirs into columns and write them back flat; route them
    * through [[compactIfNeeded]] / [[compactPartitioned]].
    *
    * SINGLE WRITER per scope ENFORCED by [[withScopeLease]] (the hazard it
    * closes: an append landing between the tmp rewrite and the swap would
    * be moved aside and deleted with the aside). Run compaction
    * post-session anyway (as [[graft.ingest.Engine]] does) so the rewrite
    * reads a settled table.
    *
    * Concurrent READERS are supported lock-free: a racing reader either
    * sees the complete table or fails cleanly on renamed-away paths, never
    * partial or doubled rows. [[read]] retries resolution through the
    * rename window; actions racing the swap re-plan via [[withReadRetry]]
    * (LakeSpec hammers this with a reader loop against back-to-back
    * compactions).
    */
  def compact(
      spark: SparkSession,
      root: String,
      scope: String,
      table: String,
      targetFileBytes: Long = 128L * 1024 * 1024
  ): Unit = swapTable(spark, root, scope, table, "compact", "__compact_tmp") { (src, tmp) =>
    rewritePacked(spark, src, tmp, targetFileBytes)
  }

  /** Whole-table TRANSFORMING rewrite of a FLAT table, under [[compact]]'s
    * lease, recovery and swap (`<table>.__rewrite_tmp` / `<table>.__old`):
    * read the live table, apply `transform`, swap the result in. This is
    * the maintenance primitive behind [[UuidMigration]]'s one-shot
    * identity rewrite; `transform` must be idempotent for crash-rerun
    * convergence (a rerun re-reads whichever side the crash left live).
    */
  def rewriteTable(spark: SparkSession, root: String, scope: String, table: String)(
      transform: DataFrame => DataFrame): Unit =
    swapTable(spark, root, scope, table, "rewriteTable", "__rewrite_tmp") { (src, tmp) =>
      transform(spark.read.option("mergeSchema", "true").parquet(src))
        .write.mode("overwrite").option("compression", "zstd").parquet(tmp)
    }

  /** The body [[compact]] and [[rewriteTable]] share: lease, strand
    * recovery first (the swap's aside clear would otherwise destroy a
    * stranded only copy), the flat-table guard, `writeTmp(live, tmp)`, swap.
    */
  private def swapTable(spark: SparkSession, root: String, scope: String, table: String,
      op: String, tmpSuffix: String)(writeTmp: (String, String) => Unit): Unit =
    withScopeLease(spark, root, scope, s"$op:$table") {
      val path = tablePath(root, scope, table)
      val (live, tmp) = (new Path(path), s"$path.$tmpSuffix")
      val fs = live.getFileSystem(spark.sparkContext.hadoopConfiguration)
      recoverStrandedSwap(fs, path)
      require(!isPartitioned(fs, live),
        s"$op rewrites FLAT tables; $path is hive-partitioned — a whole-table rewrite would " +
          "destroy its layout (compactIfNeeded/compactPartitioned compact it per leaf)")
      writeTmp(path, tmp)
      Swap.install(fs, new Path(tmp), live, new Path(s"$path.__old"), op)
    }

  /** The compaction rewrite itself: read `src`, write `dst` as zstd parquet
    * BIN-PACKED BY BYTES: the scan's own FilePartition packing groups input
    * files into ~targetFileBytes partitions (`spark.sql.files.maxPartitionBytes`,
    * scoped to a cloned session), and each task writes one ~target-sized
    * output file. No shuffle, no driver math, and output sizes are EVEN: no
    * file exceeds the target by more than one input row group, and small
    * files pack together up to it.
    */
  private def rewritePacked(spark: SparkSession, src: String, dst: String, targetFileBytes: Long): Unit = {
    require(targetFileBytes > 0, "need a positive byte target")
    // Pure byte bin-packing needs all three knobs scoped: the split size
    // is min(maxPartitionBytes, max(openCost, totalBytes/minPartitionNum)),
    // so the default parallelism (splits a small table N ways) and the
    // 4MB openCost (charges tiny files as 4MB, capping packing at one
    // file per bin) would both defeat the target. openCost exists to
    // stop over-packing thousands of tiny files into one SCHEDULED task —
    // compaction wants exactly that packing, so a token 4KB suffices.
    // A cloned session isolates the conf changes: newSession() shares the
    // SparkContext but carries its own SQLConf, so concurrent queries on
    // the caller's session keep their scan-split sizing, and two
    // compactions can't race a save/restore into a clobbered state.
    // The clone starts from BUILDER-time confs only, so the caller's
    // RUNTIME conf.set()s (session timezone, parquet rebase/output-
    // timestamp modes, codec overrides) are replayed first — compacted
    // files must be written under the same settings as the appends they
    // replace. Static/non-settable entries in getAll are skipped.
    val packer = spark.newSession()
    spark.conf.getAll.foreach { case (k, v) =>
      try packer.conf.set(k, v)
      catch { case _: org.apache.spark.sql.AnalysisException => () }
    }
    packer.conf.set("spark.sql.files.maxPartitionBytes", targetFileBytes.toString)
    packer.conf.set("spark.sql.files.minPartitionNum", "1")
    packer.conf.set("spark.sql.files.openCostInBytes", "4096")
    packer.read.option("mergeSchema", "true").parquet(src)
      .write.mode("overwrite").option("compression", "zstd").parquet(dst)
  }

  /** Per-partition compaction for hive-partitioned tables: each leaf
    * partition directory is compacted independently (layout preserved,
    * partitions untouched by other writers unaffected), one
    * [[Swap.install]] per leaf, with two partition-specific disciplines:
    *
    *  - WORK DIRS ARE DOT-PREFIXED (`.day=1.__compact_tmp`, `.day=1.__old`),
    *    because inside a partitioned table any visible directory containing
    *    `=` IS a partition to discovery: an undotted `day=1.__old` would be
    *    read as partition value `1.__old`, doubling every row of the leaf
    *    for any concurrent reader during the swap. Dot-prefixed names are
    *    skipped by Spark's file listing (and by [[leafDirs]] here).
    *  - A RECOVERY SWEEP runs first: a crashed leaf swap leaves the leaf
    *    absent from listings, so without the sweep nothing would ever
    *    promote it back ([[recoverPartitionStrands]]).
    *
    * Reader caveat (weaker than the whole-table [[compact]] contract): a
    * read PLANNED exactly inside a leaf's sub-millisecond rename window
    * does not fail — discovery simply doesn't see that leaf — so it
    * returns the table without that partition's rows. An already-planned
    * scan racing the swap still fails cleanly and re-plans via
    * [[withTableReadRetry]]. Run partitioned compaction post-session
    * (as [[graft.ingest.Engine]] does) when a transiently missing
    * partition matters.
    */
  def compactPartitioned(
      spark: SparkSession,
      root: String,
      scope: String,
      table: String,
      minFilesPerPartition: Int = 4,
      targetFileBytes: Long = 128L * 1024 * 1024
  ): Unit = withScopeLease(spark, root, scope, s"compactPartitioned:$table") {
    val base = new Path(tablePath(root, scope, table))
    val fs = base.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(base)) return

    def leafDirs(p: Path): Seq[Path] = {
      val partDirs = fs.listStatus(p).filter(_.isDirectory).map(_.getPath).toSeq
        .filter(c => !c.getName.startsWith(".") && !c.getName.startsWith("_") && c.getName.contains("="))
      if (partDirs.isEmpty) Seq(p)
      else partDirs.flatMap(leafDirs)
    }

    recoverPartitionStrands(fs, base)

    leafDirs(base).filterNot(_ == base).foreach { leaf =>
      val nFiles = fs.listStatus(leaf).count(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
      if (nFiles >= minFilesPerPartition) {
        val tmp = new Path(leaf.getParent, s".${leaf.getName}.__compact_tmp")
        // byte-targeted like the whole-table path: a session-file-sized
        // leaf still lands in one file, an oversized leaf splits at
        // ~targetFileBytes instead of becoming one giant file
        rewritePacked(spark, leaf.toString, tmp.toString, targetFileBytes)
        Swap.install(fs, tmp, leaf, new Path(leaf.getParent, s".${leaf.getName}.__old"), "compactPartitioned")
      }
    }
  }

  /** Compact only when the table has accumulated at least `minFiles` data
    * files — repeated small refreshes then skip the full rewrite, keeping
    * cumulative compaction I/O near-linear instead of quadratic.
    */
  def compactIfNeeded(spark: SparkSession, root: String, scope: String, table: String, minFiles: Int = 4): Unit = {
    val p = new Path(tablePath(root, scope, table))
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) {
      // hive-partitioned tables (day=... subdirs) need PER-PARTITION
      // compaction — a whole-table rewrite would flatten the partition
      // layout — so dispatch them to the per-leaf variant (threshold is
      // applied per leaf there: partitions other sessions wrote stay
      // untouched, like the reference's session-scoped compaction).
      if (isPartitioned(fs, p)) compactPartitioned(spark, root, scope, table, minFiles)
      else {
        var nFiles = 0
        val it = fs.listFiles(p, true)
        while (nFiles < minFiles && it.hasNext) {
          if (it.next().getPath.getName.endsWith(".parquet")) nFiles += 1
        }
        if (nFiles >= minFiles) compact(spark, root, scope, table)
      }
    }
  }
}

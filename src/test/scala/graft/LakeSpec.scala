package graft

import graft.lake.{Checkpoint, Checkpoints, Lake}
import org.apache.spark.sql.functions._

class LakeSpec extends SparkSpec {
  import spark.implicits._

  test("append-only writes + schema-merging read (S2/S3)") {
    val root = tmpDir("lake")
    Lake.append(Seq((1, "a")).toDF("id", "name"), root, "s", "t")
    // drifted schema: new column appears in a later batch
    Lake.append(Seq((2, "b", 9.5)).toDF("id", "name", "score"), root, "s", "t")
    val df = Lake.read(spark, root, "s", "t")
    assert(df.columns.sorted.toSeq == Seq("id", "name", "score"))
    assert(df.count() == 2)
    assert(df.filter($"id" === 1).select($"score").head().isNullAt(0))
  }

  test("stampMetadata adds scraped_at + 32-char row_hash") {
    val ts = java.sql.Timestamp.valueOf("2024-06-01 12:00:00")
    val df = Lake.stampMetadata(Seq((1, "x")).toDF("pid", "v"), ts)
    val row = df.select($"scraped_at".cast("string"), $"row_hash").head()
    assert(row.getString(0).startsWith("2024-06-01 12:00:00"))
    assert(row.getString(1).matches("[0-9a-f]{32}"))
  }

  test("existingHashes is the distinct row_hash set") {
    val root = tmpDir("lake")
    val ts = new java.sql.Timestamp(0)
    val df = Lake.stampMetadata(Seq((1, "x"), (2, "x"), (1, "x")).toDF("pid", "v"), ts)
    Lake.append(df, root, "s", "t")
    assert(Lake.existingHashes(spark, root, "s", "t").count() == 2) // (1,x) dup collapses
  }

  test("checkpoint round-trip with escaping") {
    val root = tmpDir("lake")
    val cp = Checkpoint("scope \"q\"", "123", 456L, "2024-01-01T00:00:00Z")
    Checkpoints.save(spark, root, cp)
    assert(Checkpoints.load(spark, root, "scope \"q\"") == Some(cp))
    assert(Checkpoints.load(spark, root, "nope").isEmpty)
    // control chars and backslash-quote sequences must round-trip exactly:
    // the writer emits \uXXXX for chars < 0x20 and the reader must decode
    // them (and not corrupt `\"` after `\\`) or keys silently mismatch
    val hard = Checkpoint("a\nb\tc\\\"d", "x\\y", 1L, "2024-01-01T00:00:00Z")
    Checkpoints.save(spark, root, hard)
    assert(Checkpoints.load(spark, root, hard.scopeKey) == Some(hard))
  }

  test("recovery-path save keeps the .__prev fallback until the new doc lands") {
    // Crash state: a prior save moved the live doc aside and died before
    // landing the new one — p absent, .__prev is the ONLY copy. A save
    // that then fails its tmp→live rename must leave that fallback in
    // place (the old unconditional-delete ordering destroyed it first,
    // reopening the no-checkpoint window exactly on the recovery path).
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set("fs.fault.impl", classOf[FaultInjectingFs].getName)
    conf.set("fs.fault.impl.disable.cache", "true")
    val root = "fault:" + tmpDir("lake")
    val cp1 = Checkpoint("s", "1", 1L, "2024-01-01T00:00:00Z")
    Checkpoints.save(spark, root, cp1)
    // simulate the crashed save: live doc moved aside, nothing landed
    val p = new org.apache.hadoop.fs.Path(s"$root/_checkpoints/s.json")
    val fs = p.getFileSystem(conf)
    assert(fs.rename(p, new org.apache.hadoop.fs.Path(p.toString + ".__prev")))
    assert(Checkpoints.load(spark, root, "s") == Some(cp1), "fallback readable pre-save")
    // the recovery save itself crashes at the tmp→live rename
    FaultInjectingFs.failNextRename.set(true)
    intercept[java.io.IOException] {
      Checkpoints.save(spark, root, Checkpoint("s", "2", 2L, "2024-01-02T00:00:00Z"))
    }
    assert(Checkpoints.load(spark, root, "s") == Some(cp1),
      "the .__prev fallback must survive a crashed recovery save — zero copies is data loss")
    // and a later healthy save completes the recovery, clearing the aside
    val cp2 = Checkpoint("s", "2", 2L, "2024-01-02T00:00:00Z")
    Checkpoints.save(spark, root, cp2)
    assert(Checkpoints.load(spark, root, "s") == Some(cp2))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(p.toString + ".__prev")))
  }

  test("malformed checkpoint degrades to None instead of wedging the scope") {
    val root = tmpDir("lake")
    val dir = new java.io.File(s"$root/_checkpoints")
    dir.mkdirs()
    java.nio.file.Files.write(
      new java.io.File(dir, "bad.json").toPath,
      """{"scope_key": "bad", "last_entry_""".getBytes("UTF-8")) // truncated mid-save
    assert(Checkpoints.load(spark, root, "bad").isEmpty)
    // and a good save over it recovers (atomic tmp+rename leaves no junk)
    Checkpoints.save(spark, root, Checkpoint("bad", "7", 7L, "2024-01-01T00:00:00Z"))
    assert(Checkpoints.load(spark, root, "bad").exists(_.lastEntryId == "7"))
    assert(!dir.listFiles().exists(_.getName.endsWith(".__tmp")))
  }

  test("compactIfNeeded auto-compacts hive-partitioned tables per leaf, layout intact") {
    val root = tmpDir("lake")
    // 5 small appends into each of two day partitions
    (1 to 5).foreach { i =>
      Lake.appendPartitioned(
        Seq((i, "2024-01-01"), (i, "2024-01-02")).toDF("id", "day"),
        root, "s", "t", Seq("day"))
    }
    def leafFiles(day: String) =
      new java.io.File(s"$root/s/t/day=$day").listFiles().count(_.getName.endsWith(".parquet"))
    assert(leafFiles("2024-01-01") == 5)
    Lake.compactIfNeeded(spark, root, "s", "t")
    assert(leafFiles("2024-01-01") == 1 && leafFiles("2024-01-02") == 1)
    // layout intact: partition column still prunes, rows preserved
    val back = Lake.read(spark, root, "s", "t")
    assert(back.count() == 10)
    assert(back.filter($"day" === "2024-01-02").count() == 5)
    assert(back.columns.sorted.toSeq == Seq("day", "id"))
    // below-threshold leaves stay untouched on a later pass
    Lake.appendPartitioned(Seq((9, "2024-01-03")).toDF("id", "day"), root, "s", "t", Seq("day"))
    Lake.compactIfNeeded(spark, root, "s", "t")
    assert(leafFiles("2024-01-03") == 1) // 1 file < minFiles -> not rewritten (still 1)
    assert(Lake.read(spark, root, "s", "t").count() == 11)
  }

  test("direct compact refuses a hive-partitioned table and leaves its layout intact") {
    val root = tmpDir("lake")
    Seq("2024-01-01", "2024-01-02").foreach { day =>
      Lake.appendPartitioned(Seq((1, day), (2, day)).toDF("id", "day"), root, "s", "t", Seq("day"))
    }
    val e = intercept[IllegalArgumentException](Lake.compact(spark, root, "s", "t"))
    assert(e.getMessage.contains("hive-partitioned"), e.getMessage)
    val dirs = new java.io.File(s"$root/s/t").listFiles().filter(_.isDirectory).map(_.getName).sorted
    assert(dirs.toSeq == Seq("day=2024-01-01", "day=2024-01-02"))
    assert(!new java.io.File(s"$root/s/t").listFiles().exists(_.getName.endsWith(".parquet")))
    assert(Lake.read(spark, root, "s", "t").count() == 4)
  }

  test("partitioned compaction work dirs are invisible to readers; crashed swaps recover") {
    val root = tmpDir("lake")
    (1 to 5).foreach { i =>
      Lake.appendPartitioned(
        Seq((i, "2024-01-01"), (i, "2024-01-02")).toDF("id", "day"),
        root, "s", "t", Seq("day"))
    }
    val table = new java.io.File(s"$root/s/t")

    // a work dir holding a FULL COPY of a leaf must not double the rows:
    // dot-prefixed names are skipped by partition discovery (an undotted
    // `day=...__compact_tmp` would be read as a partition value)
    def copyDir(src: java.io.File, dst: java.io.File): Unit = {
      dst.mkdirs()
      src.listFiles().filter(_.isFile).foreach { f =>
        java.nio.file.Files.copy(f.toPath, dst.toPath.resolve(f.getName))
      }
    }
    copyDir(new java.io.File(table, "day=2024-01-01"), new java.io.File(table, ".day=2024-01-01.__compact_tmp"))
    assert(Lake.read(spark, root, "s", "t").count() == 10,
      "a work dir leaked into partition discovery")

    // crash between the two renames: data only at `.X.__old`, live leaf
    // gone — the leaf is absent from every listing, so only the recovery
    // sweep can bring it back
    val leaf = new java.io.File(table, "day=2024-01-02")
    val aside = new java.io.File(table, ".day=2024-01-02.__old")
    assert(leaf.renameTo(aside))
    assert(Lake.read(spark, root, "s", "t").count() == 5, "precondition: leaf is invisible")
    Lake.compactPartitioned(spark, root, "s", "t")
    val back = Lake.read(spark, root, "s", "t")
    assert(back.count() == 10, "crashed swap not promoted back")
    assert(back.filter($"day" === "2024-01-02").count() == 5)
    assert(!aside.exists() && !new java.io.File(table, ".day=2024-01-01.__compact_tmp").exists(),
      "work dirs must be cleaned up by the sweep")

    // crash AFTER a completed swap (live leaf + leftover aside): the sweep
    // drops the aside, rows stay exactly-once
    copyDir(new java.io.File(table, "day=2024-01-01"), new java.io.File(table, ".day=2024-01-01.__old"))
    Lake.compactPartitioned(spark, root, "s", "t")
    assert(Lake.read(spark, root, "s", "t").count() == 10)
    assert(!new java.io.File(table, ".day=2024-01-01.__old").exists())
  }

  test("appendPartitioned recovers a crashed leaf swap FIRST — never sets up the delete-the-only-copy") {
    val root = tmpDir("lake")
    (1 to 5).foreach { i =>
      Lake.appendPartitioned(
        Seq((i, "2024-01-01"), (i, "2024-01-02")).toDF("id", "day"),
        root, "s", "t", Seq("day"))
    }
    val table = new java.io.File(s"$root/s/t")
    // crash mid-leaf-swap: the partition's ONLY copy is at `.X.__old`
    val leaf = new java.io.File(table, "day=2024-01-02")
    val aside = new java.io.File(table, ".day=2024-01-02.__old")
    assert(leaf.renameTo(aside))
    // an append to the table must PROMOTE the stranded leaf before it
    // writes — without the sweep, the append recreates the live leaf with
    // only new rows and the NEXT compaction's live-exists aside-delete
    // destroys every pre-crash row of the partition
    Lake.appendPartitioned(Seq((99, "2024-01-02")).toDF("id", "day"), root, "s", "t", Seq("day"))
    assert(!aside.exists(), "the stranded leaf must be promoted, not left for the sweep to delete")
    val afterAppend = Lake.read(spark, root, "s", "t")
    assert(afterAppend.filter($"day" === "2024-01-02").count() == 6, "5 pre-crash + 1 appended")
    Lake.compactPartitioned(spark, root, "s", "t", minFilesPerPartition = 2)
    val back = Lake.read(spark, root, "s", "t")
    assert(back.count() == 11 && back.filter($"day" === "2024-01-02").count() == 6,
      "compaction after the recovered append must keep every row")
  }

  test("compact keeps data and reduces file count") {
    val root = tmpDir("lake")
    (1 to 5).foreach(i => Lake.append(Seq((i, s"v$i")).toDF("id", "v"), root, "s", "t"))
    val before = new java.io.File(s"$root/s/t").listFiles().count(_.getName.endsWith(".parquet"))
    assert(before == 5)
    Lake.compact(spark, root, "s", "t")
    val after = new java.io.File(s"$root/s/t").listFiles().count(_.getName.endsWith(".parquet"))
    assert(after == 1)
    assert(Lake.read(spark, root, "s", "t").count() == 5)
  }

  test("byte-targeted compaction bin-packs many small files into ~target-sized outputs") {
    val root = tmpDir("lake")
    // 24 appends of ~1000 rows with incompressible payload -> ~24 files of
    // roughly similar size
    val rnd = new scala.util.Random(5)
    (1 to 24).foreach { i =>
      val rows = (1 to 1000).map(j => (i * 1000L + j, rnd.nextLong().toHexString * 4))
      Lake.append(rows.toDF("id", "v"), root, "s", "t")
    }
    def files() = new java.io.File(s"$root/s/t").listFiles()
      .filter(_.getName.endsWith(".parquet"))
    val totalBytes = files().map(_.length()).sum
    val target = totalBytes / 6 // aim for ~6 output files
    Lake.compact(spark, root, "s", "t", targetFileBytes = target)
    val out = files()
    // envelope: file count within 2x of the ideal, no file wildly over
    // target (one row group of slack), rows intact
    assert(out.length >= 3 && out.length <= 12, s"got ${out.length} files for target=$target")
    assert(out.forall(_.length() <= target * 2), s"oversized output: ${out.map(_.length()).mkString(",")}")
    assert(Lake.read(spark, root, "s", "t").count() == 24000)
    // the default 128MB target on a small table still collapses to 1 file
    Lake.compact(spark, root, "s", "t")
    assert(files().length == 1)
  }

  test("byte-targeted compaction honors the caller session's RUNTIME write confs") {
    // newSession() starts from builder-time confs only — a caller who set
    // e.g. outputTimestampType at runtime must get compacted files written
    // under the same setting as the appends they replace, or a mixed table
    // silently changes physical encoding under compaction
    val root = tmpDir("lake_conf")
    val prev = spark.conf.getOption("spark.sql.parquet.outputTimestampType")
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MILLIS")
    try {
      val rows = (1 to 3).map(i => (i.toLong, java.sql.Timestamp.valueOf(s"2024-05-0$i 00:00:00")))
      rows.foreach(r => Lake.append(Seq(r).toDF("id", "ts"), root, "s", "t"))
      // byte-target branch (the one that clones the session)
      Lake.compact(spark, root, "s", "t", targetFileBytes = 1L * 1024 * 1024)
      val f = new java.io.File(s"$root/s/t").listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      val footer = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(f.getAbsolutePath),
          spark.sparkContext.hadoopConfiguration))
      try {
        val ann = footer.getFooter.getFileMetaData.getSchema
          .getType(Seq("ts"): _*).asPrimitiveType().getLogicalTypeAnnotation.toString
        assert(ann.contains("MILLIS"),
          s"compacted file ignored the caller's runtime outputTimestampType: $ann")
      } finally footer.close()
      assert(Lake.read(spark, root, "s", "t").count() == 3)
    } finally prev match {
      case Some(v) => spark.conf.set("spark.sql.parquet.outputTimestampType", v)
      case None    => spark.conf.unset("spark.sql.parquet.outputTimestampType")
    }
  }

  test("crashed whole-table swap: the next WRITE promotes the stranded .__old copy") {
    val root = tmpDir("lake_crash")
    Lake.append(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), root, "s", "t")
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(spark.sparkContext.hadoopConfiguration)
    def p(x: String) = new org.apache.hadoop.fs.Path(x)
    val live = s"$root/s/t"
    // simulate a compact killed between its two renames: the only copy
    // sits at .__old and the live dir is gone
    assert(fs.rename(p(live), p(s"$live.__old")))
    // the next append must promote FIRST — otherwise it recreates the dir
    // with only new rows and the next compact's clear-aside delete would
    // destroy the whole pre-crash table
    Lake.append(Seq((3L, "c")).toDF("id", "v"), root, "s", "t")
    assert(!fs.exists(p(s"$live.__old")), "append must heal the crashed swap")
    assert(Lake.read(spark, root, "s", "t").count() == 3, "pre-crash history lost")
    // compact also recovers when it is the first writer to arrive
    assert(fs.rename(p(live), p(s"$live.__old")))
    Lake.compact(spark, root, "s", "t")
    assert(Lake.read(spark, root, "s", "t").count() == 3)
  }

  test("checkpoint survives the save crash window via the .__prev aside") {
    val root = tmpDir("lake_cp")
    import graft.lake.{Checkpoint, Checkpoints}
    Checkpoints.save(spark, root, Checkpoint("sc", "100", 10L, "t1"))
    Checkpoints.save(spark, root, Checkpoint("sc", "200", 20L, "t2"))
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(spark.sparkContext.hadoopConfiguration)
    // simulate a crash between moving the old doc aside and renaming the
    // new one in: no live checkpoint, only the aside — load must fall
    // back to the stale cursor (one re-scraped batch) instead of None
    // (a full-scope re-scrape with duplicate appends)
    val live = new org.apache.hadoop.fs.Path(s"$root/_checkpoints/sc.json")
    val prev = new org.apache.hadoop.fs.Path(s"$root/_checkpoints/sc.json.__prev")
    assert(fs.rename(live, prev))
    val cp = Checkpoints.load(spark, root, "sc")
    assert(cp.map(_.lastEntryId).contains("200"), s"fallback missing: $cp")
    // a fresh save replaces both and clears the aside
    Checkpoints.save(spark, root, Checkpoint("sc", "300", 30L, "t3"))
    assert(Checkpoints.load(spark, root, "sc").map(_.lastEntryId).contains("300"))
    assert(!fs.exists(prev))
  }

  test("concurrent reader racing back-to-back compactions sees every row at every instant") {
    val root = tmpDir("lake_race")
    val n = 5000
    Lake.append((1 to n).map(i => (i.toLong, s"v$i")).toDF("id", "v"), root, "s", "t")

    @volatile var writerDone = false
    @volatile var writerErr: Option[Throwable] = None
    // the writer holds until the reader is about to issue its first read:
    // under full-suite load the reader thread can otherwise get scheduled
    // so late that all 6 writer cycles finish first, and the
    // race-exercised assertion below trips with nothing actually wrong
    val readerReady = new java.util.concurrent.CountDownLatch(1)
    val writer = new Thread(() => {
      try {
        readerReady.await()
        (1 to 6).foreach { _ =>
        // re-fragment (with the same rename-aside discipline as compact —
        // a recursive delete of the live dir would expose readers to a
        // partial LISTING, which the product swap never does), then compact:
        // every cycle runs the full two-rename swap
        val df = spark.read.parquet(s"$root/s/t")
        df.repartition(8).write.mode("overwrite").parquet(s"$root/s/t.__refrag")
        val fs = new org.apache.hadoop.fs.Path(root)
          .getFileSystem(spark.sparkContext.hadoopConfiguration)
        def p(s: String) = new org.apache.hadoop.fs.Path(s)
        fs.delete(p(s"$root/s/t.__gone"), true)
        assert(fs.rename(p(s"$root/s/t"), p(s"$root/s/t.__gone")))
        assert(fs.rename(p(s"$root/s/t.__refrag"), p(s"$root/s/t")))
        fs.delete(p(s"$root/s/t.__gone"), true)
        Lake.compact(spark, root, "s", "t")
        }
      } catch { case t: Throwable => writerErr = Some(t) }
      finally writerDone = true
    })
    writer.start()
    // reader loop: every successful read must return the COMPLETE row set —
    // the contract allows clean retries (withReadRetry), never partial rows.
    // Loop until the writer is done AND at least 3 reads landed: under
    // full-suite load a single read (plus its backoff sleeps) can be slow
    // enough that only 1-2 complete while the writer is live, so the floor
    // must not be a deadline on the racing window. "Race exercised" is
    // asserted separately via reads that STARTED while the writer was live —
    // the writer is latched on the reader reaching its first read, so the
    // first read always races however late this thread gets scheduled.
    var reads = 0
    var racedReads = 0
    while (!writerDone || reads < 3) {
      val racing = !writerDone
      readerReady.countDown() // release the writer just before the first read
      // attempts sized for the hammer, generously: the writer swaps
      // back-to-back with no think time (two swaps per cycle — far denser
      // than any real compaction cadence), and under full-suite load a
      // single read can be slow enough to straddle several of them. The
      // invariant under test is "every SUCCESSFUL read is complete"; the
      // retry budget only needs to outlive the finite writer.
      val c = Lake.withTableReadRetry(spark, root, "s", "t", attempts = 200) {
        Lake.read(spark, root, "s", "t").count()
      }
      assert(c == n, s"partial read during compaction swap: $c of $n rows")
      reads += 1
      if (racing) racedReads += 1
    }
    writer.join()
    assert(writerErr.isEmpty, s"writer failed: $writerErr")
    assert(racedReads >= 1, s"no read raced the writer — race not exercised")
    assert(Lake.read(spark, root, "s", "t").count() == n)
  }

  test("withReadRetry re-plans an action across a swap-shaped failure; other errors rethrow") {
    // deterministic retry path: the table appears only after the first
    // attempt has failed — the retry must succeed
    val root = tmpDir("lake_retry")
    var attempts = 0
    val made = Lake.withReadRetry(attempts = 3) {
      attempts += 1
      if (attempts == 1) throw new java.io.FileNotFoundException(s"$root/s/t (swap window)")
      42
    }
    assert(made == 42 && attempts == 2)
    // non-swap failures are not retried
    var calls = 0
    val boom = intercept[IllegalStateException] {
      Lake.withReadRetry(attempts = 3) { calls += 1; throw new IllegalStateException("real bug") }
    }
    assert(boom.getMessage == "real bug" && calls == 1)
    // attempts exhausted: the swap-shaped error surfaces
    var tries = 0
    intercept[java.io.FileNotFoundException] {
      Lake.withReadRetry(attempts = 2) { tries += 1; throw new java.io.FileNotFoundException("gone") }
    }
    assert(tries == 2)
  }
}

/** Test-only filesystem for crash-window injection: a local FS under the
  * `fault:` scheme whose next rename can be armed to fail — the only way
  * to observe WHERE in [[graft.lake.Checkpoints.save]]'s rename sequence
  * a crash lands without interposing on a private FileSystem instance.
  */
class FaultInjectingFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("fault:///")
  override def rename(src: org.apache.hadoop.fs.Path, dst: org.apache.hadoop.fs.Path): Boolean =
    if (FaultInjectingFs.failNextRename.compareAndSet(true, false)) false
    else super.rename(src, dst)
}

object FaultInjectingFs {
  val failNextRename = new java.util.concurrent.atomic.AtomicBoolean(false)
}

package graft

import graft.lake.Lake
import graft.streaming.Streams
import org.apache.spark.sql.functions._

/** Structured-Streaming smoke: the lake's hash-dedup + windowed-count
  * semantics running as a stream over parquet appends (SURVEY.md §2.10).
  */
@org.scalatest.tags.Slow
class StreamsSpec extends SparkSpec {
  import spark.implicits._

  test("streaming hash-dedup collapses duplicate content (J2 as a stream)") {
    val root = tmpDir("stream")
    val ts = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    val batch1 = Lake.stampMetadata(Seq((1L, "a"), (2L, "b")).toDF("pid", "v"), ts)
    val batch2 = Lake.stampMetadata(Seq((2L, "b"), (3L, "c")).toDF("pid", "v"), ts) // (2,b) is dup content
    Lake.append(batch1, root, "s", "t")
    Lake.append(batch2, root, "s", "t")

    val schema = Lake.read(spark, root, "s", "t").schema
    val stream = Streams.readTableStream(spark, schema, Lake.tablePath(root, "s", "t"))
    val deduped = Streams.dedupByHash(stream, "scraped_at")

    val q = deduped.writeStream
      .format("memory")
      .queryName("dedup_out")
      .outputMode("append")
      .start()
    try {
      q.processAllAvailable()
      val got = spark.table("dedup_out").select($"pid").as[Long].collect().sorted.toSeq
      assert(got == Seq(1L, 2L, 3L))
    } finally q.stop()
  }

  test("refreshStream: AvailableNow drains staging, dedups against lake, checkpoint survives restart") {
    val base = tmpDir("refresh_stream")
    val staging = s"$base/staging"
    val root = s"$base/lake"
    val cp = s"$base/cp"
    val ts = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")

    def stamped(rows: Seq[(Long, String)]) = Lake.stampMetadata(rows.toDF("pid", "v"), ts)

    // batch 1: two fresh rows; batch 2: one dup content + one new
    stamped(Seq((1L, "a"), (2L, "b"))).write.mode("append").parquet(staging)
    stamped(Seq((2L, "b"), (3L, "c"))).write.mode("append").parquet(staging)

    val schema = spark.read.parquet(staging).schema
    val q1 = Streams.refreshStream(spark, schema, staging, root, "s", "t", cp)
    q1.awaitTermination()
    val afterFirst = Lake.read(spark, root, "s", "t")
    assert(afterFirst.count() == 3) // (2,b) duplicate dropped

    // restart with a new staged file: checkpoint skips the old files
    stamped(Seq((3L, "c"), (4L, "d"))).write.mode("append").parquet(staging)
    val q2 = Streams.refreshStream(spark, schema, staging, root, "s", "t", cp)
    q2.awaitTermination()
    val afterSecond = Lake.read(spark, root, "s", "t")
    assert(afterSecond.count() == 4) // only (4,d) appended
    assert(afterSecond.select($"pid").as[Long].collect().sorted.toSeq == Seq(1L, 2L, 3L, 4L))

    // a third drain whose staged rows are all in the lake appends no file
    def partFiles = new java.io.File(Lake.tablePath(root, "s", "t")).list().count(_.startsWith("part-"))
    val filesBefore = partFiles
    stamped(Seq((1L, "a"), (4L, "d"))).write.mode("append").parquet(staging)
    val q3 = Streams.refreshStream(spark, schema, staging, root, "s", "t", cp)
    q3.awaitTermination()
    assert(partFiles == filesBefore, "an all-duplicate micro-batch must not append a schema-only file")
    assert(Lake.read(spark, root, "s", "t").count() == 4)
  }

  test("dedupByStampConvention picks the dedup from the lake stamp convention") {
    // uuid + scraped_at present → per-entity snapshot (the revert records)
    val lk = Seq(("u1", 1, "h1"), ("u1", 2, "h2")).toDF("uuid", "scraped_at", "row_hash")
    val revert = Seq(("u1", 3, "h1")).toDF("uuid", "scraped_at", "row_hash")
    assert(Streams.dedupByStampConvention(revert, lk).count() == 1L)
    // no identity column (or a renamed one) → full history (the revert drops)
    val lkNoKey = lk.withColumnRenamed("uuid", "business_key")
    val revNoKey = revert.withColumnRenamed("uuid", "business_key")
    assert(Streams.dedupByStampConvention(revNoKey, lkNoKey).isEmpty)
    // identity but no scraped_at stamp → full history too
    val lkNoStamp = lk.withColumnRenamed("scraped_at", "t")
    val revNoStamp = revert.withColumnRenamed("scraped_at", "t")
    assert(Streams.dedupByStampConvention(revNoStamp, lkNoStamp).isEmpty)
  }

  test("native session_window (q44) produces the same sessions as the lag/cumsum formulation (q17)") {
    val dir = "/root/testdata/sf0.001"
    val a = graft.SparkEntry.queries("q44_session_window")(spark, dir)
      .select($"user_id", $"n_events").as[(Long, Long)].collect().sorted.toSeq
    val b = graft.SparkEntry.queries("q17_sessionize")(spark, dir)
      .select($"user_id", $"n_events").as[(Long, Long)].collect().sorted.toSeq
    assert(a == b)
  }

  test("gatedDocStream filters by the corpus gates and dedups content on the stream") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String, java.sql.Timestamp)]
    val ts = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    val fluent = "the quick brown fox jumps over the lazy dog and keeps running through the field today"
    mem.addData(
      (1L, fluent, ts),                               // kept
      (2L, fluent, ts),                               // exact dup -> deduped
      (3L, "short", ts),                              // too few tokens
      (4L, "le renard brun rapide saute par dessus le chien paresseux et il continue de courir", ts) // wrong lang
    )
    val gated = graft.streaming.Streams.gatedDocStream(
      mem.toDF().toDF("doc_id", "text", "event_ts"), "text", "event_ts")
    val q = gated.writeStream.format("memory").queryName("gated_docs").outputMode("append").start()
    try {
      q.processAllAvailable()
      val got = spark.table("gated_docs").select($"doc_id").collect().map(_.getLong(0)).toSeq
      assert(got == Seq(1L), s"expected only doc 1 to pass the gates, got $got")
    } finally q.stop()
  }

  test("gatedDocStream applies the optional compression/classifier gates; guards its columns") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.operators.CorpusPipeline
    implicit val sqlCtx = spark.sqlContext
    val ts = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    val fluent = "the quick brown fox jumps over the lazy dog and keeps running through the field today"
    val spammy = ("buy cheap now " * 12).trim // compresses extremely well -> low permille
    def run(cfg: CorpusPipeline.Config, name: String): Seq[Long] = {
      val mem = MemoryStream[(Long, String, java.sql.Timestamp)]
      mem.addData((1L, fluent, ts), (2L, spammy, ts))
      val q = graft.streaming.Streams
        .gatedDocStream(mem.toDF().toDF("doc_id", "text", "event_ts"), "text", "event_ts", cfg)
        .writeStream.format("memory").queryName(name).outputMode("append").start()
      try { q.processAllAvailable(); spark.table(name).select($"doc_id").as[Long].collect().toSeq.sorted }
      finally q.stop()
    }
    // both pass the heuristics alone
    assert(run(CorpusPipeline.Config(), "gds_base") == Seq(1L, 2L))
    // the configured compression gate must drop the compressible doc —
    // the batch pipeline's too_compressible cut, previously ignored here
    assert(run(CorpusPipeline.Config(minCompressionPermille = Some(500L)), "gds_cmp") == Seq(1L))
    // a configured classifier gates too (all-zero weights score 0 < 1)
    assert(run(CorpusPipeline.Config(classifier = Some((Array.fill(64)(0L), 1L))), "gds_cls").isEmpty)
    // reserved internal columns are guarded, not silently clobbered
    val e = intercept[IllegalArgumentException] {
      graft.streaming.Streams.gatedDocStream(
        Seq((1L, "x", ts, 9L)).toDF("doc_id", "text", "event_ts", "__tok"), "text", "event_ts")
    }
    assert(e.getMessage.contains("__tok"))
  }

  test("windowed counts over event time") {
    val root = tmpDir("stream")
    val rows = Seq(
      (java.sql.Timestamp.valueOf("2024-01-01 00:01:00"), "u1"),
      (java.sql.Timestamp.valueOf("2024-01-01 00:02:00"), "u1"),
      (java.sql.Timestamp.valueOf("2024-01-01 00:15:00"), "u1")
    ).toDF("ts", "key")
    rows.write.parquet(s"$root/t")

    val stream = Streams.readTableStream(spark, rows.schema, s"$root/t")
    val counts = Streams.windowedCounts(stream, "ts", "key", windowLen = "10 minutes")
    val q = counts.writeStream.format("memory").queryName("win_out").outputMode("complete").start()
    try {
      q.processAllAvailable()
      val got = spark.table("win_out").select($"n").as[Long].collect().sorted.toSeq
      assert(got == Seq(1L, 2L))
    } finally q.stop()
  }

  test("probeStream flags the same dups as the batch probe (stream-static join, stateless)") {
    import graft.operators.Dedup
    val root = tmpDir("probe_stream")
    val corpus = Seq(
      (10L, "the quick brown fox jumps over the lazy dog again and again"),
      (11L, "completely unrelated corpus text about parquet shuffles and joins"),
      (12L, "a third corpus document with its own distinctive wording here")
    ).toDF("doc_id", "text")
    val newDocs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again"), // dup of 10
      (2L, "brand new content that matches nothing in the corpus at all")
    ).toDF("doc_id", "text")
    newDocs.write.parquet(s"$root/new")

    val index = Dedup.minhashBuckets(corpus, "doc_id", "text")
    val stream = Streams.readTableStream(spark, newDocs.schema, s"$root/new")
    val flagged = Streams.probeStream(stream, "doc_id", "text", index)
    assert(flagged.isStreaming, "probeStream must stay a streaming plan")

    val q = flagged.writeStream.format("memory").queryName("probe_out").outputMode("append").start()
    try {
      q.processAllAvailable()
      val got = spark
        .table("probe_out")
        .select($"new_id", $"dup_of")
        .distinct()
        .as[(Long, Long)]
        .collect()
        .toSet
      val batch = Dedup
        .probeNewDocs(spark.read.parquet(s"$root/new"), index, "doc_id", "text")
        .as[(Long, Long)]
        .collect()
        .toSet
      assert(got == batch)
      assert(got.contains((1L, 10L)) && !got.exists(_._1 == 2L))
    } finally q.stop()
  }

  test("dedupUrlBatch: stream survivors equal the batch operator over corpus ∪ batch") {
    import graft.operators.UrlOps
    val root = tmpDir("url_stream")
    val corpus = Seq(
      (10L, "https://example.com/a?utm_source=x", 5.0),
      (11L, "https://www.example.com/a#frag", 9.0), // same canonical URL as 10 — corpus best
      (12L, "https://other.org/page", 4.0),
      (13L, "https://tie.net/t", 7.0),
      (30L, "https://tie2.net/t", 7.0)
    ).toDF("doc_id", "url", "q")
    val batch = Seq(
      (20L, "https://example.com/a", 8.0), // loses to corpus 11 (9.0): dropped
      (21L, "https://other.org/page?utm_source=y", 6.0), // beats corpus 12 (4.0): survives
      (22L, "https://tie.net/t", 7.0), // quality tie, corpus id 13 < 22: dropped
      (25L, "https://tie2.net/t", 7.0), // quality tie, batch id 25 < 30: survives
      (23L, "https://fresh.dev/n", 1.0), // new URL but in-batch loser to 24
      (24L, "https://fresh.dev/n?utm_medium=z", 2.0) // in-batch best of a new URL: survives
    ).toDF("doc_id", "url", "q")
    batch.write.parquet(s"$root/batch")
    val index = UrlOps.canonicalUrlCorpusIndex(corpus, "doc_id", $"url", $"q")
    val stream = Streams.readTableStream(spark, batch.schema, s"$root/batch")
    assert(stream.isStreaming)
    val survivors = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val q = stream.writeStream
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        UrlOps.canonicalUrlProbeDedup(b, "doc_id", col("url"), col("q"), index)
          .select($"doc_id").as[Long].collect().foreach(survivors.add)
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    try q.awaitTermination() finally q.stop()
    val got = scala.jdk.CollectionConverters.CollectionHasAsScala(survivors).asScala.toSet
    // the parity law: exactly the batch operator's survivors over
    // corpus ∪ batch, restricted to batch ids
    val batchOp = UrlOps.canonicalUrlDedup(corpus.unionByName(batch), "doc_id", $"url", $"q")
      .select($"doc_id").as[Long].collect().toSet
    assert(got == batchOp.filter(_ >= 20L), s"stream=$got batchOp=$batchOp")
    assert(got == Set(21L, 24L, 25L), s"hand-derived survivor set: $got")
  }

  test("probeVectorStream: streamed vectors probing a persisted index equal the batch query") {
    import graft.operators.VectorIndex
    import scala.util.Random
    val root = tmpDir("probe_vec_stream")
    val rnd = new Random(5)
    val centers = Seq.fill(4)(Array.fill(16)(rnd.nextGaussian() * 5))
    val corpus = (0 until 200).map { i =>
      (i.toLong, centers(i % 4).map(x => (x + rnd.nextGaussian() * 0.1).toFloat).toSeq)
    }.toDF("vec_id", "embedding")
    val h = VectorIndex.build(corpus, "vec_id", "embedding", s"$root/index",
      kLists = 4, m = 4, ksub = 8)

    // external vectors arriving as a stream, in several files (multi-batch)
    val incoming = (1000 until 1012).map { i =>
      (i.toLong, centers(i % 4).map(x => (x + rnd.nextGaussian() * 0.1).toFloat).toSeq)
    }
    incoming.grouped(4).foreach { chunk =>
      chunk.toDF("vec_id", "embedding").write.mode("append").parquet(s"$root/new")
    }
    val newVecs = spark.read.parquet(s"$root/new")
    val stream = Streams.readTableStream(spark, newVecs.schema, s"$root/new")
    val probed = Streams.probeVectorStream(stream, "vec_id", "embedding", h, nProbe = 2)
    assert(probed.isStreaming, "probeVectorStream must stay a streaming plan")

    // sink-side contract: per-query top-k is batch-local (a query's
    // candidates all live in its own micro-batch)
    val got = scala.collection.mutable.Set[(Long, Long, Int)]()
    val q = probed.writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        got ++= VectorIndex.rankTopK(batch, 3)
          .select($"qid", $"vec_id", $"rank")
          .as[(Long, Long, Int)]
          .collect()
        ()
      }
      .start()
    try {
      q.processAllAvailable()
      val batchTwin = VectorIndex
        .query(h, newVecs.select($"vec_id".as("qid"), $"embedding".as("qe")),
          nProbe = 2, k = 3, excludeSelf = false)
        .select($"qid", $"vec_id", $"rank")
        .as[(Long, Long, Int)]
        .collect()
        .toSet
      assert(got.toSet == batchTwin, s"stream/batch divergence: ${got.toSet.diff(batchTwin)} vs ${batchTwin.diff(got.toSet)}")
      assert(got.map(_._1).toSet.size == 12, "every streamed vector must get ranked neighbors")
    } finally q.stop()
  }

  test("probeVectorBatch in foreachBatch: pruned postings scan, results equal the batch query") {
    import graft.operators.VectorIndex
    import scala.util.Random
    val root = tmpDir("probe_vec_pruned")
    val rnd = new Random(7)
    val centers = Seq.fill(8)(Array.fill(16)(rnd.nextGaussian() * 5))
    val corpus = (0 until 400).map { i =>
      (i.toLong, centers(i % 8).map(x => (x + rnd.nextGaussian() * 0.1).toFloat).toSeq)
    }.toDF("vec_id", "embedding")
    val h = VectorIndex.build(corpus, "vec_id", "embedding", s"$root/index",
      kLists = 8, m = 4, ksub = 8)

    // queries clustered near ONE center: with nProbe=2 they probe a strict
    // subset of the 8 lists, so pruning has something to prune
    val incoming = (1000 until 1006).map { i =>
      (i.toLong, centers(1).map(x => (x + rnd.nextGaussian() * 0.1).toFloat).toSeq)
    }
    incoming.grouped(3).foreach { chunk =>
      chunk.toDF("vec_id", "embedding").write.mode("append").parquet(s"$root/new")
    }
    val newVecs = spark.read.parquet(s"$root/new")

    // plan law first, on one batch: the postings scan must carry the probed
    // clusters as a PARTITION filter (pruned at listing time), not scan all 8
    val oneBatch = VectorIndex.scoredCandidatesPruned(
      h, newVecs.select($"vec_id".as("qid"), $"embedding".as("qe")), nProbe = 2,
      excludeSelf = false)
    oneBatch.collect()
    val scanLine = oneBatch.queryExecution.executedPlan.toString
      .linesIterator.filter(_.contains("FileScan parquet")).mkString("\n")
    assert(scanLine.contains("PartitionFilters") && "cluster#\\d+ IN \\(".r.findFirstIn(scanLine).isDefined,
      s"expected a literal cluster partition filter on the postings scan:\n$scanLine")

    // end-to-end: the foreachBatch helper over the stream equals the batch query
    val stream = Streams.readTableStream(spark, newVecs.schema, s"$root/new")
    val got = scala.collection.mutable.Set[(Long, Long, Int)]()
    val q = stream.writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        got ++= Streams.probeVectorBatch(batch, "vec_id", "embedding", h, nProbe = 2, k = 3)
          .select($"qid", $"vec_id", $"rank")
          .as[(Long, Long, Int)]
          .collect()
        ()
      }
      .start()
    try {
      q.processAllAvailable()
      val batchTwin = VectorIndex
        .query(h, newVecs.select($"vec_id".as("qid"), $"embedding".as("qe")),
          nProbe = 2, k = 3, excludeSelf = false)
        .select($"qid", $"vec_id", $"rank")
        .as[(Long, Long, Int)]
        .collect()
        .toSet
      assert(got.toSet == batchTwin,
        s"pruned probe diverged: ${got.toSet.diff(batchTwin)} vs ${batchTwin.diff(got.toSet)}")
      assert(got.map(_._1).toSet.size == 6)
    } finally q.stop()
  }

  test("flagCorpusOverlap: unflagged streaming docs provably have zero incremental spans") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.operators.Dedup
    implicit val sqlCtx = spark.sqlContext
    val boiler = "this corpus boilerplate run is exactly long enough to matter here"
    val corpus = Seq(
      (1L, s"stored document one with $boiler embedded in the middle of it"),
      (2L, "a second stored document of entirely separate wording and shape")
    ).toDF("doc_id", "text")
    val idx = Dedup.substringGramIndex(corpus, "text", 30)
    // deliberately tiny bloom: false positives expected, the law is one-sided
    val bits = Dedup.substringGramBloom(idx, numBytes = 128, numHashes = 3)
    val docs = Seq(
      (10L, s"arriving doc that carries $boiler and some fresh words too"),
      (11L, "arriving doc with wholly novel content sharing nothing at all"),
      (12L, boiler) // verbatim boilerplate-only doc
    )
    val mem = MemoryStream[(Long, String)]
    mem.addData(docs: _*)
    val q = graft.streaming.Streams
      .flagCorpusOverlap(mem.toDF().toDF("doc_id", "text"), "text", bits, minLen = 30)
      .writeStream.format("memory").queryName("overlap_flags").outputMode("append").start()
    try {
      q.processAllAvailable()
      val flagged = spark.table("overlap_flags")
        .filter($"maybe_boilerplate").select($"doc_id").collect().map(_.getLong(0)).toSet
      val exact = Dedup
        .repeatedSpansVsCorpus(docs.toDF("doc_id", "text"), "doc_id", "text", idx, 30)
        .select($"doc_id").distinct().collect().map(_.getLong(0)).toSet
      assert(exact.subsetOf(flagged),
        s"pregate missed docs with real corpus spans: ${exact.diff(flagged)} — blooms cannot false-negative")
      // right-sized bits are also precise on this fixture
      val bigBits = Dedup.substringGramBloom(idx, numBytes = 1 << 14, numHashes = 5)
      val precise = graft.streaming.Streams
        .flagCorpusOverlap(docs.toDF("doc_id", "text"), "text", bigBits, minLen = 30)
        .filter($"maybe_boilerplate").select($"doc_id").collect().map(_.getLong(0)).toSet
      assert(precise == exact, s"sized bloom should match exactly here, got $precise vs $exact")
    } finally q.stop()
  }

  test("flagCorpusOverlap rejects inputs already carrying its temp or output column") {
    import graft.operators.Dedup
    val idx = Dedup.substringGramIndex(
      Seq((1L, "a" * 40)).toDF("doc_id", "text"), "text", 30)
    val bits = Dedup.substringGramBloom(idx, numBytes = 1 << 10, numHashes = 3)
    val withOut = Seq((1L, "x", true)).toDF("doc_id", "text", "maybe_boilerplate")
    val e = intercept[IllegalArgumentException] {
      graft.streaming.Streams.flagCorpusOverlap(withOut, "text", bits, minLen = 30)
    }
    assert(e.getMessage.contains("maybe_boilerplate"))
    val withTemp = Seq((1L, "x", "y")).toDF("doc_id", "text", "__norm_t")
    intercept[IllegalArgumentException] {
      graft.streaming.Streams.flagCorpusOverlap(withTemp, "text", bits, minLen = 30)
    }
  }

  test("flagContamination: scan-side bloom pregate never false-negatives vs the exact report") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.functions.BloomExprs
    import graft.operators.{Decontaminate, TextAnalysis}
    implicit val sqlCtx = spark.sqlContext
    val benchText = "the quick brown fox jumps over the lazy dog near the river bank today"
    val bench = Seq((100L, benchText)).toDF("doc_id", "text")
    val benchFps = bench.select(
      $"doc_id".as("bench_id"),
      explode(TextAnalysis.winnowingFingerprints($"text", 5, 8)).as("fp"))
    // a deliberately TINY bloom (64 usable bits): false positives are
    // expected — the invariant under test is one-sided
    val bits = benchFps
      .agg(BloomExprs.bloomAgg($"fp", 72, 3)).head.getAs[Array[Byte]](0)
    // doc 5 embeds the benchmark text twice — the adversarial shape for the
    // soundness law: repeats must not let the exact report outrun the
    // pregate's distinct-evidence count (both count DISTINCT fps, so the
    // subset assertion below is an invariant, not a fixture accident)
    val docs = Seq(
      (1L, s"intro words then $benchText and some trailing content here"),
      (2L, "completely unrelated text about spark catalyst optimizer internals and shuffles"),
      (3L, benchText),
      (4L, "short overlap near the river maybe but nothing substantial beyond that phrase"),
      (5L, s"$benchText padding middle words $benchText")
    )
    val mem = MemoryStream[(Long, String)]
    mem.addData(docs: _*)
    val q = graft.streaming.Streams
      .flagContamination(mem.toDF().toDF("doc_id", "text"), "text", bits)
      .writeStream.format("memory").queryName("contam_flags").outputMode("append").start()
    try {
      q.processAllAvailable()
      val flagged = spark.table("contam_flags")
        .filter($"maybe_contaminated").select($"doc_id").collect().map(_.getLong(0)).toSet
      val exact = Decontaminate
        .overlaps(docs.toDF("doc_id", "text"), bench, "doc_id", "text")
        .select($"doc_id").collect().map(_.getLong(0)).toSet
      assert(exact.subsetOf(flagged),
        s"pregate missed truly contaminated docs: ${exact.diff(flagged)} — blooms cannot false-negative")
      // with a RIGHT-sized bloom the flag is also precise on this fixture
      val bigBits = benchFps.agg(BloomExprs.bloomAgg($"fp", 4096, 5)).head.getAs[Array[Byte]](0)
      val precise = graft.streaming.Streams
        .flagContamination(docs.toDF("doc_id", "text"), "text", bigBits)
        .filter($"maybe_contaminated").select($"doc_id").collect().map(_.getLong(0)).toSet
      assert(precise == exact, s"sized bloom should match exactly here, got $precise vs $exact")
    } finally q.stop()
  }
}

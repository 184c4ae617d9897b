package graft

import graft.functions.{MediaExprs, PHashSupport}
import graft.operators.{Dedup, Modality, Multimodal, TrainingPipeline}
import org.apache.spark.sql.functions._

/** Perceptual image hashing (dHash/aHash) + the banded pair search and the
  * pipeline image-dedup stage built on it.
  */
@org.scalatest.tags.Slow
class PHashSpec extends SparkSpec {
  import spark.implicits._

  test("dHash is resize-invariant on block patterns (the re-encode/resize blind spot of byte hashing)") {
    val big = Multimodal.blockPatternPng(42L, cellPx = 8, paired = false, isCopy = false)
    val small = Multimodal.blockPatternPng(42L, cellPx = 3, paired = false, isCopy = false)
    assert(!java.util.Arrays.equals(big, small), "the bytes differ — md5 dedup sees two files")
    assert(PHashSupport.dHash64(big) == PHashSupport.dHash64(small),
      "same scene at different resolution must dHash identically")
    // aHash's 8-col grid does NOT align with the 9-col block pattern, so
    // exact equality across resolutions is not promised there — only dHash
    // (whose 9-col grid matches the fixture) is exact on these fixtures
  }

  test("aHash: row-aligned scene is exactly resolution-invariant; bits are orientation-correct") {
    // rows align with aHash's 8-row grid at any cell size, so a top-dark /
    // bottom-bright scene has EXACTLY rows 4-7 above the mean: the 32 high
    // bits — at every resolution
    def halfPng(cellPx: Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(
        8 * cellPx, 8 * cellPx, java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until 8 * cellPx; x <- 0 until 8 * cellPx)
        img.setRGB(x, y, if (y < 4 * cellPx) 0x000000 else 0xffffff)
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos)
      bos.toByteArray
    }
    val expected = java.lang.Long.valueOf(0xffffffff00000000L)
    assert(PHashSupport.aHash64(halfPng(9)) == expected)
    assert(PHashSupport.aHash64(halfPng(3)) == expected)
  }

  test("planted base/copy pair sits at hamming exactly 1; unrelated patterns are far") {
    val base = PHashSupport.dHash64(Multimodal.blockPatternPng(10L, 8, paired = true, isCopy = false))
    val copy = PHashSupport.dHash64(Multimodal.blockPatternPng(10L, 4, paired = true, isCopy = true))
    assert(java.lang.Long.bitCount(base ^ copy) == 1,
      "the fixture flips exactly one grid comparison")
    val other = PHashSupport.dHash64(Multimodal.blockPatternPng(11L, 8, paired = false, isCopy = false))
    assert(java.lang.Long.bitCount(base ^ other) > 3,
      "independent patterns must not fall inside the dedup radius")
  }

  // ---- dual-hash verify (dHash candidates + aHash confirm) ----

  test("dualHash64 agrees with the single-hash expressions from one decode, incl. via SQL") {
    val png = Multimodal.blockPatternPng(7L, cellPx = 6, paired = false, isCopy = false)
    val dual = PHashSupport.dualHash64(png)
    assert(dual.getLong(0) == PHashSupport.dHash64(png).longValue)
    assert(dual.getLong(1) == PHashSupport.aHash64(png).longValue)
    assert(PHashSupport.dualHash64(Array[Byte](1, 2, 3)) == null)
    val rows = Seq((1L, png), (2L, "junk".getBytes)).toDF("id", "content")
    rows.createOrReplaceTempView("dual_photos")
    val got = spark.sql(
      "SELECT id, graft_image_dual_hash(content) AS h FROM dual_photos ORDER BY id").collect()
    assert(got(0).getStruct(1).getLong(0) == dual.getLong(0))
    assert(got(0).getStruct(1).getLong(1) == dual.getLong(1))
    assert(got(1).isNullAt(1), "undecodable bytes are NULL through SQL too")
  }

  test("luminance decoy: identical dHash, aHash exactly 64 apart; true copy identical on both") {
    val base = Multimodal.gradientPairPng(40L, decoy = false, cellPx = 8)
    val copy = Multimodal.gradientPairPng(40L, decoy = false, cellPx = 4)
    val decoy = Multimodal.gradientPairPng(40L, decoy = true, cellPx = 8)
    val (db, ab) = (PHashSupport.dHash64(base).longValue, PHashSupport.aHash64(base).longValue)
    assert(PHashSupport.dHash64(decoy).longValue == db,
      "per-row affine shifts preserve every gradient comparison")
    assert(java.lang.Long.bitCount(ab ^ PHashSupport.aHash64(decoy).longValue) == 64,
      "top-bright vs bottom-bright flips every mean-threshold bit")
    assert(ab == 0x00000000ffffffffL, "base aHash is exactly the top-four-rows bits")
    assert(PHashSupport.dHash64(copy).longValue == db &&
      PHashSupport.aHash64(copy).longValue == ab,
      "a true resized copy matches on BOTH hashes")
  }

  test("verified operator rejects the decoy pairs the single-hash operator admits") {
    val ids = (0L until 40L).toDF("doc_id")
    val photos = Multimodal.dualHashPhotoFixture(ids, "doc_id")
    val plain = Dedup.nearDupPairs(Modality.photo, photos, "doc_id", "content", maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val verified = Dedup
      .nearDupPairs(Modality.photoVerified(maxAHamming = 8), photos, "doc_id", "content", maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val truePairs = (0L until 40L by 10L).map(b => (b, b + 1)).toSet
    val decoyPairs = (0L until 40L by 10L).flatMap(b => Seq((b, b + 2), (b + 1, b + 2))).toSet
    assert(plain == truePairs ++ decoyPairs,
      s"single-hash banding must admit the engineered false pairs, got $plain")
    assert(verified == truePairs,
      s"aHash confirm must cut exactly the decoy pairs, got $verified")
  }

  test("verified probe vs verified corpus index agrees with the batch operator; wrong family throws") {
    val ids = (0L until 40L).toDF("doc_id")
    val photos = Multimodal.dualHashPhotoFixture(ids, "doc_id")
    val corpus = photos.filter($"doc_id" % 10 =!= 1)
    val batch = photos.filter($"doc_id" % 10 === 1)
    val idx = Dedup.corpusIndex(Modality.photoVerified(), corpus, "doc_id", "content")
    val dups = Dedup
      .probeDups(Modality.photoVerified(), batch, "doc_id", "content", idx)
      .orderBy($"doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getInt(3)))
    // each copy (≡1) pairs with its base (≡2's decoy is dHash-identical to
    // the copy but aHash 64 away — the confirm must cut it in the probe too)
    assert(dups.toSeq == (1L until 41L by 10L).map(c => (c, c - 1, 0, 0)))
    // a verified index probed by the UNVERIFIED phash probe: wrong family
    val e = intercept[IllegalArgumentException] {
      Dedup.probeDups(Modality.photo, batch, "doc_id", "content", idx)
    }
    assert(e.getMessage.contains("modalit"))
    // and mismatched banding params throw as everywhere
    val e2 = intercept[IllegalArgumentException] {
      Dedup.probeDups(Modality.photoVerified(), batch, "doc_id", "content", idx, maxHamming = 2)
    }
    assert(e2.getMessage.contains("maxHamming"))
  }

  test("ImageStage with maxAHamming keeps the decoy doc the unverified stage would drop") {
    import graft.operators.TrainingPipeline
    // docs 0,1,2 carry base/copy/decoy photos; texts are mutually UNRELATED
    // so no text stage (exact, trigram, or MinHash) collapses them — only
    // the image stage decides
    val docs = Seq(
      (0L, "the quick brown fox jumps over the lazy dog near the river bank in the " +
        "morning light with dew still resting on the open grass"),
      (1L, "a committee met on tuesday to review the annual budget and approve the " +
        "spending plan for the coming year after a long discussion"),
      (2L, "sailors watched the storm gather over the harbor while the fishing boats " +
        "returned early to the safety of the old stone pier")
    ).toDF("doc_id", "text")
    val bench = Seq((100L, "completely unrelated benchmark text about other things entirely " +
      "with none of the corpus phrasing present anywhere")).toDF("doc_id", "text")
    val photos = Multimodal.dualHashPhotoFixture(Seq(0L, 1L, 2L).toDF("doc_id"), "doc_id")
    def survivors(stage: TrainingPipeline.ImageStage): Set[Long] = {
      val (chunks, _) = TrainingPipeline.prepare(
        docs, bench, "doc_id", "text",
        cfg = TrainingPipeline.Config(corpus =
          graft.operators.CorpusPipeline.Config(nearDupJaccard = 1.01)),
        image = Some(stage))
      chunks.select($"doc_id").distinct().as[Long].collect().toSet
    }
    val unverified = survivors(TrainingPipeline.ImageStage(photos))
    val verified = survivors(TrainingPipeline.ImageStage(photos, maxAHamming = Some(8)))
    assert(unverified == Set(0L), "single-hash stage collapses copy AND decoy onto doc 0")
    assert(verified == Set(0L, 2L), "verified stage keeps the decoy (a genuinely different image)")
  }

  test("undecodable bytes hash to NULL, never throw (untrusted-input rule), incl. via SQL") {
    assert(PHashSupport.dHash64(null) == null)
    assert(PHashSupport.dHash64(Array.empty[Byte]) == null)
    assert(PHashSupport.dHash64(Array[Byte](1, 2, 3, 4, 5)) == null)
    // PNG magic with a truncated body
    assert(PHashSupport.dHash64(Array[Byte](0x89.toByte, 'P', 'N', 'G', 0x0d, 0x0a)) == null)
    val r = spark.sql("SELECT graft_image_dhash(CAST('junk' AS BINARY)) AS v").head()
    assert(r.isNullAt(0))
    assert(spark.sql("SELECT graft_image_ahash(CAST('junk' AS BINARY)) AS v").head().isNullAt(0))
  }

  test("the hash expression runs inside whole-stage codegen at the scan") {
    // a mapPartitions fixture keeps the content column non-foldable —
    // imageDHash64(lit(png)) would be constant-folded clean out of the plan
    val df = Multimodal.phashPhotoFixture((1L to 50L).toDF("doc_id"), "doc_id")
      .select($"doc_id", MediaExprs.imageDHash64($"content").as("h"))
      .filter($"h".isNotNull)
    // collect() FIRST, and via collect not count: the fixture's fan-out
    // repartition makes the plan adaptive, codegen spans only appear in
    // the AQE-FINAL plan, and count() plans its own cloned QueryExecution
    // (this df's plan would stay isFinalPlan=false — the PlanDump rule)
    assert(df.collect().length == 50)
    val starred = df.queryExecution.executedPlan.toString
      .linesIterator.filter(_.toLowerCase.contains("imagedhash"))
      .exists(_.trim.matches("""^[+\-: ]*\*\(\d+\) (Filter|Project) .*"""))
    assert(starred, "dhash must run inside a whole-stage-codegen span")
  }

  test("phashNearDupPairs finds exactly the planted pairs; corrupt rows never pair") {
    val photos = Multimodal
      .phashPhotoFixture((1L to 60L).toDF("doc_id"), "doc_id")
      // plant a corrupt blob on an id that would otherwise be a unique pattern
      .withColumn("content",
        when($"doc_id" === 7L, lit("not an image".getBytes)).otherwise($"content"))
    val pairs = Dedup.nearDupPairs(Modality.photo, photos, "doc_id", "content", maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).sorted.toSeq
    assert(pairs == Seq((10L, 11L, 1), (20L, 21L, 1), (30L, 31L, 1), (40L, 41L, 1), (50L, 51L, 1)))
  }

  test("incremental probe vs corpus index agrees with the batch self-join (parity law)") {
    val corpus = Multimodal.phashPhotoFixture((1L to 40L).toDF("doc_id"), "doc_id")
    // probe: resized copies of corpus patterns 13 and 27 + one novel + one corrupt
    val probe = Seq(
      (1001L, Multimodal.blockPatternPng(13L, 3, paired = false, isCopy = false)),
      (1002L, Multimodal.blockPatternPng(27L, 5, paired = false, isCopy = false)),
      (1003L, Multimodal.blockPatternPng(999L, 8, paired = false, isCopy = false)),
      (1004L, "corrupt bytes".getBytes)
    ).toDF("doc_id", "content")
    val idx = Dedup.corpusIndex(Modality.photo, corpus, "doc_id", "content")
    val probed = Dedup.probeDups(Modality.photo, probe, "doc_id", "content", idx, maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).sorted.toSeq
    assert(probed == Seq((1001L, 13L, 0), (1002L, 27L, 0)),
      s"resized copies at hamming 0, novel/corrupt never pair — got $probed")
    // parity: the same pairs fall out of the batch self-join over the union
    val batchPairs = Dedup
      .nearDupPairs(Modality.photo, corpus.unionByName(probe), "doc_id", "content", maxHamming = 3)
      .filter($"doc_b" >= 1000L && $"doc_a" < 1000L)
      .collect().map(r => (r.getLong(1), r.getLong(0), r.getInt(2))).sorted.toSeq
    assert(batchPairs == probed, "probe and batch operators must report identical cross pairs")
  }

  test("probe with banding params differing from the index build throws, never under-reports") {
    val corpus = Multimodal.phashPhotoFixture((1L to 5L).toDF("doc_id"), "doc_id")
    val probe = Seq((9001L, Multimodal.blockPatternPng(2L, 3, paired = false, isCopy = false)))
      .toDF("doc_id", "content")
    val idx = Dedup.corpusIndex(Modality.photo, corpus, "doc_id", "content", maxHamming = 3, blocks = 6)
    val e = intercept[IllegalArgumentException] {
      Dedup.probeDups(Modality.photo, probe, "doc_id", "content", idx, maxHamming = 2, blocks = 6)
    }
    assert(e.getMessage.contains("maxHamming=3"))
    intercept[IllegalArgumentException] {
      Dedup.probeDups(Modality.photo, probe, "doc_id", "content", idx, maxHamming = 3, blocks = 8)
    }
    // the stamp survives a parquet round-trip (persisted index snapshots)
    val dir = java.nio.file.Files.createTempDirectory("phash_idx").toString
    idx.write.mode("overwrite").parquet(dir)
    val reloaded = spark.read.parquet(dir)
    intercept[IllegalArgumentException] {
      Dedup.probeDups(Modality.photo, probe, "doc_id", "content", reloaded, maxHamming = 2, blocks = 6)
    }
    // matching params still probe fine
    assert(Dedup.probeDups(Modality.photo, probe, "doc_id", "content", reloaded).count() >= 1L)
  }

  test("probePhotoBatch flags intake dups per micro-batch (streaming composition)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val corpus = Multimodal.phashPhotoFixture((1L to 30L).toDF("doc_id"), "doc_id")
    val idx = Dedup.corpusIndex(Modality.photo, corpus, "doc_id", "content").persist()
    try {
      // the stream carries (id, pattern-seed); the foreachBatch sink builds
      // the photo bytes (the intake decode boundary) and probes the index
      val mem = MemoryStream[(Long, Long)]
      mem.addData(
        (6001L, 7L),   // resized copy of corpus photo 7 -> must flag
        (6002L, 888L), // novel pattern -> must not
        (6003L, 23L)   // resized copy of corpus photo 23 -> must flag
      )
      val flagged = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()
      val q = mem.toDF().toDF("pid", "seed")
        .writeStream
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
          val rows = batch.collect().map(r => (r.getLong(0), r.getLong(1)))
          val s = batch.sparkSession
          import s.implicits._
          val photos = rows.toSeq.map { case (pid, seed) =>
            (pid, Multimodal.blockPatternPng(seed, cellPx = 3, paired = false, isCopy = false))
          }.toDF("doc_id", "content")
          Dedup
            .probeDups(Modality.photo, photos, "doc_id", "content", idx)
            .collect()
            .foreach(r => flagged.add((r.getLong(0), r.getLong(1))))
          ()
        }
        .start()
      try q.processAllAvailable()
      finally q.stop()
      val out = flagged.iterator().asInstanceOf[java.util.Iterator[(Long, Long)]]
      val got = scala.jdk.CollectionConverters.IteratorHasAsScala(out).asScala.toSeq.sorted
      assert(got == Seq((6001L, 7L), (6003L, 23L)), s"got $got")
    } finally idx.unpersist()
  }

  test("pipeline ImageStage drops the doc whose photo is a perceptual dup of a survivor's") {
    // three genuinely different texts: near-identical filler would collapse
    // in the TEXT near-dup stage and mask what the image stage does
    val docs = Seq(
      (1L, "a field report on the harvest season describing tools and yields and the daily" +
        " rhythm of the farm in plain words that satisfy the length gate nicely"),
      (2L, "notes from the harbor master about tides and cargo manifests and the slow traffic" +
        " of small boats through the morning fog written for the town record"),
      (3L, "an essay on letter writing customs of the period with no shared boilerplate at" +
        " all and enough plain english words to clear every quality gate easily")
    ).toDF("doc_id", "text")
    // doc 2's photo = doc 1's photo resized (perceptual dup); doc 3 distinct
    val photos = Seq(
      (1L, Multimodal.blockPatternPng(500L, 8, paired = false, isCopy = false)),
      (2L, Multimodal.blockPatternPng(500L, 4, paired = false, isCopy = false)),
      (3L, Multimodal.blockPatternPng(777L, 8, paired = false, isCopy = false))
    ).toDF("doc_id", "content")
    val bench = Seq((100L, "zz unrelated benchmark text zz")).toDF("doc_id", "text")
    val (chunks, audit) = TrainingPipeline.prepare(
      docs, bench, "doc_id", "text",
      image = Some(TrainingPipeline.ImageStage(photos)))
    val kept = chunks.select($"doc_id").distinct().collect().map(_.getLong(0)).sorted.toSeq
    assert(kept == Seq(1L, 3L), s"doc 2 must fall to the image dedup, got $kept")
    val a = audit.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(a("6c_image_deduped") == a("6_deduped") - 1)
  }
}

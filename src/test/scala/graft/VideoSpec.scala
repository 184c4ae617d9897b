package graft

import graft.functions.VideoFpSupport
import graft.operators.{Dedup, Modality, Multimodal}
import org.apache.spark.sql.functions._

/** Perceptual video fingerprinting (64-bit frame-sampled gradient hash over
  * uncompressed RGB24 AVI) + the banded pair search and the incremental
  * corpus-index/probe twin built on it — the fourth and final modality of
  * the dedup matrix.
  *
  * Fixture note: [[Multimodal.codedVideoAvi]] renders grid-exact solid-cell
  * frames (dimensions are multiples of the 3×3 grid, every cell one gray
  * value), and [[VideoFpSupport]] samples the midpoint frame of each of 8
  * equal time slices — so the fingerprint is EXACTLY the clip's frame code
  * at any resolution multiple, frame count, and brightness shift, which is
  * what makes equality assertions (not just hamming bounds) legitimate here.
  */
class VideoSpec extends SparkSpec {
  import spark.implicits._

  private def clip(
      code: Array[Int], extra: Int = -1, w: Int = 48, h: Int = 36,
      fps: Int = 2, brightness: Int = 0): Array[Byte] =
    Multimodal.codedVideoAvi(code, extra, w, h, fps, brightness)

  private def fpOf(code: Array[Int], extra: Int = -1): Long = {
    val base = code.zipWithIndex.map { case (d, t) => 1L << (8 * t + d) }.sum
    if (extra >= 0) base | (1L << extra) else base
  }

  test("fingerprint of a coded clip is exactly its code's bit pattern") {
    val code = Array(1, 2, 3, 4, 5, 6, 7, 0)
    assert(VideoFpSupport.fingerprint(clip(code)) == java.lang.Long.valueOf(fpOf(code)))
    val zeros = Array.fill(8)(0)
    assert(VideoFpSupport.fingerprint(clip(zeros)) == java.lang.Long.valueOf(fpOf(zeros)))
    // the extra frame-0 comparison bit sets exactly one more bit
    assert(VideoFpSupport.fingerprint(clip(code, extra = 4)) ==
      java.lang.Long.valueOf(fpOf(code) | (1L << 4)))
  }

  test("rescale, re-frame, and brightness re-encodes fingerprint identically (the byte-hash blind spot)") {
    val code = Array(3, 0, 6, 2, 5, 1, 4, 7)
    val base = clip(code)
    val rescaled = clip(code, w = 96, h = 72)
    val reframed = clip(code, fps = 4)
    val brighter = clip(code, brightness = 20)
    val all = clip(code, w = 144, h = 108, fps = 3, brightness = -15)
    assert(!java.util.Arrays.equals(base, rescaled), "bytes differ — md5 dedup sees two files")
    val fp = VideoFpSupport.fingerprint(base)
    assert(fp != null, "the base fixture must be valid")
    assert(VideoFpSupport.fingerprint(rescaled) == fp, "grid cells are relative fractions")
    assert(VideoFpSupport.fingerprint(reframed) == fp, "slice-midpoint sampling is duration-relative")
    assert(VideoFpSupport.fingerprint(brighter) == fp, "comparison signs survive luminance shifts")
    assert(VideoFpSupport.fingerprint(all) == fp, "all three re-encodes at once")
  }

  test("planted base/copy pair sits at hamming exactly 1; distinct codes are >= 4 apart") {
    val clips = Multimodal.videoClipFixture(Seq(10L, 11L, 12L).toDF("doc_id"), "doc_id")
      .collect().map(r => r.getLong(0) -> r.getAs[Array[Byte]](1)).toMap
    val fp = clips.view.mapValues(VideoFpSupport.fingerprint(_).longValue).toMap
    assert(java.lang.Long.bitCount(fp(10L) ^ fp(11L)) == 1, "one extra frame-0 bit")
    assert(java.lang.Long.bitCount(fp(11L) ^ fp(12L)) >= 4, "checksum code: >= 2 frames differ")
    assert(java.lang.Long.bitCount(fp(10L) ^ fp(12L)) >= 3)
  }

  test("videoFrameCode: distinct ids differ in >= 2 frames (checksum law, sampled)") {
    val codes = (0L until 800L).map(Multimodal.videoFrameCode)
    for (i <- codes.indices; j <- (i + 1) until codes.size) {
      val diff = codes(i).zip(codes(j)).count { case (a, b) => a != b }
      assert(diff >= 2, s"ids $i,$j differ in only $diff frames")
    }
  }

  // ---- untrusted-bytes rule: NULL, never throw ----

  test("non-AVI and malformed bytes fingerprint NULL, never throw (untrusted-input rule)") {
    assert(VideoFpSupport.fingerprint(null) == null)
    assert(VideoFpSupport.fingerprint(Array.empty[Byte]) == null)
    assert(VideoFpSupport.fingerprint(Array[Byte](1, 2, 3, 4, 5)) == null)
    assert(VideoFpSupport.fingerprint("RIFFxxxxAVI xxxx".getBytes) == null,
      "magic but no usable chunks")
    val png = Multimodal.blockPatternPng(1L, 4, paired = false, isCopy = false)
    assert(VideoFpSupport.fingerprint(png) == null, "an image is not a video")
    val wav = Multimodal.toneClipWav(Array(0, 1, 2, 3, 4, 5, 6), -1, 8000, 1, 12000)
    assert(VideoFpSupport.fingerprint(wav) == null, "a RIFF WAV is not a RIFF AVI")
    // truncation: the RIFF length no longer fits the buffer
    val good = clip(Array(1, 1, 2, 2, 3, 3, 4, 4))
    assert(VideoFpSupport.fingerprint(good.take(good.length - 100)) == null)
  }

  test("compressed, non-24bpp, non-vids, lying-size, and too-short clips fingerprint NULL") {
    val code = Array(0, 1, 2, 3, 4, 5, 6, 7)
    val good = clip(code)
    // header layout: strh fccType at 108, strf biWidth at 176,
    // biBitCount at 186, biCompression at 188 (see codedVideoAvi)
    def patched(f: java.nio.ByteBuffer => Unit): Array[Byte] = {
      val b = good.clone()
      val bb = java.nio.ByteBuffer.wrap(b).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      f(bb); b
    }
    assert(VideoFpSupport.fingerprint(good) != null, "the base fixture must be valid")
    assert(VideoFpSupport.fingerprint(patched(_.putInt(188, 1))) == null, "BI_RLE8 compression")
    assert(VideoFpSupport.fingerprint(patched(_.putShort(186, 32))) == null, "32bpp")
    assert(VideoFpSupport.fingerprint(
      patched(_.put(108, "auds".getBytes, 0, 4))) == null, "first stream is not vids")
    // lying dimensions: declared frame size no longer matches the chunks
    assert(VideoFpSupport.fingerprint(patched(_.putInt(176, 45))) == null)
    // fewer than MinFrames frames: sampling would alias between slices
    val short = clip(code, fps = 1) // 8 frames < 16
    assert(VideoFpSupport.fingerprint(short) == null)
  }

  test("graft_video_fp is registered for SQL and honors the NULL rule") {
    val code = Array(7, 6, 5, 4, 3, 2, 1, 0)
    val df = Seq(
      (1L, clip(code)),
      (2L, "not a video".getBytes)
    ).toDF("id", "content")
    df.createOrReplaceTempView("video_clips")
    val rows = spark.sql(
      "SELECT id, graft_video_fp(content) AS fp FROM video_clips ORDER BY id").collect()
    assert(rows(0).getLong(1) == fpOf(code))
    assert(rows(1).isNullAt(1))
  }

  // ---- the banded operator + incremental twin ----

  test("videoNearDupPairs finds exactly the planted pairs; corrupt clips never pair") {
    val ids = (0L until 60L).toDF("doc_id")
    val clips = Multimodal.videoClipFixture(ids, "doc_id")
      .union(Seq((1000L, Array[Byte](1, 2, 3))).toDF("doc_id", "content"))
    val pairs = Dedup.nearDupPairs(Modality.video, clips, "doc_id", "content", maxHamming = 1)
      .orderBy($"doc_a")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(pairs.toSeq == (0L until 60L by 10L).map(b => (b, b + 1, 1)))
  }

  test("videoProbeDups against videoCorpusIndex reports exactly the batch operator's pairs") {
    val ids = (0L until 60L).toDF("doc_id")
    val clips = Multimodal.videoClipFixture(ids, "doc_id")
    val corpus = clips.filter($"doc_id" % 10 =!= 1)
    val batch = clips.filter($"doc_id" % 10 === 1)
    val idx = Dedup.corpusIndex(Modality.video, corpus, "doc_id", "content", maxHamming = 1)
    val dups = Dedup.probeDups(Modality.video, batch, "doc_id", "content", idx, maxHamming = 1)
      .orderBy($"doc_id")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(dups.toSeq == (1L until 61L by 10L).map(c => (c, c - 1, 1)))
  }

  test("probe rejects a mismatched-parameter index and a wrong-modality index loudly") {
    val clips = Multimodal.videoClipFixture((0L until 10L).toDF("doc_id"), "doc_id")
    val idx = Dedup.corpusIndex(Modality.video, clips, "doc_id", "content", maxHamming = 1)
    val e1 = intercept[IllegalArgumentException] {
      Dedup.probeDups(Modality.video, clips, "doc_id", "content", idx, maxHamming = 3)
    }
    assert(e1.getMessage.contains("maxHamming"))
    // a VIDEO index handed to the AUDIO probe: different modality, must throw
    val wavs = Multimodal.audioClipFixture((0L until 5L).toDF("doc_id"), "doc_id")
    val e2 = intercept[IllegalArgumentException] {
      Dedup.probeDups(Modality.audio, wavs, "doc_id", "content", idx, maxHamming = 1)
    }
    assert(e2.getMessage.contains("modalit"))
    // and the reverse: an AUDIO index probed as video
    val aidx = Dedup.corpusIndex(Modality.audio, wavs, "doc_id", "content")
    val e3 = intercept[IllegalArgumentException] {
      Dedup.probeDups(Modality.video, clips, "doc_id", "content", aidx)
    }
    assert(e3.getMessage.contains("modalit"))
  }

  test("pipeline VideoStage drops the doc whose clip is a perceptual dup of a survivor's") {
    import graft.operators.{CorpusPipeline, TrainingPipeline}
    // docs 10 (base clip) and 11 (re-encoded copy) plus 12 (distinct clip)
    // and 13 (no clip at all); unrelated texts so only the video stage decides
    val docs = Seq(
      (10L, "the quick brown fox jumps over the lazy dog near the river bank in the " +
        "morning light with dew still resting on the open grass"),
      (11L, "a committee met on tuesday to review the annual budget and approve the " +
        "spending plan for the coming year after a long discussion"),
      (12L, "sailors watched the storm gather over the harbor while the fishing boats " +
        "returned early to the safety of the old stone pier"),
      (13L, "gardeners planted rows of tomatoes and beans along the southern fence " +
        "where the afternoon sun lingers longest in summer")
    ).toDF("doc_id", "text")
    val bench = Seq((100L, "completely unrelated benchmark text about other matters " +
      "entirely with none of the corpus phrasing present anywhere")).toDF("doc_id", "text")
    val clips = Multimodal.videoClipFixture(Seq(10L, 11L, 12L).toDF("doc_id"), "doc_id")
      .union(Seq((12L + 1000L, Array[Byte](9, 9, 9))).toDF("doc_id", "content"))
    val (chunks, audit) = TrainingPipeline.prepare(
      docs, bench, "doc_id", "text",
      cfg = TrainingPipeline.Config(corpus = CorpusPipeline.Config(nearDupJaccard = 1.01)),
      video = Some(TrainingPipeline.VideoStage(clips, maxHamming = 1)))
    val kept = chunks.select($"doc_id").distinct().as[Long].collect().toSet
    assert(kept == Set(10L, 12L, 13L),
      s"the copy's doc (11) must collapse onto 10; clipless and distinct docs survive: $kept")
    val a = audit.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(a("6c3_video_deduped") == 3 && a("6_deduped") == 4)
  }

  test("index banding stamp survives a parquet round-trip") {
    val clips = Multimodal.videoClipFixture((0L until 6L).toDF("doc_id"), "doc_id")
    val idx = Dedup.corpusIndex(Modality.video, clips, "doc_id", "content", maxHamming = 1)
    val dir = java.nio.file.Files.createTempDirectory("video_idx").toString
    idx.write.mode("overwrite").parquet(dir)
    val back = spark.read.parquet(dir)
    val e = intercept[IllegalArgumentException] {
      Dedup.probeDups(Modality.video, clips, "doc_id", "content", back, maxHamming = 2)
    }
    assert(e.getMessage.contains("maxHamming=1"))
  }
}

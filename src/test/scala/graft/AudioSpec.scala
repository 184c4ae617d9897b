package graft

import graft.functions.{AudioExprs, AudioFpSupport}
import graft.operators.{Dedup, Modality, Multimodal}
import org.apache.spark.sql.functions._

/** Perceptual audio fingerprinting (49-bit energy map over PCM) + the banded
  * pair search and the incremental corpus-index/probe twin built on it.
  *
  * Fixture note: [[Multimodal.toneClipWav]] synthesizes 7×100 ms slices of
  * pure sines on the 300..900 Hz band grid; every band and band-difference
  * frequency completes an integer number of cycles per slice, so Goertzel
  * leakage between bands is zero by orthogonality and the fingerprint is
  * EXACTLY the tone code — which is what makes equality assertions (not just
  * hamming bounds) legitimate here.
  */
class AudioSpec extends SparkSpec {
  import spark.implicits._

  private def mono(code: Array[Int], amp: Int = 12000, rate: Int = 8000): Array[Byte] =
    Multimodal.toneClipWav(code, -1, rate, channels = 1, amplitude = amp)

  private def fpOf(code: Array[Int]): Long =
    code.zipWithIndex.map { case (b, t) => 1L << (7 * t + b) }.sum

  test("fingerprint of a tone clip is exactly its code's bit pattern") {
    val code = Array(1, 2, 3, 4, 5, 6, 0)
    assert(AudioFpSupport.fingerprint(mono(code)) == java.lang.Long.valueOf(fpOf(code)))
    // all-zero code: every slice dominates band 0
    val zeros = Array(0, 0, 0, 0, 0, 0, 0)
    assert(AudioFpSupport.fingerprint(mono(zeros)) == java.lang.Long.valueOf(fpOf(zeros)))
  }

  test("resampling, gain, and stereo re-encodes fingerprint identically (the byte-hash blind spot)") {
    val code = Array(3, 0, 6, 2, 5, 1, 4)
    val base = mono(code)
    val resampled = mono(code, rate = 16000)
    val quiet = mono(code, amp = 3000)
    val stereo = Multimodal.toneClipWav(code, -1, 16000, channels = 2, amplitude = 4000)
    assert(!java.util.Arrays.equals(base, resampled), "bytes differ — md5 dedup sees two files")
    val fp = AudioFpSupport.fingerprint(base)
    assert(AudioFpSupport.fingerprint(resampled) == fp, "duration-relative slices + absolute Hz")
    assert(AudioFpSupport.fingerprint(quiet) == fp, "per-slice normalization cancels gain")
    assert(AudioFpSupport.fingerprint(stereo) == fp, "channels are mixed before analysis")
  }

  test("two equal tones in one slice each hold ~0.5 share: both bits set") {
    val code = Array(0, 1, 2, 3, 4, 5, 6)
    val twoTone = Multimodal.toneClipWav(code, 3, 8000, channels = 1, amplitude = 12000)
    assert(AudioFpSupport.fingerprint(twoTone) ==
      java.lang.Long.valueOf(fpOf(code) | (1L << 3)))
  }

  test("planted base/copy pair sits at hamming exactly 1; distinct codes are >= 4 apart") {
    val clips = Multimodal.audioClipFixture(Seq(10L, 11L, 12L).toDF("doc_id"), "doc_id")
      .collect().map(r => r.getLong(0) -> r.getAs[Array[Byte]](1)).toMap
    val fp = clips.view.mapValues(AudioFpSupport.fingerprint(_).longValue).toMap
    assert(java.lang.Long.bitCount(fp(10L) ^ fp(11L)) == 1, "one extra slice-0 tone bit")
    assert(java.lang.Long.bitCount(fp(11L) ^ fp(12L)) >= 4, "checksum code: >= 2 slices differ")
    assert(java.lang.Long.bitCount(fp(10L) ^ fp(12L)) >= 3)
  }

  test("audioToneCode: distinct ids differ in >= 2 slices (checksum law, sampled)") {
    val codes = (0L until 800L).map(Multimodal.audioToneCode)
    for (i <- codes.indices; j <- (i + 1) until codes.size) {
      val diff = codes(i).zip(codes(j)).count { case (a, b) => a != b }
      assert(diff >= 2, s"ids $i,$j differ in only $diff slices")
    }
  }

  // ---- untrusted-bytes rule: NULL, never throw ----

  test("non-WAV and malformed bytes fingerprint NULL, never throw (untrusted-input rule)") {
    assert(AudioFpSupport.fingerprint(null) == null)
    assert(AudioFpSupport.fingerprint(Array.empty[Byte]) == null)
    assert(AudioFpSupport.fingerprint(Array[Byte](1, 2, 3, 4, 5)) == null)
    assert(AudioFpSupport.fingerprint("RIFFxxxxWAVE".getBytes) == null, "headers but no chunks")
    val png = Multimodal.blockPatternPng(1L, 4, paired = false, isCopy = false)
    assert(AudioFpSupport.fingerprint(png) == null, "an image is not audio")
    // header-only WAV whose data chunk LIES about its length (wavBytes caps
    // the payload): a truncated required chunk is fatal
    assert(AudioFpSupport.fingerprint(Multimodal.wavBytes(1, 8000, 16, 100000)) == null)
  }

  test("non-PCM, wrong depth, bad channel count, and sub-Nyquist rates fingerprint NULL") {
    val good = mono(Array(0, 1, 2, 3, 4, 5, 6))
    def patched(f: java.nio.ByteBuffer => Unit): Array[Byte] = {
      val b = good.clone()
      val bb = java.nio.ByteBuffer.wrap(b).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      f(bb); b
    }
    assert(AudioFpSupport.fingerprint(good) != null, "the base fixture must be valid")
    assert(AudioFpSupport.fingerprint(patched(_.putShort(20, 3))) == null, "IEEE-float format")
    assert(AudioFpSupport.fingerprint(patched(_.putShort(34, 8))) == null, "8-bit depth")
    assert(AudioFpSupport.fingerprint(patched(_.putShort(22, 3))) == null, "3 channels")
    assert(AudioFpSupport.fingerprint(patched(_.putInt(24, 1000))) == null,
      "1 kHz rate puts the 900 Hz band above Nyquist")
    assert(AudioFpSupport.fingerprint(patched(_.putInt(24, 0))) == null, "zero rate")
  }

  test("hostile u32 chunk sizes: fatal before data, lenient on a trailing junk chunk") {
    val good = mono(Array(2, 2, 2, 2, 2, 2, 5))
    val fp = AudioFpSupport.fingerprint(good)
    // lying-length unknown chunk BETWEEN fmt and data (fmt ends at offset 36):
    // the data chunk becomes unreachable -> NULL
    val lying = java.nio.ByteBuffer.allocate(good.length + 8)
    lying.put(good, 0, 36)
    lying.put("JUNK".getBytes).order(java.nio.ByteOrder.LITTLE_ENDIAN).putInt(0xFFFFFFFF)
    lying.put(good, 36, good.length - 36)
    assert(AudioFpSupport.fingerprint(lying.array()) == null)
    // same hostile chunk APPENDED after a complete fmt+data walk: recoverable
    val trailing = java.nio.ByteBuffer.allocate(good.length + 8)
    trailing.put(good)
    trailing.put("JUNK".getBytes).order(java.nio.ByteOrder.LITTLE_ENDIAN).putInt(0xFFFFFFFF)
    assert(AudioFpSupport.fingerprint(trailing.array()) == fp)
  }

  test("unknown chunks are skipped with word alignment (odd-length LIST before data)") {
    val good = mono(Array(4, 4, 4, 4, 4, 4, 3))
    val fp = AudioFpSupport.fingerprint(good)
    val withList = java.nio.ByteBuffer.allocate(good.length + 8 + 5 + 1)
    withList.put(good, 0, 36)
    withList.put("LIST".getBytes).order(java.nio.ByteOrder.LITTLE_ENDIAN).putInt(5)
    withList.put(Array[Byte](1, 2, 3, 4, 5, 0)) // 5 payload + 1 pad byte
    withList.put(good, 36, good.length - 36)
    assert(AudioFpSupport.fingerprint(withList.array()) == fp)
  }

  test("graft_audio_fp is registered for SQL and honors the NULL rule") {
    val df = Seq(
      (1L, mono(Array(0, 0, 0, 0, 0, 0, 0))),
      (2L, "not audio".getBytes)
    ).toDF("id", "content")
    df.createOrReplaceTempView("audio_clips")
    val rows = spark.sql(
      "SELECT id, graft_audio_fp(content) AS fp FROM audio_clips ORDER BY id").collect()
    assert(rows(0).getLong(1) == fpOf(Array(0, 0, 0, 0, 0, 0, 0)))
    assert(rows(1).isNullAt(1))
  }

  // ---- the banded operator + incremental twin ----

  test("audioNearDupPairs finds exactly the planted pairs; corrupt clips never pair") {
    val ids = (0L until 60L).toDF("doc_id")
    val clips = Multimodal.audioClipFixture(ids, "doc_id")
      // plant a corrupt blob alongside: must be invisible
      .union(Seq((1000L, Array[Byte](1, 2, 3))).toDF("doc_id", "content"))
    val pairs = Dedup.nearDupPairs(Modality.audio, clips, "doc_id", "content", maxHamming = 1)
      .orderBy($"doc_a")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(pairs.toSeq == (0L until 60L by 10L).map(b => (b, b + 1, 1)))
  }

  test("audioProbeDups against audioCorpusIndex reports exactly the batch operator's pairs") {
    val ids = (0L until 60L).toDF("doc_id")
    val clips = Multimodal.audioClipFixture(ids, "doc_id")
    val corpus = clips.filter($"doc_id" % 10 =!= 1)
    val batch = clips.filter($"doc_id" % 10 === 1)
    val idx = Dedup.corpusIndex(Modality.audio, corpus, "doc_id", "content", maxHamming = 1)
    val dups = Dedup.probeDups(Modality.audio, batch, "doc_id", "content", idx, maxHamming = 1)
      .orderBy($"doc_id")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(dups.toSeq == (1L until 61L by 10L).map(c => (c, c - 1, 1)))
  }

  test("probe rejects a mismatched-parameter index and a wrong-modality index loudly") {
    val clips = Multimodal.audioClipFixture((0L until 10L).toDF("doc_id"), "doc_id")
    val idx = Dedup.corpusIndex(Modality.audio, clips, "doc_id", "content", maxHamming = 1)
    val e1 = intercept[IllegalArgumentException] {
      Dedup.probeDups(Modality.audio, clips, "doc_id", "content", idx, maxHamming = 3)
    }
    assert(e1.getMessage.contains("maxHamming"))
    // an AUDIO index handed to the PHASH probe: different modality, must throw
    val photos = Multimodal.phashPhotoFixture((0L until 5L).toDF("doc_id"), "doc_id")
    val e2 = intercept[IllegalArgumentException] {
      Dedup.probeDups(Modality.photo, photos, "doc_id", "content", idx, maxHamming = 1)
    }
    assert(e2.getMessage.contains("modalit"))
    // and the reverse: a PHASH index probed as audio
    val pidx = Dedup.corpusIndex(Modality.photo, photos, "doc_id", "content")
    val e3 = intercept[IllegalArgumentException] {
      Dedup.probeDups(Modality.audio, clips, "doc_id", "content", pidx)
    }
    assert(e3.getMessage.contains("modalit"))
  }

  test("pipeline AudioStage drops the doc whose clip is a perceptual dup of a survivor's") {
    import graft.operators.{CorpusPipeline, TrainingPipeline}
    // docs 10 (base clip) and 11 (resampled/stereo/gain copy) plus 12
    // (distinct clip) and 13 (no clip at all); unrelated texts so only the
    // audio stage decides
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
    val clips = Multimodal.audioClipFixture(Seq(10L, 11L, 12L).toDF("doc_id"), "doc_id")
      // plant a corrupt blob for a doc that must still survive
      .union(Seq((12L + 1000L, Array[Byte](9, 9, 9))).toDF("doc_id", "content"))
    val (chunks, audit) = TrainingPipeline.prepare(
      docs, bench, "doc_id", "text",
      cfg = TrainingPipeline.Config(corpus = CorpusPipeline.Config(nearDupJaccard = 1.01)),
      audio = Some(TrainingPipeline.AudioStage(clips, maxHamming = 1)))
    val kept = chunks.select($"doc_id").distinct().as[Long].collect().toSet
    assert(kept == Set(10L, 12L, 13L),
      s"the copy's doc (11) must collapse onto 10; clipless and distinct docs survive: $kept")
    val a = audit.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(a("6c2_audio_deduped") == 3 && a("6_deduped") == 4)
  }

  test("index banding stamp survives a parquet round-trip") {
    val clips = Multimodal.audioClipFixture((0L until 6L).toDF("doc_id"), "doc_id")
    val idx = Dedup.corpusIndex(Modality.audio, clips, "doc_id", "content", maxHamming = 1)
    val dir = java.nio.file.Files.createTempDirectory("audio_idx").toString
    idx.write.mode("overwrite").parquet(dir)
    val back = spark.read.parquet(dir)
    val e = intercept[IllegalArgumentException] {
      Dedup.probeDups(Modality.audio, clips, "doc_id", "content", back, maxHamming = 2)
    }
    assert(e.getMessage.contains("maxHamming=1"))
  }
}

package graft.functions

import graft.functions.GraftFunction._
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext
import org.apache.spark.sql.types.{DataType, LongType}

/** Perceptual AUDIO fingerprint — the audio twin of
  * [[MediaExprs.imageDHash64]], closing the modality gap the round-8
  * verdict named: header metadata (q92) sees a re-encoded copy as a
  * different file, a content fingerprint does not.
  *
  * Algorithm (energy-map hashing in the lineage of Haitsma & Kalker 2002,
  * "A Highly Robust Audio Fingerprinting System", simplified to a fixed
  * 49-bit map): decode PCM, mix to mono, split the clip into 7 equal-TIME
  * slices, measure per-slice energy at 7 fixed frequencies (300..900 Hz,
  * Goertzel — an O(N) single-bin DFT per band), normalize within the
  * slice, and set bit (7·t + b) when band b holds a dominant share
  * (> 0.25) of slice t's energy. Robustness by construction:
  *
  *  - RESAMPLING: slices are duration-relative and the probe frequencies
  *    absolute (Hz), so any sample rate maps the same sound to the same
  *    cells; Goertzel runs at the file's own rate.
  *  - GAIN / re-encode level changes: energies are normalized per slice —
  *    a global amplitude scale cancels.
  *  - Stereo/mono: channels are mixed before analysis.
  *
  * Untrusted-bytes rule (the q33/q92/q105 contract): anything that is not
  * a complete 16-bit PCM WAV — wrong magic, non-PCM format, truncated
  * data chunk, too-short clip, rate below the Nyquist needs of the top
  * band — hashes NULL and never pairs. NULL, not an exception: corrupt
  * rows must not kill a 100 TB scan.
  */
object AudioFpSupport {

  final val Slices = 7
  final val BandHz: Array[Int] = Array(300, 400, 500, 600, 700, 800, 900)
  final val Bits = 49 // Slices * BandHz.length

  /** 49-bit fingerprint of a WAV clip, or null for anything untrusted. */
  def fingerprint(bytes: Array[Byte]): java.lang.Long = {
    val pcm = decodeMonoPcm(bytes)
    if (pcm == null) return null
    val (samples, rate) = pcm
    val n = samples.length
    if (n < Slices * 8) return null // too short to slice meaningfully
    if (rate < 2 * BandHz(BandHz.length - 1)) return null // bands above Nyquist
    var fp = 0L
    var t = 0
    while (t < Slices) {
      val from = (n.toLong * t / Slices).toInt
      val until = (n.toLong * (t + 1) / Slices).toInt
      val e = new Array[Double](BandHz.length)
      var total = 0.0
      var b = 0
      while (b < BandHz.length) {
        e(b) = goertzelPower(samples, from, until, BandHz(b), rate)
        total += e(b)
        b += 1
      }
      if (total > 0.0) {
        b = 0
        while (b < BandHz.length) {
          if (e(b) / total > 0.25) fp |= 1L << (Slices * t + b)
          b += 1
        }
      }
      t += 1
    }
    java.lang.Long.valueOf(fp)
  }

  /** Goertzel power of frequency `hz` over samples [from, until). */
  private def goertzelPower(s: Array[Short], from: Int, until: Int, hz: Int, rate: Int): Double = {
    val coeff = 2.0 * math.cos(2.0 * math.Pi * hz / rate)
    var s1 = 0.0
    var s2 = 0.0
    var i = from
    while (i < until) {
      val v = s(i) + coeff * s1 - s2
      s2 = s1
      s1 = v
      i += 1
    }
    s1 * s1 + s2 * s2 - coeff * s1 * s2
  }

  /** Strict 16-bit PCM WAV decode to (mono samples, sample rate); null on
    * any malformation. Chunk walk over RIFF little-endian.
    */
  private def decodeMonoPcm(bytes: Array[Byte]): (Array[Short], Int) = {
    if (bytes == null || bytes.length < 44) return null
    def u8(i: Int) = bytes(i) & 0xFF
    def le16(i: Int) = u8(i) | (u8(i + 1) << 8)
    def le32(i: Int) = u8(i).toLong | (u8(i + 1).toLong << 8) |
      (u8(i + 2).toLong << 16) | (u8(i + 3).toLong << 24)
    def tag(i: Int) = new String(bytes, i, 4, java.nio.charset.StandardCharsets.US_ASCII)
    if (tag(0) != "RIFF" || tag(8) != "WAVE") return null
    var pos = 12
    var channels = 0
    var rate = 0
    var fmtOk = false
    var dataOff = -1
    var dataLen = -1L
    while (pos + 8 <= bytes.length && (dataOff < 0 || !fmtOk)) {
      val id = tag(pos)
      val len = le32(pos + 4)
      if (len < 0 || pos + 8 + len > bytes.length) {
        // truncated or lying chunk: only fatal if it is one we need
        if (id == "fmt " || id == "data") return null
        return if (fmtOk && dataOff >= 0) finishDecode(bytes, dataOff, dataLen, channels, rate)
        else null
      }
      if (id == "fmt " && len >= 16) {
        val audioFormat = le16(pos + 8)
        channels = le16(pos + 10)
        rate = le32(pos + 12).toInt
        val bps = le16(pos + 22)
        fmtOk = audioFormat == 1 && bps == 16 && (channels == 1 || channels == 2) && rate > 0
        if (!fmtOk) return null
      } else if (id == "data") {
        dataOff = pos + 8
        dataLen = len
      }
      pos += (8L + len + (len & 1L)).toInt // chunks are word-aligned
    }
    if (!fmtOk || dataOff < 0) return null
    finishDecode(bytes, dataOff, dataLen, channels, rate)
  }

  private def finishDecode(
      bytes: Array[Byte], off: Int, len: Long, channels: Int, rate: Int): (Array[Short], Int) = {
    val frameBytes = 2 * channels
    val frames = (len / frameBytes).toInt
    if (frames <= 0) return null
    val out = new Array[Short](frames)
    var i = 0
    while (i < frames) {
      val base = off + i * frameBytes
      val l = ((bytes(base) & 0xFF) | (bytes(base + 1) << 8)).toShort
      out(i) =
        if (channels == 1) l
        else {
          val r = ((bytes(base + 2) & 0xFF) | (bytes(base + 3) << 8)).toShort
          ((l + r) / 2).toShort
        }
      i += 1
    }
    (out, rate)
  }
}

/** 49-bit audio energy-map fingerprint of a binary WAV column; NULL on
  * anything that is not complete 16-bit PCM.
  */
case class AudioFingerprint(child: Expression)
    extends GraftUnary("graft_audio_fp", "binary content", isBinary, nullResult = true) {
  override def dataType: DataType = LongType

  protected def call(a: Any): Any = AudioFpSupport.fingerprint(bytes(a))
  protected def callCode(ctx: CodegenContext, a: String): String =
    s"graft.functions.AudioFpSupport.fingerprint($a)"

  override protected def withNewChildInternal(c: Expression): AudioFingerprint = copy(child = c)
}

object AudioExprs {
  /** 49-bit perceptual audio fingerprint (see [[AudioFpSupport]]). */
  def audioFingerprint(content: Column): Column = column(AudioFingerprint, content)
}

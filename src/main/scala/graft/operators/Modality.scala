package graft.operators

import graft.functions.{AudioExprs, AudioFpSupport, MediaExprs, VideoExprs, VideoFpSupport}
import org.apache.spark.sql.Column

/** One perceptual-fingerprint family for the banded media dedups
  * ([[Dedup.nearDupPairs]], [[Dedup.corpusIndex]], [[Dedup.probeDups]]).
  * The families share the whole Manku banding pipeline and differ only in
  * what is listed here.
  *
  * @param family      banding-stamp name written on a corpus index's key
  *                    column; an index of one family never probes as another
  * @param bits        fingerprint width handed to the banding
  * @param fingerprint content column → 64-bit fingerprint (NULL for bytes
  *                    that do not decode); for the verified family, the
  *                    struct<dhash, ahash> of ONE decode
  * @param maxAHamming the aHash confirm bound — set only by
  *                    [[Modality.photoVerified]]: a dHash candidate must also
  *                    agree on aHash within it (output gains `a_hamming`,
  *                    the index gains `corpus_afp`)
  */
final class Modality private (
    val family: String,
    val bits: Int,
    val fingerprint: Column => Column,
    val maxAHamming: Option[Int]
)

object Modality {

  /** 64-bit perceptual dHash over the decoded luminance grid
    * ([[graft.functions.PHashSupport]]): catches re-encoded / recompressed /
    * resized image copies whose BYTES differ — invisible to byte-digest
    * dedup, the reference's only image mechanism.
    */
  val photo = new Modality("phash", 64, MediaExprs.imageDHash64, None)

  /** dHash banding candidates confirmed on aHash within `maxAHamming`:
    * dHash sees only horizontal luminance GRADIENTS, so images with equal
    * gradient signs but different absolute luminance layouts (banner
    * recolors, inverted themes) collide at dHash hamming 0; aHash
    * thresholds cells against the global mean, the orthogonal signal, and
    * rejects them. Both hashes come from one decode
    * ([[graft.functions.PHashSupport.dualHash64]]), so the confirm is one
    * projected column on the same banding join.
    */
  def photoVerified(maxAHamming: Int = 8): Modality =
    new Modality("phashv", 64, MediaExprs.imageDualHash64, Some(maxAHamming))

  /** 49-bit energy-map fingerprint over decoded 16-bit PCM WAV
    * ([[graft.functions.AudioFpSupport]] — Haitsma-Kalker-style slice×band
    * dominance): catches resampled / re-encoded / gain-shifted clips.
    */
  val audio = new Modality("audio", AudioFpSupport.Bits, AudioExprs.audioFingerprint, None)

  /** 64-bit frame-sampled fingerprint of an uncompressed RGB24 AVI
    * ([[graft.functions.VideoFpSupport]] — 8 slice-midpoint frames × 8
    * block-luminance gradient bits): catches rescaled / re-framed /
    * brightness-shifted clips.
    */
  val video = new Modality("video", VideoFpSupport.Bits, VideoExprs.videoFingerprint, None)

  /** Every family, one value each — the list a probe checks a foreign
    * index stamp against.
    */
  val all: Seq[Modality] = Seq(photo, photoVerified(), audio, video)
}

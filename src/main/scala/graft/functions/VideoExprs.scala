package graft.functions

import graft.functions.GraftFunction._
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext
import org.apache.spark.sql.types.{DataType, LongType}

/** Perceptual VIDEO fingerprint — the video twin of
  * [[MediaExprs.imageDHash64]] / [[AudioFpSupport]], closing the last
  * modality gap: header metadata (q92/q93) sees a re-encoded or rescaled
  * video copy as a different file, a content fingerprint does not.
  *
  * Algorithm (frame-sampled gradient hashing — the temporal analogue of
  * dHash, in the lineage of video copy-detection keyframe signatures,
  * e.g. Wu et al. 2007 "Practical Elimination of Near-Duplicates from Web
  * Video Search"): decode the container, sample 8 frames at the MIDPOINTS
  * of 8 equal TIME slices, reduce each sampled frame to a 3×3
  * block-average luminance grid, and take the 8 raster-adjacent
  * comparisons cell(i) > cell(i+1) as that frame's 8 bits — bit
  * (8·t + i) of the 64-bit fingerprint. Robustness by construction:
  *
  *  - FRAME-RATE / frame-count re-encode: sample positions are
  *    duration-relative (slice midpoints), so a 2× fps copy samples the
  *    same CONTENT instants.
  *  - RESCALE: grid cells are relative fractions of width/height;
  *    block-average luminance is invariant under integer upscaling and
  *    stable under real resampling.
  *  - BRIGHTNESS / contrast shifts: the bits are comparison SIGNS between
  *    cells, invariant under any monotone per-pixel luminance map.
  *
  * Exactness note (the house rule): cell comparisons are evaluated as
  * cross-multiplied integer sums (sumA·cntB > sumB·cntA) — no floating
  * division anywhere, so the fingerprint is bit-reproducible on any JVM.
  *
  * Container: uncompressed RGB24 AVI ('vids' stream, DIB / BI_RGB, '00db'
  * frame chunks) — the one video container a scan-side expression can
  * decode without codec libraries, and the RIFF sibling of the WAV walk
  * in [[AudioFpSupport]]. Untrusted-bytes rule (the q33/q92/q105
  * contract): anything that is not a complete uncompressed RGB24 AVI —
  * wrong magic, missing/short headers, a compressed or non-vids first
  * stream, a frame chunk whose size disagrees with the declared
  * dimensions, a truncated chunk, fewer than 16 frames, dimensions below
  * the 3×3 grid — fingerprints NULL and never pairs. NULL, not an
  * exception: corrupt rows must not kill a 100 TB scan.
  */
object VideoFpSupport {

  final val Slices = 8
  final val Grid = 3
  final val BitsPerFrame = 8 // raster-adjacent comparisons over 9 cells
  final val Bits = 64 // Slices * BitsPerFrame
  final val MinFrames = 2 * Slices // slice-midpoint sampling needs ≥ 2 frames/slice

  /** 64-bit fingerprint of an uncompressed RGB24 AVI, or null for
    * anything untrusted.
    */
  def fingerprint(bytes: Array[Byte]): java.lang.Long = {
    val avi = decodeAvi(bytes)
    if (avi == null) return null
    val (w, h, stride, frames) = avi
    val n = frames.length
    if (n < MinFrames) return null
    if (w < Grid || h < Grid) return null
    var fp = 0L
    var t = 0
    while (t < Slices) {
      // midpoint of time slice t: robust to frame-count changes because
      // floor(n·(2t+1)/16) always lands strictly inside content slice t
      // for n ≥ 16 (see the fixture's derivation in Multimodal)
      val idx = (n.toLong * (2 * t + 1) / (2 * Slices)).toInt
      val off = frames(idx)
      // 3×3 block sums of (r+g+b) — long: a 4K cell is ~3M px × 765
      val sums = new Array[Long](Grid * Grid)
      val cnts = new Array[Long](Grid * Grid)
      var gr = 0
      while (gr < Grid) {
        val y0 = h * gr / Grid
        val y1 = h * (gr + 1) / Grid
        var gc = 0
        while (gc < Grid) {
          val x0 = w * gc / Grid
          val x1 = w * (gc + 1) / Grid
          var s = 0L
          var y = y0
          while (y < y1) {
            // DIB frames are bottom-up: image row y is file row h-1-y
            val rowOff = off + (h - 1 - y).toLong * stride
            var x = x0
            while (x < x1) {
              val p = (rowOff + 3L * x).toInt
              s += (bytes(p) & 0xFF) + (bytes(p + 1) & 0xFF) + (bytes(p + 2) & 0xFF)
              x += 1
            }
            y += 1
          }
          sums(gr * Grid + gc) = s
          cnts(gr * Grid + gc) = (y1 - y0).toLong * (x1 - x0)
          gc += 1
        }
        gr += 1
      }
      var i = 0
      while (i < BitsPerFrame) {
        // avg(i) > avg(i+1), exactly, without division
        if (sums(i) * cnts(i + 1) > sums(i + 1) * cnts(i))
          fp |= 1L << (BitsPerFrame * t + i)
        i += 1
      }
      t += 1
    }
    java.lang.Long.valueOf(fp)
  }

  /** Strict uncompressed-RGB24-AVI decode to (width, height, rowStride,
    * frame data offsets); null on any malformation. RIFF chunk walk,
    * little-endian, word-aligned — the video sibling of
    * [[AudioFpSupport]]'s WAV walk. The FIRST stream must be
    * 'vids'/DIB/BI_RGB/24bpp; frames are the '00db' chunks of the movi
    * list (other streams' chunks and idx1/JUNK are skipped); every frame
    * chunk must be exactly rowStride·height bytes.
    */
  private def decodeAvi(bytes: Array[Byte]): (Int, Int, Int, Array[Int]) = {
    if (bytes == null || bytes.length < 24) return null
    def u8(i: Int) = bytes(i) & 0xFF
    def le16(i: Int) = u8(i) | (u8(i + 1) << 8)
    def le32(i: Int) = u8(i).toLong | (u8(i + 1).toLong << 8) |
      (u8(i + 2).toLong << 16) | (u8(i + 3).toLong << 24)
    def tag(i: Int) = new String(bytes, i, 4, java.nio.charset.StandardCharsets.US_ASCII)
    if (tag(0) != "RIFF" || tag(8) != "AVI ") return null
    val riffLen = le32(4)
    if (riffLen < 4 || 8 + riffLen > bytes.length) return null
    val limit = (8 + riffLen).toInt

    var width = 0
    var height = 0
    var haveVids = false
    var fmtOk = false
    val frameOffs = new java.util.ArrayList[Integer]()

    // walk the strl LIST: the FIRST stream header decides acceptance
    def walkStrl(from: Int, until: Int): Boolean = {
      var pos = from
      var sawStrh = false
      var strhVids = false
      while (pos + 8 <= until) {
        val id = tag(pos)
        val len = le32(pos + 4)
        if (len < 0 || pos + 8 + len > until) return false
        if (id == "strh" && !sawStrh) {
          sawStrh = true
          if (len < 8) return false
          strhVids = tag(pos + 8) == "vids"
        } else if (id == "strf" && strhVids) {
          // BITMAPINFOHEADER: biWidth(+4), biHeight(+8), biBitCount(+14), biCompression(+16)
          if (len < 40) return false
          val bw = le32(pos + 8 + 4)
          val bh = le32(pos + 8 + 8)
          val bits = le16(pos + 8 + 14)
          val comp = le32(pos + 8 + 16)
          if (bw <= 0 || bw > 65536 || bh <= 0 || bh > 65536) return false
          if (bits != 24 || comp != 0L) return false // not uncompressed RGB24
          width = bw.toInt
          height = bh.toInt
          fmtOk = true
        }
        pos += (8L + len + (len & 1L)).toInt
      }
      sawStrh && strhVids
    }

    def walkList(from: Int, until: Int): Boolean = {
      var pos = from
      while (pos + 8 <= until) {
        val id = tag(pos)
        val len = le32(pos + 4)
        if (len < 0 || pos + 8 + len > until) return false
        val body = pos + 8
        val bodyEnd = (body + len).toInt
        if (id == "LIST") {
          if (len < 4) return false
          tag(body) match {
            case "hdrl" => if (!walkList(body + 4, bodyEnd)) return false
            case "strl" =>
              // only the FIRST stream is inspected; later strl lists are
              // skipped (an AVI with an audio track still fingerprints)
              if (!haveVids) {
                if (!walkStrl(body + 4, bodyEnd)) return false
                haveVids = true
              }
            case "movi" =>
              var mp = body + 4
              while (mp + 8 <= bodyEnd) {
                val cid = tag(mp)
                val clen = le32(mp + 4)
                if (clen < 0 || mp + 8 + clen > bodyEnd) return false
                if (cid == "00db" || cid == "00dc") {
                  // uncompressed frames only; a '00dc' chunk is legal in
                  // the wild for BI_RGB too, but its size must still match
                  frameOffs.add(mp + 8)
                  if (!fmtOk) return false // movi before a valid vids strf
                  val expect = rowStride(width).toLong * height
                  if (clen != expect) return false
                }
                mp += (8L + clen + (clen & 1L)).toInt
              }
            case _ => // unknown LIST (e.g. INFO): skip
          }
        }
        // non-LIST top-level chunks (idx1, JUNK, avih outside hdrl): skip
        pos += (8L + len + (len & 1L)).toInt
      }
      true
    }

    if (!walkList(12, limit)) return null
    if (!haveVids || !fmtOk || frameOffs.isEmpty) return null
    val offs = new Array[Int](frameOffs.size)
    var i = 0
    while (i < offs.length) { offs(i) = frameOffs.get(i); i += 1 }
    (width, height, rowStride(width), offs)
  }

  /** DIB rows are padded to 4-byte boundaries. */
  def rowStride(width: Int): Int = ((width * 3 + 3) / 4) * 4
}

/** 64-bit frame-sampled perceptual video fingerprint of a binary AVI
  * column; NULL on anything that is not a complete uncompressed RGB24 AVI.
  */
case class VideoFingerprint(child: Expression)
    extends GraftUnary("graft_video_fp", "binary content", isBinary, nullResult = true) {
  override def dataType: DataType = LongType

  protected def call(a: Any): Any = VideoFpSupport.fingerprint(bytes(a))
  protected def callCode(ctx: CodegenContext, a: String): String =
    s"graft.functions.VideoFpSupport.fingerprint($a)"

  override protected def withNewChildInternal(c: Expression): VideoFingerprint = copy(child = c)
}

object VideoExprs {
  /** 64-bit frame-sampled perceptual video fingerprint (see
    * [[VideoFpSupport]]).
    */
  def videoFingerprint(content: Column): Column = column(VideoFingerprint, content)
}

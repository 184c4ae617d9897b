package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.graftshim.ColumnShim
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native codegen expressions for the decode-free media header sniffers —
  * the scan-side first pass over a crawled media corpus (reference asset
  * handling: scrapers/vgsi/source.py:647-669 stores binary assets; the
  * engine's gates need format/dimensions/duration without a decode).
  *
  * These were the last per-row ScalaUDFs on the query path: the byte-walks
  * are custom logic no builtin expresses, but a ScalaUDF pays CatalystTypeConverter
  * ser/de both ways and breaks whole-stage codegen around the projection.
  * The walk now lives in [[MediaSniffSupport]] as static methods over the
  * raw `byte[]` producing `InternalRow` directly (no Option/tuple/case-class
  * garbage per row), and the expressions participate in codegen exactly like
  * the HashExprs family. [[graft.operators.Multimodal.sniffImage]] /
  * `sniffAudioVideo` remain as thin Option-typed wrappers over the SAME
  * walk, so the fuzz suites harden the code the query path runs.
  *
  * Contract over untrusted bytes (fuzz-pinned): total — never throw, never
  * loop unboundedly; `null` row = not positively identified (the
  * corrupt-media gate).
  */
object MediaSniffSupport {

  /** Image container sniff: PNG (IHDR, big-endian), JPEG (marker scan to the
    * first SOF), GIF (little-endian logical screen), BMP (little-endian DIB,
    * |height| because top-down bitmaps store it negative).
    * Returns InternalRow(format: UTF8String, width: Int, height: Int) or
    * null when the bytes are not a recognizable image.
    */
  def imageRow(bytes: Array[Byte]): InternalRow = {
    if (bytes == null) return null
    def u8(i: Int): Int = bytes(i) & 0xff
    def be32(i: Int): Long = (u8(i).toLong << 24) | (u8(i + 1) << 16) | (u8(i + 2) << 8) | u8(i + 3)
    def le16(i: Int): Int = u8(i) | (u8(i + 1) << 8)
    def le32(i: Int): Long = u8(i).toLong | (u8(i + 1).toLong << 8) | (u8(i + 2).toLong << 16) | (u8(i + 3).toLong << 24)
    def be16(i: Int): Int = (u8(i) << 8) | u8(i + 1)
    def row(fmt: String, w: Int, h: Int): InternalRow =
      new GenericInternalRow(Array[Any](UTF8String.fromString(fmt), w, h))
    // 32-bit dims validated in Long: a hostile width/height >= 2^31 must
    // NULL (the corrupt-media contract), not truncate to a negative Int
    // that flows into downstream size gates looking like a real dimension
    def dimRow(fmt: String, w: Long, h: Long): InternalRow =
      if (w < 1 || h < 1 || w > Int.MaxValue || h > Int.MaxValue) null
      else row(fmt, w.toInt, h.toInt)

    if (bytes.length >= 24 &&
      u8(0) == 0x89 && u8(1) == 'P' && u8(2) == 'N' && u8(3) == 'G' &&
      u8(4) == 0x0d && u8(5) == 0x0a && u8(6) == 0x1a && u8(7) == 0x0a &&
      u8(12) == 'I' && u8(13) == 'H' && u8(14) == 'D' && u8(15) == 'R') {
      dimRow("png", be32(16), be32(20))
    } else if (bytes.length >= 10 &&
      u8(0) == 'G' && u8(1) == 'I' && u8(2) == 'F' && u8(3) == '8' &&
      (u8(4) == '7' || u8(4) == '9') && u8(5) == 'a') {
      row("gif", le16(6), le16(8))
    } else if (bytes.length >= 26 && u8(0) == 'B' && u8(1) == 'M') {
      // Positive identification requires a known DIB header size at offset
      // 14 — 'BM' alone matches ordinary text ("BMW …"). Core (v2) headers
      // carry 16-bit dims; the BITMAPINFOHEADER family carries 32-bit.
      le32(14).toInt match {
        case 12 => row("bmp", le16(18), le16(20))
        case 40 | 52 | 56 | 64 | 108 | 124 =>
          // DIB dims are SIGNED 32-bit (negative height = top-down); the
          // abs runs in Long because abs(Int.MinValue) is still negative
          dimRow("bmp", le32(18).toInt.toLong, math.abs(le32(22).toInt.toLong))
        case _ => null
      }
    } else if (bytes.length >= 4 && u8(0) == 0xff && u8(1) == 0xd8) {
      // JPEG: walk FF-marker segments to the first start-of-frame.
      var i = 2
      while (i + 3 < bytes.length) {
        if (u8(i) != 0xff) return null // desynced - not a well-formed stream
        val marker = u8(i + 1)
        if (marker == 0xff) { i += 1 } // fill bytes before a marker
        else if (marker == 0xd8 || (marker >= 0xd0 && marker <= 0xd7) || marker == 0x01) {
          i += 2 // standalone markers carry no length
        } else if ((marker >= 0xc0 && marker <= 0xcf) && marker != 0xc4 && marker != 0xc8 && marker != 0xcc) {
          // SOFn: [len(2)] [precision(1)] [height(2)] [width(2)]
          return if (i + 8 < bytes.length) row("jpeg", be16(i + 7), be16(i + 5)) else null
        } else {
          if (i + 3 >= bytes.length) return null
          i += 2 + be16(i + 2) // skip segment payload (length includes itself)
        }
      }
      null
    } else null
  }

  /** Audio/video container sniff — WAV (RIFF chunks, little-endian) and MP4
    * (ISO BMFF boxes, big-endian), including fragmented-MP4 duration
    * recovery from `sidx` (first box wins) or the `moof` chain.
    *
    * The moof fallback accumulates fragment ticks PER TRACK (keyed by the
    * traf's `tfhd` track_ID), pairs each track with its own `mdhd` timescale
    * (via the enclosing trak's `tkhd` track_ID), and takes the MAX per-track
    * duration: parallel tracks (muxed audio+video, one traf per track per
    * moof) run simultaneously, so a cross-track sum double-counts time, and
    * a last-mdhd-wins timescale converts one track's ticks with another's
    * clock. Files without tkhd fall back to the last-seen mdhd timescale —
    * identical behavior to single-track inputs.
    *
    * Returns InternalRow(format, codec, channels, sampleRateHz, durationMs)
    * with null slots for absent fields, or null when not positively
    * identified.
    */
  def avRow(bytes: Array[Byte]): InternalRow = {
    if (bytes == null || bytes.length < 12) return null
    def u8(i: Int): Int = bytes(i) & 0xff
    def le16(i: Int): Int = u8(i) | (u8(i + 1) << 8)
    def le32(i: Int): Long = u8(i).toLong | (u8(i + 1).toLong << 8) | (u8(i + 2).toLong << 16) | (u8(i + 3).toLong << 24)
    def be16(i: Int): Int = (u8(i) << 8) | u8(i + 1)
    def be32(i: Int): Long = (u8(i).toLong << 24) | (u8(i + 1).toLong << 16) | (u8(i + 2) << 8) | u8(i + 3)
    def be64(i: Int): Long = (be32(i) << 32) | be32(i + 4)
    def fourcc(i: Int): String = new String(bytes, i, 4, java.nio.charset.StandardCharsets.US_ASCII)

    if (fourcc(0) == "RIFF" && fourcc(8) == "WAVE") {
      // chunk walk; chunks are word-aligned (odd sizes carry a pad byte)
      var i = 12
      var codec: String = null
      var channels = -1
      var rate = -1
      var byteRate = 0L
      var dataBytes = -1L
      while (i + 8 <= bytes.length) {
        val id = fourcc(i)
        val sz = le32(i + 4)
        val p = i + 8
        if (id == "fmt " && sz >= 16 && p + 16 <= bytes.length) {
          val tag = le16(p)
          codec = tag match {
            case 1 => "pcm"
            case 3 => "ieee_float"
            case 6 => "alaw"
            case 7 => "mulaw"
            case 0xfffe => "extensible"
            case other => s"wave_$other"
          }
          channels = le16(p + 2)
          rate = le32(p + 4).toInt
          byteRate = le32(p + 8)
        } else if (id == "data") {
          // size is authoritative even when the payload is elsewhere/truncated
          dataBytes = sz
        }
        // sz is an untrusted u32: advance as a Long clamped to the buffer
        // end, so a hostile/corrupt size field (e.g. 0xFFFFFFF8, whose
        // truncated Int is -8) can neither loop forever nor index negative —
        // sz >= 0 guarantees strictly forward progress, the clamp ends the
        // walk at the buffer boundary
        i = math.min(p.toLong + sz + (sz & 1L), bytes.length.toLong).toInt
      }
      if (codec == null) null
      else
        new GenericInternalRow(Array[Any](
          UTF8String.fromString("wav"),
          UTF8String.fromString(codec),
          if (channels >= 0) channels else null,
          if (rate >= 0) rate else null,
          if (dataBytes >= 0 && byteRate > 0) dataBytes * 1000L / byteRate else null
        ))
    } else if (bytes.length >= 12 && fourcc(4) == "ftyp") {
      // ISO BMFF box walk. Box: size(be32) type(4); size==1 → 64-bit
      // largesize followed; size==0 → box extends to EOF.
      var timescale = 0L
      var duration = -1L
      var codec: String = null
      var channels = -1
      var rate = -1
      // fragmented-MP4 duration: an fMP4's mvhd carries duration 0 (the
      // movie grows segment by segment), so the real duration lives in the
      // segments — preferred source is `sidx` (each box carries its OWN
      // timescale, so every box converts to ms exactly); fallback is the
      // `moof` chain: per-sample durations from `trun` when present, else
      // the traf's `tfhd` default × sample_count, all in the TRACK
      // timescale (`mdhd`, not mvhd — the two differ routinely), summed
      // per track and maxed across tracks (see the scaladoc).
      var sidxMs = -1L
      var lastMdhdTs = 0L
      var curTrakId = -1L // from tkhd, while inside a trak
      var curTfhdTrack = -1L // from tfhd, while inside a traf
      var tfhdDefaultDur = 0L // per-traf; reset when a traf opens
      // lazily allocated: non-fragmented files never touch the maps
      var tsByTrack: scala.collection.mutable.LongMap[Long] = null
      var ticksByTrack: scala.collection.mutable.LongMap[Long] = null
      def addTicks(ticks: Long): Unit = {
        if (ticksByTrack == null) ticksByTrack = scala.collection.mutable.LongMap.empty
        ticksByTrack(curTfhdTrack) = ticksByTrack.getOrElse(curTfhdTrack, 0L) + ticks
      }

      def walk(from: Long, to: Long, depth: Int): Unit = {
        if (depth > 8) return
        var i = from
        while (i + 8 <= to) {
          val size0 = be32(i.toInt)
          val typ = fourcc(i.toInt + 4)
          val (header, size) =
            if (size0 == 1L && i + 16 <= to) (16L, be64(i.toInt + 8))
            else if (size0 == 0L) (8L, to - i)
            else (8L, size0)
          if (size < header) return // malformed — stop, keep what we have
          val p = i + header
          val end = math.min(i + size, to)
          typ match {
            case "moov" | "mdia" | "minf" | "stbl" | "moof" => walk(p, end, depth + 1)
            case "trak" =>
              curTrakId = -1L // a fresh trak: its own tkhd names its mdhd's track
              walk(p, end, depth + 1)
            case "traf" =>
              tfhdDefaultDur = 0L // a stale default must not leak across trafs
              curTfhdTrack = -1L
              walk(p, end, depth + 1)
            case "tkhd" if p + 4 <= to =>
              // fullbox; v0: ctime(4) mtime(4) track_ID(4); v1: ctime(8)
              // mtime(8) track_ID(4)
              val v = u8(p.toInt)
              if (v == 1 && p + 24 <= to) curTrakId = be32(p.toInt + 20)
              else if (v == 0 && p + 16 <= to) curTrakId = be32(p.toInt + 12)
            case "mvhd" if p + 4 <= to =>
              val v = u8(p.toInt)
              if (v == 1 && p + 32 <= to) {
                timescale = be32(p.toInt + 20); duration = be64(p.toInt + 24)
              } else if (v == 0 && p + 20 <= to) {
                timescale = be32(p.toInt + 12); duration = be32(p.toInt + 16)
              }
            case "mdhd" if p + 4 <= to =>
              val v = u8(p.toInt)
              val ts =
                if (v == 1 && p + 24 <= to) be32(p.toInt + 20)
                else if (v == 0 && p + 16 <= to) be32(p.toInt + 12)
                else 0L
              if (ts > 0) {
                lastMdhdTs = ts
                if (curTrakId >= 0) {
                  if (tsByTrack == null) tsByTrack = scala.collection.mutable.LongMap.empty
                  tsByTrack(curTrakId) = ts
                }
              }
            case "stsd" if p + 16 <= to =>
              // [version+flags(4)] [entry_count(4)] then the first sample
              // entry: size(4) + data-format fourcc(4)
              val entry = p + 8
              if (codec == null && entry + 8 <= to) {
                val cc = fourcc(entry.toInt + 4)
                codec = cc
                // AudioSampleEntry layout: 6 reserved + dataRefIdx(2), then
                // version(2) rev(2) vendor(4) channels(2) bits(2) pre(2)
                // reserved(2) rate(16.16)
                if (cc == "mp4a" && entry + 36 <= to) {
                  channels = be16(entry.toInt + 24)
                  rate = (be32(entry.toInt + 32) >> 16).toInt
                }
              }
            case "sidx" if sidxMs < 0 && p + 4 <= to =>
              // fullbox, then: reference_ID(4) timescale(4)
              // v0: EPT(4) first_offset(4) | v1: EPT(8) first_offset(8)
              // reserved(2) reference_count(2), refs of 12 bytes each with
              // subsegment_duration in the middle 4.
              // FIRST sidx wins: a hierarchical index's parent box already
              // spans the whole presentation through its reference
              // durations (nested sidx boxes re-describe the same time),
              // and multi-track files carry one sidx per PARALLEL track —
              // in both layouts summing every box double-counts time.
              val v = u8(p.toInt)
              val ts = if (p + 12 <= to) be32(p.toInt + 8) else 0L
              val afterOffsets = p + 12 + (if (v == 1) 16L else 8L)
              if (ts > 0 && afterOffsets + 4 <= to) {
                val n = be16(afterOffsets.toInt + 2)
                var r = afterOffsets + 4
                var ticks = 0L
                var seen = 0
                while (seen < n && r + 12 <= to) {
                  ticks += be32(r.toInt + 4)
                  r += 12
                  seen += 1
                }
                if (seen == n) sidxMs = ticks * 1000L / ts
              }
            case "tfhd" if p + 8 <= to =>
              curTfhdTrack = be32(p.toInt + 4)
              val flags = be32(p.toInt) & 0xffffff
              // after version+flags and track_ID: optional fields in flag
              // order — base_data_offset(8, 0x1), sample_desc_index(4, 0x2),
              // then default_sample_duration(4, 0x8)
              var q = p + 8
              if ((flags & 0x1) != 0) q += 8
              if ((flags & 0x2) != 0) q += 4
              if ((flags & 0x8) != 0 && q + 4 <= to) tfhdDefaultDur = be32(q.toInt)
            case "trun" if p + 8 <= to =>
              val flags = be32(p.toInt) & 0xffffff
              val n = be32(p.toInt + 4)
              var q = p + 8
              if ((flags & 0x1) != 0) q += 4 // data_offset
              if ((flags & 0x4) != 0) q += 4 // first_sample_flags
              if ((flags & 0x100) != 0) {
                // per-sample duration leads each sample record; record width
                // depends on which of the other per-sample fields are present
                val rec = 4L + (if ((flags & 0x200) != 0) 4 else 0) +
                  (if ((flags & 0x400) != 0) 4 else 0) +
                  (if ((flags & 0x800) != 0) 4 else 0)
                var seen = 0L
                var ticks = 0L
                while (seen < n && q + rec <= to) {
                  ticks += be32(q.toInt)
                  q += rec
                  seen += 1
                }
                if (seen == n) addTicks(ticks)
              } else if (tfhdDefaultDur > 0) {
                addTicks(n * tfhdDefaultDur)
              }
            case _ => // leaf we don't need
          }
          // clamped advance: a hostile 64-bit largesize near 2^63 would
          // overflow `i + size` negative, re-passing the `i + 8 <= to`
          // guard with a wrapped index (AIOOBE on one corrupt row — the
          // never-throw contract). A box running past `to` is truncation,
          // not progress: land exactly on `to` and exit.
          i = if (size > to - i) to else i + size
        }
      }
      walk(0, bytes.length.toLong, 0)
      // moof-chain duration: per-track tick sums → per-track ms (each with
      // its OWN timescale) → max across parallel tracks
      var fragMs = -1L
      if (ticksByTrack != null) {
        ticksByTrack.foreach { case (track, ticks) =>
          val ts =
            if (tsByTrack != null && track >= 0 && tsByTrack.contains(track)) tsByTrack(track)
            else lastMdhdTs
          if (ts > 0) {
            val ms = ticks * 1000L / ts
            if (ms > fragMs) fragMs = ms
          }
        }
      }
      val durationMs: Any =
        if (timescale > 0 && duration > 0) duration * 1000L / timescale
        else if (sidxMs >= 0) sidxMs
        else if (fragMs >= 0) fragMs
        else if (timescale > 0 && duration >= 0) 0L // genuine zero-length, no segments
        else null
      new GenericInternalRow(Array[Any](
        UTF8String.fromString("mp4"),
        if (codec == null) null else UTF8String.fromString(codec),
        if (channels >= 0) channels else null,
        if (rate >= 0) rate else null,
        durationMs
      ))
    } else null
  }
}

/** struct<format:string, width:int, height:int> image-header sniff over a
  * binary column (codegen-enabled); NULL when the bytes are not a
  * recognizable image — the corrupt-file gate.
  */
case class SniffImageMeta(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StructType(Seq(
    StructField("format", StringType, nullable = false),
    StructField("width", IntegerType, nullable = false),
    StructField("height", IntegerType, nullable = false)
  ))
  override def nullable: Boolean = true
  override def nullIntolerant: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case BinaryType => TypeCheckResult.TypeCheckSuccess
    case other =>
      TypeCheckResult.TypeCheckFailure(
        s"graft_sniff_image requires binary input, got ${other.catalogString}")
  }

  override protected def nullSafeEval(input: Any): Any =
    MediaSniffSupport.imageRow(input.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(
      ctx,
      ev,
      c => s"""
        |${ev.value} = graft.functions.MediaSniffSupport.imageRow($c);
        |${ev.isNull} = ${ev.value} == null;
        |""".stripMargin
    )

  override protected def withNewChildInternal(newChild: Expression): SniffImageMeta =
    copy(child = newChild)
}

/** struct<format:string, codec:string, channels:int, sampleRateHz:int,
  * durationMs:bigint> audio/video-header sniff over a binary column
  * (codegen-enabled); NULL when the bytes are not a recognizable container.
  */
case class SniffAvMeta(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StructType(Seq(
    StructField("format", StringType, nullable = false),
    StructField("codec", StringType, nullable = true),
    StructField("channels", IntegerType, nullable = true),
    StructField("sampleRateHz", IntegerType, nullable = true),
    StructField("durationMs", LongType, nullable = true)
  ))
  override def nullable: Boolean = true
  override def nullIntolerant: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case BinaryType => TypeCheckResult.TypeCheckSuccess
    case other =>
      TypeCheckResult.TypeCheckFailure(
        s"graft_sniff_av requires binary input, got ${other.catalogString}")
  }

  override protected def nullSafeEval(input: Any): Any =
    MediaSniffSupport.avRow(input.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(
      ctx,
      ev,
      c => s"""
        |${ev.value} = graft.functions.MediaSniffSupport.avRow($c);
        |${ev.isNull} = ${ev.value} == null;
        |""".stripMargin
    )

  override protected def withNewChildInternal(newChild: Expression): SniffAvMeta =
    copy(child = newChild)
}

/** Perceptual 64-bit image hashes over the decoded luminance grid — the
  * content-level dedup signal byte-hashing cannot give: a re-encoded,
  * recompressed or resized copy of an image has different BYTES but a
  * near-identical luminance layout, so its dHash/aHash lands within a few
  * hamming bits of the original (the reference's only image dedup is the
  * byte digest — /root/reference/src/engine/hash.py:27-40 — which is blind
  * to all of these).
  *
  * dHash (difference hash): mean luminance over a 9x8 grid; bit (r,c) set
  * iff cell (r,c+1) is strictly brighter than cell (r,c) — gradients, so
  * global brightness shifts cancel. aHash (average hash): 8x8 grid; bit
  * set iff the cell beats the global mean. Both are resolution-independent
  * by construction (the grid is laid over the image whatever its size),
  * deterministic, and pair directly with the Manku banding machinery
  * ([[graft.operators.Dedup.simhash64Pairs]]' exact-at-maxHamming
  * candidate generation) for sub-quadratic pair search.
  *
  * Untrusted-bytes contract as everywhere scan-side: undecodable input →
  * NULL, never a throw. The ImageIO decode makes these the most expensive
  * per-row expressions in the engine — gate with [[SniffImageMeta]] first
  * so only positively-identified images pay the decode.
  */
object PHashSupport {
  private def lum(rgb: Int): Double =
    0.299 * ((rgb >> 16) & 0xff) + 0.587 * ((rgb >> 8) & 0xff) + 0.114 * (rgb & 0xff)

  /** Mean luminance per cell of a rows x cols grid laid over the image. */
  def gridLum(img: java.awt.image.BufferedImage, rows: Int, cols: Int): Array[Double] = {
    val w = img.getWidth
    val h = img.getHeight
    val out = new Array[Double](rows * cols)
    var r = 0
    while (r < rows) {
      val y0 = r * h / rows
      val y1 = math.max(y0 + 1, (r + 1) * h / rows)
      var c = 0
      while (c < cols) {
        val x0 = c * w / cols
        val x1 = math.max(x0 + 1, (c + 1) * w / cols)
        var acc = 0.0
        var n = 0
        var y = y0
        while (y < y1 && y < h) {
          var x = x0
          while (x < x1 && x < w) { acc += lum(img.getRGB(x, y)); n += 1; x += 1 }
          y += 1
        }
        out(r * cols + c) = if (n == 0) 0.0 else acc / n
        c += 1
      }
      r += 1
    }
    out
  }

  private def decode(bytes: Array[Byte]): java.awt.image.BufferedImage =
    if (bytes == null) null
    else
      try {
        // explicit MemoryCacheImageInputStream: ImageIO.read(InputStream)
        // otherwise routes through the shared on-disk stream cache, whose
        // lazily-initialized tmp-file path produced wrong-pixel decodes
        // under concurrent executor threads — and per-row scan expressions
        // must not touch disk per row anyway
        val iis = new javax.imageio.stream.MemoryCacheImageInputStream(
          new java.io.ByteArrayInputStream(bytes))
        // ImageIO.read(ImageInputStream) closes the stream itself on the
        // read path (closing it again throws "closed" and would discard a
        // successful decode); it only leaves it open on the no-reader
        // path, where the close below releases the memory cache
        val img = javax.imageio.ImageIO.read(iis)
        if (img == null) { try iis.close() catch { case _: java.io.IOException => () } }
        img
      } catch { case scala.util.control.NonFatal(_) => null }

  /** 64-bit dHash; null (boxed) when the bytes do not decode as an image. */
  def dHash64(bytes: Array[Byte]): java.lang.Long = {
    val img = decode(bytes)
    if (img == null || img.getWidth <= 0 || img.getHeight <= 0) return null
    java.lang.Long.valueOf(dHashOf(gridLum(img, 8, 9)))
  }

  /** 64-bit aHash; null (boxed) when the bytes do not decode as an image. */
  def aHash64(bytes: Array[Byte]): java.lang.Long = {
    val img = decode(bytes)
    if (img == null || img.getWidth <= 0 || img.getHeight <= 0) return null
    aHashOf(gridLum(img, 8, 8))
  }

  private def aHashOf(g: Array[Double]): Long = {
    var mean = 0.0
    var i = 0
    while (i < 64) { mean += g(i); i += 1 }
    mean /= 64.0
    var bitsOut = 0L
    i = 0
    while (i < 64) {
      if (g(i) > mean) bitsOut |= 1L << i
      i += 1
    }
    bitsOut
  }

  private def dHashOf(g: Array[Double]): Long = {
    var bitsOut = 0L
    var r = 0
    while (r < 8) {
      var c = 0
      while (c < 8) {
        if (g(r * 9 + c + 1) > g(r * 9 + c)) bitsOut |= 1L << (r * 8 + c)
        c += 1
      }
      r += 1
    }
    bitsOut
  }

  /** BOTH hashes from ONE decode — the dual-verify path's scan expression.
    * The PNG/JPEG decode dominates the per-row cost by orders of magnitude
    * over the two grid passes, so computing dHash and aHash separately
    * (two decodes) would double the heaviest scan in the engine for no
    * reason. Returns (dhash, ahash) as an InternalRow, or null when the
    * bytes do not decode.
    */
  def dualHash64(bytes: Array[Byte]): InternalRow = {
    val img = decode(bytes)
    if (img == null || img.getWidth <= 0 || img.getHeight <= 0) return null
    new GenericInternalRow(Array[Any](dHashOf(gridLum(img, 8, 9)), aHashOf(gridLum(img, 8, 8))))
  }
}

/** BIGINT perceptual difference-hash of an image binary (codegen-enabled);
  * NULL when the bytes are not a decodable image. See [[PHashSupport]].
  */
case class ImageDHash64(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def nullIntolerant: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case BinaryType => TypeCheckResult.TypeCheckSuccess
    case other =>
      TypeCheckResult.TypeCheckFailure(
        s"graft_image_dhash requires binary input, got ${other.catalogString}")
  }

  override protected def nullSafeEval(input: Any): Any =
    PHashSupport.dHash64(input.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val tmp = ctx.freshName("graftDh")
    nullSafeCodeGen(
      ctx,
      ev,
      c => s"""
        |java.lang.Long $tmp = graft.functions.PHashSupport.dHash64($c);
        |${ev.isNull} = $tmp == null;
        |${ev.value} = ${ev.isNull} ? -1L : $tmp.longValue();
        |""".stripMargin
    )
  }

  override protected def withNewChildInternal(newChild: Expression): ImageDHash64 =
    copy(child = newChild)
}

/** BIGINT perceptual average-hash of an image binary (codegen-enabled);
  * NULL when the bytes are not a decodable image. See [[PHashSupport]].
  */
case class ImageAHash64(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def nullIntolerant: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case BinaryType => TypeCheckResult.TypeCheckSuccess
    case other =>
      TypeCheckResult.TypeCheckFailure(
        s"graft_image_ahash requires binary input, got ${other.catalogString}")
  }

  override protected def nullSafeEval(input: Any): Any =
    PHashSupport.aHash64(input.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val tmp = ctx.freshName("graftAh")
    nullSafeCodeGen(
      ctx,
      ev,
      c => s"""
        |java.lang.Long $tmp = graft.functions.PHashSupport.aHash64($c);
        |${ev.isNull} = $tmp == null;
        |${ev.value} = ${ev.isNull} ? -1L : $tmp.longValue();
        |""".stripMargin
    )
  }

  override protected def withNewChildInternal(newChild: Expression): ImageAHash64 =
    copy(child = newChild)
}

/** struct<dhash: bigint, ahash: bigint> of an image binary from a SINGLE
  * decode (codegen-enabled); NULL when the bytes are not a decodable
  * image. The dual-verify operator's scan expression — see
  * [[PHashSupport.dualHash64]].
  */
case class ImageDualHash64(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StructType(Seq(
    StructField("dhash", LongType, nullable = false),
    StructField("ahash", LongType, nullable = false)))
  override def nullable: Boolean = true
  override def nullIntolerant: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case BinaryType => TypeCheckResult.TypeCheckSuccess
    case other =>
      TypeCheckResult.TypeCheckFailure(
        s"graft_image_dual_hash requires binary input, got ${other.catalogString}")
  }

  override protected def nullSafeEval(input: Any): Any =
    PHashSupport.dualHash64(input.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(
      ctx,
      ev,
      c => s"""
        |${ev.value} = graft.functions.PHashSupport.dualHash64($c);
        |${ev.isNull} = ${ev.value} == null;
        |""".stripMargin
    )

  override protected def withNewChildInternal(newChild: Expression): ImageDualHash64 =
    copy(child = newChild)
}

/** WHATWG-shaped MIME sniffing over untrusted payload bytes — the router
  * a mixed crawl asset column needs BEFORE any typed operator: HTTP
  * Content-Type headers lie constantly (the MIME-sniffing spec exists
  * because of it), so the intake decides text-vs-binary and the binary
  * FAMILY from the bytes themselves, then routes to the typed extractors
  * ([[MediaSniffSupport.imageRow]], [[MediaSniffSupport.avRow]],
  * [[HtmlSupport]], [[GzipSupport]]). Order follows the spec's pattern
  * tables: unambiguous magic first (images, audio/video, archives, pdf),
  * then the whitespace-tolerant case-insensitive HTML tag probe, then a
  * UTF BOM → text/plain, and finally the binary-byte scan separating
  * text/plain from application/octet-stream. Total: any bytes map to
  * exactly one label, null only for null input.
  */
object MimeSniffSupport {
  private val htmlTags = Array(
    "<!DOCTYPE HTML", "<HTML", "<HEAD", "<SCRIPT", "<IFRAME", "<H1", "<DIV",
    "<FONT", "<TABLE", "<A", "<STYLE", "<TITLE", "<B", "<BODY", "<BR", "<P", "<!--")

  // magic-signature table: (pattern bytes, label). A plain array walked
  // with index loops — this runs per row of a 100 TB asset scan, so no
  // varargs/Seq/tuple allocation in the hot path (the WarcSupport/
  // GzipSupport discipline).
  private val magics: Array[(Array[Byte], String)] = Array(
    (Array(0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte), "image/png"),
    (Array[Byte](0xff.toByte, 0xd8.toByte, 0xff.toByte), "image/jpeg"),
    ("GIF87a".getBytes(java.nio.charset.StandardCharsets.US_ASCII), "image/gif"),
    ("GIF89a".getBytes(java.nio.charset.StandardCharsets.US_ASCII), "image/gif"),
    ("BM".getBytes(java.nio.charset.StandardCharsets.US_ASCII), "image/bmp"),
    (Array[Byte](0x1f, 0x8b.toByte, 0x08), "application/gzip"),
    (Array[Byte]('P', 'K', 0x03, 0x04), "application/zip"),
    ("%PDF-".getBytes(java.nio.charset.StandardCharsets.US_ASCII), "application/pdf"),
    ("%!PS-".getBytes(java.nio.charset.StandardCharsets.US_ASCII), "application/postscript"))

  private def startsWith(bytes: Array[Byte], sig: Array[Byte]): Boolean = {
    if (bytes.length < sig.length) return false
    var i = 0
    while (i < sig.length) {
      if (bytes(i) != sig(i)) return false
      i += 1
    }
    true
  }

  private def magicLabel(bytes: Array[Byte]): String = {
    var i = 0
    while (i < magics.length) {
      if (startsWith(bytes, magics(i)._1)) return magics(i)._2
      i += 1
    }
    null
  }

  def sniff(bytes: Array[Byte]): UTF8String = {
    if (bytes == null) return null
    val n = bytes.length
    def u8(i: Int): Int = if (i < n) bytes(i) & 0xff else -1
    val riff = n >= 12 && u8(0) == 'R' && u8(1) == 'I' && u8(2) == 'F' && u8(3) == 'F'
    val magic = magicLabel(bytes)
    val label: String =
      if (riff && u8(8) == 'W' && u8(9) == 'E' && u8(10) == 'B' && u8(11) == 'P') "image/webp"
      else if (riff && u8(8) == 'W' && u8(9) == 'A' && u8(10) == 'V' && u8(11) == 'E') "audio/wav"
      else if (magic != null) magic
      else if (n >= 12 && u8(4) == 'f' && u8(5) == 't' && u8(6) == 'y' && u8(7) == 'p')
        "video/mp4"
      else {
        // HTML tag probe: skip leading whitespace, match a tag
        // case-insensitively, require the spec's tag-terminating byte
        // (whitespace or '>') after the pattern
        var i = 0
        while (i < n && (u8(i) == 0x09 || u8(i) == 0x0a || u8(i) == 0x0c ||
          u8(i) == 0x0d || u8(i) == 0x20)) i += 1
        val probe = new String(bytes, i, math.min(32, n - i),
          java.nio.charset.StandardCharsets.ISO_8859_1).toUpperCase(java.util.Locale.ROOT)
        val isHtml = htmlTags.exists { t =>
          probe.startsWith(t) && (t == "<!--" || {
            val after = if (probe.length > t.length) probe.charAt(t.length) else ' '
            after == ' ' || after == '>' || after == '\t' || after == '\n' ||
            after == '\f' || after == '\r'
          })
        }
        if (isHtml) "text/html"
        else if ((u8(0) == 0xef && u8(1) == 0xbb && u8(2) == 0xbf) ||
          (u8(0) == 0xfe && u8(1) == 0xff) || (u8(0) == 0xff && u8(1) == 0xfe))
          "text/plain"
        else {
          // binary data byte scan (first 1445 bytes per the spec's resource
          // header cap): any byte in the binary ranges → octet-stream
          var j = 0
          var binary = false
          val cap = math.min(n, 1445)
          while (!binary && j < cap) {
            val b = u8(j)
            if (b <= 0x08 || b == 0x0b || (b >= 0x0e && b <= 0x1a) ||
              (b >= 0x1c && b <= 0x1f)) binary = true
            j += 1
          }
          if (binary) "application/octet-stream" else "text/plain"
        }
      }
    UTF8String.fromString(label)
  }
}

/** binary → string MIME label (codegen-enabled). */
case class SniffMime(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StringType
  override def nullIntolerant: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case BinaryType => TypeCheckResult.TypeCheckSuccess
    case other =>
      TypeCheckResult.TypeCheckFailure(
        s"graft_sniff_mime requires binary input, got ${other.catalogString}")
  }

  override protected def nullSafeEval(input: Any): Any =
    MimeSniffSupport.sniff(input.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.MimeSniffSupport.sniff($c)")

  override protected def withNewChildInternal(newChild: Expression): SniffMime =
    copy(child = newChild)
}

object MediaExprs {
  def sniffImageMeta(content: Column): Column =
    ColumnShim.column(SniffImageMeta(ColumnShim.expression(content)))

  /** WHATWG-shaped MIME label of untrusted payload bytes. */
  def sniffMime(content: Column): Column =
    ColumnShim.column(SniffMime(ColumnShim.expression(content)))

  def sniffAvMeta(content: Column): Column =
    ColumnShim.column(SniffAvMeta(ColumnShim.expression(content)))

  def imageDHash64(content: Column): Column =
    ColumnShim.column(ImageDHash64(ColumnShim.expression(content)))

  /** Both perceptual hashes from one decode: struct<dhash, ahash>. */
  def imageDualHash64(content: Column): Column =
    ColumnShim.column(ImageDualHash64(ColumnShim.expression(content)))
}

package graft.functions

import graft.functions.GraftFunction._
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** EXIF metadata for JPEG image payloads — the image-PII walk of the
  * multimodal family (the q79/q92/q105 sibling): a training corpus that
  * keeps user-contributed photos keeps the GPS positions their cameras
  * embedded, which is PII the TEXT scrubber (q66) never sees. Two
  * scan-side operations:
  *
  *  - [[ExifSupport.meta]]: one bounded walk over the JPEG marker chain →
  *    the APP1 `Exif\0\0` payload → the TIFF IFD0 → the GPS sub-IFD,
  *    returning (make, orientation, gps_lat_e3, gps_lon_e3). Coordinates
  *    come out as exact integer MILLI-ARC-SECONDS (degrees·3 600 000 +
  *    minutes·60 000 + second-rational·1000, floor division on the one
  *    rational denominator), signed by the N/S / E/W reference — the house
  *    exact-integer rule, so the value is bit-identical on any JVM and
  *    replayable by a SQL oracle.
  *  - [[ExifSupport.stripGps]]: the scrub. Returns bytes of IDENTICAL
  *    length with the GPS sub-IFD unlinked from IFD0 AND the coordinate
  *    bytes themselves zeroed — unlinking alone would leave the latitude
  *    rationals sitting in the file for anyone who scans payload bytes,
  *    which is not a scrub. Length-preserving in-place zeroing keeps every
  *    other TIFF offset valid (offsets in TIFF are absolute from the
  *    header), so Make/Orientation/thumbnail pointers survive untouched
  *    and the scrub composes with downstream parsers byte-for-byte.
  *
  * Both follow the untrusted-bytes contract (q33/q92/q105/q127): any
  * structural lie — marker chain running off the buffer, an IFD whose
  * entries overrun the segment, a value offset outside the APP1 payload —
  * yields NULL, never an exception, and never a partial value. TIFF
  * endianness (`II`/`MM`) is honored on every read.
  *
  * Reference behavior: EXIF 2.3 / TIFF 6.0 byte layout (public spec);
  * the zero-don't-splice scrub mirrors what exiftool calls writing with
  * `-gps:all=` in offset-preserving mode. Nothing here decodes pixels —
  * that stays behind [[graft.operators.Multimodal]]'s decode gate.
  */
object ExifSupport {

  /** Shape of [[meta]]. */
  val metaType: StructType = StructType(Seq(
    StructField("exif_make", StringType, nullable = true),
    StructField("exif_orientation", IntegerType, nullable = true),
    StructField("gps_lat_e3", LongType, nullable = true),
    StructField("gps_lon_e3", LongType, nullable = true)))

  private final val TagMake = 0x010f
  private final val TagOrientation = 0x0112
  private final val TagGpsIfd = 0x8825
  private final val GpsLatRef = 0x0001
  private final val GpsLat = 0x0002
  private final val GpsLonRef = 0x0003
  private final val GpsLon = 0x0004

  /** Parsed TIFF segment location: (tiffBase, tiffEnd) absolute offsets of
    * the APP1 Exif payload's TIFF header inside `b`, or null when the
    * bytes are not a JPEG carrying a structurally sound Exif APP1.
    */
  private def findTiff(b: Array[Byte]): Array[Int] = {
    val n = b.length
    if (n < 4 || (b(0) & 0xff) != 0xff || (b(1) & 0xff) != 0xd8) return null
    var i = 2
    while (i + 4 <= n) {
      if ((b(i) & 0xff) != 0xff) return null
      val marker = b(i + 1) & 0xff
      if (marker == 0xd9 || marker == 0xda) return null // EOI/SOS: no Exif
      if (marker == 0xff) { i += 1 } // fill byte
      else {
        val segLen = ((b(i + 2) & 0xff) << 8) | (b(i + 3) & 0xff)
        if (segLen < 2 || i + 2 + segLen > n) return null
        if (marker == 0xe1 && segLen >= 2 + 6 + 8 &&
          b(i + 4) == 'E' && b(i + 5) == 'x' && b(i + 6) == 'i' &&
          b(i + 7) == 'f' && b(i + 8) == 0 && b(i + 9) == 0) {
          return Array(i + 10, i + 2 + segLen)
        }
        i += 2 + segLen
      }
    }
    null
  }

  // bounds-checked endian reads: -1 = out of bounds (callers abort to null;
  // legitimate u16/u32 values are non-negative and u32 rides in a Long)
  private def u16(b: Array[Byte], p: Int, end: Int, be: Boolean): Int = {
    if (p < 0 || p + 2 > end) return -1
    if (be) ((b(p) & 0xff) << 8) | (b(p + 1) & 0xff)
    else ((b(p + 1) & 0xff) << 8) | (b(p) & 0xff)
  }
  private def u32(b: Array[Byte], p: Int, end: Int, be: Boolean): Long = {
    if (p < 0 || p + 4 > end) return -1L
    if (be)
      ((b(p) & 0xffL) << 24) | ((b(p + 1) & 0xffL) << 16) |
        ((b(p + 2) & 0xffL) << 8) | (b(p + 3) & 0xffL)
    else
      ((b(p + 3) & 0xffL) << 24) | ((b(p + 2) & 0xffL) << 16) |
        ((b(p + 1) & 0xffL) << 8) | (b(p) & 0xffL)
  }

  /** Absolute position `base + off` narrowed to Int, or -1 when the Long
    * sum plus `need` trailing bytes cannot fit inside the segment. Every
    * absolute-offset materialization MUST go through this: narrowing with
    * `.toInt` before the bounds check lets a crafted offset near 2^32 wrap
    * the Int back into the buffer, so the walk would read aliased in-bounds
    * bytes (garbage non-null meta, or a scrub that zeroes the wrong span)
    * instead of honoring the untrusted-bytes scrub-or-NULL contract.
    */
  private def abs(base: Int, off: Long, need: Long, end: Int): Int = {
    if (off < 0 || need < 0 || base + off + need > end) -1
    else (base + off).toInt
  }

  /** Milli-arc-second total of a 3-RATIONAL dms value at absolute offset
    * `off` (24 bytes), or -1 on any structural problem. Degree and minute
    * denominators must divide exactly (cameras write 1); the second
    * rational floors at milli-arc-second granularity.
    */
  private def dmsE3(b: Array[Byte], base: Int, off: Long, end: Int, be: Boolean): Long = {
    if (off < 0 || base + off + 24 > end) return -1L
    val p = (base + off).toInt
    val dn = u32(b, p, end, be); val dd = u32(b, p + 4, end, be)
    val mn = u32(b, p + 8, end, be); val md = u32(b, p + 12, end, be)
    val sn = u32(b, p + 16, end, be); val sd = u32(b, p + 20, end, be)
    if (dd <= 0 || md <= 0 || sd <= 0) return -1L
    if (dn % dd != 0 || mn % md != 0) return -1L
    (dn / dd) * 3600000L + (mn / md) * 60000L + sn * 1000L / sd
  }

  /** (exif_make, exif_orientation, gps_lat_e3, gps_lon_e3) or null when
    * the bytes are not a JPEG with a structurally sound Exif APP1.
    */
  def meta(bytes: Array[Byte]): InternalRow = {
    if (bytes == null) return null
    val tiff = findTiff(bytes)
    if (tiff == null) return null
    val base = tiff(0); val end = tiff(1)
    if (base + 8 > end) return null
    val be =
      if (bytes(base) == 'M' && bytes(base + 1) == 'M') true
      else if (bytes(base) == 'I' && bytes(base + 1) == 'I') false
      else return null
    if (u16(bytes, base + 2, end, be) != 42) return null
    val ifd0 = u32(bytes, base + 4, end, be)
    if (ifd0 < 0) return null
    var make: UTF8String = null
    var orientation: Any = null
    var gpsOff = -1L
    val ifdP = abs(base, ifd0, 2, end)
    if (ifdP < 0) return null
    val n0 = u16(bytes, ifdP, end, be)
    if (n0 < 0) return null
    var e = 0
    while (e < n0) {
      val ep = abs(base, ifd0 + 2 + 12L * e, 12, end)
      if (ep < 0) return null
      val tag = u16(bytes, ep, end, be)
      val typ = u16(bytes, ep + 2, end, be)
      val cnt = u32(bytes, ep + 4, end, be)
      if (tag < 0 || typ < 0 || cnt < 0) return null
      tag match {
        case TagMake if typ == 2 =>
          val p = if (cnt <= 4) ep + 8 else abs(base, u32(bytes, ep + 8, end, be), cnt, end)
          if (p < base || p + cnt > end) return null
          var len = cnt.toInt
          while (len > 0 && bytes(p + len - 1) == 0) len -= 1
          make = UTF8String.fromBytes(java.util.Arrays.copyOfRange(bytes, p, p + len))
        case TagOrientation if typ == 3 =>
          val v = u16(bytes, ep + 8, end, be)
          if (v < 0) return null
          orientation = v
        case TagGpsIfd if typ == 4 =>
          gpsOff = u32(bytes, ep + 8, end, be)
          if (gpsOff < 0) return null
        case _ => ()
      }
      e += 1
    }
    var latE3: Any = null
    var lonE3: Any = null
    if (gpsOff >= 0) {
      val gp = abs(base, gpsOff, 2, end)
      if (gp < 0) return null
      val ng = u16(bytes, gp, end, be)
      if (ng < 0) return null
      var latSign = 0L; var lonSign = 0L; var latOff = -1L; var lonOff = -1L
      var g = 0
      while (g < ng) {
        val ep = gp + 2 + 12 * g
        if (ep < 0 || ep + 12 > end) return null
        val tag = u16(bytes, ep, end, be)
        val typ = u16(bytes, ep + 2, end, be)
        if (tag < 0 || typ < 0) return null
        tag match {
          case GpsLatRef if typ == 2 =>
            val c = bytes(ep + 8) // inline ASCII "N\0"/"S\0"
            latSign = if (c == 'N') 1L else if (c == 'S') -1L else 0L
          case GpsLonRef if typ == 2 =>
            val c = bytes(ep + 8)
            lonSign = if (c == 'E') 1L else if (c == 'W') -1L else 0L
          case GpsLat if typ == 5 => latOff = u32(bytes, ep + 8, end, be)
          case GpsLon if typ == 5 => lonOff = u32(bytes, ep + 8, end, be)
          case _ => ()
        }
        g += 1
      }
      if (latSign != 0 && latOff >= 0) {
        val v = dmsE3(bytes, base, latOff, end, be)
        if (v >= 0) latE3 = latSign * v
      }
      if (lonSign != 0 && lonOff >= 0) {
        val v = dmsE3(bytes, base, lonOff, end, be)
        if (v >= 0) lonE3 = lonSign * v
      }
    }
    new GenericInternalRow(Array[Any](make, orientation, latE3, lonE3))
  }

  /** Length-preserving GPS scrub (see object doc): zero the GPS sub-IFD,
    * every out-of-line value it references, and the IFD0 entry that links
    * it. Returns the input UNTOUCHED (same reference) when there is no GPS
    * IFD to scrub; null when the bytes are not a JPEG with a structurally
    * sound Exif APP1 (a scrubber that silently passes bytes it cannot
    * parse would launder un-scrubbed images through the pipeline).
    */
  def stripGps(bytes: Array[Byte]): Array[Byte] = {
    if (bytes == null) return null
    val tiff = findTiff(bytes)
    if (tiff == null) return null
    val base = tiff(0); val end = tiff(1)
    if (base + 8 > end) return null
    val be =
      if (bytes(base) == 'M' && bytes(base + 1) == 'M') true
      else if (bytes(base) == 'I' && bytes(base + 1) == 'I') false
      else return null
    if (u16(bytes, base + 2, end, be) != 42) return null
    val ifd0 = u32(bytes, base + 4, end, be)
    if (ifd0 < 0) return null
    val ifdP = abs(base, ifd0, 2, end)
    if (ifdP < 0) return null
    val n0 = u16(bytes, ifdP, end, be)
    if (n0 < 0) return null
    var gpsEntryPos = -1
    var gpsOff = -1L
    var e = 0
    while (e < n0) {
      val ep = abs(base, ifd0 + 2 + 12L * e, 12, end)
      if (ep < 0) return null
      val tag = u16(bytes, ep, end, be)
      if (tag < 0) return null
      if (tag == TagGpsIfd && u16(bytes, ep + 2, end, be) == 4) {
        gpsEntryPos = ep
        gpsOff = u32(bytes, ep + 8, end, be)
      }
      e += 1
    }
    if (gpsEntryPos < 0 || gpsOff < 0) return bytes // nothing to scrub
    val gp = abs(base, gpsOff, 2, end)
    if (gp < 0) return null
    val ng = u16(bytes, gp, end, be)
    if (ng < 0) return null
    val out = bytes.clone()
    // out-of-line values first (type sizes: we zero RATIONAL and long
    // ASCII payloads; inline values die with the entry bytes below)
    var g = 0
    while (g < ng) {
      val ep = gp + 2 + 12 * g
      val typ = u16(bytes, ep + 2, end, be)
      val cnt = u32(bytes, ep + 4, end, be)
      if (typ < 0 || cnt < 0) return null
      val unit = typ match {
        case 1 | 2 | 7 => 1L
        case 3 => 2L
        case 4 | 9 => 4L
        case 5 | 10 => 8L
        case _ => 0L
      }
      val byteLen = unit * cnt
      if (byteLen > 4) {
        val voff = u32(bytes, ep + 8, end, be)
        if (voff < 0 || base + voff + byteLen > end) return null
        java.util.Arrays.fill(out, (base + voff).toInt, (base + voff + byteLen).toInt, 0.toByte)
      }
      g += 1
    }
    // the GPS IFD itself: count + entries + next-IFD pointer
    val gpsIfdEnd = gp + 2 + 12 * ng + 4
    if (gpsIfdEnd < gp || gpsIfdEnd > end) return null
    java.util.Arrays.fill(out, gp, gpsIfdEnd, 0.toByte)
    // unlink: the IFD0 entry becomes tag 0/type 0/count 0/value 0, which
    // every TIFF walker (including ours) skips as unknown
    java.util.Arrays.fill(out, gpsEntryPos, gpsEntryPos + 12, 0.toByte)
    out
  }
}

/** binary → struct<exif_make, exif_orientation, gps_lat_e3, gps_lon_e3>;
  * null for anything that is not a JPEG with a sound Exif APP1.
  */
case class ExifMeta(child: Expression)
    extends GraftUnary("graft_exif_meta", "binary input", isBinary, nullResult = true) {
  override def dataType: DataType = ExifSupport.metaType

  protected def call(a: Any): Any = ExifSupport.meta(bytes(a))
  protected def callCode(ctx: CodegenContext, a: String): String =
    s"graft.functions.ExifSupport.meta($a)"

  override protected def withNewChildInternal(c: Expression): ExifMeta = copy(child = c)
}

/** binary → binary of IDENTICAL length with the GPS IFD zeroed and
  * unlinked; the input unchanged when it carries no GPS; null when the
  * bytes are not parseable Exif (never silently un-scrubbed).
  */
case class ExifStripGps(child: Expression)
    extends GraftUnary("graft_exif_strip_gps", "binary input", isBinary, nullResult = true) {
  override def dataType: DataType = BinaryType

  protected def call(a: Any): Any = ExifSupport.stripGps(bytes(a))
  protected def callCode(ctx: CodegenContext, a: String): String =
    s"graft.functions.ExifSupport.stripGps($a)"

  override protected def withNewChildInternal(c: Expression): ExifStripGps = copy(child = c)
}

object ExifExprs {
  /** EXIF metadata struct of a JPEG payload (see [[ExifSupport.meta]]). */
  def exifMeta(content: Column): Column = column(ExifMeta, content)

  /** Length-preserving GPS scrub (see [[ExifSupport.stripGps]]). */
  def exifStripGps(content: Column): Column = column(ExifStripGps, content)
}

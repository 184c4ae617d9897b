package graft.functions

import graft.functions.GraftFunction._
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, BinaryType, DataType}

/** Gzip MEMBER handling (RFC 1952) — the wire format of real crawl
  * archives. Common Crawl and every WARC-writing crawler ship `.warc.gz`
  * files that are a CONCATENATION of gzip members, one member per WARC
  * record, precisely so a reader can seek to a record boundary and inflate
  * one record without touching the rest of a multi-GB file. An engine that
  * only reads bare WARC bytes ([[WarcSupport]]) cannot ingest a crawl
  * delivery as it actually arrives; these expressions close that gap
  * scan-side, keeping the decode inside whole-stage codegen like the rest
  * of the intake chain (reference behavior: the scraper fetches live HTML
  * one page at a time — `scrapers/vgsi/source.py` — so the archive-file
  * concern has no analogue there; this is the 100 TB replay path).
  *
  * Grammar parsed per member: the fixed 10-byte header (magic 1f 8b,
  * CM = 8/deflate, MTIME/XFL/OS ignored), then the optional fields the
  * FLG bits declare — FEXTRA's little-endian-length block, FNAME and
  * FCOMMENT's zero-terminated strings, FHCRC's two header-CRC bytes —
  * then the raw-deflate stream, then the 8-byte trailer whose CRC32 and
  * ISIZE are both VERIFIED against the inflated bytes. Members repeat to
  * end-of-buffer.
  *
  * Untrusted-bytes contract (the q33/q92/q135 rule): bad magic, an
  * unknown compression method, a reserved FLG bit, a truncated header
  * field, a corrupt deflate stream, a trailer CRC/ISIZE mismatch, or
  * trailing garbage after the last member each return NULL for the whole
  * blob, never a throw — corrupt archives must not kill a 100 TB scan,
  * and must not silently yield partial data either.
  *
  * [[GzipSupport.gzipMember]] writes the canonical member these walks
  * read (MTIME 0, XFL 0, OS 255 "unknown", no optional fields) — used by
  * the archive SINK path and by fixtures; byte-deterministic given the
  * fixed JDK Deflater level so written archives are reproducible.
  */
object GzipSupport {

  /** One deterministic gzip member wrapping `bytes` (level-6 raw deflate,
    * zeroed MTIME, OS 255).
    */
  def gzipMember(bytes: Array[Byte]): Array[Byte] = {
    val crc = new java.util.zip.CRC32
    crc.update(bytes)
    val d = new java.util.zip.Deflater(6, true)
    val out = new java.io.ByteArrayOutputStream(bytes.length / 2 + 32)
    // header: magic, CM=8, FLG=0, MTIME=0, XFL=0, OS=255
    out.write(Array[Byte](0x1f, 0x8b.toByte, 8, 0, 0, 0, 0, 0, 0, 0xff.toByte))
    try {
      d.setInput(bytes)
      d.finish()
      val buf = new Array[Byte](8192)
      while (!d.finished()) {
        val k = d.deflate(buf)
        out.write(buf, 0, k)
      }
    } finally d.end()
    def le32(v: Long): Unit = {
      out.write((v & 0xff).toInt); out.write(((v >> 8) & 0xff).toInt)
      out.write(((v >> 16) & 0xff).toInt); out.write(((v >> 24) & 0xff).toInt)
    }
    le32(crc.getValue)
    le32(bytes.length.toLong & 0xffffffffL)
    out.toByteArray
  }

  /** Inflated payloads of each gzip member in `bytes` (document order), or
    * null when anything is malformed. Guard against decompression bombs:
    * total inflated size is capped (default 1 GiB per blob) — past the cap
    * the blob is treated as malformed rather than OOMing an executor.
    */
  final val MaxInflatedBytes: Long = 1L << 30

  def gunzipMembers(bytes: Array[Byte]): ArrayData = {
    val ms = membersOrNull(bytes)
    if (ms == null) null else new GenericArrayData(ms.toArray[Any])
  }

  /** All members' inflated bytes concatenated into one buffer (the WARC
    * replay shape: member-per-record archives inflate back to the exact
    * bare record stream [[WarcSupport.records]] parses), or null.
    */
  def gunzipConcat(bytes: Array[Byte]): Array[Byte] = {
    val ms = membersOrNull(bytes)
    if (ms == null) return null
    var total = 0
    ms.foreach(m => total += m.length)
    val out = new Array[Byte](total)
    var off = 0
    ms.foreach { m => System.arraycopy(m, 0, out, off, m.length); off += m.length }
    out
  }

  private def membersOrNull(bytes: Array[Byte]): scala.collection.mutable.ArrayBuffer[Array[Byte]] = {
    if (bytes == null) return null
    val n = bytes.length
    val out = scala.collection.mutable.ArrayBuffer.empty[Array[Byte]]
    var i = 0
    var budget = MaxInflatedBytes
    if (n == 0) return null
    while (i < n) {
      // --- fixed header ---
      if (i + 10 > n) return null
      if (bytes(i) != 0x1f || bytes(i + 1) != 0x8b.toByte) return null
      if (bytes(i + 2) != 8) return null // CM: deflate only
      val flg = bytes(i + 3) & 0xff
      if ((flg & 0xe0) != 0) return null // reserved bits must be zero
      i += 10
      // --- optional header fields, in RFC 1952 order ---
      if ((flg & 4) != 0) { // FEXTRA
        if (i + 2 > n) return null
        val xlen = (bytes(i) & 0xff) | ((bytes(i + 1) & 0xff) << 8)
        i += 2
        if (i + xlen > n) return null
        i += xlen
      }
      if ((flg & 8) != 0) { // FNAME: zero-terminated
        while (i < n && bytes(i) != 0) i += 1
        if (i >= n) return null
        i += 1
      }
      if ((flg & 16) != 0) { // FCOMMENT: zero-terminated
        while (i < n && bytes(i) != 0) i += 1
        if (i >= n) return null
        i += 1
      }
      if ((flg & 2) != 0) { // FHCRC: skipped, not verified — the trailer
        // CRC32 over the INFLATED data below is the integrity gate; a
        // header-CRC mismatch with intact data is not worth dropping a
        // record over (zlib's own gzread ignores it too)
        if (i + 2 > n) return null
        i += 2
      }
      // --- raw deflate stream ---
      val inf = new java.util.zip.Inflater(true)
      val member =
        try {
          inf.setInput(bytes, i, n - i)
          val buf = new Array[Byte](8192)
          val acc = new java.io.ByteArrayOutputStream(8192)
          var ok = true
          while (ok && !inf.finished()) {
            val k =
              try inf.inflate(buf)
              catch { case _: java.util.zip.DataFormatException => ok = false; 0 }
            if (k > 0) {
              budget -= k
              if (budget < 0) ok = false else acc.write(buf, 0, k)
            } else if (k == 0 && !inf.finished()) ok = false // truncated stream
          }
          if (!ok) return null
          i += inf.getTotalIn // advance past the compressed bytes consumed
          acc.toByteArray
        } finally inf.end()
      // --- trailer: CRC32 + ISIZE, both verified ---
      if (i + 8 > n) return null
      def le32(off: Int): Long =
        (bytes(off) & 0xffL) | ((bytes(off + 1) & 0xffL) << 8) |
          ((bytes(off + 2) & 0xffL) << 16) | ((bytes(off + 3) & 0xffL) << 24)
      val crc = new java.util.zip.CRC32
      crc.update(member)
      if (le32(i) != crc.getValue) return null
      if (le32(i + 4) != (member.length.toLong & 0xffffffffL)) return null
      i += 8
      out += member
    }
    out
  }
}

/** binary → binary: one deterministic gzip member (codegen-enabled). */
case class GzipMemberOf(child: Expression) extends GraftUnary("graft_gzip", "binary input", isBinary) {
  override def dataType: DataType = BinaryType

  protected def call(a: Any): Any = GzipSupport.gzipMember(bytes(a))
  protected def callCode(ctx: CodegenContext, a: String): String =
    s"graft.functions.GzipSupport.gzipMember($a)"

  override protected def withNewChildInternal(c: Expression): GzipMemberOf = copy(child = c)
}

/** binary → array<binary>: per-member inflated payloads; NULL on malformed. */
case class GunzipMembers(child: Expression)
    extends GraftUnary("graft_gunzip_members", "binary input", isBinary, nullResult = true) {
  override def dataType: DataType = ArrayType(BinaryType, containsNull = false)

  protected def call(a: Any): Any = GzipSupport.gunzipMembers(bytes(a))
  protected def callCode(ctx: CodegenContext, a: String): String =
    s"graft.functions.GzipSupport.gunzipMembers($a)"

  override protected def withNewChildInternal(c: Expression): GunzipMembers = copy(child = c)
}

/** binary → binary: all members inflated and concatenated; NULL on malformed. */
case class GunzipConcat(child: Expression)
    extends GraftUnary("graft_gunzip", "binary input", isBinary, nullResult = true) {
  override def dataType: DataType = BinaryType

  protected def call(a: Any): Any = GzipSupport.gunzipConcat(bytes(a))
  protected def callCode(ctx: CodegenContext, a: String): String =
    s"graft.functions.GzipSupport.gunzipConcat($a)"

  override protected def withNewChildInternal(c: Expression): GunzipConcat = copy(child = c)
}

object GzipExprs {
  /** Deterministic gzip member of a binary column. */
  def gzipMember(content: Column): Column = column(GzipMemberOf, content)

  /** array<binary> of inflated member payloads; NULL on malformed. */
  def gunzipMembers(content: Column): Column = column(GunzipMembers, content)

  /** Inflated members concatenated to one binary; NULL on malformed. */
  def gunzipConcat(content: Column): Column = column(GunzipConcat, content)
}

package graft.functions

import graft.functions.GraftFunction._
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** WARC / WET record parsing (ISO 28500, the Common Crawl container) — the
  * web-archive intake the reference's HTML scraper implies at corpus scale:
  * a crawl delivery is not one page per file but a concatenation of
  * length-prefixed WARC records, and a 100 TB pipeline reads those as an
  * opaque binary column and splits records scan-side, exactly like the
  * media sniffers ([[MediaSniffSupport]]) walk containers.
  *
  * Grammar parsed (WARC/1.0 and WARC/1.1): a version line, CRLF-terminated
  * `Name: value` header lines (names case-insensitive; deprecated
  * continuation folding — a line starting with SP/HT — is honored), a
  * blank line, then exactly Content-Length payload octets, then the
  * mandatory CRLF CRLF record terminator. The payload is LENGTH-DRIVEN: a
  * payload containing the bytes "WARC/1.0" cannot desync the walk.
  *
  * Untrusted-bytes contract (the q33/q92/q105 rule): anything malformed —
  * bad version line, header without a colon, missing or non-numeric
  * Content-Length, payload running past the buffer, a missing terminator,
  * trailing garbage after the last record — returns NULL for the whole
  * blob, never a throw: corrupt members must not kill a 100 TB scan.
  */
object WarcSupport {

  val recordType: StructType = StructType(Seq(
    StructField("warc_type", StringType, nullable = true),
    StructField("target_uri", StringType, nullable = true),
    StructField("content_length", LongType, nullable = false),
    StructField("payload", BinaryType, nullable = false)
  ))

  private final val MaxHeaderLine = 1 << 16 // desync guard: no sane header line is 64 KiB

  /** All records of a WARC blob, or null when any part is malformed. */
  def records(bytes: Array[Byte]): ArrayData = {
    if (bytes == null) return null
    val out = new java.util.ArrayList[InternalRow]()
    var i = 0
    val n = bytes.length
    // index of the next CRLF at/after i, or -1; bounded to keep garbage linear
    def lineEnd(from: Int): Int = {
      var j = from
      val limit = math.min(n - 1, from + MaxHeaderLine)
      while (j < limit) {
        if (bytes(j) == '\r' && bytes(j + 1) == '\n') return j
        j += 1
      }
      -1
    }
    while (i < n) {
      // --- version line ---
      val ve = lineEnd(i)
      if (ve < 0) return null
      val version = new String(bytes, i, ve - i, java.nio.charset.StandardCharsets.US_ASCII)
      if (version != "WARC/1.0" && version != "WARC/1.1") return null
      i = ve + 2
      // --- header lines until the blank line ---
      var warcType: UTF8String = null
      var targetUri: UTF8String = null
      var contentLength = -1L
      var done = false
      while (!done) {
        val he = lineEnd(i)
        if (he < 0) return null
        if (he == i) { done = true; i += 2 } // blank line: headers end
        else {
          val first = bytes(i)
          val line = new String(bytes, i, he - i, java.nio.charset.StandardCharsets.UTF_8)
          i = he + 2
          // a continuation line directly after the version line folds onto
          // no header — malformed (continuations after a header line are
          // absorbed below, so top-of-loop never legitimately sees one)
          if (first == ' ' || first == '\t') return null
          val colon = line.indexOf(':')
          if (colon <= 0) return null
          val name = line.substring(0, colon).trim.toLowerCase(java.util.Locale.ROOT)
          var value = line.substring(colon + 1).trim
          // absorb continuation lines into this value
          var cont = true
          while (cont) {
            val ce = lineEnd(i)
            if (ce < 0) return null
            if (ce > i && (bytes(i) == ' ' || bytes(i) == '\t')) {
              val extra = new String(bytes, i, ce - i, java.nio.charset.StandardCharsets.UTF_8)
              value = value + " " + extra.trim
              i = ce + 2
            } else cont = false
          }
          name match {
            case "warc-type" => warcType = UTF8String.fromString(value)
            case "warc-target-uri" => targetUri = UTF8String.fromString(value)
            case "content-length" =>
              if (value.isEmpty || !value.forall(c => c >= '0' && c <= '9') ||
                value.length > 18) return null
              contentLength = java.lang.Long.parseLong(value)
            case _ => () // other headers pass through unrecorded
          }
        }
      }
      if (contentLength < 0) return null // Content-Length is mandatory
      // --- payload: exactly contentLength octets ---
      if (i + contentLength > n) return null
      val payload = java.util.Arrays.copyOfRange(bytes, i, i + contentLength.toInt)
      i += contentLength.toInt
      // --- mandatory record terminator CRLF CRLF ---
      if (i + 4 > n || bytes(i) != '\r' || bytes(i + 1) != '\n' ||
        bytes(i + 2) != '\r' || bytes(i + 3) != '\n') return null
      i += 4
      out.add(new GenericInternalRow(Array[Any](warcType, targetUri, contentLength, payload)))
    }
    if (out.isEmpty) return null // zero-record blob is not a WARC file
    new GenericArrayData(out.toArray)
  }
}

/** array<struct<warc_type, target_uri, content_length, payload>> over a
  * binary WARC/WET blob (codegen-enabled); NULL when the blob is not a
  * well-formed record sequence.
  */
case class WarcRecords(child: Expression)
    extends GraftUnary("graft_warc_records", "binary input", isBinary, nullResult = true) {
  override def dataType: DataType = ArrayType(WarcSupport.recordType, containsNull = false)

  protected def call(a: Any): Any = WarcSupport.records(bytes(a))
  protected def callCode(ctx: CodegenContext, a: String): String =
    s"graft.functions.WarcSupport.records($a)"

  override protected def withNewChildInternal(c: Expression): WarcRecords = copy(child = c)
}

object WarcExprs {
  def warcRecords(content: Column): Column = column(WarcRecords, content)
}

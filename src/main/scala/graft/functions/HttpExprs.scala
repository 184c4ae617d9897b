package graft.functions

import graft.functions.GraftFunction._
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** HTTP/1.x response-message parsing (RFC 9112 shape) — the layer between
  * [[WarcSupport]] and the HTML extractors for REAL crawl archives: a
  * Common Crawl `response` record's payload is not a page but an HTTP
  * message — status line, header fields, blank line, body — and a corpus
  * builder must gate on the status (a 404 body is an error page, not a
  * document), route on the Content-Type (binary media must not reach the
  * text extractor), and honor the header's `charset=` parameter, which
  * WHATWG ranks ABOVE any in-document `<meta charset>` declaration.
  *
  * Parsed in one walk, scan-side: the status line (`HTTP/<v> <code>
  * [reason]`), the Content-Type field value (first occurrence,
  * case-insensitive name, value as written minus surrounding whitespace),
  * and the body (octets after the first blank line — bare-LF line endings
  * tolerated alongside CRLF, as real servers emit both).
  *
  * Untrusted-bytes contract (the [[WarcSupport]] rule): a payload that
  * does not start with "HTTP/", a non-numeric status code, or headers
  * that never terminate → NULL for the whole struct, never a throw.
  * Absent Content-Type → NULL field (the caller's sniffing policy
  * decides, per WHATWG).
  */
object HttpSupport {

  val responseType: StructType = StructType(Seq(
    StructField("status", IntegerType, nullable = false),
    StructField("content_type", StringType, nullable = true),
    StructField("body", BinaryType, nullable = false)
  ))

  /** Parse one HTTP response message; null when it is not one. */
  def parse(bytes: Array[Byte]): InternalRow = {
    if (bytes == null) return null
    val n = bytes.length
    // status line: "HTTP/" version SP 3-digit code [SP reason] EOL
    if (n < 12 || bytes(0) != 'H' || bytes(1) != 'T' || bytes(2) != 'T' ||
      bytes(3) != 'P' || bytes(4) != '/') return null
    var i = 5
    while (i < n && bytes(i) != ' ' && bytes(i) != '\r' && bytes(i) != '\n') i += 1
    if (i >= n || bytes(i) != ' ') return null
    i += 1
    var status = 0
    var digits = 0
    while (i < n && bytes(i) >= '0' && bytes(i) <= '9' && digits < 4) {
      status = status * 10 + (bytes(i) - '0'); i += 1; digits += 1
    }
    if (digits != 3) return null
    // rest of the status line (reason phrase) — skip to EOL
    while (i < n && bytes(i) != '\n') i += 1
    if (i >= n) return null
    i += 1
    // header fields until the blank line; collect the first Content-Type
    var contentType: UTF8String = null
    var bodyStart = -1
    while (bodyStart < 0 && i < n) {
      // line [i, eol)
      var eol = i
      while (eol < n && bytes(eol) != '\n') eol += 1
      var end = eol // exclusive, minus a trailing CR
      if (end > i && end <= n && end - 1 < n && bytes(end - 1) == '\r') end -= 1
      if (end == i) {
        // blank line: body starts after the LF (if the LF exists)
        bodyStart = if (eol < n) eol + 1 else n
      } else {
        if (contentType == null && end - i > 13) {
          val name = new String(bytes, i, 13, java.nio.charset.StandardCharsets.ISO_8859_1)
          if (name.equalsIgnoreCase("content-type:")) {
            var vs = i + 13
            while (vs < end && (bytes(vs) == ' ' || bytes(vs) == '\t')) vs += 1
            var ve = end
            while (ve > vs && (bytes(ve - 1) == ' ' || bytes(ve - 1) == '\t')) ve -= 1
            if (ve > vs)
              contentType = UTF8String.fromString(
                new String(bytes, vs, ve - vs, java.nio.charset.StandardCharsets.ISO_8859_1))
          }
        }
        if (eol >= n) return null // headers never terminated
        i = eol + 1
      }
    }
    if (bodyStart < 0) return null
    val body = java.util.Arrays.copyOfRange(bytes, bodyStart, n)
    new GenericInternalRow(Array[Any](status, contentType, body))
  }

  /** The `charset=` parameter of a Content-Type value (lowercased label,
    * quotes stripped), or null — the transport-layer declaration WHATWG
    * ranks above in-document meta. Accepts null input.
    *
    * `charset=` counts only in PARAMETER position — a `;`-delimited
    * segment whose trimmed text starts with it — never as a substring of
    * some other parameter's value (`boundary="charset=utf-16le"` must not
    * select a charset; the same anywhere-match hazard the meta prescan
    * fixed in [[CharsetSupport]]).
    */
  def charsetParam(contentType: UTF8String): UTF8String = {
    if (contentType == null) return null
    val s = contentType.toString.toLowerCase(java.util.Locale.ROOT)
    var segStart = 0
    while (segStart <= s.length) {
      var segEnd = s.indexOf(';', segStart)
      if (segEnd < 0) segEnd = s.length
      var vs = segStart
      while (vs < segEnd && (s.charAt(vs) == ' ' || s.charAt(vs) == '\t')) vs += 1
      if (segEnd - vs > 8 && s.startsWith("charset=", vs)) {
        var p = vs + 8
        if (p < segEnd && (s.charAt(p) == '"' || s.charAt(p) == '\'')) p += 1
        var ve = p
        while (ve < segEnd && {
            val c = s.charAt(ve)
            c.isLetterOrDigit || c == '-' || c == '_'
          }) ve += 1
        return if (ve == p) null else UTF8String.fromString(s.substring(p, ve))
      }
      segStart = segEnd + 1
    }
    null
  }
}

/** binary → struct<status:int, content_type:string, body:binary>, or NULL
  * when the payload is not an HTTP response message (codegen-enabled).
  */
case class HttpResponse(child: Expression)
    extends GraftUnary("graft_http_response", "binary input", isBinary, nullResult = true) {
  override def dataType: DataType = HttpSupport.responseType

  protected def call(a: Any): Any = HttpSupport.parse(bytes(a))
  protected def callCode(ctx: CodegenContext, a: String): String =
    s"graft.functions.HttpSupport.parse($a)"

  override protected def withNewChildInternal(c: Expression): HttpResponse = copy(child = c)
}

/** string → lowercased charset label from a Content-Type value, or NULL
  * when the value carries no charset parameter (codegen-enabled).
  */
case class HttpCharset(child: Expression)
    extends GraftUnary("graft_http_charset", "string input", isString, nullResult = true) {
  override def dataType: DataType = StringType

  protected def call(a: Any): Any = HttpSupport.charsetParam(utf8(a))
  protected def callCode(ctx: CodegenContext, a: String): String =
    s"graft.functions.HttpSupport.charsetParam($a)"

  override protected def withNewChildInternal(c: Expression): HttpCharset = copy(child = c)
}

object HttpExprs {
  def httpResponse(payload: Column): Column = column(HttpResponse, payload)
  def httpCharset(contentType: Column): Column = column(HttpCharset, contentType)
}

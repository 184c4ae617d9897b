package graft.functions

import graft.functions.GraftFunction._
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.types.{BinaryType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Crawl-payload charset handling — the step BEFORE any text operator can
  * touch fetched bytes: a `cast(payload AS string)` assumes UTF-8, but
  * real crawls carry UTF-16 BOMs, `<meta charset=…>` declarations, and
  * legacy windows-1252 — mis-decoding silently corrupts every accented
  * character, and every downstream hash/shingle/fingerprint with it (the
  * same failure class q132's mojibake repair exists to undo AFTER the
  * fact; this prevents it AT intake).
  *
  * Detection order (WHATWG encoding-sniffing shape, pinned by
  * CharsetSpec):
  *  1. BOM — UTF-8 (EF BB BF), UTF-16LE (FF FE), UTF-16BE (FE FF); a BOM
  *     OVERRIDES any declaration (the document cannot be read to see the
  *     declaration in another encoding anyway).
  *  2. an ASCII-compatible scan of the first 1024 bytes for a
  *     `charset=` declaration (`<meta charset="…">`, the http-equiv
  *     `content="text/html; charset=…"` form, or a leading XML
  *     `<?xml … encoding="…"?>`), case-insensitive, quotes optional —
  *     matched only INSIDE those declaration contexts (the WHATWG
  *     prescan shape): a literal `charset=` in visible text, a comment,
  *     or a URL query string never selects a label.
  *  3. nothing found → null from [[sniff]]; [[decode]] defaults to UTF-8.
  *
  * Decoding recognizes utf-8, utf-16le/utf-16be (BOM stripped),
  * iso-8859-1/latin-1, windows-1252/cp1252, and us-ascii; an unknown or
  * unsupported label falls back to UTF-8. Malformed sequences decode to
  * U+FFFD rather than failing — untrusted bytes must never kill the scan.
  */
object CharsetSupport {

  /** Detected charset label (lowercase), or null when neither BOM nor
    * declaration is present (the caller's default applies).
    */
  def sniff(bytes: Array[Byte]): UTF8String = {
    if (bytes == null) return null
    val label = sniffLabel(bytes)
    if (label == null) null else UTF8String.fromString(label)
  }

  private def sniffLabel(b: Array[Byte]): String = {
    if (b.length >= 3 && (b(0) & 0xff) == 0xef && (b(1) & 0xff) == 0xbb &&
      (b(2) & 0xff) == 0xbf) return "utf-8"
    if (b.length >= 2 && (b(0) & 0xff) == 0xff && (b(1) & 0xff) == 0xfe) return "utf-16le"
    if (b.length >= 2 && (b(0) & 0xff) == 0xfe && (b(1) & 0xff) == 0xff) return "utf-16be"
    // ASCII-compatible prefix scan for charset= / encoding=, restricted to
    // DECLARATION contexts (the WHATWG prescan shape): 'charset=' counts
    // only inside a '<meta ...>' tag span (covers both the bare
    // '<meta charset=…>' and the http-equiv 'content="text/html;
    // charset=…"' forms) and 'encoding=' only inside a LEADING '<?xml ...'
    // declaration. A literal occurrence in early visible text, a comment,
    // or a URL query string (href="...?charset=utf-16le") must NOT select
    // a label — that would manufacture exactly the mis-decode this sniffer
    // exists to prevent.
    val n = math.min(b.length, 1024)
    val raw = new String(b, 0, n, java.nio.charset.StandardCharsets.ISO_8859_1)
      .toLowerCase(java.util.Locale.ROOT)
    // blank out comment spans first: a commented-out '<meta charset=…>'
    // declares nothing (the prescan skips comments)
    val head = {
      var ci = raw.indexOf("<!--")
      if (ci < 0) raw
      else {
        val sb = new java.lang.StringBuilder(raw)
        while (ci >= 0) {
          // HTML5 abruptly-closed empty comments ("<!-->", "<!--->") end at
          // their '>'; treating them as unterminated would blank the whole
          // rest of the head and lose every later declaration
          val stop =
            if (ci + 4 < raw.length && raw.charAt(ci + 4) == '>') ci + 5
            else if (ci + 5 < raw.length && raw.charAt(ci + 4) == '-' &&
              raw.charAt(ci + 5) == '>') ci + 6
            else { val e = raw.indexOf("-->", ci + 4); if (e < 0) raw.length else e + 3 }
          var p = ci
          while (p < stop) { sb.setCharAt(p, ' '); p += 1 }
          ci = raw.indexOf("<!--", stop)
        }
        sb.toString
      }
    }
    // <?xml version="1.0" encoding="…"?> — only at the very start
    // (optionally after ASCII whitespace); the declaration ends at '?>'
    var ws = 0
    while (ws < head.length && head.charAt(ws) <= ' ') ws += 1
    if (head.startsWith("<?xml", ws)) {
      val close = head.indexOf("?>", ws)
      val end = if (close < 0) head.length else close
      val e = head.indexOf("encoding=", ws)
      if (e >= 0 && e < end) {
        val l = readLabel(head, e + 9)
        if (l != null) return fromAsciiDecl(l)
      }
    }
    // every <meta …> span in the head (name must END at "<meta" + ws/'/'
    // — '<metadata>' is not a meta tag). Per the WHATWG prescan, charset=
    // counts only as the meta tag's OWN `charset` ATTRIBUTE, or inside the
    // `content` attribute value when the tag also carries
    // http-equiv="content-type" — never as a byte run anywhere in the tag
    // span: an Open Graph og:url whose URL ends in '?charset=utf-16le'
    // sits inside a <meta …> span too, and matching it would garble the
    // whole page.
    var m = head.indexOf("<meta")
    while (m >= 0) {
      val after = m + 5
      val isMeta = after >= head.length || head.charAt(after) <= ' ' ||
        head.charAt(after) == '/' || head.charAt(after) == '>'
      if (isMeta) {
        // quote-aware span end (the prescan's attribute rules): a quoted
        // attribute value containing '>' must not truncate the span before
        // the charset attribute is reached
        var gt = -1
        var qq = 0.toChar
        var z = after
        while (gt < 0 && z < head.length) {
          val cz = head.charAt(z)
          if (qq != 0) { if (cz == qq) qq = 0.toChar }
          else if (cz == '"' || cz == '\'') qq = cz
          else if (cz == '>') gt = z
          z += 1
        }
        val end = if (gt < 0) head.length else gt
        // parse the span's name[=value] attributes structurally
        var charsetAttr: String = null
        var httpEquiv: String = null
        var contentAttr: String = null
        var p = after
        while (p < end) {
          while (p < end && (head.charAt(p) <= ' ' || head.charAt(p) == '/')) p += 1
          if (p < end) {
            val ns = p
            while (p < end && head.charAt(p) > ' ' && head.charAt(p) != '=' &&
              head.charAt(p) != '/') p += 1
            val name = head.substring(ns, p)
            var value: String = null
            var q = p
            while (q < end && head.charAt(q) <= ' ') q += 1
            if (q < end && head.charAt(q) == '=') {
              q += 1
              while (q < end && head.charAt(q) <= ' ') q += 1
              if (q < end && (head.charAt(q) == '"' || head.charAt(q) == '\'')) {
                val quote = head.charAt(q)
                val vs = q + 1
                val ve = head.indexOf(quote, vs)
                val stop = if (ve < 0 || ve > end) end else ve
                value = head.substring(vs, stop)
                q = if (ve < 0 || ve > end) end else ve + 1
              } else {
                val vs = q
                while (q < end && head.charAt(q) > ' ') q += 1
                value = head.substring(vs, q)
              }
              p = q
            }
            if (value != null) name match {
              case "charset" if charsetAttr == null => charsetAttr = value
              case "http-equiv" if httpEquiv == null => httpEquiv = value
              case "content" if contentAttr == null => contentAttr = value
              case _ => ()
            }
          }
        }
        if (charsetAttr != null) {
          val l = readLabel(charsetAttr, 0)
          if (l != null) return fromAsciiDecl(l)
        } else if (httpEquiv == "content-type" && contentAttr != null) {
          // "get an encoding from a meta element": find charset, optional
          // whitespace, '=', optional whitespace, then the label
          val c = contentAttr.indexOf("charset")
          if (c >= 0) {
            var v = c + 7
            while (v < contentAttr.length && contentAttr.charAt(v) <= ' ') v += 1
            if (v < contentAttr.length && contentAttr.charAt(v) == '=') {
              var w = v + 1
              while (w < contentAttr.length && contentAttr.charAt(w) <= ' ') w += 1
              val l = readLabel(contentAttr, w)
              if (l != null) return fromAsciiDecl(l)
            }
          }
        }
      }
      m = head.indexOf("<meta", m + 5)
    }
    null
  }

  /** WHATWG post-processing for a declaration found by the ASCII prescan:
    * a document whose charset declaration was readable as an ASCII byte
    * run cannot actually BE UTF-16 (UTF-16 meta bytes are two-byte units,
    * not an ASCII run) — the label is a lie, and honoring it fuses every
    * byte pair into a garbage code point. The spec maps the UTF-16 family
    * to UTF-8; real UTF-16 documents are caught by their BOM above.
    */
  private def fromAsciiDecl(l: String): String =
    if (l == "utf-16" || l == "utf-16le" || l == "utf-16be") "utf-8" else l

  /** Label run at `from` (optional single/double quote, then
    * letters/digits/-/_); null when empty.
    */
  private def readLabel(head: String, from: Int): String = {
    var vs = from
    if (vs < head.length && (head.charAt(vs) == '"' || head.charAt(vs) == '\'')) vs += 1
    var ve = vs
    while (ve < head.length && {
        val c = head.charAt(ve)
        c.isLetterOrDigit || c == '-' || c == '_'
      }) ve += 1
    if (ve == vs) null else head.substring(vs, ve)
  }

  /** Bytes → text under the sniffed (or defaulted) charset, BOM stripped,
    * malformed input replaced — never null for non-null input.
    */
  def decode(bytes: Array[Byte]): UTF8String = {
    if (bytes == null) return null
    val label = sniffLabel(bytes)
    val (cs, skip) =
      if (bytes.length >= 3 && (bytes(0) & 0xff) == 0xef && (bytes(1) & 0xff) == 0xbb &&
        (bytes(2) & 0xff) == 0xbf)
        (java.nio.charset.StandardCharsets.UTF_8, 3)
      else if (bytes.length >= 2 && (bytes(0) & 0xff) == 0xff && (bytes(1) & 0xff) == 0xfe)
        (java.nio.charset.StandardCharsets.UTF_16LE, 2)
      else if (bytes.length >= 2 && (bytes(0) & 0xff) == 0xfe && (bytes(1) & 0xff) == 0xff)
        (java.nio.charset.StandardCharsets.UTF_16BE, 2)
      else (charsetFor(label), 0)
    // String(byte[],Charset) substitutes malformed/unmappable input, never throws
    UTF8String.fromString(new String(bytes, skip, bytes.length - skip, cs))
  }

  /** [[decode]] under WHATWG's full precedence when a TRANSPORT-layer
    * label (the HTTP Content-Type `charset=` parameter, see
    * [[HttpSupport.charsetParam]]) is available: BOM > transport label >
    * in-document declaration > UTF-8. A BOM still wins over the header —
    * the bytes say what they are; a null label is plain [[decode]].
    */
  def decodeWith(bytes: Array[Byte], label: UTF8String): UTF8String = {
    if (bytes == null) return null
    val hasBom =
      (bytes.length >= 3 && (bytes(0) & 0xff) == 0xef && (bytes(1) & 0xff) == 0xbb &&
        (bytes(2) & 0xff) == 0xbf) ||
        (bytes.length >= 2 &&
          (((bytes(0) & 0xff) == 0xff && (bytes(1) & 0xff) == 0xfe) ||
            ((bytes(0) & 0xff) == 0xfe && (bytes(1) & 0xff) == 0xff)))
    if (label == null || hasBom) return decode(bytes)
    // an UNRECOGNIZED transport label is no label at all (WHATWG: treat as
    // absent and fall through to the in-document declaration) — mapping it
    // straight to UTF-8 here would let a header the engine cannot use
    // OVERRIDE a meta declaration it can, inverting the precedence
    val cs = charsetForOrNull(label.toString.toLowerCase(java.util.Locale.ROOT))
    if (cs == null) return decode(bytes)
    UTF8String.fromString(new String(bytes, 0, bytes.length, cs))
  }

  private def charsetFor(label: String): java.nio.charset.Charset = {
    val cs = charsetForOrNull(label)
    if (cs == null) java.nio.charset.StandardCharsets.UTF_8 // unknown declaration: the web's default
    else cs
  }

  /** The charset for a recognized label, or null for one the engine does
    * not know — callers that have a FALLBACK signal (decodeWith's
    * in-document declaration) must distinguish "explicitly utf-8" from
    * "unusable label".
    */
  private def charsetForOrNull(label: String): java.nio.charset.Charset = {
    import java.nio.charset.StandardCharsets._
    label match {
      case null | "utf-8" | "utf8" => UTF_8
      case "utf-16le" | "utf-16" => UTF_16LE
      case "utf-16be" => UTF_16BE
      case "iso-8859-1" | "latin-1" | "latin1" | "iso8859-1" => ISO_8859_1
      case "windows-1252" | "cp1252" =>
        try java.nio.charset.Charset.forName("windows-1252")
        catch { case _: Exception => ISO_8859_1 }
      case "us-ascii" | "ascii" => US_ASCII
      case _ => null
    }
  }
}

/** binary → declared/BOM charset label or NULL (codegen-enabled). */
case class SniffCharset(child: Expression)
    extends GraftUnary("graft_sniff_charset", "binary input", isBinary, nullResult = true) {
  override def dataType: DataType = StringType

  protected def call(a: Any): Any = CharsetSupport.sniff(bytes(a))
  protected def callCode(ctx: CodegenContext, a: String): String =
    s"graft.functions.CharsetSupport.sniff($a)"

  override protected def withNewChildInternal(c: Expression): SniffCharset = copy(child = c)
}

/** binary → decoded text under the sniffed/defaulted charset
  * (codegen-enabled); never null for non-null input.
  */
case class DecodeSniffed(child: Expression)
    extends GraftUnary("graft_decode_sniffed", "binary input", isBinary) {
  override def dataType: DataType = StringType

  protected def call(a: Any): Any = CharsetSupport.decode(bytes(a))
  protected def callCode(ctx: CodegenContext, a: String): String =
    s"graft.functions.CharsetSupport.decode($a)"

  override protected def withNewChildInternal(c: Expression): DecodeSniffed = copy(child = c)
}

/** (binary, string label) → decoded text under the WHATWG precedence
  * BOM > transport label > in-document declaration > UTF-8
  * (codegen-enabled). A NULL label behaves exactly like
  * [[DecodeSniffed]]; NULL bytes → NULL.
  */
case class DecodeSniffedWith(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {
  override def dataType: DataType = StringType
  override def nullable: Boolean = left.nullable
  // the label is OPTIONAL: a null label must not null the result
  override def nullIntolerant: Boolean = false

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (BinaryType, StringType) => TypeCheckResult.TypeCheckSuccess
      case (a, b) =>
        TypeCheckResult.TypeCheckFailure(
          s"graft_decode_sniffed_with requires (binary, string), got " +
            s"(${a.catalogString}, ${b.catalogString})")
    }

  override def eval(input: InternalRow): Any = {
    val bytes = left.eval(input)
    if (bytes == null) return null
    CharsetSupport.decodeWith(
      bytes.asInstanceOf[Array[Byte]],
      right.eval(input).asInstanceOf[UTF8String])
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val b = left.genCode(ctx)
    val l = right.genCode(ctx)
    val code =
      code"""
        ${b.code}
        ${l.code}
        boolean ${ev.isNull} = ${b.isNull};
        UTF8String ${ev.value} = null;
        if (!${ev.isNull}) {
          ${ev.value} = graft.functions.CharsetSupport.decodeWith(
            ${b.value}, ${l.isNull} ? null : ${l.value});
        }
      """
    ev.copy(code = code)
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression,
      newRight: Expression
  ): DecodeSniffedWith = copy(left = newLeft, right = newRight)
}

object CharsetExprs {
  def sniffCharset(bytes: Column): Column = column(SniffCharset, bytes)
  def decodeSniffed(bytes: Column): Column = column(DecodeSniffed, bytes)
  def decodeSniffedWith(bytes: Column, label: Column): Column =
    column(DecodeSniffedWith, bytes, label)
}

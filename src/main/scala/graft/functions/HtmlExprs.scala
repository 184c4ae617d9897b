package graft.functions

import graft.functions.GraftFunction._
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** HTML → text extraction — the intake step between WARC record splitting
  * ([[WarcSupport]]) and the text-quality operators: a crawl payload is
  * markup, and every downstream signal (dedup shingles, quality scores,
  * token counts) wants the rendered text. One deterministic single pass,
  * no DOM build — at 100 TB the extractor IS the scan, so it must be
  * linear, allocation-light, and total (malformed markup degrades to
  * best-effort text, never an error).
  *
  * Semantics (each pinned by HtmlSpec):
  *  - `<script>`, `<style>`: the whole element content is dropped
  *    (case-insensitive close-tag scan; unterminated → rest of input
  *    dropped — markup text must not leak as corpus text).
  *  - `<!-- comments -->` dropped, including any fake tags inside;
  *    unterminated → rest dropped.
  *  - other tags are zero-width for inline tags and a word break for
  *    block-level tags (p, div, li, h1..h6, br, tr, td, table, ul, ol,
  *    nav, header, footer, section, article, blockquote, pre, hr, title,
  *    head, body, html) — so `<b>x</b>y` joins but `<li>a</li><li>b</li>`
  *    does not. Attribute values may contain quoted `>` without ending
  *    the tag.
  *  - character references decoded: the five XML named entities plus
  *    nbsp, and numeric `&#NNN;` / `&#xHH;` forms (invalid or
  *    out-of-range references stay literal — lone `&` is common text).
  *  - whitespace (including NBSP) collapsed to single spaces, trimmed —
  *    canonical for hashing/shingling whatever the markup's indentation.
  *  - `<` followed by anything but an ASCII letter, `/`+letter, `!`, or
  *    `?` is literal TEXT (HTML5 tag-open rule): `1<2` and `i <3 u`
  *    survive; only real markup is consumed.
  */
object HtmlSupport {

  private val BlockTags: java.util.HashSet[String] = {
    val s = new java.util.HashSet[String]()
    Seq("p", "div", "br", "h1", "h2", "h3", "h4", "h5", "h6", "li", "ul", "ol",
      "tr", "td", "th", "table", "nav", "header", "footer", "section", "article",
      "blockquote", "pre", "hr", "title", "head", "body", "html", "form", "dl",
      "dt", "dd").foreach(s.add)
    s
  }

  private def isWs(c: Char): Boolean = c <= ' ' || c == '\u00A0'

  private def isAsciiLetter(c: Char): Boolean =
    (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z')

  /** HTML5 tag-open test for the `<` at `lt`: markup begins only when the
    * next char is an ASCII letter (open tag), `/` + letter (close tag), or
    * `!`/`?` (markup declaration / processing instruction \u2014 HTML5 consumes
    * both to the next `>`, which is what the tag scan does for their empty
    * "name"). Anything else \u2014 `1<2`, `i <3 u`, a trailing `<` \u2014 is literal
    * text: without this gate the scan-to-`>` loop would silently swallow
    * it (or the whole rest of the document when no `>` follows). Shared by
    * every walk (extract/links/anchors/mainText/meta) so text and
    * structure extraction agree on what markup IS.
    */
  private def isTagOpen(s: String, lt: Int): Boolean = {
    val n = s.length
    if (lt + 1 >= n) return false
    val c = s.charAt(lt + 1)
    if (c == '!' || c == '?') true
    else if (c == '/') lt + 2 < n && isAsciiLetter(s.charAt(lt + 2))
    else isAsciiLetter(c)
  }

  /** End-exclusive position after a comment whose `<!--` opens at `lt`.
    * HTML5's abruptly-closed empty comments \u2014 `<!-->` and `<!--->` \u2014 are
    * COMPLETE comments (their `>` closes them even though the dashes
    * overlap the opener); treating them as unterminated silently drops
    * the whole rest of the document, and they are a common leftover of
    * stripped conditional comments. Unterminated \u2192 n. Shared by every
    * walk so text and structure agree on comment spans.
    */
  private def commentEnd(s: String, lt: Int, n: Int): Int = {
    val from = lt + 4
    if (from < n && s.charAt(from) == '>') from + 1
    else if (from + 1 < n && s.charAt(from) == '-' && s.charAt(from + 1) == '>') from + 2
    else { val e = s.indexOf("-->", from); if (e < 0) n else e + 3 }
  }

  /** Index of the first `</name` close tag at or after `from` whose name
    * ends at an HTML5 name boundary (whitespace, `/`, `>`, or EOF), or n
    * when none. The boundary check is the HTML5 close-tag rule: without
    * it a `</scriptX>` inside a script body's string literal ends the
    * element early and raw JS leaks into extracted corpus text.
    */
  private def rawTextClose(s: String, from: Int, name: String, n: Int): Int = {
    val target = "</" + name
    var j = from
    while (j + target.length <= n) {
      if (s.regionMatches(true, j, target, 0, target.length)) {
        val after = j + target.length
        if (after >= n || {
            val ca = s.charAt(after)
            ca == '>' || ca == '/' || isWs(ca)
          }) return j
      }
      j += 1
    }
    n
  }

  /** End-exclusive position after the close tag [[rawTextClose]] finds
    * (past its `>`), or n when the element is unterminated.
    */
  private def rawTextEnd(s: String, from: Int, name: String, n: Int): Int = {
    val stop = rawTextClose(s, from, name, n)
    if (stop >= n) n
    else { val gt = s.indexOf('>', stop); if (gt < 0) n else gt + 1 }
  }

  /** Collapse whitespace runs (incl. NBSP) to single spaces and trim \u2014
    * the rendered-text canonical form shared by [[extract]] and the
    * per-block texts of [[mainText]].
    */
  private def canonWs(sb: CharSequence): String = {
    val out = new java.lang.StringBuilder(sb.length)
    var m = 0
    var pendingSpace = false
    while (m < sb.length) {
      val ch = sb.charAt(m)
      if (isWs(ch)) pendingSpace = out.length() > 0
      else {
        if (pendingSpace) { out.append(' '); pendingSpace = false }
        out.append(ch)
      }
      m += 1
    }
    out.toString
  }

  /** Character reference starting at `s(i) == '&'`: the replacement string
    * and the index just past the `;`, or null when the form is invalid \u2014
    * the caller keeps the literal `&` (lone ampersands are common text).
    * Shared by the text extractor and href decoding so an entity-encoded
    * link (`href="a&amp;b"`) decodes under exactly the same rules as text.
    */
  private[functions] def charRef(s: String, i: Int): (String, Int) = {
    val semi = s.indexOf(';', i + 1)
    if (semi <= i || semi - i > 10) return null
    val body = s.substring(i + 1, semi)
    if (body.startsWith("#")) {
      val num = body.substring(1)
      val cp =
        try {
          if ((num.startsWith("x") || num.startsWith("X")) && num.length > 1)
            Integer.parseInt(num.substring(1), 16)
          else if (num.nonEmpty && num.forall(_.isDigit)) Integer.parseInt(num)
          else -1
        } catch { case _: NumberFormatException => -1 }
      if (cp >= 0 && cp <= 0x10ffff && !(cp >= 0xd800 && cp <= 0xdfff))
        (new java.lang.StringBuilder(4).appendCodePoint(cp).toString, semi + 1)
      else null
    } else {
      val rep = body.toLowerCase(java.util.Locale.ROOT) match {
        case "amp" => "&"
        case "lt" => "<"
        case "gt" => ">"
        case "quot" => "\""
        case "apos" => "'"
        case "nbsp" => "\u00A0"
        case _ => null
      }
      if (rep != null) (rep, semi + 1) else null
    }
  }

  /** `charRef` applied across a whole attribute value. */
  private[functions] def decodeRefs(v: String): String = {
    if (v.indexOf('&') < 0) return v
    val sb = new java.lang.StringBuilder(v.length)
    var i = 0
    while (i < v.length) {
      val c = v.charAt(i)
      if (c == '&') {
        val r = charRef(v, i)
        if (r != null) { sb.append(r._1); i = r._2 }
        else { sb.append('&'); i += 1 }
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }

  /** Rendered text of an HTML fragment (never null for non-null input). */
  def extract(html: UTF8String): UTF8String = {
    if (html == null) return null
    val s = html.toString
    val n = s.length
    val sb = new java.lang.StringBuilder(math.min(n, 1 << 16))
    var i = 0
    while (i < n) {
      val c = s.charAt(i)
      if (c == '<') {
        if (s.startsWith("<!--", i)) { i = commentEnd(s, i, n) }
        else if (!isTagOpen(s, i)) { sb.append(c); i += 1 }
        else {
          // tag name: optional '/', then letters/digits
          var j = i + 1
          var closing = false
          if (j < n && s.charAt(j) == '/') { closing = true; j += 1 }
          val ns = j
          while (j < n && (Character.isLetterOrDigit(s.charAt(j)))) j += 1
          val name = s.substring(ns, j).toLowerCase(java.util.Locale.ROOT)
          // scan to the real tag end, honoring quoted attribute values
          var q = 0.toChar
          var end = -1
          var k = j
          while (end < 0 && k < n) {
            val ck = s.charAt(k)
            if (q != 0) { if (ck == q) q = 0.toChar }
            else if (ck == '"' || ck == '\'') q = ck
            else if (ck == '>') end = k
            k += 1
          }
          i = if (end < 0) n else end + 1
          if (!closing && (name == "script" || name == "style") &&
            end >= 0 && s.charAt(end - 1) != '/') {
            i = rawTextEnd(s, i, name, n)
          }
          if (name.nonEmpty && BlockTags.contains(name)) sb.append(' ')
        }
      } else if (c == '&') {
        val r = charRef(s, i)
        if (r != null) { sb.append(r._1); i = r._2 }
        else { sb.append('&'); i += 1 }
      } else {
        sb.append(c); i += 1
      }
    }
    UTF8String.fromString(canonWs(sb))
  }

  /** `href` values of `<a>` tags in document order — the crawl frontier /
    * link-graph feed. Shares the extractor's structural rules: anchors
    * inside comments or script/style bodies are NOT links (a JS string
    * `"<a href=..."` must not enter the frontier), attribute names are
    * case-insensitive, values may be double-quoted, single-quoted, or
    * unquoted (ended by whitespace or `>`), and character references in
    * the value decode under [[charRef]] (`href="a&amp;b"` → `a&b`).
    * Empty/missing hrefs are skipped. Never null for non-null input —
    * a page with no anchors is an empty array, not a parse failure.
    */
  def links(html: UTF8String): ArrayData = {
    if (html == null) return null
    val s = html.toString
    val n = s.length
    val out = new java.util.ArrayList[UTF8String]()
    var i = 0
    while (i < n) {
      val lt = s.indexOf('<', i)
      if (lt < 0) i = n
      else if (s.startsWith("<!--", lt)) {
        i = commentEnd(s, lt, n)
      } else if (!isTagOpen(s, lt)) {
        i = lt + 1 // literal '<' in text — not markup
      } else {
        // tag name
        var j = lt + 1
        var closing = false
        if (j < n && s.charAt(j) == '/') { closing = true; j += 1 }
        val ns = j
        while (j < n && Character.isLetterOrDigit(s.charAt(j))) j += 1
        val name = s.substring(ns, j).toLowerCase(java.util.Locale.ROOT)
        // quote-aware scan to the tag's real '>'
        var q = 0.toChar
        var end = -1
        var k = j
        while (end < 0 && k < n) {
          val ck = s.charAt(k)
          if (q != 0) { if (ck == q) q = 0.toChar }
          else if (ck == '"' || ck == '\'') q = ck
          else if (ck == '>') end = k
          k += 1
        }
        // an unterminated tag drops the rest — same rule as the extractor
        if (!closing && name == "a" && end >= 0) {
          val href = findHref(s, j, end)
          if (href != null && href.nonEmpty) out.add(UTF8String.fromString(href))
        }
        i = if (end < 0) n else end + 1
        if (!closing && (name == "script" || name == "style") &&
          end >= 0 && s.charAt(end - 1) != '/') {
          // skip the element body so JS/CSS text can't contribute anchors
          i = rawTextEnd(s, i, name, n)
        }
      }
    }
    new GenericArrayData(out.toArray())
  }

  /** Shape of one extracted anchor: the (entity-decoded) href and the
    * RENDERED text of the element body under [[extract]]'s rules — so the
    * anchor-text signal hashes identically to what the text extractor
    * would produce for the same markup (`<b>ref</b> 3&amp;z` → `ref 3&z`).
    */
  val anchorType: StructType = StructType(Seq(
    StructField("href", StringType, nullable = false),
    StructField("text", StringType, nullable = false)))

  /** `<a>` anchors with BOTH href and rendered body text, in document
    * order — the anchor-text signal: the text other pages use to describe
    * a link TARGET is a classic relevance/label source at corpus scale,
    * aggregated per target host/URL (q140). Structural rules are exactly
    * [[links]]' (comment/script/style bodies excluded, href forms,
    * entity decoding); the body runs to the matching `</a>`, or to the
    * next `<a` open tag (anchors cannot nest, so browsers auto-close), or
    * to end of input, and renders under [[extract]] so nested inline
    * markup and character references behave identically to page text.
    * Anchors without an href (or with an empty one) are not links and are
    * skipped; a link with an empty body keeps href with `text = ""`.
    */
  def anchors(html: UTF8String): ArrayData = {
    if (html == null) return null
    val s = html.toString
    val n = s.length
    val out = new java.util.ArrayList[InternalRow]()
    var i = 0
    while (i < n) {
      val lt = s.indexOf('<', i)
      if (lt < 0) i = n
      else if (s.startsWith("<!--", lt)) {
        i = commentEnd(s, lt, n)
      } else if (!isTagOpen(s, lt)) {
        i = lt + 1 // literal '<' in text — not markup
      } else {
        var j = lt + 1
        var closing = false
        if (j < n && s.charAt(j) == '/') { closing = true; j += 1 }
        val ns = j
        while (j < n && Character.isLetterOrDigit(s.charAt(j))) j += 1
        val name = s.substring(ns, j).toLowerCase(java.util.Locale.ROOT)
        var q = 0.toChar
        var end = -1
        var k = j
        while (end < 0 && k < n) {
          val ck = s.charAt(k)
          if (q != 0) { if (ck == q) q = 0.toChar }
          else if (ck == '"' || ck == '\'') q = ck
          else if (ck == '>') end = k
          k += 1
        }
        if (!closing && name == "a" && end >= 0) {
          val href = findHref(s, j, end)
          if (href != null && href.nonEmpty) {
            // body: to the matching </a>, the next <a (no nesting), or
            // EOF — scanned STRUCTURALLY (comments and script/style
            // bodies skipped), so a "</a>" inside a comment or a JS
            // string cannot truncate the anchor text (the scaladoc's
            // rules-are-exactly-links() claim; extract() on the body
            // already ignores that content, the stop must too)
            var m = end + 1
            var stop = -1
            while (stop < 0 && m + 2 <= n) {
              if (s.startsWith("<!--", m)) m = commentEnd(s, m, n)
              else if (s.regionMatches(true, m, "</a", 0, 3) &&
                (m + 3 >= n || !Character.isLetterOrDigit(s.charAt(m + 3)))) stop = m
              else if (s.regionMatches(true, m, "<a", 0, 2) &&
                (m + 2 >= n || !Character.isLetterOrDigit(s.charAt(m + 2)))) stop = m
              else if ((s.regionMatches(true, m, "<script", 0, 7) &&
                  (m + 7 >= n || !Character.isLetterOrDigit(s.charAt(m + 7)))) ||
                (s.regionMatches(true, m, "<style", 0, 6) &&
                  (m + 6 >= n || !Character.isLetterOrDigit(s.charAt(m + 6))))) {
                val rawName =
                  if (s.regionMatches(true, m, "<script", 0, 7)) "script" else "style"
                val gt = s.indexOf('>', m)
                m = if (gt < 0) n
                else if (gt > m && s.charAt(gt - 1) == '/') gt + 1 // self-closed: no body
                else rawTextEnd(s, gt + 1, rawName, n)
              } else m += 1
            }
            val body = s.substring(end + 1, if (stop < 0) n else stop)
            val text = extract(UTF8String.fromString(body))
            out.add(new GenericInternalRow(
              Array[Any](UTF8String.fromString(href), text)))
          }
        }
        i = if (end < 0) n else end + 1
        if (!closing && (name == "script" || name == "style") &&
          end >= 0 && s.charAt(end - 1) != '/') {
          i = rawTextEnd(s, i, name, n)
        }
      }
    }
    new GenericArrayData(out.toArray())
  }

  /** Main-content text of a page: boilerplate removal by the classic
    * block-level heuristics (jusText, Pomikálek 2011; boilerpipe,
    * Kohlschütter et al. WSDM 2010) — navigation, menus, and footers are
    * short and link-dense, article text is long and link-sparse. The page
    * splits into blocks at block-level tag boundaries; each block's
    * rendered text (same rules as [[extract]]) is kept iff it has at least
    * `minChars` characters AND its link density — anchor-text chars ×1000 /
    * total chars, exact integer permille — is at most `maxLinkPermille`.
    * Kept blocks join with a single `\n` in document order. Inline links
    * inside a long paragraph survive (their text is part of the flow);
    * a menu bar of five anchors dies on density; a one-line footer dies
    * on length. Never null for non-null input — a page with no qualifying
    * block is the empty string, so downstream length/quality gates (not a
    * NULL check) decide the doc's fate.
    *
    * This is THE cleaning step between crawl intake and every text
    * operator at corpus scale: boilerplate is the dominant source of
    * cross-doc repeated substrings (q103's worst offenders) and defeats
    * near-dup thresholds by diluting real content; removing it scan-side
    * costs one linear pass inside whole-stage codegen.
    */
  def mainText(html: UTF8String, minChars: Int, maxLinkPermille: Int): UTF8String = {
    if (html == null) return null
    val s = html.toString
    val n = s.length
    val out = new java.lang.StringBuilder(math.min(n, 1 << 16))
    val block = new java.lang.StringBuilder()
    val anchor = new java.lang.StringBuilder()
    var anchorDepth = 0
    def flush(): Unit = {
      val txt = canonWs(block)
      if (txt.length >= minChars && txt.nonEmpty) {
        val linkChars = canonWs(anchor).length
        if (linkChars.toLong * 1000 <= maxLinkPermille.toLong * txt.length) {
          if (out.length() > 0) out.append('\n')
          out.append(txt)
        }
      }
      block.setLength(0)
      anchor.setLength(0)
    }
    def emit(str: String): Unit = {
      block.append(str)
      if (anchorDepth > 0) anchor.append(str)
    }
    def emitC(ch: Char): Unit = {
      block.append(ch)
      if (anchorDepth > 0) anchor.append(ch)
    }
    var i = 0
    while (i < n) {
      val c = s.charAt(i)
      if (c == '<') {
        if (s.startsWith("<!--", i)) {
          i = commentEnd(s, i, n)
        } else if (!isTagOpen(s, i)) {
          emitC('<'); i += 1
        } else {
          var j = i + 1
          var closing = false
          if (j < n && s.charAt(j) == '/') { closing = true; j += 1 }
          val ns = j
          while (j < n && Character.isLetterOrDigit(s.charAt(j))) j += 1
          val name = s.substring(ns, j).toLowerCase(java.util.Locale.ROOT)
          var q = 0.toChar
          var end = -1
          var k = j
          while (end < 0 && k < n) {
            val ck = s.charAt(k)
            if (q != 0) { if (ck == q) q = 0.toChar }
            else if (ck == '"' || ck == '\'') q = ck
            else if (ck == '>') end = k
            k += 1
          }
          val selfClosed = end >= 0 && s.charAt(end - 1) == '/'
          i = if (end < 0) n else end + 1
          if (!closing && (name == "script" || name == "style") && end >= 0 && !selfClosed) {
            i = rawTextEnd(s, i, name, n)
          }
          if (name == "a") {
            if (closing) anchorDepth = math.max(0, anchorDepth - 1)
            else if (!selfClosed) anchorDepth += 1
          }
          if (name.nonEmpty && BlockTags.contains(name)) flush()
        }
      } else if (c == '&') {
        val r = charRef(s, i)
        if (r != null) { emit(r._1); i = r._2 }
        else { emitC('&'); i += 1 }
      } else {
        emitC(c); i += 1
      }
    }
    flush()
    UTF8String.fromString(out.toString)
  }

  /** Value of the (case-insensitive) `href` attribute in `s[from, to)`,
    * entity-decoded; null when absent. First occurrence wins, matching
    * browser behavior for duplicate attributes.
    */
  private def findHref(s: String, from: Int, to: Int): String =
    findAttr(s, from, to, "href")

  /** Value of the (case-insensitive) `attr` attribute in `s[from, to)`,
    * entity-decoded; null when absent. First occurrence wins, matching
    * browser behavior for duplicate attributes. Shared by link extraction
    * (href) and metadata extraction (rel/name/content/charset).
    */
  private def findAttr(s: String, from: Int, to: Int, attr: String): String = {
    var i = from
    while (i < to) {
      // skip whitespace and stray '/'
      while (i < to && (s.charAt(i) <= ' ' || s.charAt(i) == '/')) i += 1
      if (i >= to) return null
      // attribute name
      val as = i
      while (i < to && s.charAt(i) > ' ' && s.charAt(i) != '=' && s.charAt(i) != '/') i += 1
      val aname = s.substring(as, i).toLowerCase(java.util.Locale.ROOT)
      // skip whitespace before a possible '='
      while (i < to && s.charAt(i) <= ' ') i += 1
      var value: String = null
      if (i < to && s.charAt(i) == '=') {
        i += 1
        while (i < to && s.charAt(i) <= ' ') i += 1
        if (i < to) {
          val c = s.charAt(i)
          if (c == '"' || c == '\'') {
            val e = s.indexOf(c, i + 1)
            val ve = if (e < 0 || e > to) to else e
            value = s.substring(i + 1, ve)
            i = if (e < 0 || e > to) to else e + 1
          } else {
            val vs = i
            while (i < to && s.charAt(i) > ' ') i += 1
            value = s.substring(vs, i)
          }
        } else value = ""
      }
      if (aname == attr && value != null) return decodeRefs(value)
    }
    null
  }

  /** Shape of [[meta]]: the page-level signals a crawl pipeline keys on. */
  val metaType: StructType = StructType(Seq(
    StructField("title", StringType, nullable = true),
    StructField("canonical", StringType, nullable = true),
    StructField("meta_robots", StringType, nullable = true),
    StructField("description", StringType, nullable = true)))

  /** Page metadata in one walk: `<title>` rendered text, the declared
    * canonical URL (`<link rel="canonical" href=…>` — the PAGE-level
    * canonicalization signal, stronger than any URL heuristic: the site
    * itself says which URL this content lives at, so canonical dedup
    * should prefer it), the robots meta directives (`<meta name="robots"
    * content="noindex,nofollow">` — the page-level twin of robots.txt:
    * robots.txt gates FETCHING, this gates INDEXING/INCLUSION and link
    * following), and the meta description. First occurrence of each wins;
    * comments and script/style bodies are skipped under the extractor's
    * structural rules; absent signals are NULL, never an error. The walk
    * is the same single pass as [[links]] — at corpus scale metadata
    * extraction is a scan, not a DOM.
    */
  def meta(html: UTF8String): InternalRow = {
    if (html == null) return null
    val s = html.toString
    val n = s.length
    var title: UTF8String = null
    var canonical: UTF8String = null
    var robots: UTF8String = null
    var description: UTF8String = null
    var i = 0
    while (i < n && (title == null || canonical == null || robots == null ||
      description == null)) {
      val lt = s.indexOf('<', i)
      if (lt < 0) i = n
      else if (s.startsWith("<!--", lt)) {
        i = commentEnd(s, lt, n)
      } else if (!isTagOpen(s, lt)) {
        i = lt + 1 // literal '<' in text — not markup
      } else {
        var j = lt + 1
        var closing = false
        if (j < n && s.charAt(j) == '/') { closing = true; j += 1 }
        val ns = j
        while (j < n && Character.isLetterOrDigit(s.charAt(j))) j += 1
        val name = s.substring(ns, j).toLowerCase(java.util.Locale.ROOT)
        var q = 0.toChar
        var end = -1
        var k = j
        while (end < 0 && k < n) {
          val ck = s.charAt(k)
          if (q != 0) { if (ck == q) q = 0.toChar }
          else if (ck == '"' || ck == '\'') q = ck
          else if (ck == '>') end = k
          k += 1
        }
        val selfClosed = end >= 0 && s.charAt(end - 1) == '/'
        i = if (end < 0) n else end + 1
        if (!closing && end >= 0) {
          name match {
            case "title" if title == null =>
              // title is RCDATA: body runs to the literal close tag, and the
              // walk RESUMES past it — markup-like text inside a title
              // ('how <link rel="canonical"...> works') must not be
              // re-scanned as real tags (same body-skip rule as script/style)
              val stop = rawTextClose(s, end + 1, "title", n)
              title = extract(
                UTF8String.fromString(s.substring(end + 1, math.min(stop, n))))
              i = if (stop >= n) n
              else { val gt = s.indexOf('>', stop); if (gt < 0) n else gt + 1 }
            case "link" if canonical == null =>
              val rel = findAttr(s, j, end, "rel")
              if (rel != null && rel.trim.equalsIgnoreCase("canonical")) {
                val href = findAttr(s, j, end, "href")
                if (href != null && href.nonEmpty)
                  canonical = UTF8String.fromString(href)
              }
            case "meta" =>
              val mName = findAttr(s, j, end, "name")
              val content = findAttr(s, j, end, "content")
              if (mName != null && content != null) {
                val lower = mName.trim.toLowerCase(java.util.Locale.ROOT)
                if (lower == "robots" && robots == null)
                  robots = UTF8String.fromString(content)
                else if (lower == "description" && description == null)
                  description = UTF8String.fromString(content)
              }
            case sk if (sk == "script" || sk == "style") && !selfClosed =>
              i = rawTextEnd(s, i, sk, n)
            case _ => ()
          }
        }
      }
    }
    new GenericInternalRow(Array[Any](title, canonical, robots, description))
  }
}

/** string → string rendered-text extraction (codegen-enabled). */
case class HtmlText(child: Expression) extends GraftUnary("graft_html_text", "string input", isString) {
  override def dataType: DataType = StringType

  protected def call(a: Any): Any = HtmlSupport.extract(utf8(a))
  protected def callCode(ctx: CodegenContext, a: String): String =
    s"graft.functions.HtmlSupport.extract($a)"

  override protected def withNewChildInternal(c: Expression): HtmlText = copy(child = c)
}

/** string → array<string> of anchor hrefs in document order
  * (codegen-enabled); empty array for anchor-free pages.
  */
case class HtmlLinks(child: Expression) extends GraftUnary("graft_html_links", "string input", isString) {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  protected def call(a: Any): Any = HtmlSupport.links(utf8(a))
  protected def callCode(ctx: CodegenContext, a: String): String =
    s"graft.functions.HtmlSupport.links($a)"

  override protected def withNewChildInternal(c: Expression): HtmlLinks = copy(child = c)
}

/** string → array<struct<href,text>> of anchors in document order
  * (codegen-enabled); empty array for anchor-free pages.
  */
case class HtmlAnchors(child: Expression) extends GraftUnary("graft_html_anchors", "string input", isString) {
  override def dataType: DataType = ArrayType(HtmlSupport.anchorType, containsNull = false)

  protected def call(a: Any): Any = HtmlSupport.anchors(utf8(a))
  protected def callCode(ctx: CodegenContext, a: String): String =
    s"graft.functions.HtmlSupport.anchors($a)"

  override protected def withNewChildInternal(c: Expression): HtmlAnchors = copy(child = c)
}

/** (html, minChars, maxLinkPermille) → main-content string (codegen-
  * enabled); empty string when no block qualifies, NULL only for NULL
  * input.
  */
case class HtmlMainText(first: Expression, second: Expression, third: Expression)
    extends GraftTernary("graft_html_main_text", "(string, int, int)", isString, isInt, isInt) {
  override def dataType: DataType = StringType

  protected def call(html: Any, minChars: Any, maxPm: Any): Any =
    HtmlSupport.mainText(utf8(html), minChars.asInstanceOf[Int], maxPm.asInstanceOf[Int])
  protected def callCode(ctx: CodegenContext, html: String, minChars: String, maxPm: String): String =
    s"graft.functions.HtmlSupport.mainText($html, $minChars, $maxPm)"

  override protected def withNewChildrenInternal(a: Expression, b: Expression, c: Expression): HtmlMainText =
    copy(first = a, second = b, third = c)
}

/** string → struct<title,canonical,meta_robots,description>
  * (codegen-enabled); all-NULL struct for signal-free pages.
  */
case class HtmlMeta(child: Expression) extends GraftUnary("graft_html_meta", "string input", isString) {
  override def dataType: DataType = HtmlSupport.metaType

  protected def call(a: Any): Any = HtmlSupport.meta(utf8(a))
  protected def callCode(ctx: CodegenContext, a: String): String =
    s"graft.functions.HtmlSupport.meta($a)"

  override protected def withNewChildInternal(c: Expression): HtmlMeta = copy(child = c)
}

object HtmlExprs {
  def htmlText(html: Column): Column = column(HtmlText, html)
  def htmlMeta(html: Column): Column = column(HtmlMeta, html)
  def htmlLinks(html: Column): Column = column(HtmlLinks, html)
  def htmlAnchors(html: Column): Column = column(HtmlAnchors, html)
  def htmlMainText(html: Column, minChars: Column, maxLinkPermille: Column): Column =
    column(HtmlMainText, html, minChars, maxLinkPermille)
}

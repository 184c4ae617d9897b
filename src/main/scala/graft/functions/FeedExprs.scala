package graft.functions

import graft.functions.GraftFunction._
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, BooleanType, DataType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** RSS 2.0 / Atom feed parsing — the third frontier-seeding channel next
  * to sitemaps ([[SitemapSupport]]) and in-page links ([[HtmlSupport]]):
  * news and blog hosts publish their fresh URLs in feeds long before any
  * sitemap regenerates, so a recrawl-oriented frontier reads feeds first.
  * Same architecture as the sitemap walk: fetched feed bodies are a
  * string column, extraction is one scan-side pass, no XML DOM, no
  * validation — real feeds are dirty and a malformed entry costs its
  * entry, never the file.
  *
  * Semantics (pinned by FeedSpec):
  *  - RSS `<item>` and Atom `<entry>` elements both parse to
  *    (title, link, published, is_atom) structs in document order.
  *  - the link is REQUIRED (entries without one are skipped — a feed row
  *    the frontier cannot fetch is noise): RSS reads `<link>` element
  *    text; Atom reads the `href` attribute of the entry's `<link>` tag,
  *    preferring a `rel="alternate"` (or rel-less) link over service rels
  *    like `self`/`edit`, matching how readers resolve the entry URL.
  *  - title is null when absent; published reads RSS `<pubDate>` or Atom
  *    `<published>`/`<updated>` (first present wins) and is null when
  *    absent. Title/link/published all unwrap CDATA and decode XML
  *    character references ([[HtmlSupport.decodeRefs]]) — `&amp;` in URLs
  *    is mandatory XML escaping.
  *  - element names match case-insensitively with the name-boundary rule
  *    (`<link>` yes, `<linkFoo>` no), attributes tolerated; anything
  *    outside recognized entries is ignored; an unterminated entry drops.
  *    Garbage input is an empty array, never a poisoned scan.
  */
object FeedSupport {

  val entryType: StructType = StructType(Seq(
    StructField("title", StringType, nullable = true),
    StructField("link", StringType, nullable = false),
    StructField("published", StringType, nullable = true),
    StructField("is_atom", BooleanType, nullable = false)))

  def entries(xml: UTF8String): ArrayData = {
    if (xml == null) return null
    val s = xml.toString
    val n = s.length
    val out = new java.util.ArrayList[InternalRow]()
    var i = 0
    while (i < n) {
      val lt = s.indexOf('<', i)
      if (lt < 0) i = n
      else {
        val (name, isAtom) =
          if (matchesTag(s, lt, "item")) ("item", false)
          else if (matchesTag(s, lt, "entry")) ("entry", true)
          else (null, false)
        if (name == null) i = lt + 1
        else {
          val open = s.indexOf('>', lt)
          val close = if (open < 0) -1 else indexOfClose(s, open + 1, name)
          if (open < 0 || close < 0) i = n // unterminated entry: dropped
          else {
            val link =
              if (isAtom) atomHref(s, open + 1, close)
              else elemText(s, open + 1, close, "link")
            if (link != null && link.nonEmpty) {
              val title = elemText(s, open + 1, close, "title")
              val published =
                if (isAtom) {
                  val p = elemText(s, open + 1, close, "published")
                  if (p != null) p else elemText(s, open + 1, close, "updated")
                } else elemText(s, open + 1, close, "pubDate")
              out.add(new GenericInternalRow(Array[Any](
                if (title == null || title.isEmpty) null else UTF8String.fromString(title),
                UTF8String.fromString(link),
                if (published == null || published.isEmpty) null
                else UTF8String.fromString(published),
                isAtom)))
            }
            i = close + 1
          }
        }
      }
    }
    new GenericArrayData(out.toArray())
  }

  /** `<name` at `lt`, case-insensitive, followed by a name boundary
    * (whitespace, `>`, or `/`).
    */
  private def matchesTag(s: String, lt: Int, name: String): Boolean = {
    val after = lt + 1 + name.length
    s.charAt(lt) == '<' &&
    s.regionMatches(true, lt + 1, name, 0, name.length) &&
    after <= s.length &&
    (after == s.length || s.charAt(after) == '>' || s.charAt(after) == '/' ||
      s.charAt(after) <= ' ')
  }

  private def indexOfClose(s: String, from: Int, name: String): Int = {
    val target = "</" + name
    var m = from
    while (m + target.length <= s.length) {
      if (s.regionMatches(true, m, target, 0, target.length)) return m
      m += 1
    }
    -1
  }

  /** Trimmed, entity-decoded text of the first NON-self-closing
    * `<name>…</name>` inside `s[from, to)`; CDATA unwraps; null when
    * absent/unterminated. A self-closing `<name/>` has no body and the
    * search CONTINUES past it — real-world RSS items mix an empty
    * `<link/>` (or an Atom-style `<link href=…/>`) with the true
    * `<link>url</link>`, and aborting on the first would drop the entry.
    */
  private def elemText(s: String, from: Int, to: Int, name: String): String = {
    var m = from
    var start = -1
    while (start < 0 && m < to) {
      if (matchesTag(s, m, name)) {
        val gt = s.indexOf('>', m)
        if (gt >= 0 && gt < to) {
          if (s.charAt(gt - 1) == '/') m = gt // self-closing: skip, keep looking
          else start = gt + 1
        } else return null
      }
      m += 1
    }
    if (start < 0) return null
    val end = indexOfClose(s, start, name)
    if (end < 0 || end > to) return null
    val body = s.substring(start, end).trim
    // CDATA content is LITERAL per XML: "&amp;" inside a CDATA section
    // means those five characters (escaping them is the author's reason
    // for using CDATA at all) — entity decoding applies only to plain
    // element text
    if (body.startsWith("<![CDATA[") && body.endsWith("]]>"))
      body.substring(9, body.length - 3).trim
    else HtmlSupport.decodeRefs(body)
  }

  /** The Atom entry link: href of the first `<link>` whose rel is absent
    * or "alternate"; falls back to the first `<link>` with any href when
    * no alternate exists (a feed with only rel="self" still names a URL).
    */
  private def atomHref(s: String, from: Int, to: Int): String = {
    var m = from
    var fallback: String = null
    while (m < to) {
      if (matchesTag(s, m, "link")) {
        val gt = s.indexOf('>', m)
        if (gt < 0 || gt >= to) return fallback
        val tag = s.substring(m, gt)
        val href = attrValue(tag, "href")
        if (href != null && href.nonEmpty) {
          val rel = attrValue(tag, "rel")
          if (rel == null || rel.equalsIgnoreCase("alternate"))
            return HtmlSupport.decodeRefs(href)
          if (fallback == null) fallback = HtmlSupport.decodeRefs(href)
        }
        m = gt + 1
      } else m += 1
    }
    fallback
  }

  /** value of `name="…"` / `name='…'` inside a tag string, or null. */
  private def attrValue(tag: String, name: String): String = {
    var m = 0
    val n = tag.length
    val lower = tag.toLowerCase(java.util.Locale.ROOT)
    while (m < n) {
      val idx = lower.indexOf(name + "=", m)
      if (idx < 0) return null
      // require a non-name char before (attribute boundary)
      val before = if (idx == 0) ' ' else tag.charAt(idx - 1)
      if (before == ' ' || before == '\t' || before == '\n' || before == '\r') {
        var v = idx + name.length + 1
        if (v < n && (tag.charAt(v) == '"' || tag.charAt(v) == '\'')) {
          val q = tag.charAt(v)
          val end = tag.indexOf(q, v + 1)
          if (end < 0) return null
          return tag.substring(v + 1, end)
        }
        // unquoted value: to next whitespace
        val sb = new java.lang.StringBuilder
        while (v < n && tag.charAt(v) > ' ') { sb.append(tag.charAt(v)); v += 1 }
        return sb.toString
      }
      m = idx + 1
    }
    null
  }
}

/** string → array<struct<title,link,published,is_atom>> (codegen-enabled);
  * empty array for entry-free input.
  */
case class FeedEntries(child: Expression)
    extends GraftUnary("graft_feed_entries", "string input", isString) {
  override def dataType: DataType = ArrayType(FeedSupport.entryType, containsNull = false)

  protected def call(a: Any): Any = FeedSupport.entries(utf8(a))
  protected def callCode(ctx: CodegenContext, a: String): String =
    s"graft.functions.FeedSupport.entries($a)"

  override protected def withNewChildInternal(c: Expression): FeedEntries = copy(child = c)
}

object FeedExprs {
  def feedEntries(xml: Column): Column = column(FeedEntries, xml)
}

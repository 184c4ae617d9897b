package graft.functions

import graft.functions.GraftFunction._
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Sitemap XML parsing (sitemaps.org protocol) — the frontier-seeding step
  * after [[RobotsSupport.sitemaps]] discovers the files: a sitemap lists a
  * host's own canonical URLs with optional freshness hints, so the crawl
  * frontier can be seeded (and re-crawl prioritized by lastmod) without
  * spidering. At corpus scale the fetched sitemap bodies are a column and
  * the extraction is a scan-side walk, same cost class as the HTML
  * extractor — no XML DOM, no schema validation: real-world sitemaps are
  * dirty, and a malformed entry must cost its entry, not the file.
  *
  * Semantics (pinned by SitemapSpec):
  *  - `<url>` entries (urlset) and `<sitemap>` entries (sitemapindex) both
  *    parse to (loc, lastmod) structs in document order — a sitemapindex
  *    row's loc is a child sitemap to fetch, distinguishable by the
  *    `is_index` flag derived from the entry's element name.
  *  - `<loc>` is required (entries without one are skipped); `<lastmod>`
  *    is null when absent. Both support `<![CDATA[...]]>` and XML
  *    character references (`&amp;` in URLs is MANDATORY XML escaping, so
  *    a parser that skips decoding corrupts every multi-param URL).
  *  - element names are matched case-insensitively with an explicit
  *    name-boundary check (`<sitemap>` yes, `<sitemapindex>` is NOT an
  *    entry), tolerating attributes on the entry tags.
  *  - anything outside recognized entries is ignored; an unterminated
  *    entry is dropped. Never null for non-null input — garbage is an
  *    empty array, not a poisoned scan.
  */
object SitemapSupport {

  /** (loc, lastmod nullable, is_index) per entry, document order. */
  val entryType: StructType = StructType(Seq(
    StructField("loc", StringType, nullable = false),
    StructField("lastmod", StringType, nullable = true),
    StructField("is_index", org.apache.spark.sql.types.BooleanType, nullable = false)))

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
        val (name, isIndex) =
          if (matchesTag(s, lt, "url")) ("url", false)
          else if (matchesTag(s, lt, "sitemap")) ("sitemap", true)
          else (null, false)
        if (name == null) i = lt + 1
        else {
          val open = s.indexOf('>', lt)
          val close = if (open < 0) -1 else indexOfClose(s, open + 1, name)
          if (open < 0 || close < 0) i = n // unterminated entry: dropped
          else {
            val loc = elemText(s, open + 1, close, "loc")
            if (loc != null && loc.nonEmpty) {
              val lastmod = elemText(s, open + 1, close, "lastmod")
              out.add(new GenericInternalRow(Array[Any](
                UTF8String.fromString(loc),
                if (lastmod == null || lastmod.isEmpty) null
                else UTF8String.fromString(lastmod),
                isIndex)))
            }
            i = close + 1
          }
        }
      }
    }
    new GenericArrayData(out.toArray())
  }

  /** `<name` at `lt`, case-insensitive, followed by a name boundary
    * (whitespace or `>`): `<sitemap>` matches "sitemap", `<sitemapindex>`
    * does not.
    */
  private def matchesTag(s: String, lt: Int, name: String): Boolean = {
    val after = lt + 1 + name.length
    s.regionMatches(true, lt + 1, name, 0, name.length) &&
    after <= s.length &&
    (after == s.length || s.charAt(after) == '>' || s.charAt(after) <= ' ')
  }

  /** Index of `</name` (case-insensitive) at or after `from`; -1 if none. */
  private def indexOfClose(s: String, from: Int, name: String): Int = {
    val target = "</" + name
    var m = from
    while (m + target.length <= s.length) {
      if (s.regionMatches(true, m, target, 0, target.length)) return m
      m += 1
    }
    -1
  }

  /** Trimmed, entity-decoded text of the first `<name>…</name>` inside
    * `s[from, to)`; CDATA sections unwrap; null when the element is absent
    * or unterminated.
    */
  private def elemText(s: String, from: Int, to: Int, name: String): String = {
    var m = from
    var start = -1
    while (start < 0 && m < to) {
      if (matchesTag(s, m, name) && s.charAt(m) == '<') {
        val gt = s.indexOf('>', m)
        if (gt >= 0 && gt < to) start = gt + 1
        else return null
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
}

/** string → array<struct<loc,lastmod,is_index>> (codegen-enabled); empty
  * array for entry-free input.
  */
case class SitemapEntries(child: Expression)
    extends GraftUnary("graft_sitemap_entries", "string input", isString) {
  override def dataType: DataType = ArrayType(SitemapSupport.entryType, containsNull = false)

  protected def call(a: Any): Any = SitemapSupport.entries(utf8(a))
  protected def callCode(ctx: CodegenContext, a: String): String =
    s"graft.functions.SitemapSupport.entries($a)"

  override protected def withNewChildInternal(c: Expression): SitemapEntries = copy(child = c)
}

object SitemapExprs {
  def sitemapEntries(xml: Column): Column = column(SitemapEntries, xml)
}

package graft.functions

import graft.functions.GraftFunction._
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** RFC 3986 §5 reference resolution — the missing step between link
  * extraction ([[HtmlSupport.links]], which faithfully emits `href`s AS
  * WRITTEN: `/m1`, `../p`, `//cdn.example.org/x`, `?page=2`) and anything
  * keyed on absolute URLs (the frontier, robots gating, canonical dedup).
  * At crawl scale resolution is a per-row column operation over (base,
  * href) pairs — billions of them — so it's a codegen expression, not a
  * java.net.URI allocation per link (URI also rejects real-world hrefs
  * a crawler must tolerate).
  *
  * Implements §5.2.2 (transform references) + §5.2.3 (merge) + §5.2.4
  * (remove dot segments) over the §3 component split, with the crawl
  * conventions pinned in ResolveUrlSpec:
  *  - absolute refs (with scheme) pass through (dot-segments removed, per
  *    the non-strict note refs with the SAME scheme behave like
  *    scheme-less refs in strict parsers — we keep them as written,
  *    matching WHATWG browsers);
  *  - `//host/x` adopts the base scheme; `/x` the base authority; `x` and
  *    `./x`/`../x` merge with the base path; empty ref → base minus
  *    fragment; `?q` keeps the base path; `#f` drops (a fragment is not a
  *    fetchable resource — the frontier wants fragment-free URLs).
  *  - the resolved fragment is ALWAYS dropped, and NULL is returned when
  *    the base has no scheme or authority (a relative base cannot anchor
  *    anything) — never an exception on untrusted hrefs.
  */
object ResolveUrlSupport {

  /** Resolve `ref` against absolute `base`; null when base is unusable. */
  def resolve(base: UTF8String, ref: UTF8String): UTF8String = {
    if (base == null || ref == null) return null
    val b = base.toString.trim
    val r0 = ref.toString.trim
    // strip fragments first: the target resource ignores them
    val r = { val h = r0.indexOf('#'); if (h < 0) r0 else r0.substring(0, h) }
    val bHash = b.indexOf('#')
    val bNoF = if (bHash < 0) b else b.substring(0, bHash)

    val bScheme = schemeOf(bNoF)
    if (bScheme == null) return null
    val bAfterScheme = bNoF.substring(bScheme.length + 1) // past ':'
    if (!bAfterScheme.startsWith("//")) return null
    val (bAuth, bPathQ) = splitAuthority(bAfterScheme.substring(2))
    val (bPath, bQuery) = splitQuery(bPathQ)

    // a scheme-less (or same-scheme, see below) reference resolved against
    // the base per §5.2.2/§5.2.3
    def fromRelative(rr: String): String =
      if (rr.isEmpty) bScheme + "://" + bAuth + bPath + renderQuery(bQuery)
      else if (rr.startsWith("?")) bScheme + "://" + bAuth + bPath + rr
      else if (rr.startsWith("/")) {
        val (p, q) = splitQuery(rr)
        bScheme + "://" + bAuth + removeDotSegments(p) + renderQuery(q)
      } else {
        val (p, q) = splitQuery(rr)
        // merge (§5.2.3): base path up to its last '/', else "/"
        val slash = bPath.lastIndexOf('/')
        val merged = if (slash < 0) "/" + p else bPath.substring(0, slash + 1) + p
        bScheme + "://" + bAuth + removeDotSegments(merged) + renderQuery(q)
      }

    val rScheme = schemeOf(r)
    val out =
      if (rScheme != null) {
        // absolute reference: normalize its dot segments only
        val after = r.substring(rScheme.length + 1)
        if (after.startsWith("//")) {
          val (a, pq) = splitAuthority(after.substring(2))
          val (p, q) = splitQuery(pq)
          rScheme + "://" + a + removeDotSegments(p) + renderQuery(q)
        } else if (rScheme == bScheme) {
          // WHATWG same-scheme rule: browsers parse "http:page.html"
          // against an http base as a RELATIVE reference (the scheme is
          // redundant, not an authority) — passing it through as written
          // would feed a host-less, unfetchable URL into the frontier and
          // give every host-keyed join (robots gate, canonical dedup) an
          // empty host. The remainder is NOT re-scanned for a scheme
          // ("http:http:x" has path "http:x", exactly as a browser parses
          // it), which also keeps this non-recursive.
          fromRelative(after)
        } else r
      } else if (r.startsWith("//")) {
        val (a, pq) = splitAuthority(r.substring(2))
        val (p, q) = splitQuery(pq)
        bScheme + "://" + a + removeDotSegments(p) + renderQuery(q)
      } else fromRelative(r)
    UTF8String.fromString(out)
  }

  /** Scheme per §3.1 (`ALPHA *(ALPHA/DIGIT/+/-/.)` before ':'), lowercased;
    * null when absent. A ':' after a '/' is not a scheme separator.
    */
  private def schemeOf(s: String): String = {
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == ':') {
        return if (i == 0) null else s.substring(0, i).toLowerCase(java.util.Locale.ROOT)
      }
      val ok =
        if (i == 0) c.isLetter
        else c.isLetterOrDigit || c == '+' || c == '-' || c == '.'
      if (!ok) return null
      i += 1
    }
    null
  }

  /** (authority, path+query) split at the first of `/` or `?`. */
  private def splitAuthority(s: String): (String, String) = {
    var i = 0
    while (i < s.length && s.charAt(i) != '/' && s.charAt(i) != '?') i += 1
    (s.substring(0, i), s.substring(i))
  }

  /** (path, query-or-null) split at the first `?`. */
  private def splitQuery(s: String): (String, String) = {
    val q = s.indexOf('?')
    if (q < 0) (s, null) else (s.substring(0, q), s.substring(q + 1))
  }

  private def renderQuery(q: String): String = if (q == null) "" else "?" + q

  /** §5.2.4 remove_dot_segments, segment-at-a-time over the path. */
  private[graft] def removeDotSegments(path: String): String = {
    if (path.isEmpty) return ""
    val out = new java.util.ArrayList[String]()
    val segs = path.split("/", -1)
    val absolute = path.startsWith("/")
    var i = 0
    while (i < segs.length) {
      val seg = segs(i)
      seg match {
        case "." => () // drop
        case ".." => if (!out.isEmpty) out.remove(out.size - 1)
        case other =>
          // the leading "" of an absolute path is the root marker, not a segment
          if (!(i == 0 && absolute)) out.add(other)
      }
      i += 1
    }
    val sb = new java.lang.StringBuilder(path.length)
    var j = 0
    while (j < out.size) { sb.append('/').append(out.get(j)); j += 1 }
    // a trailing "." or ".." leaves a trailing slash per the RFC algorithm
    val last = segs(segs.length - 1)
    if ((last == "." || last == "..") && sb.length > 0 &&
      sb.charAt(sb.length - 1) != '/') sb.append('/')
    if (sb.length == 0) "/" else sb.toString
  }
}

/** (base, href) → absolute fragment-free URL (codegen-enabled); NULL when
  * the base is not an absolute hierarchical URL.
  */
case class ResolveUrl(left: Expression, right: Expression) extends GraftBinary(
      "graft_resolve_url", "(string, string)", isString, isString, nullResult = true) {
  override def dataType: DataType = StringType

  protected def call(base: Any, ref: Any): Any = ResolveUrlSupport.resolve(utf8(base), utf8(ref))
  protected def callCode(ctx: CodegenContext, base: String, ref: String): String =
    s"graft.functions.ResolveUrlSupport.resolve($base, $ref)"

  override protected def withNewChildrenInternal(l: Expression, r: Expression): ResolveUrl =
    copy(left = l, right = r)
}

object ResolveUrlExprs {
  def resolveUrl(base: Column, ref: Column): Column = column(ResolveUrl, base, ref)
}

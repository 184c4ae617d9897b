package graft.functions

import graft.functions.GraftFunction._
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext
import org.apache.spark.sql.types.{BooleanType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** robots.txt evaluation (RFC 9309) — the crawl-politeness gate that sits
  * next to the frontier the link extractor ([[HtmlSupport.links]]) feeds:
  * before a URL enters the fetch queue, its host's robots.txt decides
  * whether this crawler may fetch the path. At corpus scale that decision
  * is a COLUMN operation — a frontier table joined to a host-keyed robots
  * table, the verdict computed scan-side per row — not a per-request
  * client call.
  *
  * Rules implemented (each pinned by RobotsSpec):
  *  - Line syntax: `key: value`, keys case-insensitive, `#` starts a
  *    comment, blank/malformed lines ignored; group-independent and unknown
  *    keys (sitemap, …) are skipped without ending a group (RFC 9309
  *    §2.2.4). A `Crawl-delay` line carries no path rule but DOES end a run
  *    of `User-agent` lines — it belongs to the group it follows, the same
  *    boundary rule [[crawlDelayMs]] applies, so the two evaluators build
  *    identical group structures.
  *  - Groups: consecutive `User-agent` lines share one rule block; a
  *    `User-agent` line after rules starts a new group. ALL groups whose
  *    agent matches are merged (RFC 9309 §2.2.1 "MUST ... combine").
  *  - Agent selection: case-insensitive exact product-token match beats
  *    `*`; `*` groups apply only when no exact group exists; no matching
  *    group at all → everything allowed.
  *  - Path patterns: `*` matches any octet sequence, a trailing `$`
  *    anchors at path end, otherwise prefix semantics; the empty pattern
  *    matches nothing (a bare `Disallow:` allows everything — the
  *    historical "allow all" idiom).
  *  - Precedence: the matching rule with the LONGEST pattern (octets, as
  *    written) wins; a length tie goes to Allow (RFC 9309 §2.2.2). No
  *    matching rule → allowed.
  *
  * The parse is per row and linear in the robots text; robots files are
  * KBs and the expression lives inside whole-stage codegen, so the gate
  * costs about as much as a regex filter. A caller with ONE robots file
  * and many paths should still join the parsed text in as a column — the
  * parse is dwarfed by the scan it rides.
  */
object RobotsSupport {

  /** One path rule: allow/disallow + its pattern. */
  private final case class Rule(allow: Boolean, pattern: String)

  /** May `agent` fetch `path` under `robots`? Never throws: unparseable
    * content degrades to "no rules", i.e. allowed — a malformed robots.txt
    * must not poison a frontier scan (and RFC 9309 §2.4 treats unreachable
    * rules as absent).
    */
  def allowed(robots: UTF8String, agent: UTF8String, path: UTF8String): Boolean = {
    if (robots == null || agent == null || path == null) return true
    val agentTok = agent.toString.trim.toLowerCase(java.util.Locale.ROOT)
    val p = path.toString
    val lines = robots.toString.split("\r\n|\n|\r", -1)
    // one pass: collect rules of exact-match groups and of * groups
    val exactRules = new scala.collection.mutable.ArrayBuffer[Rule]()
    val starRules = new scala.collection.mutable.ArrayBuffer[Rule]()
    var sawExactGroup = false
    var inAgentLines = false // inside a run of consecutive User-agent lines
    var groupExact = false // current group names our agent exactly
    var groupStar = false // current group names *
    var i = 0
    while (i < lines.length) {
      var line = lines(i)
      val hash = line.indexOf('#')
      if (hash >= 0) line = line.substring(0, hash)
      line = line.trim
      if (line.nonEmpty) {
        val colon = line.indexOf(':')
        if (colon > 0) {
          val key = line.substring(0, colon).trim.toLowerCase(java.util.Locale.ROOT)
          val value = line.substring(colon + 1).trim
          key match {
            case "user-agent" =>
              if (!inAgentLines) { // new group starts
                inAgentLines = true
                groupExact = false
                groupStar = false
              }
              val v = value.toLowerCase(java.util.Locale.ROOT)
              if (v == agentTok) { groupExact = true; sawExactGroup = true }
              else if (v == "*") groupStar = true
            case "allow" | "disallow" =>
              inAgentLines = false
              if (value.nonEmpty) { // empty pattern matches nothing
                val r = Rule(key == "allow", value)
                if (groupExact) exactRules += r
                if (groupStar) starRules += r
              }
            case "crawl-delay" =>
              // contributes no path rule here, but it BELONGS to the group it
              // follows (see crawlDelayMs), so it ends a run of User-agent
              // lines — otherwise 'User-agent: a\nCrawl-delay: 1\n
              // User-agent: b\nDisallow: /' would merge a and b into one
              // group and apply b's rules to a
              inAgentLines = false
            case _ => () // group-independent (sitemap) and unknown: skip
          }
        }
      }
      i += 1
    }
    val rules = if (sawExactGroup) exactRules else starRules
    // longest matching pattern wins; ties go to allow
    var bestLen = -1
    var bestAllow = true
    var j = 0
    while (j < rules.length) {
      val r = rules(j)
      if (matches(r.pattern, p)) {
        val len = r.pattern.length
        if (len > bestLen || (len == bestLen && r.allow)) {
          bestLen = len
          bestAllow = r.allow
        }
      }
      j += 1
    }
    bestLen < 0 || bestAllow
  }

  /** Effective Crawl-delay for `agent` in milliseconds, or null when no
    * applicable group sets one (or the value is not a number). Crawl-delay
    * is a de-facto extension (honored by Bing/Yandex, ignored by Google),
    * not part of RFC 9309 — but a polite crawler's rate limiter wants it
    * as a host column the same way the fetch gate wants [[allowed]].
    * Group selection mirrors [[allowed]] (exact product-token groups beat
    * `*`; all matching groups merge); when several matching groups set a
    * delay the LARGEST wins — the most conservative reading. Values are
    * decimal seconds (fractional is common: `Crawl-delay: 1.5`), reported
    * as whole milliseconds. Unlike unknown keys, a Crawl-delay line ends a
    * run of User-agent lines — it belongs to the group it follows.
    */
  def crawlDelayMs(robots: UTF8String, agent: UTF8String): java.lang.Long = {
    if (robots == null || agent == null) return null
    val agentTok = agent.toString.trim.toLowerCase(java.util.Locale.ROOT)
    val lines = robots.toString.split("\r\n|\n|\r", -1)
    var exactBest = -1L
    var starBest = -1L
    var sawExactGroup = false
    var inAgentLines = false
    var groupExact = false
    var groupStar = false
    var i = 0
    while (i < lines.length) {
      var line = lines(i)
      val hash = line.indexOf('#')
      if (hash >= 0) line = line.substring(0, hash)
      line = line.trim
      if (line.nonEmpty) {
        val colon = line.indexOf(':')
        if (colon > 0) {
          val key = line.substring(0, colon).trim.toLowerCase(java.util.Locale.ROOT)
          val value = line.substring(colon + 1).trim
          key match {
            case "user-agent" =>
              if (!inAgentLines) {
                inAgentLines = true
                groupExact = false
                groupStar = false
              }
              val v = value.toLowerCase(java.util.Locale.ROOT)
              if (v == agentTok) { groupExact = true; sawExactGroup = true }
              else if (v == "*") groupStar = true
            case "allow" | "disallow" =>
              inAgentLines = false
            case "crawl-delay" =>
              inAgentLines = false
              val ms =
                try {
                  val secs = java.lang.Double.parseDouble(value)
                  if (secs >= 0 && secs.isFinite) math.round(secs * 1000) else -1L
                } catch { case _: NumberFormatException => -1L }
              if (ms >= 0) {
                if (groupExact && ms > exactBest) exactBest = ms
                if (groupStar && ms > starBest) starBest = ms
              }
            case _ => ()
          }
        }
      }
      i += 1
    }
    val best = if (sawExactGroup) exactBest else starBest
    if (best < 0) null else java.lang.Long.valueOf(best)
  }

  /** All `Sitemap:` URLs in the file, in file order. Per sitemaps.org the
    * record is independent of any group — it applies to every agent — so
    * this takes no agent argument and ignores grouping entirely. Empty
    * array when none; a robots file is never a parse failure.
    */
  def sitemaps(robots: UTF8String): org.apache.spark.sql.catalyst.util.ArrayData = {
    if (robots == null) return null
    val lines = robots.toString.split("\r\n|\n|\r", -1)
    val out = new java.util.ArrayList[UTF8String]()
    var i = 0
    while (i < lines.length) {
      var line = lines(i)
      val hash = line.indexOf('#')
      if (hash >= 0) line = line.substring(0, hash)
      line = line.trim
      val colon = line.indexOf(':')
      if (colon > 0) {
        val key = line.substring(0, colon).trim.toLowerCase(java.util.Locale.ROOT)
        if (key == "sitemap") {
          val value = line.substring(colon + 1).trim
          if (value.nonEmpty) out.add(UTF8String.fromString(value))
        }
      }
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out.toArray())
  }

  /** `*`/`$` pattern match with prefix semantics: an unanchored pattern P
    * behaves as the anchored `P*`. Iterative glob with single-star
    * backtracking — linear-ish in practice, patterns are short.
    */
  private[graft] def matches(pattern: String, path: String): Boolean = {
    val anchored = pattern.endsWith("$")
    val body = if (anchored) pattern.substring(0, pattern.length - 1) else pattern
    val pat = if (anchored) body else body + "*"
    var pi = 0
    var si = 0
    var star = -1
    var mark = 0
    val pn = pat.length
    val sn = path.length
    while (si < sn) {
      if (pi < pn && pat.charAt(pi) == '*') { star = pi; pi += 1; mark = si }
      else if (pi < pn && pat.charAt(pi) == path.charAt(si)) { pi += 1; si += 1 }
      else if (star >= 0) { pi = star + 1; mark += 1; si = mark }
      else return false
    }
    while (pi < pn && pat.charAt(pi) == '*') pi += 1
    pi == pn
  }
}

/** boolean verdict `graft_robots_allowed(robotsTxt, agent, path)`
  * (codegen-enabled). NULL robots/agent/path → NULL (the caller decides
  * whether an unknown robots file means fetch or skip — RFC 9309 says a
  * 404'd robots.txt allows everything, a 5xx disallows, so the policy
  * belongs outside the expression).
  */
case class RobotsAllowed(first: Expression, second: Expression, third: Expression) extends GraftTernary(
      "graft_robots_allowed", "(string, string, string)", isString, isString, isString) {
  override def dataType: DataType = BooleanType

  protected def call(robots: Any, agent: Any, path: Any): Any =
    RobotsSupport.allowed(utf8(robots), utf8(agent), utf8(path))
  protected def callCode(ctx: CodegenContext, robots: String, agent: String, path: String): String =
    s"graft.functions.RobotsSupport.allowed($robots, $agent, $path)"

  override protected def withNewChildrenInternal(a: Expression, b: Expression, c: Expression): RobotsAllowed =
    copy(first = a, second = b, third = c)
}

/** (robotsTxt, agent) → effective Crawl-delay in ms (codegen-enabled);
  * NULL when no applicable group sets one — null is "no stated limit",
  * distinct from 0 ("no delay requested"), so the rate-limiter policy
  * (default delay? global cap?) stays with the caller.
  */
case class RobotsCrawlDelayMs(left: Expression, right: Expression) extends GraftBinary(
      "graft_robots_crawl_delay_ms", "(string, string)", isString, isString, nullResult = true) {
  override def dataType: DataType = org.apache.spark.sql.types.LongType

  protected def call(robots: Any, agent: Any): Any = RobotsSupport.crawlDelayMs(utf8(robots), utf8(agent))
  protected def callCode(ctx: CodegenContext, robots: String, agent: String): String =
    s"graft.functions.RobotsSupport.crawlDelayMs($robots, $agent)"

  override protected def withNewChildrenInternal(l: Expression, r: Expression): RobotsCrawlDelayMs =
    copy(left = l, right = r)
}

/** string → array<string> of Sitemap URLs in file order (codegen-enabled);
  * empty array when the file lists none.
  */
case class RobotsSitemaps(child: Expression)
    extends GraftUnary("graft_robots_sitemaps", "string input", isString) {
  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(StringType, containsNull = false)

  protected def call(a: Any): Any = RobotsSupport.sitemaps(utf8(a))
  protected def callCode(ctx: CodegenContext, a: String): String =
    s"graft.functions.RobotsSupport.sitemaps($a)"

  override protected def withNewChildInternal(c: Expression): RobotsSitemaps = copy(child = c)
}

object RobotsExprs {
  def robotsAllowed(robots: Column, agent: Column, path: Column): Column =
    column(RobotsAllowed, robots, agent, path)
  def robotsCrawlDelayMs(robots: Column, agent: Column): Column =
    column(RobotsCrawlDelayMs, robots, agent)
  def robotsSitemaps(robots: Column): Column = column(RobotsSitemaps, robots)
}

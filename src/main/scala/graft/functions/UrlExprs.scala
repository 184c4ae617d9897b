package graft.functions

import graft.functions.GraftFunction._
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Public-suffix-list registered-domain derivation — the data-file form of
  * [[graft.operators.UrlOps.registeredDomain]]'s compact heuristic: the
  * caller supplies the suffix rules (e.g. the Mozilla PSL, or a curated
  * subset) and the expression applies the FULL published PSL algorithm
  * (publicsuffix.org/list):
  *
  *   1. an EXCEPTION rule (`!www.ck`) that matches a label-suffix of the
  *      host prevails over everything: the public suffix is the rule minus
  *      its leftmost label, so the registered domain is the rule itself;
  *   2. otherwise the LONGEST matching rule prevails — plain rules match
  *      their own labels, a WILDCARD rule (`*.ck`) matches any single
  *      label plus its base (one label deeper than the base);
  *   3. the registered domain is the prevailing public suffix plus one
  *      more label — NULL when the host IS a public suffix (nothing
  *      registrable);
  *   4. when NO rule matches, the prevailing rule is "*" (any TLD is a
  *      public suffix): last two labels, NULL for single-label hosts.
  *
  * With all three rule kinds supported, the stock Mozilla list loads
  * verbatim through [[parseSuffixList]] + [[compile]].
  *
  * Matching is case-insensitive (the host is lowercased here, so a raw
  * uncanonicalized host column gets the right answer too), and a host
  * with an EMPTY label (leading/trailing dot, `a..com`) has no registered
  * domain — NULL, matching the oracle rendering's implicit rejection.
  *
  * The rule set rides the expression as a reference object (the
  * [[BpeSupport.Ranks]] pattern — one HashSet per codegen instance,
  * shipped with the serialized plan to every executor), so each row pays
  * O(labels) hash lookups however large the list is — a 9,000-rule PSL
  * would be hopeless as a regex alternation but is a constant here.
  */
object PslSupport {

  /** Compiled suffix rules, split by kind: plain membership set, wildcard
    * BASES (`*.ck` stores `ck`), exception suffixes (`!www.ck` stores
    * `www.ck`), plus each kind's deepest label count (bounds the walks).
    */
  final class SuffixSet(
      val plain: Array[String],
      val wildcardBases: Array[String],
      val exceptions: Array[String]
  ) extends Serializable {
    private def toSet(a: Array[String]) = {
      val s = new java.util.HashSet[String](a.length * 2)
      a.foreach(s.add)
      s
    }
    @transient lazy val plainSet: java.util.HashSet[String] = toSet(plain)
    @transient lazy val wildcardSet: java.util.HashSet[String] = toSet(wildcardBases)
    @transient lazy val exceptionSet: java.util.HashSet[String] = toSet(exceptions)
    private def depth(a: Array[String]) =
      if (a.isEmpty) 0 else a.map(r => r.count(_ == '.') + 1).max
    /** deepest PUBLIC SUFFIX a non-exception rule can produce */
    @transient lazy val maxLabels: Int = math.max(depth(plain), depth(wildcardBases) + 1)
    @transient lazy val maxExcLabels: Int = depth(exceptions)
  }

  /** A rule's labels: lowercase, non-empty, no whitespace, and no ASCII
    * character outside [a-z0-9-] (dots separate labels). Non-ASCII stays
    * legal — the real list carries IDN rules in unicode form — but every
    * regex metacharacter is ASCII, so this keeps a rule renderable into
    * the oracle's regex with only dots escaped.
    */
  private def requireLabels(rule: String, whole: String): Unit = {
    require(rule.nonEmpty && !rule.startsWith(".") && !rule.endsWith(".") &&
      !rule.contains(".."),
      s"suffix rule '$whole' has an empty label")
    require(rule == rule.toLowerCase(java.util.Locale.ROOT),
      s"suffix rule '$whole' must be lowercase")
    rule.foreach { c =>
      require(c == '.' || c >= 128 || c == '-' || (c >= 'a' && c <= 'z') ||
        (c >= '0' && c <= '9'),
        s"suffix rule '$whole' contains '$c' — ASCII labels are [a-z0-9-] only " +
          "(PSL syntax; anything else would also corrupt the oracle regex rendering)")
    }
  }

  def compile(rules: Seq[String]): SuffixSet = {
    val plain = Seq.newBuilder[String]
    val wild = Seq.newBuilder[String]
    val exc = Seq.newBuilder[String]
    rules.foreach { r =>
      if (r.startsWith("!")) {
        val body = r.substring(1)
        requireLabels(body, r)
        require(body.contains("."),
          s"exception rule '$r' needs at least two labels (its public suffix is the rule " +
            "minus the leftmost label)")
        exc += body
      } else if (r.startsWith("*.")) {
        val base = r.substring(2)
        requireLabels(base, r)
        require(!base.contains("*"), s"wildcard rule '$r': '*' is only legal as the leftmost label")
        wild += base
      } else {
        require(!r.contains("*") && !r.contains("!"),
          s"suffix rule '$r': '*' is only legal as a leading '*.' label and '!' only as a " +
            "leading exception marker")
        requireLabels(r, r)
        plain += r
      }
    }
    new SuffixSet(plain.result().toArray, wild.result().toArray, exc.result().toArray)
  }

  /** Parse PSL file content: one rule per line, `//` comments and blanks
    * skipped, ICANN/PRIVATE section markers tolerated (they are comments).
    */
  def parseSuffixList(content: String): Seq[String] =
    content.linesIterator
      .map(_.trim)
      .filter(l => l.nonEmpty && !l.startsWith("//"))
      .toSeq

  /** The PSL algorithm over a HOST (not a URL). NULL result = no
    * registrable domain (host is itself a public suffix, single-label
    * with no matching rule, or malformed — empty label).
    */
  def registered(host: UTF8String, sfx: SuffixSet): UTF8String = {
    val h = host.toString.toLowerCase(java.util.Locale.ROOT)
    if (h.isEmpty) return null
    val labels = h.split("\\.", -1)
    if (labels.exists(_.isEmpty)) return null // a..com, .com, com.
    val n = labels.length
    def suffix(i: Int) = labels.slice(n - i, n).mkString(".")
    // 1. exception rules prevail over everything: registered domain IS the
    //    matched rule (public suffix = rule minus leftmost label)
    var e = math.min(sfx.maxExcLabels, n)
    while (e >= 2) {
      val s = suffix(e)
      if (sfx.exceptionSet.contains(s)) return UTF8String.fromString(s)
      e -= 1
    }
    // 2. longest matching rule, whole host included: plain rules match
    //    their own length, a wildcard base matches one label deeper
    var i = math.min(sfx.maxLabels, n)
    while (i >= 1) {
      val isPublic = sfx.plainSet.contains(suffix(i)) ||
        (i >= 2 && sfx.wildcardSet.contains(suffix(i - 1)))
      if (isPublic) {
        if (i == n) return null // the host IS a public suffix
        return UTF8String.fromString(suffix(i + 1))
      }
      i -= 1
    }
    // 3. default "*" rule: last label is a public suffix
    if (n >= 2) UTF8String.fromString(suffix(2))
    else null
  }
}

/** Registered domain of a HOST column under a compiled PSL rule set. */
case class RegisteredDomainPsl(child: Expression, suffixes: PslSupport.SuffixSet)
    extends GraftUnary("graft_psl_domain", "a string host", isString, nullResult = true) {
  override def dataType: DataType = StringType // NULL for public-suffix/bare hosts

  protected def call(a: Any): Any = PslSupport.registered(utf8(a), suffixes)
  protected def callCode(ctx: CodegenContext, a: String): String = {
    val sfxRef = ctx.addReferenceObj("pslSuffixes", suffixes, classOf[PslSupport.SuffixSet].getName)
    s"graft.functions.PslSupport.registered($a, $sfxRef)"
  }

  override protected def withNewChildInternal(c: Expression): RegisteredDomainPsl = copy(child = c)
}

object UrlExprs {
  /** PSL registered domain of a host column under `rules`. */
  def pslDomain(host: Column, rules: Seq[String]): Column =
    column(RegisteredDomainPsl(_, PslSupport.compile(rules)), host)
}

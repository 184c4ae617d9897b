package graft.functions

import graft.functions.GraftFunction._
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Unicode text normalization for corpus intake — the cleaning pass that
  * runs BEFORE any hashing/dedup operator, because every content-keyed
  * operator in the engine treats byte-distinct strings as distinct: a
  * decomposed "café" (e + U+0301) and its precomposed form are different
  * md5s, different shingles, different fingerprints. Two scan-side codegen
  * expressions:
  *
  *  - [[NfcNormalize]]: Unicode NFC via `java.text.Normalizer` — the
  *    standard canonical composition (precomposed forms win). The q131
  *    oracle checks it against DuckDB's independent `nfc_normalize`
  *    implementation, so the gate is cross-IMPLEMENTATION, not a replay.
  *  - [[MojibakeRepair]]: detect-and-repair for the classic double-encoding
  *    accident (UTF-8 bytes decoded as Latin-1: "café" shipped as "cafÃ©").
  *    A string is repairable iff every char is ≤ U+00FF (so it IS a byte
  *    sequence), those bytes form VALID UTF-8, and at least one multi-byte
  *    sequence occurs (pure ASCII is its own UTF-8 — nothing to repair;
  *    real single-encoded accents like a lone é are INVALID as UTF-8 bytes
  *    and must not be touched). Returns the repaired string or NULL for
  *    "not mojibake" — the caller coalesces, so the expression doubles as
  *    the detector flag.
  */
object TextNormSupport {

  /** First-occurrence line dedup (the C4/RefinedWeb per-page cleanup):
    * split on '\n', keep each EXACT line's first occurrence, drop repeats,
    * rejoin. Web pages duplicate whole lines constantly — cookie banners
    * re-rendered per section, "subscribe" calls repeated between
    * paragraphs, chat/forum quoting — and cross-doc dedup never sees
    * intra-doc repeats. One HashSet pass over the line array, O(bytes):
    * strictly scan-side, no shuffle anywhere. Exact-match semantics
    * (no trimming/case-folding) so the operation is replayable by any
    * engine; run [[NfcNormalize]] first if byte-level variants should
    * collapse.
    */
  def dedupLines(s: UTF8String): UTF8String = {
    val text = s.toString
    val lines = text.split("\n", -1)
    if (lines.length <= 1) return s
    val seen = new java.util.HashSet[String](lines.length * 2)
    val sb = new java.lang.StringBuilder(text.length)
    var first = true
    var i = 0
    while (i < lines.length) {
      if (seen.add(lines(i))) {
        if (!first) sb.append('\n')
        sb.append(lines(i))
        first = false
      }
      i += 1
    }
    UTF8String.fromString(sb.toString)
  }

  def nfc(s: UTF8String): UTF8String =
    UTF8String.fromString(
      java.text.Normalizer.normalize(s.toString, java.text.Normalizer.Form.NFC))

  /** Windows-1252's 0x80–0x9F graphic characters, inverted (codepoint →
    * byte): the OTHER classic mojibake decode charset — "’" decoded as
    * cp1252 shows "â€™", whose € (U+20AC) and ™ (U+2122) are NOT Latin-1
    * codepoints, so a Latin-1-only inverse would reject real-world
    * mojibake. Undefined cp1252 slots (0x81/8D/8F/90/9D) stay unmapped.
    */
  private val Cp1252Inv: Map[Int, Byte] = Map(
    0x20AC -> 0x80, 0x201A -> 0x82, 0x0192 -> 0x83, 0x201E -> 0x84,
    0x2026 -> 0x85, 0x2020 -> 0x86, 0x2021 -> 0x87, 0x02C6 -> 0x88,
    0x2030 -> 0x89, 0x0160 -> 0x8A, 0x2039 -> 0x8B, 0x0152 -> 0x8C,
    0x017D -> 0x8E, 0x2018 -> 0x91, 0x2019 -> 0x92, 0x201C -> 0x93,
    0x201D -> 0x94, 0x2022 -> 0x95, 0x2013 -> 0x96, 0x2014 -> 0x97,
    0x02DC -> 0x98, 0x2122 -> 0x99, 0x0161 -> 0x9A, 0x203A -> 0x9B,
    0x0153 -> 0x9C, 0x017E -> 0x9E, 0x0178 -> 0x9F
  ).map { case (cp, b) => cp -> b.toByte }

  /** Repaired string, or null when `s` is not valid mojibake (see object
    * doc for the three-part rule). The char→byte inverse accepts Latin-1
    * codepoints (identity) and cp1252's remapped 0x80–0x9F graphics; the
    * validity walk is the strict UTF-8 grammar — 2–4-byte sequences,
    * continuation ranges, overlong/surrogate/out-of-range interior checks.
    */
  def repairMojibake(s: UTF8String): UTF8String = {
    val str = s.toString
    if (str.isEmpty) return null
    val n = str.length
    val bytes = new Array[Byte](n)
    var i = 0
    while (i < n) {
      val c = str.charAt(i).toInt
      if (c <= 0xFF) bytes(i) = c.toByte
      else Cp1252Inv.get(c) match {
        case Some(b) => bytes(i) = b
        case None => return null // not a byte sequence: genuine unicode text
      }
      i += 1
    }
    // strict validity + at-least-one-multi-byte check
    var multi = false
    var j = 0
    while (j < n) {
      val b = bytes(j) & 0xFF
      if (b < 0x80) j += 1
      else {
        val len =
          if (b >= 0xC2 && b <= 0xDF) 2
          else if (b >= 0xE0 && b <= 0xEF) 3
          else if (b >= 0xF0 && b <= 0xF4) 4
          else return null // stray continuation / overlong lead / > U+10FFFF lead
        if (j + len > n) return null
        var k = j + 1
        while (k < j + len) {
          val cb = bytes(k) & 0xFF
          if (cb < 0x80 || cb > 0xBF) return null
          k += 1
        }
        // surrogate / overlong / out-of-range interior checks
        if (len == 3) {
          val b1 = b; val b2 = bytes(j + 1) & 0xFF
          if (b1 == 0xE0 && b2 < 0xA0) return null // overlong
          if (b1 == 0xED && b2 > 0x9F) return null // UTF-16 surrogate range
        } else if (len == 4) {
          val b1 = b; val b2 = bytes(j + 1) & 0xFF
          if (b1 == 0xF0 && b2 < 0x90) return null // overlong
          if (b1 == 0xF4 && b2 > 0x8F) return null // > U+10FFFF
        }
        multi = true
        j += len
      }
    }
    if (!multi) return null // pure ASCII: already its own UTF-8
    UTF8String.fromBytes(bytes)
  }
}

/** Unicode NFC normalization of a string column (codegen-enabled). */
case class NfcNormalize(child: Expression) extends GraftUnary("graft_nfc", "a string", isString) {
  override def dataType: DataType = StringType

  protected def call(a: Any): Any = TextNormSupport.nfc(utf8(a))
  protected def callCode(ctx: CodegenContext, a: String): String =
    s"graft.functions.TextNormSupport.nfc($a)"

  override protected def withNewChildInternal(c: Expression): NfcNormalize = copy(child = c)
}

/** Mojibake repair of a string column; NULL = not mojibake (see
  * [[TextNormSupport.repairMojibake]]).
  */
case class MojibakeRepair(child: Expression)
    extends GraftUnary("graft_mojibake_repair", "a string", isString, nullResult = true) {
  override def dataType: DataType = StringType

  protected def call(a: Any): Any = TextNormSupport.repairMojibake(utf8(a))
  protected def callCode(ctx: CodegenContext, a: String): String =
    s"graft.functions.TextNormSupport.repairMojibake($a)"

  override protected def withNewChildInternal(c: Expression): MojibakeRepair = copy(child = c)
}

/** First-occurrence intra-document line dedup (codegen-enabled). */
case class DedupLines(child: Expression)
    extends GraftUnary("graft_dedup_lines", "string input", isString) {
  override def dataType: DataType = StringType

  protected def call(a: Any): Any = TextNormSupport.dedupLines(utf8(a))
  protected def callCode(ctx: CodegenContext, a: String): String =
    s"graft.functions.TextNormSupport.dedupLines($a)"

  override protected def withNewChildInternal(c: Expression): DedupLines = copy(child = c)
}

object TextNormExprs {
  /** Unicode NFC normalization (see [[TextNormSupport.nfc]]). */
  def nfcNormalize(text: Column): Column = column(NfcNormalize, text)

  /** Intra-document first-occurrence line dedup
    * (see [[TextNormSupport.dedupLines]]).
    */
  def dedupLines(text: Column): Column = column(DedupLines, text)

  /** Mojibake repair; NULL when the string is not valid mojibake —
    * `coalesce(mojibakeRepair(c), c)` is the cleaning form,
    * `mojibakeRepair(c).isNotNull` the detector.
    */
  def mojibakeRepair(text: Column): Column = column(MojibakeRepair, text)
}

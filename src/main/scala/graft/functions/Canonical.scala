package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Scalar-function surface of the engine (SURVEY.md §2.7).
  *
  * All of these are compositions of built-in `org.apache.spark.sql.functions`
  * — fully codegen'd, no UDFs — so they stay inside WholeStageCodegen spans
  * and cost nothing beyond the expression evaluation itself.
  */
object Canonical {

  /** F4 — `_clean_string`: trim, empty string -> NULL
    * (/root/reference/scrapers/vgsi/source.py:170-174).
    */
  def cleanString(c: Column): Column = nullif(trim(c), lit(""))

  /** F1 — money parse: strip `$`/`,`, trim; empty/unparsable -> NULL -> double
    * (/root/reference/scrapers/vgsi/source.py:134-145). Relies on non-ANSI
    * cast semantics (unparsable -> NULL), set in GraftSession.
    */
  def money(c: Column): Column =
    cleanString(regexp_replace(c, "[$,]", "")).cast("double")

  /** F6-style name normalization for COLUMN NAMES at ingest: lowercase,
    * whitespace runs -> _, & -> and, strip ALL colons. NOTE: this is the
    * column-level normalizer used by q19 (whose oracle mirrors this exact
    * regexp chain); the reference-exact HTML header/key normalization
    * (trailing-colon strip only, single-space replace —
    * source.py:421-424,477-479) lives in
    * [[graft.sources.vgsi.VgsiParser.normalizeHeader]].
    */
  def normalizeName(s: String): String =
    // Locale.ROOT: a tr-TR default locale lowercases "TITLE" to "tıtle"
    // (dotless ı) — column names must not depend on the host's locale, and
    // normalizeNameCol's Spark lower() is locale-independent already
    s.toLowerCase(java.util.Locale.ROOT).replace("&", "and").replaceAll("\\s+", "_").replace(":", "")

  def normalizeNameCol(c: Column): Column =
    regexp_replace(regexp_replace(regexp_replace(lower(c), "&", "and"), "\\s+", "_"), ":", "")

  /** Canonical JSON of the non-null business columns, keys sorted — the
    * documented Scala canonical form for content hashing. We deliberately do
    * NOT chase Python `str()` parity (SURVEY.md §7 step 2): hashes only ever
    * compare hash-to-hash, so internal consistency is what matters.
    *
    * Mirrors /root/reference/src/engine/hash.py:27-40: sorted keys, NULLs
    * dropped, all values stringified, metadata columns excluded.
    */
  val MetadataCols: Set[String] = Set(
    "id", "version", "row_hash", "effective_from", "effective_to",
    "is_current", "loaded_at", "updated_at", "created_at", "scraped_at",
    "city_id", "vgsi_url", "photo_paths", "photo_local_path"
  )

  def canonicalJson(df: DataFrame, exclude: Set[String] = MetadataCols): Column = {
    val cols = df.columns.filterNot(exclude.contains).sorted
    canonicalJsonOf(cols.map(n => n -> col(n)): _*)
  }

  def canonicalJsonOf(fields: (String, Column)*): Column =
    if (fields.isEmpty) lit("{}") // empty untyped array would fail analysis
    else {
      val entries = fields.sortBy(_._1).map { case (n, c) =>
        struct(lit(n).as("key"), c.cast("string").as("value"))
      }
      to_json(
        map_from_entries(
          filter(array(entries: _*), e => e.getField("value").isNotNull)
        )
      )
    }

  /** F7 — content row hash: MD5 hex (32 chars) of the canonical JSON
    * (/root/reference/src/engine/hash.py:7-40).
    */
  def rowHash(df: DataFrame, exclude: Set[String] = MetadataCols): Column =
    md5(canonicalJson(df, exclude))

  def rowHashOf(fields: (String, Column)*): Column =
    md5(canonicalJsonOf(fields: _*))

  /** F8 — deterministic UUID: MD5(pid + canonical JSON) formatted 8-4-4-4-12
    * (/root/reference/scrapers/vgsi/source.py:182-194). Dict-order
    * independence comes from the sorted canonical form.
    */
  def deterministicUuid(pid: Column, canonical: Column): Column =
    uuidFromHex(md5(concat(pid.cast("string"), canonical)))

  /** Format a 32-char hex digest as a UUID string (8-4-4-4-12); NULL in,
    * NULL out — concat_ws SKIPS null arguments, so without the guard a
    * null digest (null pid upstream) yielded the empty string and every
    * null-keyed row collapsed onto one "" identity instead of leaving the
    * caller a NULL to handle.
    */
  def uuidFromHex(hexDigest: Column): Column = when(
    hexDigest.isNotNull,
    concat_ws(
      "-",
      substring(hexDigest, 1, 8),
      substring(hexDigest, 9, 4),
      substring(hexDigest, 13, 4),
      substring(hexDigest, 17, 4),
      substring(hexDigest, 21, 12)
    ))

  /** F11 — URL construction (/root/reference/scrapers/vgsi/source.py:525). */
  def vgsiUrl(base: Column, pid: Column): Column =
    concat(base, lit("Parcel.aspx?pid="), pid.cast("string"))
}

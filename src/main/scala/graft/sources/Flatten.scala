package graft.sources

import graft.functions.Canonical
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Flattening — the Spark dual of the reference's table-generating
  * `flatten_fn` UDTF (/root/reference/scrapers/vgsi/source.py:587-639):
  * one nested `Dataset[ScrapeResult]` fans out to 8 relational DataFrames
  * via `explode`, each child carrying the `(property_uuid, pid)` FK pair
  * (source.py:529-569,629-634).
  *
  * The deterministic `uuid` is derived once on the property struct
  * (MD5(pid + canonical JSON), source.py:182-194) and propagated to
  * children by the explode — no join needed.
  *
  * Two steps: [[dedupBatch]] is the ONE wide step, the in-batch uuid
  * dedup (U2, a window exchange on the uuid with a deterministic
  * keep-rule), and [[tablesOf]] is the narrow select/explode fan-out over
  * its output. The engine persists the deduped batch once, so the window
  * runs once per batch however many of the 8 tables read it.
  */
object Flatten {

  /** Business columns of the property struct (metadata excluded per
    * /root/reference/src/engine/hash.py:7-24) — the full typed
    * PROPERTY_TAGS set.
    */
  private val propertyHashFields = Seq(
    "town_name", "address", "owner", "account_number", "sale_price",
    "assessment_value", "appraisal_value", "building_count",
    "land_size_acres", "extra_fields",
    "mblu", "owner_address", "co_owner", "certificate", "sale_date",
    "book_page", "book_label", "book", "page_label", "page",
    "label_instrument", "land_use_code", "building_use",
    "land_alt_approved", "land_zone", "land_neighborhood_code",
    "land_frontage", "land_depth", "land_assessed_value",
    "land_appraised_value", "zip_code"
  )

  /** Construction-key → buildings-column mapping (vgsi/source.py:92-122
    * CNS_MAPPING, applied at :614-624). Two source spellings may feed one
    * column (interior_flr_1/interior_floor_1); the reference's dict loop is
    * last-write-wins, so later spellings take precedence.
    */
  private val cnsMapping: Seq[(String, String)] = Seq(
    "style" -> "style", "model" -> "model", "grade" -> "grade",
    "stories" -> "stories", "occupancy" -> "occupancy",
    "exterior_wall_1" -> "exterior_wall_1", "exterior_wall_2" -> "exterior_wall_2",
    "roof_structure" -> "roof_structure", "roof_cover" -> "roof_cover",
    "interior_wall_1" -> "interior_wall_1", "interior_wall_2" -> "interior_wall_2",
    "interior_flr_1" -> "interior_floor_1", "interior_flr_2" -> "interior_floor_2",
    "interior_floor_1" -> "interior_floor_1", "interior_floor_2" -> "interior_floor_2",
    "heat_fuel" -> "heat_fuel", "heat_type" -> "heat_type", "ac_type" -> "ac_type",
    "total_bedrooms" -> "total_bedrooms", "total_bthrms" -> "total_bthrms",
    "total_half_baths" -> "total_half_baths", "total_xtra_fixtrs" -> "total_xtra_fixtrs",
    "total_rooms" -> "total_rooms", "bath_style" -> "bath_style",
    "kitchen_style" -> "kitchen_style", "interior_condition" -> "interior_condition",
    "fin_bsmnt_area" -> "fin_bsmnt_area", "fin_bsmnt_qual" -> "fin_bsmnt_qual",
    "nbhd_code" -> "nbhd_code"
  )

  /** Per destination column: source keys in coalesce order (highest
    * precedence first = last-written in the reference's loop).
    */
  private val cnsByDst: Seq[(String, Seq[String])] = {
    val dsts = cnsMapping.map(_._2).distinct
    dsts.map(d => d -> cnsMapping.collect { case (s, `d`) => s }.reverse)
  }

  private val cnsKnownKeys: Seq[String] = cnsMapping.map(_._1)

  /** Deliberate divergence from the reference: vgsi/source.py:332 derives
    * the uuid from pid + the FULL parsed content dict, so any content change
    * mints a new uuid — silently detaching the uuid-keyed SCD2 history the
    * same file queries (source.py:813-837). We keep the uuid contract
    * (deterministic MD5 of pid + canonical JSON, order-independent) but feed
    * it only the entity's immutable identity (pid, town_name), so version
    * chains stay attached across re-scrapes.
    *
    * KNOWN LIMITATION of that identity choice (the `scopeKey = None`
    * legacy form): town_name is scraped from the page's own label, so a
    * site-side rendering change ("ANDOVER" → "Andover, CT"), or one
    * variant page omitting lblTownName, still mints new uuids for the
    * whole town and splits every chain. The fully-stable identity is the
    * INGEST SCOPE key (the city the engine already threads through Lake
    * paths) — pass it as `scopeKey` and the uuid basis becomes
    * (pid, scope_key), immune to page rendering. The engine does this for
    * every lake marked scope-keyed ([[graft.lake.UuidMigration]]: new
    * lakes are marked at creation; existing lakes migrate one-shot via
    * `UuidMigration.migrate`, which rewrites the uuid/property_uuid
    * columns of all 8 tables to this exact basis). The legacy form stays
    * for unmigrated lakes — switching the basis WITHOUT migrating would
    * itself split every chain.
    */
  private val identityFields = Seq("town_name")

  /** The scope-keyed uuid basis — ONE definition shared by [[flatten]] and
    * [[graft.lake.UuidMigration]], so a migrated lake's rewritten uuids and
    * every future scrape's minted uuids agree byte-for-byte. Same uuid
    * contract as the legacy basis (deterministic MD5 of pid + canonical
    * JSON, order-independent); only the identity payload differs.
    */
  def scopeKeyedUuid(pid: org.apache.spark.sql.Column, scopeKey: String): org.apache.spark.sql.Column =
    Canonical.deterministicUuid(pid,
      Canonical.canonicalJsonOf("pid" -> pid, "scope_key" -> lit(scopeKey)))

  /** The identity column the VGSI stamp convention gives each flattened
    * table — `uuid` on the parent, the `property_uuid` FK on every child
    * (the pair every [[flatten]] frame carries by construction). This is
    * the STATIC contract the engine passes to
    * [[graft.scd.Scd.refreshDedupForLake]]'s explicit-mode overload:
    * dedup semantics on the write path must come from the table contract,
    * never from sniffing the frame's column names.
    */
  def identityColumnOf(table: String): String =
    if (table == "properties") "uuid" else "property_uuid"

  def flatten(ds: Dataset[ScrapeResult], scopeKey: Option[String] = None): Map[String, DataFrame] =
    tablesOf(dedupBatch(ds, scopeKey))

  /** U2 — the nested batch plus its `uuid` column, one row per uuid. */
  def dedupBatch(ds: Dataset[ScrapeResult], scopeKey: Option[String] = None): DataFrame = {
    val base = ds.toDF()
    val canon = Canonical.canonicalJsonOf(
      ("pid" -> col("property.pid")) +:
        identityFields.map(f => f -> col(s"property.$f")): _*
    )
    // U2 — in-batch dedup on uuid BEFORE fan-out (the reference's
    // seen_uuids skip, vgsi/source.py:595-601): a duplicate scrape of one
    // entity within a batch is dropped entirely — children included.
    // DETERMINISTIC keep-rule, not dropDuplicates: per-key first()
    // depends on shuffle arrival order, so two executions of an
    // unpersisted batch (each table's frame re-runs it) could keep
    // properties from scrape A and buildings from scrape B of one entity,
    // a torn parent/child snapshot. The window orders on the full row's
    // JSON hash, so every execution picks the same survivor. No persist
    // here: a persist built before the caller caches `ds` materializes
    // from the uncached plan and re-runs the scrape (doubled accumulators),
    // so the caller persists this frame after its own cache.
    val withUuid0 = base
      .withColumn("uuid", scopeKey match {
        case Some(s) => scopeKeyedUuid(col("property.pid"), s)
        case None => Canonical.deterministicUuid(col("property.pid"), canon)
      })
    val pick = xxhash64(to_json(struct(base.columns.map(col): _*)))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("uuid")).orderBy(pick.asc)
    withUuid0
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** The 8 table projections over a [[dedupBatch]] frame: narrow
    * select/explode only, no exchange.
    */
  def tablesOf(withUuid: DataFrame): Map[String, DataFrame] = {
    val properties = withUuid.select(
      col("uuid") +: col("property.pid").as("pid") +:
        propertyHashFields.map(f => col(s"property.$f").as(f)): _*
    )

    def child(arrayCol: String, fields: Seq[String]): DataFrame = {
      val exploded = withUuid
        .select(col("uuid").as("property_uuid"), col("property.pid").as("pid"), explode(col(arrayCol)).as("c"))
      exploded.select(
        col("property_uuid") +: col("pid") +: fields.map(f => col(s"c.$f").as(f)): _*
      )
    }

    // construction map → typed columns (CNS_MAPPING) + extra_fields JSON of
    // unknown keys, sorted for determinism — nothing is ever dropped
    // (vgsi/source.py:614-624). construction_json keeps the raw map too.
    val cns = col("c.construction")
    val cnsCols = cnsByDst.map { case (dst, srcs) =>
      coalesce(srcs.map(cns.getItem(_)): _*).as(dst)
    }
    val unknownCns = map_filter(cns, (k, _) => !array_contains(typedLit(cnsKnownKeys), k))
    val cnsExtra =
      when(size(map_keys(unknownCns)) > 0,
        to_json(map_from_entries(array_sort(map_entries(unknownCns)))))
        .otherwise(lit(null).cast("string"))
        .as("extra_fields")
    val buildings = withUuid
      .select(col("uuid").as("property_uuid"), col("property.pid").as("pid"), explode(col("buildings")).as("c"))
      .select(
        col("property_uuid") +:
          col("pid") +:
          col("c.bid").as("bid") +:
          col("c.year_built").as("year_built") +:
          col("c.building_area").as("building_area") +:
          col("c.replacement_cost").as("replacement_cost") +:
          col("c.less_depreciation").as("less_depreciation") +:
          col("c.pct_good").as("pct_good") +:
          col("c.photo_url").as("photo_url") +:
          col("c.sketch_url").as("sketch_url") +:
          cnsCols :+
          cnsExtra :+
          when(size(map_keys(cns)) > 0, to_json(cns))
            .otherwise(lit(null).cast("string"))
            .as("construction_json"): _*
      )

    val subAreas = withUuid
      .select(col("uuid").as("property_uuid"), col("property.pid").as("pid"), explode(col("buildings")).as("b"))
      .select(col("property_uuid"), col("pid"), col("b.bid").as("bid"), explode(col("b.sub_areas")).as("s"))
      .select(
        col("property_uuid"), col("pid"), col("bid"),
        col("s.code").as("code"), col("s.description").as("description"),
        col("s.gross_area").as("gross_area"), col("s.living_area").as("living_area")
      )
      // drop empty-code rows (the "Total" footer skip, vgsi/source.py:444-446)
      .filter(col("code").isNotNull && col("code") =!= "")

    Map(
      "properties" -> properties,
      "buildings" -> buildings,
      "sub_areas" -> subAreas,
      "ownership" -> child("ownership", Seq("owner", "sale_price", "sale_date", "extra_fields")),
      "appraisals" -> child("appraisals", Seq("valuation_year", "improvements", "land", "total")),
      "assessments" -> child("assessments", Seq("valuation_year", "improvements", "land", "total")),
      "extra_features" -> child("extra_features", Seq("code", "sub_code", "description", "value")),
      "outbuildings" -> child("outbuildings", Seq("code", "sub_code", "description", "value"))
    )
  }
}

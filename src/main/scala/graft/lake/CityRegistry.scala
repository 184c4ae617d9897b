package graft.lake

import graft.scd.Scd
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** S9/S10 — the cities dimension: a small managed parquet table with
  * upsert-on-key and point lookup, replacing the reference's DuckDB
  * `main.cities` singleton (/root/reference/scrapers/vgsi/source.py:687-779).
  *
  * Vanilla Spark has no `ON CONFLICT DO UPDATE`; the upsert is the
  * union + key-window rewrite from [[Scd.upsert]], materialized through
  * [[Swap.install]] (write tmp, swap). The table is dimension-sized (≈90
  * rows for CT) so a full rewrite is the right cost model; at warehouse
  * scale this would be a Delta/Iceberg MERGE instead.
  */
object CityRegistry {

  private def live(root: String) = new Path(s"$root/_meta/cities")
  private def aside(root: String) = new Path(s"$root/_meta/cities.__old")

  /** The registry, or — after a crashed swap — its aside, read in place
    * ([[Swap.liveOrAside]]; promotion is the next [[upsert]]'s job).
    */
  def load(spark: SparkSession, root: String): Option[DataFrame] = {
    val fs = live(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    Swap.liveOrAside(fs, live(root), aside(root)).map(p => spark.read.parquet(p.toString))
  }

  /** Upsert (city_key unique): newest row per key wins, `created_at` of the
    * first observation is preserved for existing keys.
    *
    * Runs under the `_meta` writer lease ([[Lake.withScopeLease]], r16):
    * the read-merge-swap below is not atomic, so two concurrent
    * fetch-cities runs could each merge against the pre-swap registry and
    * the loser's keys would silently vanish — the same lost-update shape
    * the scope lease closes for lake tables.
    */
  def upsert(spark: SparkSession, root: String, cities: DataFrame): Unit =
    Lake.withScopeLease(spark, root, "_meta", "cities-upsert") {
    val now = current_timestamp()
    val incoming = cities
      .withColumn("created_at", now)
      .withColumn("updated_at", now)
    val fs = live(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    // writer-side crash recovery BEFORE reading: the writer owns the swap
    // lifecycle (single-writer contract), so only here is a promote safe
    Swap.promote(fs, aside(root), live(root))
    val merged = load(spark, root) match {
      case None => incoming
      case Some(existing) =>
        // preserve original created_at on conflict (reference DO UPDATE
        // keeps the row id/created_at, updating the mutable columns)
        val createdAt = existing.select(col("city_key"), col("created_at").as("__orig_created"))
        Scd
          .upsert(existing, incoming, col("city_key"), col("updated_at"))
          .join(createdAt, Seq("city_key"), "left")
          .withColumn("created_at", coalesce(col("__orig_created"), col("created_at")))
          .drop("__orig_created")
    }
    val tmp = new Path(s"$root/_meta/cities.__tmp")
    merged.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
    Swap.install(fs, tmp, live(root), aside(root), "cities upsert")
  }

  /** S10 — point lookup: city_key → url. */
  def cityUrl(spark: SparkSession, root: String, cityKey: String): Option[String] =
    load(spark, root).flatMap { df =>
      df.filter(col("city_key") === cityKey)
        .select("url")
        .collect()
        .headOption
        // flatMap over Option(...): a registry row with a NULL url must be
        // a MISS, not Some(null) — the CLI's .orElse would otherwise treat
        // the lookup as a hit and hand the scraper a null base URL
        .flatMap(r => Option(r.getString(0)))
    }
}

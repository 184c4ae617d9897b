package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Loaders for the test-lake tables (TPC-H-ish star schema + events stream +
  * documents/embeddings corpora; see /root/repo/TESTDATA.md).
  *
  * Each table is a plain parquet directory/file — reads go through the
  * DataSource V2 parquet scan so Catalyst pushes filters and prunes columns
  * into the scan (visible as PushedFilters/ReadSchema in explain output).
  */
final case class Tables(spark: SparkSession, dir: String) {
  /** Read a test-lake table with its schema served from the per-JVM memo:
    * a bare `spark.read.parquet` INFERS the schema with a footer-reading
    * driver job per call (~50 ms here — measured as five serial "parquet
    * at Tables" jobs inside one 5-table query's construction), and a bench
    * that constructs hundreds of queries pays it per table per query.
    * Passing the schema explicitly skips inference entirely — the standard
    * production discipline at any scale (at 100 TB the footer-sampling job
    * is a real driver stall). The memo holds METADATA only (a StructType
    * per path), never rows: every query still computes from the parquet
    * files. Keyed by the full path plus its part files — their count and
    * the newest one's (mtime, length) — so different SF dirs (or testdata
    * generations with drifted physical types — see [[events]]) never share
    * an entry, and a table REWRITTEN at the same path within one JVM
    * (testdata refresh, MakeSf overwrite in a long session) gets a fresh
    * inference instead of a silently stale StructType (added columns
    * vanishing, physical-type drift erroring). A directory's own stat is
    * not enough: its length never moves and a rewrite inside the mtime
    * resolution keeps its mtime. The listing is microseconds against the
    * ~50 ms footer job it replaces.
    */
  def t(name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    val f = new java.io.File(path)
    // a plain parquet file is its own single part; Spark skips _/. files
    val parts = Option(f.listFiles).fold(Array(f))(
      _.filter(p => p.isFile && !p.getName.startsWith("_") && !p.getName.startsWith(".")))
    val newest = parts.maxByOption(p => (p.lastModified, p.getName))
    val key = s"$path@${parts.length}:${newest.map(p => s"${p.lastModified}:${p.length}")}"
    val schema = Tables.schemaCache.computeIfAbsent(
      key, _ => spark.read.parquet(path).schema)
    spark.read.schema(schema).parquet(path)
  }

  def region: DataFrame     = t("region")
  def nation: DataFrame     = t("nation")
  def customer: DataFrame   = t("customer")
  def supplier: DataFrame   = t("supplier")
  def part: DataFrame       = t("part")
  def orders: DataFrame     = t("orders")
  def lineitem: DataFrame   = t("lineitem")
  /** events.ts has shipped as both parquet TIMESTAMP(NANOS) and
    * TIMESTAMP(MICROS, no tz) across testdata generations, so the loader
    * adapts to the physical type it finds and always hands downstream
    * queries a session-local TIMESTAMP: nanos arrive as a long (via
    * spark.sql.legacy.parquet.nanosAsLong) and are truncated to
    * microseconds (matching DuckDB's ns→µs truncation); tz-less micros
    * read as TIMESTAMP_NTZ and are cast — the session timezone is pinned
    * to UTC (GraftSession), which matches DuckDB's naive-as-UTC
    * `epoch_us` reading of the same file.
    */
  def events: DataFrame = {
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    val raw = t("events")
    raw.schema("ts").dataType match {
      case LongType         => raw.withColumn("ts", timestamp_micros(expr("ts DIV 1000")))
      case TimestampNTZType => raw.withColumn("ts", col("ts").cast(TimestampType))
      case _                => raw
    }
  }
  def documents: DataFrame  = t("documents")
  def embeddings: DataFrame = t("embeddings")
}

object Tables {
  /** (path → schema) memo backing [[Tables.t]] — metadata only, per JVM. */
  private val schemaCache =
    new java.util.concurrent.ConcurrentHashMap[String, org.apache.spark.sql.types.StructType]()
}

package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.operators._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every implemented operator from SURVEY.md §2 is exposed as a named query
  * over the test lake, paired (where SQL-expressible) with a DuckDB oracle
  * the driver hash-compares against.
  */
object SparkEntry {

  private def allQ: Seq[Q] =
    RelationalQueries.all ++ WindowQueries.all ++ FunctionQueries.all ++
      DedupQueries.all ++ SimilarityQueries.all ++ TextQueries.all ++
      ExtraQueries.all ++ SamplingQueries.all ++ UrlQueries.all

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q01_pricing_summary")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    allQ.map(q => q.name -> q.run).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    allQ.flatMap(q => q.oracle.map(o => q.name -> o)).toMap

  /** Comma-separated query names (`"q01_x, q11_y"`) → the names, each
    * trimmed, empty entries dropped, in the given order. Throws naming
    * every name that is not in [[queries]]: a typo fails instead of
    * silently selecting nothing. */
  def selectNames(csv: String): Seq[String] = {
    val names = csv.split(",").map(_.trim).filter(_.nonEmpty).distinct.toSeq
    val unknown = names.filterNot(queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
    names
  }
}

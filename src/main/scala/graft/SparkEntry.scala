package graft

import graft.queries._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Query inventory is assembled from per-area modules; each module
  * carries both the Spark DataFrame builders and (where SQL-
  * expressible) the DuckDB oracle SQL with matching column names.
  */
object SparkEntry {
  private val modules: Seq[QueryModule] =
    Seq(Dashboard, Relational, TpchMore, RtcmQueries, TextAnalysis, CorpusOps, Dedup, Similarity, MiscQueries, GraphOps, MoreAnalytics, BpeTrain, PiiScrub)

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("h01_pricing_summary")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    modules.flatMap(_.defs).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    modules.flatMap(_.oracle).toMap

  /** Every module's build-once artifacts, in declaration order. */
  def builds: Seq[ArtifactBuild] = modules.flatMap(_.builds)
}

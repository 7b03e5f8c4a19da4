package graft
import org.apache.spark.sql.{SparkSession, DataFrame}
import graft.queries._
/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt. */
object SparkEntry {
  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q1_agg")(spark, "/root/testdata/sf0.001")
  /** Every graded query once, as one `QueryDef` (name, body, oracle). */
  lazy val defs: Seq[QueryDef] = QueryDef.distinct(
    RelationalQueries.defs ++ EventQueries.defs ++ AnalyticQueries.defs ++
      TextQueries.defs ++ NearDupQueries.defs ++ AnnQueries.defs ++ DeconQueries.defs ++
      BlobQueries.defs ++ DropLoopQueries.defs ++ ExtendedQueries.defs)
  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    defs.map(d => d.name -> d.build).toMap
  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. */
  def oracleSql: Map[String, String] = defs.map(d => d.name -> d.oracle).toMap
}

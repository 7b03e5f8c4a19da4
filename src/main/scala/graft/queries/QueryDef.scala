package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One graded query: its name, the body that builds its frame from a
  * session and a table directory, and the DuckDB SQL that must return
  * the same rows over the same parquet tables. Each query file lists
  * its queries as `defs`, every body with its oracle right after it. */
final case class QueryDef(name: String, build: (SparkSession, String) => DataFrame,
                          oracle: String)

object QueryDef {
  /** `defs` as given, once no name repeats: a repeated name would
    * silently drop a query from every name-keyed view. */
  def distinct(defs: Seq[QueryDef]): Seq[QueryDef] = {
    val repeated = defs.groupBy(_.name).collect { case (n, ds) if ds.size > 1 => n }
    require(repeated.isEmpty, s"query names defined twice: ${repeated.toSeq.sorted.mkString(", ")}")
    defs
  }
}

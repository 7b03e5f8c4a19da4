package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
import org.apache.commons.io.FileUtils
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    // the session Bench times: the oracle grades the tuned configuration
    val spark = GraftSession.tune(
      SparkSession.builder().master(s"local[$cpus]").appName("graft-verify"),
      shufflePartitions = cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // SPARK_GRAFT_ONLY=q1,l28 → dump only that subset (local iteration).
    // Unset or blank dumps everything, and unknown names are rejected,
    // both like Bench.
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
      .filter(_.nonEmpty)
    only.foreach { names =>
      val unknown = names -- SparkEntry.queries.keySet
      require(unknown.isEmpty, s"SPARK_GRAFT_ONLY unknown queries: ${unknown.mkString(",")}")
    }
    val selected = only.fold(SparkEntry.queries)(n => SparkEntry.queries.filter(kv => n(kv._1)))
    selected.foreach { case (name, fn) =>
      // a query that throws before its write must leave NO output: a
      // stale dump from an earlier run would otherwise be graded
      FileUtils.deleteDirectory(new java.io.File(s"$outDir/$name"))
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      } finally {
        spark.catalog.clearCache() // queries that persist (l12)
        // must not leak cache entries across the whole dump run;
        // raw-RDD materializations (connectedComponents rounds) are
        // invisible to clearCache and need their own release
        spark.sparkContext.getPersistentRDDs.values
          .foreach(_.unpersist(blocking = false))
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = only.fold(SparkEntry.oracleSql)(n => SparkEntry.oracleSql.filter(kv => n(kv._1)))
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}

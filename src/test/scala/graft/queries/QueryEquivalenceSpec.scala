package graft.queries

import graft.{SparkEntry, TestSpark}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Scale-shaped query rewrites must match the operator-level
  * formulations they replaced, on real test data. The slow formulations
  * here are the executable SPECS (what the operators mean); the graded
  * queries run the single-shuffle / zero-expansion plans.
  */
class QueryEquivalenceSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val dir = "/root/testdata/sf0.001"

  test("a10: single-shuffle multiset identities equal the exceptAll/intersectAll chain") {
    val li = spark.read.parquet(s"$dir/lineitem.parquet")
    val a = li.filter(col("l_quantity") >= 25).select(col("l_orderkey"))
    val b = li.filter(col("l_returnflag") === "R").select(col("l_orderkey"))
    val viaOps = a.exceptAll(b).groupBy(col("l_orderkey")).agg(count(lit(1)).as("n"))
      .union(a.intersectAll(b).groupBy(col("l_orderkey")).agg((count(lit(1)) * -1).as("n")))
      .groupBy(col("l_orderkey")).agg(sum(col("n")).as("net"))
      .as[(Long, Long)].collect().toMap
    val viaCounts = SparkEntry.queries("a10_setops_all")(spark, dir)
      .as[(Long, Long)].collect().toMap
    assert(viaCounts.nonEmpty && viaCounts == viaOps)
  }

  test("j3: union-tag window as-of equals the join+row_number formulation") {
    // Tables.load routes through normalizeTs — ts is canonical
    // TimestampType whichever physical encoding the generator wrote
    val e = graft.Tables.load(spark, dir, "events")
    val c = e.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id"), col("ts").as("c_ts"))
    val p = e.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("p_ts"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("click_id")).orderBy(col("p_ts").desc)
    val viaJoin = c.join(p,
        col("user_id") === col("p_user") && col("p_ts") <= col("c_ts"), "left")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("click_id"),
        unix_timestamp(col("c_ts")).as("click_sec"),
        unix_timestamp(col("p_ts")).as("purchase_sec"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), if (r.isNullAt(2)) None else Some(r.getLong(2))))
      .toSet
    val viaWindow = SparkEntry.queries("j3_asof_join")(spark, dir)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), if (r.isNullAt(2)) None else Some(r.getLong(2))))
      .toSet
    assert(viaWindow.nonEmpty && viaWindow == viaJoin)
    // the scale property itself: rows through the window pass are
    // |clicks| + |purchases|, never a per-user cross product
    assert(viaWindow.size == c.count())
  }
}

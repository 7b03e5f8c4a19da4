package graft.queries

import graft.Tables
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.{DecimalType, DoubleType}

/** Relational capabilities the reference lacks entirely (SURVEY.md §2.5:
  * "no sorts, limits, top-k, grouping sets, set operations, ranking
  * functions, scalar function library") — surfaced from Spark built-ins
  * so a reference user gets them when switching.
  */
object AnalyticQueries {
  private val d = DecimalType(18, 2)
  private def dec(c: String) = col(c).cast(d)

  def defs: Seq[QueryDef] = Seq(
    // ROLLUP grouping sets; nulls replaced with a sentinel so ordering is
    // engine-independent. The fact is pre-aggregated per (flag, status)
    // FIRST — rollup's Expand otherwise multiplies the full fact ×3
    // before the hash agg; here Expand sees only the ~9-row aggregate,
    // which is also the plan that survives a 100× fact. Decimal sums are
    // exact, so re-aggregating partial sums is value-identical.
    QueryDef("a1_rollup", (s, dir) => {
      val pre = Tables.load(s, dir, "lineitem")
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(sum(dec("l_quantity")).as("pq"), count(lit(1)).as("pn"))
      pre.rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(sum(col("pq")).cast(DoubleType).as("sum_qty"),
          sum(col("pn")).as("n"))
        .select(coalesce(col("l_returnflag"), lit("ALL")).as("returnflag"),
          coalesce(col("l_linestatus"), lit("ALL")).as("linestatus"),
          col("sum_qty"), col("n"))
        .orderBy(col("returnflag"), col("linestatus"))
    },
      """SELECT COALESCE(l_returnflag, 'ALL') AS returnflag,
        |  COALESCE(l_linestatus, 'ALL') AS linestatus,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  COUNT(*) AS n
        |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
        |ORDER BY returnflag, linestatus""".stripMargin),

    // Ranking window function: top-3 orders per customer.
    QueryDef("a2_rank", (s, dir) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      Tables.load(s, dir, "orders")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"), col("rn"))
        .orderBy(col("o_custkey"), col("rn"))
    },
      """SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |    ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rn
        |  FROM orders) t
        |WHERE rn <= 3 ORDER BY o_custkey, rn""".stripMargin),

    // Set operations: (BUILDING ∪ AUTOMOBILE customers) minus big spenders.
    QueryDef("a3_setops", (s, dir) => {
      val c = Tables.load(s, dir, "customer")
      val o = Tables.load(s, dir, "orders")
      val seg = c.filter(col("c_mktsegment") === "BUILDING")
        .select(col("c_custkey").as("custkey"))
        .union(c.filter(col("c_mktsegment") === "AUTOMOBILE")
          .select(col("c_custkey").as("custkey")))
      val big = o.filter(col("o_totalprice") > 400000.0)
        .select(col("o_custkey").as("custkey"))
      seg.except(big).orderBy(col("custkey"))
    },
      """(SELECT c_custkey AS custkey FROM customer WHERE c_mktsegment = 'BUILDING'
        | UNION ALL
        | SELECT c_custkey AS custkey FROM customer WHERE c_mktsegment = 'AUTOMOBILE')
        |EXCEPT
        |SELECT o_custkey AS custkey FROM orders WHERE o_totalprice > 400000.0
        |ORDER BY custkey""".stripMargin),

    // Exact distinct aggregation (expand-based in Spark; two-phase at scale).
    QueryDef("a4_distinct", (s, dir) => {
      Tables.load(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(countDistinct(col("l_partkey")).as("n_parts"),
          countDistinct(col("l_suppkey")).as("n_supps"),
          count(lit(1)).as("n"))
        .orderBy(col("l_returnflag"))
    },
      """SELECT l_returnflag, COUNT(DISTINCT l_partkey) AS n_parts,
        |  COUNT(DISTINCT l_suppkey) AS n_supps, COUNT(*) AS n
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin),

    // Scalar function library: string/date/math (reference has none; users
    // write arbitrary Python — here they're codegen'd built-ins).
    QueryDef("a5_scalar_funcs", (s, dir) => {
      Tables.load(s, dir, "orders")
        .filter(col("o_orderkey") % 100 === 0)
        .select(col("o_orderkey"),
          upper(col("o_orderstatus")).as("status_u"),
          year(col("o_orderdate")).as("yr"),
          month(col("o_orderdate")).as("mo"),
          length(col("o_orderpriority")).as("prio_len"),
          substring(col("o_orderpriority"), 1, 1).as("prio_1"),
          abs(col("o_totalprice") - lit(100000.0)).as("dist_100k"),
          concat_ws("-", col("o_orderstatus"), col("o_orderpriority")).as("tag"))
        .orderBy(col("o_orderkey"))
    },
      """SELECT o_orderkey, UPPER(o_orderstatus) AS status_u,
        |  CAST(year(o_orderdate) AS INT) AS yr, CAST(month(o_orderdate) AS INT) AS mo,
        |  CAST(length(o_orderpriority) AS INT) AS prio_len,
        |  substring(o_orderpriority, 1, 1) AS prio_1,
        |  abs(o_totalprice - 100000.0) AS dist_100k,
        |  concat_ws('-', o_orderstatus, o_orderpriority) AS tag
        |FROM orders WHERE o_orderkey % 100 = 0 ORDER BY o_orderkey""".stripMargin),

    // Semi/anti joins (EXISTS / NOT EXISTS).
    QueryDef("a6_semi_anti", (s, dir) => {
      val c = Tables.load(s, dir, "customer")
      val o = Tables.load(s, dir, "orders")
      val withOrders = c.join(o, col("c_custkey") === col("o_custkey"), "left_semi")
        .agg(count(lit(1)).as("n")).select(lit("with_orders").as("kind"), col("n"))
      val withoutOrders = c.join(o, col("c_custkey") === col("o_custkey"), "left_anti")
        .agg(count(lit(1)).as("n")).select(lit("without_orders").as("kind"), col("n"))
      withOrders.union(withoutOrders).orderBy(col("kind"))
    },
      """SELECT 'with_orders' AS kind, COUNT(*) AS n FROM customer
        |  WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |UNION ALL
        |SELECT 'without_orders' AS kind, COUNT(*) AS n FROM customer
        |  WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |ORDER BY kind""".stripMargin),

    // Multiset set-ops: EXCEPT ALL / INTERSECT ALL keep duplicates.
    // Formulated as ONE shuffle: per-key multiset cardinalities in both
    // sides from a single fact scan, then the multiset identities
    // |A∖B| = max(ca−cb, 0) and |A∩B| = min(ca, cb) — the operator-level
    // exceptAll/intersectAll chain (4 wide shuffles through Spark's
    // replicate-rows rewrite) is retained in QueryEquivalenceSpec as the
    // executable spec this plan must match.
    QueryDef("a10_setops_all", (s, dir) => {
      val li = Tables.load(s, dir, "lineitem")
      li.select(col("l_orderkey"),
          when(col("l_quantity") >= 25, 1L).otherwise(0L).as("ina"),
          when(col("l_returnflag") === "R", 1L).otherwise(0L).as("inb"))
        .groupBy(col("l_orderkey"))
        .agg(sum(col("ina")).as("ca"), sum(col("inb")).as("cb"))
        .filter(col("ca") > 0)
        .select(col("l_orderkey"),
          (greatest(col("ca") - col("cb"), lit(0L)) - least(col("ca"), col("cb"))).as("net"))
        .orderBy(col("l_orderkey"))
    },
      """WITH a AS (SELECT l_orderkey FROM lineitem WHERE l_quantity >= 25),
        |b AS (SELECT l_orderkey FROM lineitem WHERE l_returnflag = 'R'),
        |x AS (SELECT l_orderkey, COUNT(*) AS n FROM (SELECT * FROM a EXCEPT ALL SELECT * FROM b) GROUP BY 1
        |      UNION ALL
        |      SELECT l_orderkey, -COUNT(*) AS n FROM (SELECT * FROM a INTERSECT ALL SELECT * FROM b) GROUP BY 1)
        |SELECT l_orderkey, CAST(SUM(n) AS BIGINT) AS net FROM x GROUP BY l_orderkey ORDER BY l_orderkey""".stripMargin),

    // Frame-value window functions: first/last value + percent_rank.
    QueryDef("a11_frame_values", (s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("o_custkey")).orderBy(col("o_totalprice"), col("o_orderkey"))
      val wFull = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      Tables.load(s, dir, "orders")
        .filter(col("o_custkey") <= 30)
        .select(col("o_custkey"), col("o_orderkey"),
          first(col("o_orderkey")).over(wFull).as("cheapest_order"),
          last(col("o_orderkey")).over(wFull).as("priciest_order"),
          percent_rank().over(w).as("pr"))
        .orderBy(col("o_custkey"), col("o_orderkey"))
    },
      """SELECT o_custkey, o_orderkey,
        |  first_value(o_orderkey) OVER wf AS cheapest_order,
        |  last_value(o_orderkey) OVER wf AS priciest_order,
        |  percent_rank() OVER w AS pr
        |FROM orders WHERE o_custkey <= 30
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice, o_orderkey),
        |  wf AS (PARTITION BY o_custkey ORDER BY o_totalprice, o_orderkey
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
        |ORDER BY o_custkey, o_orderkey""".stripMargin),

    // Navigation window functions: lag/lead/ntile over a total order.
    QueryDef("a8_lag_lead", (s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("o_custkey")).orderBy(col("o_orderdate"), col("o_orderkey"))
      Tables.load(s, dir, "orders")
        .filter(col("o_custkey") <= 30)
        .select(col("o_custkey"), col("o_orderkey"),
          lag(col("o_orderkey"), 1).over(w).as("prev_order"),
          lead(col("o_orderkey"), 1).over(w).as("next_order"),
          ntile(4).over(w).as("quartile"))
        .orderBy(col("o_custkey"), col("o_orderkey"))
    },
      """SELECT o_custkey, o_orderkey,
        |  lag(o_orderkey, 1) OVER w AS prev_order,
        |  lead(o_orderkey, 1) OVER w AS next_order,
        |  CAST(ntile(4) OVER w AS INT) AS quartile
        |FROM orders WHERE o_custkey <= 30
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
        |ORDER BY o_custkey, o_orderkey""".stripMargin),

    // Ordered array aggregation (collect_set → deterministic via sort).
    QueryDef("a9_array_agg", (s, dir) => {
      Tables.load(s, dir, "events")
        .groupBy(col("user_id"))
        .agg(concat_ws(",", array_sort(collect_set(col("event_type")))).as("types"),
          count(lit(1)).as("n"))
        .orderBy(col("user_id"))
    },
      """SELECT user_id,
        |  array_to_string(list_sort(list(DISTINCT event_type)), ',') AS types,
        |  COUNT(*) AS n
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin),

    // Pivot: event counts per user × event_type (dynamic→wide schema).
    QueryDef("a7_pivot", (s, dir) => {
      Tables.load(s, dir, "events")
        .groupBy(col("user_id"))
        .pivot(col("event_type"), Seq("click", "error", "purchase", "signup", "view"))
        .agg(count(lit(1)))
        .na.fill(0L)
        .orderBy(col("user_id"))
    },
      """SELECT user_id,
        |  COUNT(*) FILTER (event_type = 'click') AS click,
        |  COUNT(*) FILTER (event_type = 'error') AS error,
        |  COUNT(*) FILTER (event_type = 'purchase') AS purchase,
        |  COUNT(*) FILTER (event_type = 'signup') AS signup,
        |  COUNT(*) FILTER (event_type = 'view') AS view
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin)
  )
}

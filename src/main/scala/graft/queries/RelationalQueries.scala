package graft.queries

import graft.Tables
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType}

/** Relational operator coverage (SURVEY.md §2.5): the reference exposes no
  * relational algebra beyond per-event callbacks; capability-parity comes
  * from Spark's Dataset operators, surfaced here as concrete queries the
  * driver verifies against a DuckDB oracle.
  *
  * Numeric discipline (oracle parity at any parallelism): SUMs over double
  * columns cast to DECIMAL(18,2) first — decimal addition is exact and
  * associative, so Spark's partial-aggregation order (map-side combine,
  * AQE re-planned shuffles) cannot change the result. Intermediates are
  * NEVER rounded (Spark rounds HALF_UP, DuckDB HALF_EVEN — rounding a
  * product to scale 2 diverges on exact half-cents); only the final
  * aggregate is cast, to DOUBLE, which is IEEE round-to-nearest on the
  * exact decimal in both engines.
  */
object RelationalQueries {
  private val d = DecimalType(18, 2)
  private def dec(c: String) = col(c).cast(d)
  /** revenue term: exact decimal, full scale kept */
  private def disc(price: String, discount: String) =
    dec(price) * (lit(1).cast(d) - dec(discount))

  def defs: Seq[QueryDef] = Seq(
    // Full-scan aggregate with map-side partial agg; mirrors TPC-H Q1.
    QueryDef("q1_agg", (s, dir) => {
      Tables.load(s, dir, "lineitem")
        .filter(col("l_shipdate") <= to_timestamp(lit("1998-09-01")))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(dec("l_quantity")).cast(DoubleType).as("sum_qty"),
          sum(dec("l_extendedprice")).cast(DoubleType).as("sum_base_price"),
          sum(disc("l_extendedprice", "l_discount")).cast(DoubleType).as("sum_disc_price"),
          count(lit(1)).as("count_order"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    },
      """SELECT l_returnflag, l_linestatus,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
        |  COUNT(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-09-01'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin),

    // Filter + projection — predicate and column pruning reach the scan.
    QueryDef("q2_filter_project", (s, dir) => {
      Tables.load(s, dir, "lineitem")
        .filter(col("l_quantity") > lit(45.0) && col("l_returnflag") === lit("R"))
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity").as("qty"))
        .orderBy(col("l_orderkey"), col("l_linenumber"))
    },
      """SELECT l_orderkey, l_linenumber, l_quantity AS qty
        |FROM lineitem
        |WHERE l_quantity > 45.0 AND l_returnflag = 'R'
        |ORDER BY l_orderkey, l_linenumber""".stripMargin),

    // 3-way join: fact-to-dim joins broadcast (dims stay small even at
    // 100 TB fact scale); orders-lineitem shuffles on the join key once.
    QueryDef("q3_join", (s, dir) => {
      val li = Tables.load(s, dir, "lineitem")
      val o = Tables.load(s, dir, "orders")
      val c = Tables.load(s, dir, "customer")
      val n = Tables.load(s, dir, "nation")
      li.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(c), col("o_custkey") === col("c_custkey"))
        .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(
          sum(disc("l_extendedprice", "l_discount")).cast(DoubleType).as("revenue"),
          count(lit(1)).as("n_items"))
        .orderBy(col("n_name"))
    },
      """SELECT n_name,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
        |  COUNT(*) AS n_items
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY n_name
        |ORDER BY n_name""".stripMargin),

    // Top-k with full tie-break ordering → deterministic.
    QueryDef("q4_topk", (s, dir) => {
      Tables.load(s, dir, "orders")
        .select(col("o_orderkey"), col("o_totalprice"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(10)
    },
      """SELECT o_orderkey, o_totalprice
        |FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey
        |LIMIT 10""".stripMargin),

    // TPC-H Q5 shape: 5-way star join, date-filtered, revenue per nation.
    // All dims broadcast; the lineitem-orders edge is the one real shuffle.
    QueryDef("q5_star_join", (s, dir) => {
      val li = Tables.load(s, dir, "lineitem")
      val o = Tables.load(s, dir, "orders")
        .filter(col("o_orderdate") >= to_timestamp(lit("1996-01-01")) &&
          col("o_orderdate") < to_timestamp(lit("1997-01-01")))
      val c = Tables.load(s, dir, "customer")
      val n = Tables.load(s, dir, "nation")
      val r = Tables.load(s, dir, "region")
      li.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(c), col("o_custkey") === col("c_custkey"))
        .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name"), col("n_name"))
        .agg(sum(disc("l_extendedprice", "l_discount")).cast(DoubleType).as("revenue"))
        .orderBy(col("r_name"), col("n_name"))
    },
      """SELECT r_name, n_name,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1997-01-01'
        |GROUP BY r_name, n_name
        |ORDER BY r_name, n_name""".stripMargin),

    // TPC-H Q18 shape: HAVING via post-aggregation filter, then join
    // back to the order for reporting columns.
    QueryDef("q7_big_orders", (s, dir) => {
      val li = Tables.load(s, dir, "lineitem")
      val o = Tables.load(s, dir, "orders")
      val big = li.groupBy(col("l_orderkey"))
        .agg(sum(dec("l_quantity")).cast(DoubleType).as("total_qty"))
        .filter(col("total_qty") > 150.0)
      big.join(o, col("l_orderkey") === col("o_orderkey"))
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"), col("total_qty"))
        .orderBy(col("total_qty").desc, col("o_orderkey"))
    },
      """SELECT o_orderkey, o_custkey, o_totalprice, total_qty FROM (
        |  SELECT l_orderkey, CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS total_qty
        |  FROM lineitem GROUP BY l_orderkey HAVING total_qty > 150.0) t
        |JOIN orders ON l_orderkey = o_orderkey
        |ORDER BY total_qty DESC, o_orderkey""".stripMargin),

    // TPC-H Q10 shape: returned-item revenue per customer, top 20.
    QueryDef("q8_returns_report", (s, dir) => {
      val li = Tables.load(s, dir, "lineitem").filter(col("l_returnflag") === "R")
      val o = Tables.load(s, dir, "orders")
      val c = Tables.load(s, dir, "customer")
      val n = Tables.load(s, dir, "nation")
      li.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(c), col("o_custkey") === col("c_custkey"))
        .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("c_custkey"), col("c_name"), col("n_name"))
        .agg(sum(disc("l_extendedprice", "l_discount")).cast(DoubleType).as("revenue"))
        .orderBy(col("revenue").desc, col("c_custkey"))
        .limit(20)
    },
      """SELECT c_custkey, c_name, n_name,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |WHERE l_returnflag = 'R'
        |GROUP BY c_custkey, c_name, n_name
        |ORDER BY revenue DESC, c_custkey
        |LIMIT 20""".stripMargin),

    // TPC-H Q6 shape: tight scan-filter-sum (pushdown showcase).
    QueryDef("q6_scan_agg", (s, dir) => {
      Tables.load(s, dir, "lineitem")
        .filter(col("l_shipdate") >= to_timestamp(lit("1996-01-01")) &&
          col("l_shipdate") < to_timestamp(lit("1997-01-01")) &&
          col("l_discount") >= 0.02 && col("l_discount") <= 0.04 &&
          col("l_quantity") < 25)
        .agg(sum((dec("l_extendedprice") * dec("l_discount"))).cast(DoubleType).as("revenue"),
          count(lit(1)).as("n"))
    },
      """SELECT
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
        |  COUNT(*) AS n
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
        |  AND l_discount >= 0.02 AND l_discount <= 0.04 AND l_quantity < 25""".stripMargin)
  )
}

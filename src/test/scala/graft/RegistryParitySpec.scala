package graft

import graft.queries.QueryDef
import org.scalatest.funsuite.AnyFunSuite

/** Every registered query is graded against an oracle, under its own
  * name: a repeated name would silently drop a query from the DuckDB
  * compare. */
class RegistryParitySpec extends AnyFunSuite {

  test("queries and oracleSql name the same 190 queries") {
    val q = SparkEntry.queries.keySet
    val o = SparkEntry.oracleSql.keySet
    assert(q -- o == Set.empty, "queries without an oracle")
    assert(o -- q == Set.empty, "oracles without a query")
    assert(q.size == 190)
  }

  test("the registry holds 190 QueryDefs under distinct names and rejects a repeated one") {
    val names = SparkEntry.defs.map(_.name)
    assert(names.size == 190)
    assert(names.distinct.size == 190, "a name is defined twice")
    val d = SparkEntry.defs.head
    intercept[IllegalArgumentException](QueryDef.distinct(Seq(d, d)))
  }

  test("every oracle is a non-blank SELECT or WITH with no unfilled interpolation") {
    SparkEntry.oracleSql.foreach { case (name, sql) =>
      // a set operation may open with its parenthesized first operand
      val head = sql.trim.dropWhile(_ == '(').takeWhile(!_.isWhitespace).toUpperCase
      assert(head == "SELECT" || head == "WITH", s"$name starts with '$head'")
      assert(!sql.contains("${"), s"$name holds a leftover $${")
    }
  }
}

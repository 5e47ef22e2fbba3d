package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.queries.{NoOracle, Oracle, Query}

/** The query registry: every battery query is one `Query(name, plan,
  * check)` declaration, and `queries`, `oracleSql` and `noOracleReason`
  * are derived from those declarations. Needs no Spark session — plans
  * are only built, never run.
  */
class QueryRegistrySpec extends AnyFunSuite {

  test("the battery declares 361 queries under unique names") {
    val names = SparkEntry.battery.map(_.name)
    assert(names.size === 361)
    assert(names.distinct.size === 361)
    assert(SparkEntry.queries.size === 361)
  }

  test("354 queries carry an oracle twin and 7 a no-oracle reason") {
    assert(SparkEntry.oracleSql.size === 354)
    assert(SparkEntry.noOracleReason.size === 7)
    assert(SparkEntry.oracleSql.values.forall(_.trim.nonEmpty))
    assert(SparkEntry.noOracleReason.values.forall(_.trim.nonEmpty))
  }

  test("every query has exactly one check: oracle twin or reason") {
    val o = SparkEntry.oracleSql.keySet
    val r = SparkEntry.noOracleReason.keySet
    assert(SparkEntry.queries.keySet === o ++ r)
    assert(o.intersect(r).isEmpty)
  }

  test("declaring a name twice fails and names the duplicate") {
    val plan = SparkEntry.queries("scan_parquet")
    val qs = Seq(Query("a", plan, Oracle("SELECT 1")),
      Query("b", plan, NoOracle("why")),
      Query("a", plan, NoOracle("again")))
    val e = intercept[IllegalArgumentException](Query.distinct(qs))
    assert(e.getMessage.contains("query declared twice: a"))
    assert(Query.distinct(qs.take(2)) === qs.take(2))
  }
}

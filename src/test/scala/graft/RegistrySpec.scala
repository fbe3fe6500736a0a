package graft

import org.scalatest.funsuite.AnyFunSuite

/** Registry invariants, checked without a Spark action: every query
  * carries its oracle (check.py iterates the oracle keys, so a query
  * without one would run and never be compared). */
class RegistrySpec extends AnyFunSuite {

  test("queries and oracleSql have the same keys") {
    val q = SparkEntry.queries.keySet
    val o = SparkEntry.oracleSql.keySet
    assert(q -- o == Set.empty, "queries without an oracle")
    assert(o -- q == Set.empty, "oracles without a query")
  }

  test("benchExclude names only registered queries") {
    assert(SparkEntry.benchExclude -- SparkEntry.queries.keySet == Set.empty)
  }
}

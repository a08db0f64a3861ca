package graft

import org.scalatest.funsuite.AnyFunSuite

/** The query registry and its oracle map name the same queries. Builds no
  * DataFrames: only the two maps' keys are compared. */
class RegistrySpec extends AnyFunSuite {

  test("every registered query has exactly one oracle entry and vice versa") {
    val queries = SparkEntry.queries.keySet
    val oracles = SparkEntry.oracleSql.keySet
    assert((queries -- oracles).isEmpty, "queries without an oracle entry")
    assert((oracles -- queries).isEmpty, "oracle entries without a query")
    assert(queries.size == 254)
  }
}

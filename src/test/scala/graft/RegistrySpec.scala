package graft

import org.scalatest.funsuite.AnyFunSuite

/** The query registry and its DuckDB oracles name the same 113 queries.
  * The per-kernel gates are generated from table rows and joined with
  * `++`, which keeps one value when a name is emitted twice: the count
  * then drops below 113.
  */
class RegistrySpec extends AnyFunSuite {
  test("queries and oracleSql hold the same 113 names") {
    assert(SparkEntry.queries.keySet == SparkEntry.oracleSql.keySet)
    assert(SparkEntry.queries.size == 113)
  }
}

package graft

import org.scalatest.funsuite.AnyFunSuite

/** The correctness contract's registry: every oracle names a registered
  * query, every registered query but the two sketches has one, and no
  * oracle is empty. Building the statements needs no Spark session. */
class OracleRegistrySpec extends AnyFunSuite {

  private val queries = SparkEntry.queries.keySet
  private val oracles = SparkEntry.oracleSql

  test("every oracle names a registered query") {
    assert(oracles.keySet -- queries == Set.empty)
  }

  test("only the sketch queries have no oracle") {
    assert(queries -- oracles.keySet == Set("approx_users", "data_profile_approx"))
  }

  test("every oracle statement is non-empty") {
    assert(oracles.collect { case (name, sql) if sql.trim.isEmpty => name }.isEmpty)
  }
}

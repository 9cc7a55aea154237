package graft

import org.scalatest.funsuite.AnyFunSuite

/** The correctness dump's oracle SQL: every catalog query by default, and
  * under SPARK_GRAFT_VERIFY_ONLY exactly the selected ones.
  */
class VerifySpec extends AnyFunSuite {

  private def keys(json: String): Set[String] =
    SparkEntry.oracleSql.keySet.filter(k => json.contains(Harness.str(k) + ":")).toSet

  test("oracle_sql.json covers the whole catalog when no subset is selected") {
    assert(SparkEntry.oracleSql.keySet == SparkEntry.queries.keySet)
    assert(keys(Verify.oracleJson(None)) == SparkEntry.queries.keySet)
  }

  test("a subset run writes only the selected queries' oracle SQL") {
    val picked = SparkEntry.queries.keySet.toSeq.sorted.take(2).toSet
    val json = Verify.oracleJson(Some(picked))
    assert(keys(json) == picked)
    assert(json.startsWith("{") && json.endsWith("}"))
  }
}

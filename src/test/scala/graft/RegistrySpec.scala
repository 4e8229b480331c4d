package graft

import org.scalatest.funsuite.AnyFunSuite

/** The query registry: names are unique and the public maps are views of
  * it. That each entry's `needs` matches the artifacts its plan fetches is
  * checked over real tables in PlanPropertiesSpec.
  */
class RegistrySpec extends AnyFunSuite {

  test("uniqueMap rejects a duplicated name instead of letting it shadow the first") {
    val e = intercept[IllegalArgumentException](
      SparkEntry.uniqueMap(Seq("q_a" -> 1, "q_b" -> 2, "q_a" -> 3)))
    assert(e.getMessage.contains("q_a") && !e.getMessage.contains("q_b"), e.getMessage)
    assert(SparkEntry.uniqueMap(Seq("q_a" -> 1, "q_b" -> 2)) == Map("q_a" -> 1, "q_b" -> 2))
  }

  test("queries and oracleSql are views of the one registry") {
    assert(SparkEntry.queries.keySet == SparkEntry.registry.map(_.name).toSet)
    assert(SparkEntry.oracleSql.keySet ==
      SparkEntry.registry.filter(_.oracle.nonEmpty).map(_.name).toSet)
  }
}

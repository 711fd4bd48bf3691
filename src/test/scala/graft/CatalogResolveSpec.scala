package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins the rules of [[SparkEntry.resolve]], the one catalog-name resolver
  * behind every `Probe` arm that takes a query name.
  */
class CatalogResolveSpec extends AnyFunSuite {

  test("an exact key resolves to itself") {
    assert(SparkEntry.resolve("q10_json_props")._1 === "q10_json_props")
    assert(SparkEntry.resolve("q101_dedup_decision")._1 === "q101_dedup_decision")
  }

  test("a qNN prefix takes its own query over longer numbers " +
      "(q10 is q10_json_props although q100/q101 share the prefix)") {
    assert(SparkEntry.queries.keys.count(_.startsWith("q10")) > 1)
    assert(SparkEntry.resolve("q10")._1 === "q10_json_props")
    assert(SparkEntry.resolve("q44")._1 === "q44_nn_dedup")
  }

  test("a unique prefix resolves; an ambiguous or unknown one fails loud") {
    assert(SparkEntry.resolve("q10_json")._1 === "q10_json_props")
    val amb = intercept[IllegalArgumentException](SparkEntry.resolve("q1"))
    assert(amb.getMessage.contains("ambiguous prefix q1") &&
      amb.getMessage.contains("q10_json_props"), amb.getMessage)
    val none = intercept[IllegalArgumentException](
      SparkEntry.resolve("q999"))
    assert(none.getMessage.contains("no query named q999"), none.getMessage)
  }
}

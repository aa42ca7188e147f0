package graft.tools

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkEntry

/** The argument and query-name parsers every graft main shares run before
  * any session is built, so they are tested without one.
  */
class InspectSpec extends AnyFunSuite {
  private val dir = System.getProperty("java.io.tmpdir")

  test("Inspect rejects a bad mode, an unknown query and a trial count below 1") {
    def rejected(args: String*) =
      intercept[IllegalArgumentException](Inspect.parseArgs(args, Map.empty)).getMessage
    assert(rejected("explain", "q132_pagerank", dir).contains("mode must be time or plans"))
    assert(rejected("time", "q132_pagerank,q132_pagernk", dir)
      .contains("unknown queries: q132_pagernk"))
    assert(rejected("time", "q132_pagerank", dir, "0").contains("trials must be >= 1"))
    assert(rejected("time", "q132_pagerank", dir, "x").contains("must be an integer"))
    assert(rejected("time").contains("usage"))
  }

  test("Inspect takes the sf dir from SPARK_GRAFT_SF_DIR and 3 trials by default") {
    val a = Inspect.parseArgs(Seq("plans", " q132_pagerank, q228_kcore "),
      Map("SPARK_GRAFT_SF_DIR" -> dir))
    assert(a === Inspect.Args("plans", Seq("q132_pagerank", "q228_kcore"), dir, 3))
    assert(Inspect.parseArgs(Seq("time", "q228_kcore", dir, "5"), Map.empty).trials === 5)
  }

  test("a blank SPARK_GRAFT_ONLY selects every query, as an unset one does") {
    assert(SparkEntry.only(None) === None)
    assert(SparkEntry.only(Some("")) === None)
    assert(SparkEntry.only(Some(" , ")) === None)
  }

  test("the query-name filter keeps the given order and rejects unknown names") {
    assert(SparkEntry.only(Some("q228_kcore,q132_pagerank,q228_kcore")) ===
      Some(Seq("q228_kcore", "q132_pagerank")))
    intercept[IllegalArgumentException](SparkEntry.only(Some("q228_kcor")))
  }
}

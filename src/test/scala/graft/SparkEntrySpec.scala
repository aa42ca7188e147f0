package graft

import graft.ext.ExtQueries
import graft.queries.{EventQueries, ParityQueries, Query}

/** Smoke coverage of the driver contract: flagship entry returns rows, every
  * declared query runs at sf0.001, and the query records form one registry.
  */
class SparkEntrySpec extends SparkSpec {

  test("entry: full unload pipeline end-to-end returns exported rows") {
    val df = SparkEntry.entry(spark)
    assert(df.count() > 0)
    assert(df.columns.contains("user_properties"))
  }

  test("every query runs and returns rows at sf0.001") {
    SparkEntry.queries.foreach { case (name, fn) =>
      val n = fn(spark, Sf0001).count()
      assert(n > 0, s"$name returned no rows")
    }
  }

  test("oracle keys are a subset of query keys") {
    val extra = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(extra.isEmpty, s"oracles without queries: $extra")
  }

  test("query names are unique across the modules and every oracle is non-blank") {
    val records = ParityQueries.records ++ EventQueries.records ++ ExtQueries.records
    val repeated = records.groupBy(_.name).filter(_._2.size > 1).keySet
    assert(repeated.isEmpty, s"query names listed more than once: $repeated")
    assert(SparkEntry.queries.size === records.size)
    val blank = records.filter(_.oracle.trim.isEmpty).map(_.name)
    assert(blank.isEmpty, s"queries with a blank oracle: $blank")
    // the registry rejects a repeated name instead of keeping one of the two
    val dup = records.head.copy(oracle = "SELECT 1")
    intercept[IllegalArgumentException](Query.byName(records :+ dup))
  }

  test("q113 premise: event_type cardinality stays below k, the sketch's exact regime") {
    // q113's GROUP-BY oracle is only valid while approx_top_k(col, k=10)
    // runs in its EXACT regime (distinct values fit the sketch map). Pin
    // the premise so a testdata or query refactor can't silently turn the
    // hash-match into a flaky approximation. Checked at both driver SFs.
    import org.apache.spark.sql.functions.countDistinct
    Seq(Sf0001, "/root/testdata/sf0.01").foreach { sf =>
      val d = graft.queries.Tables.events(spark, sf)
        .agg(countDistinct("event_type")).head().getLong(0)
      assert(d < 10, s"q113 exact-regime premise broken at $sf: $d distinct >= k=10")
    }
  }
}

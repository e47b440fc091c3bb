package graft

import graft.plans.{RewriteTopKWindow, TopKPerKeyPlan, TopKPerKeyStrategy}

/** The session recipe carries graft's extensions: nothing in this spec
  * (or anywhere else) installs them, yet SQL text resolves every native
  * function and window queries plan through TopKPerKey. */
class GraftSessionSpec extends SparkSpec {

  private val sqlByFunction = Map(
    "js_to_number" -> "SELECT js_to_number('12abc')",
    "graft_hex60" -> "SELECT graft_hex60(md5('a'))",
    "graft_hilbert" -> "SELECT graft_hilbert(CAST(3 AS BIGINT), CAST(5 AS BIGINT), 4)",
    "graft_kmv_distinct" -> "SELECT graft_kmv_distinct(id, 16) FROM range(100)",
    "graft_kll_sketch" -> "SELECT graft_kll_sketch(id, 64) FROM range(100)",
    "graft_kll_merge" ->
      "SELECT graft_kll_merge(sk) FROM (SELECT graft_kll_sketch(id, 64) AS sk FROM range(100))",
    "graft_kll_quantile" ->
      "SELECT graft_kll_quantile(graft_kll_sketch(id, 64), 500000L) FROM range(100)",
    "graft_mg_sketch" -> "SELECT graft_mg_sketch(CAST(id % 7 AS STRING), 4) FROM range(100)",
    "graft_mg_merge" -> ("SELECT graft_mg_merge(sk) FROM " +
      "(SELECT graft_mg_sketch(CAST(id % 7 AS STRING), 4) AS sk FROM range(100))"),
    "graft_mg_estimate" ->
      "SELECT graft_mg_estimate(graft_mg_sketch(CAST(id % 7 AS STRING), 4), '3') FROM range(100)",
    "graft_kmv_sketch" -> "SELECT graft_kmv_sketch(id, 16) FROM range(100)",
    "graft_kmv_merge" ->
      "SELECT graft_kmv_merge(sk) FROM (SELECT graft_kmv_sketch(id, 16) AS sk FROM range(100))",
    "graft_kmv_estimate" -> "SELECT graft_kmv_estimate(graft_kmv_sketch(id, 16)) FROM range(100)",
    "graft_lvecsum" -> "SELECT graft_lvecsum(array(id, id * 2)) FROM range(10)")

  test("every native function resolves from SQL text on a built session") {
    assert(sqlByFunction.keySet ==
      graft.functions.GraftExtensions.descriptors.map(_._1.funcName).toSet)
    assert(sqlByFunction.size == 14)
    sqlByFunction.foreach { case (name, sql) =>
      assert(spark.sql(sql).collect().length == 1, name)
    }
  }

  test("q_ulm_greedy plans a TopKPerKeyPlan with no install of its own") {
    val df = SparkEntry.queries("q_ulm_greedy")(spark, sf001)
    assert(df.queryExecution.optimizedPlan.collect { case t: TopKPerKeyPlan => t }.nonEmpty,
      df.queryExecution.optimizedPlan.toString.take(2000))
  }

  test("rebuilding on the live session installs nothing twice") {
    assert(GraftSession.build("4") eq spark)
    assert(spark.experimental.extraOptimizations.count(_ == RewriteTopKWindow) == 1)
    assert(spark.experimental.extraOptimizations.count(
      _ == graft.functions.SimplifyJsToNumber) == 1)
    assert(spark.experimental.extraStrategies.count(_ == TopKPerKeyStrategy) == 1)
  }
}

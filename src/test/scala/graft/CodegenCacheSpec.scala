package graft

/** Spark's generated-class cache must hold a catalog pass: a query set
  * run twice in one session compiles its classes once. perfbench's
  * etl_validate set generates more classes than Spark's default cache
  * of 100 entries, so at the default the second pass recompiles them.
  */
class CodegenCacheSpec extends SparkFunSuite {

  private val etlValidate = Seq("m07_fingerprint_validate",
    "m08_schema_match", "m09_data_diff", "m10_dq_checks",
    "m12_stats_drift", "q01_pricing_summary", "q03_shipping_priority",
    "q27_star_5way", "q39_stats_moments")

  /** Generated classes compiled by one drained pass over the set. */
  private def pass(): Long = {
    val c0 = PlanTelemetry.compiledClasses()
    etlValidate.foreach { name =>
      SparkEntry.queries(name)(spark, sf0001).queryExecution.executedPlan
        .execute().foreachPartition(it => while (it.hasNext) it.next())
    }
    PlanTelemetry.compiledClasses() - c0
  }

  test("the shared session carries the harness codegen cache size") {
    assert(spark.conf.get(SessionDefaults.CodegenCacheConf) ==
      SessionDefaults.CodegenCacheEntries.toString)
  }

  test("a second pass over etl_validate compiles no generated class") {
    pass()
    assert(pass() == 0L)
  }
}

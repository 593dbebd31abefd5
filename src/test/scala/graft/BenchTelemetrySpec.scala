package graft

/** Plumbing gate for the bench artifact's plan telemetry (PlanTelemetry):
  * fingerprints must be STABLE across separate executions of the same
  * query (else every round cries plan-change) and SENSITIVE to actual
  * plan differences (else they certify nothing), and the shuffle
  * metrics must read non-zero for a shuffle-bearing executed plan.
  */
class BenchTelemetrySpec extends SparkFunSuite {

  private def executedStats(name: String): PlanTelemetry.Stats = {
    val qe = SparkEntry.queries(name)(spark, sf0001).queryExecution
    qe.executedPlan.execute()
      .foreachPartition(it => while (it.hasNext) it.next())
    PlanTelemetry.stats(qe)
  }

  test("fingerprint is stable across executions and exprId drift, " +
      "and differs between different plans") {
    val before = spark.conf.getOption("spark.sql.maxMetadataStringLength")
    spark.conf.set("spark.sql.maxMetadataStringLength", 100000)
    try {
      val a = executedStats("q01_pricing_summary")
      // burn expression ids + lambda-variable counters between the two
      // executions (the run-over-run drift the normalizer must absorb —
      // d08's transform/aggregate lambdas advance the global counter)
      executedStats("d08_posting_jaccard")
      val b = executedStats("q01_pricing_summary")
      assert(a.fingerprint == b.fingerprint,
        "same query, same session → same fingerprint")
      val other = executedStats("q04_star_broadcast")
      assert(other.fingerprint != a.fingerprint,
        "different plans must not collide")
    } finally {
      before match {
        case Some(v) => spark.conf.set("spark.sql.maxMetadataStringLength", v)
        case None => spark.conf.unset("spark.sql.maxMetadataStringLength")
      }
    }
  }

  test("shuffle metrics are non-zero for an executed shuffle-bearing " +
      "plan and fingerprinting is side-effect-free") {
    val s = executedStats("q01_pricing_summary")
    assert(s.exchanges >= 1, "q01 aggregates lineitem — it shuffles")
    assert(s.shuffleBytes > 0L)
    assert(s.shuffleRecords > 0L)
    // stats() twice on the same execution: identical (reads final
    // accumulators, doesn't re-run or mutate anything)
    val qe = SparkEntry.queries("q01_pricing_summary")(spark, sf0001)
      .queryExecution
    qe.executedPlan.execute()
      .foreachPartition(it => while (it.hasNext) it.next())
    val x = PlanTelemetry.stats(qe)
    val y = PlanTelemetry.stats(qe)
    assert(x == y)
  }

  test("controlDrift: median over fingerprint-identical queries only") {
    val refMins = Map("a" -> 1.0, "b" -> 2.0, "c" -> 4.0, "d" -> 1.0)
    val refFps = Map("a" -> "fpA", "b" -> "fpB", "c" -> "fpC", "d" -> "fpD")
    // a: control at 1.2×; b: control at 1.4×; c: replanned (fp differs —
    // excluded even though slower); d: shuffle_changed (excluded)
    val mins = Map("a" -> 1.2, "b" -> 2.8, "c" -> 12.0, "d" -> 1.1)
    val fps = Map("a" -> "fpA", "b" -> "fpB", "c" -> "OTHER", "d" -> "fpD")
    val got = Bench.controlDrift(mins, fps, refMins, refFps, Set("d"))
    assert(got.isDefined)
    val (median, n) = got.get
    assert(n == 2, "only a and b qualify as controls")
    // two controls: ratios (1.2, 1.4) sorted; size/2 picks the upper
    assert(math.abs(median - 1.4) < 1e-9)
    // no reference fingerprints at all → no stamp (pre-telemetry ref)
    assert(Bench.controlDrift(mins, fps, refMins, Map.empty,
      Set.empty).isEmpty)
    // a query missing from this session's telemetry is not a control
    assert(Bench.controlDrift(Map("a" -> 1.2), Map.empty, refMins, refFps,
      Set.empty).isEmpty)
  }

  test("calibrationStatus: the 1.5x gate at the reference core count, " +
      "not_comparable on another") {
    val ref = Some((0.055, 0.25, Some(32)))
    assert(Bench.calibrationStatus(None, 4, 1.0, 1.0) == "no_reference")
    // at the reference's core count: the unchanged 1.5x rule on each leg
    assert(Bench.calibrationStatus(ref, 32, 0.08, 0.37) == "ok")
    assert(Bench.calibrationStatus(ref, 32, 0.09, 0.2) == "sick")
    assert(Bench.calibrationStatus(ref, 32, 0.05, 0.4) == "sick")
    // another core count: legs run `cpus` partitions, so no verdict
    assert(Bench.calibrationStatus(ref, 4, 0.3, 1.0) == "not_comparable")
    assert(Bench.calibrationStatus(ref, 4, 0.01, 0.01) == "not_comparable")
    // a reference without a core count is judged as before
    val legacy = Some((0.055, 0.25, None))
    assert(Bench.calibrationStatus(legacy, 4, 0.3, 1.0) == "sick")
    assert(Bench.calibrationStatus(legacy, 4, 0.05, 0.2) == "ok")
  }

  test("refComparable: the reference judges a session only at its sf " +
      "and core count") {
    val sf = "/data/tpch/sf0.1"
    assert(Bench.refComparable(sf, 32, "sf0.1", Some(32)))
    // another core count: plans and shuffle bytes differ without a
    // plan change, so no plan_changed / shuffle_changed / drift verdict
    assert(!Bench.refComparable(sf, 4, "sf0.1", Some(32)))
    // another sf
    assert(!Bench.refComparable("/data/tpch/sf0.01", 32, "sf0.1",
      Some(32)))
    // a reference without a core count is judged on the sf alone
    assert(Bench.refComparable(sf, 4, "sf0.1", None))
    assert(!Bench.refComparable("/data/tpch/sf0.01", 4, "sf0.1", None))
  }

  test("norm strips every run-varying token class") {
    // expression ids
    assert(PlanTelemetry.norm("sum(l_quantity#123)") ==
      "sum(l_quantity#x)")
    // lambda-variable names carry a session-global counter in the NAME
    assert(PlanTelemetry.norm("lambda x_14#7 * lambda y_16#9") ==
      PlanTelemetry.norm("lambda x_23#1 * lambda y_25#2"))
    // local-mode application ids (they key per-run scratch paths)
    assert(PlanTelemetry.norm("/tmp/graft-index/d16-local-1755349392") ==
      PlanTelemetry.norm("/tmp/graft-index/d16-local-9999999999"))
    // object identity hashes
    assert(PlanTelemetry.norm("UnsafeArrayData@1a2b3c4d") ==
      PlanTelemetry.norm("UnsafeArrayData@ffee0011"))
    // plan / exchange ids
    assert(PlanTelemetry.norm("ReusedExchange [id=42]") ==
      PlanTelemetry.norm("ReusedExchange [id=7]"))
  }
}

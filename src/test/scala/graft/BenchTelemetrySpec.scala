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

  // Fixed inputs for the canonical line; the expected strings are the
  // output of the string-built formatting this line replaced.
  private val goldenResults = Seq(
    "q01_pricing_summary" -> Seq(1.2344, 1.5, 2.25),
    "s20_hybrid_rrf" -> Seq(0.5, 0.7))
  private def goldenLine(): String = Bench.totalLine(goldenResults, 3,
    Bench.Session(goldenResults, 0.0551, 0.2504, 0.0612, 0.2499,
      preSick = false, 0.0551, 0.2504),
    "ok", Some((1.02345, 17)), sessionRepeated = false, Seq("s20_hybrid_rrf"),
    Some(Seq.empty), Some(Seq("q01_pricing_summary")),
    Seq("x57_eval_decontamination"), "/data/tpch/sf0.1")

  test("totalLine: the canonical line keeps its keys, order and " +
      "3-decimal values") {
    assert(goldenLine() ==
      """{"metric":"total","value":1.734,"unit":"sec","queries":{"q01_pricing_summary":1.234,"s20_hybrid_rrf":0.500},"runs":3,"calibration_sec":{"pre":0.055,"post":0.061},"calibration_shuffle_sec":{"pre":0.250,"post":0.250},"calibration_status":"ok","control_drift":{"median":1.023,"n":17},"session_repeated":false,"flagged_reruns":["s20_hybrid_rrf"],"plan_changed":[],"shuffle_changed":["q01_pricing_summary"],"failed":["x57_eval_decontamination"],"sf":"/data/tpch/sf0.1"}""")
    val one = Seq("q01_pricing_summary" -> Seq(12.0))
    assert(Bench.totalLine(one, 1,
      Bench.Session(one, 0.3, 1.0, 0.2, 0.9, preSick = false, 0.3, 1.0),
      "not_comparable", None, sessionRepeated = true, Seq.empty, None, None,
      Seq.empty, "/data/tpch/sf0.01") ==
      """{"metric":"total","value":12.000,"unit":"sec","queries":{"q01_pricing_summary":12.000},"runs":1,"calibration_sec":{"pre":0.300,"post":0.200},"calibration_shuffle_sec":{"pre":1.000,"post":0.900},"calibration_status":"not_comparable","control_drift":null,"session_repeated":true,"flagged_reruns":[],"plan_changed":null,"shuffle_changed":null,"failed":[],"sf":"/data/tpch/sf0.01"}""")
  }

  test("totalLine is valid JSON under a comma-decimal default locale") {
    val before = java.util.Locale.getDefault
    java.util.Locale.setDefault(java.util.Locale.GERMANY)
    val line =
      try goldenLine()
      finally java.util.Locale.setDefault(before)
    val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(line)
    assert(node.get("value").asText() == "1.734")
    assert(node.get("queries").get("s20_hybrid_rrf").asText() == "0.5")
  }

  test("readReference reads the committed bench_reference.json") {
    val ref = Bench.readReference("bench_reference.json")
      .getOrElse(fail("bench_reference.json did not read"))
    assert(ref.mins.size == 31 && ref.fps.size == 31 &&
      ref.shufBytes.size == 31)
    assert(ref.calCpus.contains(32))
    assert(ref.fps.keySet == ref.mins.keySet &&
      ref.shufBytes.keySet == ref.mins.keySet)
    assert(Bench.readReference("no-such-reference.json").isEmpty)
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

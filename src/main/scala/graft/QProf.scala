package graft

/** Ad-hoc single-query profiler: runMain graft.QProf <name> [sfDir] —
  * times one catalog query in Bench's session ([[SessionDefaults.local]])
  * and prints its formatted physical plan.
  */
object QProf {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val spark = SessionDefaults.local("graft-qprof",
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    val df = SparkEntry.queries(name)(spark, sfDir)
    if (sys.env.contains("QPROF_EXPLAIN")) df.explain("formatted")
    // One timed leg, which returns its label: the seconds, then the
    // generated classes it compiled (read outside the clock; Bench's
    // telemetry `codegen_classes`).
    def leg(run: => String): Unit = {
      val c0 = PlanTelemetry.compiledClasses()
      val t0 = System.nanoTime()
      val label = run
      val sec = (System.nanoTime() - t0) / 1e9
      println(f"QPROF $name $label=$sec%.3f s codegen_classes=" +
        (PlanTelemetry.compiledClasses() - c0))
    }
    leg(s"rows=${df.count()} time")
    leg { df.count(); "second run" }
    // Full-materialization leg: count() lets Catalyst PRUNE computed
    // columns (a projection-shaped query times as a bare row-count
    // scan), so for row-local operators the two legs above measure the
    // scan, not the operator. Draining every row of the executed plan
    // forces codegen to write every output column. (foreachPartition
    // with an empty body would NOT: the per-partition iterator is lazy
    // and an unconsumed iterator computes nothing.)
    leg {
      df.queryExecution.executedPlan.execute()
        .foreachPartition(it => while (it.hasNext) it.next())
      "materialize-all"
    }
    if (sys.env.contains("QPROF_EXPLAIN")) {
      // Execute THIS dataframe's own QueryExecution (count() above spawns
      // a separate one), so the AdaptiveSparkPlan materializes and the
      // print shows the FINAL plan — runtime ReusedExchange / reused
      // shuffle stages only appear here, never in the pre-run explain.
      df.queryExecution.executedPlan.execute().foreachPartition(_ => ())
      println("=== final adaptive plan (post-execution) ===")
      println(df.queryExecution.executedPlan.toString)
    }
    // canonical fingerprint + shuffle stats of the final plan — the
    // same values Bench writes to bench_telemetry.json, so a QProf
    // session can confirm/deny a bench plan_changed flag directly
    val st = PlanTelemetry.stats(df.queryExecution)
    println(s"QPROF $name plan_fp=${st.fingerprint} " +
      s"plan_shuffle_bytes=${st.shuffleBytes} exchanges=${st.exchanges}")
    // QPROF_FP_DUMP=<file>: write the canonical plan text the
    // fingerprint hashes — diffing two dumps names the exact node a
    // bench plan_changed flag is about
    sys.env.get("QPROF_FP_DUMP").foreach { f =>
      java.nio.file.Files.write(java.nio.file.Paths.get(f),
        PlanTelemetry.canonicalText(
          PlanTelemetry.finalPlan(df.queryExecution)).getBytes("UTF-8"))
    }
    spark.stop()
  }
}

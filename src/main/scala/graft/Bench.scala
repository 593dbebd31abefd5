package graft

import org.apache.spark.sql.SparkSession

/** Benchmark main: times the headline queries on SPARK_GRAFT_SF_DIR and
  * prints ONE JSON line {"metric":…,"value":N,"unit":"sec","queries":…}.
  *
  * local[32] with shuffle.partitions=32 (match cores, not 200) and AQE
  * on — the same settings a real cluster run would scale up. A warm-up
  * or timed run that throws posts no time; its query is listed in
  * `failed` (and its error class in the telemetry file), never as a
  * fast min.
  */
object Bench {
  /** Control-query drift: the median of min/reference-min ratios over
    * queries whose plan fingerprint matches the committed reference AND
    * whose listener shuffle volume did not move (the shuffle_changed
    * classifier) — plans provably identical to the reference session's,
    * doing provably identical work. Their collective ratio measures the
    * MACHINE PHASE of this session (the co-tenant host drifts 20-45 %
    * between calibration-ok sessions), so a reader can mechanically
    * separate phase from plan regressions: control_drift 1.3 means a
    * +30 % delta on a REPLANNED query is phase, not the plan. Returns
    * (median ratio, control count); None without a comparable reference
    * or when no query qualifies as a control.
    */
  private[graft] def controlDrift(
      mins: Map[String, Double],
      fps: Map[String, String],
      refMins: Map[String, Double],
      refFps: Map[String, String],
      shuffleChanged: Set[String]): Option[(Double, Int)] = {
    val ratios = mins.keys.toSeq.sorted.collect {
      case name
          if refMins.get(name).exists(_ > 0.0) &&
            refFps.get(name).exists(fp => fps.get(name).contains(fp)) &&
            !shuffleChanged.contains(name) =>
        mins(name) / refMins(name)
    }.sorted
    if (ratios.isEmpty) None else Some((ratios(ratios.size / 2), ratios.size))
  }

  /** The calibration verdict on a session's best (cpu, shuffle) legs
    * against the committed reference `(cpu, shuffle, cores)`. sick =
    * EITHER leg's min(pre, post) >1.5× its committed healthy value (CPU
    * leg catches a loaded machine, shuffle leg catches sick disk/TRIM —
    * r6's failure mode passed the CPU leg alone). min of the two ends,
    * not ANY single reading: on a short BENCH_ONLY run the pre-leg
    * still carries residual JIT cold-start (measured 0.131 vs 0.055
    * healthy even after a discarded warm-up execution), while a
    * genuinely sick session — the thing this flag exists for — reads
    * high at BOTH ends. Both legs run `cpus` partitions, so a session
    * on another core count than the reference's is not_comparable (a
    * 4-core host reads "sick" against the 32-core reference on every
    * run); a reference without a core count is judged as before.
    */
  private[graft] def calibrationStatus(
      ref: Option[(Double, Double, Option[Int])], cpus: Int,
      cpu: Double, shuf: Double): String = ref match {
    case None => "no_reference"
    case Some((_, _, Some(refCpus))) if refCpus != cpus => "not_comparable"
    case Some((cal, calShuf, _)) =>
      if (cpu > 1.5 * cal || shuf > 1.5 * calShuf) "sick" else "ok"
  }

  /** Whether the committed reference can judge this session: it ran at
    * the reference's sf (sf-dir suffix) and core count (the reference's
    * mins, fingerprints and shuffle bytes were recorded at
    * `calibration_cpus` cores with as many shuffle partitions; at 4 a
    * sweep differs from it in 28 of 31 plans with no plan change). A
    * reference without a core count is judged on the sf alone, as
    * [[calibrationStatus]] judges it. Gates the flagged re-runs,
    * `plan_changed`, `shuffle_changed` and `control_drift`.
    */
  private[graft] def refComparable(sfDir: String, cpus: Int,
      refSfSuffix: String, refCpus: Option[Int]): Boolean =
    sfDir.endsWith(refSfSuffix) && refCpus.forall(_ == cpus)

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    // round 17: AQE + SHJ-threshold confs come from SessionDefaults —
    // one definition shared with QProf AND Verify/library sessions, so
    // the benched plan is the shipped plan (r16 verdict item 5).
    val spark = SessionDefaults.tuned(SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-bench")
      .config("spark.sql.shuffle.partitions", cpus))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // test tables are single parquet files; the default 128 MB split
      // size would scan each on ONE core. 2 MB splits spread the scan
      // across the local threads — the local-mode analogue of sizing
      // maxPartitionBytes to the cluster's core count.
      .config("spark.sql.files.maxPartitionBytes", "2m")
      .config("spark.sql.files.openCostInBytes", "256k")
      // scan-metadata strings (DataFilters/Location) are CHAR-truncated
      // at 100 by default, and expression-id digit width shifts the cut
      // point run-over-run — the plan fingerprint needs the full string
      // so its id normalization can make runs identical
      .config("spark.sql.maxMetadataStringLength", "100000")
      // shuffle/spill files on tmpfs: /tmp is ext4 mounted with
      // `discard`, so the constant create/delete of shuffle blocks
      // across 16 queries × 4 executions triggers synchronous TRIM
      // storms that stall tail queries by 3-6× (measured). RAM is 128 G
      // and local-mode shuffles here are ≪1 G — tmpfs is the honest
      // local analogue of a cluster's NVMe shuffle volumes. Unique
      // per-run subdir + stale sweep: see LocalDirs.
      .config("spark.local.dir", LocalDirs.scratch())
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // optional comma-separated filter for local bisection of bench
    // anomalies; the driver sets no filter → full bench list. The
    // filter selects from the WHOLE catalog (not just bench-flagged
    // queries) so any query can be timed end-to-end — QProf's
    // construct-then-time split excludes eager work (localCheckpoint
    // rounds, driver-side codebook collects), this timer doesn't.
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY").map(_.split(',').toSet)
    val names = only match {
      case Some(sel) => SparkEntry.queries.keys.toSeq.filter(sel).sorted
      case None => SparkEntry.benchQueries
    }
    val qmap = SparkEntry.queries
    // Warm-up: run every bench query once at the smallest scale factor
    // to absorb JVM startup + whole-stage-codegen (Janino) compilation —
    // generated classes are cached by source, so the timed runs below
    // measure execution at the target sf, not compiler cold-start.
    val warmDir = sys.env.getOrElse("SPARK_GRAFT_WARM_DIR",
      "/root/testdata/sf0.001")
    // A run that throws posts NO time (a failed query must not read as a
    // fast one): its query lands in `failed` with the first error class
    // seen — warm-up or timed run — and its min is over the timed runs
    // that completed, if any.
    val failures = scala.collection.mutable.Map[String, String]()
    names.foreach { name =>
      try qmap(name)(spark, warmDir).count()
      catch {
        case scala.util.control.NonFatal(e) =>
          failures.getOrElseUpdate(name, e.getClass.getName)
      }
    }
    // Calibration microbenchmark: a fixed-size in-memory aggregation —
    // no I/O, no dependence on sfDir or the query set — timed at session
    // start and end. A healthy session posts ~constant values round over
    // round (~0.1 s here), so a sick driver environment (round 5: med ≫
    // min on every query, 2232 s wall for 60 s of query time) is
    // classifiable from the BENCH artifact alone: plans regress in the
    // query mins, a poisoned machine regresses the calibration number.
    // Both legs discard one untimed warm-up execution: on a short
    // BENCH_ONLY run the JVM reaches the pre-leg with the calibration
    // codegen still cold, and JIT time read as machine sickness
    // (measured: CPU pre-leg 0.131 after 2 warm queries vs 0.055 after
    // the full list — a 2.4× false positive against the reference).
    def calibrate(): Double = {
      def once(): Double = {
        val t0 = System.nanoTime()
        spark.range(0L, 20000000L, 1, cpus.toInt)
          .selectExpr("sum(id * 3 % 7) AS s").collect()
        (System.nanoTime() - t0) / 1e9
      }
      once()
      (1 to 3).map(_ => once()).min
    }
    // Shuffle leg of the calibration: the CPU-only microbench above
    // declared the r6 driver session healthy while shuffle-heavy
    // queries ran 2-5× slower than judge re-runs — it never touched
    // spark.local.dir. This one forces a real exchange (1M rows,
    // 100k keys) through the same shuffle volume, so sick disk/TRIM
    // shows up in the artifact even when raw CPU is fine.
    def calibrateShuffle(): Double = {
      def once(): Double = {
        val t0 = System.nanoTime()
        spark.range(0L, 1000000L, 1, cpus.toInt)
          .selectExpr("id % 100000 AS k", "id AS v")
          .groupBy("k")
          .agg(org.apache.spark.sql.functions.sum("v").as("s"))
          .selectExpr("sum(s) AS t").collect()
        (System.nanoTime() - t0) / 1e9
      }
      once()
      (1 to 3).map(_ => once()).min
    }
    // Committed healthy-session reference (bench_reference.json): the
    // r6/r7 rounds each burned review time adjudicating driver-session
    // noise (shuffle-leg 0.443 vs a healthy 0.250 on identical
    // hardware) because the artifact carried the calibration numbers
    // but nothing JUDGED them. Comparing both calibration legs to
    // stored healthy values lets the artifact classify itself:
    // calibration_status=sick means round-over-round query deltas are
    // session noise, not plan regressions. Query-level reference mins
    // (recorded at sf0.1, the driver's bench sf) additionally select
    // which queries get a confirmation re-run below.
    case class BenchRef(cal: Double, calShuf: Double, calCpus: Option[Int],
        sfSuffix: String, mins: Map[String, Double],
        fps: Map[String, String], shufBytes: Map[String, Long])
    val refPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_REF",
      "bench_reference.json")
    val ref: Option[BenchRef] = try {
      val f = new java.io.File(refPath)
      if (!f.isFile) None
      else {
        val node = new com.fasterxml.jackson.databind.ObjectMapper()
          .readTree(f)
        val mins = scala.collection.mutable.Map[String, Double]()
        val it = node.get("queries").fields()
        while (it.hasNext) {
          val e = it.next(); mins(e.getKey) = e.getValue.asDouble()
        }
        // plan fingerprints + shuffle bytes of the committed healthy
        // session (optional nodes — absent on a pre-telemetry file)
        val fps = scala.collection.mutable.Map[String, String]()
        if (node.has("plan_fp")) {
          val fit = node.get("plan_fp").fields()
          while (fit.hasNext) {
            val e = fit.next(); fps(e.getKey) = e.getValue.asText()
          }
        }
        val sbm = scala.collection.mutable.Map[String, Long]()
        if (node.has("shuffle_bytes")) {
          val sit = node.get("shuffle_bytes").fields()
          while (sit.hasNext) {
            val e = sit.next(); sbm(e.getKey) = e.getValue.asLong()
          }
        }
        Some(BenchRef(node.get("calibration_sec").asDouble(),
          node.get("calibration_shuffle_sec").asDouble(),
          Option(node.get("calibration_cpus")).map(_.asInt()),
          node.get("sf_suffix").asText(), mins.toMap, fps.toMap,
          sbm.toMap))
      }
    } catch { case _: Throwable => None }
    def statusOf(cpu: Double, shuf: Double): String = calibrationStatus(
      ref.map(r => (r.cal, r.calShuf, r.calCpus)), cpus.toInt, cpu, shuf)
    val comparable = ref.exists(r =>
      refComparable(sfDir, cpus.toInt, r.sfSuffix, r.calCpus))
    // Sick-session auto-recovery: rounds 9 and 10 BOTH shipped
    // calibration_status=sick artifacts — the driver VM was uniformly
    // 1.4-1.6× slow at session start and every round-over-round query
    // delta arrived noise-dominated. When the PRE leg reads sick
    // against the committed healthy reference, cool down once
    // (bounded: SPARK_GRAFT_CAL_COOLDOWN_SEC, default 60 s — long
    // enough for a transient co-tenant burst or TRIM storm to drain)
    // and re-measure; keep the best of the two attempts and stamp the
    // retry in the artifact so a still-sick session is EXPLICITLY
    // double-flagged rather than silently noisy.
    val cooldownSec =
      sys.env.getOrElse("SPARK_GRAFT_CAL_COOLDOWN_SEC", "60").toInt
    // 3 timed runs per query; the MIN is the headline (the stable
    // estimate of the plan's actual cost), and min/median/max ride
    // along in "spread" so a round-over-round blip is classifiable
    // from the artifact alone: plans regress in the min, machine load
    // shows as a fat max over an unchanged min.
    val runs = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "3").toInt
    // Per-query plan telemetry from the LAST successful execution:
    // canonical fingerprint of the final adaptive plan + the shuffle
    // bytes/records it wrote (PlanTelemetry — computed OUTSIDE the
    // timed region, from the already-final metric accumulators). A
    // round-over-round slow min now classifies itself: fingerprint and
    // shuffle bytes unchanged ⇒ session noise; changed ⇒ a real plan
    // change to go read.
    val telemetry =
      scala.collection.mutable.Map[String, PlanTelemetry.Stats]()
    // Session-level shuffle counter (SparkListener): the plan-level
    // metrics above only see the RETURNED dataframe's final plan — a
    // query that localCheckpoints its iterative rounds (g01) or writes
    // an index during construction (d16) does its real shuffle work in
    // jobs the final plan never shows. The listener counts every stage
    // the timed region ran, so `job_shuffle_bytes` is the complete
    // shuffle volume behind the measured seconds.
    val jobShuffleBytes = new java.util.concurrent.atomic.AtomicLong
    val jobShuffleRecords = new java.util.concurrent.atomic.AtomicLong
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onStageCompleted(
            ev: org.apache.spark.scheduler.SparkListenerStageCompleted)
            : Unit = {
          val m = ev.stageInfo.taskMetrics
          if (m != null) {
            jobShuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
            jobShuffleRecords.addAndGet(
              m.shuffleWriteMetrics.recordsWritten)
          }
        }
      })
    // listener events are async — wait for the counter to go quiet
    // (two stable reads) before snapshotting around a timed run
    def settleListener(): Unit = {
      var prev = -1L
      var same = 0
      var i = 0
      while (same < 2 && i < 100) {
        val v = jobShuffleBytes.get + jobShuffleRecords.get
        if (v == prev) same += 1 else same = 0
        prev = v
        if (same < 2) Thread.sleep(10)
        i += 1
      }
    }
    val jobTelemetry = scala.collection.mutable.Map[String, (Long, Long)]()
    def timeQuery(name: String, n: Int): Seq[Double] =
      (1 to n).flatMap { _ =>
        // queries may persist intermediates (d08): every iteration
        // starts cold so the min measures the plan, not a cache hit
        spark.catalog.clearCache()
        // localCheckpoint blocks are freed only when their RDD is
        // GC'd (ContextCleaner) — without a nudge, late-list queries
        // (the checkpoint-heavy graph set) time against a block
        // manager still holding every dead checkpoint of the session
        // (r8's g01 med 18 s over an unchanged min-5.9 s plan)
        System.gc()
        settleListener()
        val preBytes = jobShuffleBytes.get
        val preRecords = jobShuffleRecords.get
        val t0 = System.nanoTime()
        // Drain every output row instead of count(): count() lets
        // Catalyst prune computed columns (and collapse 1-row
        // aggregates), so a projection-shaped query times as a bare
        // row-count scan — d22 measured 0.2 s under count() vs 8.2 s
        // producing its actual output (round 10). Draining the
        // executed plan's rows forces codegen to write every output
        // column while keeping rows on the executors (no
        // driver-transfer cost in the measurement). Reference mins
        // recorded under count() are unchanged for agg/join-shaped
        // queries (their work was already forced; the delta is the
        // few-row final projection) — d22's reference is drain-based.
        val run = try {
          val qe = qmap(name)(spark, sfDir).queryExecution
          qe.executedPlan
            .execute().foreachPartition(it => while (it.hasNext) it.next())
          Right(qe)
        } catch { case scala.util.control.NonFatal(e) => Left(e) }
        val dt = (System.nanoTime() - t0) / 1e9
        // fingerprint/metrics read AFTER the clock stops (driver-side
        // string work must not ride in the measurement)
        run match {
          case Right(qe) =>
            try telemetry(name) = PlanTelemetry.stats(qe)
            catch { case _: Throwable => () }
            settleListener()
            jobTelemetry(name) = (jobShuffleBytes.get - preBytes,
              jobShuffleRecords.get - preRecords)
            Some(dt)
          case Left(e) =>
            failures.getOrElseUpdate(name, e.getClass.getName)
            None
        }
      }
    // One full measurement SESSION: pre-calibration (with the bounded
    // cooldown retry on a sick pre-leg), 3 timed runs per query,
    // per-query confirmation re-runs for >2×-reference mins, post-
    // calibration.
    case class Session(results: Seq[(String, Seq[Double])],
        calPre: Double, calShufPre: Double,
        calPost: Double, calShufPost: Double,
        preSick: Boolean, preBefore: Double, shufPreBefore: Double) {
      def legs: (Double, Double) =
        (math.min(calPre, calPost), math.min(calShufPre, calShufPost))
    }
    def runSession(): Session = {
      val calPre0 = calibrate()
      val calShufPre0 = calibrateShuffle()
      val preSick = statusOf(calPre0, calShufPre0) == "sick"
      val (calPre, calShufPre) =
        if (!preSick) (calPre0, calShufPre0)
        else {
          Thread.sleep(cooldownSec * 1000L)
          System.gc()
          (math.min(calPre0, calibrate()),
            math.min(calShufPre0, calibrateShuffle()))
        }
      val firstPass = names.map(name => name -> timeQuery(name, runs))
      // Confirmation re-runs: a query whose min exceeds 2× its stored
      // healthy min is either a plan regression or a transient stall —
      // one more batch of runs disambiguates inside the artifact (a
      // regression reproduces; a stall posts a normal min the second
      // time). Only meaningful when this run's sf and core count match
      // the ones the reference was recorded at.
      val flagged: Seq[String] =
        if (!comparable) Seq.empty
        else firstPass.collect {
          case (name, ts)
              if ts.nonEmpty && ref.get.mins.get(name).exists(ts.min > 2 * _) =>
            name
        }
      val results = firstPass.map { case (name, ts) =>
        val all = if (flagged.contains(name)) ts ++ timeQuery(name, runs)
          else ts
        name -> all.sorted
      }
      Session(results, calPre, calShufPre, calibrate(),
        calibrateShuffle(), preSick, calPre0, calShufPre0)
    }
    // Whole-session repeat (r12 lesson): the cooldown retry recovered
    // the PRE leg but the session stayed sick through the query runs,
    // shipping a round with 4 flagged re-runs and no usable perf
    // record. When the END-OF-SESSION verdict is still sick, repeat
    // the ENTIRE measurement once (bounded: one repeat, after a
    // longer cooldown) and take each query's min across both
    // sessions — mins only improve with samples, so if the repeat
    // runs healthy the merged numbers are a healthy session's. Status
    // is judged on the best calibration legs observed across
    // attempts: "sick" now means the machine never offered a healthy
    // window, which is the honest residual case.
    val s1 = runSession()
    val sessionRepeated = statusOf(s1.legs._1, s1.legs._2) == "sick"
    val s2: Option[Session] =
      if (!sessionRepeated) None
      else {
        Thread.sleep(2L * cooldownSec * 1000L)
        System.gc()
        Some(runSession())
      }
    // queries with no completed run have no min: they appear only in
    // `failed`
    val results: Seq[(String, Seq[Double])] = (s2 match {
      case None => s1.results
      case Some(b) =>
        val m2 = b.results.toMap
        s1.results.map { case (name, ts) =>
          name -> (ts ++ m2.getOrElse(name, Seq.empty)).sorted
        }
    }).filter(_._2.nonEmpty)
    val (cpuLeg, shufLeg) = s2 match {
      case None => s1.legs
      case Some(b) => (math.min(s1.legs._1, b.legs._1),
        math.min(s1.legs._2, b.legs._2))
    }
    val calStatus = statusOf(cpuLeg, shufLeg)
    // flagged_reruns reports what is STILL >2× reference after every
    // attempt — with a healthy repeat these are genuine regressions,
    // not session noise.
    val flaggedFinal: Seq[String] =
      if (!comparable) Seq.empty
      else results.collect {
        case (name, ts) if ref.get.mins.get(name).exists(ts.min > 2 * _) =>
          name
      }
    def f3(v: Double) = f"$v%.3f"
    // Self-classification against the committed healthy reference:
    // plan_changed = fingerprint differs (a REAL plan change — go read
    // it); shuffle_changed = same plan shape but the shuffle volume
    // moved >25% (and >4 MB absolute, so KB-scale shuffles don't flap)
    // — data or stats drift. A slow min in NEITHER list over an
    // unchanged fingerprint is session noise by construction. Both are
    // None (printed null, not []) when the reference cannot judge.
    val planChanged: Option[Seq[String]] =
      if (!comparable) None
      else Some(telemetry.keys.toSeq.sorted.filter { name =>
        ref.get.fps.get(name).exists(_ != telemetry(name).fingerprint)
      })
    // compared on the LISTENER bytes (the complete count — plan-level
    // bytes miss checkpointed rounds and construction-time writes)
    val shuffleChanged: Option[Seq[String]] =
      if (!comparable) None
      else Some(jobTelemetry.keys.toSeq.sorted.filter { name =>
        ref.get.shufBytes.get(name).exists { b =>
          val d = math.abs(jobTelemetry(name)._1 - b)
          d > math.max(b / 4, 4L << 20)
        }
      })
    // round 17, "not yet optimized" item 4: the calibration gate's 1.5×
    // legs pass sessions whose per-query noise is ±30 %; stamp the
    // session's machine phase from the fingerprint-identical control
    // queries so per-query deltas classify mechanically (see
    // controlDrift's scaladoc). Additive artifact field.
    val drift: Option[(Double, Int)] = shuffleChanged.flatMap { sc =>
      controlDrift(
        results.map { case (k, ts) => k -> ts.min }.toMap,
        telemetry.map { case (k, t) => k -> t.fingerprint }.toMap,
        ref.get.mins, ref.get.fps, sc.toSet)
    }
    // Full per-query telemetry goes to a FILE (the stdout artifact
    // archives only a bounded tail; 31 queries of fingerprints would
    // push the canonical line out of it) — same dir the reference
    // lives in, committed with the round.
    val teleFile = sys.env.getOrElse("SPARK_GRAFT_TELEMETRY_FILE",
      "bench_telemetry.json")
    try {
      val body = telemetry.keys.toSeq.sorted.map { name =>
        val t = telemetry(name)
        val (jb, jr) = jobTelemetry.getOrElse(name, (0L, 0L))
        s""""$name":{"plan_fp":"${t.fingerprint}","shuffle_bytes":$jb,"shuffle_records":$jr,"plan_shuffle_bytes":${t.shuffleBytes},"plan_shuffle_records":${t.shuffleRecords},"exchanges":${t.exchanges},"min_sec":${f3(results.toMap.apply(name).min)}}"""
      }.mkString("{\n", ",\n", "\n}")
      val failedBody = failures.keys.toSeq.sorted
        .map(name => s""""$name":"${failures(name)}"""")
        .mkString("{", ",", "}")
      java.nio.file.Files.write(java.nio.file.Paths.get(teleFile),
        s"""{"sf":"$sfDir","runs":$runs,"queries":$body,"failed":$failedBody}"""
          .getBytes("UTF-8"))
    } catch { case _: Throwable => () }
    val qs = results.map { case (k, ts) => "\"" + k + "\":" + f3(ts.min) }
      .mkString("{", ",", "}")
    val spread = results.map { case (k, ts) =>
      "\"" + k + "\":{\"min\":" + f3(ts.head) +
        ",\"med\":" + f3(ts(ts.size / 2)) +
        ",\"max\":" + f3(ts.last) + "}"
    }.mkString("{", ",", "}")
    val total = results.map(_._2.min).sum
    def namesJson(ns: Seq[String]) =
      ns.map("\"" + _ + "\"").mkString("[", ",", "]")
    val flaggedJson = namesJson(flaggedFinal)
    // retry stamp: absent on a clean pre-leg; when any pre-leg read
    // sick, records the cooldown and the ORIGINAL readings so a
    // still-sick session is double-flagged (retried AND status=sick)
    val retryJson =
      if (!s1.preSick) ""
      else s""","calibration_retry":{"cooldown_sec":$cooldownSec,"pre_before":${f3(s1.preBefore)},"shuffle_pre_before":${f3(s1.shufPreBefore)}}"""
    val repeatJson =
      if (!sessionRepeated) ""
      else {
        val b = s2.get
        s""","session_repeat":{"first_cal":{"cpu":${f3(s1.legs._1)},"shuffle":${f3(s1.legs._2)}},"second_cal":{"cpu":${f3(b.legs._1)},"shuffle":${f3(b.legs._2)}}}"""
      }
    // Two lines, diagnostic first, canonical LAST: the driver archives
    // only a 2000-char tail of stdout, and the full min/med/max spread
    // map alone exceeds that — r11's artifact lost the first ~3
    // headline queries (q01/q03/q04 invisible, parsed:null). The final
    // line is the complete spec-shape JSON without the spread, sized to
    // always fit the tail whole.
    val planChangedJson = planChanged.fold("null")(namesJson)
    val failedJson = namesJson(failures.keys.toSeq.sorted)
    val shuffleChangedJson = shuffleChanged.fold("null")(namesJson)
    // fp map rides in the middle (diagnostic) line — it may be cut by
    // the tail archive; the full record is in the telemetry file
    val fpJson = telemetry.keys.toSeq.sorted.map { name =>
      "\"" + name + "\":\"" + telemetry(name).fingerprint + "\""
    }.mkString("{", ",", "}")
    println(
      s"""{"metric":"spread_detail","spread":$spread,"runs":$runs$retryJson$repeatJson,"sf":"$sfDir"}""")
    println(
      s"""{"metric":"plan_telemetry","file":"$teleFile","plan_fp":$fpJson}""")
    val driftJson = drift match {
      case Some((m, n)) => s"""{"median":${f3(m)},"n":$n}"""
      case None => "null"
    }
    println(
      s"""{"metric":"total","value":${f3(total)},"unit":"sec","queries":$qs,"runs":$runs,"calibration_sec":{"pre":${f3(s1.calPre)},"post":${f3(s1.calPost)}},"calibration_shuffle_sec":{"pre":${f3(s1.calShufPre)},"post":${f3(s1.calShufPost)}},"calibration_status":"$calStatus","control_drift":$driftJson,"session_repeated":$sessionRepeated,"flagged_reruns":$flaggedJson,"plan_changed":$planChangedJson,"shuffle_changed":$shuffleChangedJson,"failed":$failedJson,"sf":"$sfDir"}""")
    spark.stop()
  }
}

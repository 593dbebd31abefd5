package graft

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import graft.Json.{obj, objLines}
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

/** Benchmark main: times the headline queries on SPARK_GRAFT_SF_DIR in
  * the harness session ([[SessionDefaults.local]], SPARK_GRAFT_CPUS
  * cores, default 32) and prints three JSON lines, the canonical
  * {"metric":"total","value":N,"unit":"sec","queries":…} last. A warm-up
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

  /** Every bench query runs once here first, to absorb JVM startup and
    * whole-stage-codegen (Janino) compilation — generated classes are
    * cached by source, so the timed runs measure execution at the
    * target sf, not compiler cold-start. */
  private val WarmDir = "/root/testdata/sf0.001"

  /** Cooldown before re-measuring a sick pre-leg (twice this before a
    * session repeat): long enough for a transient co-tenant burst or
    * TRIM storm to drain. */
  private val CooldownSec = 60

  /** Committed healthy-session reference (bench_reference.json): the
    * r6/r7 rounds each burned review time adjudicating driver-session
    * noise (shuffle-leg 0.443 vs a healthy 0.250 on identical
    * hardware) because the artifact carried the calibration numbers
    * but nothing JUDGED them. Comparing both calibration legs to
    * stored healthy values lets the artifact classify itself:
    * calibration_status=sick means round-over-round query deltas are
    * session noise, not plan regressions. Query-level reference mins
    * (recorded at sf0.1, the driver's bench sf) additionally select
    * which queries get a confirmation re-run.
    */
  private[graft] final case class BenchRef(cal: Double, calShuf: Double,
      calCpus: Option[Int], sfSuffix: String, mins: Map[String, Double],
      fps: Map[String, String], shufBytes: Map[String, Long])

  /** The reference at `path`; None when there is no such file, or when
    * it does not parse (reported on stderr). `plan_fp` and
    * `shuffle_bytes` are optional (absent on a pre-telemetry file). */
  private[graft] def readReference(path: String): Option[BenchRef] = {
    val f = new java.io.File(path)
    if (!f.isFile) None
    else try {
      val node = new ObjectMapper().readTree(f)
      def fields[V](key: String)(v: JsonNode => V): Map[String, V] =
        Option(node.get(key)).fold(Map.empty[String, V])(
          _.properties.asScala.map(e => e.getKey -> v(e.getValue)).toMap)
      Some(BenchRef(node.get("calibration_sec").asDouble(),
        node.get("calibration_shuffle_sec").asDouble(),
        Option(node.get("calibration_cpus")).map(_.asInt()),
        node.get("sf_suffix").asText(), fields("queries")(_.asDouble()),
        fields("plan_fp")(_.asText()), fields("shuffle_bytes")(_.asLong())))
    } catch { case NonFatal(e) => warn(path, e); None }
  }

  private def warn(what: String, e: Throwable): Unit =
    System.err.println(s"[bench] $what: ${e.getClass.getName}: ${e.getMessage}")

  /** One full measurement session: each query's sorted run times and
    * the calibration legs at its start and end. `preSick`: the pre leg
    * read sick and was re-measured after a cooldown (`preBefore` and
    * `shufPreBefore` are its first readings). */
  private[graft] final case class Session(results: Seq[(String, Seq[Double])],
      calPre: Double, calShufPre: Double,
      calPost: Double, calShufPost: Double,
      preSick: Boolean, preBefore: Double, shufPreBefore: Double) {
    def legs: (Double, Double) =
      (math.min(calPre, calPost), math.min(calShufPre, calShufPost))
  }

  /** The canonical stdout line (printed last): per-query mins and their
    * total over `results` (queries with at least one completed run),
    * the first session's calibration legs, and the verdicts. */
  private[graft] def totalLine(results: Seq[(String, Seq[Double])],
      runs: Int, s1: Session, calStatus: String,
      drift: Option[(Double, Int)], sessionRepeated: Boolean,
      flagged: Seq[String], planChanged: Option[Seq[String]],
      shuffleChanged: Option[Seq[String]], failed: Seq[String],
      sfDir: String): String =
    obj("metric" -> "total", "value" -> results.map(_._2.min).sum,
      "unit" -> "sec",
      "queries" -> obj(results.map { case (k, ts) => k -> ts.min }: _*),
      "runs" -> runs,
      "calibration_sec" -> obj("pre" -> s1.calPre, "post" -> s1.calPost),
      "calibration_shuffle_sec" ->
        obj("pre" -> s1.calShufPre, "post" -> s1.calShufPost),
      "calibration_status" -> calStatus,
      "control_drift" ->
        drift.map { case (m, n) => obj("median" -> m, "n" -> n) },
      "session_repeated" -> sessionRepeated, "flagged_reruns" -> flagged,
      "plan_changed" -> planChanged, "shuffle_changed" -> shuffleChanged,
      "failed" -> failed, "sf" -> sfDir).json

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = SessionDefaults.local("graft-bench", cpus)
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
    // A run that throws posts NO time (a failed query must not read as a
    // fast one): its query lands in `failed` with the first error class
    // seen — warm-up or timed run — and its min is over the timed runs
    // that completed, if any.
    val failures = scala.collection.mutable.Map[String, String]()
    names.foreach { name =>
      try qmap(name)(spark, WarmDir).count()
      catch {
        case NonFatal(e) => failures.getOrElseUpdate(name, e.getClass.getName)
      }
    }
    // Calibration microbenchmarks, timed at session start and end. A
    // healthy session posts ~constant values round over round, so a
    // sick driver environment (round 5: med ≫ min on every query,
    // 2232 s wall for 60 s of query time) is classifiable from the
    // BENCH artifact alone: plans regress in the query mins, a poisoned
    // machine regresses the calibration number. Each leg discards one
    // untimed warm-up execution: on a short BENCH_ONLY run the JVM
    // reaches the pre-leg with the calibration codegen still cold, and
    // JIT time read as machine sickness (measured: CPU pre-leg 0.131
    // after 2 warm queries vs 0.055 after the full list — a 2.4× false
    // positive against the reference).
    def bestOf3(leg: => Unit): Double = {
      def once(): Double = {
        val t0 = System.nanoTime()
        leg
        (System.nanoTime() - t0) / 1e9
      }
      once()
      (1 to 3).map(_ => once()).min
    }
    // CPU leg: a fixed-size in-memory aggregation — no I/O, no
    // dependence on sfDir or the query set.
    def calibrate(): Double = bestOf3(
      spark.range(0L, 20000000L, 1, cpus)
        .selectExpr("sum(id * 3 % 7) AS s").collect())
    // Shuffle leg: the CPU leg declared the r6 driver session healthy
    // while shuffle-heavy queries ran 2-5× slower than judge re-runs —
    // it never touched spark.local.dir. This one forces a real exchange
    // (1M rows, 100k keys) through the same shuffle volume, so sick
    // disk/TRIM shows up in the artifact even when raw CPU is fine.
    def calibrateShuffle(): Double = bestOf3(
      spark.range(0L, 1000000L, 1, cpus)
        .selectExpr("id % 100000 AS k", "id AS v")
        .groupBy("k")
        .agg(org.apache.spark.sql.functions.sum("v").as("s"))
        .selectExpr("sum(s) AS t").collect())
    val ref = readReference("bench_reference.json")
    def statusOf(cpu: Double, shuf: Double): String = calibrationStatus(
      ref.map(r => (r.cal, r.calShuf, r.calCpus)), cpus, cpu, shuf)
    val comparable = ref.exists(r =>
      refComparable(sfDir, cpus, r.sfSuffix, r.calCpus))
    // Confirmation re-runs: a query whose min exceeds 2× its stored
    // healthy min is either a plan regression or a transient stall —
    // one more batch of runs disambiguates inside the artifact (a
    // regression reproduces; a stall posts a normal min the second
    // time). Only meaningful when this run's sf and core count match
    // the ones the reference was recorded at.
    def overTwiceRef(results: Seq[(String, Seq[Double])]): Seq[String] =
      results.collect {
        case (name, ts) if comparable && ts.nonEmpty &&
            ref.get.mins.get(name).exists(ts.min > 2 * _) => name
      }
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
        } catch { case NonFatal(e) => Left(e) }
        val dt = (System.nanoTime() - t0) / 1e9
        // fingerprint/metrics read AFTER the clock stops (driver-side
        // string work must not ride in the measurement)
        run match {
          case Right(qe) =>
            try telemetry(name) = PlanTelemetry.stats(qe)
            catch { case NonFatal(e) => warn(s"plan telemetry $name", e) }
            settleListener()
            jobTelemetry(name) = (jobShuffleBytes.get - preBytes,
              jobShuffleRecords.get - preRecords)
            Some(dt)
          case Left(e) =>
            failures.getOrElseUpdate(name, e.getClass.getName)
            None
        }
      }
    // One full measurement SESSION: pre-calibration, runs per query,
    // confirmation re-runs, post-calibration. Sick-session
    // auto-recovery: rounds 9 and 10 BOTH shipped calibration_status=
    // sick artifacts — the driver VM was uniformly 1.4-1.6× slow at
    // session start and every round-over-round query delta arrived
    // noise-dominated. When the PRE leg reads sick against the
    // committed healthy reference, cool down once and re-measure; keep
    // the best of the two attempts and stamp the retry in the artifact
    // so a still-sick session is EXPLICITLY double-flagged rather than
    // silently noisy.
    def runSession(): Session = {
      val calPre0 = calibrate()
      val calShufPre0 = calibrateShuffle()
      val preSick = statusOf(calPre0, calShufPre0) == "sick"
      val (calPre, calShufPre) =
        if (!preSick) (calPre0, calShufPre0)
        else {
          Thread.sleep(CooldownSec * 1000L)
          System.gc()
          (math.min(calPre0, calibrate()),
            math.min(calShufPre0, calibrateShuffle()))
        }
      val firstPass = names.map(name => name -> timeQuery(name, runs))
      val flagged = overTwiceRef(firstPass)
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
        Thread.sleep(2L * CooldownSec * 1000L)
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
    // Self-classification against the committed healthy reference:
    // plan_changed = fingerprint differs (a REAL plan change — go read
    // it); shuffle_changed = same plan shape but the shuffle volume
    // moved >25% (and >4 MB absolute, so KB-scale shuffles don't flap)
    // — data or stats drift. A slow min in NEITHER list over an
    // unchanged fingerprint is session noise by construction. Both are
    // None (printed null, not []) when the reference cannot judge.
    val planChanged = Option.when(comparable)(telemetry.keys.toSeq.sorted
      .filter(n => ref.get.fps.get(n).exists(_ != telemetry(n).fingerprint)))
    // compared on the LISTENER bytes (the complete count — plan-level
    // bytes miss checkpointed rounds and construction-time writes)
    val shuffleChanged = Option.when(comparable)(jobTelemetry.keys.toSeq
      .sorted.filter(n => ref.get.shufBytes.get(n).exists(b =>
        math.abs(jobTelemetry(n)._1 - b) > math.max(b / 4, 4L << 20))))
    // the calibration gate's 1.5× legs pass sessions whose per-query
    // noise is ±30 %; stamp the session's machine phase from the
    // fingerprint-identical control queries so per-query deltas
    // classify mechanically (see controlDrift's scaladoc)
    val mins = results.map { case (k, ts) => k -> ts.min }.toMap
    val drift: Option[(Double, Int)] = shuffleChanged.flatMap { sc =>
      controlDrift(mins,
        telemetry.map { case (k, t) => k -> t.fingerprint }.toMap,
        ref.get.mins, ref.get.fps, sc.toSet)
    }
    // Full per-query telemetry goes to a FILE (the stdout artifact
    // archives only a bounded tail; 31 queries of fingerprints would
    // push the canonical line out of it) — same dir the reference
    // lives in, committed with the round.
    val teleFile = sys.env.getOrElse("SPARK_GRAFT_TELEMETRY_FILE",
      "bench_telemetry.json")
    val teleNames = telemetry.keys.toSeq.sorted
    try Files.writeString(Paths.get(teleFile), obj(
      "sf" -> sfDir, "runs" -> runs,
      "queries" -> objLines(teleNames.map { name =>
        val t = telemetry(name)
        val (jb, jr) = jobTelemetry.getOrElse(name, (0L, 0L))
        name -> obj("plan_fp" -> t.fingerprint, "shuffle_bytes" -> jb,
          "shuffle_records" -> jr, "plan_shuffle_bytes" -> t.shuffleBytes,
          "plan_shuffle_records" -> t.shuffleRecords,
          "exchanges" -> t.exchanges, "min_sec" -> mins(name))
      }),
      "failed" -> obj(failures.toSeq.sorted: _*)).json)
    catch { case NonFatal(e) => warn(s"telemetry file $teleFile", e) }
    // Three lines, diagnostics first, canonical LAST: the driver
    // archives only a 2000-char tail of stdout, and the full
    // min/med/max spread map alone exceeds that — r11's artifact lost
    // the first ~3 headline queries (q01/q03/q04 invisible,
    // parsed:null). The final line is the complete spec-shape JSON
    // without the spread, sized to always fit the tail whole. The
    // retry stamp is absent on a clean pre-leg; when a pre-leg read
    // sick it records the cooldown and the ORIGINAL readings, so a
    // still-sick session is double-flagged (retried AND status=sick).
    val retry =
      if (!s1.preSick) Seq.empty
      else Seq("calibration_retry" -> obj("cooldown_sec" -> CooldownSec,
        "pre_before" -> s1.preBefore,
        "shuffle_pre_before" -> s1.shufPreBefore))
    val repeat = s2.toSeq.map(b => "session_repeat" -> obj(
      "first_cal" -> obj("cpu" -> s1.legs._1, "shuffle" -> s1.legs._2),
      "second_cal" -> obj("cpu" -> b.legs._1, "shuffle" -> b.legs._2)))
    val spread = results.map { case (k, ts) =>
      k -> obj("min" -> ts.head, "med" -> ts(ts.size / 2), "max" -> ts.last)
    }
    println(obj(Seq("metric" -> "spread_detail", "spread" -> obj(spread: _*),
      "runs" -> runs) ++ retry ++ repeat :+ ("sf" -> sfDir): _*))
    // the fp map may be cut by the tail archive; the full record is in
    // the telemetry file
    println(obj("metric" -> "plan_telemetry", "file" -> teleFile,
      "plan_fp" -> obj(teleNames.map(n => n -> telemetry(n).fingerprint): _*)))
    println(totalLine(results, runs, s1, statusOf(cpuLeg, shufLeg), drift,
      sessionRepeated, overTwiceRef(results), planChanged, shuffleChanged,
      failures.keys.toSeq.sorted, sfDir))
    spark.stop()
  }
}

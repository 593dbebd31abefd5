package perfbench

import graft.{SessionDefaults, SparkEntry}
import org.apache.spark.perfbench.ListenerBusAccess
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{UnsafeProjection, XXH64}
import org.apache.spark.sql.execution.SparkPlan
import scala.util.control.NonFatal

/** Runs a list of `SparkEntry.queries` entries in one JVM: a session at
  * local[4], a warm-up pass at the small scale factor, then timed passes
  * at the benchmark scale factor until `--seconds` have elapsed (at least
  * one pass). Each query is timed from the `SparkEntry.queries` call to
  * the end of its drain; the drain computes the output's row count and an
  * order-independent digest on the executors, so checking the output adds
  * no driver-side pass. A query that throws is recorded as failed with no
  * time.
  *
  * Prints `READY` on stdout when set-up ends and writes one JSON result
  * to `--out`. With `--trace 1` the second of three passes is traced
  * (listener plus spans) and the other two are not, so the result carries
  * the tracing overhead next to the per-layer figures.
  *
  * Usage: perfbench.QueryWorkload --data DIR --warm DIR --queries a,b,...
  *   --seconds N --trace 0|1 --out FILE --local-dir DIR [--spans FILE]
  */
object QueryWorkload {

  final case class Outcome(name: String, error: Option[String],
      rows: Long, digest: String, totalS: Double)

  /** Drain `plan` on the executors: (rows, sum of per-row XXH64 of the
    * row's UnsafeRow bytes). The sum is independent of row order and of
    * the output's partitioning.
    */
  def drainDigest(plan: SparkPlan): (Long, Long) = {
    val schema = plan.schema
    val parts = plan.execute().mapPartitions { it =>
      val proj = UnsafeProjection.create(schema)
      var n = 0L
      var h = 0L
      while (it.hasNext) {
        val u = proj(it.next())
        h += XXH64.hashUnsafeBytes(u.getBaseObject, u.getBaseOffset,
          u.getSizeInBytes, 42L)
        n += 1
      }
      Iterator.single((n, h))
    }.collect()
    (parts.map(_._1).sum, parts.map(_._2).sum)
  }

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    val data = opt("--data")
    val warm = opt("--warm")
    val names = opt("--queries").split(',').toSeq
    val seconds = opt("--seconds").toDouble
    val traced = opt("--trace") == "1"

    val spark = SessionDefaults.tuned(SparkSession.builder()
      .master("local[4]")
      .appName("perfbench-queries")
      .config("spark.sql.shuffle.partitions", "4"))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.files.maxPartitionBytes", "2m")
      .config("spark.sql.files.openCostInBytes", "256k")
      .config("spark.local.dir", opt("--local-dir"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val qmap = SparkEntry.queries

    def runOne(name: String, dir: String,
        trace: Option[Trace]): Outcome = {
      spark.catalog.clearCache()
      System.gc()
      val t0 = System.nanoTime()
      try {
        def span[A](n: String)(a: => A): A =
          trace.fold(a)(_.span(n)(a))
        val (rows, digest) = span(s"q.$name") {
          val df: DataFrame = span("queries.construct")(qmap(name)(spark, dir))
          span("queries.exec") {
            val qe = df.queryExecution
            val r = drainDigest(qe.executedPlan)
            trace.foreach { tr =>
              // Catalyst phase times, recorded after the drain
              qe.tracker.phases.foreach { case (phase, s) =>
                tr.addEpochMs(s"queries.plan_$phase", tr.current,
                  s.startTimeMs, s.endTimeMs)
              }
            }
            r
          }
        }
        Outcome(name, None, rows, java.lang.Long.toHexString(digest),
          (System.nanoTime() - t0) / 1e9)
      } catch {
        case NonFatal(e) =>
          Outcome(name, Some(s"${e.getClass.getName}: " +
            String.valueOf(e.getMessage).linesIterator.take(1).mkString),
            0L, "", 0.0)
      }
    }

    def outcomeJson(o: Outcome): Map[String, Any] = Map(
      "name" -> o.name, "ok" -> o.error.isEmpty,
      "error" -> o.error.getOrElse(""), "rows" -> o.rows,
      "digest" -> o.digest, "total_s" -> o.totalS)

    val warmed = names.map(n => runOne(n, warm, None))
    println("READY")
    System.out.flush()

    val t0 = System.nanoTime()
    val passes = Vector.newBuilder[Map[String, Any]]
    var traceOut: Map[String, Any] = Map.empty
    var pass = 0
    while (pass == 0 || (traced && pass <= 2) ||
        (System.nanoTime() - t0) / 1e9 < seconds) {
      val tr = if (traced && pass == 1) Some(new Trace(s"queries-$pass"))
        else None
      val listener = tr.map { t =>
        val l = new LayerListener(t)
        t.onCurrent = id => spark.sparkContext.setLocalProperty(
          Trace.SpanKey, if (id == 0) null else id.toString)
        spark.sparkContext.addSparkListener(l)
        l
      }
      val cpu0 = processCpuNs()
      val wall0 = System.nanoTime()
      val outs = names.map(n => runOne(n, data, tr))
      val wall = (System.nanoTime() - wall0) / 1e9
      val cpu = (processCpuNs() - cpu0) / 1e9
      for (t <- tr; l <- listener) {
        ListenerBusAccess.drain(spark.sparkContext)
        spark.sparkContext.removeSparkListener(l)
        t.onCurrent = _ => ()
        traceOut = layerMetrics(t, l, wall, outs)
        opt.get("--spans").foreach(t.write)
      }
      passes += Map("traced" -> tr.isDefined, "wall_s" -> wall, "cpu_s" -> cpu,
        "queries" -> outs.map(outcomeJson))
      pass += 1
    }
    val result = Json.obj(Seq(
      "warmup" -> warmed.map(outcomeJson),
      "passes" -> passes.result(), "trace" -> traceOut))
    java.nio.file.Files.write(java.nio.file.Paths.get(opt("--out")),
      result.getBytes("UTF-8"))
    spark.stop()
  }

  /** CPU time of this JVM, all threads. */
  def processCpuNs(): Long =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean match {
      case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime
      case _ => 0L
    }

  /** Per-layer figures of one traced pass. */
  def layerMetrics(t: Trace, l: LayerListener, wallS: Double,
      outs: Seq[Outcome]): Map[String, Any] = {
    val tot = t.totals
    def secs(n: String) = tot.get(n).map(_._2).getOrElse(0.0)
    val snap = l.snapshot()
    val mb = 1024.0 * 1024.0
    val cores = 4.0
    val perQuery = outs.flatMap { o =>
      Seq(s"q.${o.name}.s" -> o.totalS,
        s"q.${o.name}.jobs" -> t.jobsUnder(_.name == s"q.${o.name}"))
    }
    Map[String, Any](
      "queries.construct_s" -> secs("queries.construct"),
      "queries.construct_jobs" -> t.jobsUnder(_.name == "queries.construct"),
      "queries.plan_analysis_ms" -> secs("queries.plan_analysis") * 1e3,
      "queries.plan_optimize_ms" -> secs("queries.plan_optimization") * 1e3,
      "queries.plan_physical_ms" -> secs("queries.plan_planning") * 1e3,
      "queries.exec_s" -> secs("queries.exec"),
      "queries.jobs" -> snap("jobs"),
      "queries.stages" -> snap("stages"),
      "queries.tasks" -> snap("tasks"),
      "queries.tasks_failed" -> snap("tasks_failed"),
      "queries.executor_run_s" -> snap("run_ms") / 1e3,
      "queries.executor_cpu_s" -> snap("cpu_ns") / 1e9,
      "queries.gc_s" -> snap("gc_ms") / 1e3,
      "queries.shuffle_write_mb" -> snap("shuffle_write") / mb,
      "queries.shuffle_read_mb" -> snap("shuffle_read") / mb,
      "queries.spill_mb" -> snap("spill") / mb,
      "queries.input_mb" -> snap("input") / mb,
      "queries.core_util" -> snap("run_ms") / 1e3 / (wallS * cores),
      "trace.pass_s" -> wallS) ++ perQuery
  }
}

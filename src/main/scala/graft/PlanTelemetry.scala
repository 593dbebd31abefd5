package graft

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec, ShuffleExchangeLike}

/** Plan fingerprints + plan-invariant execution metrics for the bench
  * artifact.
  *
  * Three consecutive rounds of review time went to separating plan
  * regressions from driver-session noise (g01 r13→r14, s21 r13→r14,
  * s15 r14): a slow query min alone cannot say WHICH it is. With a
  * canonical fingerprint of the executed physical plan and the shuffle
  * bytes it actually wrote, the artifact classifies itself —
  * fingerprint unchanged + shuffle bytes unchanged ⇒ the plan did the
  * same work, so a fat min is session noise and needs no re-measure;
  * a changed fingerprint names a real plan change to go read.
  *
  * The fingerprint hashes the FINAL adaptive plan (post-execution:
  * AQE's runtime decisions — coalesced reads, skew splits, reused
  * exchanges, BHJ conversions — are part of what must not silently
  * change), with run-varying tokens normalized out (expression ids,
  * plan ids, application-id-keyed scratch paths) so two healthy
  * sessions on the same data and code produce the same hex string.
  */
object PlanTelemetry {

  /** Per-query telemetry: canonical plan fingerprint + shuffle volume.
    * `shuffleBytes`/`shuffleRecords` sum the write-side metrics of
    * every distinct shuffle exchange in the final plan (reuse counted
    * once — a ReusedExchange did not write twice); `exchanges` counts
    * those distinct shuffles, the plan's shuffle-stage count.
    */
  final case class Stats(fingerprint: String, shuffleBytes: Long,
      shuffleRecords: Long, exchanges: Int)

  /** The final physical plan: for AQE, the post-execution re-optimized
    * plan (calling this before execution would fingerprint the initial
    * guess, not what ran).
    */
  def finalPlan(qe: QueryExecution): SparkPlan = qe.executedPlan match {
    case a: AdaptiveSparkPlanExec => a.executedPlan
    case p => p
  }

  /** Strip run-varying tokens from a plan string so the fingerprint is
    * stable across JVMs/sessions: expression ids (`#123`), plan/exchange
    * ids, local-mode application ids (they key per-run scratch paths
    * like d16's stored band index), and auto-generated subquery names.
    */
  private[graft] def norm(s: String): String = s
    .replaceAll("#\\d+", "#x")
    // lambda-variable names embed a session-global counter in the NAME
    // itself (`lambda x_14#7` on run 1 is `x_23#9` on run 2) — the
    // `#id` normalization above doesn't reach it
    .replaceAll("_\\d+#x", "_n#x")
    // codegen stage ids are assigned in stage-MATERIALIZATION order,
    // which AQE parallelism permutes run-over-run (the span's member
    // nodes — the thing that matters — stay visible as tree structure)
    .replaceAll("WholeStageCodegen \\(\\d+\\)", "WholeStageCodegen")
    .replaceAll("plan_id=\\d+", "plan_id=x")
    .replaceAll("\\bid=\\d+", "id=x")
    .replaceAll("local-\\d+", "local-x")
    .replaceAll("app(lication)?[-_]\\d{8,}[-_]?\\d*", "app-x")
    .replaceAll("subquery\\d+", "subqueryx")
    .replaceAll("@[0-9a-f]{6,}", "@x")

  /** Canonical text of the final plan: one normalized simpleString per
    * node, pre-order, query stages and the adaptive wrapper unwrapped
    * to the plans inside them, subquery plans included. ReusedExchange
    * is kept as a one-line marker without descending (the reused
    * subtree is fingerprinted at its original site).
    */
  def canonicalText(plan: SparkPlan): String = {
    val sb = new StringBuilder
    def walk(n: SparkPlan, d: Int): Unit = n match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan, d)
      case q: QueryStageExec => walk(q.plan, d)
      case _: ReusedExchangeExec =>
        sb.append("  " * d).append("ReusedExchange\n")
      case other =>
        sb.append("  " * d).append(norm(other.simpleString(100)))
          .append('\n')
        other.subqueries.foreach(walk(_, d + 1))
        other.children.foreach(walk(_, d + 1))
    }
    walk(plan, 0)
    sb.toString
  }

  /** First 10 hex chars of the md5 of the canonical plan text. */
  def fingerprint(plan: SparkPlan): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    md.digest(canonicalText(plan).getBytes("UTF-8"))
      .take(5).map(b => f"$b%02x").mkString
  }

  /** All distinct shuffle exchanges in the final plan (stages unwrapped,
    * reuse skipped, subqueries included).
    */
  private def shuffles(plan: SparkPlan): Seq[ShuffleExchangeLike] = {
    val out = ArrayBuffer.empty[ShuffleExchangeLike]
    val seen = new java.util.IdentityHashMap[SparkPlan, Boolean]
    def walk(n: SparkPlan): Unit = n match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case q: QueryStageExec => walk(q.plan)
      case _: ReusedExchangeExec => ()
      case other =>
        other match {
          case s: ShuffleExchangeLike if !seen.containsKey(s) =>
            seen.put(s, true); out += s
          case _ => ()
        }
        other.subqueries.foreach(walk)
        other.children.foreach(walk)
    }
    walk(plan)
    out.toSeq
  }

  /** Generated classes Janino has compiled in this JVM so far — each
    * miss of Spark's codegen cache compiles one. The difference around a
    * run is the codegen work that run did. */
  def compiledClasses(): Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
      .getCount

  /** Telemetry for an EXECUTED query (metric accumulators are final
    * once the action returned — the DAGScheduler folds task updates in
    * synchronously at task completion).
    */
  def stats(qe: QueryExecution): Stats = {
    val plan = finalPlan(qe)
    def metricSum(key: String): Long = shuffles(plan).map { ex =>
      ex.metrics.get(key).map(m => math.max(0L, m.value)).getOrElse(0L)
    }.sum
    Stats(fingerprint(plan),
      metricSum("shuffleBytesWritten"),
      metricSum("shuffleRecordsWritten"),
      shuffles(plan).size)
  }
}

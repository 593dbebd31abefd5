package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule

/** Session-scoped optimizer rules. `experimental.extraOptimizations`
  * and `experimental.extraStrategies` are session-global mutable
  * state, and queries that share one session may change them
  * concurrently; an unlocked check-then-append can drop another
  * caller's entry. Every change to either list takes [[lock]].
  */
object SessionRules {

  private[plans] val lock = new Object

  /** Run `body` with `rule` in the session's optimizer, then take that
    * one entry out again, so no later query runs the rule. A plan is
    * optimized when it executes, so `body` must run the jobs that need
    * the rule (an eager checkpoint, a collect).
    */
  def withRule[A](spark: SparkSession, rule: Rule[LogicalPlan])(
      body: => A): A = {
    lock.synchronized {
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ rule
    }
    try body
    finally lock.synchronized {
      val cur = spark.experimental.extraOptimizations
      val i = cur.lastIndexWhere(_ eq rule)
      if (i >= 0) spark.experimental.extraOptimizations = cur.patch(i, Nil, 1)
    }
  }
}

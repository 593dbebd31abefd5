package graft.plans

import scala.collection.mutable

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, Expression, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.codegen.LazilyGeneratedOrdering
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning, UnspecifiedDistribution}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}

/** Whole-operator extension surface: top-k per key as a custom
  * LogicalPlan + SparkStrategy + SparkPlan, injected at runtime via
  * `spark.experimental.extraStrategies` (the documented planner hook;
  * SURVEY §2.3's extension ladder rung (c) — the one semantics a
  * Column/Expression cannot express because it owns DISTRIBUTION, not
  * just values).
  *
  * Why not `row_number().over(...) <= k`? The window plan SORTS every
  * key's full row set after the shuffle (partial_sort per partition +
  * the exchange carries ALL rows). This operator keeps a bounded
  * k-row heap per key on the MAP side, so the exchange ships at most
  * k rows per (key, input partition) — for top-3-of-thousands the
  * shuffle shrinks by orders of magnitude, which at 100 TB is the
  * difference between a broadcastable trickle and a full-table sort.
  * Physical shape: partial exec (no distribution requirement, bounded
  * heaps) → ClusteredDistribution final exec (same heaps, one
  * partition per key) — Spark inserts the exchange from the declared
  * requirement, AQE still sizes it.
  *
  * Determinism: callers must pass a TOTAL sort order (full tiebreak —
  * the q43 lesson); rows identical under the order are interchangeable
  * by value, so the emitted row MULTISET is deterministic either way.
  *
  * Planner-injection pattern after the public extension examples in
  * SNIPPETS.md [2] (SqlStrategy via extraStrategies); row heaps use
  * the same LazilyGeneratedOrdering TakeOrderedAndProjectExec ships to
  * executors.
  */
object TopKPerKey {

  final case class TopKPerKeyNode(keys: Seq[Expression],
      order: Seq[SortOrder], k: Int, child: LogicalPlan)
      extends UnaryNode {
    override def output: Seq[Attribute] = child.output
    override protected def withNewChildInternal(
        newChild: LogicalPlan): TopKPerKeyNode = copy(child = newChild)
  }

  object Strategy extends SparkStrategy {
    override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
      case TopKPerKeyNode(keys, order, k, child) =>
        TopKPerKeyExec(keys, order, k, isFinal = true,
          TopKPerKeyExec(keys, order, k, isFinal = false,
            planLater(child))) :: Nil
      case _ => Nil
    }
  }

  final case class TopKPerKeyExec(keys: Seq[Expression],
      order: Seq[SortOrder], k: Int, isFinal: Boolean, child: SparkPlan)
      extends UnaryExecNode {
    override def output: Seq[Attribute] = child.output
    override def outputPartitioning: Partitioning =
      child.outputPartitioning
    override def requiredChildDistribution: Seq[Distribution] =
      if (isFinal) ClusteredDistribution(keys) :: Nil
      else UnspecifiedDistribution :: Nil

    override protected def doExecute(): RDD[InternalRow] = {
      val kk = k
      val keyExprs = keys
      val childOutput = child.output
      val rowOrd = new LazilyGeneratedOrdering(order, childOutput)
      // Partial-stage heaps are plain JVM state (unspillable). When
      // groups are small relative to k the map side would retain
      // nearly the whole partition, so the partial exec FLUSHES: once
      // retained bytes cross the budget it emits every current heap
      // downstream and starts over. Correct by construction — a
      // partial flush only sends a per-key candidate SUPERSET to the
      // final stage, which re-selects top-k after the exchange. The
      // final stage never flushes (its state IS the exact output,
      // k rows per key owned by the partition — already minimal).
      val flushBudget =
        if (isFinal) Long.MaxValue
        else conf.getConfString("spark.graft.topk.flushBytes",
          (64L << 20).toString).toLong
      // UnsafeRow.getSizeInBytes alone under-counts the real JVM
      // footprint when rows are tiny: each retained row also costs an
      // object header + a PriorityQueue array slot, and each key costs
      // a HashMap entry + boxed key row. Charge a fixed overhead per
      // row and per key so the many-small-groups case (the scenario
      // the flush exists for) cannot exceed the budget by a large
      // constant factor.
      val perRowOverhead = 64L
      val perKeyOverhead = 64L
      child.execute().mapPartitions({ iter =>
        val proj = UnsafeProjection.create(keyExprs, childOutput)
        // max-heap under the sort order: head = worst kept row, so a
        // candidate replaces it iff strictly better — state per key is
        // k rows, never the key's row count
        val heaps =
          mutable.HashMap.empty[UnsafeRow, mutable.PriorityQueue[UnsafeRow]]
        var retained = 0L
        def drain(): Iterator[UnsafeRow] = {
          val out = heaps.valuesIterator.flatMap(_.iterator).toArray
          heaps.clear()
          retained = 0L
          out.iterator
        }
        new Iterator[InternalRow] {
          private var pending: Iterator[UnsafeRow] = Iterator.empty
          override def hasNext: Boolean = {
            while (!pending.hasNext && iter.hasNext) {
              val row = iter.next()
              val key = proj(row)
              heaps.get(key) match {
                case Some(heap) =>
                  if (heap.size < kk) {
                    val c = row.copy().asInstanceOf[UnsafeRow]
                    retained += c.getSizeInBytes + perRowOverhead
                    heap.enqueue(c)
                  } else if (rowOrd.compare(row, heap.head) < 0) {
                    retained -= heap.dequeue().getSizeInBytes + perRowOverhead
                    val c = row.copy().asInstanceOf[UnsafeRow]
                    retained += c.getSizeInBytes + perRowOverhead
                    heap.enqueue(c)
                  }
                case None =>
                  val kc = key.copy()
                  val heap = mutable.PriorityQueue.empty[UnsafeRow](
                    rowOrd.asInstanceOf[Ordering[UnsafeRow]])
                  val c = row.copy().asInstanceOf[UnsafeRow]
                  retained += kc.getSizeInBytes + perKeyOverhead +
                    c.getSizeInBytes + perRowOverhead
                  heap.enqueue(c)
                  heaps.put(kc, heap)
              }
              if (retained > flushBudget) pending = drain()
            }
            if (!pending.hasNext && heaps.nonEmpty) pending = drain()
            pending.hasNext
          }
          override def next(): InternalRow = pending.next()
        }
      }, preservesPartitioning = true)
    }

    override protected def withNewChildInternal(
        newChild: SparkPlan): TopKPerKeyExec = copy(child = newChild)
  }

  /** Install the planner strategy (idempotent AND thread-safe).
    * Callers install from inside query lambdas that may run
    * concurrently against one shared session, so both install and
    * uninstall take [[SessionRules.lock]]; the strategy itself is
    * stateless, so a lost-uninstall under contention is benign but a
    * lost INSTALL is not.
    */
  def install(spark: SparkSession): Unit = SessionRules.lock.synchronized {
    val cur = spark.experimental.extraStrategies
    if (!cur.contains(Strategy))
      spark.experimental.extraStrategies = cur :+ Strategy
  }

  def uninstall(spark: SparkSession): Unit = SessionRules.lock.synchronized {
    spark.experimental.extraStrategies =
      spark.experimental.extraStrategies.filterNot(_ == Strategy)
  }

  /** Top-k rows per key under `order` (which must be TOTAL for
    * deterministic results). Requires [[install]] first — the node is
    * unplannable otherwise by design (no silent fallback).
    */
  def apply(df: DataFrame, keyCols: Seq[String],
      order: Seq[(String, Boolean)], k: Int): DataFrame = {
    val spark = df.sparkSession
      .asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val plan = df.queryExecution.analyzed
    def attr(name: String) =
      plan.output.find(_.name.equalsIgnoreCase(name)).getOrElse(
        throw new IllegalArgumentException(s"column $name not in " +
          plan.output.map(_.name).mkString("[", ", ", "]")))
    // Float/double keys need explicit -0.0/NaN canonicalization: the
    // optimizer's NormalizeFloatingNumbers rule only rewrites BUILT-IN
    // grouping/join operators, so without this a -0.0 and 0.0 key
    // would hash to different partitions AND different HashMap entries
    // here. Same normalizer the built-ins get, applied at plan build.
    val keyExprs: Seq[Expression] = keyCols.map(attr).map { e =>
      org.apache.spark.sql.classic.GraftDatasetShim.normalizeFloats(e)
    }
    val sortOrder = order.map { case (name, desc) =>
      SortOrder(attr(name),
        if (desc) org.apache.spark.sql.catalyst.expressions.Descending
        else org.apache.spark.sql.catalyst.expressions.Ascending)
    }
    org.apache.spark.sql.classic.GraftDatasetShim.ofRows(spark,
      TopKPerKeyNode(keyExprs, sortOrder, k, plan))
  }
}

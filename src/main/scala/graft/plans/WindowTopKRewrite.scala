package graft.plans

import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, Expression, GreaterThanOrEqual, LessThan, LessThanOrEqual, Literal, RowNumber, WindowExpression}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, Project, Window, WindowGroupLimit}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{IntegerType, LongType}

/** Optimizer rule that rewrites the canonical top-k-per-group
  * WINDOW formulation
  *
  *   Project(cols, Filter(rn <= k,
  *     Window([rn = row_number() over (partition by K order by O)], …)))
  *
  * into the custom [[TopKPerKey.TopKPerKeyNode]] — the BlinkDB-style
  * contract [[MvRewrite]] follows too: the QUERY is unchanged, and
  * installing the rule decides the plan. Physical effect: Spark's own InferWindowGroupLimit
  * (3.5+) already bounds rows per group, but its partial
  * WindowGroupLimitExec still LOCALLY SORTS every map partition and the
  * final side re-sorts after the exchange; the TopKPerKeyExec pair
  * keeps bounded k-row HEAPS on both sides — no sort anywhere, and the
  * exchange ships at most k rows per (key, input partition). Same
  * gap as TakeOrderedAndProject vs Sort+Limit, per group.
  *
  * Scope guard — the rewrite fires only when it is provably
  * output-equivalent:
  *   - exactly ONE window expression, and it is row_number() (a rank()
  *     or dense_rank() filter admits > k rows per group on ties);
  *   - the filter is a bare rn <= k / rn < k / k >= rn against an
  *     integer or long literal;
  *   - the Project above drops the rank column (TopKPerKeyNode does
  *     not produce it) and references only the window child's output;
  *   - non-empty partition keys (global top-k belongs to
  *     TakeOrderedAndProject) and a non-empty sort order.
  * Any WindowGroupLimit the built-in optimizer already inserted below
  * the Window is subsumed and stripped. Determinism contract is the
  * window formulation's own: with a non-total order, row_number picks
  * ties arbitrarily and so does the heap — the row MULTISET per group
  * is deterministic either way for total orders (the q43 lesson).
  * Float/double partition keys get the same NormalizeFloatingNumbers
  * treatment the built-in grouping operators receive (TopKPerKey.apply
  * precedent).
  *
  * Install it for one query with [[SessionRules.withRule]]. The
  * [[TopKPerKey]] STRATEGY must also be installed
  * ([[TopKPerKey.install]]) or the rewritten node is unplannable.
  */
object WindowTopKRewrite extends Rule[LogicalPlan] {

  /** Positive in-range literal only: a Long like -4294967294L must NOT
    * truncate to 2 via toInt, and a non-positive bound (always-false
    * filter, since row_number >= 1) must stay un-rewritten — both are
    * rejected here rather than after conversion.
    */
  private def intOf(l: Literal): Option[Int] = l match {
    case Literal(v: Int, IntegerType) if v >= 1 => Some(v)
    case Literal(v: Long, LongType) if v >= 1L && v <= Int.MaxValue =>
      Some(v.toInt)
    case _ => None
  }

  /** The k implied by the filter condition, when the condition is a
    * bare rank bound against `rn`.
    */
  private def limitOf(cond: Expression, rn: Attribute): Option[Int] =
    cond match {
      case LessThanOrEqual(a: Attribute, l: Literal)
          if a.semanticEquals(rn) => intOf(l)
      case LessThan(a: Attribute, l: Literal)
          if a.semanticEquals(rn) =>
        // rn < v ⇒ k = v - 1; intOf already bounds v to [1, MaxInt] so
        // the subtraction cannot underflow — v = 1 yields k = 0, which
        // the k >= 1 guard in apply() rejects (always-false filter).
        intOf(l).map(_ - 1)
      case GreaterThanOrEqual(l: Literal, a: Attribute)
          if a.semanticEquals(rn) => intOf(l)
      case _ => None
    }

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transform {
      case proj @ Project(projectList, Filter(cond,
          Window(Seq(al @ Alias(WindowExpression(_: RowNumber, _), _)),
            part, ord, wc0, _)))
          if part.nonEmpty && ord.nonEmpty =>
        // a WindowGroupLimit the built-in InferWindowGroupLimit already
        // inserted is subsumed by the heap operator — strip it
        val wchild = wc0 match {
          case wgl: WindowGroupLimit => wgl.child
          case c => c
        }
        limitOf(cond, al.toAttribute) match {
          case Some(k) if k >= 1 &&
              projectList.forall(_.references.subsetOf(wchild.outputSet)) =>
            val keys = part.map(
              org.apache.spark.sql.classic.GraftDatasetShim.normalizeFloats)
            Project(projectList,
              TopKPerKey.TopKPerKeyNode(keys, ord, k, wchild))
          case _ => proj
        }
    }
}

package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, AttributeReference, Expression, KnownNotNull, Literal, NamedExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Count}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.types.DateType

/** Materialized-view rewrite — the lakehouse accelerator: a query
  * that recomputes the canonical daily-count rollup over the base
  * table is redirected to the PRECOMPUTED rollup parquet, turning a
  * full fact scan + shuffle into a metadata-scale MV read. The QUERY
  * is unchanged; installing a registered rule decides the plan (the
  * [[WindowTopKRewrite]] contract). Install it for one query with
  * [[SessionRules.withRule]].
  *
  * Registration (all three required, each non-empty):
  *   - `mvPath` — the MV parquet, columns (event_type, day, n)
  *   - `baseTable` — a substring identifying the base relation's path
  *     (the table the MV was built FROM)
  *   - `daySql` — the canonical day-bucket expression's SQL, as
  *     optimized from the registrar's own MV build (freshness-of-
  *     SEMANTICS guard: a query grouping by any OTHER date expression
  *     over ts — shifted days, different truncation — must NOT be
  *     served by this MV)
  *
  * Scope guard — rewrites only when provably answer-preserving:
  * Aggregate grouped on exactly {the base's event_type column, a
  * DateType expression over ts whose optimized SQL equals the
  * registered daySql}, aggregates limited to the grouping
  * passthroughs plus one bare count(1) (no DISTINCT, no FILTER), and
  * the child is a Project directly over the registered base relation.
  * Output attributes keep the original exprIds, so parents (sorts,
  * projects) resolve untouched. Freshness is the registrar's
  * assertion — installing the rule IS the "MV is current"
  * declaration, exactly as in engines with manual MV refresh.
  */
final case class MvRewrite(mvPath: String, baseTable: String,
    daySql: String) extends Rule[LogicalPlan] {
  require(mvPath.nonEmpty && baseTable.nonEmpty && daySql.nonEmpty,
    s"MvRewrite needs an MV path, a base table and a day expression: $this")

  private def isCountOne(e: Expression): Boolean = e match {
    case ae: AggregateExpression if !ae.isDistinct && ae.filter.isEmpty =>
      ae.aggregateFunction match {
        case Count(Seq(_: Literal)) => true
        case _ => false
      }
    case _ => false
  }

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transform {
      case agg @ Aggregate(groupings, aggExprs,
          Project(projList, lr: LogicalRelation), _)
          if groupings.size == 2 && relPath(lr).contains(baseTable) =>
        // inline grouping attributes through the child Project (the
        // optimizer pulls complex groupings into _groupingexpression
        // aliases there)
        val aliasMap: Map[Attribute, Expression] = projList.collect {
          case a: Alias => (a.toAttribute: Attribute) -> a.child
        }.toMap
        def inlined(e: Expression): Expression = e match {
          case attr: Attribute => aliasMap.getOrElse(attr, attr)
          case other => other
        }
        val in = groupings.map(inlined)
        val typeGroup = in.collectFirst {
          case a: AttributeReference if a.name == "event_type" => a
        }
        val dayGroup = in.collectFirst {
          case e if e.dataType == DateType && e.sql == daySql => e
        }
        val shapeOk = typeGroup.nonEmpty && dayGroup.nonEmpty &&
          aggExprs.forall {
            case a: AttributeReference => true // grouping passthrough
            case al: Alias =>
              isCountOne(al.child) || {
                val c = inlined(al.child)
                typeGroup.exists(_.semanticEquals(c)) ||
                  dayGroup.exists(_.semanticEquals(c))
              }
            case _ => false
          } && aggExprs.count(e =>
            e.isInstanceOf[Alias] &&
              isCountOne(e.asInstanceOf[Alias].child)) == 1
        if (!shapeOk) agg
        else mvPlan(mvPath) match {
          case None => agg // MV unreadable → serve from base, never fail
          case Some(mv) =>
            val mvCol = mv.output.map(a => a.name -> a).toMap
            if (!Seq("event_type", "day", "n").forall(mvCol.contains))
              agg
            else {
              // role per output column, original exprIds preserved
              val roles: Seq[(Attribute, Attribute)] =
                agg.output.zip(aggExprs).map { case (out, src) =>
                  val role = src match {
                    case al: Alias if isCountOne(al.child) => mvCol("n")
                    case other =>
                      val c = inlined(other match {
                        case al: Alias => al.child
                        case e => e
                      })
                      if (typeGroup.exists(_.semanticEquals(c)))
                        mvCol("event_type")
                      else mvCol("day")
                  }
                  (out, role)
                }
              // Schema-drift guard: Alias(role, name)(exprId) keeps the
              // exprId but TAKES the MV column's dataType — an MV
              // written with a drifted schema (n as INT, day as
              // TIMESTAMP) would silently change the query's types
              // downstream (wrong results or codegen/cast failures).
              // Require exact type match; otherwise serve from base.
              // Nullability: parquet columns always read back nullable,
              // so a nullable MV column feeding a non-nullable output
              // (count(1)) is wrapped in KnownNotNull — the MV
              // registration IS the registrar's no-nulls assertion.
              val typesOk = roles.forall { case (out, role) =>
                role.dataType == out.dataType
              }
              if (!typesOk) agg
              else {
                val outs: Seq[NamedExpression] = roles.map {
                  case (out, role) =>
                    val child: Expression =
                      if (role.nullable && !out.nullable)
                        KnownNotNull(role)
                      else role
                    Alias(child, out.name)(exprId = out.exprId)
                }
                Project(outs, mv)
              }
            }
        }
    }

  private def relPath(lr: LogicalRelation): String = lr.relation match {
    case h: HadoopFsRelation => h.location.rootPaths.mkString(",")
    case _ => ""
  }

  private def mvPlan(path: String): Option[LogicalPlan] =
    try Some(SparkSession.active.read.parquet(path)
      .queryExecution.analyzed)
    catch { case scala.util.control.NonFatal(_) => None }
}

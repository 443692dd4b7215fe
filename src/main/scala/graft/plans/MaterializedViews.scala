package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, AttributeReference, Cast, Coalesce, Expression, Literal, NamedExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Count, Max, Min, Sum}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.types.LongType

/** Materialized-view rewrite — the one Catalyst `Rule[LogicalPlan]` in
  * this engine, for the one capability the DataFrame surface can't
  * express declaratively: serving a query from a PRE-AGGREGATED table
  * the user never mentioned.
  *
  * A registered view says: "table `mv` holds, per `groupCols` group of
  * the base table, the row count in `countCol` and per-column sums in
  * `sums`". The rule then rewrites
  *
  *   Aggregate(G ⊆ groupCols, [sum(c) / count(*) / count(1)], baseScan)
  *
  * into the same aggregate over the MV scan — `sum(c)` becomes
  * `sum(mv.sum_c)` and `count(*)` becomes `sum(mv.n)` (re-aggregation,
  * because the query may group coarser than the view). Output attribute
  * ids and types are preserved exactly (aliases keep the original
  * ExprIds; sums that widen re-cast to the original type), so the
  * rewritten plan is indistinguishable downstream. Anything the view
  * can't answer exactly — filters, expressions in keys, other
  * aggregates, distinct — leaves the plan untouched: correctness never
  * depends on the rule firing (MaterializedViewSpec proves rewritten ≡
  * direct on the real tables).
  *
  * At 100 TB this is the difference between a dashboard query scanning
  * the fact table and scanning a table 10^4× smaller; pairing it with
  * `Cdc.refreshAgg` (which maintains exactly such count+sum state
  * incrementally) closes the loop: ingest maintains the MV, the rule
  * routes queries to it.
  *
  * Scope (by design): sum/count/min/max over plain columns, grouping
  * by plain columns — min/max re-aggregate exactly (min of per-group
  * mins); avg must rewrite to sum/count (not avg of avgs) and is
  * deliberately excluded rather than half-supported. min/max views are
  * correct for insert-only maintenance (a delete can strand a stale
  * extremum — the classic MV limitation).
  */
object MaterializedViews {

  /** One registered view definition.
    *
    * @param basePathMarker substring identifying the BASE table's file
    *        location (matched against the scan's root paths)
    * @param mvTable        session table/view name holding the aggregate
    * @param groupCols      the view's grouping columns (query must group
    *        by a subset)
    * @param sums           base column → mv column holding sum(base col)
    * @param countCol       mv column holding count(*) per group
    * @param mins           base column → mv column holding min(base col)
    * @param maxs           base column → mv column holding max(base col)
    */
  final case class MvDef(
      basePathMarker: String,
      mvTable: String,
      groupCols: Set[String],
      sums: Map[String, String],
      countCol: String,
      mins: Map[String, String] = Map.empty,
      maxs: Map[String, String] = Map.empty)

  final class Rewrite(spark: SparkSession, defs: Seq[MvDef])
      extends Rule[LogicalPlan] {

    override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
      case agg @ Aggregate(groupExprs, resultExprs, child, _) =>
        findMv(child)
          .filter(mv => rewritable(mv, groupExprs, resultExprs))
          .flatMap(mv => rewrite(mv, agg))
          .getOrElse(agg)
    }

    /** The base-table scan this child wraps, if it is ONLY a scan (an
      * optional column-pruning Project over a file relation — any
      * Filter or computation means the MV can't serve it exactly). */
    private def findMv(child: LogicalPlan): Option[MvDef] = child match {
      case Project(projectList, grandchild)
          if projectList.forall(_.isInstanceOf[AttributeReference]) =>
        findMv(grandchild)
      case rel: LogicalRelation =>
        rel.relation match {
          case fs: HadoopFsRelation =>
            val paths = fs.location.rootPaths.map(_.toString)
            defs.find(d => paths.exists(_.contains(d.basePathMarker)))
          case _ => None
        }
      case _ => None
    }

    private def rewritable(mv: MvDef, groupExprs: Seq[Expression],
        resultExprs: Seq[NamedExpression]): Boolean = {
      val groupsOk = groupExprs.forall {
        case a: AttributeReference => mv.groupCols.contains(a.name)
        case _ => false
      }
      val resultsOk = resultExprs.forall {
        case a: AttributeReference => mv.groupCols.contains(a.name)
        case Alias(ae: AggregateExpression, _) if !ae.isDistinct && ae.filter.isEmpty =>
          ae.aggregateFunction match {
            // count(*) / count(1) only: count(NULL) is always 0 and must
            // NOT be rewritten to SUM(n) = row count
            case Sum(c: AttributeReference, _)                 => mv.sums.contains(c.name)
            case Count(Seq(Literal(v, _))) if v != null        => true
            case Min(c: AttributeReference)                    => mv.mins.contains(c.name)
            case Max(c: AttributeReference)                    => mv.maxs.contains(c.name)
            case _                                             => false
          }
        case _ => false
      }
      groupsOk && resultsOk
    }

    private def rewrite(mv: MvDef, agg: Aggregate): Option[LogicalPlan] = {
      // optimized, not analyzed: the rewrite splices this subtree into an
      // already-optimized plan, past the point where the planner would
      // eliminate SubqueryAlias / resolve views for us. (Optimizing the
      // bare table scan cannot re-enter this rule: the scan contains no
      // Aggregate over a registered base path.) Re-derived PER FIRING on
      // purpose: a cached plan would reuse ExprIds, and the same MV
      // appearing twice in one query would then carry duplicate ids.
      val mvPlan = spark.table(mv.mvTable).queryExecution.optimizedPlan
      // Spark resolves column names with the session resolver (case-
      // insensitive by default) — the MV lookup must match, or a case
      // difference between the MvDef and the table silently misses
      val resolver = spark.sessionState.analyzer.resolver
      def findAttr(name: String): Option[Attribute] =
        mvPlan.output.find(a => resolver(a.name, name))
      // a registration whose mapped columns don't exist in the MV table
      // (typo, schema drift) must DECLINE the rewrite — the base plan is
      // always correct, and "correctness never depends on the rule
      // firing" has to include misregistration, not just query shape
      val needed: Seq[String] =
        agg.groupingExpressions.collect { case a: AttributeReference => a.name } ++
        agg.aggregateExpressions.flatMap {
          case a: AttributeReference => Seq(a.name)
          case Alias(ae: AggregateExpression, _) => ae.aggregateFunction match {
            case Sum(c: AttributeReference, _) => mv.sums.get(c.name).toSeq
            case Count(_)                      => Seq(mv.countCol)
            case Min(c: AttributeReference)    => mv.mins.get(c.name).toSeq
            case Max(c: AttributeReference)    => mv.maxs.get(c.name).toSeq
            case _                             => Seq.empty
          }
          case _ => Seq.empty
        }
      if (!needed.forall(n => findAttr(n).isDefined)) {
        logWarning(s"materialized view ${mv.mvTable} lacks column(s) " +
          s"${needed.filter(n => findAttr(n).isEmpty).mkString(", ")} — " +
          "declining the rewrite (query served from the base table)")
        return None
      }
      def mvAttr(name: String): Attribute =
        findAttr(name).getOrElse( // unreachable: validated above
          throw new IllegalStateException(
            s"materialized view ${mv.mvTable} lacks column '$name'"))

      // every output keeps its original name AND ExprId, so parents of
      // the aggregate see identical attributes
      // type guard for drifted MV columns: casts are spliced POST-analysis
      // (ResolveTimeZone never runs on them), so build them with the
      // session zone — a tz-less temporal cast would be unresolved here
      def castBack(e: Expression, dt: org.apache.spark.sql.types.DataType): Expression =
        if (e.dataType == dt) e
        else Cast(e, dt, Some(spark.sessionState.conf.sessionLocalTimeZone))
      val newResult: Seq[NamedExpression] = agg.aggregateExpressions.map {
        case a: AttributeReference =>
          Alias(mvAttr(a.name), a.name)(a.exprId, a.qualifier)
        case al @ Alias(ae: AggregateExpression, name) =>
          val rewritten: Expression = ae.aggregateFunction match {
            case s @ Sum(c: AttributeReference, _) =>
              // re-summing a widened sum widens again (decimals): cast back
              castBack(
                ae.copy(aggregateFunction = s.copy(child = mvAttr(mv.sums(c.name)))),
                ae.dataType)
            case Count(_) =>
              val re = ae.copy(aggregateFunction = Sum(mvAttr(mv.countCol)))
              // global count(*) over an empty base is 0, but SUM over the
              // (empty) MV is NULL — coalesce restores count semantics
              Coalesce(Seq(castBack(re, LongType), Literal(0L)))
            case Min(c: AttributeReference) =>
              // same type guard as Sum: an MV whose min/max column drifted
              // (schema evolution) must not change the aggregate's output
              // type under the consumer
              castBack(
                ae.copy(aggregateFunction = Min(mvAttr(mv.mins(c.name)))),
                ae.dataType)
            case Max(c: AttributeReference) =>
              castBack(
                ae.copy(aggregateFunction = Max(mvAttr(mv.maxs(c.name)))),
                ae.dataType)
            case other =>
              throw new IllegalStateException(s"unexpected aggregate $other")
          }
          Alias(rewritten, name)(al.exprId, al.qualifier)
        case other =>
          throw new IllegalStateException(s"unexpected result expr $other")
      }
      val newGroup = agg.groupingExpressions.map {
        case a: AttributeReference => mvAttr(a.name)
        case other => other
      }
      Some(Aggregate(newGroup, newResult, mvPlan))
    }
  }

  /** Install rewrite rules on a live session (idempotent per defs list).
    * Uses experimental extraOptimizations — the post-hoc counterpart of
    * injecting at session build time. */
  def register(spark: SparkSession, defs: Seq[MvDef]): Unit = {
    val rule = new Rewrite(spark, defs)
    spark.experimental.extraOptimizations =
      spark.experimental.extraOptimizations
        .filterNot(_.isInstanceOf[Rewrite]) :+ rule
  }

  def clear(spark: SparkSession): Unit =
    spark.experimental.extraOptimizations =
      spark.experimental.extraOptimizations.filterNot(_.isInstanceOf[Rewrite])
}

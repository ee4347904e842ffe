package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate._
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LogicalPlan, Union}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{DecimalType, LongType}

/** Optimizer rule (the SURVEY.md §4.3 declared stretch, VERDICT r04
  * #5): push a decomposable aggregation below a UNION ALL — the
  * multi-batch ingest shape (q09: per-file batches appended, then
  * aggregated).
  *
  *   Aggregate(g, aggs, Union(c1..cn))
  *     ==>
  *   Aggregate(g, merge(aggs), Union(Aggregate(g, partial(aggs), ci)))
  *
  * Decomposable means each aggregate call is SUM (non-decimal — re-
  * summing a decimal widens its precision and changes the schema),
  * COUNT (merged as SUM of partial counts, coalesced to 0 to keep
  * count's non-null contract), MIN or MAX, with no DISTINCT and no
  * FILTER clause. Anything else leaves the plan untouched, as does a
  * union whose children already aggregate (idempotence under the
  * fixed-point batch).
  *
  * Why it matters at 100 TB: Spark's physical partial aggregation
  * already combines map-side WITHIN each scan, so on a one-shot query
  * this rewrite is roughly neutral (measured ±noise at sf0.1). The
  * value is structural: with the aggregate pushed to each union arm,
  * per-BATCH aggregates become independent plan subtrees — exactly the
  * shape an incremental ingest pipeline materializes per day and then
  * merges (the q03-q08 materialized-fact architecture, and q102/q105's
  * merge-the-sketches story, derived by the optimizer instead of by
  * hand). Each arm can also be satisfied from a pre-aggregated store
  * without touching the others' inputs.
  *
  * Exactness notes: double SUM merge re-associates the addition order
  * (sum of per-batch sums); Spark's own partial aggregation already
  * does exactly that, so the rewrite introduces no NEW nondeterminism
  * class — and the repo-wide money convention (exact cents / rounded
  * display) is what actually pins the hash-compare. Installed with the
  * session by [[GraftExtensions]].
  */
object PushAggThroughUnion extends Rule[LogicalPlan] {

  /** Partial/merge decomposition for one aggregate call, given the
    * attribute carrying the partial value in the unioned frame. */
  private def mergeExpr(f: AggregateFunction, partial: Attribute)
      : Option[Expression] = f match {
    case s: Sum if !s.dataType.isInstanceOf[DecimalType] =>
      Some(AggregateExpression(
        s.withNewChildren(Seq(partial)).asInstanceOf[AggregateFunction],
        Complete, isDistinct = false))
    case _: Min =>
      Some(AggregateExpression(Min(partial), Complete, isDistinct = false))
    case _: Max =>
      Some(AggregateExpression(Max(partial), Complete, isDistinct = false))
    case _: Count =>
      // count is non-nullable; sum-of-counts is null only for an empty
      // group, which cannot occur (a group exists only via some partial
      // row) — coalesce restores the static non-null schema anyway
      Some(Coalesce(Seq(
        AggregateExpression(Sum(partial), Complete, isDistinct = false),
        Literal(0L, LongType))))
    case _ => None
  }

  private def decomposable(f: AggregateFunction): Boolean = f match {
    case s: Sum => !s.dataType.isInstanceOf[DecimalType]
    case _: Min | _: Max | _: Count => true
    case _ => false
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case agg @ Aggregate(groupings, results, union: Union, _)
        if union.children.length >= 2 &&
          !union.byName &&
          union.resolved && agg.resolved &&
          !union.children.exists(_.isInstanceOf[Aggregate]) &&
          groupings.forall {
            case _: AttributeReference => true
            case a: Alias => a.deterministic
            case _ => false
          } &&
          results.forall {
            case _: AttributeReference => true
            case a: Alias => a.deterministic
            case _ => false
          } && {
            val aggCalls = results.flatMap(_.collect {
              case ae: AggregateExpression => ae })
            aggCalls.nonEmpty && aggCalls.forall(ae =>
              !ae.isDistinct && ae.filter.isEmpty &&
                decomposable(ae.aggregateFunction))
          } =>
      rewrite(agg, groupings, results, union).getOrElse(agg)
  }

  private def rewrite(agg: Aggregate, groupings: Seq[Expression],
      results: Seq[NamedExpression], union: Union): Option[LogicalPlan] = {
    val unionOut = union.output
    // distinct aggregate calls across all result expressions, in order
    val aggCalls: Seq[AggregateExpression] = {
      val seen = scala.collection.mutable.LinkedHashMap
        .empty[Expression, AggregateExpression]
      results.foreach(_.foreach {
        case ae: AggregateExpression =>
          if (!seen.contains(ae.canonicalized)) seen(ae.canonicalized) = ae
        case _ => ()
      })
      seen.values.toSeq
    }
    // one partial aggregate per union arm: group exprs remapped to the
    // arm's own attributes, each aggregate call computed as-is
    val partials = union.children.map { child =>
      val attrMap = AttributeMap(unionOut.zip(child.output))
      def remap(e: Expression): Expression = e.transform {
        case a: Attribute => attrMap.getOrElse(a, a)
      }
      val pGroups: Seq[NamedExpression] = groupings.map {
        case a: AttributeReference =>
          remap(a).asInstanceOf[NamedExpression]
        case al: Alias => Alias(remap(al.child), al.name)()
      }
      val pAggs: Seq[NamedExpression] = aggCalls.zipWithIndex.map {
        case (ae, i) => Alias(remap(ae), s"_partial$i")()
      }
      Aggregate(pGroups.map {
        case al: Alias => al.child
        case e => e
      }, pGroups ++ pAggs, child)
    }
    val newUnion = Union(partials)
    val uOut = newUnion.output
    val nG = groupings.length
    val groupAttrs = uOut.take(nG)
    val partialAttrs = uOut.drop(nG)
    val merges: Map[Expression, Expression] =
      aggCalls.zip(partialAttrs).flatMap { case (ae, pAttr) =>
        mergeExpr(ae.aggregateFunction, pAttr).map(ae.canonicalized -> _)
      }.toMap
    if (merges.size != aggCalls.length) return None
    // map each original grouping (keyed canonicalized: the attr itself,
    // or an alias grouping's child expression) to the corresponding
    // unioned group column
    val groupMap: Map[Expression, Attribute] = groupings.zip(groupAttrs)
      .map {
        case (a: AttributeReference, n) => a.canonicalized -> n
        case (al: Alias, n) => al.child.canonicalized -> n
        case (other, n) => other.canonicalized -> n
      }.toMap
    def rebuild(e: Expression): Expression = e.transformDown {
      case ae: AggregateExpression if merges.contains(ae.canonicalized) =>
        merges(ae.canonicalized)
      case other if groupMap.contains(other.canonicalized) =>
        groupMap(other.canonicalized)
    }
    val finalResults: Seq[NamedExpression] = results.map {
      case a: AttributeReference =>
        // a bare attr in the output must BE a grouping column; the
        // union may reuse arm-1's attr instances, so when the new
        // group attr already carries the original exprId, pass it
        // through — otherwise re-alias to preserve the output id
        groupMap.get(a.canonicalized) match {
          case None => return None // unmapped passthrough column
          case Some(n) if n.exprId == a.exprId => n
          case Some(n) => Alias(n, a.name)(exprId = a.exprId)
        }
      case al: Alias =>
        Alias(rebuild(al.child), al.name)(exprId = al.exprId,
          qualifier = al.qualifier, explicitMetadata = al.explicitMetadata)
    }
    val rebuilt = Aggregate(groupAttrs, finalResults, newUnion)
    // safety net: every rebuilt expression must reference only the new
    // union's output — anything left dangling means a shape this rule
    // does not understand, so leave the original plan alone
    if (finalResults.exists(r => !r.references.subsetOf(newUnion.outputSet)))
      None
    else Some(rebuilt)
  }
}

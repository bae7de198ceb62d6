package graft.plans

import scala.collection.mutable

import org.apache.spark.sql.catalyst.analysis.MultiInstanceRelation
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, AttributeReference, ExprId, NamedExpression}
import org.apache.spark.sql.catalyst.plans.QueryPlan
import org.apache.spark.sql.catalyst.plans.logical.{LeafNode, LogicalPlan, ReturnAnswer, Statistics}
import org.apache.spark.sql.execution.SparkPlan

/** A selection whose plan is already analyzed and optimized: its
  * shape's template with this query's values bound
  * (`graft.operators.SelectionTemplates`). As a leaf it hides that plan
  * from the per-query analyzer and optimizer, so they run over this one
  * node; [[PreparedSelectionScan]] then hands the plan to the physical
  * planner, so every query still gets new physical nodes (and SQL
  * metrics of its own), and its head cover still reaches the file scan
  * through [[PushedRangeScan]]. A template holds no exchange, so
  * adaptive execution never needs to re-plan inside it. */
case class PreparedSelection(plan: LogicalPlan) extends LeafNode with MultiInstanceRelation {
  override def output: Seq[Attribute] = plan.output
  override def computeStats(): Statistics = plan.stats
  override def innerChildren: Seq[QueryPlan[_]] = Seq(plan)

  /** The same selection under fresh expression ids: two selections of
    * one shape share their template's ids, so a plan that reads both (a
    * join, an except) gets one renamed. */
  override def newInstance(): LogicalPlan = {
    val ids = mutable.HashMap.empty[ExprId, ExprId]
    def fresh(id: ExprId): ExprId = ids.getOrElseUpdate(id, NamedExpression.newExprId)
    PreparedSelection(plan.transformAllExpressions {
      case a: AttributeReference => a.withExprId(fresh(a.exprId))
      case a: Alias => Alias(a.child, a.name)(fresh(a.exprId), a.qualifier,
        a.explicitMetadata, a.nonInheritableMetadataKeys)
    })
  }
}

/** Plans a [[PreparedSelection]] as its bound plan, which the planner
  * then plans with every strategy as it would the query's own. At the
  * root the plan stays under `ReturnAnswer`, so a collected kNN still
  * plans as one top-k. Registered when a blocked cloud is built and by
  * `graft.GraftExtensions`. */
object PreparedSelectionScan extends SessionStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case ReturnAnswer(PreparedSelection(p)) => planLater(ReturnAnswer(p)) :: Nil
    case PreparedSelection(p) => planLater(p) :: Nil
    case _ => Nil
  }
}

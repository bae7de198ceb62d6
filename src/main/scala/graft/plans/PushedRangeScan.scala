package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{And, Expression, ExpressionSet, PredicateHelper}
import org.apache.spark.sql.catalyst.planning.ScanOperation
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan}
import org.apache.spark.sql.execution.{FilterExec, SparkPlan, SparkStrategy}
import org.apache.spark.sql.execution.datasources.{FileSourceStrategy, HadoopFsRelation, LogicalRelation}

import graft.functions.PushedRanges

/** Planner strategy that splits a [[PushedRanges]] head predicate at
  * planning time: its coarse cover goes to the file scan, its exact
  * binary search stays the only per-row head test.
  *
  * Spark evaluates every pushed data filter again per row after the
  * scan, with its literals inlined into the generated code. A cover
  * written into the query as an OR-of-BETWEEN would therefore cost an
  * O(ranges) test per row and one compiled class per distinct query.
  * Here the cover never enters the logical plan: for a scan over a file
  * relation whose filters hold a marker, this strategy plans
  * `FileSourceStrategy` over those filters plus each marker's cover (so
  * `PushedFilters` and parquet page pruning see it), then drops the
  * cover conjuncts from the post-scan `FilterExec`. The marker that
  * remains implies the cover, so the dropped terms were redundant.
  *
  * Registered idempotently by [[SessionStrategy.register]] when a
  * blocked cloud is built, and by `graft.GraftExtensions`. A marker
  * planned without the strategy returns the same rows; it only reads
  * every page. */
object PushedRangeScan extends SessionStrategy with PredicateHelper {

  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case ScanOperation(_, _, filters, LogicalRelation(_: HadoopFsRelation, _, _, _, _))
        if filters.exists(_.isInstanceOf[PushedRanges]) =>
      val covers = Seq.newBuilder[Expression]
      // markers that are top-level conjuncts only: there the cover is
      // implied by the conjunction, so dropping it after the scan is safe
      val withCovers = plan.transformUp { case f: Filter =>
        val conjuncts = splitConjunctivePredicates(f.condition)
        val added = conjuncts.collect { case m: PushedRanges => m.coverPredicate }
        covers ++= added
        if (added.isEmpty) f else f.copy(condition = (conjuncts ++ added).reduce(And))
      }
      val drop = ExpressionSet(covers.result().flatMap(splitConjunctivePredicates))
      FileSourceStrategy(withCovers).map(_.transformUp {
        case f: FilterExec =>
          splitConjunctivePredicates(f.condition).filterNot(drop.contains)
            .reduceOption(And).map(FilterExec(_, f.child)).getOrElse(f.child)
      })
    case _ => Nil
  }
}

/** A planner strategy a blocked cloud adds to its own session. */
trait SessionStrategy extends SparkStrategy {
  /** Add this strategy to `spark`'s planner once. */
  def register(spark: SparkSession): Unit = spark.experimental.synchronized {
    if (!spark.experimental.extraStrategies.contains(this))
      spark.experimental.extraStrategies = spark.experimental.extraStrategies :+ this
  }
}

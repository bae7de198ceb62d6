package graft.plans

import org.apache.spark.sql.catalyst.expressions.{And, Expression, Literal, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{BooleanType, DataType, LongType}

import graft.core.{Bbox, Morton, MortonRange}
import graft.functions.{PushedRanges, QueryParam}

/** SQL-level SFC pruning as a Catalyst optimizer rewrite.
  *
  * [[HeadInBbox]] is an ordinary (evaluable, codegen'd) predicate:
  * "does this block head's quadtree cell intersect the quantized
  * bbox". A plain SQL user writes
  * `WHERE graft_head_in_bbox(sfc_head, x0, x1, y0, y1, total, tail)`
  * and gets correct results on any session. With [[GraftExtensions]]
  * installed, [[RewriteHeadBboxFilter]] additionally rewrites the
  * marker during optimization into
  * `pushed_ranges(head) AND marker[pruned]` — the head-predicate form
  * the DataFrame path uses (graft.functions.PushedRanges): an exact
  * binary search per row whose coarse cover [[PushedRangeScan]] pushes
  * to the scan (parquet page statistics prune on it), while the exact
  * cell test stays a cheap residual. The decomposition is budgeted
  * (<= 256 cells, coarse-flushed beyond — a superset), so the
  * conjunction, not the ranges alone, preserves semantics; the
  * `pruned` flag marks rewritten markers so the rule terminates. The
  * residual binds its four bounds by reference, so bboxes that differ
  * only in bounds share one compiled class.
  */
case class HeadInBbox(child: Expression, xMin: Long, xMax: Long,
    yMin: Long, yMax: Long, totalBits: Int, tailBits: Int,
    pruned: Boolean = false) extends UnaryExpression {
  require(totalBits >= tailBits && tailBits >= 0 && totalBits <= 62,
    s"bad key split $totalBits/$tailBits")
  override def dataType: DataType = BooleanType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "head_in_bbox"
  override protected def nullSafeEval(h: Any): Any =
    HeadInBbox.touches(h.asInstanceOf[Long], tailBits, xMin, xMax, yMin, yMax)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val Seq(x0, x1, y0, y1) = Seq(xMin, xMax, yMin, yMax).map(QueryParam.bind(ctx, _, LongType))
    defineCodeGen(ctx, ev, h =>
      s"graft.plans.HeadInBbox.touches($h, $tailBits, $x0, $x1, $y0, $y1)")
  }
  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

object HeadInBbox {
  /** Does the quadtree cell of `head` touch the inclusive grid bbox? */
  def touches(head: Long, tailBits: Int, x0: Long, x1: Long, y0: Long, y1: Long): Boolean = {
    val lo = head << tailBits
    val hi = lo | ((1L << tailBits) - 1L)
    !(Morton.decodeX(hi) < x0 || Morton.decodeX(lo) > x1 ||
      Morton.decodeY(hi) < y0 || Morton.decodeY(lo) > y1)
  }
}

/** Rewrites un-pruned [[HeadInBbox]] markers into
  * `pushed_ranges(head) AND marker[pruned]`. Registered via
  * `SparkSessionExtensions.injectOptimizerRule` (GraftExtensions) or
  * `spark.experimental.extraOptimizations`. */
object RewriteHeadBboxFilter extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformAllExpressions {
    case e @ HeadInBbox(head, x0, x1, y0, y1, totalBits, tailBits, false) =>
      val hr = MortonRange.decompose(
        Bbox(x0.toDouble, x1.toDouble, y0.toDouble, y1.toDouble),
        totalBits, tailBits, maxCells = 256)
      if (hr.isEmpty) Literal(false, BooleanType)
      else And(PushedRanges(head, hr.all), e.copy(pruned = true))
  }
}

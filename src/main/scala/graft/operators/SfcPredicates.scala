package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.functions.{col, lit}

import graft.core.HeadRanges
import graft.functions.{sfc, InSortedRanges, PushedRanges}

/** The filter step both blocked stores share: one scan of the blocks a
  * query's head cover touches, each tagged with whether it lies wholly
  * inside the query. The scan predicate, `sfc.pushed_ranges`
  * ([[graft.functions.PushedRanges]]), is an exact binary search per
  * row with constant-size generated code (two selections that differ
  * only in geometry compile one class); its coarse cover (≤ 48 ranges)
  * rides as data, and `graft.plans.PushedRangeScan` pushes it to the
  * file scan for page pruning. The contained tag is one more binary
  * search per block — never a second scan. */
private[operators] object SfcPredicates {

  /** The per-block flag a store carries through its explode: the
    * point's block lies wholly inside the query (no exact test needed). */
  val Contained = "__contained"

  /** The blocks under the head cover `hr` (sorted and merged, as
    * decomposed), read in one scan, and their contained flag — always
    * the same expression, so it never changes the generated code. An
    * empty cover reads nothing. */
  def candidateBlocks(blocks: DataFrame, hr: HeadRanges): (DataFrame, Column) =
    if (hr.isEmpty) (blocks.filter(lit(false)), lit(false))
    else (blocks.filter(sfc.pushed_ranges(col("sfc_head"), hr.all)),
      sfc.in_sorted_ranges(col("sfc_head"), los(hr), his(hr)))

  /** The scan predicate and contained tag of a plan built by
    * [[candidateBlocks]], rebuilt for the non-empty cover `hr`. */
  def rebind(hr: HeadRanges): PartialFunction[Expression, Expression] = {
    case p: PushedRanges => PushedRanges(p.child, hr.all)
    case t: InSortedRanges => InSortedRanges(t.child, los(hr), his(hr))
  }

  private def los(hr: HeadRanges): Array[Long] = hr.contained.map(_._1).toArray
  private def his(hr: HeadRanges): Array[Long] = hr.contained.map(_._2).toArray
}

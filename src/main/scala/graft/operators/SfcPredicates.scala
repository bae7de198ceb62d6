package graft.operators

import org.apache.spark.sql.Column

import graft.functions.sfc

/** Per-block predicates over decomposed SFC head ranges, shared by the
  * 2D and 3D blocked stores.
  *
  * The scan predicate itself is `sfc.pushed_ranges(sfc_head, ranges)`
  * ([[graft.functions.PushedRanges]]), one form for both sides of the
  * scan. Per row it is an exact binary search over the sorted ranges
  * (O(log ranges), constant-size generated code, the arrays bound by
  * reference), so two selections that differ only in geometry compile
  * one class. For parquet page pruning it carries a coarse cover (at
  * most 48 ranges, merged at the widest gaps; page statistics are
  * coarse anyway) as data. The planner strategy
  * `graft.plans.PushedRangeScan` pushes that cover to the file scan as
  * a literal OR-of-BETWEEN and keeps it out of the post-scan filter,
  * so neither its literals nor its per-row cost reach generated code. */
private[operators] object SfcPredicates {

  /** Name of the per-block flag [[containedTag]] feeds through the
    * explode: true when the point's block lies wholly inside the query. */
  val Contained = "__contained"

  /** Per-block flag over a scan already filtered to contained ∪ partial:
    * head in `contained` (the blocks whose points may skip the exact
    * test), as one binary search per block — never a second scan. Always
    * the same expression, also when no or every block is contained, so
    * the flag does not change the generated code. */
  def containedTag(c: Column, hr: graft.core.HeadRanges): Column = {
    val merged = graft.core.MortonRange.mergeRanges(hr.contained)
    sfc.in_sorted_ranges(c, merged.map(_._1).toArray, merged.map(_._2).toArray)
  }
}

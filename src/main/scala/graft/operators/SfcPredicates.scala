package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.{col, lit}

/** Scan predicates over decomposed SFC head ranges, shared by the 2D
  * and 3D blocked stores.
  *
  * Two cost surfaces pull in opposite directions: parquet page pruning
  * (the column index's per-page min/max) wants the ranges as a pushable
  * OR-of-BETWEEN, but Spark re-evaluates pushed data filters per ROW,
  * where a fine
  * decomposition's OR is O(ranges) per row and overflows whole-stage
  * codegen's method limits past ~1k terms (measured: a 2048-cell
  * z-slab decomposition ran 6x slower than 512 through the OR tree).
  * So the predicate splits: a COARSENED cover (<= maxPushed ranges,
  * merged at the widest gaps — page stats are themselves coarse,
  * so little pruning is lost) that Catalyst pushes down, AND an exact
  * binary-search membership expression (O(log ranges) per row,
  * constant-size generated code) that restores full precision. Fine
  * decompositions are then cheap at the row level, so range budgets
  * can grow with dimensionality instead of being capped by predicate
  * cost. */
private[operators] object SfcPredicates {

  /** Balanced OR tree: a left-deep reduce of hundreds of ranges
    * overflows Catalyst's recursive Column-node converter. */
  private def orAll(cs: IndexedSeq[Column]): Column =
    if (cs.length == 1) cs.head
    else orAll(cs.grouped(2).map(g => if (g.length == 2) g(0) || g(1) else g(0)).toIndexedSeq)

  private def between(c: Column, r: (Long, Long)): Column =
    if (r._1 == r._2) c === lit(r._1) else c.between(lit(r._1), lit(r._2))

  /** Merge sorted disjoint ranges down to `k` by keeping the k-1
    * widest gaps as separators — the cover that loses the least
    * pruning surface. */
  private def coarsen(sorted: IndexedSeq[(Long, Long)], k: Int): IndexedSeq[(Long, Long)] = {
    if (sorted.length <= k) return sorted
    val cuts = (1 until sorted.length)
      .sortBy(i => -(sorted(i)._1 - sorted(i - 1)._2))
      .take(k - 1).sorted
    val bounds = (0 +: cuts) :+ sorted.length
    (0 until bounds.length - 1).map { j =>
      (sorted(bounds(j))._1, sorted(bounds(j + 1) - 1)._2)
    }
  }

  /** Scan predicate: head in any of `ranges` (disjoint, any order). */
  def headIn(c: Column, ranges: Seq[(Long, Long)], maxPushed: Int = 48): Column = {
    val sorted = ranges.sortBy(_._1).toIndexedSeq
    val pushed = orAll(coarsen(sorted, maxPushed).map(between(c, _)))
    if (sorted.length <= maxPushed) pushed
    else pushed && graft.functions.sfc.in_sorted_ranges(c,
      sorted.map(_._1).toArray, sorted.map(_._2).toArray)
  }

  /** Name of the per-block flag [[containedTag]] feeds through the
    * explode: true when the point's block lies wholly inside the query. */
  val Contained = "__contained"

  /** Per-block flag over a scan already filtered to contained ∪ partial:
    * head in `contained` (the blocks whose points may skip the exact
    * test), as one binary search per block — never a second scan. */
  def containedTag(c: Column, hr: graft.core.HeadRanges): Column =
    if (hr.contained.isEmpty) lit(false)
    else if (hr.partial.isEmpty) lit(true)
    else {
      val merged = graft.core.MortonRange.mergeRanges(hr.contained)
      graft.functions.sfc.in_sorted_ranges(c,
        merged.map(_._1).toArray, merged.map(_._2).toArray)
    }
}

package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, shiftright, size, sum}

import graft.core.Morton

/** Exact kNN seed radius from an index summary, shared by the 2D and 3D
  * stores: a per-cell point count over a Morton head prefix (≤ 4096
  * cells however large the cloud), collected once per open cloud, then
  * every seed is a driver-side lookup. It bounds the k-th distance
  * before any data is read, so a kNN query is one selection.
  *
  * Why the seed is exact. A key prefix fixes the top bits of every
  * dimension, so each histogram cell is an axis-aligned box of grid
  * coordinates, and its count is the exact number of stored points in
  * it, base and appended blocks alike. Decoded coordinates
  * (q · scale + off, or q / zDenom) are monotone in the grid coordinate
  * q, so every point of a cell lies within the distance from the query
  * to the cell box's farthest corner. The seed ranks cells by that
  * distance, takes them in order until they hold ≥ min(k, n) points and
  * returns the last one's: its circle or sphere holds those cells whole,
  * hence the k nearest. All cells together hold all n points, so this
  * ends wherever the query lies. Each box is grown by one grid step
  * per side, so rounding in the decode, in the distance and in the
  * cover's quantization cannot drop a point.
  *
  * @param off   per dimension, the original coordinate of grid 0
  * @param scale per dimension, the original size of one grid step
  * @param side  per dimension, the grid width of one cell
  * @param cells per occupied cell, its index in each dimension
  * @param n     per occupied cell, its point count
  */
private[operators] final class KnnSeed private (
    off: Array[Double], scale: Array[Double], side: Array[Long],
    cells: Array[Array[Long]], n: Array[Long]) {

  /** The radius around `p` (original coordinates, one per dimension)
    * within which at least min(k, n) stored points lie. */
  def radius(p: Array[Double], k: Int): Double = {
    val far = cells.map { cell =>
      math.sqrt(p.indices.map { i =>
        val lo = (cell(i) * side(i) - 1) * scale(i) + off(i)
        val hi = ((cell(i) + 1) * side(i)) * scale(i) + off(i)
        val f = math.max(math.abs(p(i) - lo), math.abs(p(i) - hi))
        f * f
      }.sum)
    }
    val need = math.min(k.toLong, n.sum)
    val order = far.indices.sortBy(far(_))
    var held = 0L
    var j = 0
    while (held < need) { held += n(order(j)); j += 1 }
    if (j == 0) 0.0 else far(order(j - 1))
  }
}

private[operators] object KnnSeed {

  /** The seed of a store whose blocks are keyed by a d-way Morton key
    * over the grid `axes`, d = axes.length — one pruned aggregate job.
    * The prefix is the longest (at most the head) whose cells over
    * [0, max] per axis number ≤ 4096, so a dimension whose range is
    * narrower than the others' does not waste prefix bits. `max` only
    * sizes the cells: a wrong value coarsens or refines the seed, never
    * breaks its bound. */
  def collect(blocks: DataFrame, headLen: Int, tailLen: Int, axes: Seq[GridAxis]): KnnSeed = {
    val d = axes.length
    val gridMax = axes.map(_.max)
    // dimension i holds the key bits i, i + d, … below bit `rem`
    def sides(rem: Int) = Array.tabulate(d)(i => 1L << ((rem - i + d - 1) / d))
    def nCells(rem: Int) =
      sides(rem).zip(gridMax).map { case (s, m) => (m / s + 1).toDouble }.product
    val totalBits = headLen + tailLen
    val rem = (tailLen until totalBits).find(nCells(_) <= 4096).getOrElse(totalBits)
    val side = sides(rem)
    val rows = blocks
      .groupBy(shiftright(col("sfc_head"), rem - tailLen).as("c"))
      .agg(sum(size(col("sfc_tail"))).cast("long"))
      .collect()
    new KnnSeed(axes.map(_.off).toArray, axes.map(_.scale).toArray, side,
      rows.map(r => Array.tabulate(d)(i => Morton.decode(r.getLong(0) << rem, d, i) / side(i))),
      rows.map(_.getLong(1)))
  }
}

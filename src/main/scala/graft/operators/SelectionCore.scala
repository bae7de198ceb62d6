package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.functions.{col, lit}

import graft.core.{HeadRanges, MortonRange}
import graft.functions.{sfc, InSortedRanges, PushedRanges}

/** One dimension of a blocked cloud's grid: grid coordinate q decodes to
  * q · scale + off, `quantize` maps an original coordinate onto the grid
  * (unrounded, in the store's own IEEE form) and `max` is the largest
  * stored grid coordinate. */
private[operators] final case class GridAxis(off: Double, scale: Double, max: Long,
    quantize: Double => Double)

/** An inclusive box of grid coordinates, one (lo, hi) per dimension. */
private[operators] final case class GridBox(lo: Array[Long], hi: Array[Long]) {
  def isEmpty: Boolean = lo.indices.exists(i => lo(i) > hi(i))
}

/** The selection path both blocked clouds share, over a d-way Morton key
  * (d = 2 or 3): the reference's filter–refine plan
  * (retrieve_data.py:103-153, range_search.py:18-47) written once. A
  * query's original-coordinate box becomes an inclusive [[GridBox]]; its
  * Morton cover, decomposed within the store's `budget` of ranges,
  * prunes heads; ONE scan reads the candidate blocks and `explode` turns
  * them into points tagged [[SelectionCore.Contained]] when their block
  * lies wholly inside the box; the cloud's exact test refines the rest.
  * Every selection is prepared ([[SelectionTemplates]]). A box with no
  * grid point has an empty cover and runs the same code over no blocks,
  * so its plan optimizes to an empty relation that reads no file. */
private[operators] final class SelectionCore(
    spark: SparkSession, blocks: DataFrame, headLen: Int, tailLen: Int,
    axes: Seq[GridAxis], budget: Int, explode: (DataFrame, Column) => DataFrame) {
  import SelectionCore._

  private val templates = new SelectionTemplates(spark)

  def shapes: Set[Shape] = templates.shapes

  /** The grid box of an original-coordinate box, one inclusive (min,
    * max) per dimension: grid coordinate q lies in it iff its decoded
    * coordinate lies in [min, max]. */
  def gridBox(bounds: Seq[(Double, Double)]): GridBox = {
    val (lo, hi) = axes.zip(bounds).map { case (a, (min, max)) =>
      (math.max(0L, math.ceil(a.quantize(min)).toLong), math.floor(a.quantize(max)).toLong)
    }.unzip
    GridBox(lo.toArray, hi.toArray)
  }

  /** The head cover of a grid box. The budget bounds the scan predicate
    * at any data scale; a coarser cover only moves blocks from
    * contained to partial. */
  def cover(box: GridBox): HeadRanges =
    if (box.isEmpty) HeadRanges(Vector.empty, Vector.empty)
    else MortonRange.decompose(box.lo.map(_.toDouble), box.hi.map(_.toDouble),
      headLen + tailLen, tailLen, budget)

  /** The blocks under the head cover `hr`, read in one scan, and their
    * contained flag: the reference's two-tier refinement
    * (retrieve_data.py:128-145) as a per-block flag, not a second scan.
    * The scan predicate, `sfc.pushed_ranges`, is an exact binary search
    * per row with constant-size generated code, whose coarse cover
    * `graft.plans.PushedRangeScan` pushes to the file scan for page
    * pruning; the flag is one more binary search per block. An empty
    * cover reads nothing. */
  def candidateBlocks(hr: HeadRanges): (DataFrame, Column) =
    if (hr.isEmpty) (blocks.filter(lit(false)), lit(false))
    else (blocks.filter(sfc.pushed_ranges(col("sfc_head"), hr.all)),
      sfc.in_sorted_ranges(col("sfc_head"), los(hr), his(hr)))

  /** The selection `method` (`size`: the polyline's segment count, kNN's
    * k, else 0) over the original-coordinate box `bounds`. `refine` draws
    * every query value from the [[Bindings]] and returns the step from
    * the tagged candidate points to the result, which runs only when the
    * shape has no template yet. */
  def select(method: String, bounds: Seq[(Double, Double)], size: Int = 0)(
      refine: (Bindings, GridBox) => DataFrame => DataFrame): DataFrame = {
    val box = gridBox(bounds)
    val p = new Bindings(cover(box))
    val finish = refine(p, box)
    templates.select(Shape(method, size, p.cover.isEmpty), p) {
      val (blk, tag) = candidateBlocks(p.cover)
      finish(explode(blk, tag))
    }
  }

  /** The exact kNN seed over this cloud's heads: one aggregate job per
    * opened cloud, then driver-side lookups. */
  private lazy val seed = KnnSeed.collect(blocks, headLen, tailLen, axes)

  /** A radius around `at` whose circle or sphere holds ≥ min(k, n) points. */
  def seedRadius(at: Seq[Double], k: Int): Double = seed.radius(at.toArray, k)

  /** The k nearest neighbours of `at` over the columns (x, y[, z]): the
    * seed radius holds them, so this is ONE selection of its box, where
    * `inBox` takes the candidates to (x, y, z) points, refined to the
    * radius, ranked by (d², x, y, z) and cut to k: one job. */
  def knn(at: Seq[Double], k: Int)(
      inBox: (Bindings, GridBox) => DataFrame => DataFrame): DataFrame = {
    require(k > 0, "k must be positive")
    val r = seedRadius(at, k)
    select("knn", at.map(v => (v - r, v + r)), k) { (p, box) =>
      val points = inBox(p, box)
      val d2 = dist2(Seq("x", "y", "z").take(at.length), at.map(p(_)))
      val within = d2 <= p(r * r)
      cand => points(cand).filter(within)
        .orderBy(d2.asc, col("x").asc, col("y").asc, col("z").asc).limit(k)
    }
  }
}

private[operators] object SelectionCore {

  /** The per-block flag a cloud carries through its explode: the point's
    * block lies wholly inside the query (no exact test needed). */
  val Contained = "__contained"

  /** Squared distance from the columns `cols` to the point `at`. */
  def dist2(cols: Seq[String], at: Seq[Column]): Column =
    cols.zip(at).map { case (c, q) => (col(c) - q) * (col(c) - q) }.reduce(_ + _)

  /** The scan predicate and contained flag of a plan built by
    * `candidateBlocks`, rebuilt for the non-empty cover `hr`. */
  def rebind(hr: HeadRanges): PartialFunction[Expression, Expression] = {
    case p: PushedRanges => PushedRanges(p.child, hr.all)
    case t: InSortedRanges => InSortedRanges(t.child, los(hr), his(hr))
  }

  private def los(hr: HeadRanges): Array[Long] = hr.contained.map(_._1).toArray
  private def his(hr: HeadRanges): Array[Long] = hr.contained.map(_._2).toArray
}

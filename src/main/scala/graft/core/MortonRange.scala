package graft.core

import scala.collection.mutable.ArrayBuffer

/** Inclusive 3D box in quantized grid coordinates (possibly fractional
  * bounds, e.g. a sphere's enclosing box). */
final case class Box3(xMin: Double, xMax: Double, yMin: Double, yMax: Double,
    zMin: Double, zMax: Double)

/** Result of the decomposition of a query box into block-key
  * (sfc_head) ranges, each list sorted and merged.
  *
  * @param contained head ranges whose every point is inside the box —
  *                   points from these blocks need no exact test
  * @param partial    head ranges that straddle the box boundary — their
  *                   points need tail-level (exact coordinate) refinement
  *
  * Mirrors the reference's (ranges, overlaps) pair
  * (pcsfc/range_search.py:45-47) generalized so an early-terminated
  * descent can hand back coarse partial *ranges*, not just single heads —
  * that bounds the size of the pushed scan predicate at any data scale.
  */
final case class HeadRanges(contained: Vector[(Long, Long)], partial: Vector[(Long, Long)]) {
  def isEmpty: Boolean = contained.isEmpty && partial.isEmpty
  def all: Vector[(Long, Long)] = MortonRange.mergeRanges(contained ++ partial)
}

/** Planning-time descent over the Morton prefixes of a d-dimensional
  * key, d = 2 (quadtree) or 3 (octree) — a re-derivation of reference
  * pcsfc/range_search.py:4-47, with its two bugs fixed: the
  * odd-body_len loop that never reaches full depth, and the `overlaps`
  * leak when the loop body never runs (SURVEY.md §2.8).
  *
  * It relies on one invariant that holds in any d: a bit-aligned key
  * interval [p·2^r, (p+1)·2^r) decodes to an axis-aligned box whose min
  * and max corners are the decoded min and max keys, for every r, not
  * only multiples of d. So the walk descends one key bit per level,
  * classifies each cell against the query box as contained / disjoint
  * / partial, and splits partial cells down to the head/tail boundary.
  */
object MortonRange {

  /** Decompose a 2D bbox (quantized grid coordinates, inclusive,
    * possibly fractional e.g. a circle's enclosing box). */
  def decompose(bbox: Bbox, totalBits: Int, tailBits: Int, maxCells: Int = 2048): HeadRanges =
    decompose(Array(bbox.xMin, bbox.yMin), Array(bbox.xMax, bbox.yMax),
      totalBits, tailBits, maxCells)

  def decompose(box: Box3, totalBits: Int, tailBits: Int, maxCells: Int): HeadRanges =
    decompose(Array(box.xMin, box.yMin, box.zMin), Array(box.xMax, box.yMax, box.zMax),
      totalBits, tailBits, maxCells)

  /** Decompose the box [lo(k), hi(k)] (inclusive, per dimension k) into
    * sfc_head ranges of a d-way key, d = lo.length.
    *
    * @param totalBits bit length of the full key space (headBits + tailBits)
    * @param tailBits  in-block offset bits; heads are keys >> tailBits
    * @param maxCells  budget on emitted ranges: when exceeded, remaining
    *                  partial cells are flushed as coarse partial ranges
    *                  (a correct superset — exact refinement still applies)
    */
  def decompose(lo: Array[Double], hi: Array[Double], totalBits: Int, tailBits: Int,
      maxCells: Int): HeadRanges = {
    val d = lo.length
    require(totalBits >= tailBits && tailBits >= 0, s"bad split $totalBits/$tailBits")
    require(totalBits <= d * Morton.bitsPerDim(d), s"key space too deep: $totalBits bits")
    val contained = ArrayBuffer.empty[(Long, Long)]
    val partial = ArrayBuffer.empty[(Long, Long)]

    def headRange(prefix: Long, r: Int): (Long, Long) =
      (prefix << (r - tailBits), ((prefix + 1L) << (r - tailBits)) - 1L)

    // frontier of partial cells, processed one bit-level at a time
    var frontier = ArrayBuffer[Long](0L)
    var r = totalBits
    while (frontier.nonEmpty && r > tailBits) {
      val next = ArrayBuffer.empty[Long]
      val rc = r - 1
      var i = 0
      while (i < frontier.length) {
        val p = frontier(i)
        var c = 0
        while (c < 2) {
          val child = (p << 1) | c
          val kLo = child << rc
          val kHi = ((child + 1L) << rc) - 1L
          var disjoint = false
          var inside = true
          var k = 0
          while (k < d && !disjoint) {
            val c0 = Morton.decode(kLo, d, k).toDouble
            val c1 = Morton.decode(kHi, d, k).toDouble
            disjoint = c1 < lo(k) || c0 > hi(k)
            inside = inside && c0 >= lo(k) && c1 <= hi(k)
            k += 1
          }
          if (!disjoint) {
            if (inside) contained += headRange(child, rc)
            else next += child
          }
          c += 1
        }
        i += 1
      }
      frontier = next
      r = rc
      if (contained.length + frontier.length > maxCells) {
        // budget hit: flush the remaining frontier as coarse partial ranges
        frontier.foreach(p => partial += headRange(p, r))
        frontier.clear()
      }
    }
    // cells that reached the head/tail boundary still straddling the box
    frontier.foreach(p => partial += ((p, p)))
    HeadRanges(mergeRanges(contained.toVector), mergeRanges(partial.toVector))
  }

  /** Sort + coalesce adjacent/overlapping ranges to shrink the pushed
    * scan predicate. */
  def mergeRanges(rs: Seq[(Long, Long)]): Vector[(Long, Long)] = {
    if (rs.isEmpty) return Vector.empty
    val sorted = rs.sortBy(_._1)
    val out = ArrayBuffer[(Long, Long)](sorted.head)
    sorted.tail.foreach { case (lo, hi) =>
      val (plo, phi) = out.last
      if (lo <= phi + 1) out(out.length - 1) = (plo, math.max(phi, hi))
      else out += ((lo, hi))
    }
    out.toVector
  }
}

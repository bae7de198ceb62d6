package graft.core

import org.scalatest.funsuite.AnyFunSuite

class MortonRangeSpec extends AnyFunSuite {
  private val rng = new scala.util.Random(4242)

  /** Brute-force oracle: the exact set of keys whose decoded (x, y) lies
    * in the bbox, over a small grid. */
  private def bruteKeys(bbox: Bbox, totalBits: Int): Set[Long] =
    (0L until (1L << totalBits)).filter { k =>
      bbox.contains(Morton.decodeX(k).toDouble, Morton.decodeY(k).toDouble)
    }.toSet

  /** Keys admitted by a decomposition: all keys under contained head
    * ranges, plus keys under partial ranges that pass the exact test. */
  private def admittedKeys(hr: HeadRanges, bbox: Bbox, tailBits: Int): Set[Long] = {
    val fromContained = hr.contained.flatMap { case (lo, hi) =>
      (lo << tailBits) until ((hi + 1) << tailBits)
    }
    val fromPartial = hr.partial.flatMap { case (lo, hi) =>
      ((lo << tailBits) until ((hi + 1) << tailBits)).filter { k =>
        bbox.contains(Morton.decodeX(k).toDouble, Morton.decodeY(k).toDouble)
      }
    }
    // contained ranges must be *exactly* inside: re-check, don't filter
    fromContained.foreach { k =>
      assert(bbox.contains(Morton.decodeX(k).toDouble, Morton.decodeY(k).toDouble),
        s"contained range leaked outside bbox: key $k")
    }
    (fromContained ++ fromPartial).toSet
  }

  test("decomposition ≡ brute force on small grids (8 bits, varying tail)") {
    for (_ <- 1 to 200) {
      val Seq(a, b, p, q) = Seq.fill(4)(rng.nextInt(16))
      val tail = Seq(0, 2, 4)(rng.nextInt(3))
      val bbox = Bbox(math.min(a, b), math.max(a, b), math.min(p, q), math.max(p, q))
      val hr = MortonRange.decompose(bbox, totalBits = 8, tailBits = tail)
      assert(admittedKeys(hr, bbox, tail) == bruteKeys(bbox, 8), s"bbox=$bbox tail=$tail")
    }
  }

  test("full-space bbox collapses to one contained range") {
    val hr = MortonRange.decompose(Bbox(0, 15, 0, 15), 8, 4)
    assert(hr.contained == Vector((0L, 15L)))
    assert(hr.partial.isEmpty)
  }

  test("1-cell bbox") {
    val hr = MortonRange.decompose(Bbox(5, 5, 7, 7), 8, 2)
    assert(admittedKeys(hr, Bbox(5, 5, 7, 7), 2) == Set(Morton.encode(5, 7)))
  }

  test("bbox outside the grid yields empty") {
    val hr = MortonRange.decompose(Bbox(100, 200, 100, 200), 8, 2)
    assert(hr.isEmpty)
  }

  test("odd total bits (the reference's odd-body_len bug territory)") {
    for (_ <- 1 to 100) {
      val a = rng.nextInt(32); val b = rng.nextInt(32); val y0 = rng.nextInt(8)
      val bbox = Bbox(math.min(a, b), math.max(a, b), y0, math.min(y0 + 3, 15))
      val hr = MortonRange.decompose(bbox, totalBits = 9, tailBits = 3)
      assert(admittedKeys(hr, bbox, 3) == bruteKeys(bbox, 9), s"bbox=$bbox")
    }
  }

  test("maxCells budget still yields a correct (coarser) cover") {
    val bbox = Bbox(3, 200, 7, 180)
    val fine = MortonRange.decompose(bbox, 16, 4)
    val coarse = MortonRange.decompose(bbox, 16, 4, maxCells = 4)
    assert(admittedKeys(coarse, bbox, 4) == admittedKeys(fine, bbox, 4))
    assert(coarse.contained.length + coarse.partial.length <=
      fine.contained.length + fine.partial.length)
  }

  test("mergeRanges coalesces adjacent and overlapping") {
    assert(MortonRange.mergeRanges(Seq((5L, 7L), (0L, 2L), (3L, 4L), (10L, 12L), (11L, 15L))) ==
      Vector((0L, 7L), (10L, 15L)))
  }

  private val rng3 = new scala.util.Random(7)

  /** Brute-force truth on a small 3D grid: the set of keys selected by
    * the decomposition (contained ranges directly; partial ranges with
    * the exact box test on decoded coords) must equal the set of keys
    * whose decoded (x, y, z) lies in the box [lo, hi]. */
  private def check3(lo: Array[Double], hi: Array[Double], totalBits: Int, tailBits: Int): Unit = {
    val hr = MortonRange.decompose(lo, hi, totalBits, tailBits, maxCells = 64)
    def inBox(k: Long): Boolean =
      (0 until 3).forall { i => val v = Morton.decode(k, 3, i); v >= lo(i) && v <= hi(i) }
    val nKeys = 1L << totalBits
    val got = (0L until nKeys).filter { k =>
      val head = k >> tailBits
      val inContained = hr.contained.exists { case (lo, hi) => head >= lo && head <= hi }
      val inPartial = hr.partial.exists { case (lo, hi) => head >= lo && head <= hi }
      inContained || (inPartial && inBox(k))
    }.toSet
    val want = (0L until nKeys).filter(inBox).toSet
    assert(got == want, s"box=${lo.toSeq}..${hi.toSeq} split=$totalBits/$tailBits")
    // contained ranges must be pure: every key under them is in the box
    hr.contained.foreach { case (lo, hi) =>
      (lo to hi).foreach { h =>
        (h << tailBits until ((h + 1) << tailBits)).foreach(k => assert(inBox(k)))
      }
    }
  }

  test("3D decomposition equals brute force on small grids") {
    // 9 bits total = 8x8x8 grid, tail 3 -> 64 heads of 8 keys
    check3(Array[Double](1, 2, 0), Array[Double](5, 6, 3), 9, 3)
    check3(Array[Double](0, 0, 0), Array[Double](7, 7, 7), 9, 3) // full space
    check3(Array[Double](3, 4, 5), Array[Double](3, 4, 5), 9, 3) // single cell
    // one z-slice (the height-query shape)
    check3(Array[Double](0, 0, 2), Array[Double](7, 7, 2), 9, 3)
    // fractional + out-of-range edges
    check3(Array[Double](6.5, -1.0, 1.5), Array[Double](9.5, 2.5, 4.5), 9, 3)
    (1 to 20).foreach { _ =>
      def r() = rng3.nextInt(8)
      val (a, b, c, d, e, f) = (r(), r(), r(), r(), r(), r())
      check3(Array[Double](math.min(a, b), math.min(c, d), math.min(e, f)),
        Array[Double](math.max(a, b), math.max(c, d), math.max(e, f)), 9, 3)
    }
  }

  test("3D z-slice selections prune: a thin z band touches a small head fraction") {
    // 12 bits = 16x16x16, tail 0 -> heads are keys
    val hr = MortonRange.decompose(Array[Double](0, 0, 4), Array[Double](15, 15, 4), 12, 0,
      maxCells = 4096)
    val selected = hr.all.map { case (lo, hi) => hi - lo + 1 }.sum
    assert(selected == 256) // exactly the 16x16 keys of the z=4 slice
    assert(selected < (1 << 12) / 4) // far below a full scan
  }

  test("the key-space cap depends on d: 62 bits in 2D, 63 in 3D") {
    MortonRange.decompose(Array[Double](0, 0, 0), Array[Double](0, 0, 0), 63, 60, maxCells = 16)
    intercept[IllegalArgumentException](MortonRange.decompose(Bbox(0, 0, 0, 0), 63, 60))
  }
}

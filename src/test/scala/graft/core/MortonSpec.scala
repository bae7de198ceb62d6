package graft.core

import org.scalatest.funsuite.AnyFunSuite

class MortonSpec extends AnyFunSuite {
  private val rng = new scala.util.Random(42)

  private def coord3(): Long = rng.nextLong() & ((1L << 21) - 1)

  /** Naive bit-loop interleave to check the magic-mask version against. */
  private def naiveEncode(x: Long, y: Long): Long = {
    var m = 0L
    var i = 0
    while (i < 31) {
      m |= ((x >> i) & 1L) << (2 * i)
      m |= ((y >> i) & 1L) << (2 * i + 1)
      i += 1
    }
    m
  }

  /** Bit-by-bit 3D reference implementation for the magic-mask kernels. */
  private def naiveEncode3(x: Long, y: Long, z: Long): Long = {
    var m = 0L
    var i = 0
    while (i < 21) {
      m |= ((x >> i) & 1L) << (3 * i)
      m |= ((y >> i) & 1L) << (3 * i + 1)
      m |= ((z >> i) & 1L) << (3 * i + 2)
      i += 1
    }
    m
  }

  test("known vectors (FIXTURES.md §B)") {
    assert(Morton.encode(0, 0) == 0L)
    assert(Morton.encode(1, 0) == 1L)
    assert(Morton.encode(0, 1) == 2L)
    assert(Morton.encode(1, 1) == 3L)
    assert(Morton.encode(2, 2) == 12L)
    assert(Morton.encode(5, 3) == 27L)
    assert(Morton.encode(1L << 15, 1L << 15) == 3L * (1L << 30))
  }

  test("encode matches naive bit loop") {
    for (_ <- 1 to 500) {
      val x = rng.nextLong() & ((1L << 31) - 1)
      val y = rng.nextLong() & ((1L << 31) - 1)
      assert(Morton.encode(x, y) == naiveEncode(x, y))
    }
  }

  test("decode(encode(x, y)) == (x, y) roundtrip up to 31 bits") {
    for (_ <- 1 to 500) {
      val x = rng.nextLong() & ((1L << 31) - 1)
      val y = rng.nextLong() & ((1L << 31) - 1)
      val m = Morton.encode(x, y)
      assert(Morton.decodeX(m) == x)
      assert(Morton.decodeY(m) == y)
    }
  }

  test("encodeChecked rejects negatives (reference encoder.py:24-25)") {
    intercept[IllegalArgumentException](Morton.encodeChecked(-1, 0))
    intercept[IllegalArgumentException](Morton.encodeChecked(0, -1))
  }

  test("splitLengths semantics (reference point_processor.py:11-21)") {
    // morton(8191, 8191) has 26 bits; int(26*0.7)=18 already even
    assert(Morton.splitLengths(8191, 8191, 0.7) == ((18, 8)))
    // int(26*0.5)=13 odd -> head 12
    assert(Morton.splitLengths(8191, 8191, 0.5) == ((12, 14)))
    val (h, t) = Morton.splitLengths(1, 1, 0.7)
    assert(h % 2 == 0 && h + t == 2)
  }

  test("every prefix cell decodes to an axis-aligned rectangle") {
    for (_ <- 1 to 500) {
      val r = rng.nextInt(21)
      val p = rng.nextLong() & ((1L << (40 - r)) - 1)
      val lo = p << r
      val hi = ((p + 1L) << r) - 1
      val (x0, y0) = (Morton.decodeX(lo), Morton.decodeY(lo))
      val (x1, y1) = (Morton.decodeX(hi), Morton.decodeY(hi))
      assert(x0 <= x1 && y0 <= y1)
      // spot-check interior keys stay inside the rect
      val k = lo + (if (hi > lo) math.abs(rng.nextLong()) % (hi - lo) else 0L)
      assert(Morton.decodeX(k) >= x0 && Morton.decodeX(k) <= x1)
      assert(Morton.decodeY(k) >= y0 && Morton.decodeY(k) <= y1)
    }
  }

  test("3D known vectors") {
    assert(Morton.encode(0, 0, 0) == 0L)
    assert(Morton.encode(1, 0, 0) == 1L)
    assert(Morton.encode(0, 1, 0) == 2L)
    assert(Morton.encode(0, 0, 1) == 4L)
    assert(Morton.encode(1, 1, 1) == 7L)
    assert(Morton.encode(2, 0, 0) == 8L)
    assert(Morton.encode(2, 1, 1) == 14L)
  }

  test("3D encode matches the naive bit loop and round-trips (randomized property)") {
    (1 to 2000).foreach { _ =>
      val (x, y, z) = (coord3(), coord3(), coord3())
      val m = Morton.encode(x, y, z)
      assert(m == naiveEncode3(x, y, z))
      assert(Morton.decode(m, 3, 0) == x)
      assert(Morton.decode(m, 3, 1) == y)
      assert(Morton.decode(m, 3, 2) == z)
    }
  }

  test("decode(m, 2, dim) is the 2D decodeX / decodeY") {
    for (_ <- 1 to 500) {
      val m = rng.nextLong() & ((1L << 62) - 1)
      assert(Morton.decode(m, 2, 0) == Morton.decodeX(m))
      assert(Morton.decode(m, 2, 1) == Morton.decodeY(m))
    }
  }

  test("3D per-dimension monotonicity along each axis") {
    (1 to 500).foreach { _ =>
      val x = rng.nextLong() & ((1L << 21) - 2)
      assert(Morton.encode(x + 1, 0, 0) > Morton.encode(x, 0, 0))
      assert(Morton.encode(0, x + 1, 0) > Morton.encode(0, x, 0))
      assert(Morton.encode(0, 0, x + 1) > Morton.encode(0, 0, x))
    }
  }

  test("3D checked encode rejects out-of-range input") {
    intercept[IllegalArgumentException](Morton.encodeChecked(-1, 0, 0))
    intercept[IllegalArgumentException](Morton.encodeChecked(1L << 21, 0, 0))
  }

  test("the grid guard caps 2D at 31 and 3D at 21 bits per dimension, naming the coordinate") {
    Morton.requireInGrid(2, "x" -> ((1L << 31) - 1))
    Morton.requireInGrid(3, "z" -> ((1L << 21) - 1))
    val e2 = intercept[IllegalArgumentException](Morton.encodeChecked(0, 1L << 31))
    assert(e2.getMessage.contains("quantized y"))
    val e3 = intercept[IllegalArgumentException](Morton.requireInGrid(3, "z max" -> (1L << 21)))
    assert(e3.getMessage.contains("quantized z max") && e3.getMessage.contains("21-bit"))
  }
}

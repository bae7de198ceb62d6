package graft.core

/** Morton (Z-order) space-filling-curve kernels for d = 2 and d = 3.
  *
  * Re-expresses the reference's numba bit-interleave kernels
  * (reference: pcsfc/encoder.py:8-48, pcsfc/decoder.py:4-80) as pure
  * static Scala so Catalyst codegen (see graft.functions.MortonEncode2D,
  * graft.functions.MortonDecode) can call straight into JIT-friendly
  * long arithmetic. Dimension k of a d-way key sits on bits k, k+d,
  * k+2d, …; inputs are quantized non-negative grid coordinates of at
  * most [[bitsPerDim]] bits. The mask kernels stay separate per d: a
  * generic bit loop would slow the per-point decode of every explode.
  */
object Morton {

  /** Bits per dimension a d-way key holds: 31 in 2D (a 62-bit key; the
    * reference caps at 31 bits/dim too, encoder.py:27-33, but stores
    * heads in a pg INT which can overflow), 21 in 3D (a 63-bit key). */
  def bitsPerDim(d: Int): Int = if (d == 2) 31 else 21

  /** Spread the low 32 bits of v so bit i lands at bit 2i
    * (magic-mask divide and conquer; reference encoder.py:8-33). */
  def expand(v: Long): Long = {
    var x = v & 0xFFFFFFFFL
    x = (x | (x << 16)) & 0x0000FFFF0000FFFFL
    x = (x | (x << 8)) & 0x00FF00FF00FF00FFL
    x = (x | (x << 4)) & 0x0F0F0F0F0F0F0F0FL
    x = (x | (x << 2)) & 0x3333333333333333L
    x = (x | (x << 1)) & 0x5555555555555555L
    x
  }

  /** Inverse of expand: gather even bits of v into the low 32 bits
    * (reference decoder.py:24-36). */
  def compact(v: Long): Long = {
    var x = v & 0x5555555555555555L
    x = (x | (x >>> 1)) & 0x3333333333333333L
    x = (x | (x >>> 2)) & 0x0F0F0F0F0F0F0F0FL
    x = (x | (x >>> 4)) & 0x00FF00FF00FF00FFL
    x = (x | (x >>> 8)) & 0x0000FFFF0000FFFFL
    x = (x | (x >>> 16)) & 0x00000000FFFFFFFFL
    x
  }

  /** Spread the low 21 bits of v so bit i lands at bit 3i. */
  def expand3(v: Long): Long = {
    var x = v & 0x1FFFFFL
    x = (x | (x << 32)) & 0x1F00000000FFFFL
    x = (x | (x << 16)) & 0x1F0000FF0000FFL
    x = (x | (x << 8)) & 0x100F00F00F00F00FL
    x = (x | (x << 4)) & 0x10C30C30C30C30C3L
    x = (x | (x << 2)) & 0x1249249249249249L
    x
  }

  /** Inverse of expand3: gather every 3rd bit into the low 21 bits. */
  def compact3(v: Long): Long = {
    var x = v & 0x1249249249249249L
    x = (x | (x >>> 2)) & 0x10C30C30C30C30C3L
    x = (x | (x >>> 4)) & 0x100F00F00F00F00FL
    x = (x | (x >>> 8)) & 0x1F0000FF0000FFL
    x = (x | (x >>> 16)) & 0x1F00000000FFFFL
    x = (x | (x >>> 32)) & 0x1FFFFFL
    x
  }

  /** Interleave (x, y) -> Morton key; x occupies even bits, y odd bits
    * (reference encoder.py:48: EncodeMorton2D = Expand2D(x) + (Expand2D(y) << 1)).
    * Negative or over-wide input is a caller bug (reference raises,
    * encoder.py:24-25); the stores guard the grid first
    * ([[requireInGrid]]), as encodeChecked does. */
  def encode(x: Long, y: Long): Long = expand(x) | (expand(y) << 1)

  /** Interleave (x, y, z) -> 63-bit key; x bits 0,3,6,…; y offset 1;
    * z offset 2. */
  def encode(x: Long, y: Long, z: Long): Long =
    expand3(x) | (expand3(y) << 1) | (expand3(z) << 2)

  def encodeChecked(x: Long, y: Long): Long = {
    requireInGrid(2, "x" -> x, "y" -> y)
    encode(x, y)
  }

  def encodeChecked(x: Long, y: Long, z: Long): Long = {
    requireInGrid(3, "x" -> x, "y" -> y, "z" -> z)
    encode(x, y, z)
  }

  /** Rejects a quantized coordinate a d-way key cannot hold — negative,
    * or wider than [[bitsPerDim]], which the interleave would silently
    * alias to a smaller coordinate — naming the coordinate. */
  def requireInGrid(d: Int, coords: (String, Long)*): Unit = coords.foreach { case (name, q) =>
    require(q >= 0 && q < (1L << bitsPerDim(d)), s"quantized $name = $q is outside the " +
      s"${bitsPerDim(d)}-bit per-dimension range [0, 2^${bitsPerDim(d)}) of a ${d}D Morton key")
  }

  /** x component (even bits) of a 2D key (reference decoder.py:68-80). */
  def decodeX(m: Long): Long = compact(m)

  /** y component (odd bits) of a 2D key. */
  def decodeY(m: Long): Long = compact(m >>> 1)

  /** Dimension `dim` (0 = x, 1 = y, 2 = z) of a d-way key. */
  def decode(m: Long, d: Int, dim: Int): Long =
    if (d == 2) compact(m >>> dim) else compact3(m >>> dim)

  /** Number of bits needed to represent v (0 -> 0). */
  def bitLength(v: Long): Int = 64 - java.lang.Long.numberOfLeadingZeros(v)

  /** Head/tail split lengths for a grid with max quantized coords
    * (xMax, yMax) and a head ratio knob (reference
    * pcsfc/point_processor.py:11-21: head = int(bitlen * ratio) forced
    * even by subtracting 1 if odd; tail = rest).
    */
  def splitLengths(xMax: Long, yMax: Long, ratio: Double): (Int, Int) = {
    val total = bitLength(encode(xMax, yMax)).max(2)
    var head = (total * ratio).toInt
    if (head % 2 != 0) head -= 1
    if (head < 0) head = 0
    if (head > total) head = total
    (head, total - head)
  }
}

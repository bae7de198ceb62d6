package perfbench

import java.io.{BufferedOutputStream, FileOutputStream}
import java.nio.{ByteBuffer, ByteOrder}
import java.nio.file.{Files, Path}

/** A generated point cloud on a 1 cm grid, held in memory as the ground
  * truth every benchmark op is checked against.
  *
  * Coordinates are grid integers; world coordinates are derived with
  * the same double arithmetic the engine uses to reconstruct points
  * (`grid * scale + offset`), so a correct result matches the truth bit
  * for bit. z is stored by the engine at 2 decimals, which is
  * `iz / 100.0` for an integer centimetre height. */
final class Cloud(val ix: Array[Int], val iy: Array[Int], val iz: Array[Int]) {
  def n: Int = ix.length
  def x(i: Int): Double = ix(i).toDouble * Cloud.Scale + Cloud.OffX
  def y(i: Int): Double = iy(i).toDouble * Cloud.Scale + Cloud.OffY
  def z(i: Int): Double = iz(i) / 100.0
}

object Cloud {
  val Scale = 0.01
  val OffX = 85000.0
  val OffY = 446000.0
  /** Extent in grid units: a 1 km x 1 km tile. */
  val Side = 100000

  /** AHN-like skewed density: a third of the points in dense clusters
    * (buildings and trees, 3-25 m tall), the rest spread over terrain,
    * and 0.5% z outliers far above or below it. */
  def generate(seed: Long, n: Int): Cloud = {
    val rnd = new java.util.SplittableRandom(seed)
    val nClusters = 64
    val cx = Array.fill(nClusters)(rnd.nextInt(Side / 20, Side - Side / 20))
    val cy = Array.fill(nClusters)(rnd.nextInt(Side / 20, Side - Side / 20))
    val sigma = Array.fill(nClusters)(rnd.nextDouble(300.0, 2500.0))
    val height = Array.fill(nClusters)(rnd.nextInt(300, 2500))
    val weight = Array.fill(nClusters)(-math.log(1.0 - rnd.nextDouble()))
    val cum = weight.scanLeft(0.0)(_ + _).tail
    val total = cum.last
    val ix = new Array[Int](n)
    val iy = new Array[Int](n)
    val iz = new Array[Int](n)
    def terrain(x: Int, y: Int): Int =
      (200 + 150 * math.sin(x / 20000.0) + 100 * math.cos(y / 15000.0)).toInt
    var i = 0
    while (i < n) {
      val u = rnd.nextDouble()
      if (u < 0.35) {
        val w = rnd.nextDouble() * total
        var c = 0
        while (cum(c) < w) c += 1
        val x = clamp(math.round(cx(c) + rnd.nextGaussian() * sigma(c)))
        val y = clamp(math.round(cy(c) + rnd.nextGaussian() * sigma(c)))
        ix(i) = x; iy(i) = y
        iz(i) = terrain(x, y) + rnd.nextInt(0, height(c))
      } else {
        val x = rnd.nextInt(0, Side)
        val y = rnd.nextInt(0, Side)
        ix(i) = x; iy(i) = y
        iz(i) = terrain(x, y) + rnd.nextInt(0, 50)
      }
      val o = rnd.nextDouble()
      if (o < 0.0025) iz(i) += rnd.nextInt(8000, 30000)
      else if (o < 0.005) iz(i) -= rnd.nextInt(500, 4000)
      i += 1
    }
    new Cloud(ix, iy, iz)
  }

  private def clamp(v: Long): Int = math.max(0L, math.min(Side - 1L, v)).toInt

  /** Write the cloud as 2 x 2 spatial LAS 1.2 tiles (point format 1),
    * the shape of an AHN tile delivery. Returns the file paths. */
  def writeTiles(c: Cloud, dir: Path): Seq[Path] = {
    Files.createDirectories(dir)
    val half = Side / 2
    (0 until 4).map { t =>
      val idx = (0 until c.n).filter { i =>
        ((if (c.ix(i) < half) 0 else 1) + (if (c.iy(i) < half) 0 else 2)) == t
      }.toArray
      val path = dir.resolve(f"tile_$t%d.las")
      writeLas(c, idx, path)
      path
    }
  }

  private val RecordLen = 28

  private def writeLas(c: Cloud, idx: Array[Int], path: Path): Unit = {
    val h = ByteBuffer.allocate(227).order(ByteOrder.LITTLE_ENDIAN)
    h.put("LASF".getBytes("US-ASCII"))
    h.put(24, 1.toByte).put(25, 2.toByte)
    h.putShort(94, 227.toShort)
    h.putInt(96, 227)
    h.putInt(100, 0)
    h.put(104, 1.toByte)
    h.putShort(105, RecordLen.toShort)
    h.putInt(107, idx.length)
    h.putInt(111, idx.length)
    h.putDouble(131, Scale).putDouble(139, Scale).putDouble(147, Scale)
    h.putDouble(155, OffX).putDouble(163, OffY).putDouble(171, 0.0)
    if (idx.nonEmpty) {
      h.putDouble(179, idx.map(c.x).max).putDouble(187, idx.map(c.x).min)
      h.putDouble(195, idx.map(c.y).max).putDouble(203, idx.map(c.y).min)
      h.putDouble(211, idx.map(c.z).max).putDouble(219, idx.map(c.z).min)
    }
    val out = new BufferedOutputStream(new FileOutputStream(path.toFile), 1 << 20)
    try {
      out.write(h.array())
      val rec = ByteBuffer.allocate(RecordLen).order(ByteOrder.LITTLE_ENDIAN)
      idx.foreach { i =>
        rec.putInt(0, c.ix(i)).putInt(4, c.iy(i)).putInt(8, c.iz(i))
        out.write(rec.array())
      }
    } finally out.close()
  }

  /** Order-independent digest of a point multiset: count plus the
    * wrapping sum of a strong 64-bit mix of each point. */
  final case class Digest(count: Long, sum: Long) {
    def +(o: Digest): Digest = Digest(count + o.count, sum + o.sum)
  }

  def mix(v: Long): Long = {
    var z = v
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  def pointHash(a: Long, b: Long, c: Long): Long = mix(mix(mix(a) + b) + c)

  /** Digest of world-coordinate doubles, as a selection returns them. */
  def worldHash(x: Double, y: Double, z: Double): Long =
    pointHash(java.lang.Double.doubleToLongBits(x),
      java.lang.Double.doubleToLongBits(y), java.lang.Double.doubleToLongBits(z))

  /** The engine's LAS export encodes at a fixed 0.1 scale and 0 offset. */
  val ExportScale = 0.1
  def exportInt(v: Double): Int = math.round(v / ExportScale).toInt

  final case class LasFile(count: Long, recordLen: Int, pointFormat: Int,
      xMin: Double, xMax: Double, yMin: Double, yMax: Double,
      zMin: Double, zMax: Double, digest: Digest, bytes: Long)

  /** Re-read an exported LAS file: header plus every record's integer
    * (x, y, z) folded into a digest. */
  def readLas(path: Path): LasFile = {
    val all = Files.readAllBytes(path)
    val b = ByteBuffer.wrap(all).order(ByteOrder.LITTLE_ENDIAN)
    require(all.length >= 227 && new String(all, 0, 4, "US-ASCII") == "LASF",
      s"$path: not a LAS file")
    val offset = b.getInt(96)
    val recordLen = b.getShort(105) & 0xffff
    val count = b.getInt(107) & 0xffffffffL
    var sum = 0L
    var i = 0L
    while (i < count && offset + (i + 1) * recordLen <= all.length) {
      val base = (offset + i * recordLen).toInt
      sum += pointHash(b.getInt(base), b.getInt(base + 4), b.getInt(base + 8))
      i += 1
    }
    LasFile(count, recordLen, b.get(104) & 0xff,
      b.getDouble(187), b.getDouble(179), b.getDouble(203), b.getDouble(195),
      b.getDouble(219), b.getDouble(211), Digest(i, sum), all.length.toLong)
  }

  /** Inverse Morton interleave (x on even bits, y on odd bits). */
  def deinterleave(m: Long): Long = {
    var x = m & 0x5555555555555555L
    x = (x | (x >>> 1)) & 0x3333333333333333L
    x = (x | (x >>> 2)) & 0x0F0F0F0F0F0F0F0FL
    x = (x | (x >>> 4)) & 0x00FF00FF00FF00FFL
    x = (x | (x >>> 8)) & 0x0000FFFF0000FFFFL
    (x | (x >>> 16)) & 0x00000000FFFFFFFFL
  }
}

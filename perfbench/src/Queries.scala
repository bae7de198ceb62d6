package perfbench

import java.util.SplittableRandom

import perfbench.Cloud.Digest

/** A 2D selection region in world coordinates. */
sealed trait Region {
  /** The `mode` and `geometry` fields of a query spec. */
  def specFields: String
  /** World bbox of the region (the engine's filter phase covers it). */
  def bbox: (Double, Double, Double, Double)
  /** The exact refine predicate, evaluated with the engine's arithmetic. */
  def contains(x: Double, y: Double): Boolean
}

final case class Rect(xMin: Double, xMax: Double, yMin: Double, yMax: Double) extends Region {
  def specFields: String = s""""mode": "bbox", "geometry": [$xMin, $xMax, $yMin, $yMax]"""
  def bbox: (Double, Double, Double, Double) = (xMin, xMax, yMin, yMax)
  def contains(x: Double, y: Double): Boolean =
    x >= xMin && x <= xMax && y >= yMin && y <= yMax
}

final case class Disc(cx: Double, cy: Double, r: Double) extends Region {
  def specFields: String = s""""mode": "circle", "geometry": [[$cx, $cy], $r]"""
  def bbox: (Double, Double, Double, Double) = (cx - r, cx + r, cy - r, cy + r)
  private val r2 = r * r
  def contains(x: Double, y: Double): Boolean =
    (x - cx) * (x - cx) + (y - cy) * (y - cy) <= r2
}

/** Polygon with holes: closed rings of packed (x, y); even-odd rule. */
final case class Poly(rings: Array[Array[Double]]) extends Region {
  def specFields: String = {
    val wkt = rings.map { r =>
      r.grouped(2).map(p => s"${p(0)} ${p(1)}").mkString("(", ", ", ")")
    }.mkString("POLYGON (", ", ", ")")
    s""""mode": "polygon", "geometry": "$wkt""""
  }
  def bbox: (Double, Double, Double, Double) = {
    val s = rings(0)
    val xs = s.indices.filter(_ % 2 == 0).map(s(_))
    val ys = s.indices.filter(_ % 2 == 1).map(s(_))
    (xs.min, xs.max, ys.min, ys.max)
  }
  def contains(x: Double, y: Double): Boolean = {
    var inside = false
    var r = 0
    while (r < rings.length) {
      val ring = rings(r)
      val n = ring.length / 2
      var i = 0
      var j = n - 1
      while (i < n) {
        val xi = ring(2 * i); val yi = ring(2 * i + 1)
        val xj = ring(2 * j); val yj = ring(2 * j + 1)
        if ((yi > y) != (yj > y) && x < (xj - xi) * (y - yi) / (yj - yi) + xi)
          inside = !inside
        j = i
        i += 1
      }
      r += 1
    }
    inside
  }
}

/** One benchmark query: a selection (region plus optional z bounds) or
  * a kNN probe, with its spec in the query CLI's JSON shape. */
sealed trait Query {
  def cls: String
  def spec: String
}

final case class Select(cls: String, region: Region,
    minz: Option[Double] = None, maxz: Option[Double] = None) extends Query {
  def spec: String =
    "{" + region.specFields + maxz.map(v => s""", "maxz": $v""").getOrElse("") +
      minz.map(v => s""", "minz": $v""").getOrElse("") + "}"

  def accepts(c: Cloud, i: Int): Boolean = {
    val z = c.z(i)
    region.contains(c.x(i), c.y(i)) &&
      maxz.forall(z <= _) && minz.forall(z >= _)
  }

  /** Indices of the truth points the query selects (grid-range
    * prefilter, then the exact predicate). */
  def truth(c: Cloud): Array[Int] = {
    val (x0, x1, y0, y1) = region.bbox
    val gx0 = math.floor((x0 - Cloud.OffX) / Cloud.Scale).toLong - 1
    val gx1 = math.ceil((x1 - Cloud.OffX) / Cloud.Scale).toLong + 1
    val gy0 = math.floor((y0 - Cloud.OffY) / Cloud.Scale).toLong - 1
    val gy1 = math.ceil((y1 - Cloud.OffY) / Cloud.Scale).toLong + 1
    val out = Array.newBuilder[Int]
    var i = 0
    while (i < c.n) {
      val gx = c.ix(i); val gy = c.iy(i)
      if (gx >= gx0 && gx <= gx1 && gy >= gy0 && gy <= gy1 && accepts(c, i)) out += i
      i += 1
    }
    out.result()
  }
}

final case class Knn(px: Double, py: Double, k: Int) extends Query {
  def cls: String = "knn"
  def spec: String = s"""{"mode": "nn", "geometry": [$px, $py], "k": $k}"""

  /** The k nearest truth points, ties broken on (d2, x, y, z) like the
    * engine's ordering. */
  def truth(c: Cloud): Array[Int] = {
    def d2(i: Int): Double = (c.x(i) - px) * (c.x(i) - px) + (c.y(i) - py) * (c.y(i) - py)
    val ord: Ordering[Int] = (a: Int, b: Int) => {
      var r = java.lang.Double.compare(d2(a), d2(b))
      if (r == 0) r = java.lang.Double.compare(c.x(a), c.x(b))
      if (r == 0) r = java.lang.Double.compare(c.y(a), c.y(b))
      if (r == 0) r = java.lang.Double.compare(c.z(a), c.z(b))
      r
    }
    val heap = new java.util.PriorityQueue[Integer](k + 1, (a: Integer, b: Integer) => ord.compare(b, a))
    var i = 0
    while (i < c.n) {
      if (heap.size < k) heap.add(i)
      else if (ord.compare(i, heap.peek()) < 0) { heap.poll(); heap.add(i) }
      i += 1
    }
    heap.toArray.map(_.asInstanceOf[Integer].intValue)
  }
}

object Queries {
  def digest(c: Cloud, idx: Array[Int]): Digest =
    Digest(idx.length.toLong, idx.foldLeft(0L)((s, i) => s + Cloud.worldHash(c.x(i), c.y(i), c.z(i))))

  /** Snap a world coordinate to the middle between two grid lines, so no
    * point lies on a query boundary and no comparison is a tie. */
  private def snap(v: Double, off: Double): Double =
    off + (math.floor((v - off) / Cloud.Scale) + 0.5) * Cloud.Scale
  private def sx(v: Double) = snap(v, Cloud.OffX)
  private def sy(v: Double) = snap(v, Cloud.OffY)
  private def snapZ(v: Double): Double = (math.floor(v * 100) + 0.5) / 100.0

  private def anchor(c: Cloud, rnd: SplittableRandom): (Double, Double) = {
    val i = rnd.nextInt(c.n)
    (c.x(i), c.y(i))
  }

  private def ring(pts: Seq[(Double, Double)]): Array[Double] =
    (pts :+ pts.head).flatMap { case (x, y) => Seq(sx(x), sy(y)) }.toArray

  /** Small selections: four shape classes in a fixed order, each
    * anchored on a random cloud point; `zSlot` picks the one that
    * carries a maxz (even round) or minz (odd round) bound. */
  def smallRound(c: Cloud, rnd: SplittableRandom, round: Int): Seq[Select] = {
    val zSlot = round % 4
    val shapes = Seq("rect", "circle", "polygon", "strip").map { shape =>
      val (px, py) = anchor(c, rnd)
      val region: Region = shape match {
        case "rect" =>
          val w = rnd.nextDouble(15, 30) / 2; val h = rnd.nextDouble(15, 30) / 2
          Rect(sx(px - w), sx(px + w), sy(py - h), sy(py + h))
        case "circle" =>
          Disc(sx(px), sy(py), rnd.nextDouble(8, 16))
        case "polygon" =>
          val m = rnd.nextInt(5, 9)
          Poly(Array(ring((0 until m).map { j =>
            val a = 2 * math.Pi * (j + rnd.nextDouble(0.1, 0.9)) / m
            val r = rnd.nextDouble(8, 18)
            (px + r * math.cos(a), py + r * math.sin(a))
          })))
        case "strip" =>
          val t = rnd.nextDouble(math.Pi / 6, math.Pi / 3) + (if (rnd.nextBoolean()) math.Pi / 2 else 0)
          val (l, w) = (rnd.nextDouble(60, 120) / 2, rnd.nextDouble(1.5, 3.0) / 2)
          val (ux, uy, vx, vy) = (math.cos(t), math.sin(t), -math.sin(t), math.cos(t))
          Poly(Array(ring(Seq((-l, -w), (l, -w), (l, w), (-l, w)).map { case (a, b) =>
            (px + a * ux + b * vx, py + a * uy + b * vy)
          })))
      }
      (shape, region)
    }
    shapes.zipWithIndex.map { case ((shape, region), j) =>
      val z = snapZ(rnd.nextDouble(2, 12))
      if (j != zSlot) Select(s"small.$shape", region)
      else if (round % 2 == 0) Select(s"small.$shape", region, maxz = Some(z))
      else Select(s"small.$shape", region, minz = Some(z))
    }
  }

  def knn(c: Cloud, rnd: SplittableRandom, k: Int): Knn = {
    val (px, py) = anchor(c, rnd)
    Knn(sx(px), sy(py), k)
  }

  /** Coarse occupancy grid used to size large regions. */
  final class Occupancy(c: Cloud, cells: Int = 250) {
    private val cell = Cloud.Side / cells
    private val counts = new Array[Int](cells * cells)
    (0 until c.n).foreach { i =>
      counts(math.min(cells - 1, c.iy(i) / cell) * cells + math.min(cells - 1, c.ix(i) / cell)) += 1
    }
    private val prefix = new Array[Long]((cells + 1) * (cells + 1))
    for (y <- 0 until cells; x <- 0 until cells)
      prefix((y + 1) * (cells + 1) + x + 1) = counts(y * cells + x) +
        prefix(y * (cells + 1) + x + 1) + prefix((y + 1) * (cells + 1) + x) - prefix(y * (cells + 1) + x)
    /** Approximate share of points inside a world bbox. */
    def share(b: (Double, Double, Double, Double)): Double = {
      def gx(v: Double) = math.max(0, math.min(cells, math.round((v - Cloud.OffX) / Cloud.Scale / cell).toInt))
      def gy(v: Double) = math.max(0, math.min(cells, math.round((v - Cloud.OffY) / Cloud.Scale / cell).toInt))
      val (x0, x1, y0, y1) = (gx(b._1), gx(b._2), gy(b._3), gy(b._4))
      val n = prefix(y1 * (cells + 1) + x1) - prefix(y0 * (cells + 1) + x1) -
        prefix(y1 * (cells + 1) + x0) + prefix(y0 * (cells + 1) + x0)
      n.toDouble / c.n
    }
  }

  val LargeShapes: Seq[String] = Seq("rect", "rect_minz", "polygon_holes", "corridor")

  /** Large selections: the region's bbox is grown until it holds
    * `bboxShare` of the cloud, so every large op explodes about the
    * same number of points whatever its shape. */
  def large(c: Cloud, occ: Occupancy, rnd: SplittableRandom, shape: String,
      bboxShare: Double = 0.09): Select = {
    val (px, py) = anchor(c, rnd)
    val aspect = rnd.nextDouble(0.6, 1.6)
    val theta = rnd.nextDouble(-math.Pi / 8, math.Pi / 8)
    val turns = Seq.fill(3)(rnd.nextDouble(-math.Pi / 6, math.Pi / 6))
    val holes = 1 + rnd.nextInt(2)
    def build(s: Double): Region = shape match {
      case "rect" | "rect_minz" => Rect(sx(px - s), sx(px + s), sy(py - s * aspect), sy(py + s * aspect))
      case "polygon_holes" =>
        def sq(cx: Double, cy: Double, h: Double) =
          ring(Seq((-h, -h), (h, -h), (h, h), (-h, h)).map { case (a, b) =>
            (cx + a * math.cos(theta) - b * math.sin(theta), cy + a * math.sin(theta) + b * math.cos(theta))
          })
        val hs = Seq((-0.45, -0.45), (0.45, 0.45)).take(holes).map { case (a, b) =>
          sq(px + s * (a * math.cos(theta) - b * math.sin(theta)),
            py + s * (a * math.sin(theta) + b * math.cos(theta)), 0.25 * s)
        }
        Poly((sq(px, py, s) +: hs).toArray)
      case "corridor" =>
        // a polyline of 4 vertices buffered by a mitred half-width
        val seg = 0.9 * s
        val heads = turns.scanLeft(theta)(_ + _).take(3)
        val pts = heads.scanLeft((0.0, 0.0)) { case ((x, y), h) =>
          (x + seg * math.cos(h), y + seg * math.sin(h))
        }
        val (mx, my) = (pts.map(_._1).sum / pts.size, pts.map(_._2).sum / pts.size)
        val w = 0.22 * s
        val normals = pts.indices.map { i =>
          val hs = Seq(heads.lift(i - 1), heads.lift(i)).flatten
          val nx = hs.map(h => -math.sin(h)).sum / hs.size
          val ny = hs.map(h => math.cos(h)).sum / hs.size
          val len2 = nx * nx + ny * ny
          (nx / len2, ny / len2)
        }
        val left = pts.zip(normals).map { case ((x, y), (nx, ny)) => (px + x - mx + w * nx, py + y - my + w * ny) }
        val right = pts.zip(normals).map { case ((x, y), (nx, ny)) => (px + x - mx - w * nx, py + y - my - w * ny) }
        Poly(Array(ring(left ++ right.reverse)))
    }
    var (lo, hi) = (1.0, 1500.0)
    (0 until 30).foreach { _ =>
      val mid = (lo + hi) / 2
      if (occ.share(build(mid).bbox) < bboxShare) lo = mid else hi = mid
    }
    val region = build(lo)
    if (shape != "rect_minz") Select(s"large.$shape", region)
    else {
      val zs = Select("", region).truth(c).map(c.z).sorted
      Select(s"large.$shape", region, minz = Some(snapZ(if (zs.isEmpty) 0.0 else zs(zs.length / 2))))
    }
  }
}

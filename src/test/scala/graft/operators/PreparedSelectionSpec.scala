package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanExec, GenerateExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.core.{Bbox, Circle, Geometry, Morton, Polygon}
import graft.plans.PreparedSelection

/** Prepared selections: two queries of one shape on one opened cloud
  * share one template, and each still returns exactly its own points
  * and reports scan metrics of its own. A selection whose cover is
  * empty reads no file at all. */
class PreparedSelectionSpec extends AnyFunSuite with BeforeAndAfterAll
    with AdaptiveSparkPlanHelper {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  import spark.implicits._

  private type P = (Double, Double, Double)

  private def rows(df: DataFrame): Seq[P] =
    df.collect().map(r => (r.getDouble(0), r.getDouble(1), r.getDouble(2))).toSeq.sorted

  /** The suite's stores, removed after it. */
  private lazy val tmp = java.nio.file.Files.createTempDirectory("graft_prepared")

  override def afterAll(): Unit = try BlockStore.rmdir(tmp) finally super.afterAll()

  private lazy val dir2 = {
    val rng = new scala.util.Random(53)
    val pts = (1 to 20000).map { _ =>
      (rng.nextInt(8192).toDouble, rng.nextInt(8192).toDouble, rng.nextInt(4000) / 100.0)
    }
    val dir = tmp.resolve("cloud2").toString
    PointCloud.write(PointCloud.importPoints(pts.toDF("x", "y", "z"), ImportSpec(name = "prepared")),
      dir)
    dir
  }

  private lazy val dir3 = {
    val rng = new scala.util.Random(57)
    val pts = (1 to 5000).map { _ =>
      (rng.nextInt(100).toDouble, rng.nextInt(100).toDouble, rng.nextInt(3000) / 100.0)
    }
    val dir = tmp.resolve("cloud3").toString
    PointCloud3.write(
      PointCloud3.importPoints(pts.toDF("x", "y", "z"), zDenom = 100.0, ratio = 0.5), dir)
    dir
  }

  /** The points of a 2D cloud, exploded on the driver from its blocks. */
  private def exploded(c: BlockedCloud): Seq[P] = {
    val m = c.meta
    c.blocks.collect().toSeq.flatMap { r =>
      val head = r.getLong(0)
      r.getSeq[Long](1).zip(r.getSeq[Double](2)).map { case (tail, z) =>
        val key = (head << m.tailLen) | tail
        (Morton.decodeX(key).toDouble * m.scaleX + m.offX,
          Morton.decodeY(key).toDouble * m.scaleY + m.offY, z)
      }
    }
  }

  /** The points of a 3D cloud, exploded on the driver from its blocks. */
  private def exploded(c: BlockedCloud3): Seq[P] =
    c.blocks.collect().toSeq.flatMap { r =>
      val head = r.getLong(0)
      r.getSeq[Long](1).map { tail =>
        val key = (head << c.meta.tailLen) | tail
        (Morton.decode(key, 3, 0).toDouble, Morton.decode(key, 3, 1).toDouble,
          Morton.decode(key, 3, 2).toDouble / c.meta.zDenom)
      }
    }

  private def d2(px: Double, py: Double)(p: P): Double =
    (p._1 - px) * (p._1 - px) + (p._2 - py) * (p._2 - py)

  private def nearest(pts: Seq[P], k: Int)(d: P => Double): Seq[P] =
    pts.sortBy(p => (d(p), p._1, p._2, p._3)).take(k).sorted

  /** Point-to-polyline distance² <= r², with the engine's arithmetic. */
  private def nearLine(line: Array[Double], r: Double)(p: P): Boolean =
    (0 until line.length / 2 - 1).exists { s =>
      val (ax, ay, bx, by) = (line(2 * s), line(2 * s + 1), line(2 * s + 2), line(2 * s + 3))
      val dxc = bx - ax; val dyc = by - ay
      val t = math.max(0.0, math.min(1.0,
        ((p._1 - ax) * dxc + (p._2 - ay) * dyc) / (dxc * dxc + dyc * dyc)))
      val fx = p._1 - (t * dxc + ax); val fy = p._2 - (t * dyc + ay)
      fx * fx + fy * fy <= r * r
    }

  private def poly(wkt: String): Polygon = Geometry.parseWktPolygon(wkt)

  /** The file scans of a run plan. */
  private def scans(df: DataFrame): Seq[FileSourceScanExec] =
    collect(df.queryExecution.executedPlan) { case s: FileSourceScanExec => s }

  /** Rows the scans and the explodes of a run plan produced. */
  private def metrics(df: DataFrame): (Long, Long) = {
    val plan = df.queryExecution.executedPlan
    def sum(nodes: Seq[org.apache.spark.sql.execution.SparkPlan]) =
      nodes.map(_.metrics("numOutputRows").value).sum
    (sum(plan.collect { case s: FileSourceScanExec => s }),
      sum(plan.collect { case g: GenerateExec => g }))
  }

  test("every 2D shape: two queries of one shape are exact and share one template") {
    val c = PointCloud.read(spark, dir2)
    val pts = exploded(c)
    val out = Bbox(9000, 9500, 9000, 9500)
    val far = "POLYGON ((9000.5 9000.5, 9500.5 9000.5, 9200.5 9400.5, 9000.5 9000.5))"
    val farther = "POLYGON ((-800.5 100.5, -200.5 100.5, -500.5 900.5, -800.5 100.5))"
    val pent = "POLYGON ((500.5 700.5, 4000.5 900.5, 6000.5 4000.5, 3000.5 2500.5, " +
      "900.5 5000.5, 500.5 700.5))"
    val holed = "POLYGON ((2000.5 2000.5, 6000.5 2000.5, 6000.5 6000.5, 2000.5 6000.5, " +
      "2000.5 2000.5), (3000.5 3000.5, 5000.5 3000.5, 5000.5 5000.5, 3000.5 5000.5, 3000.5 3000.5))"
    val line1 = Array(500.5, 3500.5, 2000.5, 2000.5, 3500.5, 3000.5)
    val line2 = Array(6000.5, 500.5, 7000.5, 1500.5, 6500.5, 2500.5)
    val farLine = Array(9000.5, 9000.5, 9100.5, 9100.5, 9200.5, 9000.5)
    val (zb, zb2) = (Bbox(1000, 5000, 1000, 5000), Bbox(4500, 7500, 2500, 6000))
    // (shape, first query, second query, the second's brute-force answer)
    val cases: Seq[(Shape, DataFrame, DataFrame, Seq[P])] = Seq(
      (Shape("bbox", 0, false), c.bboxQuery(Bbox(1000, 1300, 2000, 2300)),
        c.bboxQuery(Bbox(4000, 4600, 500, 900)),
        pts.filter(p => Bbox(4000, 4600, 500, 900).contains(p._1, p._2))),
      (Shape("bbox", 0, true), c.bboxQuery(out), c.bboxQuery(Bbox(-900, -10, 20000, 30000)), Nil),
      (Shape("circle", 0, false), c.circleQuery(Circle(3000.5, 3000.5, 200.3)),
        c.circleQuery(Circle(6000.5, 1500.5, 350.7)),
        pts.filter(p => Circle(6000.5, 1500.5, 350.7).contains(p._1, p._2))),
      (Shape("circle", 0, true), c.circleQuery(Circle(20000, 20000, 10)),
        c.circleQuery(Circle(-500, 9000, 20)), Nil),
      (Shape("polygon", 0, false), c.polygonQuery(pent), c.polygonQuery(holed),
        pts.filter(p => poly(holed).contains(p._1, p._2))),
      (Shape("polygon", 0, true), c.polygonQuery(far), c.polygonQuery(farther), Nil),
      (Shape("polyline", 2, false), c.polylineBufferQuery(line1, 150.25),
        c.polylineBufferQuery(line2, 80.75), pts.filter(nearLine(line2, 80.75))),
      (Shape("polyline", 2, true), c.polylineBufferQuery(farLine, 10.5),
        c.polylineBufferQuery(farLine.map(_ + 50), 3.5), Nil),
      (Shape("knn", 20, false), c.knn(3000.5, 3000.5, 20), c.knn(1500.25, 700.75, 20),
        nearest(pts, 20)(d2(1500.25, 700.75)))
    )
    cases.foreach { case (shape, first, second, want) =>
      rows(first)
      assert(rows(second) == want.sorted, shape)
      assert(second.queryExecution.analyzed.isInstanceOf[PreparedSelection], shape)
      // an empty cover plans no scan; every other selection reads the store
      assert(Seq(first, second).forall(scans(_).isEmpty == shape.empty), shape)
    }
    assert(cases.forall(k => k._1.empty || k._4.nonEmpty))
    // a bbox between grid points holds none, so its cover is empty too
    val between = c.bboxQuery(Bbox(100.2, 100.8, 0, 9000))
    assert(rows(between).isEmpty && scans(between).isEmpty)
    // a z bound is a filter over the selection, which keeps its shape's template
    val zbCases = Seq(
      (c.withMaxZ(c.bboxQuery(zb2), 12.5),
        pts.filter(p => zb2.contains(p._1, p._2) && p._3 <= 12.5)),
      (c.withMinZ(c.bboxQuery(zb2), 30.0),
        pts.filter(p => zb2.contains(p._1, p._2) && p._3 >= 30.0)),
      (c.withMinZ(c.withMaxZ(c.circleQuery(Circle(6000.5, 1500.5, 350.7)), 20.0), 10.0),
        pts.filter(p => Circle(6000.5, 1500.5, 350.7).contains(p._1, p._2) &&
          p._3 <= 20.0 && p._3 >= 10.0)),
      (c.withMaxZ(c.bboxQuery(zb).select("x", "y", "z"), 25.0),
        pts.filter(p => zb.contains(p._1, p._2) && p._3 <= 25.0)))
    zbCases.foreach { case (df, want) =>
      assert(want.nonEmpty)
      assert(rows(df) == want.sorted)
    }
    assert(c.templateShapes == cases.map(_._1).toSet)
  }

  test("every 3D shape: two queries of one shape are exact and share one template") {
    val c = PointCloud3.read(spark, dir3)
    val pts = exploded(c)
    def inBox(x0: Double, x1: Double, y0: Double, y1: Double, z0: Double, z1: Double)(p: P) =
      p._1 >= x0 && p._1 <= x1 && p._2 >= y0 && p._2 <= y1 && p._3 >= z0 && p._3 <= z1
    def tri(x0: Double, y0: Double, s: Double) =
      poly(s"POLYGON (($x0 $y0, ${x0 + s} $y0, ${x0 + s / 2} ${y0 + s}, $x0 $y0))")
    def d3(px: Double, py: Double, pz: Double)(p: P) =
      d2(px, py)(p) + (p._3 - pz) * (p._3 - pz)
    val cases: Seq[(Shape, DataFrame, DataFrame, Seq[P])] = Seq(
      (Shape("box", 0, false), c.boxQuery(10, 60, 20, 80, 5.005, 20.005),
        c.boxQuery(30, 95, 0, 45, 12.005, 28.005), pts.filter(inBox(30, 95, 0, 45, 12.005, 28.005))),
      (Shape("box", 0, true), c.boxQuery(10, 60, 20, 80, -9, -3),
        c.boxQuery(70.2, 70.8, 0, 99, 0, 30), Nil),
      (Shape("cylinder", 0, false), c.cylinderQuery(50.5, 50.5, 20.25, 3.005, 9.005),
        c.cylinderQuery(20.5, 70.5, 15.75, 10.005, 25.005),
        pts.filter(p => d2(20.5, 70.5)(p) <= 15.75 * 15.75 && p._3 >= 10.005 && p._3 <= 25.005)),
      (Shape("cylinder", 0, true), c.cylinderQuery(50.5, 50.5, 20.25, -9, -3),
        c.cylinderQuery(20.5, 70.5, 0.25, 0, 30), Nil),
      (Shape("polygon", 0, false), c.polygonQuery(tri(9.5, 9.5, 50), 5.005, 20.005),
        c.polygonQuery(tri(40.5, 30.5, 45), 2.005, 14.005),
        pts.filter(p => tri(40.5, 30.5, 45).contains(p._1, p._2) && p._3 >= 2.005 && p._3 <= 14.005)),
      (Shape("polygon", 0, true), c.polygonQuery(tri(9.5, 9.5, 50), -9, -3),
        c.polygonQuery(tri(40.5, 30.5, 45), -5, -1), Nil),
      (Shape("knn", 15, false), c.knn(50.25, 50.25, 10.0, 15), c.knn(20.75, 70.25, 3.5, 15),
        nearest(pts, 15)(d3(20.75, 70.25, 3.5)))
    )
    cases.foreach { case (shape, first, second, want) =>
      rows(first)
      assert(rows(second) == want.sorted, shape)
      assert(Seq(first, second).forall(scans(_).isEmpty == shape.empty), shape)
    }
    assert(cases.forall(k => k._1.empty || k._4.nonEmpty))
    // a box past the key space is not inverted, yet its cover is empty
    // too, and it plans no scan either
    val past = c.boxQuery(10, 60, 20, 80, 100, 200)
    assert(rows(past).isEmpty && scans(past).isEmpty)
    assert(c.templateShapes == cases.map(_._1).toSet)
  }

  test("a bound query's scan and explode metrics count only its own rows") {
    val c = PointCloud.read(spark, dir2)
    val (a, b) = (Bbox(1000, 1300, 2000, 2300), Bbox(4000, 4600, 500, 900))
    val first = c.bboxQuery(a)
    rows(first)
    val second = c.bboxQuery(b)
    rows(second)
    val again = c.bboxQuery(b)
    rows(again)
    val alone = PointCloud.read(spark, dir2).bboxQuery(b)
    rows(alone)
    val m = metrics(second)
    assert(m._1 > 0 && m._2 > 0, m)
    assert(m == metrics(again) && m == metrics(alone), (m, metrics(again), metrics(alone)))
    assert(metrics(first) != m)
    assert(c.templateShapes == Set(Shape("bbox", 0, false)))
  }

  test("two selections of one shape join like any two frames") {
    val c = PointCloud.read(spark, dir2)
    val (a, b) = (Bbox(1000, 1600, 2000, 2600), Bbox(1300, 1900, 2300, 2900))
    val both = rows(c.bboxQuery(a).intersect(c.bboxQuery(b)))
    val pts = exploded(c)
    assert(both == pts.filter(p => a.contains(p._1, p._2) && b.contains(p._1, p._2)).distinct.sorted)
    assert(both.nonEmpty)
  }
}

package graft.operators

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.TempDir

class PointCloud3Spec extends AnyFunSuite with TempDir {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  import spark.implicits._

  test("3D box query reproduces the naive filter on random data") {
    val rng = new scala.util.Random(11)
    val pts = (1 to 5000).map { _ =>
      (rng.nextInt(100).toDouble, rng.nextInt(100).toDouble,
        rng.nextInt(3000) / 100.0) // z at 2 decimals like the fixtures
    }
    val df = pts.toDF("x", "y", "z")
    val c = PointCloud3.importPoints(df, zDenom = 100.0, ratio = 0.5)
    val got = c.boxQuery(10, 60, 20, 80, 5.005, 20.005)
      .collect().map(r => (r.getDouble(0), r.getDouble(1), r.getDouble(2)))
      .groupBy(identity).view.mapValues(_.length).toMap
    val want = pts.filter { case (x, y, z) =>
      x >= 10 && x <= 60 && y >= 20 && y <= 80 && z >= 5.005 && z <= 20.005
    }.groupBy(identity).view.mapValues(_.length).toMap
    assert(got == want && want.nonEmpty)
  }

  test("polygon prism reproduces the naive ray-cast + z-band filter") {
    val rng = new scala.util.Random(23)
    val pts = (1 to 5000).map { _ =>
      (rng.nextInt(100).toDouble, rng.nextInt(100).toDouble,
        rng.nextInt(3000) / 100.0)
    }
    val df = pts.toDF("x", "y", "z")
    val c = PointCloud3.importPoints(df, zDenom = 100.0, ratio = 0.5)
    // L-shape: [10,60]x[10,40] U [10,40]x[10,60], boundary excluded
    val wkt = "POLYGON ((9.5 9.5, 60.5 9.5, 60.5 40.5, 40.5 40.5, " +
      "40.5 60.5, 9.5 60.5, 9.5 9.5))"
    val got = c.polygonQuery(wkt, 5.005, 20.005)
      .collect().map(r => (r.getDouble(0), r.getDouble(1), r.getDouble(2)))
      .groupBy(identity).view.mapValues(_.length).toMap
    val want = pts.filter { case (x, y, z) =>
      ((x >= 10 && x <= 60 && y >= 10 && y <= 40) ||
        (x >= 10 && x <= 40 && y >= 10 && y <= 60)) &&
        z >= 5.005 && z <= 20.005
    }.groupBy(identity).view.mapValues(_.length).toMap
    assert(got == want && want.nonEmpty)
  }

  test("3D knn returns the k closest by true 3D distance") {
    val rng = new scala.util.Random(31)
    val pts = (1 to 3000).map { _ =>
      (rng.nextInt(200).toDouble, rng.nextInt(200).toDouble,
        rng.nextInt(5000) / 100.0)
    }
    val df = pts.toDF("x", "y", "z")
    val c = PointCloud3.importPoints(df, zDenom = 100.0, ratio = 0.5)
    val (px, py, pz) = (100.5, 100.5, 25.0)
    def d2(p: (Double, Double, Double)): Double =
      (p._1 - px) * (p._1 - px) + (p._2 - py) * (p._2 - py) + (p._3 - pz) * (p._3 - pz)
    val got = c.knn(px, py, pz, 50)
      .collect().map(r => (r.getDouble(0), r.getDouble(1), r.getDouble(2)))
    assert(got.length == 50)
    // the farthest returned neighbour is no farther than the true 50th
    val kth = pts.map(d2).sorted.apply(49)
    assert(got.map(d2).max <= kth + 1e-9)
    assert(got.map(d2).toSeq == got.map(d2).toSeq.sorted)
  }

  private def d2From(px: Double, py: Double, pz: Double)(p: (Double, Double, Double)): Double =
    (p._1 - px) * (p._1 - px) + (p._2 - py) * (p._2 - py) + (p._3 - pz) * (p._3 - pz)

  /** The seed sphere of `c` holds ≥ min(k, n) of `pts` by brute-force
    * count, and `c.knn` equals brute force ranked by (d², x, y, z). */
  private def checkKnn(c: BlockedCloud3, pts: Seq[(Double, Double, Double)],
      px: Double, py: Double, pz: Double, k: Int): Unit = {
    val d2 = d2From(px, py, pz) _
    val r = c.knnSeedRadius(px, py, pz, k)
    val held = pts.count(p => d2(p) <= r * r)
    assert(held >= math.min(k, pts.size), s"seed ($px, $py, $pz, k = $k) radius $r holds $held")
    val want = pts.sortBy(p => (d2(p), p._1, p._2, p._3)).take(k)
    val got = c.knn(px, py, pz, k).collect()
      .map(r => (r.getDouble(0), r.getDouble(1), r.getDouble(2))).toSeq
    assert(got == want, s"knn ($px, $py, $pz, k = $k)")
  }

  test("3D knn seed sphere holds min(k, n) points and knn ≡ brute force") {
    val rng = new scala.util.Random(37)
    val random = (1 to 3000).map(_ =>
      (rng.nextInt(200).toDouble, rng.nextInt(200).toDouble, rng.nextInt(5000) / 100.0))
    val randomCloud = PointCloud3.importPoints(random.toDF("x", "y", "z"))
    Seq((100.5, 100.5, 25.0, 1), (100.5, 100.5, 25.0, 50), (3.25, 190.75, 49.0, 120),
      (0.0, 0.0, 0.0, 1500), (60.5, 140.5, 10.0, 2999))
      .foreach { case (px, py, pz, k) => checkKnn(randomCloud, random, px, py, pz, k) }
    // skewed: 99.6% of the mass in a 16 x 16 x 1 corner of a 1024² x 50 extent
    val skewedPts = (1 to 5000).map(_ =>
      (rng.nextInt(16).toDouble, rng.nextInt(16).toDouble, rng.nextInt(100) / 100.0)) ++
      (1 to 20).map(_ => (900.0 + rng.nextInt(124), 900.0 + rng.nextInt(124),
        (4000 + rng.nextInt(1000)) / 100.0))
    val skewed = PointCloud3.importPoints(skewedPts.toDF("x", "y", "z"))
    Seq((8.0, 8.0, 0.5, 50), (950.0, 950.0, 45.0, 50), (500.5, 500.5, 25.0, 10))
      .foreach { case (px, py, pz, k) => checkKnn(skewed, skewedPts, px, py, pz, k) }
    // the dense-corner seed stays near the cell scale, far below the
    // ~1450-unit diagonal of the extent
    assert(skewed.knnSeedRadius(8.0, 8.0, 0.5, 50) <= 200.0)
    // query points far outside the extent, on every side
    Seq((5000.0, -3000.0, 400.0, 7), (-50.5, 300.25, -20.0, 30), (100.0, 100.0, 1e5, 4))
      .foreach { case (px, py, pz, k) => checkKnn(randomCloud, random, px, py, pz, k) }
    // k > n: every point, ranked
    val tiny = Seq((3.0, 4.0, 1.0), (10.0, 2.0, 2.5), (10.0, 2.0, 2.5), (0.0, 9.0, 0.25))
    val tinyCloud = PointCloud3.importPoints(tiny.toDF("x", "y", "z"))
    Seq((5.5, 5.5, 1.0, 9), (-100.0, 40.0, 3.0, 4))
      .foreach { case (px, py, pz, k) => checkKnn(tinyCloud, tiny, px, py, pz, k) }
    // a stored cloud with an appended delta batch
    val dir = tmpSubdir("graft_pc3_knn_delta")
    PointCloud3.write(randomCloud, dir)
    val delta = (1 to 400).map(_ =>
      (150.0 + rng.nextInt(50), 10.0 + rng.nextInt(30), rng.nextInt(1000) / 100.0))
    PointCloud3.appendBatch(spark, dir, delta.toDF("x", "y", "z"), 0L)
    val stored = PointCloud3.read(spark, dir)
    Seq((175.5, 25.5, 5.0, 30), (100.5, 100.5, 25.0, 500), (300.0, -40.0, 0.0, 12))
      .foreach { case (px, py, pz, k) => checkKnn(stored, random ++ delta, px, py, pz, k) }
  }

  test("empty and full boxes behave") {
    val df = Seq((1.0, 2.0, 3.0), (4.0, 5.0, 6.0)).toDF("x", "y", "z")
    val c = PointCloud3.importPoints(df, zDenom = 100.0, ratio = 0.5)
    assert(c.boxQuery(0, 10, 0, 10, 0, 10).count() == 2)
    assert(c.boxQuery(0, 10, 0, 10, 7, 10).count() == 0)
    assert(c.meta.pointCount == 2)
  }

  test("streamed 3D appends are exactly-once and equal a batch rebuild") {
    val dir = tmpSubdir("graft_pc3_stream")
    val rng = new scala.util.Random(23)
    def cloudPts(n: Int) = (1 to n).map { _ =>
      (rng.nextInt(100).toDouble, rng.nextInt(100).toDouble,
        rng.nextInt(3000) / 100.0)
    }
    val base = cloudPts(2000)
    val d1 = cloudPts(300)
    val d2 = cloudPts(250)
    PointCloud3.write(
      PointCloud3.importPoints(base.toDF("x", "y", "z"), zDenom = 100.0, ratio = 0.5), dir)

    // two micro-batches through the streaming ingest entry point...
    val ingest = graft.streaming.Streams.cloud3Ingest(spark, dir)
    ingest(d1.toDF("x", "y", "z"), 0L)
    ingest(d2.toDF("x", "y", "z"), 1L)
    // ...then an at-least-once REPLAY of batch 1 (sink failure before
    // the checkpoint commit): must overwrite, not double-append
    ingest(d2.toDF("x", "y", "z"), 1L)

    def multiset(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getDouble(0), r.getDouble(1), r.getDouble(2)))
        .groupBy(identity).view.mapValues(_.length).toMap
    val streamed = PointCloud3.read(spark, dir)
    val rebuilt = PointCloud3.importPoints(
      (base ++ d1 ++ d2).toDF("x", "y", "z"), zDenom = 100.0, ratio = 0.5)
    assert(streamed.meta.pointCount == 2550) // ledger saw each batch once
    assert(multiset(streamed.boxQuery(5, 95, 5, 95, 1.005, 25.005)) ==
      multiset(rebuilt.boxQuery(5, 95, 5, 95, 1.005, 25.005)))
    // fragmentation is real (delta heads coexist with base heads)...
    assert(streamed.blocks.groupBy("sfc_head").count().filter("count > 1").count() > 0)

    // the envelope guard mirrors the 2D store: a point outside the
    // power-of-two key space is rejected, not silently unqueryable
    val e = intercept[IllegalArgumentException] {
      ingest(Seq((5000.0, 5000.0, 1.0)).toDF("x", "y", "z"), 2L)
    }
    assert(e.getMessage.contains("key space"))
    // and an empty micro-batch is a no-op, not an error
    ingest(Seq.empty[(Double, Double, Double)].toDF("x", "y", "z"), 3L)
    assert(PointCloud3.read(spark, dir).meta.pointCount == 2550)

    // compaction: one clustered block per head again, ledger folded
    // into the base meta, delta dirs gone, results unchanged
    PointCloud3.compact(spark, dir)
    val compacted = PointCloud3.read(spark, dir)
    assert(compacted.blocks.groupBy("sfc_head").count().filter("count > 1").isEmpty)
    assert(compacted.meta.pointCount == 2550)
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(s"$dir/blocks_delta")))
    assert(multiset(compacted.boxQuery(5, 95, 5, 95, 1.005, 25.005)) ==
      multiset(rebuilt.boxQuery(5, 95, 5, 95, 1.005, 25.005)))
  }

  test("a 3D append past the 21-bit grid cap is rejected, naming the coordinate") {
    val dir = tmpSubdir("graft_pc3_wide")
    PointCloud3.write(PointCloud3.importPoints(
      Seq((0.0, 0.0, 0.0), (99.0, 99.0, 29.99)).toDF("x", "y", "z")), dir)
    // 2^21 + 1 used to be masked to x = 1 by the 3-way interleave and
    // land inside the stored key space
    val e = intercept[IllegalArgumentException] {
      PointCloud3.appendBatch(spark, dir, Seq((2097153.0, 1.0, 1.0)).toDF("x", "y", "z"), 0L)
    }
    assert(e.getMessage.contains("quantized x"))
    assert(PointCloud3.read(spark, dir).meta.pointCount == 2)
  }

  test("3D import sorts and packs in one task per range partition, on one long key") {
    val rng = new scala.util.Random(61)
    val pts = (1 to 5000).map { _ =>
      (rng.nextInt(100).toDouble, rng.nextInt(100).toDouble, rng.nextInt(3000) / 100.0)
    }
    val c = PointCloud3.importPoints(pts.toDF("x", "y", "z"))
    val dir = tmpSubdir("graft_pc3_pack")
    PackStage.assertParallelPack(spark, c.blocks, c.meta.pointCount, dir)(PointCloud3.write(c, dir))
  }

  test("importing an empty 3D cloud fails with the empty-cloud message") {
    val e = intercept[IllegalArgumentException] {
      PointCloud3.importPoints(Seq.empty[(Double, Double, Double)].toDF("x", "y", "z"))
    }
    assert(e.getMessage.contains("cannot import an empty point cloud"))
  }

  test("3D box and polygon prism read the stored cloud in one scan, never a union") {
    val rng = new scala.util.Random(41)
    val pts = (1 to 5000).map { _ =>
      (rng.nextInt(100).toDouble, rng.nextInt(100).toDouble, rng.nextInt(3000) / 100.0)
    }
    val dir = tmpSubdir("graft_pc3_plan")
    PointCloud3.write(
      PointCloud3.importPoints(pts.toDF("x", "y", "z"), zDenom = 100.0, ratio = 0.5), dir)
    val c = PointCloud3.read(spark, dir)
    val poly = graft.core.Geometry.parseWktPolygon(
      "POLYGON ((9.5 9.5, 60.5 9.5, 60.5 40.5, 40.5 40.5, 40.5 60.5, 9.5 60.5, 9.5 9.5))")
    val inBand = (z: Double) => z >= 5.005 && z <= 20.005
    Seq(
      ("box", c.boxQuery(10, 60, 20, 80, 5.005, 20.005), (p: (Double, Double, Double)) =>
        p._1 >= 10 && p._1 <= 60 && p._2 >= 20 && p._2 <= 80 && inBand(p._3)),
      ("polygon prism", c.polygonQuery(poly, 5.005, 20.005), (p: (Double, Double, Double)) =>
        poly.contains(p._1, p._2) && inBand(p._3))
    ).foreach { case (name, df, in) =>
      val plan = df.queryExecution.sparkPlan
      assert(plan.collect { case s: org.apache.spark.sql.execution.FileSourceScanExec => s }
        .size == 1, name)
      assert(plan.collect { case u: org.apache.spark.sql.execution.UnionExec => u }.isEmpty, name)
      val got = df.collect().map(r => (r.getDouble(0), r.getDouble(1), r.getDouble(2))).sorted.toSeq
      assert(got == pts.filter(in).sorted && got.nonEmpty, name)
    }
  }

  test("3D selections that differ only in geometry share one compiled class") {
    val rng = new scala.util.Random(43)
    val pts = (1 to 5000).map { _ =>
      (rng.nextInt(100).toDouble, rng.nextInt(100).toDouble, rng.nextInt(3000) / 100.0)
    }
    val dir = tmpSubdir("graft_pc3_shape")
    PointCloud3.write(
      PointCloud3.importPoints(pts.toDF("x", "y", "z"), zDenom = 100.0, ratio = 0.5), dir)
    val c = PointCloud3.read(spark, dir)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getDouble(0), r.getDouble(1), r.getDouble(2))).sorted.toSeq
    def tri(x0: Double, y0: Double, s: Double) = graft.core.Geometry.parseWktPolygon(
      s"POLYGON (($x0 $y0, ${x0 + s} $y0, ${x0 + s / 2} ${y0 + s}, $x0 $y0))")
    def d2(px: Double, py: Double, pz: Double)(p: (Double, Double, Double)) =
      (p._1 - px) * (p._1 - px) + (p._2 - py) * (p._2 - py) + (p._3 - pz) * (p._3 - pz)
    def inBox(x0: Double, x1: Double, y0: Double, y1: Double, z0: Double, z1: Double)(
        p: (Double, Double, Double)) =
      p._1 >= x0 && p._1 <= x1 && p._2 >= y0 && p._2 <= y1 && p._3 >= z0 && p._3 <= z1
    Seq(
      ("box", () => rows(c.boxQuery(10, 60, 20, 80, 5.005, 20.005)),
        () => rows(c.boxQuery(30, 95, 0, 45, 12.005, 28.005)),
        pts.filter(inBox(30, 95, 0, 45, 12.005, 28.005))),
      ("polygon prism", () => rows(c.polygonQuery(tri(9.5, 9.5, 50), 5.005, 20.005)),
        () => rows(c.polygonQuery(tri(40.5, 30.5, 45), 2.005, 14.005)),
        pts.filter(p => tri(40.5, 30.5, 45).contains(p._1, p._2) && p._3 >= 2.005 && p._3 <= 14.005)),
      ("knn", () => rows(c.knn(50.25, 50.25, 10.0, 15)), () => rows(c.knn(20.75, 70.25, 3.5, 15)),
        pts.sortBy(p => (d2(20.75, 70.25, 3.5)(p), p._1, p._2, p._3)).take(15))
    ).foreach { case (name, first, second, want) =>
      assert(first().nonEmpty, name)
      val t0 = org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime
      val got = second()
      assert(org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime == t0, name)
      assert(got == want.sorted && got.nonEmpty, name)
    }
  }
}

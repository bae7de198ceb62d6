package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.core.{Bbox, Circle, Geometry}
import graft.queries.PointCloudQueries
import graft.sources.TempDir

class PointCloudSpec extends AnyFunSuite with TempDir {

  private val sfDir = "/root/testdata/sf0.001"

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  private lazy val raw: Seq[(Double, Double, Double)] = {
    val df = PointCloudQueries.rawPoints(spark, sfDir)
    df.collect().map(r => (r.getDouble(0), r.getDouble(1), r.getDouble(2))).toSeq
  }

  private lazy val cloud: BlockedCloud =
    PointCloud.importPoints(PointCloudQueries.rawPoints(spark, sfDir), ImportSpec(name = "t"))

  private def collected(df: DataFrame): Seq[(Double, Double, Double)] =
    df.select(col("x").cast("double"), col("y").cast("double"), col("z"))
      .collect().map(r => (r.getDouble(0), r.getDouble(1), r.getDouble(2))).toSeq.sorted

  test("csv block sink renders pg-COPY array literals") {
    val dir = tmp("csv_sink")
    PointCloud.writeCsv(cloud, dir)
    val back = spark.read.option("header", "true").csv(dir)
    assert(back.columns.toSeq == Seq("sfc_head", "sfc_tail", "z"))
    assert(back.count() == cloud.blocks.count())
    val row = back.filter(col("sfc_tail").contains(",")).head()
    assert(row.getString(1).startsWith("{") && row.getString(1).endsWith("}"))
  }

  test("import preserves the point multiset (pack -> explode identity)") {
    val all = cloud.bboxQuery(Bbox(0, 8191, 0, 8191))
    assert(collected(all) == raw.sorted)
    assert(cloud.meta.pointCount == raw.size)
  }

  test("metadata split matches splitLengths for the 8192 grid") {
    assert(cloud.meta.headLen == 18 && cloud.meta.tailLen == 8)
  }

  test("bbox query ≡ naive filter") {
    for (b <- Seq(Bbox(1000, 1050, 2000, 2050), Bbox(512, 4096, 512, 4096),
      Bbox(4000, 4001, 0, 8191), Bbox(0, 10, 8000, 8191))) {
      val expect = raw.filter(p => b.contains(p._1, p._2)).sorted
      assert(collected(cloud.bboxQuery(b)) == expect, s"bbox $b")
    }
  }

  test("empty bbox (outside grid) returns nothing") {
    assert(cloud.bboxQuery(Bbox(9000, 9500, 9000, 9500)).count() == 0)
  }

  test("circle query ≡ naive distance filter") {
    val c = Circle(3000.5, 3000.5, 200.3)
    val expect = raw.filter(p => c.contains(p._1, p._2)).sorted
    assert(collected(cloud.circleQuery(c)) == expect)
    assert(expect.nonEmpty, "fixture circle should be non-empty")
  }

  test("polygon query ≡ naive ray-cast filter (generic non-convex pentagon)") {
    val wkt = "POLYGON ((500.5 700.5, 4000.5 900.5, 6000.5 4000.5, 3000.5 2500.5, 900.5 5000.5, 500.5 700.5))"
    val poly = Geometry.parseWktPolygon(wkt)
    val expect = raw.filter(p => poly.contains(p._1, p._2)).sorted
    assert(collected(cloud.polygonQuery(wkt)) == expect)
    assert(expect.nonEmpty)
  }

  test("polygon with hole excludes the hole") {
    val wkt = "POLYGON ((1000.5 1000.5, 4000.5 1000.5, 4000.5 4000.5, 1000.5 4000.5, 1000.5 1000.5), " +
      "(2000.5 2000.5, 3000.5 2000.5, 3000.5 3000.5, 2000.5 3000.5, 2000.5 2000.5))"
    val got = collected(cloud.polygonQuery(wkt))
    val expect = raw.filter { case (x, y, _) =>
      x > 1000.5 && x < 4000.5 && y > 1000.5 && y < 4000.5 &&
        !(x > 2000.5 && x < 3000.5 && y > 2000.5 && y < 3000.5)
    }.sorted
    assert(got == expect)
  }

  test("polyline buffer ≡ naive segment-distance filter") {
    val wkt = "LINESTRING (500.5 3500.5, 2000.5 2000.5, 3500.5 3000.5)"
    val r = 150.25
    val line = Geometry.parseWktLinestring(wkt)
    def segD2(x: Double, y: Double, ax: Double, ay: Double, bx: Double, by: Double) = {
      val dxc = bx - ax; val dyc = by - ay
      val len2 = dxc * dxc + dyc * dyc
      val t = math.max(0.0, math.min(1.0, ((x - ax) * dxc + (y - ay) * dyc) / len2))
      val fx = x - (t * dxc + ax); val fy = y - (t * dyc + ay)
      fx * fx + fy * fy
    }
    def within(x: Double, y: Double) = (0 until line.length / 2 - 1).exists { s =>
      segD2(x, y, line(2 * s), line(2 * s + 1), line(2 * s + 2), line(2 * s + 3)) <= r * r
    }
    val expect = raw.filter(p => within(p._1, p._2)).sorted
    assert(collected(cloud.polylineBufferQuery(wkt, r)) == expect)
    assert(expect.nonEmpty, "fixture corridor should be non-empty")
    // cap semantics: a point just beyond an endpoint but within r of it
    // is IN (round caps), one at r + epsilon is OUT
    assert(within(500.5, 3500.5 + r - 0.1) && !within(500.5, 3500.5 + r + 0.1))
  }

  test("diagonal rectangle polygon ≡ rotated-axis box filter") {
    val wkt = "POLYGON ((1750 2250.5, 2050 2550.5, 2550.5 2050, 2250.5 1750, 1750 2250.5))"
    val expect = raw.filter { case (x, y, _) =>
      val u = x + y; val v = x - y
      u >= 4000.5 && u <= 4600.5 && v >= -500.5 && v <= 500.5
    }.sorted
    assert(collected(cloud.polygonQuery(wkt)) == expect)
    assert(expect.nonEmpty)
  }

  test("polygon with two holes excludes both holes") {
    val poly = Geometry.parseWktPolygon(
      "POLYGON ((500.5 500.5, 4500.5 500.5, 4500.5 4500.5, 500.5 4500.5, 500.5 500.5), " +
        "(1000.5 1000.5, 1800.5 1000.5, 1800.5 1800.5, 1000.5 1800.5, 1000.5 1000.5), " +
        "(2500.5 2500.5, 3500.5 2500.5, 3500.5 3500.5, 2500.5 3500.5, 2500.5 2500.5))")
    val expect = raw.filter(p => poly.contains(p._1, p._2)).sorted
    val got = collected(cloud.polygonQuery(poly))
    assert(got == expect)
    // sanity: the holes really removed points the shell would keep
    assert(expect.forall { case (x, y, _) =>
      !(x > 1000.5 && x < 1800.5 && y > 1000.5 && y < 1800.5)
    })
    assert(expect.nonEmpty)
  }

  test("min/max z refinement") {
    val b = Bbox(512, 4096, 512, 4096)
    val got = collected(cloud.withMaxZ(cloud.withMinZ(cloud.bboxQuery(b), 10.0), 25.0))
    val expect = raw.filter(p => b.contains(p._1, p._2) && p._3 >= 10.0 && p._3 <= 25.0).sorted
    assert(got == expect)
  }

  test("knn ≡ naive top-k by distance") {
    val (px, py, k) = (3000.5, 3000.5, 100)
    def d2(p: (Double, Double, Double)) = (p._1 - px) * (p._1 - px) + (p._2 - py) * (p._2 - py)
    val expect = raw.sortBy(p => (d2(p), p._1, p._2, p._3)).take(k)
    val got = cloud.knn(px, py, k)
      .collect().map(r => (r.getDouble(0), r.getDouble(1), r.getDouble(2))).toSeq
    // compare as ordered-by-distance multisets (equal-distance suffix may permute)
    assert(got.map(d2).sorted == expect.map(d2).sorted)
    assert(got.sorted == expect.sorted)
  }

  test("knn from a query point far outside the data extent still returns k rows") {
    // regression (ADVICE r1): the probe circle used to stop growing at
    // 2*span, which only covers the data when the query point is inside
    // the bbox — an exterior point silently returned < k rows
    val (px, py, k) = (50000.0, -20000.0, 7)
    def d2(p: (Double, Double, Double)) = (p._1 - px) * (p._1 - px) + (p._2 - py) * (p._2 - py)
    val expect = raw.sortBy(p => (d2(p), p._1, p._2, p._3)).take(k)
    val got = cloud.knn(px, py, k)
      .collect().map(r => (r.getDouble(0), r.getDouble(1), r.getDouble(2))).toSeq
    assert(got.length == k)
    assert(got.map(d2).sorted == expect.map(d2).sorted)
  }

  /** 20 000 points in a 64 x 64 corner of an 8192² extent, 20 in the
    * far corner — 99.9% of the mass in 0.006% of the area. */
  private lazy val skewedPts: Seq[(Double, Double, Double)] = {
    val rng = new scala.util.Random(7)
    val dense = (1 to 20000).map(_ =>
      (rng.nextInt(64).toDouble, rng.nextInt(64).toDouble, 1.0))
    val sparse = (1 to 20).map(_ =>
      (7000.0 + rng.nextInt(1000), 7000.0 + rng.nextInt(1000), 2.0))
    dense ++ sparse
  }

  private lazy val skewed: BlockedCloud = {
    import spark.implicits._
    PointCloud.importPoints(skewedPts.toDF("x", "y", "z"), ImportSpec(name = "skewed"))
  }

  private def d2From(px: Double, py: Double)(p: (Double, Double, Double)): Double =
    (p._1 - px) * (p._1 - px) + (p._2 - py) * (p._2 - py)

  /** The seed circle of `c` holds ≥ min(k, n) of `pts` by brute-force
    * count, and `c.knn` equals brute force ranked by (d², x, y, z). */
  private def checkKnn(c: BlockedCloud, pts: Seq[(Double, Double, Double)],
      px: Double, py: Double, k: Int): Unit = {
    val r = c.knnSeedRadius(px, py, k)
    val held = pts.count(p => d2From(px, py)(p) <= r * r)
    assert(held >= math.min(k, pts.size), s"seed ($px, $py, k = $k) radius $r holds $held")
    val want = pts.sortBy(p => (d2From(px, py)(p), p._1, p._2, p._3)).take(k)
    val got = c.knn(px, py, k).collect()
      .map(r => (r.getDouble(0), r.getDouble(1), r.getDouble(2))).toSeq
    assert(got == want, s"knn ($px, $py, k = $k)")
  }

  test("knn seed adapts to adversarially clustered clouds: one exact seed, local radius") {
    val k = 50
    // query in the dense corner: a global-density seed would cover
    // ~sqrt(k/globalDensity) ~ thousands of units; the local seed stays
    // near the cluster scale and its circle already holds k points
    val seedDense = skewed.knnSeedRadius(32.0, 32.0, k)
    assert(seedDense <= 200.0, s"dense-corner seed radius $seedDense overshoots")
    checkKnn(skewed, skewedPts, 32.0, 32.0, k)
    // query in the sparse far region: the k-th neighbour is in the dense
    // corner ~10^4 units away; the window grows driver-side (no jobs)
    // until it reaches it
    checkKnn(skewed, skewedPts, 7500.0, 7500.0, k)
    val expectKth = skewedPts.map(d2From(32.0, 32.0)).sorted.apply(k - 1)
    val gotD2 = skewed.knn(32.0, 32.0, k).collect()
      .map(r => (r.getDouble(0), r.getDouble(1), r.getDouble(2))).map(d2From(32.0, 32.0))
    assert(gotD2.length == k && gotD2.max <= expectKth + 1e-9)
  }

  test("knn seed circle holds min(k, n) points and knn ≡ brute force") {
    import spark.implicits._
    val rng = new scala.util.Random(17)
    val random = (1 to 3000).map(_ =>
      (rng.nextInt(1000).toDouble, rng.nextInt(1000).toDouble, rng.nextInt(5000) / 100.0))
    val randomCloud = PointCloud.importPoints(random.toDF("x", "y", "z"), ImportSpec(name = "r"))
    Seq((500.5, 500.5, 1), (500.5, 500.5, 40), (3.25, 990.75, 200), (999.0, 0.0, 7))
      .foreach { case (px, py, k) => checkKnn(randomCloud, random, px, py, k) }
    // skewed: every corner and the empty middle
    Seq((0.0, 0.0, 300), (4000.5, 4000.5, 25), (8191.0, 0.0, 5), (7500.25, 7900.75, 19))
      .foreach { case (px, py, k) => checkKnn(skewed, skewedPts, px, py, k) }
    // query points far outside the extent, on every side
    Seq((50000.0, -20000.0, 7), (-3000.5, 9000.25, 60), (4000.0, 1e6, 3))
      .foreach { case (px, py, k) => checkKnn(cloud, raw, px, py, k) }
    // k > n: every point, ranked
    val tiny = Seq((3.0, 4.0, 1.0), (10.0, 2.0, 2.0), (10.0, 2.0, 2.0), (7.0, 7.0, 0.5),
      (0.0, 9.0, 3.0))
    val tinyCloud = PointCloud.importPoints(tiny.toDF("x", "y", "z"), ImportSpec(name = "tiny"))
    Seq((5.5, 5.5, 9), (-100.0, 40.0, 5), (6.0, 3.0, 1000))
      .foreach { case (px, py, k) => checkKnn(tinyCloud, tiny, px, py, k) }
    // a stored cloud with an appended delta, partly outside the base extent
    val dir = tmpSubdir("graft_pc_knn_delta")
    PointCloud.write(randomCloud, dir)
    val delta = (1 to 400).map(_ =>
      (900.0 + rng.nextInt(120), 20.0 + rng.nextInt(50), rng.nextInt(5000) / 100.0))
    PointCloud.appendPoints(spark, dir, delta.toDF("x", "y", "z"))
    val stored = PointCloud.read(spark, dir)
    Seq((960.5, 45.5, 30), (1015.0, 60.0, 450), (500.5, 500.5, 64), (1500.0, -300.0, 12))
      .foreach { case (px, py, k) => checkKnn(stored, random ++ delta, px, py, k) }
  }

  test("batch knn ≡ brute force per query, outside and repeated query points included") {
    val dir = tmpSubdir("graft_pc_knn_batch")
    PointCloud.write(cloud, dir)
    val stored = PointCloud.read(spark, dir)
    val queries = Seq((1L, 3000.5, 3000.5), (2L, 1000.25, 5000.75), (3L, 7000.5, 500.5),
      (4L, 50000.0, -20000.0), (5L, 3000.5, 3000.5))
    val k = 40
    val got = stored.knnBatch(queries, k).collect().map(r => (r.getLong(0), (r.getDouble(1), r.getDouble(2),
      r.getDouble(3)))).groupBy(_._1).view.mapValues(_.map(_._2).toSeq.sorted).toMap
    queries.foreach { case (qid, px, py) =>
      val want = raw.sortBy(p => (d2From(px, py)(p), p._1, p._2, p._3)).take(k).sorted
      assert(got(qid) == want, s"query $qid")
    }
  }

  test("pc_knn_batch executes one FileScan and no Union") {
    val df = PointCloudQueries.queries("pc_knn_batch")(spark, sfDir)
    assert(df.collect().length == 150)
    val executed = df.queryExecution.executedPlan
    assert(plans.collect(executed) {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s }.size == 1, executed)
    assert(plans.collect(executed) {
      case u: org.apache.spark.sql.execution.UnionExec => u }.isEmpty, executed)
  }

  test("histogram ≡ naive cell group-by") {
    val got = cloud.histogram.collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    val expect = raw.groupBy(p => (p._1.toLong >> 4, p._2.toLong >> 4))
      .map { case (k, v) => (k, v.size.toLong) }
    assert(got == expect)
  }

  test("blocks are tail-sorted and heads unique (clustered layout invariant)") {
    val rows = cloud.blocks.collect()
    val heads = rows.map(_.getLong(0))
    assert(heads.distinct.length == heads.length, "duplicate sfc_head blocks")
    rows.foreach { r =>
      val tails = r.getSeq[Long](1)
      assert(tails == tails.sorted, s"unsorted tails in block ${r.getLong(0)}")
      assert(tails.size == r.getSeq[Double](2).size)
    }
  }

  test("import sorts and packs in one task per range partition, on one long key") {
    val dir = tmpSubdir("graft_pc_pack")
    PackStage.assertParallelPack(spark, cloud.blocks, cloud.meta.pointCount, dir)(
      PointCloud.write(cloud, dir))
  }

  /** The calls of one cloud's store, so each store guard below runs on
    * both clouds; `prefix` names a cloud's tests. `load` imports points
    * and `save` imports and writes them. */
  private case class Store(prefix: String, load: DataFrame => Any,
      save: (DataFrame, String) => Unit, read: String => (StoreMeta[_], DataFrame),
      ingest: String => (DataFrame, Long) => Unit, append: (String, DataFrame) => Unit,
      compact: String => Unit)

  private val stores = Seq(
    Store("", PointCloud.importPoints(_, ImportSpec(ratio = 0.5)),
      (points, dir) =>
        PointCloud.write(PointCloud.importPoints(points, ImportSpec(ratio = 0.5)), dir),
      { dir => val c = PointCloud.read(spark, dir); (c.meta, c.blocks) },
      graft.streaming.Streams.cloudIngest(spark, _), PointCloud.appendPoints(spark, _, _),
      PointCloud.compact(spark, _)),
    Store("3D: ", PointCloud3.importPoints(_),
      (points, dir) => PointCloud3.write(PointCloud3.importPoints(points), dir),
      { dir => val c = PointCloud3.read(spark, dir); (c.meta, c.blocks) },
      graft.streaming.Streams.cloud3Ingest(spark, _), PointCloud3.appendBatch(spark, _, _, 0L),
      PointCloud3.compact(spark, _)))

  for (store <- stores)
    test(s"${store.prefix}a NaN coordinate fails the import with NumberFormatException") {
      import spark.implicits._
      val nan = Seq((0.0, 0.0, 0.0), (Double.NaN, 1.0, 1.0)).toDF("x", "y", "z")
      intercept[NumberFormatException](store.load(nan))
    }

  test("write/read roundtrip preserves query results") {
    val dir = tmpSubdir("graft_pc_test")
    PointCloud.write(cloud, dir)
    val re = PointCloud.read(spark, dir)
    val b = Bbox(1000, 1050, 2000, 2050)
    assert(collected(re.bboxQuery(b)) == collected(cloud.bboxQuery(b)))
    assert(re.meta == cloud.meta)
  }

  test("append keeps queries correct; compact restores the unique-head layout") {
    import spark.implicits._
    val dir = tmpSubdir("graft_pc_appc")
    val base = (0 until 400).map(i => ((i % 20) * 10.0, (i / 20) * 10.0, i.toDouble))
    val delta = (0 until 100).map(i => ((i % 10) * 10.0 + 5.0, (i / 10) * 10.0 + 5.0, -i.toDouble))
    val spec = ImportSpec(ratio = 0.5)
    PointCloud.write(PointCloud.importPoints(base.toDF("x", "y", "z"), spec), dir)
    PointCloud.appendPoints(spark, dir, delta.toDF("x", "y", "z"))

    val b = Bbox(0, 120, 0, 120)
    def result(c: BlockedCloud) = collected(c.bboxQuery(b))
    val appended = PointCloud.read(spark, dir)
    val oracle = PointCloud.importPoints((base ++ delta).toDF("x", "y", "z"), spec)
    assert(result(appended) == result(oracle))
    assert(appended.meta.pointCount == 500)
    // fragmentation is real (some head appears in more than one block)...
    val dupHeads = appended.blocks.groupBy("sfc_head").count().filter("count > 1").count()
    assert(dupHeads > 0, "append fixture should fragment at least one head")

    PointCloud.compact(spark, dir)
    val compacted = PointCloud.read(spark, dir)
    // ...and compaction removes it without changing any result
    assert(compacted.blocks.groupBy("sfc_head").count().filter("count > 1").isEmpty)
    assert(result(compacted) == result(oracle))
    assert(compacted.meta.pointCount == 500)
  }

  for (store <- stores)
    test(s"${store.prefix}compact crash window (meta written, delta not yet deleted) stays " +
        "consistent") {
      import spark.implicits._
      import java.nio.file.{Files, Paths}
      val dir = tmpSubdir("graft_pc_crash")
      val base = (0 until 400).map(i => ((i % 20) * 10.0, (i / 20) * 10.0, i.toDouble))
      // z >= 0: the 3D store keys z on a non-negative grid
      val delta =
        (0 until 100).map(i => ((i % 10) * 10.0 + 5.0, (i / 10) * 10.0 + 5.0, i.toDouble))
      store.save(base.toDF("x", "y", "z"), dir)
      // streamed ingest is the path that creates the blocks_delta +
      // counts ledger dirs compact later folds in
      store.ingest(dir)(delta.toDF("x", "y", "z"), 0L)

      // snapshot the delta + ledger dirs, run a full compact, then put
      // them back: that reconstructs exactly the state a crash between
      // compact's meta write and its delta/ledger deletion leaves behind
      def copyTree(from: String, to: String): Unit = {
        val src = Paths.get(from)
        val s = Files.walk(src)
        try s.forEach { p =>
          val t = Paths.get(to).resolve(src.relativize(p))
          if (Files.isDirectory(p)) Files.createDirectories(t)
          else Files.copy(p, t)
        } finally s.close()
      }
      val snap = tmpSubdir("graft_pc_crash_snap")
      copyTree(s"$dir/blocks_delta", s"$snap/blocks_delta")
      copyTree(s"$dir/counts", s"$snap/counts")
      store.compact(dir)
      copyTree(s"$snap/blocks_delta", s"$dir/blocks_delta")
      copyTree(s"$snap/counts", s"$dir/counts")

      // invariant under the crash state: composed meta pointCount still
      // equals the physical point multiset it announces (base + 2x delta
      // — a consistent overcount, never points the meta doesn't know of)
      val (crashed, crashedBlocks) = store.read(dir)
      val physical = crashedBlocks.select(explode(col("sfc_tail"))).count()
      assert(crashed.pointCount == physical, s"meta=${crashed.pointCount} physical=$physical")
      assert(crashed.pointCount == 600L)

      // a re-run of compact from the crash state converges to the clean one
      store.compact(dir)
      val (re, reBlocks) = store.read(dir)
      assert(re.pointCount == reBlocks.select(explode(col("sfc_tail"))).count())
    }

  test("streamed 2D appends are exactly-once and equal a batch rebuild") {
    import spark.implicits._
    val dir = tmpSubdir("graft_pc_stream")
    val base = (0 until 400).map(i => ((i % 20) * 10.0, (i / 20) * 10.0, i.toDouble))
    val d1 = (0 until 90).map(i => ((i % 10) * 10.0 + 5.0, (i / 10) * 10.0 + 5.0, -i.toDouble))
    val d2 = (0 until 60).map(i => ((i % 12) * 15.0 + 2.0, (i / 12) * 15.0 + 2.0, i * 2.0))
    val spec = ImportSpec(ratio = 0.5)
    PointCloud.write(PointCloud.importPoints(base.toDF("x", "y", "z"), spec), dir)

    val ingest = graft.streaming.Streams.cloudIngest(spark, dir)
    ingest(d1.toDF("x", "y", "z"), 0L)
    ingest(d2.toDF("x", "y", "z"), 1L)
    ingest(d2.toDF("x", "y", "z"), 1L) // at-least-once replay of batch 1

    val b = Bbox(0, 200, 0, 200)
    val streamed = PointCloud.read(spark, dir)
    val rebuilt = PointCloud.importPoints((base ++ d1 ++ d2).toDF("x", "y", "z"), spec)
    assert(streamed.meta.pointCount == 550) // ledger saw each batch once
    assert(streamed.meta.zMin == rebuilt.meta.zMin &&
      streamed.meta.zMax == rebuilt.meta.zMax)
    assert(collected(streamed.bboxQuery(b)) == collected(rebuilt.bboxQuery(b)))
    // empty micro-batch: no-op
    ingest(Seq.empty[(Double, Double, Double)].toDF("x", "y", "z"), 2L)
    assert(PointCloud.read(spark, dir).meta.pointCount == 550)
    // compaction folds deltas + ledger and restores the clustered layout
    PointCloud.compact(spark, dir)
    val compacted = PointCloud.read(spark, dir)
    assert(compacted.blocks.groupBy("sfc_head").count().filter("count > 1").isEmpty)
    assert(compacted.meta.pointCount == 550)
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(s"$dir/blocks_delta")))
    assert(collected(compacted.bboxQuery(b)) == collected(rebuilt.bboxQuery(b)))
  }

  test("radiusOutlierRemoval drops isolated points, keeps clusters") {
    import spark.implicits._
    // a tight 5-point cluster + one isolated point far away
    val pts = Seq(
      (100.0, 100.0, 1.0), (101.0, 100.0, 1.0), (100.0, 101.0, 1.0),
      (101.0, 101.0, 1.0), (102.0, 100.0, 1.0),
      (500.0, 500.0, 1.0))
    val c = PointCloud.importPoints(pts.toDF("x", "y", "z"), ImportSpec(ratio = 0.5))
    val kept = collected(c.radiusOutlierRemoval(10.0, 3L))
    assert(kept.toSet == pts.take(5).toSet)
    // multiplicity counts: 3 identical copies survive minNeighbors = 3
    val dup = Seq.fill(3)((500.0, 500.0, 1.0)) ++ Seq((100.0, 100.0, 1.0))
    val c2 = PointCloud.importPoints(dup.toDF("x", "y", "z"), ImportSpec(ratio = 0.5))
    val kept2 = collected(c2.radiusOutlierRemoval(10.0, 3L))
    assert(kept2 == Seq.fill(3)((500.0, 500.0, 1.0)))
  }

  test("radius outlier plan: dropped-set anti join broadcasts, points never shuffle") {
    import spark.implicits._
    val pts = (0 until 2000).map(i => ((i % 50) * 2.0, (i / 50) * 2.0, 1.0)) ++
      Seq((5000.0, 5000.0, 1.0))
    val c = PointCloud.importPoints(pts.toDF("x", "y", "z"), ImportSpec(ratio = 0.5))
    val out = c.radiusOutlierRemoval(5.0, 3L)
    // collect on THIS frame so AQE finalizes this queryExecution
    assert(out.collect().length == 2000) // the lone far point drops
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanHelper, AQEShuffleReadExec}
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    val helper = new AdaptiveSparkPlanHelper {}
    // after AQE finalizes: the last join must be a broadcast ANTI join
    // (build side = the rare dropped identities, not a kept-set as big
    // as the cloud), and the point-multiset side's pre-planned shuffle
    // must have degraded to a LOCAL read — no network repartition
    val anti = helper.collectWithSubqueries(out.queryExecution.executedPlan) {
      case j: BroadcastHashJoinExec
        if j.joinType == org.apache.spark.sql.catalyst.plans.LeftAnti => j
    }
    assert(anti.nonEmpty, "expected an AQE broadcast LeftAnti final join")
    val reads = helper.collect(anti.head.left) { case r: AQEShuffleReadExec => r }
    assert(reads.forall(_.isLocalRead),
      s"point-side shuffle read must be local: ${anti.head.left}")
  }

  test("morphologicalGround: spike falls at stage 1, building only at stage 2") {
    import spark.implicits._
    // 6x6 cell plain at z=10 (cell size 1, one point per cell center),
    // a 2x2 "building" at z=50 over cells (0..1, 0..1), and an isolated
    // spike at cell (4, 4). A 3x3 opening erases the spike but not the
    // building corner (its whole window is roof); the 5x5 stage reaches
    // plain cells from everywhere and flattens the building too — the
    // progressive property PMF exists for.
    val pts = (for (cx <- 0 until 6; cy <- 0 until 6) yield {
      val z =
        if (cx <= 1 && cy <= 1) 50.0
        else if (cx == 4 && cy == 4) 50.0
        else 10.0
      (cx + 0.5, cy + 0.5, z)
    }).toSeq
    val c = PointCloud.importPoints(pts.toDF("x", "y", "z"),
      ImportSpec(ratio = 0.5, scaleX = 0.5, scaleY = 0.5))

    // stage 1 only: spike non-ground, building corner still "ground"
    val s1 = c.morphologicalGround(1.0, Seq((1, 0.5)))
      .collect().map(r => ((r.getDouble(0), r.getDouble(1)), r.getInt(3))).toMap
    assert(s1((4.5, 4.5)) == 0, "spike must fall at the 3x3 stage")
    assert(s1((0.5, 0.5)) == 1, "building corner survives a 3x3-only opening")
    assert(s1((3.5, 3.5)) == 1)

    // both stages: building rejected too, plain untouched
    val s2 = c.morphologicalGround(1.0, Seq((1, 0.5), (2, 1.0)))
      .collect().map(r => ((r.getDouble(0), r.getDouble(1)), r.getInt(3))).toMap
    assert(s2((4.5, 4.5)) == 0)
    Seq((0.5, 0.5), (1.5, 0.5), (0.5, 1.5), (1.5, 1.5)).foreach { k =>
      assert(s2(k) == 0, s"building cell $k must fall at the 5x5 stage")
    }
    val ground = s2.filter(_._2 == 1).keys.toSet
    assert(ground.size == 36 - 5, "exactly the plain remains ground")
  }

  // base maxes are (190, 190) -> 8 bits/dim -> 16-bit 2D keys; (300,
  // 300) needs 9 bits/dim, outside the coverable head space — before
  // the guard this appended fine but every bbox query silently omitted
  // it. In 3D, z up to 399.00 takes the key to 48 bits; x = 65536 is
  // the first to need more.
  for ((store, bad) <- stores.zip(Seq((300.0, 300.0, 1.0), (65536.0, 1.0, 1.0))))
    test(s"${store.prefix}append beyond the stored key-space envelope is rejected") {
      import spark.implicits._
      val dir = tmpSubdir("graft_pc_appx")
      val base = (0 until 400).map(i => ((i % 20) * 10.0, (i / 20) * 10.0, i.toDouble))
      store.save(base.toDF("x", "y", "z"), dir)
      val meta0 = store.read(dir)._1
      val e = intercept[IllegalArgumentException] {
        store.append(dir, Seq(bad).toDF("x", "y", "z"))
      }
      assert(e.getMessage.contains("key space"))
      // the rejected append must not have touched the store
      assert(store.read(dir)._1 == meta0)
    }

  test("a quantized x past the 31-bit grid cap is rejected on import and append") {
    import spark.implicits._
    // 2^32 + 5 used to lose its high bits in the interleave and be
    // stored as x = 5
    val wide = Seq((4294967301.0, 1.0, 1.0), (0.0, 0.0, 0.0)).toDF("x", "y", "z")
    val e = intercept[IllegalArgumentException] {
      PointCloud.importPoints(wide, ImportSpec(ratio = 0.5))
    }
    assert(e.getMessage.contains("quantized x max"))
    val dir = tmpSubdir("graft_pc_wide")
    PointCloud.write(PointCloud.importPoints(
      Seq((0.0, 0.0, 0.0), (190.0, 190.0, 1.0)).toDF("x", "y", "z"), ImportSpec(ratio = 0.5)), dir)
    val meta0 = PointCloud.read(spark, dir).meta
    val ea = intercept[IllegalArgumentException] {
      PointCloud.appendPoints(spark, dir, Seq((4294967301.0, 1.0, 1.0)).toDF("x", "y", "z"))
    }
    assert(ea.getMessage.contains("quantized x"))
    assert(PointCloud.read(spark, dir).meta == meta0)
  }

  test("importing an empty 2D cloud fails with the empty-cloud message") {
    import spark.implicits._
    val e = intercept[IllegalArgumentException] {
      PointCloud.importPoints(Seq.empty[(Double, Double, Double)].toDF("x", "y", "z"),
        ImportSpec())
    }
    assert(e.getMessage.contains("cannot import an empty point cloud"))
  }

  private object plans extends org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper

  /** (FileScans, Unions) in a frame's physical plan. */
  private def scansAndUnions(df: DataFrame): (Int, Int) = {
    val p = df.queryExecution.sparkPlan
    (p.collect { case s: org.apache.spark.sql.execution.FileSourceScanExec => s }.size,
      p.collect { case u: org.apache.spark.sql.execution.UnionExec => u }.size)
  }

  /** Rows the executed frame's scans handed up — blocks read. */
  private def blocksRead(df: DataFrame): Long = {
    df.collect()
    plans.collect(df.queryExecution.executedPlan) {
      case s: org.apache.spark.sql.execution.FileSourceScanExec =>
        s.metrics("numOutputRows").value
    }.sum
  }

  test("every 2D selection reads the store in one scan, never a union") {
    val dir = tmpSubdir("graft_pc_plan")
    PointCloud.write(cloud, dir)
    val stored = PointCloud.read(spark, dir)
    val b = Bbox(1000, 1300, 2000, 2300)
    val c = Circle(3000.5, 3000.5, 200.3)
    val hole = Geometry.parseWktPolygon(
      "POLYGON ((1000.5 1000.5, 4000.5 1000.5, 4000.5 4000.5, 1000.5 4000.5, 1000.5 1000.5), " +
        "(2000.5 2000.5, 3000.5 2000.5, 3000.5 3000.5, 2000.5 3000.5, 2000.5 2000.5))")
    val selections = Seq(
      ("bbox", stored.bboxQuery(b), (p: (Double, Double, Double)) => b.contains(p._1, p._2)),
      ("circle", stored.circleQuery(c), (p: (Double, Double, Double)) => c.contains(p._1, p._2)),
      ("polygon with hole", stored.polygonQuery(hole),
        (p: (Double, Double, Double)) => hole.contains(p._1, p._2)))
    selections.foreach { case (name, df, in) =>
      assert(scansAndUnions(df) == ((1, 0)), name)
      assert(collected(df) == raw.filter(in).sorted, name)
    }
    val corridor = stored.polylineBufferQuery(
      "LINESTRING (500.5 3500.5, 2000.5 2000.5, 3500.5 3000.5)", 150.25)
    assert(scansAndUnions(corridor) == ((1, 0)), "polyline buffer")
    assert(collected(corridor) == collected(cloud.polylineBufferQuery(
      "LINESTRING (500.5 3500.5, 2000.5 2000.5, 3500.5 3000.5)", 150.25)))
    // outside the grid the cover is empty: the plan has no scan at all
    val empty = stored.bboxQuery(Bbox(9000, 9500, 9000, 9500))
    assert(scansAndUnions(empty) == ((0, 0)) && empty.count() == 0)
  }

  test("a small bbox reads under 10% of the stored blocks, also after compact") {
    import spark.implicits._
    val dir = tmpSubdir("graft_pc_prune")
    // 256 x 256 unit grid at 4 points per block: 16384 blocks, 128 pages
    val base = (0 until 65536).map(i => ((i % 256).toDouble, (i / 256).toDouble, (i % 7).toDouble))
    PointCloud.write(PointCloud.importPoints(base.toDF("x", "y", "z"),
      ImportSpec(targetPointsPerBlock = Some(4))), dir)
    val b = Bbox(205, 214, 205, 214)
    def check(pts: Seq[(Double, Double, Double)]): Unit = {
      val stored = PointCloud.read(spark, dir)
      val nBlocks = stored.blocks.count()
      val q = stored.bboxQuery(b)
      val read = blocksRead(q)
      assert(read > 0 && read < nBlocks / 10, s"read $read of $nBlocks blocks")
      assert(collected(q) == pts.filter(p => b.contains(p._1, p._2)).sorted)
    }
    check(base)
    val delta = (0 until 1000).map(i => (200.0 + i % 40, 200.0 + i / 40, -1.0))
    PointCloud.appendPoints(spark, dir, delta.toDF("x", "y", "z"))
    PointCloud.compact(spark, dir)
    check(base ++ delta)
  }

  /** Codegen compile time (ns) a thunk adds — 0 when every class it
    * runs is already in Spark's codegen cache. */
  private def compileNs[A](f: => A): Long = {
    val t0 = org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime
    f
    org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime - t0
  }

  test("selections that differ only in geometry share one compiled class") {
    val dir = tmpSubdir("graft_pc_shape")
    PointCloud.write(cloud, dir)
    val stored = PointCloud.read(spark, dir)
    def poly(x0: Double, y0: Double, s: Double) = Geometry.parseWktPolygon(
      s"POLYGON (($x0 $y0, ${x0 + s} $y0, ${x0 + s / 2} ${y0 + s}, $x0 $y0))")
    def d2(px: Double, py: Double)(p: (Double, Double, Double)) =
      (p._1 - px) * (p._1 - px) + (p._2 - py) * (p._2 - py)
    def knnRows(px: Double, py: Double) = stored.knn(px, py, 20).collect()
      .map(r => (r.getDouble(0), r.getDouble(1), r.getDouble(2))).toSeq.sorted
    // (name, result of a first and of a second geometry, brute force of the second)
    val shapes: Seq[(String, () => Seq[(Double, Double, Double)],
        () => Seq[(Double, Double, Double)], Seq[(Double, Double, Double)])] = Seq(
      ("bbox", () => collected(stored.bboxQuery(Bbox(1000, 1300, 2000, 2300))),
        () => collected(stored.bboxQuery(Bbox(2500, 3100, 500, 900))),
        raw.filter(p => Bbox(2500, 3100, 500, 900).contains(p._1, p._2))),
      ("circle", () => collected(stored.circleQuery(Circle(3000.5, 3000.5, 200.3))),
        () => collected(stored.circleQuery(Circle(1200.25, 4100.75, 350.5))),
        raw.filter(p => Circle(1200.25, 4100.75, 350.5).contains(p._1, p._2))),
      ("polygon", () => collected(stored.polygonQuery(poly(1000.5, 1000.5, 900))),
        () => collected(stored.polygonQuery(poly(3000.5, 2000.5, 1400))),
        raw.filter(p => poly(3000.5, 2000.5, 1400).contains(p._1, p._2))),
      ("bbox + maxz", () => collected(stored.withMaxZ(stored.bboxQuery(Bbox(512, 2048, 512, 2048)), 25.0)),
        () => collected(stored.withMaxZ(stored.bboxQuery(Bbox(3000, 4096, 1000, 2500)), 12.5)),
        raw.filter(p => Bbox(3000, 4096, 1000, 2500).contains(p._1, p._2) && p._3 <= 12.5)),
      ("knn", () => knnRows(3000.5, 3000.5), () => knnRows(1500.25, 700.75),
        raw.sortBy(p => (d2(1500.25, 700.75)(p), p._1, p._2, p._3)).take(20).sorted))
    shapes.foreach { case (name, first, second, want) =>
      assert(first().nonEmpty, name)
      var got = Seq.empty[(Double, Double, Double)]
      assert(compileNs { got = second() } == 0L, name)
      assert(got == want.sorted && got.nonEmpty, name)
    }
  }

  test("the head cover is pushed to the scan and kept out of the row filter") {
    val dir = tmpSubdir("graft_pc_cover")
    PointCloud.write(cloud, dir)
    val q = PointCloud.read(spark, dir).bboxQuery(Bbox(1000, 1300, 2000, 2300))
    val plan = q.queryExecution.executedPlan
    val scan = plan.collect { case s: org.apache.spark.sql.execution.FileSourceScanExec => s }
    assert(scan.size == 1)
    val pushed = scan.head.metadata("PushedFilters")
    assert(pushed.contains("GreaterThanOrEqual(sfc_head") || pushed.contains("EqualTo(sfc_head"),
      pushed)
    val rowFilters = plan.collect { case f: org.apache.spark.sql.execution.FilterExec =>
      f.condition.toString }
    assert(rowFilters.exists(_.contains("pushed_ranges")), rowFilters)
    assert(rowFilters.exists(_.contains("queryparam(1000.0)")), rowFilters)
    // no per-row BETWEEN on the head: the cover lives in PushedFilters only
    assert(rowFilters.forall(f => "sfc_head#\\d+ (>=|<=|=) ".r.findFirstIn(f).isEmpty),
      rowFilters)
  }

  test("a pushed_ranges filter planned without the scan strategy returns the same rows") {
    val dir = tmpSubdir("graft_pc_nostrategy")
    PointCloud.write(cloud, dir)
    val ranges = graft.core.MortonRange.decompose(Bbox(1000, 1800, 2000, 2300),
      cloud.meta.headLen + cloud.meta.tailLen, cloud.meta.tailLen, maxCells = 256).all
    assert(ranges.length > graft.functions.PushedRanges.MaxCover)
    def heads(s: SparkSession): (Set[Long], String) = {
      val df = s.read.parquet(s"$dir/blocks")
        .filter(graft.functions.sfc.pushed_ranges(col("sfc_head"), ranges)).select("sfc_head")
      val scan = df.queryExecution.executedPlan.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec => f }.head
      (df.collect().map(_.getLong(0)).toSet, scan.metadata("PushedFilters"))
    }
    graft.plans.PushedRangeScan.register(spark)
    val bare = spark.newSession()
    assert(!bare.experimental.extraStrategies.contains(graft.plans.PushedRangeScan))
    val (withStrategy, pushed) = heads(spark)
    val (without, unpushed) = heads(bare)
    val brute = cloud.blocks.select("sfc_head").collect().map(_.getLong(0))
      .filter(h => ranges.exists { case (lo, hi) => h >= lo && h <= hi }).toSet
    assert(withStrategy == brute && without == brute && brute.nonEmpty)
    assert(pushed.contains("sfc_head") && pushed.contains("Or("), pushed)
    assert(!unpushed.contains("Or("), unpushed)
  }
}

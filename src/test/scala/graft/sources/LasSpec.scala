package graft.sources

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class LasSpec extends AnyFunSuite with TempDir {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  import spark.implicits._

  test("write -> header -> read roundtrip on the 0.1 grid") {
    val pts = Seq((1.5, 2.0, 0.3), (100.2, 0.0, -5.1), (8191.0, 4000.4, 25.3))
    val df = pts.toDF("x", "y", "z")
    val path = tmp("las_test.las")
    Las.writePoints(df, path)

    val h = Las.readHeader(path)
    assert(h.versionMajor == 1 && h.versionMinor == 2)
    assert(h.pointFormat == 3 && h.recordLen == 34)
    assert(h.pointCount == 3)
    assert(h.scaleX == 0.1 && h.offX == 0.0)
    assert(h.xMin == 1.5 && h.xMax == 8191.0)
    assert(h.zMin == -5.1 && h.zMax == 25.3)

    val back = Las.readPoints(spark, path, recordsPerChunk = 2)
      .select(round(col("x") * 10).cast("long"),
        round(col("y") * 10).cast("long"), round(col("z") * 10).cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val expect = pts.map { case (x, y, z) =>
      (math.round(x * 10), math.round(y * 10), math.round(z * 10)) }.toSet
    assert(back == expect)
  }

  test("chunked read covers every record exactly once") {
    val n = 1000
    val df = (0 until n).map(i => (i.toDouble, (i * 2).toDouble, 1.0)).toDF("x", "y", "z")
    val path = tmp("las_chunks.las")
    Las.writePoints(df, path)
    val got = Las.readPoints(spark, path, recordsPerChunk = 37)
    assert(got.count() == n)
    assert(got.select(round(col("x")).cast("long")).distinct().count() == n)
  }

  test("multi-partition write concatenates chunks in partition order") {
    val n = 10000
    val df = (0 until n).map(i => (i.toDouble, (n - i).toDouble, (i % 7).toDouble))
      .toDF("x", "y", "z").repartition(8)
    val path = tmp("las_multi.las")
    Las.writePoints(df, path)
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(path + ".chunks")),
      "chunk dir must be cleaned up")
    val h = Las.readHeader(path)
    assert(h.pointCount == n)
    assert(h.xMin == 0.0 && h.xMax == (n - 1).toDouble)
    assert(h.yMin == 1.0 && h.yMax == n.toDouble)
    val back = Las.readPoints(spark, path)
      .select(round(col("x")).cast("long"), round(col("y")).cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(back == (0 until n).map(i => (i.toLong, (n - i).toLong)).toSet)
  }

  test("empty result writes a header-only las file") {
    val path = tmp("las_empty.las")
    Las.writePoints(Seq.empty[(Double, Double, Double)].toDF("x", "y", "z"), path)
    val h = Las.readHeader(path)
    assert(h.pointCount == 0 && h.xMin == 0.0 && h.xMax == 0.0)
    assert(Las.readPoints(spark, path).count() == 0)
  }

  test("readDir unions all files") {
    val d = tmpSubdir("las_dir")
    Las.writePoints(Seq((1.0, 1.0, 1.0)).toDF("x", "y", "z"), s"$d/a.las")
    Las.writePoints(Seq((2.0, 2.0, 2.0), (3.0, 3.0, 3.0)).toDF("x", "y", "z"), s"$d/b.las")
    assert(Las.readDir(spark, d).count() == 3)
  }

  test("mixed .las/.laz directories dispatch per file (laspy semantics)") {
    val d = tmpSubdir("mixed_dir")
    Las.writePoints(Seq((1.0, 10.0, -2.0)).toDF("x", "y", "z"), s"$d/a.las")
    Laz.writePoints(Seq((5.0, 2.0, 7.0), (3.0, 4.0, 1.0)).toDF("x", "y", "z"), s"$d/b.laz")
    val pts = Las.readDir(spark, d)
      .select(round(col("x")).cast("long"), round(col("y")).cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pts == Set((1L, 10L), (5L, 2L), (3L, 4L)))
    val m = Las.dirMetadata(d)
    assert(m.pointCount == 3)
    assert(m.xMin == 1.0 && m.xMax == 5.0)
    assert(m.zMin == -2.0 && m.zMax == 7.0)
  }

  test("dirMetadata folds counts and bboxes across files") {
    val d = tmpSubdir("las_meta")
    Las.writePoints(Seq((1.0, 10.0, -2.0)).toDF("x", "y", "z"), s"$d/a.las")
    Las.writePoints(Seq((5.0, 2.0, 7.0), (3.0, 4.0, 1.0)).toDF("x", "y", "z"), s"$d/b.las")
    val m = Las.dirMetadata(d)
    assert(m.pointCount == 3)
    assert(m.xMin == 1.0 && m.xMax == 5.0)
    assert(m.yMin == 2.0 && m.yMax == 10.0)
    assert(m.zMin == -2.0 && m.zMax == 7.0)
  }

  test("importLas end-to-end: las file -> blocked cloud -> bbox query") {
    import graft.operators.{ImportSpec, PointCloud}
    import graft.core.Bbox
    val pts = (0 until 100).map(i => ((i % 10).toDouble, (i / 10).toDouble, 1.0))
    val path = tmp("las_import.las")
    Las.writePoints(pts.toDF("x", "y", "z"), path)
    val cloud = PointCloud.importLas(spark, path, ImportSpec(name = "las_e2e"))
    assert(cloud.meta.pointCount == 100)
    val hits = cloud.bboxQuery(Bbox(2, 4, 3, 5)).count()
    assert(hits == 9) // 3 x 3 grid cells
  }

  test("reads a LAS 1.4 point-format-6 file (375-byte header, 64-bit count)") {
    import java.nio.{ByteBuffer, ByteOrder}
    val pts = Seq((12.3, 45.6, 7.8), (-1.5, 0.0, 99.9), (1000.0, -2000.0, 0.1))
    val recordLen = 30 // pf6 minimum
    val header = ByteBuffer.allocate(375).order(ByteOrder.LITTLE_ENDIAN)
    header.put("LASF".getBytes)
    header.put(24, 1.toByte).put(25, 4.toByte) // v1.4
    header.putShort(94, 375.toShort)
    header.putInt(96, 375) // offset to point data
    header.put(104, 6.toByte) // point format 6
    header.putShort(105, recordLen.toShort)
    header.putInt(107, 0) // legacy count zero, as v1.4 allows
    header.putDouble(131, 0.001).putDouble(139, 0.001).putDouble(147, 0.001)
    header.putDouble(155, 10.0).putDouble(163, -10.0).putDouble(171, 0.5)
    header.putLong(247, pts.length.toLong) // 64-bit count
    val body = ByteBuffer.allocate(pts.length * recordLen).order(ByteOrder.LITTLE_ENDIAN)
    pts.zipWithIndex.foreach { case ((x, y, z), i) =>
      body.putInt(i * recordLen, math.round((x - 10.0) / 0.001).toInt)
      body.putInt(i * recordLen + 4, math.round((y + 10.0) / 0.001).toInt)
      body.putInt(i * recordLen + 8, math.round((z - 0.5) / 0.001).toInt)
    }
    val path = tmp("las14_pf6.las")
    val out = new java.io.FileOutputStream(path)
    try { out.write(header.array()); out.write(body.array()) } finally out.close()

    val h = Las.readHeader(path)
    assert(h.versionMinor == 4 && h.pointFormat == 6 && h.pointCount == 3)
    val back = Las.readPoints(spark, path)
      .collect().map(r => (r.getDouble(0), r.getDouble(1), r.getDouble(2))).toSet
    pts.foreach { case (x, y, z) =>
      assert(back.exists { case (bx, by, bz) =>
        math.abs(bx - x) < 1e-9 && math.abs(by - y) < 1e-9 && math.abs(bz - z) < 1e-9
      }, s"missing ($x, $y, $z) in $back")
    }
  }

  test("a LAS 1.2 header round-trips a point count above 2^31") {
    // the count field is unsigned 32-bit: 2^31 .. 2^32 - 1 is legal
    val n = 3000000000L
    def header(n: Long) = Las.writeHeader(2, 3, 34, n, 0, 227, 0.1, Las.Extent(0, 1, 0, 1, 0, 1))
    val path = java.nio.file.Paths.get(tmp("las_count.las"))
    java.nio.file.Files.write(path, header(n))
    assert(Las.readHeader(path.toString).pointCount == n)
    intercept[IllegalArgumentException](header(1L << 32))
  }

  test("a coordinate past the int32 grid is rejected, not wrapped") {
    // at scale 0.1, x = 3e8 is 3e9 grid steps: past Int.MaxValue
    val path = tmp("las_wrap.las")
    val e = intercept[Exception](Las.writePoints(Seq((3e8, 1.0, 1.0)).toDF("x", "y", "z"), path))
    val cause = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .collectFirst { case iae: IllegalArgumentException => iae }
    assert(cause.exists(_.getMessage.contains("x = 3.0E8")), e)
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(path)))
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(path + ".chunks")))
  }

  test("writePoints returns the number of points it wrote") {
    val df = (0 until 1000).map(i => (i.toDouble, 1.0, 2.0)).toDF("x", "y", "z").repartition(3)
    val path = tmp("las_count_ret.las")
    assert(Las.writePoints(df, path) == 1000)
    assert(Las.readHeader(path).pointCount == 1000)
  }

  test("readHeader rejects a LAZ compressed-format bit") {
    val path = tmp("laz_probe.las")
    val buf = java.nio.ByteBuffer.allocate(227).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    buf.put("LASF".getBytes)
    buf.put(24, 1.toByte).put(25, 2.toByte)
    buf.put(104, (3 | 0x80).toByte) // laszip marks compression in bit 7
    java.nio.file.Files.write(java.nio.file.Paths.get(path), buf.array())
    val e = intercept[IllegalArgumentException](Las.readHeader(path))
    assert(e.getMessage.contains("LAZ"))
  }

  test("readHeader rejects non-LAS bytes") {
    val p = tmp("not_las.las")
    java.nio.file.Files.write(java.nio.file.Paths.get(p),
      Array.fill[Byte](300)(7))
    intercept[IllegalArgumentException](Las.readHeader(p))
  }
}

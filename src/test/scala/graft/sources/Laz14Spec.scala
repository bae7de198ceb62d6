package graft.sources

import scala.util.Random

import graft.sources.BytePins.sha256

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Layered LASzip (compressor 3, LAS 1.4 pf 6-8) validation:
  * chunk-level roundtrips under adversarial channel/return/GPS
  * sequences, layer framing, codec-level projection (selective
  * decode), and distributed file roundtrips. */
class Laz14Spec extends AnyFunSuite with TempDir {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  import spark.implicits._

  /** Every field family exercised: drifting coords with jumps, rotating
    * scanner channels (lazy context creation mid-chunk), full 4-bit
    * return counts, GPS ramps/jumps/constant runs, gated angle/psid
    * changes, colors and NIR. */
  private def randomPoints14(rnd: Random, n: Int, format: Int): Array[Laz14.Point14] = {
    var x = 500000; var y = 600000; var z = 2000
    var gps = java.lang.Double.doubleToLongBits(300000.0)
    var psid = 7001; var ang = 100; var ch = 0
    var (cr, cg, cb, nir) = (1000, 2000, 3000, 4000)
    Array.fill(n) {
      x += rnd.nextInt(200) - 100 + (if (rnd.nextInt(50) == 0) rnd.nextInt(1 << 20) else 0)
      y += rnd.nextInt(200) - 100
      z += rnd.nextInt(20) - 10
      val nr = 1 + rnd.nextInt(15)
      val r = 1 + rnd.nextInt(nr)
      if (rnd.nextInt(6) == 0) ch = rnd.nextInt(4)
      rnd.nextInt(10) match {
        case 0 | 1 | 2 => // gps unchanged
        case 3 | 4 | 5 | 6 => gps += 1000
        case 7 => gps += 1000L * (1 + rnd.nextInt(100))
        case 8 => gps += rnd.nextLong() >>> 16
        case _ => gps = java.lang.Double.doubleToLongBits(rnd.nextDouble() * 1e6)
      }
      if (rnd.nextInt(8) == 0) ang = rnd.nextInt(65536)
      if (rnd.nextInt(16) == 0) psid = rnd.nextInt(65536)
      if (format >= 7 && rnd.nextInt(3) == 0) {
        cr = rnd.nextInt(65536); cg = rnd.nextInt(65536); cb = rnd.nextInt(65536)
      }
      if (format == 8 && rnd.nextInt(3) == 0) nir = rnd.nextInt(65536)
      val flags = rnd.nextInt(16) | (ch << 4) | (rnd.nextInt(2) << 6) | (rnd.nextInt(2) << 7)
      Laz14.Point14(x, y, z,
        intensity = if (rnd.nextInt(4) == 0) rnd.nextInt(65536) else 0,
        returns = (nr << 4) | r, flags = flags,
        cls = rnd.nextInt(256), user = if (rnd.nextInt(8) == 0) rnd.nextInt(256) else 0,
        scanAngle = ang, psid = psid, gpsBits = gps,
        r = if (format >= 7) cr else 0, g = if (format >= 7) cg else 0,
        b = if (format >= 7) cb else 0, nir = if (format == 8) nir else 0)
    }
  }

  private val chunkPins = Map(
    6 -> "c6baf017fea7924ffe30d6725518417bc975d03903a8cb9396156d0a49122550",
    7 -> "83fa1901a80f7f4714da67940d167eafa36b48d1817004f3a0f92342bd49f503",
    8 -> "c85104e1523b1bbc32fd826e69035577d364dcfcc0a2aefd5b597c4c71d9bdc2")

  for (format <- Seq(6, 7, 8))
    test(s"point format $format layered chunk roundtrips with every attribute varying") {
      val rnd = new Random(23 + format)
      val pts = randomPoints14(rnd, 40000, format)
      val bytes = Laz14.encodeChunk14(format, pts)
      assert(sha256(bytes) == chunkPins(format))
      val raw = pts.length * (if (format == 6) 30 else if (format == 7) 36 else 38)
      assert(bytes.length < raw * 3 / 4,
        s"compression ratio sanity: ${bytes.length} vs raw $raw")
      val back = Laz14.decodeChunk14(format, bytes, 0, pts.length)
      pts.indices.foreach(i => assert(back(i) == pts(i), s"point $i"))
    }

  test("single-point and two-point layered chunks") {
    val p = Laz14.Point14(1, 2, 3, 4, 0x21, 0x35, 6, 7, 65000, 9, 123456789L)
    val one = Laz14.encodeChunk14(6, Array(p))
    assert(Laz14.decodeChunk14(6, one, 0, 1).toSeq == Seq(p))
    val q = Laz14.Point14(-100, 2000000, -3, 0, 0x11, 0x00, 1, 0, 5, 0, -1L)
    val two = Laz14.encodeChunk14(6, Array(p, q))
    assert(Laz14.decodeChunk14(6, two, 0, 2).toSeq == Seq(p, q))
  }

  test("channel rotation every point keeps all four contexts in lockstep") {
    val rnd = new Random(29)
    val pts = randomPoints14(rnd, 8000, 6).zipWithIndex.map { case (p, i) =>
      p.copy(flags = (p.flags & 0xCF) | ((i % 4) << 4))
    }
    val bytes = Laz14.encodeChunk14(6, pts)
    assert(sha256(bytes) == "b49ae19e55c95a1984b0df6eef255ad0a3489b43aa9734157e313df4073b7b59")
    val back = Laz14.decodeChunk14(6, bytes, 0, pts.length)
    pts.indices.foreach(i => assert(back(i) == pts(i), s"point $i"))
  }

  test("layer framing: stored sizes tile the chunk exactly") {
    val rnd = new Random(31)
    val pts = randomPoints14(rnd, 5000, 8)
    val bytes = Laz14.encodeChunk14(8, pts)
    val bb = java.nio.ByteBuffer.wrap(bytes).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.position(38) // raw first point
    assert(bb.getInt == pts.length)
    val sizes = Array.fill(11)(bb.getInt)
    assert(sizes.forall(_ >= 0))
    assert(38 + 4 + 44 + sizes.sum == bytes.length,
      s"layers ${sizes.toSeq} must tile the ${bytes.length}-byte chunk")
  }

  test("selective decode: skipped layers never disturb decoded fields") {
    val rnd = new Random(37)
    val pts = randomPoints14(rnd, 20000, 8)
    val bytes = Laz14.encodeChunk14(8, pts)
    val full = Laz14.decodeChunk14(8, bytes, 0, pts.length)
    // xyz-only: coordinate + return/channel stream must replay bit-exactly
    val xyz = Laz14.decodeChunk14(8, bytes, 0, pts.length,
      Laz14.FieldMask(z = true, cls = false, flags = false, intensity = false,
        scanAngle = false, user = false, psid = false, gps = false,
        rgb = false, nir = false))
    pts.indices.foreach { i =>
      assert((xyz(i).x, xyz(i).y, xyz(i).z) == (pts(i).x, pts(i).y, pts(i).z), s"xyz $i")
      assert(xyz(i).returns == pts(i).returns && xyz(i).channel == pts(i).channel, s"ret $i")
      // skipped fields come back zero — except point 0, which is stored raw
      if (i > 0)
        assert((xyz(i).cls, xyz(i).intensity, xyz(i).gpsBits) == ((0, 0, 0L)), s"skip $i")
    }
    // single attribute layer alone (gps) decodes against the xy context
    val gpsOnly = Laz14.decodeChunk14(8, bytes, 0, pts.length,
      Laz14.FieldMask(z = false, cls = false, flags = false, intensity = false,
        scanAngle = false, user = false, psid = false, gps = true,
        rgb = false, nir = false))
    pts.indices.foreach(i => assert(gpsOnly(i).gpsBits == pts(i).gpsBits, s"gps $i"))
    assert(full.toSeq == pts.toSeq)
  }

  test("pf8 file roundtrips all attributes across partitions") {
    val n = 6000
    val df = (0 until n).map { i =>
      (i * 0.7, i * 0.3, (i % 50) * 2.0, i % 65536, 1 + i % 5, 5, i % 4,
        i % 32, (i % 601) - 300, i % 256, i % 1024, i * 1.0,
        (i * 7) % 65536, (i * 11) % 65536, (i * 13) % 65536, (i * 17) % 65536)
    }.toDF("x", "y", "z", "intensity", "return_number", "number_of_returns",
      "scanner_channel", "classification", "scan_angle", "user_data",
      "point_source", "gps_time", "r", "g", "b", "nir").repartition(3)
    val path = tmp("laz14_pf8.laz")
    Laz14.writePoints14(df, path, chunkPoints = 1000, pointFormat = 8)

    val info = Las.lazInfo(path)
    assert(info.compressor == 3)
    assert(info.header.versionMinor == 4 && info.header.pointFormat == 8)
    assert(info.header.pointCount == n && info.header.recordLen == 38)
    assert(info.items == Seq((10, 30, 3), (12, 8, 3)))

    val back = Laz14.readPoints14(spark, path)
    val got = back.select(round(col("x") * 10).cast("long"), col("intensity"),
      col("return_number"), col("number_of_returns"), col("scanner_channel"),
      col("classification"), col("scan_angle"), col("user_data"),
      col("point_source"), col("gps_time"), col("r"), col("g"), col("b"), col("nir"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getInt(3),
        r.getInt(4), r.getInt(5), r.getInt(6), r.getInt(7), r.getInt(8),
        r.getDouble(9), r.getInt(10), r.getInt(11), r.getInt(12), r.getInt(13))).toSet
    val exp = (0 until n).map { i =>
      (math.round(i * 7.0), i % 65536, 1 + i % 5, 5, i % 4, i % 32,
        (i % 601) - 300, i % 256, i % 1024, i * 1.0,
        (i * 7) % 65536, (i * 11) % 65536, (i * 13) % 65536, (i * 17) % 65536)
    }.toSet
    assert(got == exp)

    // codec-level projection: a two-column read returns the same values
    val pruned = Laz14.readPoints14(spark, path, columns = Seq("x", "gps_time"))
    assert(pruned.columns.toSeq == Seq("x", "gps_time"))
    assert(pruned.select(sum(col("gps_time"))).head().getDouble(0)
      == (0 until n).map(_.toDouble).sum)

    // the generic .laz entry point dispatches layered files to this codec
    val viaLaz = Laz.readPoints(spark, path)
    assert(viaLaz.columns.toSeq == Seq("x", "y", "z"))
    assert(viaLaz.count() == n)
  }

  test("pf6 flags byte roundtrips classification_flags/scan_direction/edge_of_flight") {
    val n = 2000
    val df = (0 until n).map { i =>
      (i * 0.5, i * 0.2, 1.0, i % 4, i % 16, i % 2, (i / 3) % 2)
    }.toDF("x", "y", "z", "scanner_channel", "classification_flags",
      "scan_direction", "edge_of_flight").repartition(2)
    val path = tmp("laz14_flags.laz")
    Laz14.writePoints14(df, path, chunkPoints = 700, pointFormat = 6)
    val got = Laz14.readPoints14(spark, path)
      .select(round(col("x") * 10).cast("long"), col("scanner_channel"),
        col("classification_flags"), col("scan_direction"), col("edge_of_flight"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2),
        r.getInt(3), r.getInt(4))).toSet
    val exp = (0 until n).map { i =>
      (math.round(i * 5.0), i % 4, i % 16, i % 2, (i / 3) % 2)
    }.toSet
    assert(got == exp)
  }

  test("pf6 defaults: absent attribute columns write as zeros/ones") {
    val df = Seq((1.0, 2.0, 3.0), (4.0, 5.0, 6.0)).toDF("x", "y", "z")
    val path = tmp("laz14_pf6.laz")
    Laz14.writePoints14(df, path, pointFormat = 6)
    val back = Laz14.readPoints14(spark, path).collect()
    assert(back.length == 2)
    back.foreach { r =>
      assert(r.getAs[Int]("return_number") == 1 && r.getAs[Int]("number_of_returns") == 1)
      assert(r.getAs[Int]("intensity") == 0 && r.getAs[Double]("gps_time") == 0.0)
    }
  }
}

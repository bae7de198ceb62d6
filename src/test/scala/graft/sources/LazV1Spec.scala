package graft.sources

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import scala.util.Random

import graft.sources.BytePins.sha256
import graft.sources.Laz.{FullPoint, Point10}

/** Compressor-1 (pre-2013 pointwise LASzip) validation: v1 item
  * codecs roundtrip under adversarial streams, and the container
  * accepts/writes the pointwise layout (no chunk table, single
  * stream, item versions 1). Same validation boundary as every codec
  * here — roundtrip + structure conformance, no second in-sandbox
  * implementation. */
class LazV1Spec extends AnyFunSuite with TempDir {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  import spark.implicits._

  private def walkPoints(rnd: Random, n: Int, fmt: Int, extraLen: Int): Array[FullPoint] = {
    var x = 100000; var y = 200000; var z = 5000
    var gps = 0x41C9Abc123456789L
    var diff = 0L
    Array.tabulate(n) { i =>
      // mixed regime: smooth scan-line steps, occasional line jumps,
      // attribute churn, duplicate coordinates
      if (rnd.nextInt(100) == 0) { x += rnd.nextInt(1 << 20) - (1 << 19); y += 100000 }
      else { x += rnd.nextInt(30) - 5; y += rnd.nextInt(7) - 3; z += rnd.nextInt(11) - 5 }
      val flags = if (rnd.nextInt(5) == 0) rnd.nextInt(256) else 0x09
      // gps: mostly constant pulse interval, sometimes multiplied,
      // rarely a >32-bit jump (the raw-64 escape)
      diff = if (rnd.nextInt(50) == 0) 1L << 40
        else if (rnd.nextInt(10) == 0) 25000L * (1 + rnd.nextInt(400))
        else 25000L
      gps += diff
      val extra = if (extraLen == 0) null
        else Array.tabulate(extraLen)(j => ((i * 31 + j * 7) % 253).toByte)
      FullPoint(
        Point10(x, y, z, rnd.nextInt(3) match {
          case 0 => 0; case _ => rnd.nextInt(65536)
        }, flags, rnd.nextInt(32), rnd.nextInt(256), rnd.nextInt(4),
          rnd.nextInt(3)),
        gps = if (fmt == 1 || fmt == 3) gps else 0L,
        r = if (fmt == 2 || fmt == 3) rnd.nextInt(65536) else 0,
        g = if (fmt == 2 || fmt == 3) rnd.nextInt(65536) else 0,
        b = if (fmt == 2 || fmt == 3) rnd.nextInt(65536) else 0,
        extra = extra)
    }
  }

  private def assertSame(a: Array[FullPoint], b: Array[FullPoint]): Unit = {
    assert(a.length == b.length)
    a.indices.foreach { i =>
      assert(a(i).core == b(i).core, s"core at $i")
      assert(a(i).gps == b(i).gps, s"gps at $i")
      assert((a(i).r, a(i).g, a(i).b) == (b(i).r, b(i).g, b(i).b), s"rgb at $i")
      val (ea, eb) = (a(i).extra, b(i).extra)
      assert((ea == null) == (eb == null) &&
        (ea == null || ea.sameElements(eb)), s"extra at $i")
    }
  }

  test("v1 stream roundtrips every point format, with and without extra bytes") {
    val pins = Map(
      (0, 0) -> "75f51e11981719baff00d74ec6b21a98dade2abbaac6fd8e91935a028e97b68f",
      (0, 3) -> "d832f6ae8285114a3c19421eb01767c54637e8c9f333c4c246474544108aceb5",
      (1, 0) -> "012faf41a90ddef512ff7b98c23f4ff9c5ecaa51d3f846c16cc056951c289f0d",
      (1, 3) -> "7438d376ac48437fa6e9c6dfd75d21c64edc37e88846ce06440b96c38b15757a",
      (2, 0) -> "2a8f60975c8a5fd8f7717493997f2a3cbdd5f5f597db3cc9cf80f9b51da046d1",
      (2, 3) -> "12b468a68172ecb798e17ec239579ddd88e320316e706d5d403d63fe674abb04",
      (3, 0) -> "3bb5c7751c4d218d69e73ba8b705f684efd1287369ad623db259cdde29fd9603",
      (3, 3) -> "ccd41b3ba2bd37b7169ea968597161bb3cec15dec537fb2a26c53a3aa5b1425d")
    for (fmt <- 0 to 3; extraLen <- Seq(0, 3)) {
      val pts = walkPoints(new Random(fmt * 10 + extraLen), 4000, fmt, extraLen)
      val bytes = Laz.encodeChunk(fmt, pts, extraLen, v1 = true)
      assert(sha256(bytes) == pins((fmt, extraLen)), s"pf$fmt extra $extraLen")
      val back = Laz.decodeChunk(fmt, bytes, 0, pts.length, extraLen, v1 = true)
      assertSame(pts, back)
    }
  }

  test("v1 stream roundtrips a single-point file (raw record only)") {
    val pts = walkPoints(new Random(7), 1, 3, 2)
    val bytes = Laz.encodeChunk(3, pts, 2, v1 = true)
    assert(bytes.length == Laz.recordLen(3) + 2, "one point = raw record, no stream")
    assertSame(pts, Laz.decodeChunk(3, bytes, 0, 1, 2, v1 = true))
  }

  test("v1 gps codec survives adversarial delta regimes") {
    // constant, multiplied, negative, zero, and >32-bit deltas — every
    // branch of the 512-symbol model including both escapes
    val rnd = new Random(11)
    var gps = 0L
    val seq = Array.tabulate(6000) { i =>
      gps += (i % 7 match {
        case 0 => 0L
        case 1 => 25000L
        case 2 => 25000L * (2 + rnd.nextInt(507))
        case 3 => -25000L
        case 4 => 1L << 41
        case 5 => -(1L << 39)
        case _ => rnd.nextLong() >> 20
      })
      gps
    }
    val enc = new ArithmeticEncoder
    val c = new LazV1.GpsTime11V1Codec(seq(0))
    seq.drop(1).foreach(c.code(Coder(enc), _))
    enc.done()
    val bytes = enc.result()
    assert(sha256(bytes) == "23462c03e264d3e793e76e48d430d25ed43a08798bf79bf20c816bb39d99c43f")
    val dec = new ArithmeticDecoder(bytes, 0, bytes.length).init()
    val d = new LazV1.GpsTime11V1Codec(seq(0))
    seq.drop(1).foreach(v => assert(d.code(Coder(dec), 0L) == v))
  }

  test("writePointsV1 emits a pointwise container readPoints scans back exactly") {
    val rnd = new Random(3)
    val src = Seq.tabulate(5000) { i =>
      (rnd.nextInt(100000) / 10.0, rnd.nextInt(100000) / 10.0, rnd.nextInt(5000) / 10.0)
    }.toDF("x", "y", "z")
    val path = tmp("v1_container_test.laz")
    Laz.writePointsV1(src, path)
    val info = Las.lazInfo(path)
    assert(info.compressor == 1 && info.chunkTableOffset == -1L)
    assert(info.items.forall(_._3 == 1), s"item versions: ${info.items}")
    val back = Laz.readPoints(spark, path)
      .select(round(col("x") * 10).cast("long"), round(col("y") * 10).cast("long"),
        round(col("z") * 10).cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted
    val want = src.collect().map(r =>
      (math.round(r.getDouble(0) * 10), math.round(r.getDouble(1) * 10),
        math.round(r.getDouble(2) * 10))).sorted
    assert(back.toSeq == want.toSeq)
  }

  test("writePointsV1 carries extra bytes through the v1 BYTE codec") {
    val src = Seq.tabulate(2000) { i =>
      (i / 10.0, (i * 3 % 997) / 10.0, (i % 47) / 10.0,
        Array[Byte]((i % 251).toByte, (i % 7).toByte))
    }.toDF("x", "y", "z", "extra_bytes")
    val path = tmp("v1_extra_test.laz")
    Laz.writePointsV1(src, path, extraBytes = 2)
    val back = Laz.readPoints(spark, path)
      .select(round(col("x") * 10).cast("long").as("x10"), col("extra_bytes"))
      .collect().map(r => (r.getLong(0), r.getAs[Array[Byte]](1).mkString(","))).sorted
    val want = src.collect().map(r =>
      (math.round(r.getDouble(0) * 10), r.getAs[Array[Byte]](3).mkString(","))).sorted
    assert(back.toSeq == want.toSeq)
  }
}

package graft.sources

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import scala.util.Random

import graft.sources.BytePins.sha256
import graft.sources.Laz.{FullPoint, Point10, Wavepacket}

/** Waveform point formats 4/5: the WAVEPACKET13 item codec and the
  * LAS 1.3 container plumbing. Same in-sandbox validation boundary as
  * every codec here: roundtrip + structure conformance. */
class LazWaveSpec extends AnyFunSuite with TempDir {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  import spark.implicits._

  private def wavePoints(rnd: Random, n: Int, fmt: Int): Array[FullPoint] = {
    var x = 50000; var y = 60000; var z = 2000
    var gps = 0x41B2345678901234L
    var off = 4096L
    var size = 1200
    Array.tabulate(n) { i =>
      x += rnd.nextInt(20) - 5; y += rnd.nextInt(9) - 4; z += rnd.nextInt(7) - 3
      gps += 20000L
      // offset regimes: dominant sequential (off += size), repeats
      // (same packet shared by returns of one pulse), 32-bit skips,
      // and rare >32-bit jumps (the raw-64 escape)
      rnd.nextInt(10) match {
        case 0 => () // same offset as previous point
        case 1 => off += 1L << 36
        case 2 => off += rnd.nextInt(1 << 24).toLong
        case _ => off += size & 0xFFFFFFFFL
      }
      if (rnd.nextInt(4) == 0) size = 800 + rnd.nextInt(2048)
      val w = Wavepacket(rnd.nextInt(4), off, size,
        java.lang.Float.floatToIntBits(rnd.nextFloat() * 100f),
        java.lang.Float.floatToIntBits(rnd.nextFloat() - 0.5f),
        java.lang.Float.floatToIntBits(rnd.nextFloat() - 0.5f),
        java.lang.Float.floatToIntBits(-(rnd.nextFloat())))
      FullPoint(
        Point10(x, y, z, rnd.nextInt(65536), 0x11, rnd.nextInt(8),
          rnd.nextInt(256), 0, 1),
        gps = gps,
        r = if (fmt == 5) rnd.nextInt(65536) else 0,
        g = if (fmt == 5) rnd.nextInt(65536) else 0,
        b = if (fmt == 5) rnd.nextInt(65536) else 0,
        wave = w)
    }
  }

  test("pf4 and pf5 chunks roundtrip with adversarial wavepacket sequences") {
    val pins = Map(
      4 -> "0a5ba3e4074bd3ab32fba38517c74eaa932de3db9303fe58a7870915af72e644",
      5 -> "dee14fd145118d40642d938cd39f5584469f85fdba2ecde6212e14a23071156b")
    for (fmt <- Seq(4, 5)) {
      val pts = wavePoints(new Random(fmt), 4000, fmt)
      val bytes = Laz.encodeChunk(fmt, pts)
      assert(sha256(bytes) == pins(fmt), s"pf$fmt")
      val back = Laz.decodeChunk(fmt, bytes, 0, pts.length)
      pts.indices.foreach { i =>
        assert(back(i).core == pts(i).core, s"core at $i")
        assert(back(i).gps == pts(i).gps, s"gps at $i")
        assert(back(i).wave == pts(i).wave, s"wave at $i")
        assert((back(i).r, back(i).g, back(i).b) ==
          (pts(i).r, pts(i).g, pts(i).b), s"rgb at $i")
      }
    }
  }

  test("layered pf9 and pf10 chunks roundtrip the wavepacket layer") {
    import graft.sources.Laz14.Point14
    val pins = Map(
      9 -> "7b70c11b9e5cdf9b2c99303e9178b95773836f9bf5093f2cec36792522af9942",
      10 -> "fd2cd466e711bf0b854233be749d5e77752045292baec0cd378f682b777762f3")
    for (fmt <- Seq(9, 10)) {
      val rnd = new Random(fmt * 3)
      var off = 8192L
      val pts = Array.tabulate(3000) { i =>
        rnd.nextInt(8) match {
          case 0 => ()
          case 1 => off += 1L << 35
          case _ => off += 1024L
        }
        Point14(
          x = 1000 + i, y = 2000 + (i * 3 % 777), z = 100 + (i % 37),
          intensity = rnd.nextInt(65536),
          returns = 0x11, flags = rnd.nextInt(4) << 4,
          cls = rnd.nextInt(32), user = rnd.nextInt(256),
          scanAngle = rnd.nextInt(65536), psid = rnd.nextInt(4),
          gpsBits = 0x41C0000000000000L + i * 1000L,
          r = if (fmt == 10) rnd.nextInt(65536) else 0,
          g = if (fmt == 10) rnd.nextInt(65536) else 0,
          b = if (fmt == 10) rnd.nextInt(65536) else 0,
          nir = if (fmt == 10) rnd.nextInt(65536) else 0,
          wave = Laz.Wavepacket(rnd.nextInt(4), off, 1024,
            java.lang.Float.floatToIntBits(i.toFloat), i, -i, i * 7))
      }
      val bytes = Laz14.encodeChunk14(fmt, pts)
      assert(sha256(bytes) == pins(fmt), s"pf$fmt")
      val back = Laz14.decodeChunk14(fmt, bytes, 0, pts.length)
      pts.indices.foreach { i =>
        assert(back(i) == pts(i), s"pf$fmt point $i")
      }
      // projection skip: a mask without the wave layer decodes the
      // coords correctly and never touches the wavepacket stream
      val noWave = Laz14.decodeChunk14(fmt, bytes, 0, pts.length,
        Laz14.AllFields.copy(wave = false))
      pts.indices.foreach { i =>
        assert((noWave(i).x, noWave(i).y, noWave(i).z) ==
          (pts(i).x, pts(i).y, pts(i).z), s"pf$fmt coords at $i")
        assert(i == 0 || noWave(i).wave == null, s"pf$fmt wave skipped at $i")
      }
    }
  }

  test("writePoints14(pf9) container roundtrips wavepacket columns") {
    val rnd = new Random(23)
    val src = Seq.tabulate(2500) { i =>
      (rnd.nextInt(90000) / 10.0, rnd.nextInt(90000) / 10.0, rnd.nextInt(3000) / 10.0,
        (i % 3).toLong, 16384L + 900L * (i % 1000), 900L, (i % 100000).toLong,
        (i % 65536).toLong, ((i * 3) % 65536).toLong, ((i * 7) % 65536).toLong)
    }.toDF("x", "y", "z", "wp_index", "wp_offset", "wp_size",
      "wp_ret", "wp_xt", "wp_yt", "wp_zt")
    val path = tmp("wave14_container_test.laz")
    Laz14.writePoints14(src, path, chunkPoints = 600, pointFormat = 9)
    val info = Las.lazInfo(path)
    assert(info.compressor == 3 && info.header.pointFormat == 9)
    val back = Laz14.readPoints14(spark, path,
        columns = Seq("x", "wp_index", "wp_offset", "wp_size", "wp_ret",
          "wp_xt", "wp_yt", "wp_zt"))
      .collect().map(r => (math.round(r.getDouble(0) * 10) +:
        (1 to 7).map(r.getLong)).toList).sortBy(_.toString)
    val want = src.collect().map { r =>
      List(math.round(r.getDouble(0) * 10), r.getLong(3), r.getLong(4),
        r.getLong(5), r.getLong(6), r.getLong(7), r.getLong(8), r.getLong(9))
    }.sortBy(_.toString)
    assert(back.length == want.length)
    assert(back.toSeq == want.toSeq)
  }

  test("readDir unions a mixed directory where one file carries wavepacket columns") {
    val dir = tmpSubdir("mixdir")
    val plain = Seq.tabulate(500)(i => (i / 10.0, (i * 3 % 97) / 10.0, (i % 11) / 10.0))
      .toDF("x", "y", "z")
    Laz.writePoints(plain, s"$dir/a_plain.laz")
    val wave = Seq.tabulate(400) { i =>
      (1000.0 + i / 10.0, (i * 7 % 89) / 10.0, (i % 13) / 10.0,
        (i % 4).toLong, 4096L + 900L * i, 900L, i.toLong, 1L, 2L, 3L)
    }.toDF("x", "y", "z", "wp_index", "wp_offset", "wp_size",
      "wp_ret", "wp_xt", "wp_yt", "wp_zt")
    Laz.writePoints(wave, s"$dir/b_wave.laz", pointFormat = 5)
    val got = Las.readDir(spark, dir)
    assert(got.columns.toSeq == Seq("x", "y", "z"),
      "mixed dir unions on the common coordinate surface")
    assert(got.count() == 900)
  }

  test("writePoints(pf5) emits a LAS 1.3 container and readPoints surfaces " +
      "exact wavepacket integers") {
    val rnd = new Random(17)
    val src = Seq.tabulate(3000) { i =>
      (rnd.nextInt(80000) / 10.0, rnd.nextInt(80000) / 10.0, rnd.nextInt(4000) / 10.0,
        (i % 4).toLong, 4096L + 1200L * i, 1200L,
        java.lang.Float.floatToIntBits(i.toFloat) & 0xFFFFFFFFL,
        java.lang.Float.floatToIntBits(0.5f) & 0xFFFFFFFFL,
        java.lang.Float.floatToIntBits(-0.5f) & 0xFFFFFFFFL,
        java.lang.Float.floatToIntBits(-1.0f) & 0xFFFFFFFFL)
    }.toDF("x", "y", "z", "wp_index", "wp_offset", "wp_size",
      "wp_ret", "wp_xt", "wp_yt", "wp_zt")
    val path = tmp("wave_container_test.laz")
    Laz.writePoints(src, path, chunkPoints = 700, pointFormat = 5)
    val info = Las.lazInfo(path)
    assert(info.header.versionMinor == 3 && info.header.pointFormat == 5)
    assert(info.items.exists(it => it._1 == 9 && it._2 == 29 && it._3 == 1),
      s"wavepacket item missing: ${info.items}")
    val back = Laz.readPoints(spark, path)
      .select(round(col("x") * 10).cast("long"), col("wp_index"), col("wp_offset"),
        col("wp_size"), col("wp_ret"), col("wp_xt"), col("wp_yt"), col("wp_zt"))
      .collect().map(r => (0 to 7).map(r.getLong).toList).sortBy(_.toString)
    val want = src.collect().map { r =>
      List(math.round(r.getDouble(0) * 10), r.getLong(3), r.getLong(4),
        r.getLong(5), r.getLong(6), r.getLong(7), r.getLong(8), r.getLong(9))
    }.sortBy(_.toString)
    assert(back.length == want.length)
    assert(back.toSeq == want.toSeq)
  }
}

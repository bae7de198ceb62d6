package graft.sources

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import scala.util.Random

import graft.sources.BytePins.sha256

/** LASzip codec validation. Every layer roundtrips against itself —
  * entropy coder, integer corrector, POINT10 chunk, whole file —
  * with adversarial inputs (carry-forcing streams, Int.MinValue
  * correctors, 1-point chunks, multi-partition writes). Interop with
  * other LASzip implementations is by-construction from the public
  * spec; no second implementation exists in this sandbox to test
  * against (see ArithmeticCodec scaladoc). */
class LazSpec extends AnyFunSuite with TempDir {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  import spark.implicits._

  test("arithmetic coder roundtrips adaptive symbol + bit + raw-bit streams") {
    val rnd = new Random(42)
    // skewed symbol stream (exercises model adaptation + renorm), a
    // bit stream, and raw writeBits of every width 1..32 interleaved
    val syms = Array.fill(20000)(if (rnd.nextInt(10) < 7) rnd.nextInt(3) else rnd.nextInt(33))
    val bits = Array.fill(20000)(if (rnd.nextInt(10) < 8) 0 else 1)
    val widths = Array.fill(2000)(1 + rnd.nextInt(32))
    val rawVals = widths.map(w => (rnd.nextLong() >>> 1) & ((1L << w) - 1))

    val enc = new ArithmeticEncoder
    val em = new ArithmeticModel(33).init()
    val eb = new ArithmeticBitModel().init()
    var i = 0
    while (i < syms.length) {
      enc.encodeSymbol(em, syms(i))
      enc.encodeBit(eb, bits(i))
      if (i < widths.length) enc.writeBits(widths(i), rawVals(i))
      i += 1
    }
    enc.done()
    val bytes = enc.result()

    val dec = new ArithmeticDecoder(bytes, 0, bytes.length).init()
    val dm = new ArithmeticModel(33).init()
    val db = new ArithmeticBitModel().init()
    i = 0
    while (i < syms.length) {
      assert(dec.decodeSymbol(dm) == syms(i), s"symbol $i")
      assert(dec.decodeBit(db) == bits(i), s"bit $i")
      if (i < widths.length) assert(dec.readBits(widths(i)) == rawVals(i), s"raw $i")
      i += 1
    }
  }

  test("carry propagation survives long all-ones interval runs") {
    // a heavily skewed bit model drives base toward 0xFF runs; a long
    // stream makes carry propagation across emitted bytes certain
    val enc = new ArithmeticEncoder
    val em = new ArithmeticBitModel().init()
    val rnd = new Random(7)
    val bits = Array.fill(300000)(if (rnd.nextInt(1000) == 0) 1 else 0)
    bits.foreach(b => enc.encodeBit(em, b))
    enc.done()
    val bytes = enc.result()
    val dec = new ArithmeticDecoder(bytes, 0, bytes.length).init()
    val dm = new ArithmeticBitModel().init()
    bits.zipWithIndex.foreach { case (b, i) => assert(dec.decodeBit(dm) == b, s"bit $i") }
  }

  test("integer compressor roundtrips extremes across contexts") {
    val values = Array(0, 1, -1, 2, -2, 255, -256, 65535, 1 << 20, -(1 << 20),
      Int.MaxValue, Int.MinValue, Int.MinValue + 1, 123456789, -987654321)
    val rnd = new Random(1)
    val stream = values ++ Array.fill(5000)(rnd.nextInt()) ++
      Array.fill(2000)(rnd.nextInt(64) - 32) // small correctors hit k<=8 models
    val preds = stream.map(_ => rnd.nextInt())

    val enc = new ArithmeticEncoder
    val eic = new IntegerCompressor(32, 3).initModels()
    stream.indices.foreach(i => eic.code(Coder(enc), preds(i), stream(i), i % 3))
    enc.done()
    val bytes = enc.result()
    assert(sha256(bytes) == "1843db9896f7fc0da32b3c55596c52964b9d179391b1e96bb1f3dd53ea69391f")
    val dec = new ArithmeticDecoder(bytes, 0, bytes.length).init()
    val dic = new IntegerCompressor(32, 3).initModels()
    stream.indices.foreach { i =>
      assert(dic.code(Coder(dec), preds(i), 0, i % 3) == stream(i), s"value $i (${stream(i)})")
    }
  }

  test("16-bit integer compressor wraps into the unsigned range") {
    val rnd = new Random(3)
    val vals = Array.fill(3000)(rnd.nextInt(65536))
    val enc = new ArithmeticEncoder
    val eic = new IntegerCompressor(16, 1).initModels()
    var prev = 0
    vals.foreach { v => eic.code(Coder(enc), prev, v, 0); prev = v }
    enc.done()
    assert(sha256(enc.result()) == "4c4a3c7201109b4ae94ece2066dd3a681c0541a61d6c39a386233c507bcb44c5")
    val dec = new ArithmeticDecoder(enc.result(), 0, enc.byteCount).init()
    val dic = new IntegerCompressor(16, 1).initModels()
    prev = 0
    vals.zipWithIndex.foreach { case (v, i) =>
      val got = dic.code(Coder(dec), prev, 0, 0); prev = got
      assert(got == v, s"value $i")
    }
  }

  private def randomPoints(rnd: Random, n: Int): Array[Laz.Point10] = {
    var x = 500000; var y = 600000; var z = 2000
    Array.fill(n) {
      x += rnd.nextInt(200) - 100 + (if (rnd.nextInt(50) == 0) rnd.nextInt(1 << 20) else 0)
      y += rnd.nextInt(200) - 100
      z += rnd.nextInt(20) - 10
      val nr = 1 + rnd.nextInt(7)
      val r = rnd.nextInt(nr + 1)
      val flags = r | (nr << 3) | (rnd.nextInt(2) << 6) | (rnd.nextInt(2) << 7)
      Laz.Point10(x, y, z,
        intensity = if (rnd.nextInt(4) == 0) rnd.nextInt(65536) else 0,
        flags = flags,
        cls = rnd.nextInt(32),
        scanAngle = rnd.nextInt(256),
        user = if (rnd.nextInt(8) == 0) rnd.nextInt(256) else 0,
        psid = if (rnd.nextInt(8) == 0) rnd.nextInt(65536) else 7001)
    }
  }

  test("POINT10 chunk roundtrips with every attribute varying") {
    val rnd = new Random(11)
    val pts = randomPoints(rnd, 60000)
    val bytes = Laz.encodeChunk(0, pts.map(Laz.FullPoint(_)))
    assert(sha256(bytes) == "2c2a6b1b31e76ecff7f426b64f1d2464bef0ba4b018fc2ef8e643c0642223a77")
    assert(bytes.length < pts.length * 20 / 2,
      s"compression ratio sanity: ${bytes.length} vs raw ${pts.length * 20}")
    val back = Laz.decodeChunk(0, bytes, 0, pts.length).map(_.core)
    assert(back.length == pts.length)
    var i = 0
    while (i < pts.length) {
      assert(back(i) == pts(i), s"point $i: ${back(i)} vs ${pts(i)}")
      i += 1
    }
  }

  test("single-point and two-point chunks") {
    val p = Laz.Point10(1, 2, 3, 4, 0x49, 6, 250, 8, 9)
    val one = Laz.encodeChunk(0, Array(Laz.FullPoint(p)))
    assert(one.length == 20)
    assert(Laz.decodeChunk(0, one, 0, 1).map(_.core).toSeq == Seq(p))
    val q = Laz.Point10(-100, 2000000, -3, 0, 0x0A, 1, 5, 0, 9)
    val two = Laz.encodeChunk(0, Array(p, q).map(Laz.FullPoint(_)))
    assert(Laz.decodeChunk(0, two, 0, 2).map(_.core).toSeq == Seq(p, q))
  }

  test("GPSTIME11 chunk roundtrips adversarial time sequences") {
    val rnd = new Random(13)
    // constant runs, steady pulse-rate ramps (multi==1), multiplied
    // intervals, sign flips, >32-bit jumps (slot rotation + full escape)
    var t = java.lang.Double.doubleToLongBits(300000.0)
    val seq = Array.newBuilder[Long]
    var i = 0
    while (i < 30000) {
      rnd.nextInt(12) match {
        case 0 | 1 | 2 => // unchanged
        case 3 | 4 | 5 | 6 => t += 1000 // steady interval
        case 7 => t += 1000L * (1 + rnd.nextInt(400)) // positive multiplier
        case 8 => t -= 1000L * (1 + rnd.nextInt(15)) // negative multiplier
        case 9 => t += rnd.nextInt(100) - 50 // small jitter
        case 10 => t += (rnd.nextLong() >>> 16) // far jump, >32-bit delta
        case _ => t = java.lang.Double.doubleToLongBits(rnd.nextDouble() * 1e6)
      }
      seq += t
      i += 1
    }
    val times = seq.result()
    val pts = times.map(g => Laz.FullPoint(Laz.Point10(0, 0, 0, 0, 0, 0, 0, 0, 0), gps = g))
    val bytes = Laz.encodeChunk(1, pts)
    assert(sha256(bytes) == "d78acdd542599ed46d0ec63ff56882e227bd4723dfde7cda876fbe2fa4a548e7")
    val back = Laz.decodeChunk(1, bytes, 0, pts.length)
    times.indices.foreach { j =>
      assert(back(j).gps == times(j), s"gps $j: ${back(j).gps} vs ${times(j)}")
    }
  }

  test("RGB12 chunk roundtrips colored, gray, and constant runs") {
    val rnd = new Random(17)
    var (r, g, b) = (1000, 2000, 3000)
    val pts = Array.fill(30000) {
      rnd.nextInt(6) match {
        case 0 => // unchanged
        case 1 => val v = rnd.nextInt(65536); r = v; g = v; b = v // gray
        case 2 => r = (r + rnd.nextInt(32) - 16) & 0xFFFF
        case 3 => g = (g + rnd.nextInt(32) - 16) & 0xFFFF
        case 4 => b = (b + rnd.nextInt(512) - 256) & 0xFFFF
        case _ => r = rnd.nextInt(65536); g = rnd.nextInt(65536); b = rnd.nextInt(65536)
      }
      Laz.FullPoint(Laz.Point10(0, 0, 0, 0, 0, 0, 0, 0, 0), r = r, g = g, b = b)
    }
    val bytes = Laz.encodeChunk(2, pts)
    assert(sha256(bytes) == "c22fb4b8e4b676e4569685fd17f1b3db8742bdd17873a7245f03d4e50b6ad11f")
    val back = Laz.decodeChunk(2, bytes, 0, pts.length)
    pts.indices.foreach { j =>
      assert((back(j).r, back(j).g, back(j).b) == (pts(j).r, pts(j).g, pts(j).b), s"rgb $j")
    }
  }

  test("point format 3 chunk roundtrips all items interleaved") {
    val rnd = new Random(19)
    val cores = randomPoints(rnd, 20000)
    var t = java.lang.Double.doubleToLongBits(1.5e5)
    val pts = cores.map { c =>
      t += (if (rnd.nextInt(20) == 0) rnd.nextLong() >>> 20 else 1000L)
      Laz.FullPoint(c, gps = t, r = rnd.nextInt(65536),
        g = rnd.nextInt(65536), b = rnd.nextInt(65536))
    }
    val bytes = Laz.encodeChunk(3, pts)
    assert(sha256(bytes) == "cd9037ee71f158b7f6bfb3915f83361f2269ad119c14bffc7f58d2a9416535ff")
    val back = Laz.decodeChunk(3, bytes, 0, pts.length)
    pts.indices.foreach(j => assert(back(j) == pts(j), s"point $j"))
  }

  test("point format 3 file roundtrips and reports pf3 metadata") {
    val n = 5000
    val df = (0 until n).map(i => (i * 0.7, i * 0.3, (i % 50) * 2.0))
      .toDF("x", "y", "z").repartition(3)
    val path = tmp("laz_pf3.laz")
    Laz.writePoints(df, path, chunkPoints = 1000, pointFormat = 3)
    val info = Las.lazInfo(path)
    assert(info.header.pointFormat == 3 && info.header.recordLen == 34)
    assert(info.items == Seq((6, 20, 2), (7, 8, 2), (8, 6, 2)))
    val back = Laz.readPoints(spark, path)
    assert(back.count() == n)
    assert(back.select(round(col("x") * 10).cast("long")).distinct().count() == n)
  }

  test("BYTE v2 extra-bytes chunk roundtrips constant, stepping, and noisy lanes") {
    val rnd = new Random(23)
    val cores = randomPoints(rnd, 20000)
    val pts = cores.zipWithIndex.map { case (c, i) =>
      Laz.FullPoint(c, extra = Array[Byte](
        7, // constant lane
        (i % 256).toByte, // stepping lane (diff model saturates at +1)
        rnd.nextInt(256).toByte, // noise lane
        (i / 100).toByte)) // slow ramp
    }
    val bytes = Laz.encodeChunk(0, pts, extraLen = 4)
    assert(sha256(bytes) == "6c82b6d802f9c226a5091ab7117fbae5955ac8d036e4b1e021bd1c11d886132c")
    val back = Laz.decodeChunk(0, bytes, 0, pts.length, extraLen = 4)
    pts.indices.foreach { j =>
      assert(back(j).core == pts(j).core, s"core $j")
      assert(back(j).extra.toSeq == pts(j).extra.toSeq, s"extra $j")
    }
  }

  test("extra-bytes file roundtrips the opaque column across partitions") {
    val n = 5000
    val df = (0 until n).map { i =>
      (i * 0.7, i * 0.3, (i % 50) * 2.0,
        Array[Byte]((i % 256).toByte, (i % 7).toByte, 42))
    }.toDF("x", "y", "z", "extra_bytes").repartition(3)
    val path = tmp("laz_extra.laz")
    Laz.writePoints(df, path, chunkPoints = 1000, extraBytes = 3)
    val info = Las.lazInfo(path)
    assert(info.header.pointFormat == 0 && info.header.recordLen == 23)
    assert(info.items == Seq((6, 20, 2), (0, 3, 2)))
    val back = Laz.readPoints(spark, path)
    assert(back.columns.toSeq == Seq("x", "y", "z", "extra_bytes"))
    val got = back
      .select(round(col("x") * 10).cast("long"), col("extra_bytes"))
      .collect().map(r => (r.getLong(0), r.getAs[Array[Byte]](1).toSeq)).toSet
    val exp = (0 until n).map { i =>
      (math.round(i * 7.0), Seq[Byte]((i % 256).toByte, (i % 7).toByte, 42))
    }.toSet
    assert(got == exp)
    // declared width is enforced, not silently padded
    val bad = Seq((1.0, 2.0, 3.0, Array[Byte](1))).toDF("x", "y", "z", "extra_bytes")
    val e = intercept[Exception](Laz.writePoints(bad, tmp("laz_bad.laz"), extraBytes = 3))
    assert(e.getMessage.contains("extra_bytes") || e.getCause != null)
  }

  test("file write -> info -> read roundtrip on the 0.1 grid") {
    val pts = Seq((1.5, 2.0, 0.3), (100.2, 0.0, -5.1), (8191.0, 4000.4, 25.3))
    val path = tmp("laz_test.laz")
    Laz.writePoints(pts.toDF("x", "y", "z"), path)

    val info = Las.lazInfo(path)
    assert(info.header.versionMajor == 1 && info.header.versionMinor == 2)
    assert(info.header.pointFormat == 0 && info.header.recordLen == 20)
    assert(info.header.pointCount == 3)
    assert(info.compressor == 2 && info.chunkSize == 0xFFFFFFFFL)
    assert(info.items == Seq((6, 20, 2)))
    assert(info.header.xMin == 1.5 && info.header.xMax == 8191.0)

    val back = Laz.readPoints(spark, path)
      .select(round(col("x") * 10).cast("long"),
        round(col("y") * 10).cast("long"), round(col("z") * 10).cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val expect = pts.map { case (x, y, z) =>
      (math.round(x * 10), math.round(y * 10), math.round(z * 10)) }.toSet
    assert(back == expect)
  }

  test("multi-partition multi-chunk file keeps every point exactly once") {
    val n = 20000
    val df = (0 until n).map(i => (i * 0.5, (n - i) * 0.3, (i % 97) * 1.1))
      .toDF("x", "y", "z").repartition(7)
    val path = tmp("laz_chunks.laz")
    Laz.writePoints(df, path, chunkPoints = 1000)

    val info = Las.lazInfo(path)
    val chunks = Las.lazChunks(path, info)
    assert(chunks.length >= 21, s"expected >=21 variable chunks, got ${chunks.length}")
    assert(chunks.map(_._2.toLong).sum == n)
    // partition tails are short chunks — the variable-size table must carry them
    assert(chunks.count(_._2 < 1000) >= 7 - 1 || chunks.forall(_._2 == 1000))

    val back = Laz.readPoints(spark, path, chunksPerTask = 3)
    assert(back.count() == n)
    val distinct = back.select(round(col("x") * 10).cast("long"),
      round(col("y") * 10).cast("long"), round(col("z") * 10).cast("long"))
      .distinct().count()
    assert(distinct == n)
  }

  test("LAZ and LAS sinks agree on the decoded grid") {
    val rnd = new Random(5)
    val pts = Seq.fill(5000)((rnd.nextDouble() * 8192, rnd.nextDouble() * 8192,
      rnd.nextDouble() * 100 - 50))
    val df = pts.toDF("x", "y", "z").repartition(3)
    Las.writePoints(df, tmp("agree.las"))
    Laz.writePoints(df, tmp("agree.laz"))
    def grid(d: org.apache.spark.sql.DataFrame) =
      d.select(round(col("x") * 10).cast("long"), round(col("y") * 10).cast("long"),
        round(col("z") * 10).cast("long"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .groupBy(identity).view.mapValues(_.length).toMap
    assert(grid(Laz.readPoints(spark, tmp("agree.laz"))) ==
      grid(Las.readPoints(spark, tmp("agree.las"))))
  }

  test("a compressed LAS 1.2 header round-trips a point count above 2^31") {
    // the count field is unsigned 32-bit: 2^31 .. 2^32 - 1 is legal
    val n = 3000000000L
    val vlr = Las.laszipVlr(2, (2, 2), Las.VariableChunkSize, Seq((6, 20, 2)))
    val offset = 227 + vlr.length
    val header = Las.writeHeader(2, 0x80, 20, n, 1, offset, 0.1, Las.Extent(0, 1, 0, 1, 0, 1))
    // the chunk-table offset field, pointing at an empty table right after it
    val table = java.nio.ByteBuffer.allocate(16).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      .putLong(0, offset + 8L)
    val path = tmp("laz_count.laz")
    java.nio.file.Files.write(java.nio.file.Paths.get(path), header ++ vlr ++ table.array())
    val info = Las.lazInfo(path)
    assert(info.header.pointCount == n && info.compressor == 2)
    intercept[IllegalArgumentException](
      Las.writeHeader(2, 0x80, 20, 1L << 32, 1, offset, 0.1, Las.Extent(0, 1, 0, 1, 0, 1)))
  }

  test("empty frame writes a readable zero-chunk file") {
    val df = spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      Las.pointSchema)
    val path = tmp("laz_empty.laz")
    Laz.writePoints(df, path)
    assert(Las.lazInfo(path).header.pointCount == 0)
    assert(Laz.readPoints(spark, path).count() == 0)
  }

  test("uncompressed LAS is rejected with a pointer to Las") {
    val df = Seq((1.0, 2.0, 3.0)).toDF("x", "y", "z")
    Las.writePoints(df, tmp("not_laz.las"))
    val e = intercept[IllegalArgumentException](Las.lazInfo(tmp("not_laz.las")))
    assert(e.getMessage.contains("not compressed"))
    val e2 = intercept[IllegalArgumentException](Las.readHeader(tmp("laz_test.laz")))
    assert(e2.getMessage.contains("LAZ"))
  }
}

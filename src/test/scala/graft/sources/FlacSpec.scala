package graft.sources

import scala.util.Random

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** FLAC-subset codec validation: bit I/O, CRCs against published
  * check values, subframe/frame/stream roundtrips under adversarial
  * signals, seektable framing, and the distributed file reader. */
class FlacSpec extends AnyFunSuite with TempDir {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  import spark.implicits._

  test("bit writer/reader roundtrip mixed-width values") {
    val rnd = new Random(41)
    val widths = Array.fill(2000)(1 + rnd.nextInt(36))
    val vals = widths.map(w => rnd.nextLong() & ((1L << w) - 1))
    val bw = new Flac.BitWriter
    widths.indices.foreach(i => bw.writeBits(widths(i), vals(i)))
    bw.alignByte()
    val br = new Flac.BitReader(bw.result(), 0)
    widths.indices.foreach { i =>
      assert(br.readBits(widths(i)) == vals(i), s"value $i width ${widths(i)}")
    }
  }

  test("CRC-8 and CRC-16 match the published check values") {
    // standard check input "123456789"
    val msg = "123456789".getBytes("US-ASCII")
    assert(Flac.crc8(msg, 0, msg.length) == 0xF4) // CRC-8/SMBUS (poly 0x07)
    assert(Flac.crc16(msg, 0, msg.length) == 0xFEE8) // CRC-16/UMTS (poly 0x8005, init 0)
  }

  private def signals(rnd: Random): Seq[(String, Array[Int])] = Seq(
    "silence" -> Array.fill(5000)(0),
    "constant" -> Array.fill(5000)(-12345),
    "ramp" -> Array.tabulate(5000)(i => (i % 65536) - 32768),
    "sine-ish" -> Array.tabulate(5000)(i =>
      (math.sin(i * 0.05) * 20000).toInt),
    "noise" -> Array.fill(5000)(rnd.nextInt(65536) - 32768),
    "extremes" -> Array.tabulate(5000)(i =>
      if (i % 2 == 0) Short.MinValue.toInt else Short.MaxValue.toInt),
    "steps" -> Array.tabulate(5000)(i => if ((i / 100) % 2 == 0) 30000 else -30000),
    "tiny" -> Array(42),
    "order4-friendly" -> Array.tabulate(5000)(i => {
      val t = i * 0.01; (1000 * t * t * t % 30000).toInt
    }))

  test("stream encode/decode roundtrips every signal class") {
    val rnd = new Random(43)
    signals(rnd).foreach { case (name, pcm) =>
      val bytes = Flac.encode(pcm, blockSize = 1024)
      val (info, chans) = Flac.decode(bytes)
      assert(info.sampleRate == 16000 && info.channels == 1, name)
      assert(info.totalSamples == pcm.length, name)
      assert(chans(0).toSeq == pcm.toSeq, s"$name samples")
    }
  }

  test("noise compresses near 1x, smooth signals well below") {
    val rnd = new Random(47)
    val smooth = Array.tabulate(20000)(i => (math.sin(i * 0.02) * 8000).toInt)
    val noise = Array.fill(20000)(rnd.nextInt(65536) - 32768)
    val sb = Flac.encode(smooth).length
    val nb = Flac.encode(noise).length
    assert(sb < 20000 * 2 / 2, s"smooth $sb should be < half of raw 40000")
    assert(nb < 20000 * 2 * 5 / 4, s"noise $nb must not blow up past ~raw size")
  }

  test("stereo independent channels roundtrip") {
    val rnd = new Random(53)
    val l = Array.tabulate(7000)(i => (math.sin(i * 0.03) * 15000).toInt)
    val r = Array.fill(7000)(rnd.nextInt(4096) - 2048)
    val bytes = Flac.encode(l, right = r, blockSize = 2048)
    val (info, chans) = Flac.decode(bytes)
    assert(info.channels == 2)
    assert(chans(0).toSeq == l.toSeq && chans(1).toSeq == r.toSeq)
  }

  test("every stereo decorrelation assignment roundtrips frame-exactly") {
    val rnd = new Random(91)
    val n = 2048
    // adversarial pair: full-range left, correlated right with noise,
    // odd/even sums so the mid-side parity bit is exercised
    val l = Array.tabulate(n)(i =>
      math.max(-32768, math.min(32767, (math.sin(i * 0.05) * 25000).toInt + rnd.nextInt(7) - 3)))
    val r = Array.tabulate(n)(i =>
      math.max(-32768, math.min(32767, l(i) - 300 + rnd.nextInt(9) - 4)))
    Seq(1, 8, 9, 10).foreach { assign =>
      val fb = Flac.encodeFrame(0L, Array(l, r), 16000, n, forceAssign = assign)
      val (chans, _, _) = Flac.decodeFrame(fb, 0, 2, 16)
      assert(chans(0).toSeq == l.toSeq, s"assign $assign left")
      assert(chans(1).toSeq == r.toSeq, s"assign $assign right")
    }
  }

  test("decodeFrame rejects a frame whose sample-size code disagrees with STREAMINFO") {
    // a foreign/corrupt stream could legally carry per-frame depths,
    // but this writer never varies it — decode must refuse rather than
    // silently concatenate samples at inconsistent ranges
    val pcm = Array.tabulate(512)(i => (math.sin(i * 0.1) * 100).toInt)
    val fb = Flac.encodeFrame(0L, Array(pcm), 16000, 512)
    val e = intercept[IllegalArgumentException] {
      Flac.decodeFrame(fb, 0, 1, 24)
    }
    assert(e.getMessage.contains("STREAMINFO says 24"), e.getMessage)
  }

  test("correlated stereo picks a side assignment and beats independent coding") {
    val rnd = new Random(7)
    val n = 8192
    val l = Array.tabulate(n)(i => (math.sin(i * 0.021) * 20000).toInt + rnd.nextInt(5) - 2)
    val r = Array.tabulate(n)(i => l(i) - 150 + rnd.nextInt(5) - 2) // ~same signal shifted
    val auto = Flac.encode(l, right = r, blockSize = 2048)
    val (_, chans) = Flac.decode(auto)
    assert(chans(0).toSeq == l.toSeq && chans(1).toSeq == r.toSeq)
    // force-independent stream for the size comparison
    val indep = {
      val frames = (0 until n by 2048).map { p =>
        Flac.encodeFrame(p / 2048, Array(l.slice(p, p + 2048), r.slice(p, p + 2048)),
          16000, 2048, forceAssign = 1)
      }
      frames.map(_.length).sum
    }
    val autoFrames = (0 until n by 2048).map { p =>
      Flac.encodeFrame(p / 2048, Array(l.slice(p, p + 2048), r.slice(p, p + 2048)),
        16000, 2048)
    }
    // the chooser must have taken a decorrelated assignment (code 8-10)
    autoFrames.foreach { fb =>
      val assign = (fb(3) & 0xF0) >> 4 // 4th byte: [chanAssign|sampleSize..]
      assert(assign >= 8 && assign <= 10, s"expected side coding, got $assign")
    }
    assert(autoFrames.map(_.length).sum < indep,
      "side coding must shrink a correlated stereo pair")
  }

  test("corrupted frame bytes fail the CRC, corrupted header fails CRC-8") {
    val pcm = Array.tabulate(3000)(i => (math.sin(i * 0.1) * 10000).toInt)
    val bytes = Flac.encode(pcm, blockSize = 1024)
    val info = Flac.parseInfo(bytes)
    // flip a bit mid-frame (affects body CRC-16)
    val mid = bytes.clone()
    mid((info.firstFrameOffset + 40).toInt) = (mid((info.firstFrameOffset + 40).toInt) ^ 0x10).toByte
    val e1 = intercept[Exception](Flac.decode(mid))
    // either the CRC-16 or an interior consistency guard must reject it
    assert(e1.getMessage.contains("CRC") || e1.getMessage.contains("overflow") ||
      e1.getMessage.contains("unsupported"))
    // flip a header bit (blocksize field) — header CRC-8 catches it
    val hd = bytes.clone()
    hd((info.firstFrameOffset + 2).toInt) = (hd((info.firstFrameOffset + 2).toInt) ^ 0x01).toByte
    val e2 = intercept[Exception](Flac.decode(hd))
    assert(e2.getMessage.contains("CRC") || e2.getMessage.contains("sync"))
  }

  test("seektable has one spec-shaped entry per frame") {
    val pcm = Array.tabulate(10000)(i => i % 1000)
    val bytes = Flac.encode(pcm, blockSize = 4096)
    val info = Flac.parseInfo(bytes)
    assert(info.seekpoints.length == 3) // 4096 + 4096 + 1808
    assert(info.seekpoints.map(_._1).toSeq == Seq(0L, 4096L, 8192L))
    assert(info.seekpoints.map(_._3).toSeq == Seq(4096, 4096, 1808))
    // offsets are strictly increasing from 0 and in range
    val offs = info.seekpoints.map(_._2)
    assert(offs(0) == 0L && offs.zip(offs.drop(1)).forall { case (a, b) => a < b })
    assert(info.firstFrameOffset + offs.last < bytes.length)
  }

  test("distributed file write -> seektable-split read keeps every sample") {
    val n = 50000
    val df = (0 until n).map(i => (i.toLong, ((i * 37) % 32768) - 16384))
      .toDF("idx", "value").repartition(5) // deliberately scrambled
    val path = tmp("dist.flac")
    Flac.writeSamples(df, path, blockSize = 1024)
    val info = Flac.parseInfo({
      val b = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path)); b
    })
    assert(info.totalSamples == n && info.seekpoints.length == (n + 1023) / 1024)
    val back = Flac.readSamples(spark, path, framesPerTask = 7)
    assert(back.count() == n)
    val got = back.collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    (0 until n by 997).foreach { i =>
      assert(got(i.toLong) == ((i * 37) % 32768) - 16384, s"sample $i")
    }
    // whole-payload decode agrees with the distributed read
    val (_, chans) = Flac.decode(
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path)))
    assert(chans(0).length == n)
    (0 until n).foreach(i => assert(chans(0)(i) == got(i.toLong)))
  }

  test("a failed distributed write leaves no side files behind") {
    val dir = java.nio.file.Files.createTempDirectory("flac_fail")
    try {
      // samples 100..199 are missing: the frame holding the gap fails its task
      val df = ((0 until 100) ++ (200 until 300)).map(i => (i.toLong, i))
        .toDF("idx", "value")
      val path = dir.resolve("gap.flac").toString
      val e = intercept[Exception](Flac.writeSamples(df, path, blockSize = 1024))
      assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .exists(c => String.valueOf(c.getMessage).contains("sample idx gap")), e)
      assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(path + ".chunks")))
    } finally graft.operators.BlockStore.rmdir(dir)
  }

  /** Subframe type byte of the first frame's first subframe: sync(2) +
    * hdr fields + one-byte utf8 idx + bs(2) + crc8(1) = 8 bytes in. */
  private def firstSubframeType(bytes: Array[Byte]): Int = {
    val info = Flac.parseInfo(bytes)
    bytes(info.firstFrameOffset.toInt + 8) & 0xFF
  }

  test("LPC subframe wins on a tonal signal and roundtrips bit-exactly") {
    // a sine at a non-dyadic frequency: fixed orders 0-4 leave large
    // residuals, while s[i] ~ 2cos(w) s[i-1] - s[i-2] is near-exact
    // for order-2 LPC — the block must come back as SUBFRAME_LPC
    val n = 4096
    val pcm = Array.tabulate(n)(i => math.round(9000 * math.sin(0.37 * i)).toInt)
    val bytes = Flac.encode(pcm, blockSize = n)
    val tpe = firstSubframeType(bytes) >> 1 // low bit is the wasted flag
    assert((tpe & 0x20) != 0, f"expected an LPC subframe, got type 0x$tpe%02x")
    val (_, chans) = Flac.decode(bytes)
    assert(chans(0).toSeq == pcm.toSeq)
  }

  test("wasted bits: shared trailing zeros shrink the stream and roundtrip") {
    val n = 4096
    val base = Array.tabulate(n)(i =>
      math.round(3500 * math.sin(0.11 * i)).toInt + (i % 17) - 8)
    val shifted = base.map(_ << 3) // every sample a multiple of 8
    val plain = Flac.encode(base, blockSize = n)
    val bytes = Flac.encode(shifted, blockSize = n)
    assert((firstSubframeType(bytes) & 1) == 1, "wasted-bits flag must be set")
    // the 3 wasted bits leave the stream no bigger than the unshifted
    // signal's (identical predictor structure, 3 fewer bits everywhere)
    assert(bytes.length <= plain.length + 16)
    val (_, chans) = Flac.decode(bytes)
    assert(chans(0).toSeq == shifted.toSeq)
  }

  test("8/12/20/24-bit depths roundtrip mono and stereo") {
    val rnd = new Random(67)
    Seq(8, 12, 20, 24).foreach { bps =>
      val amp = (1 << (bps - 1)) - 1
      val n = 5000
      val l = Array.tabulate(n)(i =>
        math.max(-amp - 1, math.min(amp, (math.sin(i * 0.043) * (amp * 0.8)).toInt +
          rnd.nextInt(5) - 2)))
      val r = Array.tabulate(n)(i =>
        math.max(-amp - 1, math.min(amp, l(i) - (amp / 64) + rnd.nextInt(3) - 1)))
      val mono = Flac.encode(l, blockSize = 2048, bps = bps)
      val (mi, mc) = Flac.decode(mono)
      assert(mi.bitsPerSample == bps && mc(0).toSeq == l.toSeq, s"mono $bps-bit")
      val stereo = Flac.encode(l, right = r, blockSize = 2048, bps = bps)
      val (si, sc) = Flac.decode(stereo)
      assert(si.bitsPerSample == bps, s"stereo $bps-bit depth")
      assert(sc(0).toSeq == l.toSeq && sc(1).toSeq == r.toSeq, s"stereo $bps-bit")
    }
    // out-of-range samples are rejected up front, not silently masked
    val e = intercept[IllegalArgumentException](
      Flac.encode(Array(1000), bps = 8))
    assert(e.getMessage.contains("range"))
  }

  test("foreign-subframe corruption still fails loudly (CRC or range guards)") {
    val pcm = Array.tabulate(300)(i => i)
    val bytes = Flac.encode(pcm, blockSize = 256)
    val info = Flac.parseInfo(bytes)
    val bad = bytes.clone()
    // flip the subframe type to a reserved code (0b000010 -> type 2)
    bad(info.firstFrameOffset.toInt + 8) = 0x04.toByte
    val e = intercept[Exception](Flac.decode(bad))
    assert(e.getMessage != null)
  }
}

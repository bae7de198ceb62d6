package graft.sources

import java.io.{BufferedOutputStream, FileOutputStream, RandomAccessFile}
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** A from-scratch FLAC codec (lossless audio) — the subset of the
  * PUBLIC FLAC format (xiph.org specification / RFC 9639): mono or
  * stereo at 8/12/16/20/24-bit depths, fixed block size,
  * SUBFRAME_CONSTANT / SUBFRAME_VERBATIM / SUBFRAME_FIXED (orders
  * 0-4) / SUBFRAME_LPC (Levinson-Durbin estimated,
  * quantized-coefficient integer reconstruction, orders 1-32 on
  * read) with Rice-coded residuals, wasted-bits subframes, frame
  * CRC-8/CRC-16, STREAMINFO and SEEKTABLE metadata. Files this
  * writes are spec-valid FLAC streams, and stereo frames pick the
  * cheapest decorrelation (independent / left-side / side-right /
  * mid-side) per frame.
  *
  * Why it belongs in a Spark analytics engine: compressed audio is a
  * standing format boundary for training-data pipelines (the
  * multimodal fixtures here are WAV only because no codec library
  * exists in this environment). Losslessness is the property that
  * makes the codec ORACLE-CHECKABLE end to end — decode(encode(pcm))
  * == pcm exactly, so a DuckDB oracle can recompute every windowed
  * stat from the sample formula, the same exactness contract as every
  * other operator in this repo (`mm_flac_segments`).
  *
  * Scale shape, mirroring [[Laz]]: FLAC frames are independently
  * decodable (every frame header re-states blocksize / rate /
  * channels and carries its own CRCs), and the writer emits one
  * SEEKTABLE entry per frame — so the seektable is a ready-made
  * distributed split index: [[readSamples]] hands frame runs to
  * tasks, each seeking straight to its first frame byte offset. As
  * with the LAZ codec, no second FLAC implementation exists in this
  * sandbox, so validation is roundtrip + CRC self-consistency +
  * oracle arithmetic, with spec conformance asserted against the
  * format document (README "Format boundary").
  */
object Flac {

  // ------------------------------------------------------------ bit I/O

  private[sources] final class BitWriter {
    private var buf = new Array[Byte](1 << 12)
    private var bytePos = 0
    private var bitPos = 0 // bits already filled in the current byte, MSB-first

    private def ensure(): Unit =
      if (bytePos == buf.length) buf = java.util.Arrays.copyOf(buf, buf.length << 1)

    def writeBit(b: Int): Unit = {
      ensure()
      if ((b & 1) != 0) buf(bytePos) = (buf(bytePos) | (0x80 >>> bitPos)).toByte
      bitPos += 1
      if (bitPos == 8) { bitPos = 0; bytePos += 1 }
    }

    def writeBits(n: Int, v: Long): Unit = {
      var i = n - 1
      while (i >= 0) { writeBit(((v >>> i) & 1L).toInt); i -= 1 }
    }

    /** Unary: q zeros then a one (FLAC rice quotient). */
    def writeUnary(q: Int): Unit = {
      var i = 0
      while (i < q) { writeBit(0); i += 1 }
      writeBit(1)
    }

    def alignByte(): Unit = while (bitPos != 0) writeBit(0)

    def result(): Array[Byte] = {
      require(bitPos == 0, "unaligned bit stream")
      java.util.Arrays.copyOf(buf, bytePos)
    }
  }

  private[sources] final class BitReader(bytes: Array[Byte], start: Int) {
    private var bytePos = start
    private var bitPos = 0

    def readBit(): Int = {
      val b = (bytes(bytePos) >>> (7 - bitPos)) & 1
      bitPos += 1
      if (bitPos == 8) { bitPos = 0; bytePos += 1 }
      b
    }

    def readBits(n: Int): Long = {
      var v = 0L
      var i = 0
      while (i < n) { v = (v << 1) | readBit(); i += 1 }
      v
    }

    def readUnary(): Int = {
      var q = 0
      while (readBit() == 0) q += 1
      q
    }

    def alignByte(): Unit = if (bitPos != 0) { bitPos = 0; bytePos += 1 }
    def position: Int = bytePos
  }

  // ------------------------------------------------------------- CRCs

  /** CRC-8, poly 0x07, init 0 — FLAC frame header CRC. */
  private[sources] def crc8(b: Array[Byte], from: Int, until: Int): Int = {
    var crc = 0
    var i = from
    while (i < until) {
      crc ^= b(i) & 0xFF
      var k = 0
      while (k < 8) {
        crc = if ((crc & 0x80) != 0) ((crc << 1) ^ 0x07) & 0xFF else (crc << 1) & 0xFF
        k += 1
      }
      i += 1
    }
    crc
  }

  /** CRC-16, poly 0x8005, init 0 — FLAC whole-frame CRC. */
  private[sources] def crc16(b: Array[Byte], from: Int, until: Int): Int = {
    var crc = 0
    var i = from
    while (i < until) {
      crc ^= (b(i) & 0xFF) << 8
      var k = 0
      while (k < 8) {
        crc = if ((crc & 0x8000) != 0) ((crc << 1) ^ 0x8005) & 0xFFFF
        else (crc << 1) & 0xFFFF
        k += 1
      }
      i += 1
    }
    crc
  }

  // ------------------------------------------------- fixed predictors

  /** Residual of fixed-order predictor `order` at position i (i >=
    * order): the spec's difference cascade. */
  private def residual(s: Array[Int], i: Int, order: Int): Long = order match {
    case 0 => s(i)
    case 1 => s(i).toLong - s(i - 1)
    case 2 => s(i).toLong - 2L * s(i - 1) + s(i - 2)
    case 3 => s(i).toLong - 3L * s(i - 1) + 3L * s(i - 2) - s(i - 3)
    case _ => s(i).toLong - 4L * s(i - 1) + 6L * s(i - 2) - 4L * s(i - 3) + s(i - 4)
  }

  private def reconstruct(s: Array[Int], i: Int, order: Int, e: Long): Long = order match {
    case 0 => e
    case 1 => e + s(i - 1)
    case 2 => e + 2L * s(i - 1) - s(i - 2)
    case 3 => e + 3L * s(i - 1) - 3L * s(i - 2) + s(i - 3)
    case _ => e + 4L * s(i - 1) - 6L * s(i - 2) + 4L * s(i - 3) - s(i - 4)
  }

  private def zigzag(v: Long): Long = if (v >= 0) v << 1 else ((-v) << 1) - 1
  private def unzigzag(u: Long): Long = if ((u & 1) == 0) u >>> 1 else -((u + 1) >>> 1)

  // ------------------------------------------------------ subframe enc

  /** Rice-code one residual array into `bw` as a single partition
    * (partition order 0). Chooses the Rice parameter from the mean
    * magnitude; escapes to raw 32-bit storage (parameter 0b11111)
    * when unary blowup would exceed it. */
  private def writeResiduals(bw: BitWriter, res: Array[Long]): Unit = {
    bw.writeBits(2, 0) // residual coding method: RICE (4-bit params)
    bw.writeBits(4, 0) // partition order 0 -> one partition
    var sum = 0L
    res.foreach(r => sum += math.abs(r))
    val mean = if (res.isEmpty) 0L else sum / math.max(1, res.length)
    var k = 0
    while (k < 14 && (1L << (k + 1)) < mean + 1) k += 1
    // escape if the worst-case unary run is absurd; the raw width is
    // sized to the widest residual (two's complement), which fixed
    // orders <= 4 over <= 25-bit subframes bound well under the 5-bit
    // escape field's 31-bit cap
    var worst = 0L
    res.foreach(r => worst = math.max(worst, zigzag(r) >>> k))
    if (worst > (1L << 16)) {
      var bits = 2
      res.foreach { r =>
        val need = 65 - java.lang.Long.numberOfLeadingZeros(if (r < 0) ~r else r)
        if (need > bits) bits = need
      }
      require(bits <= 31, s"residual needs $bits bits, escape caps at 31")
      bw.writeBits(4, 15) // escape code 0b1111: raw residuals
      bw.writeBits(5, bits)
      res.foreach(r => bw.writeBits(bits, r & ((1L << bits) - 1)))
    } else {
      bw.writeBits(4, k)
      res.foreach { r =>
        val u = zigzag(r)
        bw.writeUnary((u >>> k).toInt)
        if (k > 0) bw.writeBits(k, u & ((1L << k) - 1))
      }
    }
  }

  private def readResiduals(br: BitReader, n: Int): Array[Long] = {
    val method = br.readBits(2).toInt
    require(method == 0, s"unsupported residual coding method $method")
    val partOrder = br.readBits(4).toInt
    require(partOrder == 0, s"unsupported partition order $partOrder (writer emits 0)")
    val k = br.readBits(4).toInt
    val out = new Array[Long](n)
    if (k == 15) {
      val bits = br.readBits(5).toInt
      var i = 0
      while (i < n) { out(i) = (br.readBits(bits) << (64 - bits)) >> (64 - bits); i += 1 }
    } else {
      var i = 0
      while (i < n) {
        val q = br.readUnary().toLong
        val u = (q << k) | (if (k > 0) br.readBits(k) else 0L)
        out(i) = unzigzag(u)
        i += 1
      }
    }
    out
  }

  // --------------------------------------------------- LPC estimation

  /** Quantized LPC predictor: `coeffs(j)` multiplies s(i-1-j), the
    * prediction is the coefficient dot product arithmetically
    * right-shifted by `shift` (RFC 9639 §9.2.2). */
  private final case class QuantLpc(coeffs: Array[Int], shift: Int, precision: Int)

  /** Levinson-Durbin over the rectangular autocorrelation, orders
    * 1..maxOrder; returns (coeffs, predictionError) per order. Double
    * arithmetic is fine here — the ESTIMATE only steers the choice,
    * losslessness comes from the integer residual path. */
  private def levinsonDurbin(s: Array[Int], maxOrder: Int): Array[(Array[Double], Double)] = {
    val n = s.length
    val r = new Array[Double](maxOrder + 1)
    var lag = 0
    while (lag <= maxOrder) {
      var acc = 0.0
      var i = lag
      while (i < n) { acc += s(i).toDouble * s(i - lag); i += 1 }
      r(lag) = acc
      lag += 1
    }
    val out = Array.newBuilder[(Array[Double], Double)]
    val a = new Array[Double](maxOrder + 1)
    var err = r(0)
    var m = 1
    while (m <= maxOrder && err > 0) {
      var acc = r(m)
      var j = 1
      while (j < m) { acc -= a(j) * r(m - j); j += 1 }
      val k = acc / err
      a(m) = k
      j = 1
      while (j <= m / 2) {
        val tmp = a(j) - k * a(m - j)
        a(m - j) -= k * a(j)
        a(j) = tmp
        j += 1
      }
      err *= (1 - k * k)
      out += ((java.util.Arrays.copyOfRange(a, 1, m + 1), err))
      m += 1
    }
    out.result()
  }

  /** Quantize LPC coefficients to `precision` signed bits with the
    * largest shift (<= 15, the non-negative 5-bit field) that keeps
    * every coefficient in range. Returns null when degenerate. */
  private def quantizeLpc(coeffs: Array[Double], precision: Int): QuantLpc = {
    val cmax = coeffs.map(math.abs).max
    if (!(cmax > 0) || cmax.isInfinite || cmax.isNaN) return null
    val headroom = (1 << (precision - 1)) - 1
    var shift = 15
    while (shift > 0 && cmax * (1L << shift) > headroom) shift -= 1
    if (cmax * (1L << shift) > headroom) return null
    val q = coeffs.map { c =>
      math.max(-(1 << (precision - 1)),
        math.min(headroom, math.round(c * (1L << shift)).toInt))
    }
    QuantLpc(q, shift, precision)
  }

  /** Exact integer LPC residuals (prediction from ORIGINAL samples —
    * lossless no matter how rough the coefficients are). */
  private def lpcResiduals(s: Array[Int], q: QuantLpc): Array[Long] = {
    val order = q.coeffs.length
    val res = new Array[Long](s.length - order)
    var i = order
    while (i < s.length) {
      var acc = 0L
      var j = 0
      while (j < order) { acc += q.coeffs(j).toLong * s(i - 1 - j); j += 1 }
      res(i - order) = s(i).toLong - (acc >> q.shift)
      i += 1
    }
    res
  }

  /** Encode one channel's block: constant / verbatim / best fixed
    * order / real LPC (Levinson-Durbin + quantized-coefficient
    * integer residuals), whichever costs least by total |residual|.
    * Blocks whose samples share trailing zero bits encode at reduced
    * width via the wasted-bits field. `bps0` is the channel's sample
    * width: 16, or 17 for a stereo-decorrelation side channel. */
  private def writeSubframe(bw: BitWriter, s0: Array[Int], bps0: Int = 16): Unit = {
    val n = s0.length
    val constant = n > 0 && s0.forall(_ == s0(0))
    if (constant) {
      bw.writeBits(1, 0); bw.writeBits(6, 0); bw.writeBits(1, 0) // SUBFRAME_CONSTANT
      bw.writeBits(bps0, s0(0) & ((1L << bps0) - 1))
      return
    }
    // wasted bits: trailing zeros shared by EVERY sample move into the
    // subframe header and the block encodes at bps - wasted
    var orAll = 0
    s0.foreach(v => orAll |= v)
    val wasted = java.lang.Integer.numberOfTrailingZeros(orAll) // orAll != 0 here
    val s = if (wasted == 0) s0 else s0.map(_ >> wasted)
    val bps = bps0 - wasted
    def header(tpe: Int): Unit = {
      bw.writeBits(1, 0)
      bw.writeBits(6, tpe)
      if (wasted == 0) bw.writeBits(1, 0)
      else { bw.writeBits(1, 1); bw.writeUnary(wasted - 1) }
    }

    val maxOrder = math.min(4, n - 1)
    var bestOrder = 0
    var bestCost = Long.MaxValue
    var o = 0
    while (o <= maxOrder) {
      var cost = 0L
      var i = o
      while (i < n) { cost += math.abs(residual(s, i, o)); i += 1 }
      if (cost < bestCost) { bestCost = cost; bestOrder = o }
      o += 1
    }

    // real LPC: every Levinson-Durbin candidate order is quantized and
    // scored by its EXACT integer residual cost (estimates from the
    // recursion's error term degenerate on pure tones, where the error
    // collapses and high orders go numerically wild — the exact score
    // sidesteps that); adopted only when it beats the fixed predictors
    // and stays inside the 24-bit escape range
    var lpc: QuantLpc = null
    var lpcRes: Array[Long] = null
    if (n >= 64) {
      levinsonDurbin(s, math.min(8, n / 2)).foreach { case (c, _) =>
        val q = quantizeLpc(c, precision = 15)
        if (q != null) {
          val res = lpcResiduals(s, q)
          var cost = 0L
          var worst = 0L
          res.foreach { r => cost += math.abs(r); worst = math.max(worst, math.abs(r)) }
          if (cost < bestCost && worst < (1L << 30)) {
            lpc = q; lpcRes = res; bestCost = cost
          }
        }
      }
    }

    // verbatim beats a hopeless predictor (cost ~ bits): rough guard
    if (bestCost / math.max(1, n) > (1L << 18)) {
      header(1) // SUBFRAME_VERBATIM
      s.foreach(v => bw.writeBits(bps, v & ((1L << bps) - 1)))
      return
    }
    if (lpc != null) {
      val order = lpc.coeffs.length
      header(0x20 | (order - 1)) // SUBFRAME_LPC
      var i = 0
      while (i < order) { bw.writeBits(bps, s(i) & ((1L << bps) - 1)); i += 1 }
      bw.writeBits(4, lpc.precision - 1)
      bw.writeBits(5, lpc.shift)
      lpc.coeffs.foreach(c => bw.writeBits(lpc.precision, c & ((1L << lpc.precision) - 1)))
      writeResiduals(bw, lpcRes)
      return
    }
    header(8 | bestOrder) // SUBFRAME_FIXED, order in low bits
    var i = 0
    while (i < bestOrder) { bw.writeBits(bps, s(i) & ((1L << bps) - 1)); i += 1 }
    val res = new Array[Long](n - bestOrder)
    i = bestOrder
    while (i < n) { res(i - bestOrder) = residual(s, i, bestOrder); i += 1 }
    writeResiduals(bw, res)
  }

  private def readSubframe(br: BitReader, n: Int, bps0: Int = 16): Array[Int] = {
    require(br.readBits(1) == 0, "subframe sync bit")
    val tpe = br.readBits(6).toInt
    val wastedFlag = br.readBits(1).toInt
    val wasted = if (wastedFlag == 0) 0 else br.readUnary() + 1
    require(wasted < bps0, s"wasted bits $wasted exhaust the $bps0-bit sample")
    val bps = bps0 - wasted
    def sample(): Int = ((br.readBits(bps) << (64 - bps)) >> (64 - bps)).toInt
    val lo = -(1 << (bps - 1))
    val hi = (1 << (bps - 1)) - 1
    val out = new Array[Int](n)
    if (tpe == 0) { // CONSTANT
      java.util.Arrays.fill(out, sample())
    } else if (tpe == 1) { // VERBATIM
      var i = 0
      while (i < n) { out(i) = sample(); i += 1 }
    } else if ((tpe & 0x38) == 8 && (tpe & 0x20) == 0) { // FIXED, order 0-4
      val order = tpe & 7
      require(order <= 4, s"fixed order $order")
      var i = 0
      while (i < order) { out(i) = sample(); i += 1 }
      val res = readResiduals(br, n - order)
      i = order
      while (i < n) {
        val v = reconstruct(out, i, order, res(i - order))
        require(v >= lo && v <= hi, s"sample overflow $v")
        out(i) = v.toInt
        i += 1
      }
    } else if ((tpe & 0x20) != 0) { // LPC, order 1-32
      val order = (tpe & 0x1F) + 1
      require(order <= n, s"LPC order $order exceeds block size $n")
      var i = 0
      while (i < order) { out(i) = sample(); i += 1 }
      val precision = br.readBits(4).toInt + 1
      require(precision < 16, "invalid qlp precision escape 0b1111")
      val shift = ((br.readBits(5) << 59) >> 59).toInt
      require(shift >= 0, s"negative LPC shift $shift (deprecated by spec)")
      val coeffs = new Array[Int](order)
      i = 0
      while (i < order) {
        coeffs(i) = ((br.readBits(precision) << (64 - precision)) >> (64 - precision)).toInt
        i += 1
      }
      val res = readResiduals(br, n - order)
      i = order
      while (i < n) {
        var acc = 0L
        var j = 0
        while (j < order) { acc += coeffs(j).toLong * out(i - 1 - j); j += 1 }
        val v = res(i - order) + (acc >> shift)
        require(v >= lo && v <= hi, s"sample overflow $v")
        out(i) = v.toInt
        i += 1
      }
    } else throw new IllegalArgumentException(s"unsupported subframe type $tpe")
    if (wasted > 0) {
      var i = 0
      while (i < n) { out(i) = out(i) << wasted; i += 1 }
    }
    out
  }

  // -------------------------------------------------------- frame enc

  /** UTF-8-style coded number (frame index), per the spec. */
  private def writeUtf8Number(bw: BitWriter, v: Long): Unit = {
    if (v < 0x80) bw.writeBits(8, v)
    else if (v < 0x800) {
      bw.writeBits(8, 0xC0 | (v >>> 6)); bw.writeBits(8, 0x80 | (v & 0x3F))
    } else if (v < 0x10000) {
      bw.writeBits(8, 0xE0 | (v >>> 12)); bw.writeBits(8, 0x80 | ((v >>> 6) & 0x3F))
      bw.writeBits(8, 0x80 | (v & 0x3F))
    } else {
      bw.writeBits(8, 0xF0 | (v >>> 18)); bw.writeBits(8, 0x80 | ((v >>> 12) & 0x3F))
      bw.writeBits(8, 0x80 | ((v >>> 6) & 0x3F)); bw.writeBits(8, 0x80 | (v & 0x3F))
    }
  }

  private def readUtf8Number(br: BitReader): Long = {
    val b0 = br.readBits(8).toInt
    if ((b0 & 0x80) == 0) b0.toLong
    else {
      var len = 0
      var mask = 0x40
      while ((b0 & mask) != 0) { len += 1; mask >>>= 1 }
      var v = (b0 & (mask - 1)).toLong
      var i = 0
      while (i < len) { v = (v << 6) | (br.readBits(8) & 0x3F); i += 1 }
      v
    }
  }

  /** Encode one frame (1 or 2 channels of equal length; stereo picks
    * the cheapest of independent / left-side / side-right / mid-side
    * per frame; `forceAssign` pins the choice for tests). Returns the
    * frame bytes. `blockSizeCode` must describe s(0).length. */
  /** Frame-header sample-size codes for the supported depths. */
  private val SampleSizeCodes = Map(8 -> 1, 12 -> 2, 16 -> 4, 20 -> 5, 24 -> 6)
  private val SampleSizeBits = SampleSizeCodes.map(_.swap)

  private[sources] def encodeFrame(frameIdx: Long, channels: Array[Array[Int]],
      sampleRate: Int, blockSize: Int, forceAssign: Int = -1,
      bps: Int = 16): Array[Byte] = {
    require(SampleSizeCodes.contains(bps), s"unsupported bit depth $bps")
    // stereo decorrelation choice: estimate each candidate channel by
    // its order-2 fixed residual sum (the cheap proxy real encoders
    // use) and pick the cheapest of independent / left-side /
    // side-right / mid-side; ties resolve to the earliest candidate,
    // so the choice is deterministic
    def o2cost(s: Array[Int]): Long = {
      var acc = 0L
      var i = 2
      while (i < s.length) { acc += math.abs(s(i).toLong - 2L * s(i - 1) + s(i - 2)); i += 1 }
      acc
    }
    val (assign, subChans, subBps) =
      if (channels.length != 2)
        (channels.length - 1, channels, Array.fill(channels.length)(bps))
      else {
        val l = channels(0); val r = channels(1)
        val n = l.length
        val side = new Array[Int](n)
        val mid = new Array[Int](n)
        var i = 0
        while (i < n) { side(i) = l(i) - r(i); mid(i) = (l(i) + r(i)) >> 1; i += 1 }
        val (cl, cr, cs, cm) = (o2cost(l), o2cost(r), o2cost(side), o2cost(mid))
        val a =
          if (forceAssign >= 0) forceAssign
          else Seq(1 -> (cl + cr), 8 -> (cl + cs), 9 -> (cs + cr), 10 -> (cm + cs))
            .minBy(_._2)._1
        a match {
          case 1 => (1, Array(l, r), Array(bps, bps))
          case 8 => (8, Array(l, side), Array(bps, bps + 1)) // left + side
          case 9 => (9, Array(side, r), Array(bps + 1, bps)) // side + right
          case 10 => (10, Array(mid, side), Array(bps, bps + 1)) // mid + side
          case other => throw new IllegalArgumentException(s"bad channel assignment $other")
        }
      }
    val bw = new BitWriter
    bw.writeBits(14, 0x3FFE) // sync
    bw.writeBits(1, 0) // reserved
    bw.writeBits(1, 0) // fixed-blocksize stream: frame number coded
    bw.writeBits(4, 7) // blocksize: 16-bit value follows (code 0b0111)
    bw.writeBits(4, 0) // sample rate: in STREAMINFO
    bw.writeBits(4, assign) // channel assignment
    bw.writeBits(3, SampleSizeCodes(bps)) // sample size code
    bw.writeBits(1, 0) // reserved
    writeUtf8Number(bw, frameIdx)
    bw.writeBits(16, blockSize - 1)
    val headNoCrc = { bw.alignByte(); bw.result() }
    bw.writeBits(8, crc8(headNoCrc, 0, headNoCrc.length))
    var ci = 0
    while (ci < subChans.length) {
      writeSubframe(bw, subChans(ci), subBps(ci))
      ci += 1
    }
    bw.alignByte()
    val body = bw.result()
    val out = java.util.Arrays.copyOf(body, body.length + 2)
    val c16 = crc16(body, 0, body.length)
    out(body.length) = (c16 >>> 8).toByte
    out(body.length + 1) = c16.toByte
    out
  }

  /** Decode one frame at `offset`; returns (channels, nextOffset,
    * frameIdx). Verifies both CRCs. The frame header's channel count
    * AND sample-size code must agree with STREAMINFO: FLAC permits
    * per-frame depth changes, but this writer never varies it, and a
    * silently honored mismatch (a corrupt or foreign stream) would
    * concatenate samples at inconsistent ranges. */
  private[sources] def decodeFrame(bytes: Array[Byte], offset: Int,
      expectChannels: Int, expectBps: Int): (Array[Array[Int]], Int, Long) = {
    val br = new BitReader(bytes, offset)
    require(br.readBits(14) == 0x3FFE, "bad frame sync")
    require(br.readBits(1) == 0, "reserved bit")
    br.readBits(1) // blocking strategy
    val bsCode = br.readBits(4).toInt
    br.readBits(4) // sample-rate code (STREAMINFO governs)
    val chanAssign = br.readBits(4).toInt
    require(chanAssign <= 10, s"reserved channel assignment $chanAssign")
    val nCh = if (chanAssign < 8) chanAssign + 1 else 2
    require(nCh == expectChannels, s"frame has $nCh channels, STREAMINFO says $expectChannels")
    val ssCode = br.readBits(3).toInt
    val bps = SampleSizeBits.getOrElse(ssCode,
      throw new IllegalArgumentException(s"unsupported sample size code $ssCode"))
    require(bps == expectBps,
      s"frame carries $bps-bit samples, STREAMINFO says $expectBps")
    br.readBits(1)
    val frameIdx = readUtf8Number(br)
    val blockSize = bsCode match {
      case 1 => 192
      case c if c >= 2 && c <= 5 => 576 << (c - 2)
      case 6 => br.readBits(8).toInt + 1
      case 7 => br.readBits(16).toInt + 1
      case c if c >= 8 => 256 << (c - 8)
      case _ => throw new IllegalArgumentException("reserved blocksize code")
    }
    br.alignByte()
    val headEnd = br.position
    val hcrc = br.readBits(8).toInt
    require(hcrc == crc8(bytes, offset, headEnd), "frame header CRC-8 mismatch")
    val chans =
      if (chanAssign < 8) Array.fill(nCh)(readSubframe(br, blockSize, bps))
      else {
        // stereo decorrelation: the side channel carries one extra bit
        val c0 = readSubframe(br, blockSize, if (chanAssign == 9) bps + 1 else bps)
        val c1 = readSubframe(br, blockSize, if (chanAssign == 9) bps else bps + 1)
        val l = new Array[Int](blockSize)
        val r = new Array[Int](blockSize)
        var i = 0
        chanAssign match {
          case 8 => // left + side: R = L - side
            while (i < blockSize) { l(i) = c0(i); r(i) = c0(i) - c1(i); i += 1 }
          case 9 => // side + right: L = R + side
            while (i < blockSize) { r(i) = c1(i); l(i) = c1(i) + c0(i); i += 1 }
          case _ => // mid + side: L+R rebuilt from mid<<1 | (side&1)
            while (i < blockSize) {
              val s1 = c1(i)
              val m = (c0(i) << 1) | (s1 & 1)
              l(i) = (m + s1) >> 1
              r(i) = (m - s1) >> 1
              i += 1
            }
        }
        Array(l, r)
      }
    br.alignByte()
    val bodyEnd = br.position
    val fcrc = ((bytes(bodyEnd) & 0xFF) << 8) | (bytes(bodyEnd + 1) & 0xFF)
    require(fcrc == crc16(bytes, offset, bodyEnd), "frame CRC-16 mismatch")
    (chans, bodyEnd + 2, frameIdx)
  }

  // ------------------------------------------------------- container

  final case class FlacInfo(sampleRate: Int, channels: Int, bitsPerSample: Int,
      totalSamples: Long, blockSize: Int, firstFrameOffset: Long,
      // (sampleNumber, byteOffsetFromFirstFrame, blockSamples)
      seekpoints: Array[(Long, Long, Int)])

  /** Encode a whole stream into one in-memory FLAC payload (the
    * per-row media-table form). Mono unless `right` is given; `bps`
    * picks the stored depth (8/12/16/20/24). */
  def encode(pcm: Array[Int], sampleRate: Int = 16000, blockSize: Int = 4096,
      right: Array[Int] = null, bps: Int = 16): Array[Byte] = {
    require(right == null || right.length == pcm.length, "channel length mismatch")
    require(SampleSizeCodes.contains(bps), s"unsupported bit depth $bps")
    val lo = -(1 << (bps - 1)); val hi = (1 << (bps - 1)) - 1
    def inRange(s: Array[Int]): Boolean = { var i = 0
      while (i < s.length && s(i) >= lo && s(i) <= hi) i += 1; i == s.length }
    require(inRange(pcm) && (right == null || inRange(right)),
      s"samples exceed the $bps-bit range")
    val nCh = if (right == null) 1 else 2
    val frames = Array.newBuilder[Array[Byte]]
    val seeks = Array.newBuilder[(Long, Long, Int)]
    var off = 0L
    var idx = 0L
    var pos = 0
    while (pos < pcm.length) {
      val n = math.min(blockSize, pcm.length - pos)
      val chans =
        if (nCh == 1) Array(java.util.Arrays.copyOfRange(pcm, pos, pos + n))
        else Array(java.util.Arrays.copyOfRange(pcm, pos, pos + n),
          java.util.Arrays.copyOfRange(right, pos, pos + n))
      val fb = encodeFrame(idx, chans, sampleRate, n, bps = bps)
      frames += fb
      seeks += ((pos.toLong, off, n))
      off += fb.length
      idx += 1
      pos += n
    }
    buildStream(sampleRate, nCh, pcm.length.toLong, blockSize,
      seeks.result(), frames.result(), bps)
  }

  private def buildStream(sampleRate: Int, channels: Int, totalSamples: Long,
      blockSize: Int, seeks: Array[(Long, Long, Int)],
      frames: Array[Array[Byte]], bps: Int = 16): Array[Byte] = {
    val bw = new BitWriter
    bw.writeBits(32, 0x664C6143L) // "fLaC"
    // STREAMINFO (type 0), not last
    bw.writeBits(1, 0); bw.writeBits(7, 0); bw.writeBits(24, 34)
    bw.writeBits(16, blockSize); bw.writeBits(16, blockSize)
    bw.writeBits(24, 0); bw.writeBits(24, 0) // frame sizes unknown
    bw.writeBits(20, sampleRate)
    bw.writeBits(3, channels - 1)
    bw.writeBits(5, bps - 1)
    bw.writeBits(36, totalSamples)
    (0 until 16).foreach(_ => bw.writeBits(8, 0)) // MD5 unset
    // SEEKTABLE (type 3), last
    bw.writeBits(1, 1); bw.writeBits(7, 3); bw.writeBits(24, 18 * seeks.length)
    seeks.foreach { case (sample, off, n) =>
      bw.writeBits(32, sample >>> 32); bw.writeBits(32, sample & 0xFFFFFFFFL)
      bw.writeBits(32, off >>> 32); bw.writeBits(32, off & 0xFFFFFFFFL)
      bw.writeBits(16, n)
    }
    val head = bw.result()
    val total = head.length + frames.map(_.length).sum
    val out = new Array[Byte](total)
    System.arraycopy(head, 0, out, 0, head.length)
    var p = head.length
    frames.foreach { f => System.arraycopy(f, 0, out, p, f.length); p += f.length }
    out
  }

  /** Parse the metadata blocks of an in-memory payload. */
  def parseInfo(bytes: Array[Byte]): FlacInfo = {
    require(bytes.length >= 42 && bytes(0) == 'f' && bytes(1) == 'L' &&
      bytes(2) == 'a' && bytes(3) == 'C', "not a FLAC stream")
    val br = new BitReader(bytes, 4)
    var last = false
    var info: FlacInfo = null
    var seeks: Array[(Long, Long, Int)] = Array.empty
    while (!last) {
      last = br.readBits(1) == 1
      val tpe = br.readBits(7).toInt
      val len = br.readBits(24).toInt
      require(len >= 0 && br.position + len <= bytes.length,
        s"metadata block overruns the stream")
      if (tpe == 0) {
        require(len >= 34, s"STREAMINFO block $len bytes, spec needs 34")
        val bsMin = br.readBits(16).toInt; br.readBits(16)
        br.readBits(24); br.readBits(24)
        val rate = br.readBits(20).toInt
        val nCh = br.readBits(3).toInt + 1
        val bps = br.readBits(5).toInt + 1
        val total = br.readBits(36)
        (0 until 16).foreach(_ => br.readBits(8))
        require(SampleSizeCodes.contains(bps),
          s"bits per sample $bps (8/12/16/20/24 supported)")
        info = FlacInfo(rate, nCh, bps, total, bsMin, -1L, Array.empty)
      } else if (tpe == 3) {
        val n = len / 18
        seeks = Array.fill(n) {
          val sample = (br.readBits(32) << 32) | br.readBits(32)
          val off = (br.readBits(32) << 32) | br.readBits(32)
          val bs = br.readBits(16).toInt
          (sample, off, bs)
        }
      } else (0 until len).foreach(_ => br.readBits(8))
    }
    require(info != null, "missing STREAMINFO")
    info.copy(firstFrameOffset = br.position.toLong, seekpoints = seeks)
  }

  /** Decode a whole in-memory payload to channel arrays. */
  def decode(bytes: Array[Byte]): (FlacInfo, Array[Array[Int]]) = {
    val info = parseInfo(bytes)
    // the 36-bit STREAMINFO sample count is untrusted and sizes the
    // output allocation: reject counts the payload cannot plausibly
    // hold (a frame covers <= 65536 samples and costs >= ~10 bytes)
    // instead of truncating to Int or attempting a multi-GB array
    require(info.totalSamples >= 0 && info.totalSamples <= Int.MaxValue &&
      info.totalSamples <= (bytes.length / 10L + 1L) * 65536L,
      s"implausible totalSamples ${info.totalSamples} for ${bytes.length} bytes")
    val out = Array.fill(info.channels)(new Array[Int](info.totalSamples.toInt))
    var off = info.firstFrameOffset.toInt
    var pos = 0
    while (pos < info.totalSamples) {
      val (chans, next, _) = decodeFrame(bytes, off, info.channels, info.bitsPerSample)
      val n = chans(0).length
      // a zero-sample frame would loop forever; a frame overrunning
      // the declared total is a lying header — both are rejections
      require(n > 0 && pos + n <= info.totalSamples,
        s"frame at $off decodes $n samples at position $pos of ${info.totalSamples}")
      var c = 0
      while (c < info.channels) {
        System.arraycopy(chans(c), 0, out(c), pos, n); c += 1
      }
      off = next
      pos += n
    }
    (info, out)
  }

  // --------------------------------------------------- Spark surface

  /** Write a sample frame (columns: `idx` long, `value` int — mono
    * 16-bit) as one FLAC file: executors encode frame runs in
    * parallel (each partition's samples must be contiguous in idx —
    * use a range partitioner upstream or let this repartitionByRange),
    * the driver splices side files and builds the seektable from
    * O(frames) stats, the shape of the LAS/LAZ sink (`Las.sink`). */
  def writeSamples(df: DataFrame, path: String, sampleRate: Int = 16000,
      blockSize: Int = 4096): Unit = {
    import org.apache.spark.sql.functions.col
    val chunkDir = Files.createDirectories(Paths.get(path + ".chunks"))
    val prefix = chunkDir.toString
    val bs = blockSize
    val rate = sampleRate
    try {
      // frame-align partitions: bucket = idx / blockSize, ranged so each
      // partition holds whole consecutive frames
      val prepared = df.select((col("idx").cast("long") / bs).cast("long").as("frame"),
          col("idx").cast("long").as("idx"), col("value").cast("int").as("value"))
        .repartitionByRange(col("frame"))
        .sortWithinPartitions("idx")
      val stats = prepared.rdd.mapPartitionsWithIndex { (pid, it) =>
        if (!it.hasNext) Iterator.empty
        else {
          val out = new BufferedOutputStream(
            new FileOutputStream(f"$prefix/part-$pid%05d.bin"), 1 << 20)
          val frameStats = Array.newBuilder[(Long, Int, Int)] // (firstIdx, n, bytes)
          try {
            val buf = new Array[Int](bs)
            var n = 0
            var firstIdx = -1L
            var expect = -1L
            def flush(): Unit = if (n > 0) {
              val fb = encodeFrame(firstIdx / bs, Array(java.util.Arrays.copyOf(buf, n)),
                rate, n)
              out.write(fb)
              frameStats += ((firstIdx, n, fb.length))
              n = 0
            }
            it.foreach { r =>
              val idx = r.getLong(1)
              require(expect < 0 || idx == expect,
                s"sample idx gap at $idx (expected $expect) — frame must be contiguous")
              expect = idx + 1
              if (n == 0) firstIdx = idx
              buf(n) = r.getInt(2)
              n += 1
              if (n == bs || (idx + 1) % bs == 0) flush()
            }
            flush()
          } finally out.close()
          Iterator.single((pid, frameStats.result()))
        }
      }.collect().sortBy(_._1)

      val frameMeta = stats.flatMap(_._2)
      require(frameMeta.zip(frameMeta.drop(1)).forall { case ((a, an, _), (b, _, _)) =>
        a + an == b }, "partitions produced non-contiguous frames")
      val totalSamples = frameMeta.map(_._2.toLong).sum
      var off = 0L
      val seeks = frameMeta.map { case (first, n, sz) =>
        val s = (first, off, n); off += sz; s
      }

      val bw = new BitWriter
      bw.writeBits(32, 0x664C6143L)
      bw.writeBits(1, 0); bw.writeBits(7, 0); bw.writeBits(24, 34)
      bw.writeBits(16, bs); bw.writeBits(16, bs)
      bw.writeBits(24, 0); bw.writeBits(24, 0)
      bw.writeBits(20, rate); bw.writeBits(3, 0); bw.writeBits(5, 15)
      bw.writeBits(36, totalSamples)
      (0 until 16).foreach(_ => bw.writeBits(8, 0))
      bw.writeBits(1, 1); bw.writeBits(7, 3); bw.writeBits(24, 18 * seeks.length)
      seeks.foreach { case (sample, o, n) =>
        bw.writeBits(32, sample >>> 32); bw.writeBits(32, sample & 0xFFFFFFFFL)
        bw.writeBits(32, o >>> 32); bw.writeBits(32, o & 0xFFFFFFFFL)
        bw.writeBits(16, n)
      }
      val fos = new FileOutputStream(path)
      try {
        fos.write(bw.result())
        val dst = fos.getChannel
        stats.foreach { case (pid, _) =>
          val part = Paths.get(f"$prefix/part-$pid%05d.bin")
          val src = java.nio.channels.FileChannel.open(part)
          try {
            val len = src.size()
            var pos = 0L
            while (pos < len) pos += dst.transferFrom(src, dst.position() + pos, len - pos)
            dst.position(dst.position() + len)
          } finally src.close()
          Files.delete(part)
        }
      } finally fos.close()
    } finally Las.removeTree(chunkDir) // also after a failed job
  }

  private val sampleSchema = StructType(Seq(
    StructField("idx", LongType), StructField("value", IntegerType)))

  /** Distributed FLAC scan → DataFrame[idx, value] (mono). The
    * seektable is the split index: tasks seek to their frame run and
    * decode independently (every frame re-states its parameters and
    * carries its own CRCs). */
  def readSamples(spark: SparkSession, path: String, framesPerTask: Int = 64): DataFrame = {
    val head = {
      val raf = new RandomAccessFile(path, "r")
      try {
        val n = math.min(raf.length(), 1L << 22).toInt
        val b = new Array[Byte](n)
        raf.readFully(b)
        b
      } finally raf.close()
    }
    val info = parseInfo(head)
    require(info.channels == 1, "distributed reader is mono (media rows carry stereo)")
    require(info.seekpoints.nonEmpty, "missing seektable (writer always emits one)")
    val base = info.firstFrameOffset
    val fileLen = Files.size(Paths.get(path))
    // (byteStart, byteEnd, firstSample) per frame
    // placeholder seekpoints (sample number 0xFFFFFFFFFFFFFFFF, i.e.
    // -1 as a Long) are spec-valid padding with undefined offsets —
    // libFLAC templates emit them routinely; skip them rather than
    // treating a conformant file as hostile
    val real = info.seekpoints.filter(_._1 != -1L)
    val spans = real.indices.map { i =>
      val (sample, off, _) = real(i)
      val end = if (i + 1 < real.length) base + real(i + 1)._2 else fileLen
      // seekpoint offsets are untrusted split bounds: they must stay
      // inside the file and be non-decreasing, or a task would compute
      // a negative/foreign read span
      require(off >= 0 && sample >= 0 && base + off <= end && end <= fileLen,
        s"$path: hostile seekpoint $i (offset $off, next-end $end, file $fileLen)")
      (base + off, end, sample)
    }
    val groups = spans.grouped(math.max(1, framesPerTask)).toArray
    if (groups.isEmpty)
      return spark.createDataFrame(spark.sparkContext.emptyRDD[Row], sampleSchema)
    val rdd = spark.sparkContext.parallelize(groups.toIndexedSeq, groups.length)
      .flatMap { group =>
        val raf = new RandomAccessFile(path, "r")
        val rows = try {
          val start = group.head._1
          val end = group.last._2
          val bytes = new Array[Byte]((end - start).toInt)
          raf.seek(start)
          raf.readFully(bytes)
          group.iterator.flatMap { case (s, _, firstSample) =>
            val (chans, _, _) = decodeFrame(bytes, (s - start).toInt, 1, info.bitsPerSample)
            chans(0).iterator.zipWithIndex.map { case (v, i) =>
              Row(firstSample + i, v)
            }
          }.toArray
        } finally raf.close()
        rows
      }
    spark.createDataFrame(rdd, sampleSchema)
  }
}

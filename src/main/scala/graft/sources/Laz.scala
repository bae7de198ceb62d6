package graft.sources

import java.nio.{ByteBuffer, ByteOrder}

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{BinaryType, LongType, StructField, StructType}

/** LAZ (LASzip-compressed LAS) source/sink — closes the format
  * boundary the reference crosses transparently via laspy+lazrs
  * (pcsfc/point_processor.py:32): real AHN tiles ship as .laz, so a
  * user of the reference hits this on day one.
  *
  * Implemented from the PUBLIC LAZ specification (container layout,
  * chunk table, POINT10 version-2 item codec with its published
  * return-map/return-level tables and streaming-median-of-5
  * predictors) on top of the FastAC coder in ArithmeticCodec.scala.
  * No code from any LASzip implementation is used — see the
  * ArithmeticCodec scaladoc for the validation boundary (roundtrip
  * in-sandbox; no second implementation exists in this environment).
  * Each item codec is one `code` routine that encoding and decoding
  * both run through a [[Coder]].
  *
  * Why this maps well onto Spark: LAZ chunks reset every model, so a
  * chunk is an independently decodable unit and the chunk table is a
  * ready-made split index. [[Las]] owns that container — header,
  * laszip VLR, chunk table, the parallel scan that assigns chunk runs
  * to tasks and the sink that encodes chunks per partition and splices
  * them — and this object supplies the codecs it runs. Because interior
  * partitions may end with a short chunk, the writer uses the spec's
  * variable-size chunking (VLR chunk_size = 0xFFFFFFFF; the chunk
  * table carries per-chunk point counts), which keeps the file
  * well-formed without a final single-threaded re-chunk pass.
  *
  * Supported: point formats 0–3 (POINT10/GPSTIME11/RGB12, all v2)
  * and the waveform formats 4–5 (plus WAVEPACKET13), optionally with
  * one trailing BYTE v2 item ("extra bytes" — read and written as an
  * opaque `extra_bytes` binary column; the LAS extra-bytes descriptor
  * VLR that names the attributes is not interpreted); compressor 2
  * (pointwise chunked), fixed or variable chunk size, and compressor
  * 1 through the version-1 codecs of [[LazV1]] in the same framing.
  */
object Laz {

  // item types from the LAZ spec
  private[sources] val ItemByte = 0 // "extra bytes" appended to the point record
  private val ItemPoint10 = 6
  private val ItemGpstime11 = 7
  private val ItemRgb12 = 8
  private val ItemWavepacket13 = 9

  /** LAZ item lists for LAS point formats 0–3 (type, size, version —
    * all version-2 codecs). Record length = sum of sizes. */
  private[sources] val FormatItems: Map[Int, Seq[(Int, Int, Int)]] = Map(
    0 -> Seq((ItemPoint10, 20, 2)),
    1 -> Seq((ItemPoint10, 20, 2), (ItemGpstime11, 8, 2)),
    2 -> Seq((ItemPoint10, 20, 2), (ItemRgb12, 6, 2)),
    3 -> Seq((ItemPoint10, 20, 2), (ItemGpstime11, 8, 2), (ItemRgb12, 6, 2)),
    // waveform formats: the 29-byte wavepacket descriptor item — its
    // codec never moved past version 1, even in compressor-2 files
    4 -> Seq((ItemPoint10, 20, 2), (ItemGpstime11, 8, 2), (ItemWavepacket13, 29, 1)),
    5 -> Seq((ItemPoint10, 20, 2), (ItemGpstime11, 8, 2), (ItemRgb12, 6, 2),
      (ItemWavepacket13, 29, 1)))

  /** The same item lists with version-1 codecs — what pre-2013
    * pointwise (compressor 1) files declare. Waveform formats are
    * post-chunking (LAS 1.3), so the v1 table stays 0-3. */
  private[sources] val FormatItemsV1: Map[Int, Seq[(Int, Int, Int)]] =
    FormatItems.collect { case (f, is) if f <= 3 =>
      f -> is.map { case (t, sz, _) => (t, sz, 1) }
    }

  private def hasGps(format: Int): Boolean =
    format == 1 || format == 3 || format == 4 || format == 5
  private def hasRgb(format: Int): Boolean =
    format == 2 || format == 3 || format == 5
  private def hasWave(format: Int): Boolean = format == 4 || format == 5

  /** One decoded 20-byte POINT10 record; scanAngle kept in unsigned
    * byte space (the codec folds differences mod 256). */
  final case class Point10(x: Int, y: Int, z: Int, intensity: Int, flags: Int,
      cls: Int, scanAngle: Int, user: Int, psid: Int)

  /** Published POINT10 v2 context tables: (number of returns, return
    * number) → 16-way context / 8-way level (LAZ spec appendix). */
  private[sources] val NumberReturnMap: Array[Array[Int]] = Array(
    Array(15, 14, 13, 12, 11, 10, 9, 8),
    Array(14, 0, 1, 3, 6, 10, 10, 9),
    Array(13, 1, 2, 4, 7, 11, 11, 10),
    Array(12, 3, 4, 5, 8, 12, 12, 11),
    Array(11, 6, 7, 8, 9, 13, 13, 12),
    Array(10, 10, 11, 12, 13, 14, 14, 13),
    Array(9, 10, 11, 12, 13, 14, 15, 14),
    Array(8, 9, 10, 11, 12, 13, 14, 15))

  private[sources] val NumberReturnLevel: Array[Array[Int]] = Array(
    Array(0, 1, 2, 3, 4, 5, 6, 7),
    Array(1, 0, 1, 2, 3, 4, 5, 6),
    Array(2, 1, 0, 1, 2, 3, 4, 5),
    Array(3, 2, 1, 0, 1, 2, 3, 4),
    Array(4, 3, 2, 1, 0, 1, 2, 3),
    Array(5, 4, 3, 2, 1, 0, 1, 2),
    Array(6, 5, 4, 3, 2, 1, 0, 1),
    Array(7, 6, 5, 4, 3, 2, 1, 0))

  /** The spec's streaming median-of-5 for coordinate-difference
    * prediction: a 5-slot sorted window with an alternation flag so
    * ties drift neither up nor down. */
  private[sources] final class StreamingMedian5 {
    private val v = new Array[Int](5)
    private var high = true
    def get: Int = v(2)
    def add(x: Int): Unit = {
      if (high) {
        if (x < v(2)) {
          v(4) = v(3); v(3) = v(2)
          if (x < v(0)) { v(2) = v(1); v(1) = v(0); v(0) = x }
          else if (x < v(1)) { v(2) = v(1); v(1) = x }
          else v(2) = x
        } else {
          if (x < v(3)) { v(4) = v(3); v(3) = x }
          else v(4) = x
          high = false
        }
      } else {
        if (v(2) < x) {
          v(0) = v(1); v(1) = v(2)
          if (v(4) < x) { v(2) = v(3); v(3) = v(4); v(4) = x }
          else if (v(3) < x) { v(2) = v(3); v(3) = x }
          else v(2) = x
        } else {
          if (v(1) < x) { v(0) = v(1); v(1) = x }
          else v(0) = x
          high = true
        }
      }
    }
  }

  /** The item codecs of the pointwise streams, v1 and v2 alike: `code`
    * codes one point's item through a [[Coder]] and, like the coder,
    * returns the value given when encoding and the value read when
    * decoding. */
  private[sources] trait Point10Item { def code(c: Coder, p: Point10): Point10 }
  private[sources] trait GpsItem { def code(c: Coder, bits: Long): Long }
  private[sources] trait BytesItem { def code(c: Coder, cur: Array[Byte]): Array[Byte] }
  /** RGB12 keeps the coded colour as its last value, read back by `r`, `g`, `b`. */
  private[sources] trait RgbItem {
    def code(c: Coder, r: Int, g: Int, b: Int): Unit
    def r: Int
    def g: Int
    def b: Int
  }

  /** Encoder side: POINT10's changed-attributes mask against the last
    * values (bits 32 flags, 16 intensity, 8 class, 4 angle, 2 user, 1 psid). */
  private[sources] def changedMask(p: Point10, flags: Int, intensity: Int, cls: Int,
      scanAngle: Int, user: Int, psid: Int): Int =
    (if (flags != p.flags) 32 else 0) | (if (intensity != p.intensity) 16 else 0) |
      (if (cls != p.cls) 8 else 0) | (if (scanAngle != p.scanAngle) 4 else 0) |
      (if (user != p.user) 2 else 0) | (if (psid != p.psid) 1 else 0)

  /** POINT10 version-2 item codec. One instance per chunk (every
    * model resets at chunk boundaries — that independence is what the
    * distributed reader exploits). */
  private final class Point10Codec(first: Point10) extends Point10Item {
    private val mChanged = new ArithmeticModel(64).init()
    private val icIntensity = new IntegerCompressor(16, 4).initModels()
    private val mScanAngleRank =
      Array(new ArithmeticModel(256).init(), new ArithmeticModel(256).init())
    private val icPointSource = new IntegerCompressor(16, 1).initModels()
    // per-previous-value byte models, created on first use (spec behavior)
    private val mBitByte = new Array[ArithmeticModel](256)
    private val mClassification = new Array[ArithmeticModel](256)
    private val mUserData = new Array[ArithmeticModel](256)
    private val icDx = new IntegerCompressor(32, 2).initModels()
    private val icDy = new IntegerCompressor(32, 22).initModels()
    private val icZ = new IntegerCompressor(32, 20).initModels()
    private val lastXDiff = Array.fill(16)(new StreamingMedian5)
    private val lastYDiff = Array.fill(16)(new StreamingMedian5)
    private val lastIntensity = new Array[Int](16)
    private val lastHeight = new Array[Int](8)

    private var lx = first.x
    private var ly = first.y
    private var lFlags = first.flags
    private var lCls = first.cls
    private var lScanAngle = first.scanAngle
    private var lUser = first.user
    private var lPsid = first.psid
    // the spec inits the carried intensity to 0 (prediction goes via
    // lastIntensity[context], not the previous record)

    def code(c: Coder, p: Point10): Point10 = {
      val changed = c.symbol(mChanged, if (!c.encoding) 0
        else changedMask(p, lFlags, lastIntensity(NumberReturnMap((p.flags >>> 3) & 7)(p.flags & 7)),
          lCls, lScanAngle, lUser, lPsid))
      if ((changed & 32) != 0) lFlags = c.symbol(ArithmeticModel.at(mBitByte, lFlags, 256), p.flags)
      val r = lFlags & 7
      val n = (lFlags >>> 3) & 7
      val m = NumberReturnMap(n)(r)
      val l = NumberReturnLevel(n)(r)
      if ((changed & 16) != 0)
        lastIntensity(m) = icIntensity.code(c, lastIntensity(m), p.intensity, if (m < 3) m else 3)
      if ((changed & 8) != 0) lCls = c.symbol(ArithmeticModel.at(mClassification, lCls, 256), p.cls)
      if ((changed & 4) != 0) // angle difference folded mod 256
        lScanAngle = (lScanAngle + c.symbol(mScanAngleRank((lFlags >>> 6) & 1),
          (p.scanAngle - lScanAngle) & 0xFF)) & 0xFF
      if ((changed & 2) != 0) lUser = c.symbol(ArithmeticModel.at(mUserData, lUser, 256), p.user)
      if ((changed & 1) != 0) lPsid = icPointSource.code(c, lPsid, p.psid, 0)

      // x: median-of-5 predicted difference, context = single-return?
      val single = if (n == 1) 1 else 0
      val dx = icDx.code(c, lastXDiff(m).get, p.x - lx, single)
      lastXDiff(m).add(dx)
      lx += dx
      // y: context folds in the x corrector's bit width (low bit cleared)
      val kx = icDx.lastK
      val dy = icDy.code(c, lastYDiff(m).get, p.y - ly, single + (if (kx < 20) kx & 0xFE else 20))
      lastYDiff(m).add(dy)
      ly += dy
      // z: predicted by the last height at this return level
      val kz = (icDx.lastK + icDy.lastK) / 2
      lastHeight(l) = icZ.code(c, lastHeight(l), p.z, single + (if (kz < 18) kz & 0xFE else 18))
      if (c.encoding) p
      else Point10(lx, ly, lastHeight(l), lastIntensity(m), lFlags, lCls, lScanAngle, lUser, lPsid)
    }
  }

  /** The 29-byte LAS 1.3 wavepacket descriptor: which waveform record
    * this point references and where the pulse samples live. The three
    * parametric-line f32 fields and the return-point location ride as
    * RAW IEEE-754 bits (Int) so round-trips and oracles stay exact —
    * no float arithmetic ever touches them. */
  final case class Wavepacket(index: Int, offset: Long, size: Int,
      retPoint: Int, xt: Int, yt: Int, zt: Int)
  private[sources] val NoWave = Wavepacket(0, 0L, 0, 0, 0, 0, 0)

  /** A full LAS 1.2/1.3-family record: POINT10 core plus the optional
    * GPS time (raw IEEE-754 bits), RGB, wavepacket descriptor
    * (formats 4/5), and trailing extra-bytes items (`extra`/`wave`
    * are null when the record layout carries none). */
  final case class FullPoint(core: Point10, gps: Long = 0L, r: Int = 0, g: Int = 0, b: Int = 0,
      extra: Array[Byte] = null, wave: Wavepacket = null) {
    def waveOrZero: Wavepacket = if (wave == null) NoWave else wave
  }

  // GPSTIME11 v2 constants (LAZ spec): multiplier symbol space
  private val GpsMulti = 500
  private val GpsMultiMinus = -10
  private val GpsMultiUnchanged = GpsMulti - GpsMultiMinus + 1 // 511
  private val GpsMultiCodeFull = GpsMulti - GpsMultiMinus + 2 // 512
  private val GpsMultiTotal = GpsMulti - GpsMultiMinus + 6 // 516

  /** GPSTIME11 version-2 item codec: four rotating last-value slots,
    * an integer-multiplier model over the previous 32-bit delta, and a
    * high-bits-corrector + raw-low-32 escape for deltas past 32 bits.
    * One instance per chunk. */
  private[sources] final class GpsTime11Codec(firstBits: Long) extends GpsItem {
    private val mMulti = new ArithmeticModel(GpsMultiTotal).init()
    private val m0Diff = new ArithmeticModel(6).init()
    private val icGps = new IntegerCompressor(32, 9).initModels()
    private val lastGps = Array(firstBits, 0L, 0L, 0L)
    private val lastDiff = new Array[Int](4)
    private val extreme = new Array[Int](4)
    private var last = 0
    private var next = 0

    private def quantize(f: Float): Int =
      if (f >= 0) (f + 0.5f).toInt else (f - 0.5f).toInt

    /** Encoder side: the symbol for `bits` — `unchanged`, a 32-bit
      * delta (1 while no delta is established, else its multiplier of
      * the last delta), `full` + i to switch to the slot i ahead that
      * lies within 32 bits, or `full` for a whole 64-bit value. */
    private def symbolFor(bits: Long, unchanged: Int, full: Int): Int = {
      val diff64 = bits - lastGps(last)
      if (diff64 == 0) unchanged
      else if (diff64 == diff64.toInt.toLong) {
        if (lastDiff(last) == 0) 1
        else {
          val multi = quantize(diff64.toInt.toFloat / lastDiff(last).toFloat)
          if (multi >= 0) math.min(multi, GpsMulti)
          else if (multi > GpsMultiMinus) GpsMulti - multi // 501..509
          else GpsMulti - GpsMultiMinus // 510
        }
      } else {
        var i = 1
        while (i < 4 && { val od = bits - lastGps((last + i) & 3); od != od.toInt.toLong }) i += 1
        if (i < 4) full + i else full
      }
    }

    /** The fourth misfit since the last repeated interval re-anchors the delta. */
    private def misfit(d: Int): Int = {
      extreme(last) += 1
      if (extreme(last) > 3) { lastDiff(last) = d; extreme(last) = 0 }
      d
    }

    @annotation.tailrec
    def code(c: Coder, bits: Long): Long = {
      val fresh = lastDiff(last) == 0 // no 32-bit delta established yet
      val unchanged = if (fresh) 0 else GpsMultiUnchanged
      val full = if (fresh) 2 else GpsMultiCodeFull
      val sym = c.symbol(if (fresh) m0Diff else mMulti,
        if (c.encoding) symbolFor(bits, unchanged, full) else 0)
      if (sym == unchanged) lastGps(last)
      else if (sym > full) { // switch slot, then code against it
        last = (last + sym - full) & 3
        code(c, bits)
      } else if (sym == full) {
        val high = icGps.code(c, (lastGps(last) >>> 32).toInt, (bits >>> 32).toInt, 8)
        next = (next + 1) & 3
        last = next
        lastGps(last) = (high.toLong << 32) | c.bits(32, bits & 0xFFFFFFFFL)
        lastDiff(last) = 0
        extreme(last) = 0
        lastGps(last)
      } else {
        val diff = (bits - lastGps(last)).toInt
        val ld = lastDiff(last)
        val d =
          if (fresh) {
            lastDiff(last) = icGps.code(c, 0, diff, 0)
            extreme(last) = 0
            lastDiff(last)
          } else if (sym == 1) { // twice the same interval — the common case
            extreme(last) = 0
            icGps.code(c, ld, diff, 1)
          } else if (sym == 0) misfit(icGps.code(c, 0, diff, 7))
          else if (sym < GpsMulti) icGps.code(c, sym * ld, diff, if (sym < 10) 2 else 3)
          else if (sym == GpsMulti) misfit(icGps.code(c, GpsMulti * ld, diff, 4))
          else if (sym < GpsMulti - GpsMultiMinus) icGps.code(c, (GpsMulti - sym) * ld, diff, 5)
          else misfit(icGps.code(c, GpsMultiMinus * ld, diff, 6))
        lastGps(last) += d
        lastGps(last)
      }
    }
  }

  /** RGB12 version-2 item codec: a changed-bytes symbol plus folded
    * byte-difference models, green/blue predicted from the red delta
    * (clamped), with a gray shortcut when all channels move together. */
  private[sources] final class Rgb12Codec(firstR: Int, firstG: Int, firstB: Int) extends RgbItem {
    private val mByteUsed = new ArithmeticModel(128).init()
    private val mDiff = Array.fill(6)(new ArithmeticModel(256).init())
    private var lr = firstR
    private var lg = firstG
    private var lb = firstB
    def r: Int = lr
    def g: Int = lg
    def b: Int = lb

    private def clamp(x: Int): Int = if (x < 0) 0 else if (x > 255) 255 else x

    /** One byte of a channel: the difference to `pred`, folded mod 256. */
    private def byte(c: Coder, model: Int, pred: Int, cur: Int): Int =
      (c.symbol(mDiff(model), (cur - pred) & 0xFF) + pred) & 0xFF

    def code(c: Coder, r: Int, g: Int, b: Int): Unit = {
      var sym = 0
      if (c.encoding) {
        if ((lr & 0xFF) != (r & 0xFF)) sym |= 1
        if ((lr >>> 8) != (r >>> 8)) sym |= 2
        if ((lg & 0xFF) != (g & 0xFF)) sym |= 4
        if ((lg >>> 8) != (g >>> 8)) sym |= 8
        if ((lb & 0xFF) != (b & 0xFF)) sym |= 16
        if ((lb >>> 8) != (b >>> 8)) sym |= 32
        if (((r & 0xFF) != (g & 0xFF)) || ((r & 0xFF) != (b & 0xFF)) ||
          ((r >>> 8) != (g >>> 8)) || ((r >>> 8) != (b >>> 8))) sym |= 64 // colored
      }
      sym = c.symbol(mByteUsed, sym)
      // red deltas are true signed differences, for the G/B predictors
      val rL = if ((sym & 1) != 0) byte(c, 0, lr & 0xFF, r & 0xFF) else lr & 0xFF
      val rH = if ((sym & 2) != 0) byte(c, 1, lr >>> 8, r >>> 8) else lr >>> 8
      val diffL = rL - (lr & 0xFF)
      val diffH = rH - (lr >>> 8)
      lr = rL | (rH << 8)
      if ((sym & 64) == 0) { lg = lr; lb = lr }
      else {
        val gL = if ((sym & 4) != 0) byte(c, 2, clamp(diffL + (lg & 0xFF)), g & 0xFF) else lg & 0xFF
        val gH = if ((sym & 8) != 0) byte(c, 3, clamp(diffH + (lg >>> 8)), g >>> 8) else lg >>> 8
        val bL = if ((sym & 16) == 0) lb & 0xFF
          else byte(c, 4, clamp((diffL + (gL - (lg & 0xFF))) / 2 + (lb & 0xFF)), b & 0xFF)
        val bH = if ((sym & 32) == 0) lb >>> 8
          else byte(c, 5, clamp((diffH + (gH - (lg >>> 8))) / 2 + (lb >>> 8)), b >>> 8)
        lg = gL | (gH << 8)
        lb = bL | (bH << 8)
      }
    }
  }

  private[sources] def recordLen(format: Int): Int = FormatItems(format).map(_._2).sum

  /** The raw record's fields, read or written by one routine: each call
    * writes its argument and returns it, or ignores it and returns the
    * value read. Little-endian, as LAS is. */
  private[sources] final class RawFields(bb: ByteBuffer, write: Boolean) {
    def i32(v: Int): Int = if (write) { bb.putInt(v); v } else bb.getInt
    def i64(v: Long): Long = if (write) { bb.putLong(v); v } else bb.getLong
    def u16(v: Int): Int = if (write) { bb.putShort(v.toShort); v } else bb.getShort & 0xFFFF
    def u8(v: Int): Int = if (write) { bb.put(v.toByte); v } else bb.get & 0xFF
    def bytes(v: Array[Byte], n: Int): Array[Byte] =
      if (write) { bb.put(v); v } else { val a = new Array[Byte](n); bb.get(a); a }
  }

  private[sources] def rawWave(io: RawFields, w: Wavepacket): Wavepacket =
    Wavepacket(io.u8(w.index), io.i64(w.offset), io.i32(w.size), io.i32(w.retPoint),
      io.i32(w.xt), io.i32(w.yt), io.i32(w.zt))

  private val Blank = FullPoint(Point10(0, 0, 0, 0, 0, 0, 0, 0, 0))

  /** The uncompressed record of formats 0–5 plus `extraLen` extra bytes. */
  private def rawPoint(io: RawFields, format: Int, p: FullPoint, extraLen: Int): FullPoint = {
    val q = p.core
    val core = Point10(io.i32(q.x), io.i32(q.y), io.i32(q.z), io.u16(q.intensity),
      io.u8(q.flags), io.u8(q.cls), io.u8(q.scanAngle), io.u8(q.user), io.u16(q.psid))
    val gps = if (hasGps(format)) io.i64(p.gps) else 0L
    val r = if (hasRgb(format)) io.u16(p.r) else 0
    val g = if (hasRgb(format)) io.u16(p.g) else 0
    val b = if (hasRgb(format)) io.u16(p.b) else 0
    val wave = if (hasWave(format)) rawWave(io, p.waveOrZero) else null
    FullPoint(core, gps, r, g, b, if (extraLen == 0) null else io.bytes(p.extra, extraLen), wave)
  }

  /** BYTE version-2 item codec (the LAZ "extra bytes" payload): one
    * 256-ary folded-difference model per byte index — symbol =
    * (cur - last) mod 256, exactly the Rgb12 byte-delta scheme without
    * the inter-channel prediction, per the public LASzip BYTE v2
    * layout. */
  private[sources] final class ByteV2Codec(first: Array[Byte]) extends BytesItem {
    private val n = first.length
    private val models = Array.fill(n)(new ArithmeticModel(256).init())
    private val last = first.clone()

    def code(c: Coder, cur: Array[Byte]): Array[Byte] = {
      var i = 0
      while (i < n) {
        last(i) = ((last(i) + c.symbol(models(i), (cur(i) - last(i)) & 0xFF)) & 0xFF).toByte
        i += 1
      }
      last.clone()
    }
  }

  /** WAVEPACKET13 version-1 item codec (the wavepacket codec never
    * moved past v1, even inside compressor-2 chunks): descriptor index
    * through a byte model; the 64-bit waveform offset classified per
    * point as {same, adjacent (last offset + last size — the dominant
    * sequential-pulse case), 32-bit-corrected diff, raw 64} with the
    * classifier symbol CONTEXT-CHAINED on the previous point's class;
    * packet size and the four f32 fields (carried as raw IEEE bits)
    * through 32-bit correctors against their previous values. */
  private[sources] final class Wavepacket13Codec(first: Wavepacket) {
    private val mIndex = new ArithmeticModel(256).init()
    private val mOffsetClass = Array.fill(4)(new ArithmeticModel(4).init())
    private val icOffsetDiff = new IntegerCompressor(32, 1).initModels()
    private val icSize = new IntegerCompressor(32, 1).initModels()
    private val icRetPoint = new IntegerCompressor(32, 1).initModels()
    private val icXyz = new IntegerCompressor(32, 3).initModels()
    private var last = first
    private var lastDiff32 = 0
    private var lastClass = 0

    def code(c: Coder, w: Wavepacket): Wavepacket = {
      val index = c.symbol(mIndex, w.index & 0xFF)
      val diff = w.offset - last.offset
      lastClass = c.symbol(mOffsetClass(lastClass),
        if (diff == 0L) 0
        else if (diff == (last.size & 0xFFFFFFFFL)) 1 // size is u32
        else if (diff == diff.toInt.toLong) 2
        else 3)
      val offset = lastClass match {
        case 0 => last.offset
        case 1 => last.offset + (last.size & 0xFFFFFFFFL)
        case 2 =>
          lastDiff32 = icOffsetDiff.code(c, lastDiff32, diff.toInt, 0)
          last.offset + lastDiff32
        case _ => (c.bits(32, w.offset >>> 32) << 32) | c.bits(32, w.offset & 0xFFFFFFFFL)
      }
      last = Wavepacket(index, offset, icSize.code(c, last.size, w.size, 0),
        icRetPoint.code(c, last.retPoint, w.retPoint, 0), icXyz.code(c, last.xt, w.xt, 0),
        icXyz.code(c, last.yt, w.yt, 1), icXyz.code(c, last.zt, w.zt, 2))
      last
    }
  }

  /** The item codecs of one pointwise stream in VLR order — POINT10,
    * then GPSTIME11, RGB12, WAVEPACKET13 and BYTE where the record has
    * them — seeded from the raw first record; `v1` picks the
    * compressor-1 versions ([[LazV1]]). */
  private final class PointCodec(format: Int, extraLen: Int, v1: Boolean, first: FullPoint) {
    private val core: Point10Item =
      if (v1) new LazV1.Point10V1Codec(first.core) else new Point10Codec(first.core)
    private val gps: GpsItem =
      if (!hasGps(format)) null
      else if (v1) new LazV1.GpsTime11V1Codec(first.gps) else new GpsTime11Codec(first.gps)
    private val rgb: RgbItem =
      if (!hasRgb(format)) null
      else if (v1) new LazV1.Rgb12V1Codec(first.r, first.g, first.b)
      else new Rgb12Codec(first.r, first.g, first.b)
    private val wave = if (hasWave(format)) new Wavepacket13Codec(first.waveOrZero) else null
    private val extra: BytesItem =
      if (extraLen == 0) null
      else if (v1) new LazV1.ByteV1Codec(first.extra) else new ByteV2Codec(first.extra)

    def code(c: Coder, p: FullPoint): FullPoint = {
      val core = this.core.code(c, p.core)
      val gps = if (this.gps == null) 0L else this.gps.code(c, p.gps)
      if (rgb != null) rgb.code(c, p.r, p.g, p.b)
      val wave = if (this.wave == null) null else this.wave.code(c, p.waveOrZero)
      val extra = if (this.extra == null) null else this.extra.code(c, p.extra)
      if (c.encoding) p
      else if (rgb == null) FullPoint(core, gps, extra = extra, wave = wave)
      else FullPoint(core, gps, rgb.r, rgb.g, rgb.b, extra, wave)
    }
  }

  /** Encode one compressor-2 chunk, or with `v1` a whole compressor-1
    * stream: the raw first record, then one arithmetic stream coding
    * each later point's items in VLR order. A single point carries no
    * stream (the decoder never initializes for it). */
  private[sources] def encodeChunk(format: Int, points: Array[FullPoint],
      extraLen: Int = 0, v1: Boolean = false): Array[Byte] = {
    require(points.nonEmpty, "empty LAZ chunk")
    val bad = if (extraLen == 0) -1
      else points.indexWhere(p => p.extra == null || p.extra.length != extraLen)
    require(bad < 0, s"extra-bytes length mismatch at point $bad: declared $extraLen")
    val raw = ByteBuffer.allocate(recordLen(format) + extraLen).order(ByteOrder.LITTLE_ENDIAN)
    rawPoint(new RawFields(raw, write = true), format, points(0), extraLen)
    if (points.length == 1) raw.array()
    else {
      val enc = new ArithmeticEncoder
      val c = Coder(enc)
      val codec = new PointCodec(format, extraLen, v1, points(0))
      var i = 1
      while (i < points.length) { codec.code(c, points(i)); i += 1 }
      enc.done()
      raw.array() ++ enc.result()
    }
  }

  /** Decode what [[encodeChunk]] wrote: the same item codecs, run on a
    * decoding [[Coder]] with the first record as placeholder input. */
  private[sources] def decodeChunk(format: Int, bytes: Array[Byte], offset: Int,
      count: Int, extraLen: Int = 0, v1: Boolean = false): Array[FullPoint] = {
    val len = recordLen(format) + extraLen
    val out = new Array[FullPoint](count)
    out(0) = rawPoint(new RawFields(ByteBuffer.wrap(bytes, offset, len)
      .order(ByteOrder.LITTLE_ENDIAN), write = false), format, Blank, extraLen)
    if (count > 1) {
      val c = Coder(new ArithmeticDecoder(bytes, offset + len, bytes.length).init())
      val codec = new PointCodec(format, extraLen, v1, out(0))
      var i = 1
      while (i < count) { out(i) = codec.code(c, out(0)); i += 1 }
    }
    out
  }

  // ------------------------------------------------------------ entry points
  // The container (header, laszip VLR, chunk table, sink, scan) is
  // Las's; these pick the pointwise codecs for it.

  final case class LazInfo(
      header: Las.LasHeader,
      compressor: Int,
      chunkSize: Long, // 0xFFFFFFFF for per-chunk counts in the table
      pointDataStart: Long, // after the 8-byte chunk-table-offset field
      chunkTableOffset: Long,
      items: Seq[(Int, Int, Int)]) // (type, size, version)

  /** Distributed full scan: DataFrame[x, y, z] in world coordinates,
    * plus an `extra_bytes` binary column when the file carries a BYTE
    * item. Chunks are the parallelism unit — each task seeks to its
    * chunk run and decodes independently (models reset per chunk), the
    * exact shape a 1000-executor scan over object storage needs.
    * Compressor-1 (pre-2013 pointwise) files are one arithmetic
    * stream by format, so they decode as a single task — parallelism
    * over legacy archives comes from the FILE count, not intra-file
    * splits. */
  def readPoints(spark: SparkSession, path: String, chunksPerTask: Int = 8): DataFrame = {
    val info = Las.lazInfo(path)
    if (info.compressor == 3) // layered LAS 1.4 file — same x/y/z contract
      return Laz14.readPoints14(spark, path, columns = Seq("x", "y", "z"),
        chunksPerTask = chunksPerTask)
    val chunks = Las.lazChunks(path, info)
    val h = info.header
    val (fmtItems, extraItems) = info.items.span(_._1 != ItemByte)
    val fmtPairs = fmtItems.map(i => (i._1, i._2))
    val format = FormatItems.collectFirst {
      case (f, is) if is.map(x => (x._1, x._2)) == fmtPairs => f
    }.get
    val v1 = info.compressor == 1
    val extraLen = extraItems.headOption.map(_._2).getOrElse(0)
    val wave = hasWave(format)
    // wavepacket fields surface as exact integers (f32 values as raw
    // IEEE bits) so downstream checks and oracles never touch floats
    val waveFields =
      if (!wave) Array.empty[StructField]
      else WaveColumns.toArray.map(StructField(_, LongType))
    val schema = StructType(Las.pointSchema.fields ++ waveFields ++
      (if (extraLen == 0) Array.empty[StructField]
       else Array(StructField("extra_bytes", BinaryType))))
    Las.scan(spark, path, schema, chunks.toSeq, chunksPerTask) { (bytes, count) =>
      decodeChunk(format, bytes, 0, count, extraLen, v1).iterator.map { fp =>
        val p = fp.core
        val x = p.x * h.scaleX + h.offX
        val y = p.y * h.scaleY + h.offY
        val z = p.z * h.scaleZ + h.offZ
        val base: Seq[Any] = Seq(x, y, z)
        val wv: Seq[Any] = if (!wave) Nil else {
          val w = fp.waveOrZero
          Seq(w.index.toLong, w.offset, w.size & 0xFFFFFFFFL,
            w.retPoint & 0xFFFFFFFFL, w.xt & 0xFFFFFFFFL,
            w.yt & 0xFFFFFFFFL, w.zt & 0xFFFFFFFFL)
        }
        val xb: Seq[Any] = if (extraLen == 0) Nil else Seq(fp.extra)
        Row.fromSeq(base ++ wv ++ xb)
      }
    }
  }

  private val WaveColumns =
    Seq("wp_index", "wp_offset", "wp_size", "wp_ret", "wp_xt", "wp_yt", "wp_zt")

  /** Points of formats 0–5 for the sink: POINT10 carries the grid x, y,
    * z (its attributes stay zero), then the wavepacket descriptor and
    * the fixed-width extra bytes come from the sink's row, in that
    * order after x, y, z. `v1` encodes one compressor-1 stream instead
    * of compressor-2 chunks. */
  private final class PointEncoder(format: Int, extraBytes: Int, chunkPoints: Int, v1: Boolean)
      extends Las.ChunkEncoder[FullPoint](chunkPoints) {
    private val extraAt = 3 + (if (hasWave(format)) WaveColumns.length else 0)
    def point(x: Int, y: Int, z: Int, r: InternalRow): FullPoint = {
      val wave = if (!hasWave(format)) null else Wavepacket(
        (r.getLong(3) & 0xFF).toInt, r.getLong(4), r.getLong(5).toInt,
        r.getLong(6).toInt, r.getLong(7).toInt, r.getLong(8).toInt,
        r.getLong(9).toInt)
      val extra = if (extraBytes == 0) null else {
        val a = r.getBinary(extraAt)
        require(a.length == extraBytes,
          s"extra_bytes row length ${a.length} != declared $extraBytes")
        a
      }
      FullPoint(Point10(x, y, z, 0, 0, 0, 0, 0, 0), extra = extra, wave = wave)
    }
    def encode(points: Array[FullPoint]): Array[Byte] =
      encodeChunk(format, points, extraBytes, v1)
  }

  /** The sink's extra columns for `format` and `extraBytes`, checked
    * against the frame: the header's point-record-length field (offset
    * 105) is a u16 holding recordLen(format) + extraBytes, so a width
    * that pushes the SUM past 0xFFFF is rejected up front. */
  private def sinkColumns(df: DataFrame, format: Int, extraBytes: Int): Seq[Column] = {
    require(extraBytes >= 0 && extraBytes <= 0xFFFF - recordLen(format),
      s"bad extra-bytes width $extraBytes: format $format records are " +
        s"${recordLen(format)} bytes and the header length field is u16 " +
        s"(max extra ${0xFFFF - recordLen(format)})")
    require(extraBytes == 0 || df.columns.contains("extra_bytes"),
      s"extraBytes=$extraBytes declared but no `extra_bytes` binary column present")
    val waveCols = if (hasWave(format)) WaveColumns else Nil
    require(waveCols.forall(df.columns.contains),
      s"point format $format needs wavepacket columns ${waveCols.mkString(", ")}")
    waveCols.map(c => col(c).cast(LongType)) ++
      (if (extraBytes == 0) Nil else Seq(col("extra_bytes")))
  }

  /** LAZ export sink: point format 0 by default (POINT10 only — the
    * x/y/z payload this engine round-trips; formats 4/5 take the wp_*
    * columns and get a LAS 1.3 header), optionally followed by a BYTE
    * v2 item when `extraBytes > 0` (the fixed-width `extra_bytes`
    * binary column, carried opaquely). Chunks are variable-size, so
    * partition tails stay legal; scale/offset like the reference
    * exporter (exporter.py:78-80). */
  def writePoints(df: DataFrame, path: String, scale: Double = 0.1,
      chunkPoints: Int = 50000, pointFormat: Int = 0, extraBytes: Int = 0): Unit = {
    require(FormatItems.contains(pointFormat), s"unsupported point format $pointFormat")
    val columns = sinkColumns(df, pointFormat, extraBytes)
    val items = FormatItems(pointFormat) ++
      (if (extraBytes > 0) Seq((ItemByte, extraBytes, 2)) else Nil)
    // waveform formats require a LAS 1.3 header (the u64 waveform-EVLR
    // start stays 0: this sink writes wavepacket DESCRIPTORS; waveform
    // payload storage is the caller's concern)
    val layout = Las.Layout(if (hasWave(pointFormat)) 3 else 2, pointFormat,
      recordLen(pointFormat) + extraBytes,
      Las.laszipVlr(2, (2, 2), Las.VariableChunkSize, items), chunkTable = true)
    Las.sink(df, path, scale, layout, columns,
      new PointEncoder(pointFormat, extraBytes, chunkPoints, v1 = false))
  }

  /** Legacy compressor-1 (pointwise, pre-2013) export sink: ONE
    * arithmetic stream over the whole point set, first record raw,
    * item codecs version 1, no chunk table. Exists for compatibility
    * round-trips with old-archive tooling and as the read path's
    * in-sandbox validator — the SCALABLE sink is [[writePoints]]
    * (chunked v2); this one necessarily encodes on a single task and
    * buffers the stream, exactly as the format demands. */
  def writePointsV1(df: DataFrame, path: String, scale: Double = 0.1,
      pointFormat: Int = 0, extraBytes: Int = 0): Unit = {
    require(FormatItemsV1.contains(pointFormat), s"unsupported point format $pointFormat")
    val columns = sinkColumns(df, pointFormat, extraBytes)
    val items = FormatItemsV1(pointFormat) ++
      (if (extraBytes > 0) Seq((ItemByte, extraBytes, 1)) else Nil)
    // chunk size 0: meaningless for pointwise
    val layout = Las.Layout(2, pointFormat, recordLen(pointFormat) + extraBytes,
      Las.laszipVlr(1, (1, 0), 0L, items))
    Las.sink(df.coalesce(1), path, scale, layout, columns,
      new PointEncoder(pointFormat, extraBytes, Int.MaxValue, v1 = true))
  }
}

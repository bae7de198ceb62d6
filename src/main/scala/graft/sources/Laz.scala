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
  * Supported: point formats 0–3 (POINT10/GPSTIME11/RGB12, all v2),
  * optionally with one trailing BYTE v2 item ("extra bytes" — read
  * and written as an opaque `extra_bytes` binary column; the LAS
  * extra-bytes descriptor VLR that names the attributes is not
  * interpreted); compressor 2 (pointwise chunked), fixed or variable
  * chunk size.
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

  /** POINT10 version-2 item codec. One instance per chunk (every
    * model resets at chunk boundaries — that independence is what the
    * distributed reader exploits). Symmetric compress/decompress so a
    * roundtrip exercises every model the spec defines. */
  private final class Point10Codec(first: Point10) {
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
    private var lz = first.z
    private var lFlags = first.flags
    private var lCls = first.cls
    private var lScanAngle = first.scanAngle
    private var lUser = first.user
    private var lPsid = first.psid
    // the spec inits the carried intensity to 0 (prediction goes via
    // lastIntensity[context], not the previous record)

    private def byteModel(arr: Array[ArithmeticModel], idx: Int): ArithmeticModel = {
      if (arr(idx) == null) arr(idx) = new ArithmeticModel(256).init()
      arr(idx)
    }

    def compress(enc: ArithmeticEncoder, p: Point10): Unit = {
      val r = p.flags & 7
      val n = (p.flags >>> 3) & 7
      val m = NumberReturnMap(n)(r)
      val l = NumberReturnLevel(n)(r)

      var changed = 0
      if (lFlags != p.flags) changed |= 32
      if (lastIntensity(m) != p.intensity) changed |= 16
      if (lCls != p.cls) changed |= 8
      if (lScanAngle != p.scanAngle) changed |= 4
      if (lUser != p.user) changed |= 2
      if (lPsid != p.psid) changed |= 1
      enc.encodeSymbol(mChanged, changed)

      if ((changed & 32) != 0) enc.encodeSymbol(byteModel(mBitByte, lFlags), p.flags)
      if ((changed & 16) != 0) {
        icIntensity.compress(enc, lastIntensity(m), p.intensity, if (m < 3) m else 3)
        lastIntensity(m) = p.intensity
      }
      if ((changed & 8) != 0) enc.encodeSymbol(byteModel(mClassification, lCls), p.cls)
      if ((changed & 4) != 0) {
        val f = (p.flags >>> 6) & 1
        enc.encodeSymbol(mScanAngleRank(f), (p.scanAngle - lScanAngle) & 0xFF)
      }
      if ((changed & 2) != 0) enc.encodeSymbol(byteModel(mUserData, lUser), p.user)
      if ((changed & 1) != 0) icPointSource.compress(enc, lPsid, p.psid, 0)

      // x: median-of-5 predicted difference, context = single-return?
      val dx = p.x - lx
      icDx.compress(enc, lastXDiff(m).get, dx, if (n == 1) 1 else 0)
      lastXDiff(m).add(dx)
      // y: context folds in the x corrector's bit width (low bit cleared)
      val kx = icDx.lastK
      val dy = p.y - ly
      icDy.compress(enc, lastYDiff(m).get, dy,
        (if (n == 1) 1 else 0) + (if (kx < 20) kx & 0xFE else 20))
      lastYDiff(m).add(dy)
      // z: predicted by the last height at this return level
      val kz = (icDx.lastK + icDy.lastK) / 2
      icZ.compress(enc, lastHeight(l), p.z,
        (if (n == 1) 1 else 0) + (if (kz < 18) kz & 0xFE else 18))
      lastHeight(l) = p.z

      lx = p.x; ly = p.y; lz = p.z
      lFlags = p.flags; lCls = p.cls; lScanAngle = p.scanAngle
      lUser = p.user; lPsid = p.psid
    }

    def decompress(dec: ArithmeticDecoder): Point10 = {
      val changed = dec.decodeSymbol(mChanged)

      val flags =
        if ((changed & 32) != 0) dec.decodeSymbol(byteModel(mBitByte, lFlags)) else lFlags
      val r = flags & 7
      val n = (flags >>> 3) & 7
      val m = NumberReturnMap(n)(r)
      val l = NumberReturnLevel(n)(r)

      if ((changed & 16) != 0)
        lastIntensity(m) = icIntensity.decompress(dec, lastIntensity(m), if (m < 3) m else 3)
      val intensity = lastIntensity(m)
      val cls =
        if ((changed & 8) != 0) dec.decodeSymbol(byteModel(mClassification, lCls)) else lCls
      val scanAngle =
        if ((changed & 4) != 0) {
          val f = (flags >>> 6) & 1
          (lScanAngle + dec.decodeSymbol(mScanAngleRank(f))) & 0xFF
        } else lScanAngle
      val user =
        if ((changed & 2) != 0) dec.decodeSymbol(byteModel(mUserData, lUser)) else lUser
      val psid =
        if ((changed & 1) != 0) icPointSource.decompress(dec, lPsid, 0) else lPsid

      val dx = icDx.decompress(dec, lastXDiff(m).get, if (n == 1) 1 else 0)
      val x = lx + dx
      lastXDiff(m).add(dx)
      val kx = icDx.lastK
      val dy = icDy.decompress(dec, lastYDiff(m).get,
        (if (n == 1) 1 else 0) + (if (kx < 20) kx & 0xFE else 20))
      val y = ly + dy
      lastYDiff(m).add(dy)
      val kz = (icDx.lastK + icDy.lastK) / 2
      val z = icZ.decompress(dec, lastHeight(l),
        (if (n == 1) 1 else 0) + (if (kz < 18) kz & 0xFE else 18))
      lastHeight(l) = z

      lx = x; ly = y; lz = z
      lFlags = flags; lCls = cls; lScanAngle = scanAngle
      lUser = user; lPsid = psid
      Point10(x, y, z, intensity, flags, cls, scanAngle, user, psid)
    }
  }

  /** The 29-byte LAS 1.3 wavepacket descriptor: which waveform record
    * this point references and where the pulse samples live. The three
    * parametric-line f32 fields and the return-point location ride as
    * RAW IEEE-754 bits (Int) so round-trips and oracles stay exact —
    * no float arithmetic ever touches them. */
  final case class Wavepacket(index: Int, offset: Long, size: Int,
      retPoint: Int, xt: Int, yt: Int, zt: Int)

  /** A full LAS 1.2/1.3-family record: POINT10 core plus the optional
    * GPS time (raw IEEE-754 bits), RGB, wavepacket descriptor
    * (formats 4/5), and trailing extra-bytes items (`extra`/`wave`
    * are null when the record layout carries none). */
  final case class FullPoint(core: Point10, gps: Long = 0L, r: Int = 0, g: Int = 0, b: Int = 0,
      extra: Array[Byte] = null, wave: Wavepacket = null)

  // GPSTIME11 v2 constants (LAZ spec): multiplier symbol space
  private val GpsMulti = 500
  private val GpsMultiMinus = -10
  private val GpsMultiUnchanged = GpsMulti - GpsMultiMinus + 1 // 511
  private val GpsMultiCodeFull = GpsMulti - GpsMultiMinus + 2 // 512
  private val GpsMultiTotal = GpsMulti - GpsMultiMinus + 6 // 516

  /** GPSTIME11 version-2 item codec: four rotating last-value slots,
    * an integer-multiplier model over the previous 32-bit delta, and a
    * high-bits-corrector + raw-low-32 escape for deltas past 32 bits.
    * Symmetric compress/decompress; one instance per chunk. */
  private[sources] final class GpsTime11Codec(firstBits: Long) {
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

    @annotation.tailrec
    def compress(enc: ArithmeticEncoder, bits: Long): Unit = {
      if (lastDiff(last) == 0) { // no 32-bit delta established yet
        if (bits == lastGps(last)) { enc.encodeSymbol(m0Diff, 0); return }
        val diff64 = bits - lastGps(last)
        val diff = diff64.toInt
        if (diff64 == diff.toLong) {
          enc.encodeSymbol(m0Diff, 1)
          icGps.compress(enc, 0, diff, 0)
          lastDiff(last) = diff
          extreme(last) = 0
          lastGps(last) = bits
        } else {
          var i = 1
          var switched = 0
          while (i < 4 && switched == 0) {
            val od = bits - lastGps((last + i) & 3)
            if (od == od.toInt.toLong) switched = i
            i += 1
          }
          if (switched != 0) {
            enc.encodeSymbol(m0Diff, switched + 2) // symbols 3..5: switch slot
            last = (last + switched) & 3
            compress(enc, bits)
          } else {
            enc.encodeSymbol(m0Diff, 2) // full 64-bit value
            icGps.compress(enc, (lastGps(last) >>> 32).toInt, (bits >>> 32).toInt, 8)
            enc.writeBits(32, bits & 0xFFFFFFFFL)
            next = (next + 1) & 3
            last = next
            lastGps(last) = bits
            lastDiff(last) = 0
            extreme(last) = 0
          }
        }
      } else {
        if (bits == lastGps(last)) { enc.encodeSymbol(mMulti, GpsMultiUnchanged); return }
        val diff64 = bits - lastGps(last)
        val diff = diff64.toInt
        if (diff64 == diff.toLong) {
          val multi = quantize(diff.toFloat / lastDiff(last).toFloat)
          if (multi == 1) { // twice the same interval — the common case
            enc.encodeSymbol(mMulti, 1)
            icGps.compress(enc, lastDiff(last), diff, 1)
            extreme(last) = 0
          } else if (multi > 0) {
            if (multi < GpsMulti) {
              enc.encodeSymbol(mMulti, multi)
              icGps.compress(enc, multi * lastDiff(last), diff, if (multi < 10) 2 else 3)
            } else {
              enc.encodeSymbol(mMulti, GpsMulti)
              icGps.compress(enc, GpsMulti * lastDiff(last), diff, 4)
              extreme(last) += 1
              if (extreme(last) > 3) { lastDiff(last) = diff; extreme(last) = 0 }
            }
          } else if (multi < 0) {
            if (multi > GpsMultiMinus) {
              enc.encodeSymbol(mMulti, GpsMulti - multi) // 501..509
              icGps.compress(enc, multi * lastDiff(last), diff, 5)
            } else {
              enc.encodeSymbol(mMulti, GpsMulti - GpsMultiMinus) // 510
              icGps.compress(enc, GpsMultiMinus * lastDiff(last), diff, 6)
              extreme(last) += 1
              if (extreme(last) > 3) { lastDiff(last) = diff; extreme(last) = 0 }
            }
          } else { // multi == 0
            enc.encodeSymbol(mMulti, 0)
            icGps.compress(enc, 0, diff, 7)
            extreme(last) += 1
            if (extreme(last) > 3) { lastDiff(last) = diff; extreme(last) = 0 }
          }
          lastGps(last) = bits
        } else {
          var i = 1
          var switched = 0
          while (i < 4 && switched == 0) {
            val od = bits - lastGps((last + i) & 3)
            if (od == od.toInt.toLong) switched = i
            i += 1
          }
          if (switched != 0) {
            enc.encodeSymbol(mMulti, GpsMultiCodeFull + switched) // 513..515
            last = (last + switched) & 3
            compress(enc, bits)
          } else {
            enc.encodeSymbol(mMulti, GpsMultiCodeFull) // 512
            icGps.compress(enc, (lastGps(last) >>> 32).toInt, (bits >>> 32).toInt, 8)
            enc.writeBits(32, bits & 0xFFFFFFFFL)
            next = (next + 1) & 3
            last = next
            lastGps(last) = bits
            lastDiff(last) = 0
            extreme(last) = 0
          }
        }
      }
    }

    @annotation.tailrec
    def decompress(dec: ArithmeticDecoder): Long = {
      if (lastDiff(last) == 0) {
        val sym = dec.decodeSymbol(m0Diff)
        if (sym == 0) lastGps(last)
        else if (sym == 1) {
          val diff = icGps.decompress(dec, 0, 0)
          lastDiff(last) = diff
          extreme(last) = 0
          lastGps(last) += diff
          lastGps(last)
        } else if (sym == 2) {
          val high = icGps.decompress(dec, (lastGps(last) >>> 32).toInt, 8)
          val bits = (high.toLong << 32) | dec.readBits(32)
          next = (next + 1) & 3
          last = next
          lastGps(last) = bits
          lastDiff(last) = 0
          extreme(last) = 0
          bits
        } else {
          last = (last + sym - 2) & 3
          decompress(dec)
        }
      } else {
        val sym = dec.decodeSymbol(mMulti)
        if (sym == GpsMultiUnchanged) lastGps(last)
        else if (sym == GpsMultiCodeFull) {
          val high = icGps.decompress(dec, (lastGps(last) >>> 32).toInt, 8)
          val bits = (high.toLong << 32) | dec.readBits(32)
          next = (next + 1) & 3
          last = next
          lastGps(last) = bits
          lastDiff(last) = 0
          extreme(last) = 0
          bits
        } else if (sym > GpsMultiCodeFull) {
          last = (last + sym - GpsMultiCodeFull) & 3
          decompress(dec)
        } else {
          val diff =
            if (sym == 1) {
              val d = icGps.decompress(dec, lastDiff(last), 1)
              extreme(last) = 0
              d
            } else if (sym == 0) {
              val d = icGps.decompress(dec, 0, 7)
              extreme(last) += 1
              if (extreme(last) > 3) { lastDiff(last) = d; extreme(last) = 0 }
              d
            } else if (sym < GpsMulti) {
              icGps.decompress(dec, sym * lastDiff(last), if (sym < 10) 2 else 3)
            } else if (sym == GpsMulti) {
              val d = icGps.decompress(dec, GpsMulti * lastDiff(last), 4)
              extreme(last) += 1
              if (extreme(last) > 3) { lastDiff(last) = d; extreme(last) = 0 }
              d
            } else if (sym < GpsMulti - GpsMultiMinus) {
              icGps.decompress(dec, (GpsMulti - sym) * lastDiff(last), 5)
            } else { // 510
              val d = icGps.decompress(dec, GpsMultiMinus * lastDiff(last), 6)
              extreme(last) += 1
              if (extreme(last) > 3) { lastDiff(last) = d; extreme(last) = 0 }
              d
            }
          lastGps(last) += diff
          lastGps(last)
        }
      }
    }
  }

  /** RGB12 version-2 item codec: a changed-bytes symbol plus folded
    * byte-difference models, green/blue predicted from the red delta
    * (clamped), with a gray shortcut when all channels move together. */
  private[sources] final class Rgb12Codec(firstR: Int, firstG: Int, firstB: Int) {
    private val mByteUsed = new ArithmeticModel(128).init()
    private val mDiff = Array.fill(6)(new ArithmeticModel(256).init())
    private var lr = firstR
    private var lg = firstG
    private var lb = firstB

    private def clamp(x: Int): Int = if (x < 0) 0 else if (x > 255) 255 else x

    def compress(enc: ArithmeticEncoder, r: Int, g: Int, b: Int): Unit = {
      var sym = 0
      if ((lr & 0xFF) != (r & 0xFF)) sym |= 1
      if ((lr >>> 8) != (r >>> 8)) sym |= 2
      if ((lg & 0xFF) != (g & 0xFF)) sym |= 4
      if ((lg >>> 8) != (g >>> 8)) sym |= 8
      if ((lb & 0xFF) != (b & 0xFF)) sym |= 16
      if ((lb >>> 8) != (b >>> 8)) sym |= 32
      val colored = ((r & 0xFF) != (g & 0xFF)) || ((r & 0xFF) != (b & 0xFF)) ||
        ((r >>> 8) != (g >>> 8)) || ((r >>> 8) != (b >>> 8))
      if (colored) sym |= 64
      enc.encodeSymbol(mByteUsed, sym)
      var diffL = 0
      var diffH = 0
      if ((sym & 1) != 0) {
        diffL = (r & 0xFF) - (lr & 0xFF)
        enc.encodeSymbol(mDiff(0), diffL & 0xFF)
      }
      if ((sym & 2) != 0) {
        diffH = (r >>> 8) - (lr >>> 8)
        enc.encodeSymbol(mDiff(1), diffH & 0xFF)
      }
      if ((sym & 64) != 0) {
        if ((sym & 4) != 0) {
          val corr = (g & 0xFF) - clamp(diffL + (lg & 0xFF))
          enc.encodeSymbol(mDiff(2), corr & 0xFF)
        }
        if ((sym & 8) != 0) {
          val corr = (g >>> 8) - clamp(diffH + (lg >>> 8))
          enc.encodeSymbol(mDiff(3), corr & 0xFF)
        }
        if ((sym & 16) != 0) {
          val dL = (diffL + ((g & 0xFF) - (lg & 0xFF))) / 2
          val corr = (b & 0xFF) - clamp(dL + (lb & 0xFF))
          enc.encodeSymbol(mDiff(4), corr & 0xFF)
        }
        if ((sym & 32) != 0) {
          val dH = (diffH + ((g >>> 8) - (lg >>> 8))) / 2
          val corr = (b >>> 8) - clamp(dH + (lb >>> 8))
          enc.encodeSymbol(mDiff(5), corr & 0xFF)
        }
      }
      lr = r; lg = g; lb = b
    }

    def decompress(dec: ArithmeticDecoder): (Int, Int, Int) = {
      val sym = dec.decodeSymbol(mByteUsed)
      var diffL = 0
      var diffH = 0
      var rL = lr & 0xFF
      var rH = lr >>> 8
      if ((sym & 1) != 0) {
        rL = (rL + dec.decodeSymbol(mDiff(0))) & 0xFF
        diffL = rL - (lr & 0xFF) // true signed delta, for the G/B predictors
      }
      if ((sym & 2) != 0) {
        rH = (rH + dec.decodeSymbol(mDiff(1))) & 0xFF
        diffH = rH - (lr >>> 8)
      }
      val r = rL | (rH << 8)
      var g = 0
      var b = 0
      if ((sym & 64) != 0) {
        var gL = lg & 0xFF
        var gH = lg >>> 8
        var bL = lb & 0xFF
        var bH = lb >>> 8
        if ((sym & 4) != 0) gL = (dec.decodeSymbol(mDiff(2)) + clamp(diffL + (lg & 0xFF))) & 0xFF
        if ((sym & 8) != 0) gH = (dec.decodeSymbol(mDiff(3)) + clamp(diffH + (lg >>> 8))) & 0xFF
        if ((sym & 16) != 0) {
          val dL = (diffL + (gL - (lg & 0xFF))) / 2
          bL = (dec.decodeSymbol(mDiff(4)) + clamp(dL + (lb & 0xFF))) & 0xFF
        }
        if ((sym & 32) != 0) {
          val dH = (diffH + (gH - (lg >>> 8))) / 2
          bH = (dec.decodeSymbol(mDiff(5)) + clamp(dH + (lb >>> 8))) & 0xFF
        }
        g = gL | (gH << 8)
        b = bL | (bH << 8)
      } else {
        g = r
        b = r
      }
      lr = r; lg = g; lb = b
      (r, g, b)
    }
  }

  private[sources] def putPoint10(bb: ByteBuffer, p: Point10): Unit = {
    bb.putInt(p.x).putInt(p.y).putInt(p.z)
    bb.putShort(p.intensity.toShort)
    bb.put(p.flags.toByte).put(p.cls.toByte).put(p.scanAngle.toByte).put(p.user.toByte)
    bb.putShort(p.psid.toShort)
  }

  private[sources] def getPoint10(bb: ByteBuffer): Point10 =
    Point10(bb.getInt, bb.getInt, bb.getInt, bb.getShort & 0xFFFF,
      bb.get & 0xFF, bb.get & 0xFF, bb.get & 0xFF, bb.get & 0xFF, bb.getShort & 0xFFFF)

  private[sources] def recordLen(format: Int): Int = FormatItems(format).map(_._2).sum

  /** BYTE version-2 item codec (the LAZ "extra bytes" payload): one
    * 256-ary folded-difference model per byte index — symbol =
    * (cur - last) mod 256, exactly the Rgb12 byte-delta scheme without
    * the inter-channel prediction, per the public LASzip BYTE v2
    * layout. */
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

    def compress(enc: ArithmeticEncoder, w: Wavepacket): Unit = {
      enc.encodeSymbol(mIndex, w.index & 0xFF)
      val diff = w.offset - last.offset
      val cls =
        if (diff == 0L) 0
        else if (diff == (last.size & 0xFFFFFFFFL)) 1 // size is u32
        else if (diff == diff.toInt.toLong) 2
        else 3
      enc.encodeSymbol(mOffsetClass(lastClass), cls)
      lastClass = cls
      cls match {
        case 0 | 1 => ()
        case 2 =>
          icOffsetDiff.compress(enc, lastDiff32, diff.toInt, 0)
          lastDiff32 = diff.toInt
        case _ =>
          enc.writeBits(32, w.offset >>> 32)
          enc.writeBits(32, w.offset & 0xFFFFFFFFL)
      }
      icSize.compress(enc, last.size, w.size, 0)
      icRetPoint.compress(enc, last.retPoint, w.retPoint, 0)
      icXyz.compress(enc, last.xt, w.xt, 0)
      icXyz.compress(enc, last.yt, w.yt, 1)
      icXyz.compress(enc, last.zt, w.zt, 2)
      last = w
    }

    def decompress(dec: ArithmeticDecoder): Wavepacket = {
      val index = dec.decodeSymbol(mIndex)
      val cls = dec.decodeSymbol(mOffsetClass(lastClass))
      lastClass = cls
      val offset = cls match {
        case 0 => last.offset
        case 1 => last.offset + (last.size & 0xFFFFFFFFL)
        case 2 =>
          lastDiff32 = icOffsetDiff.decompress(dec, lastDiff32, 0)
          last.offset + lastDiff32
        case _ => (dec.readBits(32) << 32) | dec.readBits(32)
      }
      val size = icSize.decompress(dec, last.size, 0)
      val retPoint = icRetPoint.decompress(dec, last.retPoint, 0)
      val xt = icXyz.decompress(dec, last.xt, 0)
      val yt = icXyz.decompress(dec, last.yt, 1)
      val zt = icXyz.decompress(dec, last.zt, 2)
      last = Wavepacket(index, offset, size, retPoint, xt, yt, zt)
      last
    }
  }

  private[sources] final class ByteV2Codec(first: Array[Byte]) {
    private val n = first.length
    private val models = Array.fill(n)(new ArithmeticModel(256).init())
    private val last = first.clone()

    def compress(enc: ArithmeticEncoder, cur: Array[Byte]): Unit = {
      var i = 0
      while (i < n) {
        enc.encodeSymbol(models(i), (cur(i) - last(i)) & 0xFF)
        last(i) = cur(i)
        i += 1
      }
    }

    def decompress(dec: ArithmeticDecoder): Array[Byte] = {
      val out = new Array[Byte](n)
      var i = 0
      while (i < n) {
        out(i) = ((last(i) + dec.decodeSymbol(models(i))) & 0xFF).toByte
        last(i) = out(i)
        i += 1
      }
      out
    }
  }

  private[sources] def putFullPoint(bb: ByteBuffer, format: Int, p: FullPoint, extraLen: Int): Unit = {
    putPoint10(bb, p.core)
    if (hasGps(format)) bb.putLong(p.gps)
    if (hasRgb(format))
      bb.putShort(p.r.toShort).putShort(p.g.toShort).putShort(p.b.toShort)
    if (hasWave(format)) {
      val w = if (p.wave == null) Wavepacket(0, 0L, 0, 0, 0, 0, 0) else p.wave
      bb.put(w.index.toByte).putLong(w.offset).putInt(w.size)
        .putInt(w.retPoint).putInt(w.xt).putInt(w.yt).putInt(w.zt)
    }
    if (extraLen > 0) {
      require(p.extra != null && p.extra.length == extraLen,
        s"extra-bytes length ${if (p.extra == null) -1 else p.extra.length} != declared $extraLen")
      bb.put(p.extra)
    }
  }

  private[sources] def getFullPoint(bb: ByteBuffer, format: Int, extraLen: Int): FullPoint = {
    val core = getPoint10(bb)
    val gps = if (hasGps(format)) bb.getLong else 0L
    val (r, g, b) =
      if (hasRgb(format)) (bb.getShort & 0xFFFF, bb.getShort & 0xFFFF, bb.getShort & 0xFFFF)
      else (0, 0, 0)
    val wave = if (hasWave(format))
      Wavepacket(bb.get & 0xFF, bb.getLong, bb.getInt, bb.getInt, bb.getInt, bb.getInt, bb.getInt)
    else null
    val extra = if (extraLen > 0) {
      val a = new Array[Byte](extraLen); bb.get(a); a
    } else null
    FullPoint(core, gps, r, g, b, extra, wave)
  }

  /** Encode one chunk: raw first record, then the coded residual
    * stream — per point, items in VLR order (POINT10, GPSTIME11,
    * RGB12), matching the spec's interleaving. Single-point chunks
    * carry no coder stream (the decoder never initializes for them). */
  private[sources] def encodeChunkFull(format: Int, points: Array[FullPoint],
      extraLen: Int = 0): Array[Byte] = {
    require(points.nonEmpty, "empty LAZ chunk")
    val len = recordLen(format) + extraLen
    val raw = ByteBuffer.allocate(len).order(ByteOrder.LITTLE_ENDIAN)
    putFullPoint(raw, format, points(0), extraLen)
    if (points.length == 1) raw.array()
    else {
      val core = new Point10Codec(points(0).core)
      val gps = if (hasGps(format)) new GpsTime11Codec(points(0).gps) else null
      val rgb = if (hasRgb(format))
        new Rgb12Codec(points(0).r, points(0).g, points(0).b) else null
      val wav = if (hasWave(format))
        new Wavepacket13Codec(
          if (points(0).wave == null) Wavepacket(0, 0L, 0, 0, 0, 0, 0) else points(0).wave)
        else null
      val xb = if (extraLen > 0) new ByteV2Codec(points(0).extra) else null
      val enc = new ArithmeticEncoder
      var i = 1
      while (i < points.length) {
        val p = points(i)
        core.compress(enc, p.core)
        if (gps != null) gps.compress(enc, p.gps)
        if (rgb != null) rgb.compress(enc, p.r, p.g, p.b)
        if (wav != null) wav.compress(enc,
          if (p.wave == null) Wavepacket(0, 0L, 0, 0, 0, 0, 0) else p.wave)
        if (xb != null) {
          require(p.extra != null && p.extra.length == extraLen,
            s"extra-bytes length mismatch at point $i")
          xb.compress(enc, p.extra)
        }
        i += 1
      }
      enc.done()
      val coded = enc.result()
      val out = new Array[Byte](len + coded.length)
      System.arraycopy(raw.array(), 0, out, 0, len)
      System.arraycopy(coded, 0, out, len, coded.length)
      out
    }
  }

  private[sources] def decodeChunkFull(format: Int, bytes: Array[Byte], offset: Int,
      count: Int, extraLen: Int = 0): Array[FullPoint] = {
    val len = recordLen(format) + extraLen
    val out = new Array[FullPoint](count)
    val raw = ByteBuffer.wrap(bytes, offset, len).order(ByteOrder.LITTLE_ENDIAN)
    out(0) = getFullPoint(raw, format, extraLen)
    if (count > 1) {
      val core = new Point10Codec(out(0).core)
      val gps = if (hasGps(format)) new GpsTime11Codec(out(0).gps) else null
      val rgb = if (hasRgb(format))
        new Rgb12Codec(out(0).r, out(0).g, out(0).b) else null
      val wav = if (hasWave(format)) new Wavepacket13Codec(out(0).wave) else null
      val xb = if (extraLen > 0) new ByteV2Codec(out(0).extra) else null
      val dec = new ArithmeticDecoder(bytes, offset + len, bytes.length).init()
      var i = 1
      while (i < count) {
        val c = core.decompress(dec)
        val g = if (gps != null) gps.decompress(dec) else 0L
        val (cr, cg, cb) = if (rgb != null) rgb.decompress(dec) else (0, 0, 0)
        val w = if (wav != null) wav.decompress(dec) else null
        val xa = if (xb != null) xb.decompress(dec) else null
        out(i) = FullPoint(c, g, cr, cg, cb, xa, w)
        i += 1
      }
    }
    out
  }

  /** Point-format-0 conveniences (the sink's default payload). */
  private[sources] def encodeChunk(points: Array[Point10]): Array[Byte] =
    encodeChunkFull(0, points.map(FullPoint(_)))

  private[sources] def decodeChunk(bytes: Array[Byte], offset: Int, count: Int): Array[Point10] =
    decodeChunkFull(0, bytes, offset, count).map(_.core)

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

  /** Parse header + laszip VLR of a .laz file (driver side, O(KB)). */
  def readInfo(path: String): LazInfo = Las.lazInfo(path)

  /** The chunk table → per-chunk (fileOffset, pointCount, byteSize). */
  def readChunkDescriptors(path: String, info: LazInfo): Array[(Long, Int, Int)] =
    Las.lazChunks(path, info)

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
    val info = readInfo(path)
    if (info.compressor == 3) // layered LAS 1.4 file — same x/y/z contract
      return Laz14.readPoints14(spark, path, columns = Seq("x", "y", "z"),
        chunksPerTask = chunksPerTask)
    val chunks = readChunkDescriptors(path, info)
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
      val points =
        if (v1) LazV1.decodeStream(format, bytes, 0, count, extraLen)
        else decodeChunkFull(format, bytes, 0, count, extraLen)
      points.iterator.map { fp =>
        val p = fp.core
        val x = p.x * h.scaleX + h.offX
        val y = p.y * h.scaleY + h.offY
        val z = p.z * h.scaleZ + h.offZ
        val base: Seq[Any] = Seq(x, y, z)
        val wv: Seq[Any] = if (!wave) Nil else {
          val w = if (fp.wave == null) Wavepacket(0, 0L, 0, 0, 0, 0, 0) else fp.wave
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
      if (v1) LazV1.encodeStream(format, points, extraBytes)
      else encodeChunkFull(format, points, extraBytes)
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

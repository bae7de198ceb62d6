package graft.sources

import graft.sources.Laz.Point10

/** LASzip compressor-1 ("pointwise", pre-2013) item codecs — the
  * version-1 variants of POINT10/GPSTIME11/RGB12/BYTE that original
  * laszip wrote before chunked compressor 2 existed. Old archives
  * still hold these files; the reference reads them transparently via
  * laspy+lazrs (pcsfc/point_processor.py:32).
  *
  * Structure per the published LASzip 1.x algorithm descriptions
  * (laszip.org format document and the LASzip paper; no code from any
  * LASzip implementation is used): the same k-bit integer corrector
  * as v2 ([[IntegerCompressor]]), but
  *  - coordinates code FIRST (x, then y, then z), predicted by the
  *    exact median of the last THREE x/y differences (v2 moved to
  *    per-return-context streaming median-of-5) with y/z contexts
  *    derived from the previous correctors' bit widths,
  *  - z is predicted from the previous z (v2 predicts from a
  *    per-return-level height table),
  *  - the attribute-changed mask follows the coordinates (v2 leads
  *    with it), gating per-previous-value byte models and integer
  *    correctors per field,
  *  - GPS time uses a SINGLE last-value state (v2 added the 4-slot
  *    rotation) with a 512-symbol multiplier model over the previous
  *    32-bit delta and a raw-64-bit escape,
  *  - RGB codes a 6-bit changed-bytes mask then each changed byte
  *    through one 8-bit corrector with the byte index as context (v2
  *    added inter-channel difference prediction),
  *  - BYTE items code each lane through one 8-bit corrector with the
  *    lane index as context.
  *
  * Each codec is one `code` routine both directions run, and the
  * stream uses [[Laz.encodeChunk]]'s framing with `v1` set: it differs
  * from a compressor-2 chunk only in these codec versions.
  *
  * A compressor-1 file is ONE arithmetic stream — models never reset,
  * so the format is inherently unsplittable: the reader decodes a
  * file in a single task and parallelism comes from the file count
  * (unlike chunked v2, where the chunk table is the split index; at
  * 100 TB a directory of pre-2013 tiles still scans wide). Validation
  * boundary: as with every codec here, no second implementation
  * exists in-sandbox, so verification is roundtrip + spec-structure
  * conformance; fidelity notes are in README "Format boundary".
  */
private[sources] object LazV1 {

  /** Exact median of the last three inserted values (zero-initialized
    * — the v1 predictor's cold-start behavior), rotating insert. */
  private[sources] final class Median3 {
    private val v = new Array[Int](3)
    private var idx = 0
    def add(x: Int): Unit = { v(idx) = x; idx = (idx + 1) % 3 }
    def get: Int = {
      val (a, b, c) = (v(0), v(1), v(2))
      math.max(math.min(a, b), math.min(math.max(a, b), c))
    }
  }

  /** POINT10 version-1 codec: coords first (median-of-3 predicted,
    * k-chained contexts), then the changed mask and attributes. */
  private[sources] final class Point10V1Codec(first: Point10) extends Laz.Point10Item {
    private val icDx = new IntegerCompressor(32, 1).initModels()
    private val icDy = new IntegerCompressor(32, 20).initModels()
    private val icZ = new IntegerCompressor(32, 20).initModels()
    private val mChanged = new ArithmeticModel(64).init()
    private val icIntensity = new IntegerCompressor(16, 1).initModels()
    private val icScanAngle = new IntegerCompressor(8, 2).initModels()
    private val icPointSource = new IntegerCompressor(16, 1).initModels()
    // per-previous-value byte models, created on first use
    private val mBitByte = new Array[ArithmeticModel](256)
    private val mClassification = new Array[ArithmeticModel](256)
    private val mUserData = new Array[ArithmeticModel](256)
    private val xDiffs = new Median3
    private val yDiffs = new Median3

    private var lx = first.x
    private var ly = first.y
    private var lz = first.z
    private var lIntensity = first.intensity
    private var lFlags = first.flags
    private var lCls = first.cls
    private var lScanAngle = first.scanAngle
    private var lUser = first.user
    private var lPsid = first.psid

    def code(c: Coder, p: Point10): Point10 = {
      val dx = icDx.code(c, xDiffs.get, p.x - lx, 0)
      xDiffs.add(dx)
      lx += dx
      val kx = icDx.lastK
      val dy = icDy.code(c, yDiffs.get, p.y - ly, if (kx < 19) kx else 19)
      yDiffs.add(dy)
      ly += dy
      val kz = (kx + icDy.lastK) / 2
      lz = icZ.code(c, lz, p.z, if (kz < 19) kz else 19)

      val changed = c.symbol(mChanged, if (!c.encoding) 0
        else Laz.changedMask(p, lFlags, lIntensity, lCls, lScanAngle, lUser, lPsid))
      if ((changed & 32) != 0) lFlags = c.symbol(ArithmeticModel.at(mBitByte, lFlags, 256), p.flags)
      if ((changed & 16) != 0) lIntensity = icIntensity.code(c, lIntensity, p.intensity, 0)
      if ((changed & 8) != 0) lCls = c.symbol(ArithmeticModel.at(mClassification, lCls, 256), p.cls)
      if ((changed & 4) != 0)
        lScanAngle = icScanAngle.code(c, lScanAngle, p.scanAngle, (lFlags >>> 6) & 1)
      if ((changed & 2) != 0) lUser = c.symbol(ArithmeticModel.at(mUserData, lUser, 256), p.user)
      if ((changed & 1) != 0) lPsid = icPointSource.code(c, lPsid, p.psid, 0)
      if (c.encoding) p else Point10(lx, ly, lz, lIntensity, lFlags, lCls, lScanAngle, lUser, lPsid)
    }
  }

  private val GpsV1MultiMax = 512
  private val GpsV1SymSameDelta = 1 // diff repeats the established delta
  private val GpsV1SymIrregular = 0 // no multiplier fits; pred 0
  private val GpsV1SymHuge = GpsV1MultiMax - 2 // 510: raw 64-bit value
  private val GpsV1SymUnchanged = GpsV1MultiMax - 1 // 511: same time
  private val GpsV1MultiClamp = GpsV1MultiMax - 3 // 509: largest coded multi

  /** GPSTIME11 version-1 codec: single last-value state. Until a
    * 32-bit delta is established a 3-symbol model distinguishes
    * {same, new-delta, raw-64}; afterwards a 512-symbol multiplier
    * model codes each diff as multi x last-delta + corrector, with
    * 509 clamping large multipliers, 510 escaping to a raw 64-bit
    * value, 511 flagging an unchanged time, and an extreme-counter
    * re-anchoring the delta after repeated misfits. The decoder's
    * value reconstruction depends only on the coded symbols, so the
    * encoder's multiplier heuristic affects ratio, never losslessness. */
  private[sources] final class GpsTime11V1Codec(firstBits: Long) extends Laz.GpsItem {
    private val m0Diff = new ArithmeticModel(3).init()
    private val mMulti = new ArithmeticModel(GpsV1MultiMax).init()
    private val icGps = new IntegerCompressor(32, 6).initModels()
    private var lastGps = firstBits
    private var lastDiff = 0
    private var extreme = 0

    private def multiContext(multi: Int): Int =
      if (multi == GpsV1SymSameDelta) 1
      else if (multi == GpsV1SymIrregular) 2
      else if (multi < 10) 3
      else if (multi < 50) 4
      else 5

    private def applyExtreme(diff: Int): Int = {
      extreme += 1
      if (extreme > 3) { lastDiff = diff; extreme = 0 }
      diff
    }

    /** Encoder side: a multiplier of the established delta, clamped into
      * the codable range; out-of-range or negative fits fall to the
      * irregular symbol (pred 0) — exact either way. */
    private def multiSymbol(diff: Int): Int = {
      val q = math.round(diff.toDouble / lastDiff.toDouble)
      if (q >= 2 && q <= GpsV1MultiClamp) q.toInt
      else if (q == 1) GpsV1SymSameDelta
      else GpsV1SymIrregular
    }

    def code(c: Coder, bits: Long): Long = {
      val fresh = lastDiff == 0 // no 32-bit delta established yet
      val unchanged = if (fresh) 0 else GpsV1SymUnchanged
      val huge = if (fresh) 2 else GpsV1SymHuge
      val diff64 = bits - lastGps
      val diff = diff64.toInt
      val sym = c.symbol(if (fresh) m0Diff else mMulti,
        if (!c.encoding) 0
        else if (diff64 == 0) unchanged
        else if (diff64 != diff.toLong) huge
        else if (fresh) 1
        else multiSymbol(diff))
      if (sym == unchanged) lastGps
      else if (sym == huge) {
        lastGps = (c.bits(32, bits >>> 32) << 32) | c.bits(32, bits & 0xFFFFFFFFL)
        lastDiff = 0
        extreme = 0
        lastGps
      } else {
        val d =
          if (sym == GpsV1SymSameDelta) { // also the first delta (pred 0, context 0)
            lastDiff = icGps.code(c, lastDiff, diff, if (fresh) 0 else 1)
            extreme = 0
            lastDiff
          } else if (sym == GpsV1SymIrregular) applyExtreme(icGps.code(c, 0, diff, 2))
          else {
            val d = icGps.code(c, sym * lastDiff, diff, multiContext(sym))
            if (sym == GpsV1MultiClamp) applyExtreme(d) else d
          }
        lastGps += d
        lastGps
      }
    }
  }

  /** RGB12 version-1 codec: 6-bit changed-bytes mask, then each
    * changed byte through an 8-bit corrector with the byte index as
    * context (byte order r-lo, r-hi, g-lo, g-hi, b-lo, b-hi). */
  private[sources] final class Rgb12V1Codec(firstR: Int, firstG: Int, firstB: Int)
      extends Laz.RgbItem {
    private val mByteUsed = new ArithmeticModel(64).init()
    private val icRgb = new IntegerCompressor(8, 6).initModels()
    private val last = Array.tabulate(6)(lane(firstR, firstG, firstB, _))
    def r: Int = last(0) | (last(1) << 8)
    def g: Int = last(2) | (last(3) << 8)
    def b: Int = last(4) | (last(5) << 8)

    private def lane(r: Int, g: Int, b: Int, i: Int): Int =
      ((if (i < 2) r else if (i < 4) g else b) >>> (8 * (i & 1))) & 0xFF

    def code(c: Coder, r: Int, g: Int, b: Int): Unit = {
      var mask = 0
      var i = 0
      if (c.encoding) while (i < 6) { if (lane(r, g, b, i) != last(i)) mask |= 1 << i; i += 1 }
      mask = c.symbol(mByteUsed, mask)
      i = 0
      while (i < 6) {
        if ((mask & (1 << i)) != 0) last(i) = icRgb.code(c, last(i), lane(r, g, b, i), i)
        i += 1
      }
    }
  }

  /** BYTE version-1 codec: each extra-bytes lane through an 8-bit
    * corrector with the lane index as context. */
  private[sources] final class ByteV1Codec(first: Array[Byte]) extends Laz.BytesItem {
    private val n = first.length
    private val icByte = new IntegerCompressor(8, n).initModels()
    private val last = Array.tabulate(n)(i => first(i) & 0xFF)

    def code(c: Coder, cur: Array[Byte]): Array[Byte] = {
      var i = 0
      while (i < n) { last(i) = icByte.code(c, last(i), cur(i) & 0xFF, i); i += 1 }
      last.map(_.toByte)
    }
  }
}

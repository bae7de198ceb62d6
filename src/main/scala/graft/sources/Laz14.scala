package graft.sources

import java.nio.{ByteBuffer, ByteOrder}

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.types._

import Laz.{StreamingMedian5, NumberReturnMap, NumberReturnLevel, GpsTime11Codec, Rgb12Codec}

/** Layered LASzip (compressor 3, "layered chunked") for the LAS 1.4
  * point formats 6-8 — the variant real 1.4 tiles ship with, and the
  * last piece of the LAZ boundary after the pointwise (compressor 2,
  * pf 0-3) codec in [[Laz]]. The reference reads these transparently
  * via laspy+lazrs (pcsfc/point_processor.py:32).
  *
  * Implemented from the PUBLIC "LAZ Specification 1.4" layout on top
  * of the FastAC coder in ArithmeticCodec.scala. The layered chunk is
  * the spec's headline change over compressor 2: instead of one
  * interleaved arithmetic stream per chunk, every field family gets
  * its OWN independently coded byte stream ("layer") whose length is
  * stored in the chunk:
  *
  * {{{
  *   raw first point (all items)          | u32 point count of chunk
  *   u32 layer byte count, per layer      | layer byte streams, concatenated
  * }}}
  *
  * Two properties make this format genuinely better for an analytics
  * engine, and both are exploited here:
  *  - chunks still reset every model, so the chunk table remains a
  *    ready-made distributed split index (same as [[Laz]]);
  *  - layers make projection pushdown reach the CODEC: a scan that
  *    needs only (x, y, z) seeks past the classification / intensity /
  *    scan-angle / user-data / point-source / GPS / color layers
  *    without running their decoders at all ([[decodeChunk14]]'s
  *    `want` mask, wired to the reader's column pruning). Only the XY
  *    layer is always decoded — it carries the per-point context bits
  *    (scanner channel, return counts, change flags) the other layers'
  *    models condition on; every other layer is independently
  *    skippable by construction.
  *
  * Prediction models follow the spec's structure: 4 lazily-created
  * per-scanner-channel contexts, a changed-values symbol over an
  * 8-way last-point-return (lpr) selector, return-map/level keyed
  * median-of-5 coordinate prediction, per-level Z, cpr-context
  * intensity, and change-gated scan angle / point source / GPS time
  * (the GPSTIME11 multi-history predictor, one per context). As with
  * [[Laz]], in-sandbox validation is layer/chunk/file roundtrip plus
  * the oracle-checked `pc_laz14_roundtrip` — no second LASzip
  * implementation exists in this environment, so cross-implementation
  * bit-compatibility of the model layout is asserted against the spec
  * text, not a second binary (README "Format boundary: LAZ").
  */
object Laz14 {

  // item types from the LAZ spec
  private val ItemPoint14 = 10
  private val ItemRgb14 = 11
  private val ItemRgbNir14 = 12
  private val ItemWavepacket14 = 13

  /** LAZ item lists for LAS point formats 6-10 (type, size, version —
    * all version-3 layered codecs; the wavepacket rides as its own
    * layer in formats 9/10). */
  val FormatItems: Map[Int, Seq[(Int, Int, Int)]] = Map(
    6 -> Seq((ItemPoint14, 30, 3)),
    7 -> Seq((ItemPoint14, 30, 3), (ItemRgb14, 6, 3)),
    8 -> Seq((ItemPoint14, 30, 3), (ItemRgbNir14, 8, 3)),
    9 -> Seq((ItemPoint14, 30, 3), (ItemWavepacket14, 29, 3)),
    10 -> Seq((ItemPoint14, 30, 3), (ItemRgbNir14, 8, 3), (ItemWavepacket14, 29, 3)))

  private def hasRgb14(format: Int): Boolean =
    format == 7 || format == 8 || format == 10
  private def hasNir14(format: Int): Boolean = format == 8 || format == 10
  private def hasWave14(format: Int): Boolean = format == 9 || format == 10

  private def recordLen(format: Int): Int = FormatItems(format).map(_._2).sum

  /** One LAS 1.4 point record (formats 6-8). `returns` and `flags`
    * keep the raw byte layout: returns = returnNumber | nReturns<<4;
    * flags = classificationFlags(0-3) | scannerChannel(4-5) |
    * scanDirection(6) | edgeOfFlight(7). scanAngle holds the i16 bits
    * unsigned; gpsBits the raw IEEE-754 bits. */
  final case class Point14(x: Int, y: Int, z: Int, intensity: Int,
      returns: Int, flags: Int, cls: Int, user: Int, scanAngle: Int,
      psid: Int, gpsBits: Long, r: Int = 0, g: Int = 0, b: Int = 0,
      nir: Int = 0, wave: Laz.Wavepacket = null) {
    def waveOrZero: Laz.Wavepacket =
      if (wave == null) Laz.Wavepacket(0, 0L, 0, 0, 0, 0, 0) else wave
    def returnNumber: Int = returns & 15
    def numberOfReturns: Int = (returns >>> 4) & 15
    def channel: Int = (flags >>> 4) & 3
    /** flags byte sans the scanner-channel bits (it is coded in the XY
      * layer's context machinery, not the flags layer). */
    def flags6: Int = (flags & 15) | ((flags >>> 6) << 4)
  }

  /** Which layers to run the decoder over. XY (coords + context bits)
    * is implicit — always decoded. */
  final case class FieldMask(z: Boolean = true, cls: Boolean = true,
      flags: Boolean = true, intensity: Boolean = true,
      scanAngle: Boolean = true, user: Boolean = true,
      psid: Boolean = true, gps: Boolean = true, rgb: Boolean = true,
      nir: Boolean = true, wave: Boolean = true)
  val AllFields: FieldMask = FieldMask()

  // layer indices, in on-disk order (POINT14's nine, then RGB, then NIR)
  private val LXy = 0; private val LZ = 1; private val LCls = 2
  private val LFlags = 3; private val LIntensity = 4; private val LAngle = 5
  private val LUser = 6; private val LPsid = 7; private val LGps = 8
  private val LRgb = 9; private val LNir = 10
  // the wavepacket layer is LAST on disk: right after the nine point
  // layers for pf9, after RGB+NIR for pf10
  private def waveLayer(format: Int): Int = if (format == 9) 9 else 11
  private def layerCount(format: Int): Int = format match {
    case 6 => 9
    case 7 => 10
    case 8 => 11
    case 9 => 10
    case _ => 12
  }

  /** Per-scanner-channel codec context: models + prediction state,
    * seeded from the point that was current when the channel first
    * appeared in the chunk (spec behavior — both ends make the same
    * lazy-create decision, so the streams stay in lockstep). */
  private final class Ctx14(seed: Point14, format: Int) {
    var last: Point14 = seed
    var prevGpsChanged = false
    // XY layer models
    val mChanged: Array[ArithmeticModel] =
      Array.fill(8)(new ArithmeticModel(128).init())
    val mChannelDiff = new ArithmeticModel(3).init()
    val mNReturns = new Array[ArithmeticModel](16) // lazy, per last n
    val mRNumber = new Array[ArithmeticModel](16) // lazy, per last r
    val icDx = new IntegerCompressor(32, 2).initModels()
    val icDy = new IntegerCompressor(32, 22).initModels()
    val xDiff: Array[StreamingMedian5] = Array.fill(32)(new StreamingMedian5)
    val yDiff: Array[StreamingMedian5] = Array.fill(32)(new StreamingMedian5)
    // Z layer
    val icZ = new IntegerCompressor(32, 20).initModels()
    val lastZ: Array[Int] = Array.fill(8)(seed.z)
    // classification / flags / user-data layers (lazy byte models)
    val mCls = new Array[ArithmeticModel](64)
    val mFlags = new Array[ArithmeticModel](64)
    val mUser = new Array[ArithmeticModel](64)
    // intensity layer
    val icIntensity = new IntegerCompressor(16, 4).initModels()
    val lastIntensity: Array[Int] = Array.fill(4)(seed.intensity)
    // scan angle / point source / gps layers
    val icScanAngle = new IntegerCompressor(16, 2).initModels()
    val icPsid = new IntegerCompressor(16, 1).initModels()
    val gps = new GpsTime11Codec(seed.gpsBits)
    // color layers
    val rgb: Rgb12Codec =
      if (hasRgb14(format)) new Rgb12Codec(seed.r, seed.g, seed.b) else null
    val icNir = new IntegerCompressor(16, 1).initModels()
    var lastNir: Int = seed.nir
    // wavepacket layer (formats 9/10): the same predictive scheme as
    // the pointwise WAVEPACKET13 item, one instance per context
    val waveCodec: Laz.Wavepacket13Codec =
      if (hasWave14(format)) new Laz.Wavepacket13Codec(seed.waveOrZero) else null

    def model(arr: Array[ArithmeticModel], idx: Int, syms: Int): ArithmeticModel = {
      if (arr(idx) == null) arr(idx) = new ArithmeticModel(syms).init()
      arr(idx)
    }
  }

  /** lpr selector: is the last point a first return / a last return /
    * did it change GPS time — the spec's 8-way changed-values context. */
  private def lprOf(c: Ctx14): Int =
    (if (c.last.returnNumber == 1) 1 else 0) |
      (if (c.last.returnNumber >= c.last.numberOfReturns) 2 else 0) |
      (if (c.prevGpsChanged) 4 else 0)

  private def m8(v: Int): Int = if (v > 7) 7 else v

  // ------------------------------------------------------------- encoder

  private final class ChunkEncoder14(format: Int, first: Point14) {
    private val encs = Array.fill(layerCount(format))(new ArithmeticEncoder)
    private val used = new Array[Boolean](layerCount(format))
    private val ctxs = new Array[Ctx14](4)
    private var cur = first.channel
    ctxs(cur) = new Ctx14(first, format)

    private def enc(l: Int): ArithmeticEncoder = { used(l) = true; encs(l) }

    def add(p: Point14): Unit = {
      val old = ctxs(cur)
      val newChannel = p.channel
      val channelChanged = newChannel != cur
      // prediction base: the TARGET context's last point (seeded from
      // the old context's last when the channel is new this chunk)
      val tgt =
        if (!channelChanged) old
        else {
          if (ctxs(newChannel) == null) ctxs(newChannel) = new Ctx14(old.last, format)
          ctxs(newChannel)
        }
      val lp = tgt.last
      val psidChanged = p.psid != lp.psid
      val gpsChanged = p.gpsBits != lp.gpsBits
      val angChanged = p.scanAngle != lp.scanAngle
      val nChanged = p.numberOfReturns != lp.numberOfReturns
      val rDiff = (p.returnNumber - lp.returnNumber) & 15
      val rCode = rDiff match { case 0 => 0; case 1 => 1; case 15 => 2; case _ => 3 }
      val sym = (if (channelChanged) 64 else 0) | (if (psidChanged) 32 else 0) |
        (if (gpsChanged) 16 else 0) | (if (angChanged) 8 else 0) |
        (if (nChanged) 4 else 0) | rCode
      // the changed symbol and channel diff are coded with the OLD
      // (current) context's models — the decoder must be able to pick
      // the model before it learns the channel switched
      enc(LXy).encodeSymbol(old.mChanged(lprOf(old)), sym)
      if (channelChanged) {
        enc(LXy).encodeSymbol(old.mChannelDiff, ((newChannel - cur) & 3) - 1)
        cur = newChannel
      }

      if (nChanged)
        enc(LXy).encodeSymbol(
          tgt.model(tgt.mNReturns, lp.numberOfReturns, 16), p.numberOfReturns)
      if (rCode == 3)
        enc(LXy).encodeSymbol(
          tgt.model(tgt.mRNumber, lp.returnNumber, 16), p.returnNumber)
      val n = p.numberOfReturns
      val r = p.returnNumber
      val m = NumberReturnMap(m8(n))(m8(r))
      val l = NumberReturnLevel(m8(n))(m8(r))
      val gbit = if (gpsChanged) 1 else 0

      val dx = p.x - lp.x
      tgt.icDx.compress(enc(LXy), tgt.xDiff((m << 1) | gbit).get, dx,
        if (n == 1) 1 else 0)
      tgt.xDiff((m << 1) | gbit).add(dx)
      val kx = tgt.icDx.lastK
      val dy = p.y - lp.y
      tgt.icDy.compress(enc(LXy), tgt.yDiff((m << 1) | gbit).get, dy,
        (if (n == 1) 1 else 0) + (if (kx < 20) kx & 0xFE else 20))
      tgt.yDiff((m << 1) | gbit).add(dy)

      val kz = (tgt.icDx.lastK + tgt.icDy.lastK) / 2
      tgt.icZ.compress(enc(LZ), tgt.lastZ(l), p.z,
        (if (n == 1) 1 else 0) + (if (kz < 18) kz & 0xFE else 18))
      tgt.lastZ(l) = p.z

      enc(LCls).encodeSymbol(
        tgt.model(tgt.mCls, ((lp.cls & 31) << 1) | (if (r >= n) 1 else 0), 256), p.cls)
      enc(LFlags).encodeSymbol(tgt.model(tgt.mFlags, lp.flags6, 64), p.flags6)

      val cpr = (if (r == 1) 2 else 0) | (if (r >= n) 1 else 0)
      tgt.icIntensity.compress(enc(LIntensity), tgt.lastIntensity(cpr), p.intensity, cpr)
      tgt.lastIntensity(cpr) = p.intensity

      if (angChanged)
        tgt.icScanAngle.compress(enc(LAngle), lp.scanAngle, p.scanAngle, gbit)
      enc(LUser).encodeSymbol(tgt.model(tgt.mUser, lp.user >>> 2, 256), p.user)
      if (psidChanged) tgt.icPsid.compress(enc(LPsid), lp.psid, p.psid, 0)
      if (gpsChanged) tgt.gps.compress(enc(LGps), p.gpsBits)

      if (hasRgb14(format)) tgt.rgb.compress(enc(LRgb), p.r, p.g, p.b)
      if (hasNir14(format)) {
        tgt.icNir.compress(enc(LNir), tgt.lastNir, p.nir, 0)
        tgt.lastNir = p.nir
      }
      if (hasWave14(format))
        tgt.waveCodec.compress(enc(waveLayer(format)), p.waveOrZero)

      tgt.prevGpsChanged = gpsChanged
      tgt.last = p
    }

    /** Per-layer byte streams; never-touched layers are zero-length
      * (their decoders are never consulted either). */
    def finish(): Array[Array[Byte]] =
      encs.indices.map { i =>
        if (!used(i)) Array.emptyByteArray
        else { encs(i).done(); encs(i).result() }
      }.toArray
  }

  // -------------------------------------------------------------- decoder

  private final class ChunkDecoder14(format: Int, first: Point14,
      decs: Array[ArithmeticDecoder], want: FieldMask) {
    private val ctxs = new Array[Ctx14](4)
    private var cur = first.channel
    ctxs(cur) = new Ctx14(first, format)

    def next(): Point14 = {
      val old = ctxs(cur)
      val sym = decs(LXy).decodeSymbol(old.mChanged(lprOf(old)))
      val channelChanged = (sym & 64) != 0
      if (channelChanged) {
        val diff = decs(LXy).decodeSymbol(old.mChannelDiff) + 1
        val newChannel = (cur + diff) & 3
        if (ctxs(newChannel) == null) ctxs(newChannel) = new Ctx14(old.last, format)
        cur = newChannel
      }
      val tgt = ctxs(cur)
      val lp = tgt.last
      val psidChanged = (sym & 32) != 0
      val gpsChanged = (sym & 16) != 0
      val angChanged = (sym & 8) != 0
      val nChanged = (sym & 4) != 0
      val n =
        if (nChanged)
          decs(LXy).decodeSymbol(tgt.model(tgt.mNReturns, lp.numberOfReturns, 16))
        else lp.numberOfReturns
      val r = (sym & 3) match {
        case 0 => lp.returnNumber
        case 1 => (lp.returnNumber + 1) & 15
        case 2 => (lp.returnNumber + 15) & 15
        case _ => decs(LXy).decodeSymbol(tgt.model(tgt.mRNumber, lp.returnNumber, 16))
      }
      val m = NumberReturnMap(m8(n))(m8(r))
      val l = NumberReturnLevel(m8(n))(m8(r))
      val gbit = if (gpsChanged) 1 else 0

      val dx = tgt.icDx.decompress(decs(LXy), tgt.xDiff((m << 1) | gbit).get,
        if (n == 1) 1 else 0)
      val x = lp.x + dx
      tgt.xDiff((m << 1) | gbit).add(dx)
      val kx = tgt.icDx.lastK
      val dy = tgt.icDy.decompress(decs(LXy), tgt.yDiff((m << 1) | gbit).get,
        (if (n == 1) 1 else 0) + (if (kx < 20) kx & 0xFE else 20))
      val y = lp.y + dy
      tgt.yDiff((m << 1) | gbit).add(dy)

      val z =
        if (want.z) {
          val kz = (tgt.icDx.lastK + tgt.icDy.lastK) / 2
          val v = tgt.icZ.decompress(decs(LZ), tgt.lastZ(l),
            (if (n == 1) 1 else 0) + (if (kz < 18) kz & 0xFE else 18))
          tgt.lastZ(l) = v
          v
        } else 0

      val cls =
        if (want.cls) decs(LCls).decodeSymbol(
          tgt.model(tgt.mCls, ((lp.cls & 31) << 1) | (if (r >= n) 1 else 0), 256))
        else 0
      val f6 =
        if (want.flags) decs(LFlags).decodeSymbol(tgt.model(tgt.mFlags, lp.flags6, 64))
        else 0
      val flags = (f6 & 15) | (cur << 4) | ((f6 >>> 4) << 6)

      val intensity =
        if (want.intensity) {
          val cpr = (if (r == 1) 2 else 0) | (if (r >= n) 1 else 0)
          val v = tgt.icIntensity.decompress(decs(LIntensity), tgt.lastIntensity(cpr), cpr)
          tgt.lastIntensity(cpr) = v
          v
        } else 0
      val ang =
        if (!want.scanAngle) 0
        else if (angChanged) tgt.icScanAngle.decompress(decs(LAngle), lp.scanAngle, gbit)
        else lp.scanAngle
      val user =
        if (want.user) decs(LUser).decodeSymbol(tgt.model(tgt.mUser, lp.user >>> 2, 256))
        else 0
      val psid =
        if (!want.psid) 0
        else if (psidChanged) tgt.icPsid.decompress(decs(LPsid), lp.psid, 0)
        else lp.psid
      val gps =
        if (!want.gps) 0L
        else if (gpsChanged) tgt.gps.decompress(decs(LGps))
        else lp.gpsBits

      val (cr, cg, cb) =
        if (hasRgb14(format) && want.rgb) tgt.rgb.decompress(decs(LRgb)) else (0, 0, 0)
      val nir =
        if (hasNir14(format) && want.nir) {
          val v = tgt.icNir.decompress(decs(LNir), tgt.lastNir, 0)
          tgt.lastNir = v
          v
        } else 0
      val wv =
        if (hasWave14(format) && want.wave)
          tgt.waveCodec.decompress(decs(waveLayer(format)))
        else null

      val p = Point14(x, y, z, intensity, (n << 4) | r, flags, cls, user,
        ang, psid, gps, cr, cg, cb, nir, wv)
      tgt.prevGpsChanged = gpsChanged
      tgt.last = p
      p
    }
  }

  // --------------------------------------------------------- raw records

  private def putPoint14(bb: ByteBuffer, format: Int, p: Point14): Unit = {
    bb.putInt(p.x).putInt(p.y).putInt(p.z)
    bb.putShort(p.intensity.toShort)
    bb.put(p.returns.toByte).put(p.flags.toByte).put(p.cls.toByte).put(p.user.toByte)
    bb.putShort(p.scanAngle.toShort)
    bb.putShort(p.psid.toShort)
    bb.putLong(p.gpsBits)
    if (hasRgb14(format)) bb.putShort(p.r.toShort).putShort(p.g.toShort).putShort(p.b.toShort)
    if (hasNir14(format)) bb.putShort(p.nir.toShort)
    if (hasWave14(format)) {
      val w = p.waveOrZero
      bb.put(w.index.toByte).putLong(w.offset).putInt(w.size)
        .putInt(w.retPoint).putInt(w.xt).putInt(w.yt).putInt(w.zt)
    }
  }

  private def getPoint14(bb: ByteBuffer, format: Int): Point14 = {
    val x = bb.getInt; val y = bb.getInt; val z = bb.getInt
    val intensity = bb.getShort & 0xFFFF
    val returns = bb.get & 0xFF; val flags = bb.get & 0xFF
    val cls = bb.get & 0xFF; val user = bb.get & 0xFF
    val ang = bb.getShort & 0xFFFF; val psid = bb.getShort & 0xFFFF
    val gps = bb.getLong
    val (r, g, b) =
      if (hasRgb14(format)) (bb.getShort & 0xFFFF, bb.getShort & 0xFFFF, bb.getShort & 0xFFFF)
      else (0, 0, 0)
    val nir = if (hasNir14(format)) bb.getShort & 0xFFFF else 0
    val wv = if (hasWave14(format))
      Laz.Wavepacket(bb.get & 0xFF, bb.getLong, bb.getInt, bb.getInt,
        bb.getInt, bb.getInt, bb.getInt)
    else null
    Point14(x, y, z, intensity, returns, flags, cls, user, ang, psid, gps,
      r, g, b, nir, wv)
  }

  // ------------------------------------------------------ chunk framing

  /** Encode one layered chunk: raw first point, u32 point count, u32
    * byte count per layer, then the concatenated layer streams. */
  private[sources] def encodeChunk14(format: Int, points: Array[Point14]): Array[Byte] = {
    require(points.nonEmpty, "empty LAZ chunk")
    val len = recordLen(format)
    val nLayers = layerCount(format)
    val layers: Array[Array[Byte]] =
      if (points.length == 1) Array.fill(nLayers)(Array.emptyByteArray)
      else {
        val ce = new ChunkEncoder14(format, points(0))
        var i = 1
        while (i < points.length) { ce.add(points(i)); i += 1 }
        ce.finish()
      }
    val total = len + 4 + 4 * nLayers + layers.map(_.length).sum
    val bb = ByteBuffer.allocate(total).order(ByteOrder.LITTLE_ENDIAN)
    putPoint14(bb, format, points(0))
    bb.putInt(points.length)
    layers.foreach(l => bb.putInt(l.length))
    layers.foreach(bb.put)
    bb.array()
  }

  /** Decode a layered chunk; layers excluded by `want` are seeked
    * past, never decoded (their fields come back zero). */
  private[sources] def decodeChunk14(format: Int, bytes: Array[Byte], offset: Int,
      count: Int, want: FieldMask = AllFields): Array[Point14] = {
    val len = recordLen(format)
    val nLayers = layerCount(format)
    val bb = ByteBuffer.wrap(bytes, offset, bytes.length - offset)
      .order(ByteOrder.LITTLE_ENDIAN)
    val out = new Array[Point14](count)
    out(0) = getPoint14(bb, format)
    if (count == 1) return out
    val stored = bb.getInt
    require(stored == count,
      s"layered chunk header says $stored points, chunk table says $count")
    val sizes = Array.fill(nLayers)(bb.getInt)
    val starts = new Array[Int](nLayers)
    // layer byte counts are untrusted: negative sizes would misalign
    // every following layer, and Int-overflowing sums would wrap past
    // the bounds check — walk in Long and reject each bad length
    var off = (offset + len + 4 + 4 * nLayers).toLong
    var i = 0
    while (i < nLayers) {
      require(sizes(i) >= 0 && off + sizes(i) <= bytes.length,
        s"layered chunk layer $i (${sizes(i)} bytes at $off) overruns " +
          s"the ${bytes.length}-byte buffer")
      starts(i) = off.toInt; off += sizes(i); i += 1
    }
    val decs = new Array[ArithmeticDecoder](nLayers)
    i = 0
    while (i < nLayers) {
      decs(i) = new ArithmeticDecoder(bytes, starts(i), starts(i) + sizes(i)).init()
      i += 1
    }
    val cd = new ChunkDecoder14(format, out(0), decs, want)
    i = 1
    while (i < count) { out(i) = cd.next(); i += 1 }
    out
  }

  // ------------------------------------------------------------ entry points
  // The container (header, laszip VLR, chunk table, sink, scan) is
  // Las's; these pick the layered codec for it.

  private val pointSchema = StructType(Seq(
    StructField("x", DoubleType), StructField("y", DoubleType),
    StructField("z", DoubleType), StructField("intensity", IntegerType),
    StructField("return_number", IntegerType),
    StructField("number_of_returns", IntegerType),
    StructField("scanner_channel", IntegerType),
    StructField("classification", IntegerType),
    StructField("scan_angle", IntegerType),
    StructField("user_data", IntegerType),
    StructField("point_source", IntegerType),
    StructField("gps_time", DoubleType),
    StructField("classification_flags", IntegerType),
    StructField("scan_direction", IntegerType),
    StructField("edge_of_flight", IntegerType),
    StructField("r", IntegerType), StructField("g", IntegerType),
    StructField("b", IntegerType), StructField("nir", IntegerType),
    // wavepacket descriptor (formats 9/10): exact integers, f32 fields
    // as raw IEEE bits — zeros on formats without the layer
    StructField("wp_index", LongType), StructField("wp_offset", LongType),
    StructField("wp_size", LongType), StructField("wp_ret", LongType),
    StructField("wp_xt", LongType), StructField("wp_yt", LongType),
    StructField("wp_zt", LongType)))

  private def maskFor(columns: Seq[String]): FieldMask = {
    val s = columns.toSet
    FieldMask(
      z = s("z"), cls = s("classification"),
      // scanner channel and return counts live in the XY layer (always
      // decoded); the flags LAYER carries only these three fields
      flags = s("classification_flags") || s("scan_direction") || s("edge_of_flight"),
      intensity = s("intensity"), scanAngle = s("scan_angle"),
      user = s("user_data"), psid = s("point_source"), gps = s("gps_time"),
      rgb = s("r") || s("g") || s("b"), nir = s("nir"),
      wave = columns.exists(_.startsWith("wp_")))
  }

  /** Distributed layered-LAZ scan. `columns` prunes at the codec
    * layer: unrequested field layers are skipped byte-ranges, not
    * decoded streams. Chunk runs are the split unit, exactly like
    * [[Laz.readPoints]]. */
  def readPoints14(spark: SparkSession, path: String,
      columns: Seq[String] = pointSchema.map(_.name),
      chunksPerTask: Int = 8): DataFrame = {
    val info = Laz.readInfo(path)
    require(info.compressor == 3, s"$path: not a layered (compressor 3) file")
    val format = FormatItems.collectFirst { case (f, is) if is == info.items => f }.get
    val chunks = Laz.readChunkDescriptors(path, info)
    val cols = pointSchema.filter(f => columns.contains(f.name))
    val h = info.header
    val want = maskFor(columns)
    val fieldIdx = cols.map(f => pointSchema.fieldIndex(f.name)).toArray
    Las.scan(spark, path, StructType(cols), chunks.toSeq, chunksPerTask) { (bytes, count) =>
      decodeChunk14(format, bytes, 0, count, want).iterator.map { p =>
        val w = p.waveOrZero
        val full = Array[Any](
          p.x * h.scaleX + h.offX, p.y * h.scaleY + h.offY,
          p.z * h.scaleZ + h.offZ, p.intensity, p.returnNumber,
          p.numberOfReturns, p.channel, p.cls, p.scanAngle.toShort.toInt,
          p.user, p.psid, java.lang.Double.longBitsToDouble(p.gpsBits),
          p.flags & 15, (p.flags >>> 6) & 1, (p.flags >>> 7) & 1,
          p.r, p.g, p.b, p.nir,
          w.index.toLong, w.offset, w.size & 0xFFFFFFFFL,
          w.retPoint & 0xFFFFFFFFL, w.xt & 0xFFFFFFFFL,
          w.yt & 0xFFFFFFFFL, w.zt & 0xFFFFFFFFL)
        Row.fromSeq(fieldIdx.map(i => full(i)).toIndexedSeq)
      }
    }
  }

  /** Points for the sink, from the row [[writePoints14]] selects. */
  private final class PointEncoder14(format: Int, chunkPoints: Int)
      extends Las.ChunkEncoder[Point14](chunkPoints) {
    def point(x: Int, y: Int, z: Int, row: InternalRow): Point14 = {
      val rn = row.getInt(4) & 15
      val nr = row.getInt(5) & 15
      val ch = row.getInt(6) & 3
      // full flags byte per LAS 1.4 pf6+: classification flags (0-3),
      // scanner channel (4-5), scan direction (6), edge of flight line (7)
      val flagsByte = (row.getInt(16) & 15) | (ch << 4) |
        ((row.getInt(17) & 1) << 6) | ((row.getInt(18) & 1) << 7)
      val wv = if (!hasWave14(format)) null else Laz.Wavepacket(
        (row.getLong(19) & 0xFF).toInt, row.getLong(20),
        row.getLong(21).toInt, row.getLong(22).toInt,
        row.getLong(23).toInt, row.getLong(24).toInt,
        row.getLong(25).toInt)
      Point14(x, y, z, row.getInt(3) & 0xFFFF,
        (nr << 4) | rn, flagsByte, row.getInt(7) & 0xFF,
        row.getInt(9) & 0xFF, row.getInt(8) & 0xFFFF,
        row.getInt(10) & 0xFFFF,
        java.lang.Double.doubleToRawLongBits(row.getDouble(11)),
        row.getInt(12) & 0xFFFF, row.getInt(13) & 0xFFFF,
        row.getInt(14) & 0xFFFF, row.getInt(15) & 0xFFFF, wv)
    }
    def encode(points: Array[Point14]): Array[Byte] = encodeChunk14(format, points)
  }

  /** Layered-LAZ export sink: [[Las]]'s sink with a LAS 1.4 header
    * (375 bytes, u64 point count, legacy counts zeroed per spec for
    * formats >= 6) and variable-size chunking so partition tails stay
    * legal.
    *
    * Expected columns: x, y, z (world doubles) and any of the
    * attribute columns of [[readPoints14]]'s schema — absent ones
    * write as zero/defaults (return and count default to 1). */
  def writePoints14(df: DataFrame, path: String, scale: Double = 0.1,
      chunkPoints: Int = 50000, pointFormat: Int = 6): Unit = {
    require(FormatItems.contains(pointFormat), s"unsupported point format $pointFormat")
    val present = df.columns.toSet
    def opt(name: String, default: Int) =
      if (present(name)) col(name).cast("int") else lit(default)
    val gpsCol =
      if (present("gps_time")) col("gps_time").cast("double") else lit(0.0)
    def optLong(name: String) =
      if (present(name)) col(name).cast("long") else lit(0L)
    val columns = Seq(
      opt("intensity", 0), opt("return_number", 1), opt("number_of_returns", 1),
      opt("scanner_channel", 0), opt("classification", 0), opt("scan_angle", 0),
      opt("user_data", 0), opt("point_source", 0), gpsCol,
      opt("r", 0), opt("g", 0), opt("b", 0), opt("nir", 0),
      opt("classification_flags", 0), opt("scan_direction", 0),
      opt("edge_of_flight", 0),
      optLong("wp_index"), optLong("wp_offset"), optLong("wp_size"),
      optLong("wp_ret"), optLong("wp_xt"), optLong("wp_yt"), optLong("wp_zt"))
    val layout = Las.Layout(4, pointFormat, recordLen(pointFormat),
      Las.laszipVlr(3, (3, 4), Las.VariableChunkSize, FormatItems(pointFormat)),
      chunkTable = true)
    Las.sink(df, path, scale, layout, columns, new PointEncoder14(pointFormat, chunkPoints))
  }
}

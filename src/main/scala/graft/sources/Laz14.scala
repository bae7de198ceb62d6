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
  * (the GPSTIME11 multi-history predictor, one per context). All of
  * it is one routine, `ChunkCoder14.code`, that the encoder and the
  * decoder both run, each layer through its own [[Coder]]. As with
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
    def waveOrZero: Laz.Wavepacket = if (wave == null) Laz.NoWave else wave
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

  // field slots of the layers: POINT14's nine, then RGB, NIR and the
  // wavepacket; `layers` gives a format's on-disk order of them
  private val LXy = 0; private val LZ = 1; private val LCls = 2
  private val LFlags = 3; private val LIntensity = 4; private val LAngle = 5
  private val LUser = 6; private val LPsid = 7; private val LGps = 8
  private val LRgb = 9; private val LNir = 10; private val LWave = 11
  private val Slots = 12

  /** The layers of `format` on disk, as slots: the nine point layers,
    * then RGB and NIR where the format has them, the wavepacket last. */
  private def layers(format: Int): Array[Int] =
    ((LXy to LGps) ++ (if (hasRgb14(format)) Seq(LRgb) else Nil) ++
      (if (hasNir14(format)) Seq(LNir) else Nil) ++
      (if (hasWave14(format)) Seq(LWave) else Nil)).toArray

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
  }

  /** lpr selector: is the last point a first return / a last return /
    * did it change GPS time — the spec's 8-way changed-values context. */
  private def lprOf(c: Ctx14): Int =
    (if (c.last.returnNumber == 1) 1 else 0) |
      (if (c.last.returnNumber >= c.last.numberOfReturns) 2 else 0) |
      (if (c.prevGpsChanged) 4 else 0)

  private def m8(v: Int): Int = if (v > 7) 7 else v

  // --------------------------------------------------------------- codec

  /** The layered codec of one chunk, run by encoder and decoder alike:
    * `code` codes a point's fields into their layers' coders, indexed
    * by slot, and returns the point given (encoding) or read (decoding).
    * A null coder is a layer the format lacks or the reader skips: it
    * is never run, and its fields come back zero. */
  private final class ChunkCoder14(format: Int, first: Point14, coders: Array[Coder]) {
    private val ctxs = new Array[Ctx14](4)
    private var cur = first.channel
    ctxs(cur) = new Ctx14(first, format)
    private val xy = coders(LXy)

    /** Encoder side: the changed-values symbol of `p` against the last
      * point of its channel's context (the current one's when the
      * channel is new this chunk). */
    private def changes(p: Point14): Int = {
      val lp = if (ctxs(p.channel) == null) ctxs(cur).last else ctxs(p.channel).last
      val rCode = (p.returnNumber - lp.returnNumber) & 15 match {
        case 0 => 0; case 1 => 1; case 15 => 2; case _ => 3
      }
      (if (p.channel != cur) 64 else 0) | (if (p.psid != lp.psid) 32 else 0) |
        (if (p.gpsBits != lp.gpsBits) 16 else 0) | (if (p.scanAngle != lp.scanAngle) 8 else 0) |
        (if (p.numberOfReturns != lp.numberOfReturns) 4 else 0) | rCode
    }

    def code(p: Point14): Point14 = {
      val old = ctxs(cur)
      // the changed symbol and channel diff are coded with the OLD
      // (current) context's models — the decoder must be able to pick
      // the model before it learns the channel switched
      val sym = xy.symbol(old.mChanged(lprOf(old)), if (xy.encoding) changes(p) else 0)
      if ((sym & 64) != 0) {
        cur = (cur + xy.symbol(old.mChannelDiff, ((p.channel - cur) & 3) - 1) + 1) & 3
        // prediction base: the TARGET context's last point (seeded from
        // the old context's last when the channel is new this chunk)
        if (ctxs(cur) == null) ctxs(cur) = new Ctx14(old.last, format)
      }
      val tgt = ctxs(cur)
      val lp = tgt.last
      val gpsChanged = (sym & 16) != 0
      val n =
        if ((sym & 4) == 0) lp.numberOfReturns
        else xy.symbol(ArithmeticModel.at(tgt.mNReturns, lp.numberOfReturns, 16), p.numberOfReturns)
      val r = (sym & 3) match {
        case 0 => lp.returnNumber
        case 1 => (lp.returnNumber + 1) & 15
        case 2 => (lp.returnNumber + 15) & 15
        case _ => xy.symbol(ArithmeticModel.at(tgt.mRNumber, lp.returnNumber, 16), p.returnNumber)
      }
      val m = NumberReturnMap(m8(n))(m8(r))
      val l = NumberReturnLevel(m8(n))(m8(r))
      val gbit = if (gpsChanged) 1 else 0
      val single = if (n == 1) 1 else 0

      val xCtx = (m << 1) | gbit
      val dx = tgt.icDx.code(xy, tgt.xDiff(xCtx).get, p.x - lp.x, single)
      tgt.xDiff(xCtx).add(dx)
      val kx = tgt.icDx.lastK
      val dy = tgt.icDy.code(xy, tgt.yDiff(xCtx).get, p.y - lp.y,
        single + (if (kx < 20) kx & 0xFE else 20))
      tgt.yDiff(xCtx).add(dy)

      val z = coders(LZ) match {
        case null => 0
        case zc =>
          val kz = (tgt.icDx.lastK + tgt.icDy.lastK) / 2
          tgt.lastZ(l) = tgt.icZ.code(zc, tgt.lastZ(l), p.z,
            single + (if (kz < 18) kz & 0xFE else 18))
          tgt.lastZ(l)
      }
      val cls = coders(LCls) match {
        case null => 0
        case cc => cc.symbol(ArithmeticModel.at(tgt.mCls,
          ((lp.cls & 31) << 1) | (if (r >= n) 1 else 0), 256), p.cls)
      }
      val f6 = coders(LFlags) match {
        case null => 0
        case fc => fc.symbol(ArithmeticModel.at(tgt.mFlags, lp.flags6, 64), p.flags6)
      }
      val intensity = coders(LIntensity) match {
        case null => 0
        case ic =>
          val cpr = (if (r == 1) 2 else 0) | (if (r >= n) 1 else 0)
          tgt.lastIntensity(cpr) = tgt.icIntensity.code(ic, tgt.lastIntensity(cpr), p.intensity, cpr)
          tgt.lastIntensity(cpr)
      }
      val ang = coders(LAngle) match {
        case null => 0
        case ac => if ((sym & 8) != 0) tgt.icScanAngle.code(ac, lp.scanAngle, p.scanAngle, gbit)
          else lp.scanAngle
      }
      val user = coders(LUser) match {
        case null => 0
        case uc => uc.symbol(ArithmeticModel.at(tgt.mUser, lp.user >>> 2, 256), p.user)
      }
      val psid = coders(LPsid) match {
        case null => 0
        case pc => if ((sym & 32) != 0) tgt.icPsid.code(pc, lp.psid, p.psid, 0) else lp.psid
      }
      val gps = coders(LGps) match {
        case null => 0L
        case gc => if (gpsChanged) tgt.gps.code(gc, p.gpsBits) else lp.gpsBits
      }
      val rgb = coders(LRgb)
      if (rgb != null) tgt.rgb.code(rgb, p.r, p.g, p.b)
      val nir = coders(LNir) match {
        case null => 0
        case nc => tgt.lastNir = tgt.icNir.code(nc, tgt.lastNir, p.nir, 0); tgt.lastNir
      }
      val wave = coders(LWave) match {
        case null => null
        case wc => tgt.waveCodec.code(wc, p.waveOrZero)
      }

      val q = if (xy.encoding) p else Point14(lp.x + dx, lp.y + dy, z, intensity, (n << 4) | r,
        (f6 & 15) | (cur << 4) | ((f6 >>> 4) << 6), cls, user, ang, psid, gps,
        if (rgb == null) 0 else tgt.rgb.r, if (rgb == null) 0 else tgt.rgb.g,
        if (rgb == null) 0 else tgt.rgb.b, nir, wave)
      tgt.prevGpsChanged = gpsChanged
      tgt.last = q
      q
    }
  }

  // ------------------------------------------------ raw record and framing

  private val Blank14 = Point14(0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0L)

  /** The uncompressed LAS 1.4 record of `format`. */
  private def rawPoint14(io: Laz.RawFields, format: Int, p: Point14): Point14 =
    Point14(io.i32(p.x), io.i32(p.y), io.i32(p.z), io.u16(p.intensity),
      io.u8(p.returns), io.u8(p.flags), io.u8(p.cls), io.u8(p.user),
      io.u16(p.scanAngle), io.u16(p.psid), io.i64(p.gpsBits),
      if (hasRgb14(format)) io.u16(p.r) else 0, if (hasRgb14(format)) io.u16(p.g) else 0,
      if (hasRgb14(format)) io.u16(p.b) else 0, if (hasNir14(format)) io.u16(p.nir) else 0,
      if (hasWave14(format)) Laz.rawWave(io, p.waveOrZero) else null)

  /** Encode one layered chunk: raw first point, u32 point count, u32
    * byte count per layer, then the concatenated layer streams. A layer
    * no point touched is zero-length. */
  private[sources] def encodeChunk14(format: Int, points: Array[Point14]): Array[Byte] = {
    require(points.nonEmpty, "empty LAZ chunk")
    val order = layers(format)
    val encs = order.map(_ => new ArithmeticEncoder)
    val coders = new Array[Coder](Slots)
    order.indices.foreach(i => coders(order(i)) = Coder(encs(i)))
    val cc = new ChunkCoder14(format, points(0), coders)
    var i = 1
    while (i < points.length) { cc.code(points(i)); i += 1 }
    val streams = encs.map(e => if (e.isEmpty) Array.emptyByteArray else { e.done(); e.result() })
    val bb = ByteBuffer.allocate(recordLen(format) + 4 + 4 * order.length +
      streams.map(_.length).sum).order(ByteOrder.LITTLE_ENDIAN)
    rawPoint14(new Laz.RawFields(bb, write = true), format, points(0))
    bb.putInt(points.length)
    streams.foreach(l => bb.putInt(l.length))
    streams.foreach(bb.put)
    bb.array()
  }

  /** Decode a layered chunk with the codec [[encodeChunk14]] ran, the
    * first point as placeholder input. Layers excluded by `want` get no
    * coder: they are seeked past, never decoded (fields come back zero). */
  private[sources] def decodeChunk14(format: Int, bytes: Array[Byte], offset: Int,
      count: Int, want: FieldMask = AllFields): Array[Point14] = {
    val order = layers(format)
    val bb = ByteBuffer.wrap(bytes, offset, bytes.length - offset)
      .order(ByteOrder.LITTLE_ENDIAN)
    val out = new Array[Point14](count)
    out(0) = rawPoint14(new Laz.RawFields(bb, write = false), format, Blank14)
    if (count == 1) return out
    val stored = bb.getInt
    require(stored == count,
      s"layered chunk header says $stored points, chunk table says $count")
    val sizes = Array.fill(order.length)(bb.getInt)
    val wanted = Array(true, want.z, want.cls, want.flags, want.intensity, want.scanAngle,
      want.user, want.psid, want.gps, want.rgb, want.nir, want.wave)
    val coders = new Array[Coder](Slots)
    // layer byte counts are untrusted: negative sizes would misalign
    // every following layer, and Int-overflowing sums would wrap past
    // the bounds check — walk in Long and reject each bad length
    var off = (offset + recordLen(format) + 4 + 4 * order.length).toLong
    var i = 0
    while (i < order.length) {
      require(sizes(i) >= 0 && off + sizes(i) <= bytes.length,
        s"layered chunk layer $i (${sizes(i)} bytes at $off) overruns " +
          s"the ${bytes.length}-byte buffer")
      if (wanted(order(i))) coders(order(i)) =
        Coder(new ArithmeticDecoder(bytes, off.toInt, (off + sizes(i)).toInt).init())
      off += sizes(i)
      i += 1
    }
    val cc = new ChunkCoder14(format, out(0), coders)
    i = 1
    while (i < count) { out(i) = cc.code(out(0)); i += 1 }
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
    val info = Las.lazInfo(path)
    require(info.compressor == 3, s"$path: not a layered (compressor 3) file")
    val format = FormatItems.collectFirst { case (f, is) if is == info.items => f }.get
    val chunks = Las.lazChunks(path, info)
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

package graft.sources

/** Adaptive arithmetic coding layer of the LASzip (.laz) codec —
  * implemented from the PUBLIC format documentation: the LAZ
  * specification ("LAZ Specification 1.4", ASPRS/rapidlasso) and
  * Isenburg's "LASzip: lossless compression of LiDAR data" (PE&RS
  * 2013), whose entropy coder is Amir Said's FastAC
  * range-coder family. The reference engine reads .laz transparently
  * via laspy+lazrs (pcsfc/point_processor.py:32); this closes graft's
  * longest-standing format boundary (README "Format boundary: LAZ").
  *
  * Everything here is a from-scratch Scala implementation of the
  * published algorithm: u32 coder state is held in Longs (masked to 32
  * bits), and the decoder does the table-free binary search over the
  * model distribution — bit-identical output to the table-accelerated
  * form, which is a lookup shortcut only.
  *
  * The range encoder and decoder are two classes, being two algorithms;
  * [[Coder]] puts either behind one interface, so every item codec above
  * them is one routine that both directions run.
  *
  * In-sandbox validation is encoder→decoder roundtrip (model-level,
  * corrector-level, point-level, and whole-file; see LazSpec) plus
  * SHA-256 pins of the coded bytes — there is no independent LASzip
  * binary in this environment, so cross-implementation interop is
  * asserted against the spec text, not a second implementation.
  */
private[sources] object Ac {
  final val MinLength = 0x01000000L // renormalize below this interval width
  final val MaxLength = 0xFFFFFFFFL
  final val M32 = 0xFFFFFFFFL
  // general (symbol) models scale counts to 15-bit probabilities,
  // bit models to 13-bit — the published FastAC constants
  final val DmLengthShift = 15
  final val DmMaxCount = 1 << DmLengthShift
  final val BmLengthShift = 13
  final val BmMaxCount = 1 << BmLengthShift
}

/** Adaptive multi-symbol model: scaled cumulative distribution,
  * periodically rebuilt; the update cadence (start at (n+6)/2, grow
  * 5/4×, cap (n+6)·8) is part of the format — both ends must adapt in
  * lockstep for the bitstream to be well-formed. */
private[sources] final class ArithmeticModel(val symbols: Int) {
  val distribution = new Array[Long](symbols)
  val symbolCount = new Array[Int](symbols)
  val lastSymbol = symbols - 1
  var totalCount = 0
  var updateCycle = 0
  var symbolsUntilUpdate = 0

  def init(): this.type = {
    totalCount = 0
    updateCycle = symbols
    java.util.Arrays.fill(symbolCount, 1)
    update()
    updateCycle = (symbols + 6) >> 1
    symbolsUntilUpdate = updateCycle
    this
  }

  def update(): Unit = {
    totalCount += updateCycle
    if (totalCount > Ac.DmMaxCount) { // halve counts, keep them >= 1
      totalCount = 0
      var k = 0
      while (k < symbols) {
        symbolCount(k) = (symbolCount(k) + 1) >> 1
        totalCount += symbolCount(k)
        k += 1
      }
    }
    val scale = 0x80000000L / totalCount
    var sum = 0L
    var k = 0
    while (k < symbols) {
      distribution(k) = (scale * sum) >>> (31 - Ac.DmLengthShift)
      sum += symbolCount(k)
      k += 1
    }
    updateCycle = (5 * updateCycle) >> 2
    val maxCycle = (symbols + 6) << 3
    if (updateCycle > maxCycle) updateCycle = maxCycle
    symbolsUntilUpdate = updateCycle
  }
}

private[sources] object ArithmeticModel {
  /** `models(i)`, created on first use — the per-previous-value byte
    * models of the LAZ codecs. */
  def at(models: Array[ArithmeticModel], i: Int, symbols: Int): ArithmeticModel = {
    if (models(i) == null) models(i) = new ArithmeticModel(symbols).init()
    models(i)
  }
}

/** Adaptive binary model: 13-bit zero-probability, update cadence
  * 4 → 5/4× → cap 64 (published constants). */
private[sources] final class ArithmeticBitModel {
  var bit0Prob = 0L
  var bit0Count = 0
  var bitCount = 0
  var updateCycle = 0
  var bitsUntilUpdate = 0

  def init(): this.type = {
    bit0Count = 1
    bitCount = 2
    bit0Prob = 1L << (Ac.BmLengthShift - 1)
    updateCycle = 4
    bitsUntilUpdate = 4
    this
  }

  def update(): Unit = {
    bitCount += updateCycle
    if (bitCount > Ac.BmMaxCount) {
      bitCount = (bitCount + 1) >> 1
      bit0Count = (bit0Count + 1) >> 1
      if (bit0Count == bitCount) bitCount += 1
    }
    bit0Prob = (bit0Count.toLong << Ac.BmLengthShift) / bitCount
    updateCycle = (5 * updateCycle) >> 2
    if (updateCycle > 64) updateCycle = 64
    bitsUntilUpdate = updateCycle
  }
}

/** Range encoder over an in-memory growable buffer (carry propagation
  * rewrites already-emitted 0xFF runs, so the sink must be seekable
  * until `done()`). One encoder instance per LAZ chunk. */
private[sources] final class ArithmeticEncoder {
  import Ac._
  private var buf = new Array[Byte](1 << 12)
  private var pos = 0
  private var base = 0L
  private var length = MaxLength

  private def emit(b: Long): Unit = {
    if (pos == buf.length) buf = java.util.Arrays.copyOf(buf, buf.length << 1)
    buf(pos) = b.toByte
    pos += 1
  }

  private def propagateCarry(): Unit = {
    var p = pos - 1
    while (buf(p) == -1) { buf(p) = 0; p -= 1 } // 0xFF run rolls over
    buf(p) = (buf(p) + 1).toByte
  }

  private def renorm(): Unit = {
    while ({
      emit(base >>> 24)
      base = (base << 8) & M32
      length = (length << 8) & M32
      length < MinLength
    }) ()
  }

  def encodeBit(m: ArithmeticBitModel, bit: Int): Unit = {
    val x = m.bit0Prob * (length >>> BmLengthShift)
    if (bit == 0) {
      length = x
      m.bit0Count += 1
    } else {
      val initBase = base
      base = (base + x) & M32
      length -= x
      if (initBase > base) propagateCarry()
    }
    if (length < MinLength) renorm()
    m.bitsUntilUpdate -= 1
    if (m.bitsUntilUpdate == 0) m.update()
  }

  def encodeSymbol(m: ArithmeticModel, sym: Int): Unit = {
    val initBase = base
    if (sym == m.lastSymbol) {
      val x = m.distribution(sym) * (length >>> DmLengthShift)
      base = (base + x) & M32
      length -= x
    } else {
      length = length >>> DmLengthShift
      val x = m.distribution(sym) * length
      base = (base + x) & M32
      length = m.distribution(sym + 1) * length - x
    }
    if (initBase > base) propagateCarry()
    if (length < MinLength) renorm()
    m.symbolCount(sym) += 1
    m.symbolsUntilUpdate -= 1
    if (m.symbolsUntilUpdate == 0) m.update()
  }

  /** Raw (model-free) bits; >19 bits split low-16-bits-first like the
    * published coder so both ends agree on the interval walk. */
  def writeBits(bits: Int, value: Long): Unit = {
    if (bits > 19) {
      writeBits(16, value & 0xFFFFL)
      writeBits(bits - 16, value >>> 16)
    } else {
      val initBase = base
      length = length >>> bits
      base = (base + value * length) & M32
      if (initBase > base) propagateCarry()
      if (length < MinLength) renorm()
    }
  }

  /** Terminate: widen to a decodable fixed point and flush (the
    * decoder may legally read up to 3 bytes past what is written —
    * the tail bits are below the resolved interval). */
  def done(): Unit = {
    val initBase = base
    if (length > 2 * MinLength) {
      base = (base + MinLength) & M32
      length = MinLength >>> 1
    } else {
      base = (base + (MinLength >>> 1)) & M32
      length = MinLength >>> 9
    }
    if (initBase > base) propagateCarry()
    renorm()
  }

  def result(): Array[Byte] = java.util.Arrays.copyOf(buf, pos)
  def byteCount: Int = pos

  /** Nothing coded yet: every coding step narrows `length` below its
    * start value or emits a byte. */
  def isEmpty: Boolean = pos == 0 && length == MaxLength
}

/** Range decoder over a byte slice. Reads past `end` return 0 — the
  * encoder's `done()` guarantees those bits cannot change any symbol
  * (FastAC's documented ≤3-byte overread). */
private[sources] final class ArithmeticDecoder(bytes: Array[Byte], start: Int, end: Int) {
  import Ac._
  private var p = start
  private var value = 0L
  private var length = MaxLength

  private def getByte: Long =
    if (p < end) { val b = bytes(p) & 0xFF; p += 1; b.toLong } else 0L

  def init(): this.type = {
    value = (getByte << 24) | (getByte << 16) | (getByte << 8) | getByte
    length = MaxLength
    this
  }

  private def renorm(): Unit = {
    while ({
      value = ((value << 8) | getByte) & M32
      length = (length << 8) & M32
      length < MinLength
    }) ()
  }

  def decodeBit(m: ArithmeticBitModel): Int = {
    val x = m.bit0Prob * (length >>> BmLengthShift)
    val sym = if (value >= x) 1 else 0
    if (sym == 0) {
      length = x
      m.bit0Count += 1
    } else {
      value -= x
      length -= x
    }
    if (length < MinLength) renorm()
    m.bitsUntilUpdate -= 1
    if (m.bitsUntilUpdate == 0) m.update()
    sym
  }

  def decodeSymbol(m: ArithmeticModel): Int = {
    var y = length
    length = length >>> DmLengthShift
    // table-free binary search for the symbol whose scaled interval
    // contains `value` — same result as the decoder-table shortcut
    var sym = 0
    var n = m.symbols
    var x = 0L
    var k = n >>> 1
    while (k != sym) {
      val z = length * m.distribution(k)
      if (z > value) { n = k; y = z }
      else { sym = k; x = z }
      k = (sym + n) >>> 1
    }
    value -= x
    length = y - x
    if (length < MinLength) renorm()
    m.symbolCount(sym) += 1
    m.symbolsUntilUpdate -= 1
    if (m.symbolsUntilUpdate == 0) m.update()
    sym
  }

  def readBits(bits: Int): Long = {
    if (bits > 19) {
      val low = readBits(16)
      val high = readBits(bits - 16)
      (high << 16) | low
    } else {
      length = length >>> bits
      val sym = value / length
      value -= length * sym
      if (length < MinLength) renorm()
      sym
    }
  }
}

/** Either direction of the range coder behind one interface, so each
  * LAZ item codec is one routine that encoding and decoding both run:
  * `symbol`, `bit` and `bits` code a value and return it — encoding
  * writes the value given, decoding ignores it and returns what it
  * reads. Work only the encoder needs (choosing a symbol from the
  * value) is guarded by `encoding`. */
private[sources] final class Coder private (enc: ArithmeticEncoder, dec: ArithmeticDecoder) {
  val encoding: Boolean = enc != null

  def symbol(m: ArithmeticModel, s: Int): Int =
    if (encoding) { enc.encodeSymbol(m, s); s } else dec.decodeSymbol(m)

  def bit(m: ArithmeticBitModel, b: Int): Int =
    if (encoding) { enc.encodeBit(m, b); b } else dec.decodeBit(m)

  def bits(n: Int, v: Long): Long =
    if (encoding) { enc.writeBits(n, v); v } else dec.readBits(n)
}

private[sources] object Coder {
  def apply(enc: ArithmeticEncoder): Coder = new Coder(enc, null)
  def apply(dec: ArithmeticDecoder): Coder = new Coder(null, dec)
}

/** The LASzip k-bit integer corrector: a corrector `c = real - pred`
  * is coded as (k = bit-interval index via a per-context symbol model,
  * then the position inside the interval: low intervals via a
  * dedicated model, high intervals split model-high-bits + raw
  * low-bits). `lastK` feeds the POINT10 coordinate context chaining.
  */
private[sources] final class IntegerCompressor(bits: Int, contexts: Int) {
  private val BitsHigh = 8
  private val corrBits = if (bits > 0 && bits < 32) bits else 32
  private val corrRange: Long = if (bits > 0 && bits < 32) 1L << bits else 0L
  private val corrMin: Int = if (corrRange != 0) (-(corrRange / 2)).toInt else Int.MinValue
  private val corrMax: Int = if (corrRange != 0) (corrMin + corrRange - 1).toInt else Int.MaxValue

  private var mBits: Array[ArithmeticModel] = _
  private var mCorrector0: ArithmeticBitModel = _
  private var mCorrector: Array[ArithmeticModel] = _
  private var lastKVal = 0

  def lastK: Int = lastKVal

  def initModels(): this.type = {
    mBits = Array.fill(contexts)(new ArithmeticModel(corrBits + 1).init())
    mCorrector0 = new ArithmeticBitModel().init()
    mCorrector = new Array[ArithmeticModel](corrBits + 1)
    var i = 1
    while (i <= corrBits) {
      val n = if (i <= BitsHigh) 1 << i else 1 << BitsHigh
      mCorrector(i) = new ArithmeticModel(n).init()
      i += 1
    }
    this
  }

  /** Code `real` against `pred` in `context` and return it, like
    * [[Coder]]: encoding folds the corrector `real - pred` into the
    * `bits`-wide range, decoding wraps the prediction plus corrector
    * back into it; the k-bit scheme between is one routine. */
  def code(c: Coder, pred: Int, real: Int, context: Int): Int =
    if (c.encoding) {
      var corr = real - pred
      if (corrRange != 0) {
        if (corr < corrMin) corr += corrRange.toInt
        else if (corr > corrMax) corr -= corrRange.toInt
      }
      corrector(c, corr, mBits(context))
      real
    } else {
      var v = pred + corrector(c, 0, mBits(context))
      if (corrRange != 0) {
        if (v < 0) v += corrRange.toInt
        else if (v >= corrRange) v -= corrRange.toInt
      }
      v
    }

  private def corrector(c: Coder, corr: Int, mB: ArithmeticModel): Int = {
    // tightest interval [-(2^k - 1), 2^k] containing corr; k == 32 only
    // for corr == Int.MinValue, which the k symbol alone codes
    val k = c.symbol(mB, if (!c.encoding) 0
      else 64 - java.lang.Long.numberOfLeadingZeros(if (corr <= 0) -corr.toLong else corr.toLong - 1))
    lastKVal = k
    if (k == 0) c.bit(mCorrector0, corr)
    else if (k == 32) corrMin
    else {
      // fold into [0, 2^k - 1]: negatives up by 2^k - 1, positives down by 1
      val folded = if (corr < 0) corr + ((1 << k) - 1) else corr - 1
      val f =
        if (k <= BitsHigh) c.symbol(mCorrector(k), folded)
        else { // model-coded high bits, raw low k1 bits
          val k1 = k - BitsHigh
          val high = c.symbol(mCorrector(k), folded >>> k1)
          ((high.toLong << k1) | c.bits(k1, folded & ((1 << k1) - 1))).toInt
        }
      if (f >= (1 << (k - 1))) f + 1 else f - ((1 << k) - 1)
    }
  }
}

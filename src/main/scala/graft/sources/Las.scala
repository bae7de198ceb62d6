package graft.sources

import java.io.{BufferedOutputStream, FileOutputStream, RandomAccessFile}
import java.nio.{ByteBuffer, ByteOrder}
import java.nio.channels.FileChannel
import java.nio.file.{Files, Path, Paths}
import java.util.Comparator

import scala.collection.mutable.ArrayBuffer
import scala.reflect.ClassTag

import org.apache.spark.TaskContext
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{DoubleType, StructField, StructType}

/** LAS 1.x binary point-cloud source/sink (ASPRS LAS 1.0–1.4) — the
  * reference's input format (laspy reads, pcsfc/point_processor.py:32-33)
  * and export format (exporter.py:76-89, fixed pf3 / v1.2 / scale 0.1 /
  * offset 0).
  *
  * This object owns the container for plain LAS and for LAZ alike: the
  * public header (one parser, one writer), the laszip VLR, the LAZ chunk
  * table, the partition-parallel sink and the parallel byte-range scan.
  * [[Laz]] (point formats 0–5), [[Laz14]] (layered 6–10) and `LazV1`
  * (pointwise) hold only point codecs, each one routine that encoding
  * and decoding both run, and pick them for these two paths.
  *
  * Reader design for scale: the header is parsed on the driver; point
  * records are a fixed stride (or LAZ chunks listed by the chunk table),
  * so the file splits into byte ranges — each task seeks into the
  * (shared-storage) file and decodes its own ranges. No whole-file rows,
  * no driver materialization; parallelism = range count.
  */
object Las {

  final case class LasHeader(
      versionMajor: Int, versionMinor: Int,
      pointFormat: Int, recordLen: Int,
      offsetToPoints: Long, pointCount: Long,
      scaleX: Double, scaleY: Double, scaleZ: Double,
      offX: Double, offY: Double, offZ: Double,
      xMin: Double, xMax: Double, yMin: Double, yMax: Double,
      zMin: Double, zMax: Double)

  /** A point set's bounding box, as the header stores it. */
  private[sources] final case class Extent(xMin: Double, xMax: Double,
      yMin: Double, yMax: Double, zMin: Double, zMax: Double) {
    def union(o: Extent): Extent = Extent(math.min(xMin, o.xMin), math.max(xMax, o.xMax),
      math.min(yMin, o.yMin), math.max(yMax, o.yMax), math.min(zMin, o.zMin), math.max(zMax, o.zMax))
  }

  // ----------------------------------------------------------- public header

  /** Header bytes by minor version: 227 through 1.2, 1.3 adds the u64
    * waveform-record start (235), 1.4 the EVLR fields and u64 counts. */
  private def headerSize(minor: Int): Int = if (minor >= 4) 375 else if (minor == 3) 235 else 227

  /** A parsed public header plus what only the container walk needs. */
  private final case class Head(header: LasHeader, compressed: Boolean, headerSize: Int, nVlrs: Int)

  /** The one header parser (S1): bbox + count without touching point
    * data — the reference's FileLoader.get_metadata
    * (pipeline/import_data.py:25-36). Reads LAS 1.0–1.4: the 1.4 header
    * grows to 375 bytes and moves the (now 64-bit) point count to offset
    * 247, with the legacy 32-bit count at 107 allowed to be zero. Bit 7
    * of the point format id is laszip's compression mark. */
  private def parseHeader(path: String): Head = {
    val bb = ByteBuffer.allocate(375).order(ByteOrder.LITTLE_ENDIAN)
    val ch = FileChannel.open(Paths.get(path))
    try while (bb.hasRemaining && ch.read(bb) >= 0) () finally ch.close()
    val avail = bb.position()
    require(avail >= 227, s"$path: truncated LAS header ($avail bytes)")
    val sig = new String(Array(bb.get(0), bb.get(1), bb.get(2), bb.get(3)), "US-ASCII")
    require(sig == "LASF", s"$path: not a LAS file (signature $sig)")
    val versionMinor = bb.get(25) & 0xff
    val rawFormat = bb.get(104) & 0xff
    val legacyCount = bb.getInt(107) & 0xffffffffL
    val pointCount =
      if (versionMinor >= 4 && avail >= 255) {
        val c64 = bb.getLong(247)
        if (c64 > 0) c64 else legacyCount
      } else legacyCount
    val header = LasHeader(
      versionMajor = bb.get(24) & 0xff,
      versionMinor = versionMinor,
      pointFormat = rawFormat & 0x7f,
      recordLen = bb.getShort(105) & 0xffff,
      offsetToPoints = bb.getInt(96) & 0xffffffffL,
      pointCount = pointCount,
      scaleX = bb.getDouble(131), scaleY = bb.getDouble(139), scaleZ = bb.getDouble(147),
      offX = bb.getDouble(155), offY = bb.getDouble(163), offZ = bb.getDouble(171),
      xMax = bb.getDouble(179), xMin = bb.getDouble(187),
      yMax = bb.getDouble(195), yMin = bb.getDouble(203),
      zMax = bb.getDouble(211), zMin = bb.getDouble(219))
    Head(header, (rawFormat & 0x80) != 0, bb.getShort(94) & 0xffff, bb.getInt(100))
  }

  /** Header of an uncompressed file; the compressed-format bit is
    * rejected explicitly — see README "Format boundary: LAZ". */
  def readHeader(path: String): LasHeader = {
    val head = parseHeader(path)
    require(!head.compressed,
      s"$path: compressed LAZ (format bit 7 set) — decompress before ingest (see README)")
    head.header
  }

  /** The one header writer: no file source id or GUID, offsets 0 and one
    * `scale` on every axis. `format` is the raw byte (bit 7 marks laszip
    * compression). Through 1.3 the point count is unsigned 32-bit at 107,
    * repeated as the first-return count at 111. 1.4 (written here for
    * point formats 6–10 only) leaves those legacy counts 0 and stores the
    * count as u64 at 247. */
  private[sources] def writeHeader(minor: Int, format: Int, recordLen: Int, n: Long, nVlrs: Int,
      offsetToPoints: Long, scale: Double, box: Extent): Array[Byte] = {
    require(recordLen >= 0 && recordLen <= 0xffff, s"record length $recordLen does not fit u16")
    require(offsetToPoints <= 0xffffffffL, s"offset to points $offsetToPoints does not fit u32")
    val size = headerSize(minor)
    val h = ByteBuffer.allocate(size).order(ByteOrder.LITTLE_ENDIAN)
    h.put("LASF".getBytes("US-ASCII"))
    h.put(24, 1.toByte).put(25, minor.toByte)
    h.putShort(94, size.toShort)
    h.putInt(96, offsetToPoints.toInt)
    h.putInt(100, nVlrs)
    h.put(104, format.toByte)
    h.putShort(105, recordLen.toShort)
    if (minor >= 4) h.putLong(247, n)
    else {
      require(n >= 0 && n <= 0xffffffffL, s"LAS 1.$minor caps point count at 2^32 - 1; got $n")
      h.putInt(107, n.toInt).putInt(111, n.toInt)
    }
    h.putDouble(131, scale).putDouble(139, scale).putDouble(147, scale)
    h.putDouble(179, box.xMax).putDouble(187, box.xMin)
    h.putDouble(195, box.yMax).putDouble(203, box.yMin)
    h.putDouble(211, box.zMax).putDouble(219, box.zMin)
    h.array()
  }

  // ------------------------------------------------------------- laszip VLR

  private val LaszipUserId = "laszip encoded"
  private val LaszipRecordId = 22204
  private[sources] val VariableChunkSize = 0xFFFFFFFFL

  /** The laszip VLR: its 54-byte record header, then compressor, coder
    * (0, arithmetic), version, options, chunk size, no special EVLRs and
    * the (type, size, version) item list. */
  private[sources] def laszipVlr(compressor: Int, version: (Int, Int), chunkSize: Long,
      items: Seq[(Int, Int, Int)]): Array[Byte] = {
    val payloadLen = 34 + 6 * items.size
    val v = ByteBuffer.allocate(54 + payloadLen).order(ByteOrder.LITTLE_ENDIAN)
    v.position(2)
    v.put(LaszipUserId.getBytes("US-ASCII")) // 14 chars, zero-padded to 16
    v.putShort(18, LaszipRecordId.toShort)
    v.putShort(20, payloadLen.toShort)
    v.position(22)
    v.put("graft laszip writer".getBytes("US-ASCII"))
    v.position(54)
    v.putShort(compressor.toShort).putShort(0.toShort)
    v.put(version._1.toByte).put(version._2.toByte).putShort(0.toShort) // revision 0
    v.putInt(0) // options
    v.putInt(chunkSize.toInt)
    v.putLong(0L) // number of special EVLRs
    v.putLong(-1L) // offset to special EVLRs
    v.putShort(items.size.toShort)
    items.foreach { case (tpe, size, ver) =>
      v.putShort(tpe.toShort).putShort(size.toShort).putShort(ver.toShort)
    }
    v.array()
  }

  /** Header + laszip VLR of a .laz file (driver side, O(KB)). */
  private[sources] def lazInfo(path: String): Laz.LazInfo = {
    val head = parseHeader(path)
    require(head.compressed, s"$path: not compressed — use Las.readPoints")
    val header = head.header
    val raf = new RandomAccessFile(path, "r")
    try {
      // walk VLRs for the laszip record
      var vlrPos = head.headerSize.toLong
      var payload: Array[Byte] = null
      var remaining = head.nVlrs
      while (remaining > 0 && payload == null) {
        raf.seek(vlrPos)
        val vh = new Array[Byte](54)
        raf.readFully(vh)
        val vb = ByteBuffer.wrap(vh).order(ByteOrder.LITTLE_ENDIAN)
        val userId = new String(vh, 2, 16, "US-ASCII").takeWhile(_ != 0)
        val recordId = vb.getShort(18) & 0xFFFF
        val len = vb.getShort(20) & 0xFFFF
        if (userId == LaszipUserId && recordId == LaszipRecordId) {
          payload = new Array[Byte](len)
          raf.readFully(payload)
        } else vlrPos += 54L + len
        if (payload == null) remaining -= 1
      }
      require(payload != null,
        s"$path: laszip VLR (user '$LaszipUserId', record $LaszipRecordId) not found")
      // hostile-length guard: the item table must FIT the VLR payload
      // the length field promised — reject, don't read past it
      require(payload.length >= 34,
        s"$path: laszip VLR payload ${payload.length} bytes, header needs 34")
      val pb = ByteBuffer.wrap(payload).order(ByteOrder.LITTLE_ENDIAN)
      val compressor = pb.getShort(0) & 0xFFFF
      val coder = pb.getShort(2) & 0xFFFF
      require(coder == 0, s"$path: unsupported entropy coder $coder")
      require(compressor == 1 || compressor == 2 || compressor == 3,
        s"$path: unsupported compressor $compressor " +
          "(pointwise=1, pointwise-chunked=2, layered-chunked=3)")
      val chunkSize = pb.getInt(12) & 0xFFFFFFFFL
      val numItems = pb.getShort(32) & 0xFFFF
      require(34 + 6 * numItems <= payload.length,
        s"$path: laszip VLR declares $numItems items but payload is " +
          s"${payload.length} bytes")
      val items = (0 until numItems).map { i =>
        val o = 34 + 6 * i
        ((pb.getShort(o) & 0xFFFF, pb.getShort(o + 2) & 0xFFFF, pb.getShort(o + 4) & 0xFFFF))
      }
      require(items.map(_._2).sum == header.recordLen,
        s"$path: item sizes ${items} disagree with record length ${header.recordLen}")
      if (compressor == 1 || compressor == 2) {
        // point formats 0-3, optionally with ONE trailing BYTE item
        // (the LAZ "extra bytes" payload); item versions must match
        // the compressor generation
        val wantVer = if (compressor == 1) 1 else 2
        val table = if (compressor == 1) Laz.FormatItemsV1 else Laz.FormatItems
        val (fmtItems, extraItems) = items.span(_._1 != Laz.ItemByte)
        require(table.valuesIterator.contains(fmtItems) &&
          extraItems.forall { case (t, sz, v) => t == Laz.ItemByte && v == wantVer && sz > 0 } &&
          extraItems.length <= 1,
          s"$path: unsupported LAZ item set ${items} — point formats " +
            s"${table.keys.toSeq.sorted.mkString("/")} " +
            s"(POINT10/GPSTIME11/RGB12${if (wantVer == 2) "/WAVEPACKET13" else ""}) " +
            s"plus at most one BYTE v$wantVer item")
      }
      else
        require(Laz14.FormatItems.valuesIterator.contains(items),
          s"$path: unsupported layered LAZ item set ${items} — point " +
            "formats 6-8 (POINT14/RGB14/RGBNIR14, all v3) only")

      if (compressor == 1) {
        // pointwise files are ONE arithmetic stream: no chunk-table
        // offset field, points start straight at offsetToPoints
        Laz.LazInfo(header, compressor, 0L, header.offsetToPoints, -1L, items)
      } else {
        raf.seek(header.offsetToPoints)
        val tblBytes = new Array[Byte](8)
        raf.readFully(tblBytes)
        val chunkTableOffset = ByteBuffer.wrap(tblBytes).order(ByteOrder.LITTLE_ENDIAN).getLong
        require(chunkTableOffset > 0 && chunkTableOffset < raf.length(),
          s"$path: chunk table offset $chunkTableOffset out of range (streamed-out tables unsupported)")
        Laz.LazInfo(header, compressor, chunkSize, header.offsetToPoints + 8, chunkTableOffset, items)
      }
    } finally raf.close()
  }

  // ------------------------------------------------------------ chunk table

  /** The chunk table's one encoder: version 0, the chunk count, then each
    * chunk's point count and byte size through one 32-bit corrector
    * (contexts 0 and 1), each predicted by the previous chunk's. */
  private def chunkTable(chunks: Array[(Int, Int)]): Array[Byte] = {
    val head = ByteBuffer.allocate(8).order(ByteOrder.LITTLE_ENDIAN).putInt(0).putInt(chunks.length)
    if (chunks.isEmpty) head.array()
    else {
      val enc = new ArithmeticEncoder
      val c = Coder(enc)
      val ic = new IntegerCompressor(32, 2).initModels()
      var prevCount = 0
      var prevSize = 0
      chunks.foreach { case (count, size) =>
        prevCount = ic.code(c, prevCount, count, 0)
        prevSize = ic.code(c, prevSize, size, 1)
      }
      enc.done()
      head.array() ++ enc.result()
    }
  }

  /** Decode the chunk table → per-chunk (fileOffset, pointCount,
    * byteSize). Fixed-size chunking derives counts from chunk_size;
    * variable chunking reads them from the table (interleaved
    * count,size correctors per the spec). */
  private[sources] def lazChunks(path: String, info: Laz.LazInfo): Array[(Long, Int, Int)] = {
    val raf = new RandomAccessFile(path, "r")
    try {
      if (info.compressor == 1) {
        // pointwise: the whole file is one stream = one pseudo-chunk
        val count = info.header.pointCount
        if (count == 0) return Array.empty
        require(count <= Int.MaxValue, s"$path: implausible point count $count")
        val size = raf.length() - info.pointDataStart
        require(size > 0 && size <= Int.MaxValue,
          s"$path: pointwise stream size $size out of range")
        // plausibility floor of 1/8 bit per coded point: a header
        // claiming billions of points over a few bytes is hostile, and
        // the count sizes decode-side allocations
        require(count <= 64L * size + 64,
          s"$path: $count points implausible for $size coded bytes")
        return Array((info.pointDataStart, count.toInt, size.toInt))
      }
      raf.seek(info.chunkTableOffset)
      val headBytes = new Array[Byte](8)
      raf.readFully(headBytes)
      val hb = ByteBuffer.wrap(headBytes).order(ByteOrder.LITTLE_ENDIAN)
      val version = hb.getInt(0)
      require(version == 0, s"$path: chunk table version $version")
      val nChunks = hb.getInt(4)
      // hostile-count guard: the descriptor array is nChunks-sized, so
      // a negative or absurd count must die HERE, not as a negative-
      // array-size crash or a multi-GB allocation
      require(nChunks >= 0 && nChunks <= (1 << 26),
        s"$path: implausible chunk count $nChunks")
      if (nChunks == 0) return Array.empty
      val bodyLen = raf.length() - info.chunkTableOffset - 8
      // the coded table is ~bytes-per-chunk small; a malformed offset
      // must not trigger a multi-GB allocation
      require(bodyLen >= 0 && bodyLen <= (1L << 28),
        s"$path: implausible chunk table size $bodyLen")
      val body = new Array[Byte](bodyLen.toInt)
      raf.readFully(body)
      val dec = Coder(new ArithmeticDecoder(body, 0, body.length).init())
      val ic = new IntegerCompressor(32, 2).initModels()
      val variable = info.chunkSize == VariableChunkSize
      val out = new Array[(Long, Int, Int)](nChunks)
      var off = info.pointDataStart
      var prevCount = 0
      var prevSize = 0
      var remaining = info.header.pointCount
      var i = 0
      while (i < nChunks) {
        val count =
          if (variable) { prevCount = ic.code(dec, prevCount, 0, 0); prevCount }
          else math.min(info.chunkSize, remaining).toInt
        val size = { prevSize = ic.code(dec, prevSize, 0, 1); prevSize }
        // decoded table entries are untrusted: counts must stay within
        // the header's point total, chunk bytes must tile the region
        // BEFORE the table, and a count the coded bytes cannot
        // plausibly hold (floor: 1/8 bit per point) sizes decode-side
        // allocations — reject each loudly instead of misreading
        require(count >= 0 && count <= remaining,
          s"$path: chunk $i count $count exceeds remaining $remaining points")
        require(size >= 0 && off + size <= info.chunkTableOffset,
          s"$path: chunk $i ($size bytes at $off) overruns the chunk table " +
            s"at ${info.chunkTableOffset}")
        require(count <= 64L * size + 64,
          s"$path: chunk $i claims $count points in $size coded bytes")
        out(i) = (off, count, size)
        off += size
        remaining -= count
        i += 1
      }
      require(remaining == 0,
        s"$path: chunk table covers ${info.header.pointCount - remaining} of ${info.header.pointCount} points")
      out
    } finally raf.close()
  }

  // ------------------------------------------------------------------- scan

  /** The one parallel scan: each task takes `perTask` consecutive
    * (fileOffset, points, bytes) ranges of `path`, reads each range whole
    * and decodes it to rows of `schema`. */
  private[sources] def scan(spark: SparkSession, path: String, schema: StructType,
      ranges: Seq[(Long, Int, Int)], perTask: Int)(
      decode: (Array[Byte], Int) => Iterator[Row]): DataFrame = {
    val groups = ranges.grouped(math.max(1, perTask)).toIndexedSeq
    val rows = spark.sparkContext.parallelize(groups, math.max(groups.length, 1)).flatMap { group =>
      group.iterator.flatMap { case (offset, count, size) =>
        val bytes = new Array[Byte](size)
        val raf = new RandomAccessFile(path, "r")
        try { raf.seek(offset); raf.readFully(bytes) } finally raf.close()
        decode(bytes, count)
      }
    }
    spark.createDataFrame(rows, schema)
  }

  val pointSchema: StructType = StructType(Seq(
    StructField("x", DoubleType, nullable = false),
    StructField("y", DoubleType, nullable = false),
    StructField("z", DoubleType, nullable = false)))

  /** Distributed full scan (S2): DataFrame[x, y, z] in world coordinates
    * (int32 grid * scale + offset, like laspy's las.x/y/z). Point
    * formats 0–10: every LAS record layout through v1.4 keeps the
    * int32 x, y, z triple at record offsets 0/4/8 (only the attribute
    * tail differs), so the fixed-stride chunk decode is
    * format-agnostic given recordLen from the header. */
  def readPoints(spark: SparkSession, path: String,
      recordsPerChunk: Int = 2 << 20): DataFrame = {
    val h = readHeader(path)
    require(h.pointFormat <= 10, s"unsupported point format ${h.pointFormat}")
    // header length fields are untrusted: the promised point region
    // must actually exist in the file (reject truncation up front, not
    // as a mid-scan EOF in task 37), and the per-chunk buffer math
    // must not overflow Int for a hostile recordLen
    require(h.recordLen >= 12, s"$path: record length ${h.recordLen} < 12")
    val fileLen = java.nio.file.Files.size(Paths.get(path))
    // division form: immune to Long overflow on a hostile point count
    require(h.pointCount >= 0 && h.offsetToPoints <= fileLen &&
      h.pointCount <= (fileLen - h.offsetToPoints) / h.recordLen,
      s"$path: header promises ${h.pointCount} x ${h.recordLen}-byte points " +
        s"at ${h.offsetToPoints} but the file is $fileLen bytes")
    val perChunk = math.max(1, math.min(recordsPerChunk.toLong,
      (1L << 28) / h.recordLen)).toInt
    val nChunks = ((h.pointCount + perChunk - 1) / perChunk).toInt
    val ranges = (0 until nChunks).map { c =>
      val first = c.toLong * perChunk
      val count = math.min(perChunk.toLong, h.pointCount - first).toInt
      (h.offsetToPoints + first * h.recordLen, count, count * h.recordLen)
    }
    scan(spark, path, pointSchema, ranges, perTask = 1) { (bytes, count) =>
      val bb = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
      (0 until count).iterator.map { i =>
        val base = i * h.recordLen
        Row(
          bb.getInt(base) * h.scaleX + h.offX,
          bb.getInt(base + 4) * h.scaleY + h.offY,
          bb.getInt(base + 8) * h.scaleZ + h.offZ)
      }
    }
  }

  // ------------------------------------------------------------------- sink

  /** A world coordinate on the int32 grid of `scale` (offset 0). A value
    * the grid cannot hold is rejected, never wrapped. */
  private def grid(v: Double, scale: Double, axis: String): Int = {
    val g = math.round(v / scale)
    require(!v.isNaN && g >= Int.MinValue && g <= Int.MaxValue,
      s"$axis = $v does not fit the LAS int32 grid at scale $scale")
    g.toInt
  }

  /** How a format encodes points: `point` builds one from the grid x, y,
    * z and the sink's row (x, y, z, then the format's own columns), and
    * `encode` turns up to `chunkPoints` consecutive points into bytes. */
  private[sources] abstract class ChunkEncoder[P](val chunkPoints: Int)(implicit val tag: ClassTag[P])
      extends Serializable {
    def point(x: Int, y: Int, z: Int, row: InternalRow): P
    def encode(points: Array[P]): Array[Byte]
  }

  /** A sink's container: header version, point format, record length and
    * the laszip VLR (none for plain LAS). With `chunkTable` the points
    * are preceded by the 8-byte offset of the chunk table that ends the
    * file. */
  private[sources] final case class Layout(minor: Int, pointFormat: Int, recordLen: Int,
      vlr: Array[Byte] = Array.emptyByteArray, chunkTable: Boolean = false)

  /** One partition's side file: (points, bytes) per chunk and the
    * extent of its points. */
  private final case class Part(chunks: Array[(Int, Int)], extent: Extent)

  /** The sink's task: quantize one partition's rows and encode them
    * chunk by chunk into `side/part-<partition>.bin`; None when the
    * partition is empty. A named class, not a closure, so submitting the
    * job costs no closure cleaning (which re-reads class files). */
  private final class EncodeTask[P](side: String, path: String, scale: Double,
      enc: ChunkEncoder[P]) extends ((TaskContext, Iterator[InternalRow]) => Option[Part])
      with Serializable {
    def apply(ctx: TaskContext, rows: Iterator[InternalRow]): Option[Part] =
      if (!rows.hasNext) None
      else {
        var xMin = Double.MaxValue; var xMax = Double.MinValue
        var yMin = Double.MaxValue; var yMax = Double.MinValue
        var zMin = Double.MaxValue; var zMax = Double.MinValue
        val chunks = Array.newBuilder[(Int, Int)]
        val buf = ArrayBuffer.empty[P]
        val out = new BufferedOutputStream(
          new FileOutputStream(f"$side/part-${ctx.partitionId()}%05d.bin"), 1 << 20)
        def flush(): Unit = if (buf.nonEmpty) {
          val bytes = enc.encode(buf.toArray(enc.tag))
          out.write(bytes)
          chunks += ((buf.length, bytes.length))
          buf.clear()
        }
        try {
          rows.foreach { r =>
            require(!r.anyNull, s"a null among the columns written to $path")
            val (x, y, z) = (r.getDouble(0), r.getDouble(1), r.getDouble(2))
            xMin = math.min(xMin, x); xMax = math.max(xMax, x)
            yMin = math.min(yMin, y); yMax = math.max(yMax, y)
            zMin = math.min(zMin, z); zMax = math.max(zMax, z)
            buf += enc.point(grid(x, scale, "x"), grid(y, scale, "y"), grid(z, scale, "z"), r)
            if (buf.length == enc.chunkPoints) flush()
          }
          flush()
        } finally out.close()
        Some(Part(chunks.result(), Extent(xMin, xMax, yMin, yMax, zMin, zMax)))
      }
  }

  /** The one sink. Each partition quantizes its points, tracks their
    * extent, and encodes them chunk by chunk into its own side file
    * ([[EncodeTask]]), returning only (points, bytes) per chunk and the
    * extent, all in one job. The driver folds those, writes header +
    * VLR, splices the side files in partition order with zero-copy
    * channel transfers and, for chunked LAZ, appends the chunk table and
    * patches its offset. Point records never pass through the driver,
    * so driver memory stays O(partitions + chunks). Returns the number
    * of points written. */
  private[sources] def sink[P](df: DataFrame, path: String, scale: Double, layout: Layout,
      columns: Seq[Column], enc: ChunkEncoder[P]): Long = {
    val sideDir = Files.createDirectories(Paths.get(path + ".chunks"))
    val side = sideDir.toString
    val cols = Seq("x", "y", "z").map(c => col(c).cast(DoubleType)) ++ columns
    try {
      val rows = df.select(cols: _*).queryExecution.toRdd
      val results = new Array[Option[Part]](rows.getNumPartitions)
      df.sparkSession.sparkContext.runJob(rows, new EncodeTask(side, path, scale, enc),
        results.indices, (pid: Int, part: Option[Part]) => results(pid) = part)
      val parts = results.indices.toArray.flatMap(pid => results(pid).map(pid -> _))

      val chunks = parts.flatMap(_._2.chunks)
      val n = chunks.map(_._1.toLong).sum
      val box = if (n == 0) Extent(0, 0, 0, 0, 0, 0) else parts.map(_._2.extent).reduce(_ union _)
      val compressed = layout.vlr.nonEmpty
      val offsetToPoints = headerSize(layout.minor) + layout.vlr.length
      val out = new FileOutputStream(path)
      try {
        out.write(writeHeader(layout.minor, (if (compressed) 0x80 else 0) | layout.pointFormat,
          layout.recordLen, n, if (compressed) 1 else 0, offsetToPoints, scale, box))
        out.write(layout.vlr)
        if (layout.chunkTable) out.write(new Array[Byte](8)) // patched once the table lands
        val dst = out.getChannel
        parts.foreach { case (pid, written) =>
          val part = Paths.get(f"$side/part-$pid%05d.bin")
          val src = FileChannel.open(part)
          try {
            val len = src.size()
            val want = written.chunks.map(_._2.toLong).sum
            require(len == want, s"$part: $len bytes, expected $want")
            var pos = 0L
            while (pos < len) pos += dst.transferFrom(src, dst.position() + pos, len - pos)
            dst.position(dst.position() + len)
          } finally src.close()
          Files.delete(part)
        }
        if (layout.chunkTable) {
          val tableOffset = dst.position()
          out.write(chunkTable(chunks))
          val patch = ByteBuffer.allocate(8).order(ByteOrder.LITTLE_ENDIAN).putLong(0, tableOffset)
          while (patch.hasRemaining) dst.write(patch, offsetToPoints + patch.position())
        }
      } finally out.close()
      n
    } finally removeTree(sideDir)
  }

  /** Best-effort removal of a side-file directory: after a failed job
    * its cancelled tasks may still be writing, and the job's own error
    * is the one to report. */
  private[sources] def removeTree(dir: Path): Unit =
    try {
      val tree = Files.walk(dir)
      try tree.sorted(Comparator.reverseOrder[Path]()).forEach(p => Files.deleteIfExists(p))
      finally tree.close()
    } catch { case _: java.io.IOException => () }

  private val Pf3RecordLen = 34

  /** Point-format-3 records with only the grid x, y, z set: intensity
    * through point source id, GPS time and RGB stay zero. */
  private final case class Grid(x: Int, y: Int, z: Int)

  private object Pf3Encoder extends ChunkEncoder[Grid](1 << 15) {
    def point(x: Int, y: Int, z: Int, row: InternalRow): Grid = Grid(x, y, z)
    def encode(points: Array[Grid]): Array[Byte] = {
      val bb = ByteBuffer.allocate(points.length * Pf3RecordLen).order(ByteOrder.LITTLE_ENDIAN)
      var i = 0
      while (i < points.length) {
        val p = points(i)
        bb.putInt(i * Pf3RecordLen, p.x).putInt(i * Pf3RecordLen + 4, p.y)
          .putInt(i * Pf3RecordLen + 8, p.z)
        i += 1
      }
      bb.array()
    }
  }

  /** LAS export sink (S10): stream a (x, y, z) result to one .las file
    * with the reference exporter's fixed header (point format 3,
    * version 1.2, scales [0.1, 0.1, 0.1], offsets [0, 0, 0] —
    * exporter.py:78-80). Unlike the reference's fetchall -> laspy write
    * (exporter.py:70-89), the records are encoded executor-parallel by
    * [[sink]]; LAS records have no per-record framing, so the side files
    * concatenate byte-for-byte. Returns the number of points written. */
  def writePoints(df: DataFrame, path: String,
      scale: Double = 0.1): Long =
    sink(df, path, scale, Layout(2, 3, Pf3RecordLen), Nil, Pf3Encoder)

  /** Directory import (S3): union of per-file scans + folded metadata —
    * DirLoader semantics (pipeline/import_data.py:76-99) without the
    * reference's per-file sequential loop: Spark reads all files in one
    * distributed job. Mixed .las/.laz directories dispatch per file,
    * like laspy behind the reference (point_processor.py:32). */
  def readDir(spark: SparkSession, dir: String): DataFrame = {
    val files = lasFiles(dir)
    files.map { f =>
      val df =
        if (f.toLowerCase.endsWith(".laz")) Laz.readPoints(spark, f)
        else readPoints(spark, f)
      // project to the common coordinate surface: per-format extras
      // (extra_bytes, wavepacket wp_*) vary per FILE, and a mixed
      // directory must still union — the DirLoader contract is the
      // point multiset, per-file attribute reads go through
      // Laz.readPoints / Laz14.readPoints14 directly
      df.select(df.col("x"), df.col("y"), df.col("z"))
    }.reduce(_.unionAll(_))
  }

  private def lasFiles(dir: String): Array[String] = {
    val files = Files.list(Paths.get(dir)).toArray.map(_.toString)
      .filter(f => f.toLowerCase.endsWith(".las") || f.toLowerCase.endsWith(".laz"))
      .sorted
    require(files.nonEmpty, s"no .las/.laz files in $dir")
    files
  }

  /** Directory metadata fold (A3): sum of point counts, min/max of the
    * per-file header bboxes — DirLoader.get_metadata semantics
    * (pipeline/import_data.py:76-99), computed from headers only (no
    * point data), with the reference's min/max mixup fixed (SURVEY
    * §2.8: import_data.py:97 derives the split from round(x_min),
    * y_max instead of the max coords). */
  def dirMetadata(dir: String): LasHeader = {
    val hs = lasFiles(dir).map { f =>
      if (f.toLowerCase.endsWith(".laz")) lazInfo(f).header else readHeader(f)
    }
    hs.reduce { (a, b) =>
      a.copy(pointCount = a.pointCount + b.pointCount,
        xMin = math.min(a.xMin, b.xMin), xMax = math.max(a.xMax, b.xMax),
        yMin = math.min(a.yMin, b.yMin), yMax = math.max(a.yMax, b.yMax),
        zMin = math.min(a.zMin, b.zMin), zMax = math.max(a.zMax, b.zMax))
    }
  }
}

package graft.sources

import java.io.{BufferedOutputStream, DataOutputStream, FileOutputStream, RandomAccessFile}
import java.nio.{ByteBuffer, ByteOrder}
import java.nio.channels.FileChannel
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.{DoubleType, StructField, StructType}

/** LAS 1.x binary point-cloud source/sink (ASPRS LAS 1.2 spec, point
  * formats 0–3) — the reference's input format (laspy reads,
  * pcsfc/point_processor.py:32-33) and export format (exporter.py:76-89,
  * fixed pf3 / v1.2 / scale 0.1 / offset 0).
  *
  * Reader design for scale: the 227-byte public header is parsed on the
  * driver; point records are a fixed stride, so the file splits into
  * arbitrary record-aligned chunks — each task seeks into the (shared-
  * storage) file and decodes its own range. No whole-file rows, no
  * driver materialization; parallelism = chunk count.
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

  /** Driver-side header scan (S1): bbox + count without touching point
    * data — the reference's FileLoader.get_metadata
    * (pipeline/import_data.py:25-36). Reads LAS 1.0–1.4: the 1.4
    * header grows to 375 bytes and moves the (now 64-bit) point count
    * to offset 247, with the legacy 32-bit count at 107 allowed to be
    * zero; the compressed-format bit (laszip sets bit 7 of the point
    * format id) is rejected explicitly — see README "Format boundary:
    * LAZ". */
  def readHeader(path: String): LasHeader = {
    val bytes = {
      val ch = FileChannel.open(Paths.get(path))
      try {
        val buf = ByteBuffer.allocate(375)
        var n = 0
        var eof = false
        while (n < 375 && !eof) {
          val r = ch.read(buf)
          if (r < 0) eof = true else n += r
        }
        require(n >= 227, s"$path: truncated LAS header ($n bytes)")
        buf.flip(); buf
      } finally ch.close()
    }
    bytes.order(ByteOrder.LITTLE_ENDIAN)
    val sig = new String(Array(bytes.get(0), bytes.get(1), bytes.get(2), bytes.get(3)))
    require(sig == "LASF", s"$path: not a LAS file (signature $sig)")
    val versionMinor = bytes.get(25) & 0xff
    val rawFormat = bytes.get(104) & 0xff
    require((rawFormat & 0x80) == 0,
      s"$path: compressed LAZ (format bit 7 set) — decompress before ingest (see README)")
    val legacyCount = bytes.getInt(107) & 0xffffffffL
    val pointCount =
      if (versionMinor >= 4 && bytes.limit() >= 255) {
        val c64 = bytes.getLong(247)
        if (c64 > 0) c64 else legacyCount
      } else legacyCount
    LasHeader(
      versionMajor = bytes.get(24) & 0xff,
      versionMinor = versionMinor,
      pointFormat = rawFormat,
      recordLen = bytes.getShort(105) & 0xffff,
      offsetToPoints = bytes.getInt(96) & 0xffffffffL,
      pointCount = pointCount,
      scaleX = bytes.getDouble(131), scaleY = bytes.getDouble(139), scaleZ = bytes.getDouble(147),
      offX = bytes.getDouble(155), offY = bytes.getDouble(163), offZ = bytes.getDouble(171),
      xMax = bytes.getDouble(179), xMin = bytes.getDouble(187),
      yMax = bytes.getDouble(195), yMin = bytes.getDouble(203),
      zMax = bytes.getDouble(211), zMin = bytes.getDouble(219))
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
    val safe = spark.sparkContext
      .parallelize(0 until math.max(nChunks, 1), math.max(nChunks, 1))
      .mapPartitions { it =>
        it.flatMap { chunk =>
          val first = chunk.toLong * perChunk
          val count = math.max(0, math.min(perChunk.toLong, h.pointCount - first)).toInt
          if (count == 0) Iterator.empty
          else {
            val raf = new RandomAccessFile(path, "r")
            val buf = new Array[Byte](count * h.recordLen)
            try {
              raf.seek(h.offsetToPoints + first * h.recordLen)
              raf.readFully(buf)
            } finally raf.close()
            val bb = ByteBuffer.wrap(buf).order(ByteOrder.LITTLE_ENDIAN)
            (0 until count).iterator.map { i =>
              val base = i * h.recordLen
              Row(
                bb.getInt(base) * h.scaleX + h.offX,
                bb.getInt(base + 4) * h.scaleY + h.offY,
                bb.getInt(base + 8) * h.scaleZ + h.offZ)
            }
          }
        }
      }
    spark.createDataFrame(safe, pointSchema)
  }

  private val Pf3RecordLen = 34 // point format 3

  /** The 227-byte LAS 1.2 header of a point-format-3 file with no
    * VLRs. The point count field is unsigned 32-bit, so `n` up to
    * 2^32 − 1 is legal; `n.toInt` stores its low 32 bits. */
  private[graft] def header12(n: Long, scale: Double, xMin: Double, xMax: Double,
      yMin: Double, yMax: Double, zMin: Double, zMax: Double): Array[Byte] = {
    require(n <= 0xFFFFFFFFL, s"LAS 1.2 caps point count at 2^32 - 1; got $n")
    val header = ByteBuffer.allocate(227).order(ByteOrder.LITTLE_ENDIAN)
    header.put("LASF".getBytes)
    header.putShort(4, 0) // file source id
    header.put(24, 1.toByte).put(25, 2.toByte) // v1.2
    header.putShort(94, 227.toShort) // header size
    header.putInt(96, 227) // offset to point data
    header.putInt(100, 0) // no VLRs
    header.put(104, 3.toByte) // point format 3
    header.putShort(105, Pf3RecordLen.toShort)
    header.putInt(107, n.toInt)
    header.putInt(111, n.toInt) // returns[0]
    header.putDouble(131, scale).putDouble(139, scale).putDouble(147, scale)
    header.putDouble(155, 0.0).putDouble(163, 0.0).putDouble(171, 0.0)
    header.putDouble(179, xMax).putDouble(187, xMin)
    header.putDouble(195, yMax).putDouble(203, yMin)
    header.putDouble(211, zMax).putDouble(219, zMin)
    header.array()
  }

  /** LAS export sink (S10): stream a (x, y, z) result to one .las file
    * with the reference exporter's fixed header (point format 3,
    * version 1.2, scales [0.1, 0.1, 0.1], offsets [0, 0, 0] —
    * exporter.py:78-80).
    *
    * Unlike the reference's fetchall -> laspy write (exporter.py:70-89),
    * the point records never pass through the driver: each partition
    * encodes its own fixed-stride record chunk to shared storage and
    * returns only (count, bbox) stats; the driver then writes the
    * 227-byte header and splices the chunks in partition order with
    * zero-copy channel transfers. LAS records have no per-record
    * framing, so chunk files concatenate byte-for-byte — a whole-cloud
    * dump is executor-parallel and driver memory stays O(partitions). */
  def writePoints(df: DataFrame, path: String,
      scale: Double = 0.1): Unit = {
    val chunkDir = Paths.get(path + ".chunks")
    Files.createDirectories(chunkDir)
    val chunkPrefix = chunkDir.toString
    val recordLen = Pf3RecordLen
    // (partitionId, count, xMin, xMax, yMin, yMax, zMin, zMax) per
    // non-empty partition — the only data that reaches the driver.
    val stats = df.select("x", "y", "z").rdd.mapPartitionsWithIndex { (pid, it) =>
      if (!it.hasNext) Iterator.empty
      else {
        var n = 0L
        var xMin = Double.MaxValue; var xMax = Double.MinValue
        var yMin = Double.MaxValue; var yMax = Double.MinValue
        var zMin = Double.MaxValue; var zMax = Double.MinValue
        val out = new DataOutputStream(new BufferedOutputStream(
          new FileOutputStream(f"$chunkPrefix/part-$pid%05d.bin"), 1 << 20))
        try {
          val rec = new Array[Byte](recordLen)
          val bb = ByteBuffer.wrap(rec).order(ByteOrder.LITTLE_ENDIAN)
          it.foreach { r =>
            val (x, y, z) = (r.getDouble(0), r.getDouble(1), r.getDouble(2))
            xMin = math.min(xMin, x); xMax = math.max(xMax, x)
            yMin = math.min(yMin, y); yMax = math.max(yMax, y)
            zMin = math.min(zMin, z); zMax = math.max(zMax, z)
            bb.putInt(0, math.round(x / scale).toInt)
            bb.putInt(4, math.round(y / scale).toInt)
            bb.putInt(8, math.round(z / scale).toInt)
            // intensity..point source id + gps + rgb stay zero
            out.write(rec)
            n += 1
          }
        } finally out.close()
        Iterator.single((pid, n, xMin, xMax, yMin, yMax, zMin, zMax))
      }
    }.collect().sortBy(_._1)

    val n = stats.map(_._2).sum
    val (xMin, xMax, yMin, yMax, zMin, zMax) =
      if (n == 0) (0.0, 0.0, 0.0, 0.0, 0.0, 0.0)
      else (stats.map(_._3).min, stats.map(_._4).max,
        stats.map(_._5).min, stats.map(_._6).max,
        stats.map(_._7).min, stats.map(_._8).max)

    val header = header12(n, scale, xMin, xMax, yMin, yMax, zMin, zMax)

    val out = new FileOutputStream(path)
    try {
      out.write(header)
      val dst = out.getChannel
      stats.foreach { case (pid, cnt, _, _, _, _, _, _) =>
        val chunk = Paths.get(f"$chunkPrefix/part-$pid%05d.bin")
        val src = FileChannel.open(chunk)
        try {
          val len = src.size()
          require(len == cnt * recordLen,
            s"$chunk: ${len} bytes, expected ${cnt * recordLen}")
          var pos = 0L
          while (pos < len) pos += dst.transferFrom(src, dst.position() + pos, len - pos)
          dst.position(dst.position() + len)
        } finally src.close()
        Files.delete(chunk)
      }
    } finally out.close()
    Files.delete(chunkDir)
  }

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
      if (f.toLowerCase.endsWith(".laz")) Laz.readInfo(f).header else readHeader(f)
    }
    hs.reduce { (a, b) =>
      a.copy(pointCount = a.pointCount + b.pointCount,
        xMin = math.min(a.xMin, b.xMin), xMax = math.max(a.xMax, b.xMax),
        yMin = math.min(a.yMin, b.yMin), yMax = math.max(a.yMax, b.yMax),
        zMin = math.min(a.zMin, b.zMin), zMax = math.max(a.zMax, b.zMax))
    }
  }
}

package graft.sources

import java.nio.file.{Files, Paths, StandardOpenOption}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Adversarial-input hardening for the codec readers: a 100 TB ingest
  * reads files the pipeline didn't write, so every untrusted length
  * field (LAZ chunk tables and VLR item counts, layered-chunk layer
  * sizes, FLAC sample totals and seekpoints, LAS record geometry) must
  * die as a loud clean rejection — never a negative-array crash, a
  * multi-GB allocation, a hang, or a silent misread. Mirrors the
  * Mp4Codec hostile-length treatment. */
class AdversarialInputsSpec extends AnyFunSuite with TempDir {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def patch(path: String, off: Long, bytes: Array[Byte]): Unit = {
    val ch = java.nio.channels.FileChannel.open(Paths.get(path),
      StandardOpenOption.WRITE)
    try { ch.position(off); ch.write(java.nio.ByteBuffer.wrap(bytes)) }
    finally ch.close()
  }

  private def leInt(v: Int): Array[Byte] =
    Array[Byte](v.toByte, (v >> 8).toByte, (v >> 16).toByte, (v >> 24).toByte)

  private def writeSmallLaz(path: String): Laz.LazInfo = {
    import spark.implicits._
    val pts = (0 until 500).map(i => (i * 0.1, i * 0.2, i * 0.3))
    Laz.writePoints(pts.toDF("x", "y", "z"), path, chunkPoints = 100)
    Las.lazInfo(path)
  }

  test("LAZ: negative and absurd chunk counts are rejected, not allocated") {
    val path = tmp("adv_count.laz")
    val info = writeSmallLaz(path)
    for (bad <- Seq(-5, Int.MaxValue)) {
      patch(path, info.chunkTableOffset + 4, leInt(bad))
      val e = intercept[IllegalArgumentException](
        Las.lazChunks(path, Las.lazInfo(path)))
      assert(e.getMessage.contains("chunk count"), e.getMessage)
    }
  }

  test("LAZ: chunk-table offset outside the file is rejected at open") {
    val path = tmp("adv_off.laz")
    val info = writeSmallLaz(path)
    val fileLen = Files.size(Paths.get(path))
    patch(path, info.pointDataStart - 8,
      leInt((fileLen + 100).toInt) ++ leInt(0))
    val e = intercept[IllegalArgumentException](Las.lazInfo(path))
    assert(e.getMessage.contains("out of range"), e.getMessage)
  }

  test("LAZ: lying chunk counts (more entries than the table holds) die " +
      "in the per-entry guards") {
    val path = tmp("adv_extra.laz")
    val info = writeSmallLaz(path)
    // claim 50 chunks where the coded table holds 5: the decoder walks
    // into garbage and the count/size/tiling requires must catch it
    patch(path, info.chunkTableOffset + 4, leInt(50))
    val e = intercept[IllegalArgumentException](
      Las.lazChunks(path, Las.lazInfo(path)))
    assert(e.getMessage.contains("chunk"), e.getMessage)
  }

  test("LAZ: hostile VLR item count cannot read past the payload") {
    val path = tmp("adv_vlr.laz")
    writeSmallLaz(path)
    val all = Files.readAllBytes(Paths.get(path))
    val sig = "laszip encoded".getBytes("US-ASCII")
    val idx = all.indexOfSlice(sig)
    assert(idx > 0, "laszip VLR user id not found in written file")
    val numItemsOff = (idx - 2) + 54 + 32
    patch(path, numItemsOff, Array[Byte](0xFF.toByte, 0xFF.toByte))
    val e = intercept[IllegalArgumentException](Las.lazInfo(path))
    assert(e.getMessage.contains("items"), e.getMessage)
  }

  test("LAZ14: oversized and negative layer byte counts are rejected " +
      "before any layer is decoded") {
    val pts = Array.tabulate(5)(i => Laz14.Point14(
      i, 2 * i, 3 * i, i, 0x11, 0, 0, 0, 0, 0, i.toLong))
    val good = Laz14.encodeChunk14(6, pts)
    // pf6 record = 30 bytes, stored count 4 bytes -> layer sizes at 34
    for (bad <- Seq(Int.MaxValue, -7)) {
      val evil = good.clone()
      System.arraycopy(leInt(bad), 0, evil, 34, 4)
      val e = intercept[IllegalArgumentException](
        Laz14.decodeChunk14(6, evil, 0, 5))
      assert(e.getMessage.contains("overruns"), e.getMessage)
    }
  }

  test("FLAC: an absurd STREAMINFO sample total is rejected before " +
      "allocation, not truncated into one") {
    val pcm = Array.tabulate(2000)(i => (math.sin(i * 0.1) * 5000).toInt)
    val bytes = Flac.encode(pcm, blockSize = 1024)
    // STREAMINFO: rate(20)+ch(3)+bps(5) end at byte 21 bit 4; the
    // 36-bit total occupies the low nibble of byte 21 + bytes 22..25
    val evil = bytes.clone()
    evil(21) = (evil(21) | 0x0F).toByte
    evil(22) = 0xFF.toByte; evil(23) = 0xFF.toByte
    evil(24) = 0xFF.toByte; evil(25) = 0xFF.toByte
    val e = intercept[IllegalArgumentException](Flac.decode(evil))
    assert(e.getMessage.contains("implausible totalSamples"), e.getMessage)
  }

  test("FLAC: hostile seekpoint offsets cannot define a task read span") {
    import spark.implicits._
    val path = tmp("adv_seek.flac")
    val pcm = (0 until 8192).map(i => (i.toLong, (math.sin(i * 0.05) * 8000).toInt))
    Flac.writeSamples(pcm.toDF("idx", "value"), path, blockSize = 1024)
    // first seekpoint entry starts at 46; its 8-byte offset at 54
    patch(path, 54, Array.fill[Byte](8)(0x7F))
    val e = intercept[IllegalArgumentException](
      Flac.readSamples(spark, path).count())
    assert(e.getMessage.contains("hostile seekpoint"), e.getMessage)
  }

  test("LAZ: single-byte corruption anywhere terminates quickly — throw " +
      "or garbage, never hang or OOM") {
    val path = tmp("adv_fuzz.laz")
    writeSmallLaz(path)
    val good = Files.readAllBytes(Paths.get(path))
    val rnd = new scala.util.Random(47)
    val evilPath = tmp("adv_fuzz_mut.laz")
    (0 until 60).foreach { _ =>
      val evil = good.clone()
      evil(rnd.nextInt(evil.length)) = rnd.nextInt(256).toByte
      Files.write(Paths.get(evilPath), evil)
      val t0 = System.nanoTime()
      try {
        val info = Las.lazInfo(evilPath)
        val chunks = Las.lazChunks(evilPath, info)
        // decode the first chunk if the tables survived — bounded work
        chunks.headOption.foreach { case (off, count, size) =>
          val raf = new java.io.RandomAccessFile(evilPath, "r")
          try {
            val b = new Array[Byte](size)
            raf.seek(off); raf.readFully(b)
            Laz.decodeChunk(0, b, 0, count)
          } finally raf.close()
        }
      } catch { case _: Exception => () } // loud rejection is fine
      assert((System.nanoTime() - t0) / 1e9 < 10.0, "fuzzed decode hung")
    }
    // truncations at assorted prefix lengths: header reads must fail
    // cleanly (EOF/require), never loop
    (1 until 20).foreach { i =>
      Files.write(Paths.get(evilPath), good.take(good.length * i / 20))
      try { Las.lazChunks(evilPath, Las.lazInfo(evilPath)); () }
      catch { case _: Exception => () }
    }
  }

  test("FLAC: single-byte corruption anywhere terminates quickly") {
    val pcm = Array.tabulate(3000)(i => (math.sin(i * 0.07) * 6000).toInt)
    val good = Flac.encode(pcm, blockSize = 512)
    val rnd = new scala.util.Random(53)
    (0 until 120).foreach { _ =>
      val evil = good.clone()
      evil(rnd.nextInt(evil.length)) = rnd.nextInt(256).toByte
      val t0 = System.nanoTime()
      try { Flac.decode(evil); () }
      catch { case _: Exception => () }
      assert((System.nanoTime() - t0) / 1e9 < 10.0, "fuzzed decode hung")
    }
    (0 until good.length by 97).foreach { n =>
      try { Flac.decode(good.take(n)); () }
      catch { case _: Exception => () }
    }
  }

  test("FLAC: spec-valid placeholder seekpoints are skipped, not hostile") {
    import spark.implicits._
    val path = tmp("adv_placeholder.flac")
    val pcm = (0 until 4096).map(i => (i.toLong, (math.sin(i * 0.05) * 8000).toInt))
    Flac.writeSamples(pcm.toDF("idx", "value"), path, blockSize = 1024)
    val before = Flac.readSamples(spark, path).count()
    // patch the LAST seekpoint to a placeholder (sample = all-ones,
    // offset 0, n 0) — the libFLAC padding convention; its frames drop
    // out of the span list but the file must still read cleanly
    val info = Flac.parseInfo(java.nio.file.Files.readAllBytes(Paths.get(path)))
    val lastEntry = 46L + (info.seekpoints.length - 1) * 18L
    patch(path, lastEntry, Array.fill[Byte](8)(0xFF.toByte) ++
      Array.fill[Byte](10)(0))
    val after = Flac.readSamples(spark, path).count()
    assert(after > 0 && after < before, s"$after of $before")
  }

  test("LAS: truncated point region and hostile record length are " +
      "rejected up front, not mid-scan") {
    import spark.implicits._
    val path = tmp("adv.las")
    val pts = (0 until 300).map(i => (i * 0.1, i * 0.2, i * 0.3))
    Las.writePoints(pts.toDF("x", "y", "z"), path)
    val full = Files.readAllBytes(Paths.get(path))
    Files.write(Paths.get(path), full.dropRight(10))
    val e = intercept[IllegalArgumentException](
      Las.readPoints(spark, path).count())
    assert(e.getMessage.contains("promises"), e.getMessage)
    Files.write(Paths.get(path), full)
    patch(path, 105, Array[Byte](4, 0)) // record length 4 < 12
    val e2 = intercept[IllegalArgumentException](
      Las.readPoints(spark, path).count())
    assert(e2.getMessage.contains("record length"), e2.getMessage)
  }
}

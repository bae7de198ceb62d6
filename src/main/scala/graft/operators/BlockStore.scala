package graft.operators

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.{Column, DataFrame, DataFrameWriter, Encoder, Encoders, Row,
  SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType}

import graft.core.Morton
import graft.functions.sfc

/** One dimension of a cloud's Morton key: coordinate `dim` (0 = x, 1 =
  * y, 2 = z) has grid coordinate round_half_up((v − off) / scale ·
  * perUnit). Dividing and multiplying by 1 is exact, so 2D's (v − off) /
  * scale and 3D's v and z · zDenom keep their IEEE form in the keying,
  * the grid maxima and the query boxes alike. */
private[operators] final case class KeyAxis(dim: Int, off: Double = 0.0, scale: Double = 1.0,
    perUnit: Double = 1.0) {
  val name: String = "xyz"(dim).toString

  def quantize(v: Double): Double = (v - off) / scale * perUnit
  private def quantize(c: Column): Column = (c - off) / scale * perUnit

  /** The grid coordinate of every point, as the import keys it. */
  def grid: Column = sfc.round_half_up(quantize(col(name))).cast(LongType)

  /** The grid coordinate of v, HALF_UP as Spark's round; a NaN or
    * infinite v fails with a NumberFormatException. */
  def grid(v: Double): Long = java.math.BigDecimal.valueOf(quantize(v))
    .setScale(0, java.math.RoundingMode.HALF_UP).doubleValue().toLong

  /** This axis for the selection core, with largest grid coordinate `max`. */
  def gridAxis(max: Long): GridAxis = GridAxis(off, scale / perUnit, max, quantize)
}

/** The count and x, y, z extents of a point set: the stats pass's result
  * and the ledger row of a landed batch. */
private[operators] final case class Extents(n: Long, x_min: Double, x_max: Double,
    y_min: Double, y_max: Double, z_min: Double, z_max: Double) {
  def lo(dim: Int): Double = Seq(x_min, y_min, z_min)(dim)
  def hi(dim: Int): Double = Seq(x_max, y_max, z_max)(dim)
}

/** What the store reads of a cloud's catalog row `M`. */
private[operators] trait StoreMeta[M] {
  def pointCount: Long
  def headLen: Int
  def tailLen: Int

  /** The dimensions of the stored key. */
  private[operators] def axes: Seq[KeyAxis]

  /** This row with a landed batch's ledger row folded in. */
  private[operators] def absorb(batch: Extents): M
}

/** The one point store of the 2D and 3D clouds: the reference's import
  * pipeline (import_data.py:25-56, point_processor.py:41-81) and the
  * store's lifecycle, written once — stats pass and grid guard, keying,
  * pack, write, base ∪ delta open, batch landing and compaction. A cloud
  * supplies its key axes, the value columns a point carries beside its
  * key (2D: z at 2 decimals; 3D: none), its block row `B` with the pack
  * that builds it, and its catalog row `M`, which holds the head/tail
  * split. A store directory holds `meta/` (the catalog row), `blocks/`
  * (the head-clustered base) and, per landed batch,
  * `blocks_delta/__batch=<id>/` and a one-row `counts/__batch=<id>/`
  * ledger entry. */
private[operators] final class BlockStore[P, B, M <: StoreMeta[M]](
    values: Seq[Column],
    estBytesPerPoint: Long,
    packPartition: Iterator[P] => Iterator[B])(
    implicit pointEnc: Encoder[P], blockEnc: Encoder[B], metaEnc: Encoder[M]) {

  private val blockCols = blockEnc.schema.fieldNames.toSeq
  private val extentsEnc = Encoders.product[Extents]

  /** Import (x, y, z) points, keyed and packed under the split of the
    * catalog row `row` makes of their extents and grid maxima. */
  def importPoints(points: DataFrame, axes: Seq[KeyAxis])(
      row: (Extents, Seq[Long]) => M): (M, DataFrame) = {
    val meta = stats(points, axes, 64).map(row.tupled)
      .getOrElse(throw new IllegalArgumentException("cannot import an empty point cloud"))
    (meta, pack(key(points, axes, meta.tailLen), meta.tailLen))
  }

  /** The one stats pass of import and append — the count and the x, y,
    * z extents, None for no point — and the one grid guard: each grid
    * coordinate of the extents must fit a d-way key
    * ([[Morton.requireInGrid]]), and the key of the grid maxima (a bound
    * on every key) must lie in [0, 2^keyBits) — past the stored key
    * space the range decomposer never emits the heads, so every query
    * would silently omit the points. Returns the extents and grid maxima. */
  private def stats(points: DataFrame, axes: Seq[KeyAxis],
      keyBits: Int): Option[(Extents, Seq[Long])] = {
    val s = points.agg(count(lit(1)), Seq("x", "y", "z").flatMap { c =>
      val v = col(c).cast(DoubleType)
      Seq(min(v), max(v))
    }: _*).head()
    Option.when(!s.isNullAt(1)) {
      val e = Extents(s.getLong(0), s.getDouble(1), s.getDouble(2), s.getDouble(3),
        s.getDouble(4), s.getDouble(5), s.getDouble(6))
      val q = axes.map(a => (a.name, a.grid(e.lo(a.dim)), a.grid(e.hi(a.dim))))
      Morton.requireInGrid(axes.length,
        q.flatMap { case (c, lo, hi) => Seq(s"$c min" -> lo, s"$c max" -> hi) }: _*)
      val m = q.map(_._3)
      require(Morton.bitLength(if (m.length == 2) Morton.encode(m(0), m(1))
        else Morton.encode(m(0), m(1), m(2))) <= keyBits,
        s"append batch max quantized coords ${m.mkString("(", ", ", ")")} exceed the stored " +
          s"$keyBits-bit key space; queries could not see these points")
      (e, m)
    }
  }

  /** (x, y, z) points -> (sfc_head, sfc_tail, values…) under the key
    * `axes` and a tail of `tailLen` bits. */
  private def key(points: DataFrame, axes: Seq[KeyAxis], tailLen: Int): DataFrame = {
    val k = axes.map(_.grid) match {
      case Seq(x, y) => sfc.morton_encode(x, y)
      case Seq(x, y, z) => sfc.morton_encode(x, y, z)
    }
    points.select(shiftright(k, tailLen).as("sfc_head") +:
      k.bitwiseAND(lit((1L << tailLen) - 1)).as("sfc_tail") +: values: _*)
  }

  /** Range-shuffle keyed points on the head, sort each partition and
    * stream-pack it into blocks — the one pack of import, append and
    * compaction, one task per range partition. The sort key is the
    * whole Morton key, head << tailLen | tail: one non-negative long
    * (at most 63 bits) ordered as (head, tail), so the sort takes its
    * radix path instead of comparing rows, whose heads tie ~50 points
    * deep. */
  private def pack(keyed: DataFrame, tailLen: Int): DataFrame =
    keyed.repartitionByRange(keyed.sparkSession.sessionState.conf.numShufflePartitions,
      col("sfc_head"))
      .sortWithinPartitions(shiftleft(col("sfc_head"), tailLen).bitwiseOR(col("sfc_tail")))
      .as[P](pointEnc)
      .mapPartitions(packPartition)(blockEnc)
      .toDF()

  /** The writer every path lands blocks through, so each writes the
    * paged layout. Output sizing: the pack's range partitioning is
    * CPU-count-sized, so written as it stands a small cloud lands as
    * dozens of ~100 KB files whose per-file open cost + per-split task
    * scheduling dominate every later scan (measured at sf0.1: a 3.2 MB
    * store as 33 files made each scan a 32-task stage). So the packed
    * blocks — about store-size bytes — move to ceil(bytes / 128 MB)
    * partitions by a range shuffle on the head, each sorted on it, and
    * every file stays one head-clustered range. The shuffle is wide, so
    * the sort and pack above it keep one task per range partition; a
    * coalesce would be narrow and run them in the writer's few tasks
    * (one below ~16M points). One output partition needs no range
    * sample, so below that the move is one plain exchange. */
  private def writer(blocks: DataFrame, points: Long): DataFrameWriter[Row] = {
    val target = 128L << 20
    val nOut = math.max(1L, (points * estBytesPerPoint + target - 1) / target)
    blocks.repartitionByRange(math.min(nOut, Int.MaxValue).toInt, col("sfc_head"))
      .sortWithinPartitions("sfc_head").write
      .option("parquet.page.row.count.limit", BlockStore.BlocksPerPage.toLong)
  }

  def write(blocks: DataFrame, meta: M, dir: String): Unit = {
    writer(blocks, meta.pointCount).mode("overwrite").parquet(s"$dir/blocks")
    writeMeta(blocks.sparkSession, meta, dir)
  }

  /** The catalog row, read under its encoder's schema: no footer job
    * infers it. */
  private def readMeta(spark: SparkSession, dir: String): M =
    spark.read.schema(metaEnc.schema).parquet(s"$dir/meta").as[M](metaEnc).head()

  private def writeMeta(spark: SparkSession, meta: M, dir: String): Unit =
    spark.createDataset(Seq(meta))(metaEnc).write.mode("overwrite").parquet(s"$dir/meta")

  /** The catalog row with every landed batch's ledger row folded in
    * (the stored row is never rewritten per batch, so a replay cannot
    * double-count) and the base ∪ delta blocks, read under the block
    * encoder's schema: no schema inference job. */
  def open(spark: SparkSession, dir: String): (M, DataFrame) = {
    val read = spark.read.schema(blockEnc.schema)
    val base = read.parquet(s"$dir/blocks")
    val blocks =
      if (Files.exists(Paths.get(s"$dir/blocks_delta")))
        base.unionByName(read.parquet(s"$dir/blocks_delta").select(blockCols.map(col): _*))
      else base
    val ledger =
      if (Files.exists(Paths.get(s"$dir/counts")))
        spark.read.parquet(s"$dir/counts").as[Extents](extentsEnc).collect().toSeq
      else Nil
    (ledger.foldLeft(readMeta(spark, dir))(_ absorb _), blocks)
  }

  /** Exactly-once ingest of one micro-batch, keyed UNDER THE STORED key
    * — re-deriving the key space would change every stored key's meaning
    * — so a batch past it is rejected. Its blocks and its ledger row
    * land in their own `__batch=<id>` partitions by dynamic partition
    * overwrite, so a replayed micro-batch (at-least-once delivery)
    * replaces exactly its own. Queries stay correct across fragmented
    * heads: blocks explode independently. An empty batch lands nothing. */
  def appendBatch(spark: SparkSession, dir: String, delta: DataFrame, batchId: Long): Unit = {
    val meta = readMeta(spark, dir)
    stats(delta, meta.axes, meta.headLen + meta.tailLen).foreach { case (e, _) =>
      def land(w: DataFrameWriter[Row], sub: String): Unit =
        w.mode("overwrite").option("partitionOverwriteMode", "dynamic")
          .partitionBy("__batch").parquet(s"$dir/$sub")
      land(writer(pack(key(delta, meta.axes, meta.tailLen), meta.tailLen)
        .withColumn("__batch", lit(batchId)), e.n), "blocks_delta")
      land(spark.createDataset(Seq(e))(extentsEnc).withColumn("__batch", lit(batchId)).write,
        "counts")
    }
  }

  /** Clustering compaction: base ∪ delta re-pack into one clustered
    * blocks directory (every head one block again), the composed catalog
    * row is stored, and the delta and ledger are removed. The swap is
    * rename-aside (blocks -> blocks_old, staging -> blocks, delete), so a
    * crash at any step leaves the data under exactly one name (a real
    * deployment would use a table format's atomic commit). Run between
    * ingest sessions: a batch replayed from a pre-compact checkpoint
    * would land again. */
  def compact(spark: SparkSession, dir: String): Unit = {
    val (composed, blocks) = open(spark, dir)
    val arrays = blockCols.tail
    val keyed = blocks
      .select(col("sfc_head"), explode(arrays_zip(arrays.map(col): _*)).as("p"))
      .select(col("sfc_head") +: arrays.map(c => col(s"p.$c").as(c)): _*)
    writer(pack(keyed, composed.tailLen), composed.pointCount)
      .mode("overwrite").parquet(s"$dir/blocks_compacting")
    val live = Paths.get(s"$dir/blocks")
    val old = Paths.get(s"$dir/blocks_old")
    BlockStore.rmdir(old) // leftover from a previous crashed compact
    Files.move(live, old)
    Files.move(Paths.get(s"$dir/blocks_compacting"), live)
    // composed meta FIRST, delta/ledger deletion after — a crash
    // between the two leaves a consistent overcount (points and counts
    // both still carry the delta), never composed points under a stale
    // base-only pointCount
    writeMeta(spark, composed, dir)
    Seq(Paths.get(s"$dir/blocks_delta"), Paths.get(s"$dir/counts"), old).foreach(BlockStore.rmdir)
  }
}

private[graft] object BlockStore {

  /** Blocks per parquet page. The column index then holds sfc_head
    * min/max per page of a head-sorted file, and the reader skips every
    * page a selection's head ranges miss — the reference's B-tree range
    * scan (db/__init__.py:118-126) at page granularity, inside one file
    * and one row group. Pages, not row groups: each row group repeats
    * its dictionaries (128 blocks per row group cost +5.2% bytes per
    * point, 128 per page +0.4%). */
  val BlocksPerPage: Int = 128

  /** Groups a head-then-tail sorted stream of points into one block per
    * head, holding one block in memory — the streaming pack of both
    * stores, never a collect_list. `block` drains one head's points. */
  def packSorted[P, B](it: Iterator[P], head: P => Long)(
      block: (Long, Iterator[P]) => B): Iterator[B] = {
    val in = it.buffered
    new Iterator[B] {
      override def hasNext: Boolean = in.hasNext
      override def next(): B = {
        val h = head(in.head)
        block(h, new Iterator[P] {
          override def hasNext: Boolean = in.hasNext && head(in.head) == h
          override def next(): P = in.next()
        })
      }
    }
  }

  def rmdir(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder()).forEach(f => Files.delete(f))
    finally s.close()
  }
}

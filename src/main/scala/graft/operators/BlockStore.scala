package graft.operators

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.{Column, DataFrame, DataFrameWriter, Encoder, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Morton

/** The block-store lifecycle the 2D and 3D clouds share: streaming
  * pack, paged write, base ∪ delta open, exactly-once batch landing and
  * compaction. A store directory holds `meta/` (the catalog row `M`),
  * `blocks/` (the head-clustered base) and, per landed batch,
  * `blocks_delta/__batch=<id>/` and a one-row `counts/__batch=<id>/`
  * ledger entry. The stores differ only in their rows: a keyed point
  * `P` is (sfc_head, sfc_tail, `valueCols`…) — z in 2D, nothing in 3D,
  * whose z is in the key — and a block `B` holds one head's arrays. */
private[operators] final class BlockStore[P, B, M](
    valueCols: Seq[String],
    estBytesPerPoint: Long,
    packPartition: Iterator[P] => Iterator[B],
    pointCount: M => Long,
    tailLen: M => Int)(
    implicit pointEnc: Encoder[P], blockEnc: Encoder[B], metaEnc: Encoder[M]) {

  private val blockCols = Seq("sfc_head", "sfc_tail") ++ valueCols

  /** Range-shuffle keyed points on the head, sort each partition and
    * stream-pack it into blocks — the one pack of import, append and
    * compaction, one task per range partition. The sort key is the
    * whole Morton key, head << tailLen | tail: one non-negative long
    * (at most 63 bits) ordered as (head, tail), so the sort takes its
    * radix path instead of comparing rows, whose heads tie ~50 points
    * deep. */
  def pack(keyed: DataFrame, meta: M): DataFrame =
    keyed.repartitionByRange(keyed.sparkSession.sessionState.conf.numShufflePartitions,
      col("sfc_head"))
      .sortWithinPartitions(shiftleft(col("sfc_head"), tailLen(meta)).bitwiseOR(col("sfc_tail")))
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

  def write(spark: SparkSession, blocks: DataFrame, meta: M, dir: String): Unit = {
    writer(blocks, pointCount(meta)).mode("overwrite").parquet(s"$dir/blocks")
    writeMeta(spark, meta, dir)
  }

  /** The catalog row, read under its encoder's schema: no footer job
    * infers it. */
  def readMeta(spark: SparkSession, dir: String): M =
    spark.read.schema(metaEnc.schema).parquet(s"$dir/meta").as[M](metaEnc).head()

  private def writeMeta(spark: SparkSession, meta: M, dir: String): Unit =
    spark.createDataset(Seq(meta))(metaEnc).write.mode("overwrite").parquet(s"$dir/meta")

  /** The stored catalog row, the base ∪ delta blocks, and the ledger
    * if batches landed — the caller composes the two, so meta is never
    * rewritten per batch and a replay cannot double-count. Blocks are
    * read under the block encoder's schema, so opening runs no schema
    * inference job; the delta's `__batch` still comes from its paths. */
  def open(spark: SparkSession, dir: String): (M, DataFrame, Option[DataFrame]) = {
    val read = spark.read.schema(blockEnc.schema)
    val base = read.parquet(s"$dir/blocks")
    val blocks =
      if (Files.exists(Paths.get(s"$dir/blocks_delta")))
        base.unionByName(read.parquet(s"$dir/blocks_delta").select(blockCols.map(col): _*))
      else base
    val ledger =
      if (Files.exists(Paths.get(s"$dir/counts"))) Some(spark.read.parquet(s"$dir/counts"))
      else None
    (readMeta(spark, dir), blocks, ledger)
  }

  /** Land one batch, replay-safe: its blocks go to their own
    * `blocks_delta/__batch=<id>` partition and `ledger` (one row with a
    * `__batch` column) to `counts/__batch=<id>`, both by dynamic
    * partition overwrite, so a replayed micro-batch (at-least-once
    * delivery) replaces exactly its own partition and ledger row and
    * stream state composes to exactly-once. Queries stay correct across
    * fragmented heads: blocks explode independently. */
  def landBatch(dir: String, packed: DataFrame, points: Long, batchId: Long,
      ledger: DataFrame): Unit = {
    writer(packed.withColumn("__batch", lit(batchId)), points)
      .mode("overwrite").option("partitionOverwriteMode", "dynamic")
      .partitionBy("__batch").parquet(s"$dir/blocks_delta")
    ledger.write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
      .partitionBy("__batch").parquet(s"$dir/counts")
  }

  /** Clustering compaction: `blocks` (base ∪ delta) re-pack into one
    * clustered blocks directory, `composed` (the catalog row with the
    * ledger folded in) becomes the base meta, and the delta and ledger
    * are removed. The swap is rename-aside (blocks -> blocks_old,
    * staging -> blocks, delete), so a crash at any step leaves the data
    * under exactly one name (a real deployment would use a table
    * format's atomic commit). Run between ingest sessions: a batch
    * replayed from a pre-compact checkpoint would land again. */
  def compact(spark: SparkSession, dir: String, blocks: DataFrame, composed: M): Unit = {
    val arrays = blockCols.tail
    val keyed = blocks
      .select(col("sfc_head"), explode(arrays_zip(arrays.map(col): _*)).as("p"))
      .select(col("sfc_head") +: arrays.map(c => col(s"p.$c").as(c)): _*)
    writer(pack(keyed, composed), pointCount(composed))
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

  /** The one stats pass of import and append: the row count, then each
    * column's min and max — None when there is no point. */
  def extents(df: DataFrame, cols: Column*): Option[Row] = {
    val s = df.agg(count(lit(1)), cols.flatMap(c => Seq(min(c), max(c))): _*).head()
    if (s.isNullAt(1)) None else Some(s)
  }

  /** The one grid guard of import and append, 2D and 3D: a batch's
    * quantized x min, x max, y min, … must each fit a d-way key
    * ([[Morton.requireInGrid]]), and the key of its maxima (a bound on
    * all its keys) must lie in the stored key space [0, 2^keyBits) —
    * past it the range decomposer never emits the heads, so every query
    * would silently omit the points. Returns the maxima. */
  def guardGrid(d: Int, q: Seq[Long], keyBits: Int = 64): Seq[Long] = {
    Morton.requireInGrid(d, q.indices.map { i =>
      s"${"xyz"(i / 2)} ${if (i % 2 == 0) "min" else "max"}" -> q(i)
    }: _*)
    val m = q.indices.collect { case i if i % 2 == 1 => q(i) }
    require(Morton.bitLength(if (d == 2) Morton.encode(m(0), m(1))
      else Morton.encode(m(0), m(1), m(2))) <= keyBits,
      s"append batch max quantized coords ${m.mkString("(", ", ", ")")} exceed the stored " +
        s"$keyBits-bit key space; queries could not see these points")
    m
  }

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

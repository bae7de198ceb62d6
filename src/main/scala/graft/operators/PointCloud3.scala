package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import graft.core.{Box3, Morton, Morton3, MortonRange3}
import graft.functions.sfc
import graft.functions.sfc.param

/** Catalog row of a 3D-keyed cloud: z participates in the key, so
  * height-selective queries prune storage like x/y — the capability
  * the reference's post-filter z refinements (retrieve_data.py:85-101,
  * suites B10–B12) lack. z is quantized at 1/zDenom units; x/y on the
  * integer grid (the test fixtures' form). */
final case class Cloud3Meta(name: String, pointCount: Long,
    headLen: Int, tailLen: Int, zDenom: Double,
    qxMax: Long, qyMax: Long, qzMax: Long)

/** One 3D Morton-head block: tails sorted, z reconstructed from the key
  * (no parallel z array — the third dimension lives in the key). */
final case class PointBlock3(sfc_head: Long, sfc_tail: Array[Long])

object PointCloud3 {
  private val tuple2Enc: Encoder[(Long, Long)] =
    Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong)
  private val blockEnc: Encoder[PointBlock3] = Encoders.product[PointBlock3]
  private val metaEnc: Encoder[Cloud3Meta] = Encoders.product[Cloud3Meta]

  /** Import (x, y, z) doubles into the 3D-keyed blocked layout: one
    * stats pass, quantize -> 3D Morton -> head/tail split -> range
    * shuffle -> in-partition sort -> streaming pack (same 100 TB-safe
    * shape as the 2D import; encode/decode are monotone per dimension,
    * so bitLength(encode(maxes)) bounds the whole key space). */
  def importPoints(points: DataFrame, name: String = "cloud3",
      zDenom: Double = 100.0, ratio: Double = 0.5): BlockedCloud3 = {
    val spark = points.sparkSession
    val xq = round(col("x")).cast(LongType)
    val yq = round(col("y")).cast(LongType)
    val zq = round(col("z") * zDenom).cast(LongType)
    val s = points.agg(count(lit(1)), max(xq), max(yq), max(zq),
      min(xq), min(yq), min(zq)).head()
    val (n, qxMax, qyMax, qzMax) =
      (s.getLong(0), s.getLong(1), s.getLong(2), s.getLong(3))
    require(n > 0, "cannot import an empty point cloud")
    require(s.getLong(4) >= 0 && s.getLong(5) >= 0 && s.getLong(6) >= 0,
      "negative quantized coordinates")
    Morton3.encodeChecked(qxMax, qyMax, qzMax)
    val totalBits = Morton.bitLength(Morton3.encode(qxMax, qyMax, qzMax)).max(2)
    val headLen = math.min(totalBits, math.max(0, (totalBits * ratio).toInt))
    val tailLen = totalBits - headLen

    val key = sfc.morton3_encode(xq, yq, zq)
    new BlockedCloud3(spark, packKeyed(points.select(shiftright(key, tailLen).as("_1"),
        key.bitwiseAND(lit((1L << tailLen) - 1)).as("_2"))),
      Cloud3Meta(name, n, headLen, tailLen, zDenom, qxMax, qyMax, qzMax))
  }

  /** Range-shuffle (head, tail) rows on the head, sort each partition
    * and stream-pack it into blocks — import, append and compaction. */
  private def packKeyed(keyed: DataFrame): DataFrame =
    keyed.as[(Long, Long)](tuple2Enc)
      .repartitionByRange(keyed.sparkSession.sessionState.conf.numShufflePartitions, col("_1"))
      .sortWithinPartitions("_1", "_2")
      .mapPartitions(packSorted _)(blockEnc)
      .toDF()

  private def packSorted(it: Iterator[(Long, Long)]): Iterator[PointBlock3] =
    new Iterator[PointBlock3] {
      private var cur: (Long, Long) = _
      private var has = it.hasNext
      if (has) cur = it.next()
      override def hasNext: Boolean = has
      override def next(): PointBlock3 = {
        val head = cur._1
        val tails = scala.collection.mutable.ArrayBuilder.make[Long]
        var continue = true
        while (continue) {
          tails += cur._2
          if (it.hasNext) { cur = it.next(); continue = cur._1 == head }
          else { has = false; continue = false }
        }
        PointBlock3(head, tails.result())
      }
    }

  // z rides inside the Morton key here, so rows are narrower than the
  // 2D store's (sfc_tail, z double) pairs — ~6 B/pt measured
  private val estBytesPerPoint = 6L

  def write(cloud: BlockedCloud3, dir: String): Unit = {
    PointCloud.blockWriter(cloud.blocks, cloud.meta.pointCount, estBytesPerPoint)
      .mode("overwrite").parquet(s"$dir/blocks")
    cloud.spark.createDataset(Seq(cloud.meta))(metaEnc)
      .write.mode("overwrite").parquet(s"$dir/meta")
  }

  /** Open a stored 3D cloud. Blocks = the base import plus any streamed
    * delta partitions ([[appendBatch]]); the catalog's point count
    * composes base + the per-batch ledger, so the on-disk meta is never
    * rewritten per batch and a replayed batch cannot double-count. */
  def read(spark: SparkSession, dir: String): BlockedCloud3 = {
    import java.nio.file.{Files, Paths}
    val meta = spark.read.parquet(s"$dir/meta").as[Cloud3Meta](metaEnc).head()
    val base = spark.read.parquet(s"$dir/blocks")
    val hasDelta = Files.exists(Paths.get(s"$dir/blocks_delta"))
    val blocks = if (hasDelta)
      base.unionByName(
        spark.read.parquet(s"$dir/blocks_delta").select("sfc_head", "sfc_tail"))
    else base
    val appended = if (Files.exists(Paths.get(s"$dir/counts")))
      spark.read.parquet(s"$dir/counts").agg(sum(col("n"))).head().getLong(0)
    else 0L
    new BlockedCloud3(spark, blocks,
      meta.copy(pointCount = meta.pointCount + appended))
  }

  /** Incremental ingest into a stored 3D cloud — the streaming parity
    * of the 2D store's append lifecycle (X91), replay-safe by
    * construction: the delta packs UNDER THE STORED key split (the key
    * space is never re-derived) and lands in its own
    * `blocks_delta/__batch=<id>` partition with dynamic partition
    * overwrite, alongside a one-row `counts/__batch=<id>` ledger
    * entry. A replayed micro-batch (at-least-once delivery after a
    * sink failure) overwrites exactly its own partition and ledger row
    * — never appends twice — so stream state composes to exactly-once.
    * Queries stay correct across fragmented heads (the scan prunes
    * head ranges; blocks explode independently). Same key-space
    * envelope guard as the 2D append: a delta outside
    * [0, 2^(headLen+tailLen)) would be invisible to the range
    * decomposer, so it is rejected, not silently dropped. */
  def appendBatch(spark: SparkSession, dir: String, delta: DataFrame,
      batchId: Long): Unit = {
    val meta = spark.read.parquet(s"$dir/meta").as[Cloud3Meta](metaEnc).head()
    val xq = round(col("x")).cast(LongType)
    val yq = round(col("y")).cast(LongType)
    val zq = round(col("z") * meta.zDenom).cast(LongType)
    val s = delta.agg(count(lit(1)), max(xq), max(yq), max(zq),
      min(xq), min(yq), min(zq)).head()
    if (s.getLong(0) == 0) return // empty micro-batch: nothing to land
    require(s.getLong(4) >= 0 && s.getLong(5) >= 0 && s.getLong(6) >= 0,
      "append batch has negative quantized coordinates")
    val (qx, qy, qz) = (s.getLong(1), s.getLong(2), s.getLong(3))
    require(Morton.bitLength(Morton3.encode(qx, qy, qz)) <= meta.headLen + meta.tailLen,
      s"append batch max quantized coords ($qx, $qy, $qz) exceed the stored " +
        s"${meta.headLen + meta.tailLen}-bit key space; queries could not see these points")
    val key = sfc.morton3_encode(xq, yq, zq)
    val packed = packKeyed(delta.select(shiftright(key, meta.tailLen).as("_1"),
      key.bitwiseAND(lit((1L << meta.tailLen) - 1)).as("_2")))
    PointCloud.blockWriter(packed.withColumn("__batch", lit(batchId)), s.getLong(0),
        estBytesPerPoint)
      .mode("overwrite").option("partitionOverwriteMode", "dynamic")
      .partitionBy("__batch").parquet(s"$dir/blocks_delta")
    spark.createDataset(Seq((batchId, s.getLong(0))))(
        Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong))
      .toDF("__batch", "n")
      .write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
      .partitionBy("__batch").parquet(s"$dir/counts")
  }

  /** Clustering compaction (the 3D mirror of the 2D store's compact):
    * base + streamed delta partitions re-pack through the same range-
    * shuffle + in-partition sort + streaming pack pipeline and the
    * paged block writer into one clustered blocks directory; the batch
    * ledger folds into the base metadata and the delta dirs are removed. Swap is rename-aside
    * (blocks -> blocks_old, staging -> blocks, delete) so a crash at
    * any step leaves the data intact under exactly one name. Run
    * between ingest sessions (a batch replayed from a pre-compact
    * checkpoint would re-land its delta partition — the streaming
    * checkpoint, not this store, owns that fencing). */
  def compact(spark: SparkSession, dir: String): Unit = {
    import java.nio.file.{Files, Paths}
    val cloud = read(spark, dir) // union view + ledger-composed count
    PointCloud.blockWriter(packKeyed(cloud.blocks.select(col("sfc_head").as("_1"),
        explode(col("sfc_tail")).as("_2"))), cloud.meta.pointCount, estBytesPerPoint)
      .mode("overwrite").parquet(s"$dir/blocks_compacting")
    def rmdir(p: java.nio.file.Path): Unit = if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder())
        .forEach(f => Files.delete(f))
      finally s.close()
    }
    val live = Paths.get(s"$dir/blocks")
    val old = Paths.get(s"$dir/blocks_old")
    rmdir(old)
    Files.move(live, old)
    Files.move(Paths.get(s"$dir/blocks_compacting"), live)
    // composed meta FIRST, delta/ledger deletion after — a crash
    // between the two leaves a consistent overcount, never composed
    // points under a stale base-only pointCount
    spark.createDataset(Seq(cloud.meta))(metaEnc)
      .write.mode("overwrite").parquet(s"$dir/meta")
    rmdir(Paths.get(s"$dir/blocks_delta"))
    rmdir(Paths.get(s"$dir/counts"))
    rmdir(old)
  }
}

/** A stored 3D cloud: the same one-scan filter–refine form as
  * [[BlockedCloud]] (`pushed_ranges` head predicate with its cover
  * pushed by `graft.plans.PushedRangeScan`, query constants bound as
  * parameters), with z pruned at the scan through the octree cover. */
final class BlockedCloud3(
    val spark: SparkSession,
    val blocks: DataFrame,
    val meta: Cloud3Meta) {

  graft.plans.PushedRangeScan.register(spark)

  /** xq/yq/zq inside the inclusive grid box, bounds bound as parameters. */
  private def inGridBox(qx0: Long, qx1: Long, qy0: Long, qy1: Long): Column =
    col("xq") >= param(qx0) && col("xq") <= param(qx1) &&
      col("yq") >= param(qy0) && col("yq") <= param(qy1)

  private def inZBand(qz0: Long, qz1: Long): Column =
    col("zq") >= param(qz0) && col("zq") <= param(qz1)

  /** Explode blocks to grid points (xq, yq, zq); a `contained` per-block
    * flag rides along as the [[SfcPredicates.Contained]] column. */
  private def explode3(blk: DataFrame, contained: Option[Column] = None): DataFrame = {
    val key = shiftleft(col("sfc_head"), meta.tailLen).bitwiseOR(col("t"))
    val tag = contained.map(_.as(SfcPredicates.Contained)).toSeq
    blk.select((explode(col("sfc_tail")).as("t") +: col("sfc_head") +: tag): _*)
      .select(Seq(sfc.morton3_x(key).as("xq"), sfc.morton3_y(key).as("yq"),
        sfc.morton3_z(key).as("zq")) ++ tag.map(_ => col(SfcPredicates.Contained)): _*)
  }

  /** Grid points -> (x, y, z) with z reconstructed as zq / zDenom — the
    * IEEE quotient is correctly rounded, so it reproduces the
    * closest-double-to-decimal form the source data carries. */
  private def out(df: DataFrame): DataFrame = df.select(
    col("xq").cast("double").as("x"), col("yq").cast("double").as("y"),
    (col("zq").cast("double") / meta.zDenom).as("z"))

  private def emptyPoints: DataFrame = out(explode3(blocks.filter(lit(false))))

  /** Filter step, one scan: the grid points of every block the octree
    * cover of `box` touches, tagged [[SfcPredicates.Contained]] when
    * their block lies wholly inside the box. */
  private def candidates(box: Box3): DataFrame = {
    val hr = MortonRange3.decompose(box, meta.headLen + meta.tailLen, meta.tailLen,
      maxCells = 2048)
    if (hr.isEmpty) explode3(blocks.filter(lit(false)), Some(lit(false)))
    else explode3(blocks.filter(sfc.pushed_ranges(col("sfc_head"), hr.all)),
      Some(SfcPredicates.containedTag(col("sfc_head"), hr)))
  }

  /** All points in the inclusive 3D box (original coordinates) —
    * filter-refine with z pruned AT THE SCAN via the octree ranges,
    * not post-filtered; points of contained blocks skip the exact test. */
  def boxQuery(xMin: Double, xMax: Double, yMin: Double, yMax: Double,
      zMin: Double, zMax: Double): DataFrame = {
    val qx0 = math.max(0L, math.ceil(xMin).toLong)
    val qx1 = math.floor(xMax).toLong
    val qy0 = math.max(0L, math.ceil(yMin).toLong)
    val qy1 = math.floor(yMax).toLong
    val qz0 = math.max(0L, math.ceil(zMin * meta.zDenom).toLong)
    val qz1 = math.floor(zMax * meta.zDenom).toLong
    if (qx0 > qx1 || qy0 > qy1 || qz0 > qz1) return emptyPoints
    out(candidates(Box3(qx0.toDouble, qx1.toDouble, qy0.toDouble, qy1.toDouble,
        qz0.toDouble, qz1.toDouble))
      .filter(col(SfcPredicates.Contained) ||
        (inGridBox(qx0, qx1, qy0, qy1) && inZBand(qz0, qz1))))
  }

  /** Cylinder selection: 2D circle x height band — the B-suite circle
    * with B10-B12's z refinement fused into ONE pruned scan (octree
    * ranges bound x, y AND z; the exact predicate then runs on the
    * candidates only). */
  def cylinderQuery(cx: Double, cy: Double, r: Double,
      zMin: Double, zMax: Double): DataFrame = {
    val qz0 = math.max(0L, math.ceil(zMin * meta.zDenom).toLong)
    val qz1 = math.floor(zMax * meta.zDenom).toLong
    if (qz0 > qz1 || r < 0) return emptyPoints
    val d2 = (col("xq") - param(cx)) * (col("xq") - param(cx)) +
      (col("yq") - param(cy)) * (col("yq") - param(cy))
    out(candidates(Box3(math.max(0, math.ceil(cx - r)), math.floor(cx + r),
        math.max(0, math.ceil(cy - r)), math.floor(cy + r), qz0.toDouble, qz1.toDouble))
      .filter(d2 <= param(r * r) && inZBand(qz0, qz1)))
  }

  /** Polygon-prism selection: a 2D polygon (with holes, even-odd rule,
    * boundary excluded — same convention as the 2D store) crossed with
    * a height band, all three dimensions pruned AT THE SCAN by one
    * octree decomposition of (polygon bbox x z band). Exact point-in-
    * polygon (codegen) runs on every candidate — a block inside the
    * prism's bounding box is not necessarily inside the polygon — while
    * the z band is re-checked only on partial blocks. */
  def polygonQuery(p: graft.core.Polygon, zMin: Double, zMax: Double): DataFrame = {
    val b = p.bbox
    val qx0 = math.max(0L, math.ceil(b.xMin).toLong)
    val qx1 = math.floor(b.xMax).toLong
    val qy0 = math.max(0L, math.ceil(b.yMin).toLong)
    val qy1 = math.floor(b.yMax).toLong
    val qz0 = math.max(0L, math.ceil(zMin * meta.zDenom).toLong)
    val qz1 = math.floor(zMax * meta.zDenom).toLong
    if (qx0 > qx1 || qy0 > qy1 || qz0 > qz1) return emptyPoints
    out(candidates(Box3(qx0.toDouble, qx1.toDouble, qy0.toDouble, qy1.toDouble,
        qz0.toDouble, qz1.toDouble))
      .filter(col(SfcPredicates.Contained) || inZBand(qz0, qz1)))
      .filter(sfc.point_in_polygon(col("x"), col("y"), p))
  }

  def polygonQuery(wkt: String, zMin: Double, zMax: Double): DataFrame =
    polygonQuery(graft.core.Geometry.parseWktPolygon(wkt), zMin, zMax)

  /** k nearest neighbours of (px, py, pz) by TRUE 3D distance — the
    * height-aware form the 2D store's [[BlockedCloud.knn]] cannot
    * answer. Probe an expanding sphere (via its octree-pruned bounding
    * box) until it holds >= k points — the true kNN set is then inside
    * it — and exact-rank the candidates. Driver loop is O(log radius)
    * jobs, never per-point work. */
  def knn(px: Double, py: Double, pz: Double, k: Int): DataFrame = {
    require(k > 0, "k must be positive")
    val zMaxW = meta.qzMax / meta.zDenom
    val maxCornerDist = math.sqrt(
      math.pow(math.max(math.abs(px), math.abs(px - meta.qxMax)), 2) +
        math.pow(math.max(math.abs(py), math.abs(py - meta.qyMax)), 2) +
        math.pow(math.max(math.abs(pz), math.abs(pz - zMaxW)), 2))
    val volume = math.max(
      meta.qxMax.toDouble * meta.qyMax.toDouble * math.max(zMaxW, 1e-9), 1e-9)
    val density = meta.pointCount / volume
    var r = math.max(
      math.cbrt((k + 1) / math.max(density, 1e-18) * 3.0 / (4.0 * math.Pi)) * 1.5,
      2.0)
    val d2 = (col("x") - param(px)) * (col("x") - param(px)) +
      (col("y") - param(py)) * (col("y") - param(py)) +
      (col("z") - param(pz)) * (col("z") - param(pz))
    var result: DataFrame = null
    while (result == null) {
      val covers = r >= maxCornerDist
      val cand = boxQuery(px - r, px + r, py - r, py + r, pz - r, pz + r)
        .filter(d2 <= param(r * r))
      if (covers || cand.count() >= k) result = cand else r *= 2
    }
    result.orderBy(d2.asc, col("x").asc, col("y").asc, col("z").asc).limit(k)
  }

  /** 3D voxel occupancy: point count per (cellXY, cellZ) voxel — the
    * volumetric raster; one narrow decode + one partially-aggregated
    * shuffle bounded by the voxel grid size. `cellXY` is in original
    * x/y units, `cellZ` in original z units. */
  def voxelCounts(cellXY: Double, cellZ: Double): DataFrame = {
    require(cellXY > 0 && cellZ > 0)
    explode3(blocks)
      .groupBy(
        floor(col("xq") / cellXY).cast(LongType).as("cell_x"),
        floor(col("yq") / cellXY).cast(LongType).as("cell_y"),
        floor((col("zq").cast("double") / meta.zDenom) / cellZ)
          .cast(LongType).as("cell_z"))
      .agg(count(lit(1)).as("n_points"))
  }
}

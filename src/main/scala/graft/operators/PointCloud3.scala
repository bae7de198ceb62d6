package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import graft.core.{Box3, HeadRanges, Morton, MortonRange}
import graft.functions.sfc

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

/** The 3D-keyed store: the 3-coordinate key and its catalog row over
  * the lifecycle both stores share ([[BlockStore]]). */
object PointCloud3 {
  // z rides inside the Morton key here, so rows are narrower than the
  // 2D store's (sfc_tail, z double) pairs — ~6 B/pt measured
  private val store = new BlockStore[(Long, Long), PointBlock3, Cloud3Meta](
    Nil, estBytesPerPoint = 6L, packSorted, _.pointCount, _.tailLen)(
    Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong),
    Encoders.product[PointBlock3], Encoders.product[Cloud3Meta])

  /** Grid coordinates (xq, yq, zq) of (x, y, z) points: x/y on the
    * integer grid, z at 1/zDenom. */
  private def quantized(zDenom: Double): Seq[Column] = Seq(
    sfc.round_half_up(col("x")).cast(LongType), sfc.round_half_up(col("y")).cast(LongType),
    sfc.round_half_up(col("z") * zDenom).cast(LongType))

  /** (x, y, z) points -> (sfc_head, sfc_tail) under a key split. */
  private def keyPoints(points: DataFrame, zDenom: Double, tailLen: Int): DataFrame = {
    val Seq(xq, yq, zq) = quantized(zDenom)
    val key = sfc.morton_encode(xq, yq, zq)
    points.select(shiftright(key, tailLen).as("sfc_head"),
      key.bitwiseAND(lit((1L << tailLen) - 1)).as("sfc_tail"))
  }

  /** Import (x, y, z) doubles into the 3D-keyed blocked layout: one
    * stats pass, quantize -> 3D Morton -> head/tail split -> the shared
    * range shuffle + in-partition sort + streaming pack (encode/decode
    * are monotone per dimension, so bitLength(encode(maxes)) bounds the
    * whole key space). */
  def importPoints(points: DataFrame, name: String = "cloud3",
      zDenom: Double = 100.0, ratio: Double = 0.5): BlockedCloud3 = {
    val s = BlockStore.extents(points, quantized(zDenom): _*)
      .getOrElse(throw new IllegalArgumentException("cannot import an empty point cloud"))
    val Seq(qxMax, qyMax, qzMax) = BlockStore.guardGrid(3, (1 to 6).map(s.getLong))
    val totalBits = Morton.bitLength(Morton.encode(qxMax, qyMax, qzMax)).max(2)
    val headLen = math.min(totalBits, math.max(0, (totalBits * ratio).toInt))
    val tailLen = totalBits - headLen
    val meta = Cloud3Meta(name, s.getLong(0), headLen, tailLen, zDenom, qxMax, qyMax, qzMax)
    new BlockedCloud3(points.sparkSession, store.pack(keyPoints(points, zDenom, tailLen), meta),
      meta)
  }

  /** 3D blocks from a head-then-tail sorted stream, one block in memory. */
  private def packSorted(it: Iterator[(Long, Long)]): Iterator[PointBlock3] =
    BlockStore.packSorted(it, (p: (Long, Long)) => p._1) { (head, points) =>
      PointBlock3(head, points.map(_._2).toArray)
    }

  def write(cloud: BlockedCloud3, dir: String): Unit =
    store.write(cloud.spark, cloud.blocks, cloud.meta, dir)

  /** Open a stored 3D cloud: the base import plus any streamed delta
    * partitions ([[appendBatch]]), its point count composed with the
    * per-batch ledger. */
  def read(spark: SparkSession, dir: String): BlockedCloud3 = {
    val (meta, blocks, ledger) = store.open(spark, dir)
    val appended = ledger.fold(0L)(_.agg(sum(col("n"))).head().getLong(0))
    new BlockedCloud3(spark, blocks, meta.copy(pointCount = meta.pointCount + appended))
  }

  /** Exactly-once ingest of one micro-batch ([[BlockStore.landBatch]]),
    * its ledger row carrying the batch's count; it packs UNDER THE
    * STORED key split, so a batch past the stored key space is
    * rejected. An empty micro-batch lands nothing. */
  def appendBatch(spark: SparkSession, dir: String, delta: DataFrame,
      batchId: Long): Unit = {
    val meta = store.readMeta(spark, dir)
    BlockStore.extents(delta, quantized(meta.zDenom): _*).foreach { s =>
      BlockStore.guardGrid(3, (1 to 6).map(s.getLong), meta.headLen + meta.tailLen)
      store.landBatch(dir, store.pack(keyPoints(delta, meta.zDenom, meta.tailLen), meta),
        s.getLong(0), batchId,
        spark.createDataset(Seq((batchId, s.getLong(0))))(
          Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong)).toDF("__batch", "n"))
    }
  }

  /** Clustering compaction ([[BlockStore.compact]]): base + streamed
    * delta partitions re-pack into one clustered blocks directory, the
    * batch ledger folded into the base metadata. */
  def compact(spark: SparkSession, dir: String): Unit = {
    val cloud = read(spark, dir)
    store.compact(spark, dir, cloud.blocks, cloud.meta)
  }
}

/** A stored 3D cloud. Its filter step is the one [[BlockedCloud]] uses
  * — [[graft.core.MortonRange.decompose]] of the query box, here over
  * the 3D key (so z is pruned at the scan, not post-filtered), then
  * [[SfcPredicates.candidateBlocks]] — with query constants bound as
  * parameters into one prepared template per [[Shape]]
  * ([[SelectionTemplates]]). What is 3D-specific is the explode, which
  * decodes x, y and z from the key, and the queries: box, cylinder,
  * polygon prism, 3D kNN and voxel counts. */
final class BlockedCloud3(
    val spark: SparkSession,
    val blocks: DataFrame,
    val meta: Cloud3Meta) {

  private val templates = new SelectionTemplates(spark)

  /** The shapes this cloud holds a selection template for. */
  private[operators] def templateShapes: Set[Shape] = templates.shapes

  /** The inclusive grid box of an original-coordinate box (x/y on the
    * integer grid, z at 1/zDenom); None when it holds no grid point. */
  private def gridBox(xMin: Double, xMax: Double, yMin: Double, yMax: Double,
      zMin: Double, zMax: Double): Option[Box3] = {
    val b = Box3(math.max(0, math.ceil(xMin)), math.floor(xMax),
      math.max(0, math.ceil(yMin)), math.floor(yMax),
      math.max(0, math.ceil(zMin * meta.zDenom)), math.floor(zMax * meta.zDenom))
    if (b.xMin > b.xMax || b.yMin > b.yMax || b.zMin > b.zMax) None else Some(b)
  }

  /** The octree cover of a grid box: empty when there is no box. */
  private def cover(box: Option[Box3]): HeadRanges =
    box.fold(HeadRanges(Vector.empty, Vector.empty))(
      MortonRange.decompose(_, meta.headLen + meta.tailLen, meta.tailLen, maxCells = 2048))

  /** xq/yq inside the grid box, bounds bound as parameters. */
  private def inXY(p: Bindings, b: Box3): Column =
    col("xq") >= p(b.xMin.toLong) && col("xq") <= p(b.xMax.toLong) &&
      col("yq") >= p(b.yMin.toLong) && col("yq") <= p(b.yMax.toLong)

  private def inZBand(p: Bindings, b: Box3): Column =
    col("zq") >= p(b.zMin.toLong) && col("zq") <= p(b.zMax.toLong)

  /** Explode blocks to grid points (xq, yq, zq); a `contained` per-block
    * flag rides along as the [[SfcPredicates.Contained]] column. */
  private def explode3(blk: DataFrame, contained: Option[Column] = None): DataFrame = {
    val key = shiftleft(col("sfc_head"), meta.tailLen).bitwiseOR(col("t"))
    val tag = contained.map(_.as(SfcPredicates.Contained)).toSeq
    blk.select((explode(col("sfc_tail")).as("t") +: col("sfc_head") +: tag): _*)
      .select(Seq(sfc.morton_decode(key, 3, 0).as("xq"), sfc.morton_decode(key, 3, 1).as("yq"),
        sfc.morton_decode(key, 3, 2).as("zq")) ++ tag.map(_ => col(SfcPredicates.Contained)): _*)
  }

  /** Grid points -> (x, y, z) with z reconstructed as zq / zDenom — the
    * IEEE quotient is correctly rounded, so it reproduces the
    * closest-double-to-decimal form the source data carries. */
  private def out(df: DataFrame): DataFrame = df.select(
    col("xq").cast("double").as("x"), col("yq").cast("double").as("y"),
    (col("zq").cast("double") / meta.zDenom).as("z"))

  private def emptyPoints: DataFrame = out(explode3(blocks.filter(lit(false))))

  /** Filter step, one scan: the grid points of every block of the
    * octree cover `hr`, tagged [[SfcPredicates.Contained]] when their
    * block lies wholly inside the query box, then refined by `exact` —
    * no points when the query box holds no grid point (`exact` None). */
  private def refined(hr: HeadRanges, exact: Option[Column]): DataFrame =
    exact.fold(emptyPoints) { e =>
      val (blk, tag) = SfcPredicates.candidateBlocks(blocks, hr)
      out(explode3(blk, Some(tag)).filter(e))
    }

  /** All points in the inclusive 3D box (original coordinates) —
    * filter-refine with z pruned AT THE SCAN via the octree ranges,
    * not post-filtered; points of contained blocks skip the exact test. */
  def boxQuery(xMin: Double, xMax: Double, yMin: Double, yMax: Double,
      zMin: Double, zMax: Double): DataFrame = {
    val box = gridBox(xMin, xMax, yMin, yMax, zMin, zMax)
    val p = new Bindings(cover(box))
    val exact = box.map(b => col(SfcPredicates.Contained) || (inXY(p, b) && inZBand(p, b)))
    templates.select(Shape.of("box", p.cover), p)(refined(p.cover, exact))
  }

  /** Cylinder selection: 2D circle x height band — the B-suite circle
    * with B10-B12's z refinement fused into ONE pruned scan (octree
    * ranges bound x, y AND z; the exact predicate then runs on the
    * candidates only). */
  def cylinderQuery(cx: Double, cy: Double, r: Double,
      zMin: Double, zMax: Double): DataFrame = {
    val box = gridBox(cx - r, cx + r, cy - r, cy + r, zMin, zMax)
    val p = new Bindings(cover(box))
    val exact = box.map { b =>
      val (qx, qy) = (p(cx), p(cy))
      (col("xq") - qx) * (col("xq") - qx) + (col("yq") - qy) * (col("yq") - qy) <=
        p(r * r) && inZBand(p, b)
    }
    templates.select(Shape.of("cylinder", p.cover), p)(refined(p.cover, exact))
  }

  /** Polygon-prism selection: a 2D polygon (with holes, even-odd rule,
    * boundary excluded — same convention as the 2D store) crossed with
    * a height band, all three dimensions pruned AT THE SCAN by one
    * octree decomposition of (polygon bbox x z band). Exact point-in-
    * polygon (codegen) runs on every candidate — a block inside the
    * prism's bounding box is not necessarily inside the polygon — while
    * the z band is re-checked only on partial blocks. */
  def polygonQuery(poly: graft.core.Polygon, zMin: Double, zMax: Double): DataFrame = {
    val pb = poly.bbox
    val box = gridBox(pb.xMin, pb.xMax, pb.yMin, pb.yMax, zMin, zMax)
    val p = new Bindings(cover(box))
    val exact = box.map(b => col(SfcPredicates.Contained) || inZBand(p, b))
    val inPolygon = p.inPolygon(col("x"), col("y"), poly)
    templates.select(Shape.of("polygon", p.cover), p)(refined(p.cover, exact).filter(inPolygon))
  }

  def polygonQuery(wkt: String, zMin: Double, zMax: Double): DataFrame =
    polygonQuery(graft.core.Geometry.parseWktPolygon(wkt), zMin, zMax)

  /** The exact kNN seed over this cloud's heads ([[KnnSeed]]): x and y
    * on the integer grid, z at 1/zDenom. */
  private lazy val seed: KnnSeed = KnnSeed.collect(blocks, meta.headLen, meta.tailLen,
    Array(meta.qxMax, meta.qyMax, meta.qzMax), Array(0.0, 0.0, 0.0),
    Array(1.0, 1.0, 1.0 / meta.zDenom))

  /** A radius around (px, py, pz) whose sphere holds ≥ min(k, n) points. */
  private[operators] def knnSeedRadius(px: Double, py: Double, pz: Double, k: Int): Double =
    seed.radius(Array(px, py, pz), k)

  /** k nearest neighbours of (px, py, pz) by TRUE 3D distance — the
    * height-aware form the 2D store's [[BlockedCloud.knn]] cannot
    * answer. The seed sphere ([[knnSeedRadius]]) provably holds the k
    * nearest, so the answer is ONE octree-pruned selection of its
    * bounding box, refined to the sphere and ranked by (d², x, y, z):
    * one job. */
  def knn(px: Double, py: Double, pz: Double, k: Int): DataFrame = {
    require(k > 0, "k must be positive")
    val r = knnSeedRadius(px, py, pz, k)
    val box = gridBox(px - r, px + r, py - r, py + r, pz - r, pz + r)
    val p = new Bindings(cover(box))
    val inBox = box.map(b => col(SfcPredicates.Contained) || (inXY(p, b) && inZBand(p, b)))
    val (qx, qy, qz) = (p(px), p(py), p(pz))
    val d2 = (col("x") - qx) * (col("x") - qx) + (col("y") - qy) * (col("y") - qy) +
      (col("z") - qz) * (col("z") - qz)
    val within = d2 <= p(r * r)
    templates.select(Shape.of("knn", p.cover, k), p)(refined(p.cover, inBox).filter(within)
      .orderBy(d2.asc, col("x").asc, col("y").asc, col("z").asc).limit(k))
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

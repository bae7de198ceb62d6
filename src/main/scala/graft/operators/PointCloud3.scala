package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import graft.core.Morton
import graft.functions.sfc

/** Catalog row of a 3D-keyed cloud: z participates in the key, so
  * height-selective queries prune storage like x/y — the capability
  * the reference's post-filter z refinements (retrieve_data.py:85-101,
  * suites B10–B12) lack. z is quantized at 1/zDenom units; x/y on the
  * integer grid (the test fixtures' form). */
final case class Cloud3Meta(name: String, pointCount: Long,
    headLen: Int, tailLen: Int, zDenom: Double,
    qxMax: Long, qyMax: Long, qzMax: Long) extends StoreMeta[Cloud3Meta] {
  private[operators] def axes: Seq[KeyAxis] = PointCloud3.axes(zDenom)

  /** Count sum; the grid maxima stay the import's. */
  private[operators] def absorb(b: Extents): Cloud3Meta = copy(pointCount = pointCount + b.n)
}

/** One 3D Morton-head block: tails sorted, z reconstructed from the key
  * (no parallel z array — the third dimension lives in the key). */
final case class PointBlock3(sfc_head: Long, sfc_tail: Array[Long])

/** The 3D-keyed cloud over the one point store ([[BlockStore]]): its key
  * is (x, y, z · zDenom), no value rides beside it, and its head/tail
  * split is `ratio` of the key's bits. */
object PointCloud3 {
  // z rides inside the Morton key here, so rows are narrower than the
  // 2D store's (sfc_tail, z double) pairs — ~6 B/pt measured
  private val store = new BlockStore[(Long, Long), PointBlock3, Cloud3Meta](
    Nil, estBytesPerPoint = 6L, packSorted)(
    Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong),
    Encoders.product[PointBlock3], Encoders.product[Cloud3Meta])

  /** x and y on the integer grid, z at 1/zDenom. */
  private[operators] def axes(zDenom: Double): Seq[KeyAxis] =
    Seq(KeyAxis(0), KeyAxis(1), KeyAxis(2, perUnit = zDenom))

  /** Import (x, y, z) doubles through the store's one pipeline
    * ([[BlockStore.importPoints]]). */
  def importPoints(points: DataFrame, name: String = "cloud3",
      zDenom: Double = 100.0, ratio: Double = 0.5): BlockedCloud3 = {
    val (meta, blocks) = store.importPoints(points, axes(zDenom)) { (e, q) =>
      val Seq(qx, qy, qz) = q
      val totalBits = Morton.bitLength(Morton.encode(qx, qy, qz)).max(2)
      val headLen = math.min(totalBits, math.max(0, (totalBits * ratio).toInt))
      Cloud3Meta(name, e.n, headLen, totalBits - headLen, zDenom, qx, qy, qz)
    }
    new BlockedCloud3(points.sparkSession, blocks, meta)
  }

  /** 3D blocks from a head-then-tail sorted stream, one block in memory. */
  private def packSorted(it: Iterator[(Long, Long)]): Iterator[PointBlock3] =
    BlockStore.packSorted(it, (p: (Long, Long)) => p._1) { (head, points) =>
      PointBlock3(head, points.map(_._2).toArray)
    }

  def write(cloud: BlockedCloud3, dir: String): Unit = store.write(cloud.blocks, cloud.meta, dir)

  def read(spark: SparkSession, dir: String): BlockedCloud3 = {
    val (meta, blocks) = store.open(spark, dir)
    new BlockedCloud3(spark, blocks, meta)
  }

  def appendBatch(spark: SparkSession, dir: String, delta: DataFrame, batchId: Long): Unit =
    store.appendBatch(spark, dir, delta, batchId)

  def compact(spark: SparkSession, dir: String): Unit = store.compact(spark, dir)
}

/** A stored 3D cloud. Its selections run through the [[SelectionCore]]
  * both blocked clouds share, over the 3D key with a cover budget of
  * 2048 ranges, so z is pruned at the scan, not post-filtered. What is
  * 3D-only lives here: the explode, which decodes x, y and z from the
  * key, the exact predicates over grid coordinates (box, cylinder,
  * polygon prism and the kNN's in-box test) and voxel counts. */
final class BlockedCloud3(
    val spark: SparkSession,
    val blocks: DataFrame,
    val meta: Cloud3Meta) {
  import SelectionCore.{dist2, Contained}

  // x and y on the integer grid, z at 1/zDenom
  private val core = new SelectionCore(spark, blocks, meta.headLen, meta.tailLen,
    meta.axes.zip(Seq(meta.qxMax, meta.qyMax, meta.qzMax)).map { case (a, m) => a.gridAxis(m) },
    budget = 2048, (blk, tag) => explode3(blk, Some(tag)))

  /** The shapes this cloud holds a selection template for. */
  private[operators] def templateShapes: Set[Shape] = core.shapes

  /** The grid coordinates of `dims` (0 = xq, 1 = yq, 2 = zq) inside the
    * grid box, bounds bound as parameters. */
  private def inGrid(p: Bindings, b: GridBox, dims: Int*): Column = dims.map { i =>
    val q = col(Seq("xq", "yq", "zq")(i))
    q >= p(b.lo(i)) && q <= p(b.hi(i))
  }.reduce(_ && _)

  /** Explode blocks to grid points (xq, yq, zq); a `contained` per-block
    * flag rides along as the [[SelectionCore.Contained]] column. */
  private def explode3(blk: DataFrame, contained: Option[Column] = None): DataFrame = {
    val key = shiftleft(col("sfc_head"), meta.tailLen).bitwiseOR(col("t"))
    val tag = contained.map(_.as(Contained)).toSeq
    blk.select((explode(col("sfc_tail")).as("t") +: col("sfc_head") +: tag): _*)
      .select(Seq(sfc.morton_decode(key, 3, 0).as("xq"), sfc.morton_decode(key, 3, 1).as("yq"),
        sfc.morton_decode(key, 3, 2).as("zq")) ++ tag.map(_ => col(Contained)): _*)
  }

  /** Grid points -> (x, y, z) with z reconstructed as zq / zDenom — the
    * IEEE quotient is correctly rounded, so it reproduces the
    * closest-double-to-decimal form the source data carries. */
  private def out(df: DataFrame): DataFrame = df.select(
    col("xq").cast("double").as("x"), col("yq").cast("double").as("y"),
    (col("zq").cast("double") / meta.zDenom).as("z"))

  /** All points in the inclusive 3D box (original coordinates) —
    * filter-refine with z pruned AT THE SCAN via the octree ranges,
    * not post-filtered; points of contained blocks skip the exact test. */
  def boxQuery(xMin: Double, xMax: Double, yMin: Double, yMax: Double,
      zMin: Double, zMax: Double): DataFrame =
    core.select("box", Seq(xMin -> xMax, yMin -> yMax, zMin -> zMax)) { (p, b) =>
      val exact = col(Contained) || inGrid(p, b, 0, 1, 2)
      cand => out(cand.filter(exact))
    }

  /** Cylinder selection: 2D circle x height band — the B-suite circle
    * with B10-B12's z refinement fused into ONE pruned scan (octree
    * ranges bound x, y AND z; the exact predicate then runs on the
    * candidates only). */
  def cylinderQuery(cx: Double, cy: Double, r: Double,
      zMin: Double, zMax: Double): DataFrame =
    core.select("cylinder", Seq((cx - r, cx + r), (cy - r, cy + r), (zMin, zMax))) { (p, b) =>
      val exact = dist2(Seq("xq", "yq"), Seq(p(cx), p(cy))) <= p(r * r) && inGrid(p, b, 2)
      cand => out(cand.filter(exact))
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
    core.select("polygon", Seq(pb.xMin -> pb.xMax, pb.yMin -> pb.yMax, zMin -> zMax)) {
      (p, b) =>
        val exact = col(Contained) || inGrid(p, b, 2)
        val inPolygon = p.inPolygon(col("x"), col("y"), poly)
        cand => out(cand.filter(exact)).filter(inPolygon)
    }
  }

  def polygonQuery(wkt: String, zMin: Double, zMax: Double): DataFrame =
    polygonQuery(graft.core.Geometry.parseWktPolygon(wkt), zMin, zMax)

  /** A radius around (px, py, pz) whose sphere holds ≥ min(k, n) points. */
  private[operators] def knnSeedRadius(px: Double, py: Double, pz: Double, k: Int): Double =
    core.seedRadius(Seq(px, py, pz), k)

  /** k nearest neighbours of (px, py, pz) by TRUE 3D distance — the
    * height-aware form the 2D store's [[BlockedCloud.knn]] cannot
    * answer. The seed sphere ([[knnSeedRadius]]) provably holds the k
    * nearest, so the answer is ONE octree-pruned selection of its
    * bounding box, refined to the sphere and ranked by (d², x, y, z):
    * one job ([[SelectionCore.knn]]). */
  def knn(px: Double, py: Double, pz: Double, k: Int): DataFrame =
    core.knn(Seq(px, py, pz), k) { (p, b) =>
      val inBox = col(Contained) || inGrid(p, b, 0, 1, 2)
      cand => out(cand.filter(inBox))
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

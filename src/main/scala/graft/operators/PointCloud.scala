package graft.operators

import scala.collection.mutable.ArrayBuilder

import org.apache.spark.sql.{Column, DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import graft.core.{Bbox, Circle, Geometry, HeadRanges, Morton, MortonRange, Polygon}
import graft.functions.sfc
import graft.functions.sfc.param

/** Import-time knobs, mirroring the reference's import JSON spec
  * (scripts/import_20m.json keys scales/offsets/ratio/srid;
  * pipeline/import_data.py:11-23). */
final case class ImportSpec(
    name: String = "cloud",
    srid: Int = 0,
    scaleX: Double = 1.0, scaleY: Double = 1.0, scaleZ: Double = 1.0,
    offX: Double = 0.0, offY: Double = 0.0, offZ: Double = 0.0,
    ratio: Double = 0.7,
    /** When set, override `ratio` with a density-derived split: pick
      * the even head length whose expected occupancy (point count /
      * 2^headLen) is closest to this target. The reference leaves the
      * ratio as a hand-tuned knob per dataset (scripts/import_*_s*.json
      * sweeps); at sparse densities a fixed ratio degenerates to
      * one-point blocks, losing the layout's purpose. */
    targetPointsPerBlock: Option[Int] = None)

/** Dataset catalog row — the Spark form of pc_metadata_<name>
  * (reference db/__init__.py:43-52). Unlike the reference's querier,
  * which hard-codes head/tail = 26/12 (query.py:27), queries here
  * always read the split from this metadata. */
final case class CloudMeta(
    name: String, srid: Int, pointCount: Long,
    headLen: Int, tailLen: Int,
    scaleX: Double, scaleY: Double, scaleZ: Double,
    offX: Double, offY: Double, offZ: Double,
    xMin: Double, xMax: Double, yMin: Double, yMax: Double,
    zMin: Double, zMax: Double)

/** One Morton-head block: parallel arrays sfc_tail(i) <-> z(i), sorted by
  * tail — the Spark form of pc_record_<name> (db/__init__.py:53-57),
  * with 64-bit heads (the reference's pg INT can overflow, SURVEY §1.3). */
final case class PointBlock(sfc_head: Long, sfc_tail: Array[Long], z: Array[Double])

/** One streamed micro-batch's ledger entry (count + extents) — written
  * idempotently per `__batch` partition by [[PointCloud.appendBatch]]. */
final case class BatchLedgerRow(__batch: Long, n: Long,
    x_min: Double, x_max: Double, y_min: Double, y_max: Double,
    z_min: Double, z_max: Double)

object PointCloud {
  private val store = new BlockStore[(Long, Long, Double), PointBlock, CloudMeta](
    Seq("z"), estBytesPerPoint = 8L, packSorted, _.pointCount, _.tailLen)(
    Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong, Encoders.scalaDouble),
    Encoders.product[PointBlock], Encoders.product[CloudMeta])

  /** Import a point cloud from a DataFrame with double columns (x, y, z).
    *
    * Spark-first re-expression of the reference's import pipeline
    * (pipeline/import_data.py:25-56 + pcsfc/point_processor.py:41-81):
    * one stats pass, then quantize -> Morton encode -> head/tail split ->
    * range-shuffle on head -> in-partition sort -> streaming block pack.
    * The pack is a mapPartitions grouper over sorted input, NOT
    * collect_list, so a block never materializes more than one group —
    * the 100 TB-safe form (SURVEY §2.5 A1).
    *
    * Divergence from the reference: Python round() is banker's rounding;
    * quantizing here is HALF_UP, Spark's round() bit for bit through the
    * keying kernel [[graft.functions.RoundKernels.halfUp]] (no
    * BigDecimal per point). Identical on any grid where coordinates
    * don't land exactly on .5 after scaling (all fixtures use integer
    * grids).
    */
  def importPoints(points: DataFrame, spec: ImportSpec): BlockedCloud = {
    val spark = points.sparkSession
    val s = BlockStore.extents(points, col("x"), col("y"), col("z"))
      .getOrElse(throw new IllegalArgumentException("cannot import an empty point cloud"))
    val n = s.getLong(0)
    val Seq(qxMax, qyMax) = gridMax(s, spec.offX, spec.scaleX, spec.offY, spec.scaleY)
    val ratio = spec.targetPointsPerBlock match {
      case Some(target) =>
        val totalBits = { val s = Morton.splitLengths(qxMax, qyMax, 1.0); s._1 + s._2 }
        // even head length with ~n/2^h points per head closest to target
        val ideal = math.log(math.max(n.toDouble / target, 1.0)) / math.log(2.0)
        val headLen = math.max(2, math.min(totalBits - 2,
          2 * math.round(ideal / 2).toInt))
        headLen.toDouble / totalBits
      case None => spec.ratio
    }
    val (headLen, tailLen) = Morton.splitLengths(qxMax, qyMax, ratio)
    val meta = CloudMeta(spec.name, spec.srid, n, headLen, tailLen,
      spec.scaleX, spec.scaleY, spec.scaleZ, spec.offX, spec.offY, spec.offZ,
      s.getDouble(1), s.getDouble(2), s.getDouble(3), s.getDouble(4),
      s.getDouble(5), s.getDouble(6))
    new BlockedCloud(spark, store.pack(keyPoints(points, meta), meta), meta)
  }

  private def quantize(c: Column, off: Double, scale: Double): Column =
    sfc.round_half_up((c - lit(off)) / lit(scale)).cast(LongType)

  /** Quantized (x, y) maxima of a batch with stats `s` (count, then
    * min and max of x, y, z) on the grid (off, scale), after the grid
    * guard. Quantizes as [[quantize]] does per row: Spark's round is
    * HALF_UP over the double's decimal form. */
  private def gridMax(s: Row, offX: Double, scaleX: Double, offY: Double, scaleY: Double,
      keyBits: Int = 64): Seq[Long] = {
    def q(i: Int, off: Double, scale: Double): Long =
      java.math.BigDecimal.valueOf((s.getDouble(i) - off) / scale)
        .setScale(0, java.math.RoundingMode.HALF_UP).doubleValue().toLong
    BlockStore.guardGrid(2, Seq(q(1, offX, scaleX), q(2, offX, scaleX),
      q(3, offY, scaleY), q(4, offY, scaleY)), keyBits)
  }

  /** (x, y, z) points -> (sfc_head, sfc_tail, z) under `meta`'s grid
    * and key split. */
  private def keyPoints(points: DataFrame, meta: CloudMeta): DataFrame = {
    val mkey = sfc.morton_encode(
      quantize(col("x"), meta.offX, meta.scaleX),
      quantize(col("y"), meta.offY, meta.scaleY))
    points.select(
      shiftright(mkey, meta.tailLen).as("sfc_head"),
      mkey.bitwiseAND(lit((1L << meta.tailLen) - 1)).as("sfc_tail"),
      sfc.round_half_up(col("z"), 2).as("z")) // z kept at 2 decimals (point_processor.py:47)
  }

  /** Entry point 1 of the reference (importer.py): import LAS file(s)
    * into the blocked-SFC layout. `path` may be one .las file or a
    * directory (DirLoader semantics, S3) — one distributed job either
    * way, not the reference's sequential per-file loop
    * (pipeline/import_data.py:109-136). */
  def importLas(spark: SparkSession, path: String, spec: ImportSpec): BlockedCloud = {
    val pts =
      if (java.nio.file.Files.isDirectory(java.nio.file.Paths.get(path)))
        graft.sources.Las.readDir(spark, path)
      else graft.sources.Las.readPoints(spark, path)
    importPoints(pts, spec)
  }

  /** 2D blocks from a head-then-tail sorted stream, one block in memory. */
  private def packSorted(it: Iterator[(Long, Long, Double)]): Iterator[PointBlock] =
    BlockStore.packSorted(it, (p: (Long, Long, Double)) => p._1) { (head, points) =>
      val (tails, zs) = (new ArrayBuilder.ofLong, new ArrayBuilder.ofDouble)
      points.foreach { p => tails += p._2; zs += p._3 }
      PointBlock(head, tails.result(), zs.result())
    }

  /** Version of the on-disk block layout and of the import that writes
    * it. Stores cached across runs key on it, so a layout, keying or
    * writer change re-imports instead of serving old files. */
  private[graft] val LayoutVersion: Int = 3

  /** Persist blocks + metadata. */
  def write(cloud: BlockedCloud, dir: String): Unit =
    store.write(cloud.spark, cloud.blocks, cloud.meta, dir)

  /** Open a stored cloud: the base import plus any landed batches
    * ([[appendBatch]]), its catalog row composed with the batch ledger
    * (count sum, extent min/max-merge). */
  def read(spark: SparkSession, dir: String): BlockedCloud = {
    val (m, blocks, ledger) = store.open(spark, dir)
    val meta = ledger.fold(m) { ledger =>
      val l = ledger.agg(sum("n"), min("x_min"), max("x_max"), min("y_min"), max("y_max"),
        min("z_min"), max("z_max")).head()
      m.copy(pointCount = m.pointCount + l.getLong(0),
        xMin = math.min(m.xMin, l.getDouble(1)), xMax = math.max(m.xMax, l.getDouble(2)),
        yMin = math.min(m.yMin, l.getDouble(3)), yMax = math.max(m.yMax, l.getDouble(4)),
        zMin = math.min(m.zMin, l.getDouble(5)), zMax = math.max(m.zMax, l.getDouble(6)))
    }
    new BlockedCloud(spark, blocks, meta)
  }

  /** Exactly-once ingest of one micro-batch ([[BlockStore.landBatch]]),
    * its ledger row carrying the batch's count and extents. It packs
    * UNDER THE STORED GRID — an append must never re-derive the key
    * space, or every stored key changes meaning — so a batch past the
    * stored key space is rejected (re-import with headroom to widen
    * it). An empty micro-batch lands nothing. */
  def appendBatch(spark: SparkSession, dir: String, delta: DataFrame,
      batchId: Long): Unit = {
    val meta = store.readMeta(spark, dir)
    BlockStore.extents(delta, col("x"), col("y"), col("z")).foreach { s =>
      gridMax(s, meta.offX, meta.scaleX, meta.offY, meta.scaleY, meta.headLen + meta.tailLen)
      store.landBatch(dir, store.pack(keyPoints(delta, meta), meta), s.getLong(0), batchId,
        spark.createDataset(Seq(BatchLedgerRow(batchId, s.getLong(0),
          s.getDouble(1), s.getDouble(2), s.getDouble(3), s.getDouble(4),
          s.getDouble(5), s.getDouble(6))))(Encoders.product[BatchLedgerRow]).toDF())
    }
  }

  /** Incremental ingest outside a stream: [[appendBatch]] under a
    * negative batch id below every landed one, so it never replaces a
    * streamed batch (stream ids count up from 0). Appends fragment
    * heads across blocks — queries stay correct, layout quality
    * degrades until [[compact]]: cheap appends all day, one clustering
    * compaction when fragmentation warrants. */
  def appendPoints(spark: SparkSession, dir: String, delta: DataFrame): Unit = {
    val landed = Option(new java.io.File(s"$dir/counts").list()).toSeq.flatten
      .collect { case f if f.startsWith("__batch=") => f.stripPrefix("__batch=").toLong }
    appendBatch(spark, dir, delta, (0L +: landed).min - 1)
  }

  /** Clustering compaction ([[BlockStore.compact]]): every head is
    * again exactly one block inside one range-clustered file, with
    * streamed batches folded into the base — the post-append
    * maintenance pass. */
  def compact(spark: SparkSession, dir: String): Unit = {
    val cloud = read(spark, dir)
    store.compact(spark, dir, cloud.blocks, cloud.meta)
  }

  /** CSV block sink in the reference's pg-COPY shape — arrays rendered
    * as `{a,b,c}` (point_processor.py:83-87). Distributed write (one
    * csv part per partition), header per the reference's to_csv. */
  def writeCsv(cloud: BlockedCloud, path: String): Unit =
    cloud.blocks.select(
      col("sfc_head"),
      concat(lit("{"), concat_ws(",", col("sfc_tail")), lit("}")).as("sfc_tail"),
      concat(lit("{"), concat_ws(",", col("z")), lit("}")).as("z"))
      .write.mode("overwrite").option("header", "true")
      .option("quote", "\"").csv(path)

  /** JDBC sink: blocks + metadata to a JDBC database — the reference's
    * storage target is PostgreSQL (db/__init__.py:36-107;
    * BASELINE.json's "ETL to PostgreSQL" shape).
    * `pc_record_<name>(sfc_head, sfc_tail, z)` plus a one-row
    * `pc_metadata_<name>`; callers add the sfc_head index DDL
    * (db/__init__.py:118-126) post-load.
    *
    * `arraysAsText = false` keeps native array columns (PostgreSQL
    * INT[]/DOUBLE PRECISION[] via the driver's setArray — the exact
    * db/__init__.py:53-57 schema). `arraysAsText = true` renders each
    * array in the pg-COPY literal form `{a,b,c}` for dialects without
    * array types — also what JdbcSpec exercises end-to-end against
    * embedded Derby (the only JDBC engine in this sandbox; the native-
    * array mapping itself needs a live PostgreSQL and remains untested
    * here). Writes are partition-parallel: one JDBC connection per
    * partition, batched inserts. */
  def writeJdbc(cloud: BlockedCloud, url: String,
      props: java.util.Properties, arraysAsText: Boolean = false): Unit = {
    def pgText(a: Column): Column =
      concat(lit("{"), concat_ws(",", a), lit("}"))
    val blocks =
      if (!arraysAsText) cloud.blocks
      else cloud.blocks.select(col("sfc_head"),
        pgText(col("sfc_tail")).as("sfc_tail"), pgText(col("z")).as("z"))
    blocks.write.mode("append")
      .jdbc(url, s"pc_record_${cloud.meta.name}", props)
    cloud.metadataDf
      .write.mode("append").jdbc(url, s"pc_metadata_${cloud.meta.name}", props)
  }
}

/** A stored point cloud + its catalog row; all queries are lazy
  * DataFrames. Its selections run through the [[SelectionCore]] both
  * blocked clouds share, on the (x, y) grid with a cover budget of 256
  * ranges; every per-query constant (bounds, centres, radii, segment
  * endpoints, z cuts) enters the plan as a bound `QueryParam`, never a
  * literal. What is 2D-only lives here: the explode, which decodes x
  * and y from the key and carries z from its array, the exact
  * predicates, the batch kNN and the grid operators. No per-point
  * driver work (the reference's INSERT-per-point loop,
  * retrieve_data.py:150-151, is the anti-pattern this replaces). */
final class BlockedCloud(
    val spark: SparkSession,
    val blocks: DataFrame,
    val meta: CloudMeta) {
  import SelectionCore.{dist2, Contained}

  private val core = {
    def axis(off: Double, scale: Double, max: Double) =
      GridAxis(off, scale, math.round((max - off) / scale).max(0L), v => (v - off) / scale)
    new SelectionCore(spark, blocks, meta.headLen, meta.tailLen,
      Seq(axis(meta.offX, meta.scaleX, meta.xMax), axis(meta.offY, meta.scaleY, meta.yMax)),
      budget = 256, (blk, tag) => explodePoints(blk, Some(tag)))
  }

  /** The shapes this cloud holds a selection template for. */
  private[operators] def templateShapes: Set[Shape] = core.shapes

  /** Unpack blocks to reconstructed points (x, y, z) — the reference's
    * explode-decode loop (retrieve_data.py:127-145) as a lazy plan:
    * arrays_zip → explode → native decode expressions, all inside
    * whole-stage codegen. A `contained` per-block flag rides along to
    * every point of the block as the [[SelectionCore.Contained]] column. */
  private def explodePoints(blk: DataFrame, contained: Option[Column] = None): DataFrame = {
    val key = shiftleft(col("sfc_head"), meta.tailLen).bitwiseOR(col("p.sfc_tail"))
    val tag = contained.map(_.as(Contained)).toSeq
    blk.select((col("sfc_head") +: tag :+
        explode(arrays_zip(col("sfc_tail"), col("z"))).as("p")): _*)
      .select(Seq(
        (sfc.morton_decode(key, 2, 0).cast("double") * meta.scaleX + meta.offX).as("x"),
        (sfc.morton_decode(key, 2, 1).cast("double") * meta.scaleY + meta.offY).as("y"),
        col("p.z").as("z")) ++ tag.map(_ => col(Contained)): _*)
  }

  /** The (min, max) bounds of a bbox, per dimension. */
  private def bounds(b: Bbox): Seq[(Double, Double)] = Seq(b.xMin -> b.xMax, b.yMin -> b.yMax)

  private def xyz(df: DataFrame): DataFrame = df.select("x", "y", "z")

  /** All points with x in [xMin, xMax] and y in [yMin, yMax] (inclusive);
    * points of contained blocks skip the exact test. */
  def bboxQuery(b: Bbox): DataFrame = core.select("bbox", bounds(b)) { (p, _) =>
    val exact = col(Contained) ||
      (col("x") >= p(b.xMin) && col("x") <= p(b.xMax) &&
        col("y") >= p(b.yMin) && col("y") <= p(b.yMax))
    cand => xyz(cand.filter(exact))
  }

  /** 2D circle selection (z ignored — PostGIS ST_DWithin on 2D points,
    * retrieve_data.py:56-63); boundary inclusive (<= r). */
  def circleQuery(c: Circle): DataFrame = core.select("circle", bounds(c.bbox)) { (p, _) =>
    val exact = dist2(Seq("x", "y"), Seq(p(c.cx), p(c.cy))) <= p(c.r * c.r)
    cand => xyz(cand).filter(exact)
  }

  /** Polygon (with holes) selection, even-odd rule, boundary excluded. */
  def polygonQuery(poly: Polygon): DataFrame = core.select("polygon", bounds(poly.bbox)) {
    (p, _) =>
      val exact = p.inPolygon(col("x"), col("y"), poly)
      cand => xyz(cand).filter(exact)
  }

  def polygonQuery(wkt: String): DataFrame =
    polygonQuery(Geometry.parseWktPolygon(wkt))

  /** Points within distance `r` of a polyline — the buffered-polyline
    * selections of suites B/C (B9_S_POLYLINE_BUFFER in
    * scripts/query_210m.json; C13_L/C14_DIAG_POLYLINE_BUFFER in
    * scripts/query_2201m.json — the reference ships them pre-buffered
    * as polygon WKT, so [[polygonQuery]] also covers that form).
    * Exact round-cap/round-join semantics: distance to the nearest
    * segment <= r (what the reference's polygonized buffer
    * approximates), evaluated per segment as built-in arithmetic that
    * stays inside whole-stage codegen — no geometry library, no UDF.
    * SFC pruning uses the line's bbox grown by r; the exact predicate
    * then applies to every candidate (a block inside the grown bbox is
    * NOT necessarily inside the buffer, unlike the rectangle
    * case). Predicate size is linear in segment count — fine for query
    * shapes (tens of vertices); a million-vertex line would call for a
    * broadcast segment table + range join instead. */
  def polylineBufferQuery(line: Array[Double], r: Double): DataFrame = {
    require(line.length >= 4 && line.length % 2 == 0,
      "polyline needs >= 2 (x, y) points, packed [x0,y0,x1,y1,...]")
    require(r >= 0, s"negative buffer radius $r")
    val (xs, ys) = line.grouped(2).map(v => (v(0), v(1))).toArray.unzip
    val segs = xs.indices.tail.map(i => (xs(i - 1), ys(i - 1), xs(i), ys(i)))
      .filter { case (ax, ay, bx, by) => ax != bx || ay != by }
    require(segs.nonEmpty, "polyline has no non-degenerate segment")
    val grown = Seq(xs, ys).map(v => (v.min - r, v.max + r))
    // point-to-segment distance^2: project onto the segment, clamp the
    // parameter to [0,1], measure to the clamped foot. The expression
    // tree mirrors PointCloudQueries' oracle SQL token-for-token so
    // both engines round identically (all-double IEEE arithmetic).
    core.select("polyline", grown, segs.length) { (p, _) =>
      val r2 = p(r * r)
      val exact = segs.map { case (ax, ay, bx, by) =>
        val (dx, dy) = (bx - ax, by - ay)
        val (pax, pay, dxc, dyc, len2) = (p(ax), p(ay), p(dx), p(dy), p(dx * dx + dy * dy))
        val t = greatest(lit(0.0), least(lit(1.0),
          ((col("x") - pax) * dxc + (col("y") - pay) * dyc) / len2))
        val fx = col("x") - (t * dxc + pax)
        val fy = col("y") - (t * dyc + pay)
        fx * fx + fy * fy <= r2
      }.reduce(_ || _)
      cand => xyz(cand).filter(exact)
    }
  }

  def polylineBufferQuery(wkt: String, r: Double): DataFrame =
    polylineBufferQuery(Geometry.parseWktLinestring(wkt), r)

  /** A radius around (px, py) whose circle holds ≥ min(k, n) points. */
  private[operators] def knnSeedRadius(px: Double, py: Double, k: Int): Double =
    core.seedRadius(Seq(px, py), k)

  /** k nearest neighbours of (px, py) by 2D distance — the reference
    * declares this mode but never implemented it (retrieve_data.py:40-41).
    * The seed circle ([[knnSeedRadius]], from the head histogram, so
    * skewed clouds neither over- nor under-shoot) provably holds the k
    * nearest, so the answer is ONE pruned circle selection ranked by
    * (d², x, y, z): one job ([[SelectionCore.knn]]). */
  def knn(px: Double, py: Double, k: Int): DataFrame =
    core.knn(Seq(px, py), k)((_, _) => xyz)

  /** Batch kNN: the k nearest neighbours of EVERY query point in one
    * plan — the production form of [[knn]] when a workload carries many
    * probes. One scan reads the blocks under the merged covers of the
    * queries' seed circles; a broadcast (qid, centre, r²) table matches
    * each candidate to the circles it lies in, and a per-query window
    * ranks them, so the shuffle carries only candidates, never the
    * cloud. Ties break on (d², x, y, z) like [[knn]]. */
  def knnBatch(queries: Seq[(Long, Double, Double)], k: Int): DataFrame = {
    require(k > 0, "k must be positive")
    require(queries.nonEmpty, "need at least one query point")
    val circles = queries.map { case (qid, px, py) =>
      (qid, Circle(px, py, knnSeedRadius(px, py, k)))
    }
    val merged = MortonRange.mergeRanges(circles.flatMap { case (_, c) =>
      core.cover(core.gridBox(bounds(c.bbox))).all
    })
    val (blk, _) = core.candidateBlocks(HeadRanges(Vector.empty, merged))
    val probes = spark.createDataFrame(circles.map { case (qid, c) =>
      (qid, c.cx, c.cy, c.r * c.r)
    }).toDF("qid", "__qx", "__qy", "__r2")
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("qid"))
      .orderBy(col("__d2").asc, col("x").asc, col("y").asc, col("z").asc)
    explodePoints(blk).crossJoin(broadcast(probes))
      .withColumn("__d2", dist2(Seq("x", "y"), Seq(col("__qx"), col("__qy"))))
      .filter(col("__d2") <= col("__r2"))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= k)
      .select(col("qid"), col("x"), col("y"), col("z"))
  }

  /** Height refinements (retrieve_data.py:85-101): keep z <= maxZ / z >= minZ.
    * Compose on any query result: cloud.bboxQuery(b).filter(...) — these are
    * the named forms. */
  def withMaxZ(df: DataFrame, maxZ: Double): DataFrame = df.filter(col("z") <= param(maxZ))
  def withMinZ(df: DataFrame, minZ: Double): DataFrame = df.filter(col("z") >= param(minZ))

  /** Per-block occupancy histogram by quadtree cell (reference's side CSV,
    * point_processor.py:77-79). With an even tail length the head IS the
    * Morton key of the cell (x >> tailLen/2, y >> tailLen/2), so the cell
    * coordinates are SQL-derivable for the oracle. */
  def histogram: DataFrame = {
    // the head is the Morton key of (x >> t/2, y >> t/2) only when the
    // tail length t is even — an odd tail garbles the decode silently
    require(meta.tailLen % 2 == 0,
      s"histogram needs an even tail length (cell decode invariant); got ${meta.tailLen}")
    blocks.select(
      sfc.morton_decode(col("sfc_head"), 2, 0).as("cell_x"),
      sfc.morton_decode(col("sfc_head"), 2, 1).as("cell_y"),
      size(col("sfc_tail")).cast(LongType).as("n_points"))
  }

  /** Voxel-grid statistics: per XY cell of `cell` original-coordinate
    * units, the point count and z extremes plus an exact centi-unit z
    * sum (z is stored at 2 decimals — point_processor.py:47 — so
    * round(z*100) is an integer and the sum is order-independent,
    * unlike a double sum). The shape LiDAR tooling calls a density /
    * elevation raster; the reference's histogram (S5) is the special
    * case cell == quadtree block size. One narrow projection + one
    * partially-aggregated shuffle of ~(extent/cell)^2 cells — scale is
    * bounded by the raster size, not the point count. */
  def gridAggregate(cell: Double): DataFrame = {
    require(cell > 0, s"non-positive cell size $cell")
    explodePoints(blocks)
      .groupBy(
        floor(col("x") / cell).cast(LongType).as("cell_x"),
        floor(col("y") / cell).cast(LongType).as("cell_y"))
      .agg(count(lit(1)).as("n_points"),
        min(col("z")).as("min_z"), max(col("z")).as("max_z"),
        sum(round(col("z") * 100).cast(LongType)).as("sum_z_centi"))
  }

  /** Deterministic grid thinning: one representative point per XY cell —
    * the lexicographically smallest (x, y, z), so the result is a pure
    * function of the point set (no RNG, no partition-order dependence).
    * `min` over a struct compares field-by-field and partial-aggregates
    * map-side: a single reduced shuffle of one point per cell, the
    * downsample shape that survives any corpus size. */
  def gridDownsample(cell: Double): DataFrame = {
    require(cell > 0, s"non-positive cell size $cell")
    explodePoints(blocks)
      .groupBy(
        floor(col("x") / cell).cast(LongType).as("cell_x"),
        floor(col("y") / cell).cast(LongType).as("cell_y"))
      .agg(min(struct(col("x"), col("y"), col("z"))).as("p"))
      .select(col("cell_x"), col("cell_y"),
        col("p.x").as("x"), col("p.y").as("y"), col("p.z").as("z"))
  }

  /** Cell-to-cell elevation gradient: for each raster cell, the maximum
    * |mean z difference| to its 4-neighborhood — the slope/discontinuity
    * raster terrain tooling derives from a density grid. Neighbor
    * lookup is an EQUI-join: each cell emits its mean under its four
    * neighbors' coordinates (a 4x explode of the raster, not of the
    * points) so the join shuffles raster-sized tables on cell keys —
    * never a non-equi neighbor predicate, which would plan as a
    * nested-loop. Mean z = exact centi sum / (100 * n): identical
    * IEEE division on both engines, so max|diff| is hash-comparable. */
  def gridSlope(cell: Double): DataFrame = {
    val m = gridAggregate(cell).select(col("cell_x"), col("cell_y"),
      (col("sum_z_centi").cast("double") / (lit(100.0) * col("n_points")))
        .as("mean_z"))
    val offsets = array(
      struct(lit(1L).as("dx"), lit(0L).as("dy")),
      struct(lit(-1L).as("dx"), lit(0L).as("dy")),
      struct(lit(0L).as("dx"), lit(1L).as("dy")),
      struct(lit(0L).as("dx"), lit(-1L).as("dy")))
    val contrib = m.select(explode(offsets).as("o"), col("cell_x"),
        col("cell_y"), col("mean_z").as("nb_mean"))
      .select((col("cell_x") + col("o.dx")).as("cell_x"),
        (col("cell_y") + col("o.dy")).as("cell_y"), col("nb_mean"))
    m.join(contrib, Seq("cell_x", "cell_y"))
      .groupBy(col("cell_x"), col("cell_y"))
      .agg(count(lit(1)).as("n_neighbors"),
        max(abs(col("mean_z") - col("nb_mean"))).as("max_dz"))
  }

  /** Exact per-cell ORDER STATISTIC of elevation: the k-th smallest
    * centi-z where k = ceil(permille/1000 * n) — the discrete
    * percentile canopy/height products use (P95 crown height etc.).
    * Discrete-by-construction: no interpolation arithmetic to match
    * across engines, the answer is a value that EXISTS in the cell, so
    * the oracle replays it with the same row_number/count recipe.
    * Ties in z are harmless: row order among equal zc is
    * nondeterministic but the VALUE at any rank is not. One shuffle on
    * the cell key; windows partition by cell (raster-keyed — bounded
    * population per the usual raster-sizing duty, never a global or
    * single-partition window). */
  def gridPercentile(cell: Double, permille: Int = 950): DataFrame = {
    require(cell > 0 && permille >= 1 && permille <= 1000)
    import org.apache.spark.sql.expressions.Window
    val p = explodePoints(blocks).select(
      floor(col("x") / cell).cast(LongType).as("cell_x"),
      floor(col("y") / cell).cast(LongType).as("cell_y"),
      round(col("z") * 100).cast(LongType).as("zc"))
    val w = Window.partitionBy(col("cell_x"), col("cell_y"))
    p.withColumn("rk", row_number().over(w.orderBy(col("zc").asc)))
      .withColumn("n", count(lit(1)).over(w))
      .filter(col("rk") === expr(s"(n * $permille + 999) div 1000"))
      .select(col("cell_x"), col("cell_y"), col("n").as("n_points"),
        col("zc").as(s"p${permille}_centi"))
  }

  /** Per-cell least-squares PLANE fit + roughness: fit z = a·x + b·y + c
    * over each raster cell's points and report the slope components and
    * the maximum |residual| — the planarity/roughness raster ground and
    * building classifiers consume (the plane-fit upgrade of
    * [[gridSlope]]'s mean-difference gradient).
    *
    * Exactness: coordinates are CELL-LOCAL integers (dx, dy < cell) and
    * z is centi-quantized, so the normal-equation sums are exact
    * BIGINTs and Cramer's rule runs in exact integer arithmetic down to
    * three final correctly-rounded divisions — a bit-reproducible plane
    * fit. The three 2x2 minors are shared between the determinant and
    * the a-numerator (same submatrix columns). Degenerate cells
    * (det == 0: fewer than 3 points or collinear layouts) are excluded
    * exactly. Residuals then evaluate per point in one fixed-order
    * double expression. Integer envelope: |terms| <= n·cell²·(n·cell² +
    * n·zMax·100) per product — for cell = 64, z <= 50 that holds to
    * ~5000 points per cell; size cells so the per-cell population stays
    * inside it (the same raster-sizing duty every grid op has).
    *
    * Scale shape: one narrow projection, ONE partially-aggregated
    * raster-sized shuffle for the sums, a raster-sized fit table, and
    * an equi-join of points back to their cell's fit (2 scans total —
    * the slope-raster join pattern, never a window over points). */
  def gridPlanarity(cell: Double): DataFrame = {
    require(cell > 0, s"non-positive cell size $cell")
    val p = explodePoints(blocks).select(
      floor(col("x") / cell).cast(LongType).as("cell_x"),
      floor(col("y") / cell).cast(LongType).as("cell_y"),
      (col("x") - floor(col("x") / cell) * cell).cast(LongType).as("dx"),
      (col("y") - floor(col("y") / cell) * cell).cast(LongType).as("dy"),
      round(col("z") * 100).cast(LongType).as("zc"))
    val s = p.groupBy(col("cell_x"), col("cell_y")).agg(
      count(lit(1)).as("n"),
      sum(col("dx")).as("sx"), sum(col("dy")).as("sy"),
      sum(col("dx") * col("dx")).as("sxx"),
      sum(col("dy") * col("dy")).as("syy"),
      sum(col("dx") * col("dy")).as("sxy"),
      sum(col("dx") * col("zc")).as("sxz"),
      sum(col("dy") * col("zc")).as("syz"),
      sum(col("zc")).as("sz"))
    // shared first-column minors of [[sxx sxy sx][sxy syy sy][sx sy n]]
    val m11 = col("syy") * col("n") - col("sy") * col("sy")
    val m21 = col("sxy") * col("n") - col("sx") * col("sy")
    val m31 = col("sxy") * col("sy") - col("sx") * col("syy")
    val det = col("sxx") * m11 - col("sxy") * m21 + col("sx") * m31
    val detA = col("sxz") * m11 - col("syz") * m21 + col("sz") * m31
    val n11 = col("syz") * col("n") - col("sy") * col("sz")
    val n21 = col("sxz") * col("n") - col("sx") * col("sz")
    val n31 = col("sxz") * col("sy") - col("sx") * col("syz")
    val detB = col("sxx") * n11 - col("sxy") * n21 + col("sx") * n31
    val p11 = col("syy") * col("sz") - col("syz") * col("sy")
    val p21 = col("sxy") * col("sz") - col("sxz") * col("sy")
    val p31 = col("sxy") * col("syz") - col("sxz") * col("syy")
    val detC = col("sxx") * p11 - col("sxy") * p21 + col("sx") * p31
    val fit = s.withColumn("det", det)
      .filter(col("det") =!= 0L)
      .select(col("cell_x"), col("cell_y"), col("n").as("n_points"),
        (detA.cast("double") / col("det").cast("double")).as("slope_x"),
        (detB.cast("double") / col("det").cast("double")).as("slope_y"),
        (detC.cast("double") / col("det").cast("double")).as("icept_centi"))
    // fit is raster-sized however many points there are — pin it as the
    // broadcast side so the point pass never shuffles at any scale
    p.join(broadcast(fit), Seq("cell_x", "cell_y"))
      .groupBy(col("cell_x"), col("cell_y"))
      .agg(max(col("n_points")).as("n_points"),
        max(col("slope_x")).as("slope_x"), max(col("slope_y")).as("slope_y"),
        max(abs(col("zc").cast("double") -
          (col("slope_x") * col("dx") + col("slope_y") * col("dy") +
            col("icept_centi")))).as("max_resid_centi"))
  }

  /** Radius outlier removal (the PDAL `filters.ror` shape): keep the
    * points whose 3D neighborhood population within `radius` — the
    * point's own multiset identity included — reaches `minNeighbors`;
    * isolated noise returns drop. Count semantics are by (x, y, z)
    * IDENTITY with multiplicity, so duplicate points reinforce each
    * other and every surviving duplicate row is emitted.
    *
    * Scale shape: a cell-blocked spatial self-join — identities bucket
    * into radius-sized XY cells, one side explodes to its 3x3
    * neighborhood (a 9x explode of the DISTINCT identities, never the
    * point multiset), the join is an EQUI-join on cell keys, and the
    * exact squared-distance test runs on candidates only (local
    * density x 9, never n²). The dropped-identity set (outlier-sized
    * by contract) then broadcast-anti filters the exploded points.
    *
    * Identity is the (x, y, z) triple itself — every identity-keyed
    * stage (the multiplicity groupBy, the neighbor-count groupBy, the
    * final anti-join) groups or joins on the raw double triple, which
    * matches the oracle's GROUP BY verbatim, carries no hash-collision
    * semantics, and keeps every aggregation a partial-combined
    * HashAggregate (an earlier xxhash64 rekeying needed a
    * representative aggregation whose struct-max planned as
    * SortAggregate — measured slower, PLANS.md). Spark normalizes
    * -0.0 in group/join keys, so signed zeros agree with SQL
    * equality. */
  def radiusOutlierRemoval(radius: Double, minNeighbors: Long): DataFrame = {
    require(radius > 0 && minNeighbors >= 1)
    val pts = explodePoints(blocks)
    // identity IS the coordinate triple: grouping by (x, y, z)
    // directly replaces the earlier xxhash64 rekeying — no hash, so
    // no collision semantics at all (the collided-representative
    // question dissolves), the key matches the oracle's GROUP BY
    // 1,2,3 verbatim, and the aggregation stays a plain partial-
    // combined HashAggregate where the struct-max representative
    // forced SortAggregate (PLANS.md); the exchange carries
    // (24-byte key, count) vs the hash form's (8-byte id + 24-byte
    // representative, count) — strictly narrower.
    // MATERIALIZED once (r21): both the probe explode and the q side
    // consume this frame, and without a cut each side re-ran the
    // whole scan+decode+aggregate from the raw blocks (two identical
    // HashAggregate subtrees in the r20 plan). The blocks are freed
    // as soon as the (outlier-sized) dropped set is materialized.
    val ids = Frames.cutLocal(pts.groupBy(col("x"), col("y"), col("z"))
      .agg(count(lit(1)).as("__m")))
    def cellOf(c: Column) = floor(c / radius).cast(LongType)
    val q = ids.select(col("x").as("__qx"), col("y").as("__qy"),
      col("z").as("__qz"), col("__m"),
      cellOf(col("x")).as("__cx"), cellOf(col("y")).as("__cy"))
    val offsets = array((for (dx <- -1 to 1; dy <- -1 to 1) yield
      struct(lit(dx.toLong).as("dx"), lit(dy.toLong).as("dy"))): _*)
    val probe = ids.select(col("x"), col("y"), col("z"),
        cellOf(col("x")).as("__px"), cellOf(col("y")).as("__py"),
        explode(offsets).as("o"))
      .select(col("x"), col("y"), col("z"),
        (col("__px") + col("o.dx")).as("__cx"),
        (col("__py") + col("o.dy")).as("__cy"))
    val d2 = (col("__qx") - col("x")) * (col("__qx") - col("x")) +
      (col("__qy") - col("y")) * (col("__qy") - col("y")) +
      (col("__qz") - col("z")) * (col("__qz") - col("z"))
    // every identity self-pairs (same cell, d2 = 0), so the counts
    // cover ALL identities and the complement is exact: emit the
    // DROPPED set (outliers — rare by definition) and anti-join, so
    // the build side is outlier-sized and AQE broadcasts it; the point
    // multiset itself never shuffles. The semi-join formulation would
    // shuffle every point against a kept-set as big as the cloud.
    // The cell join is a SHUFFLED-HASH join built on the UN-exploded
    // q side (guide §3.1): Catalyst's static estimate for both sides
    // descends from the kilobyte-scale blocks scan, so it planned a
    // BroadcastHashJoin that built a hash relation over the 9x
    // neighbor EXPLODE of every distinct identity — a single-threaded
    // ~cloud-sized broadcast build (the r20 anti-scaling: 8 cores
    // beat 32 at 0.52 because the build dominates and never
    // parallelizes). Hash-partitioning both sides on the cell key
    // builds and probes in parallel, and cells are radius-sized so
    // no partition's build side can be skewed beyond local density.
    // Measured sf0.1: 3.4 s -> ~1.9 s and the broadcast disappears
    // from the plan.
    val dropped = Frames.materializeCut(
      probe.join(q.hint("SHUFFLE_HASH"), Seq("__cx", "__cy"))
        .filter(d2 <= lit(radius * radius))
        .groupBy(col("x"), col("y"), col("z"))
        .agg(sum(col("__m")).as("__cnt"))
        .filter(col("__cnt") < minNeighbors)
        .select(col("x"), col("y"), col("z")))
    Frames.free(ids)
    // EXPLICIT broadcast, not AQE-adaptive: depending on which side
    // AQE builds the cell join on, the count aggregation can inherit
    // the identity-key partitioning and reach the anti join with no
    // shuffle stage of its own — no runtime-stats point, no broadcast
    // conversion, and the anti join nondeterministically degrades to
    // a SortMergeJoin that re-shuffles the entire point multiset
    // (observed scheduling-dependent at local[4]; a repartition() on
    // the dropped set gets elided as redundant). The dropped set is
    // outlier-sized BY THE OPERATOR'S CONTRACT — that asymmetry is
    // why this is an anti join against DROPPED rather than a semi
    // join against a cloud-sized kept set — so the hint encodes the
    // documented cost model; parameters so loose that "outliers"
    // exceed the broadcast limit fail loudly rather than silently
    // shuffling the cloud.
    pts.join(broadcast(dropped), Seq("x", "y", "z"), "left_anti")
  }

  /** Height above ground per point: ground elevation = the minimum z of
    * the point's XY raster cell (the cheap ground model terrain tooling
    * starts from), hag = z - ground. The ground raster reduces through
    * one partial-agged groupBy (cell rows only in the exchange); points
    * then equi-join their cell's row — the ground side is raster-
    * bounded, so AQE broadcasts it and the POINTS never shuffle. Both
    * operands of the subtraction are the stored doubles, so hag is
    * bit-exact on any engine. */
  def heightAboveGround(cell: Double): DataFrame = {
    require(cell > 0, s"non-positive cell size $cell")
    def cellCols(df: DataFrame): DataFrame = df
      .withColumn("cell_x", floor(col("x") / cell).cast(LongType))
      .withColumn("cell_y", floor(col("y") / cell).cast(LongType))
    val ground = cellCols(explodePoints(blocks))
      .groupBy(col("cell_x"), col("cell_y"))
      .agg(min(col("z")).as("__gz"))
    cellCols(explodePoints(blocks))
      .join(ground, Seq("cell_x", "cell_y"))
      .select(col("x"), col("y"), col("z"), (col("z") - col("__gz")).as("hag"))
  }

  /** Progressive morphological ground filter (the PMF family — Zhang
    * et al. 2003; PDAL `filters.pmf`/`filters.smrf` shape): open the
    * min-z raster (erosion = window min, then dilation = window max)
    * with growing windows, and a point is ground iff it clears EVERY
    * stage's opened surface by at most that stage's threshold —
    * progressive rejection, expressed as one conjunction.
    *
    * `stages` = (windowRadiusCells, elevationThreshold) pairs; each
    * stage opens the PREVIOUS stage's surface (the PMF recipe).
    * Boundary semantics: windows see only existing cells (sparse
    * raster, no padding).
    *
    * Scale shape: every morphological pass is raster-sized — the
    * (2w+1)² neighborhood is an explode of raster ROWS + equi-join on
    * cell keys (the gridSlope recipe), never a non-equi window over
    * points. The per-stage surfaces join into one raster frame that
    * broadcasts to the points (heightAboveGround recipe), so the point
    * multiset never shuffles. Everything compared is a stored double
    * or a single IEEE add — exact on any engine. */
  def morphologicalGround(cell: Double, stages: Seq[(Int, Double)]): DataFrame = {
    require(cell > 0, s"non-positive cell size $cell")
    require(stages.nonEmpty && stages.forall(_._1 >= 1))
    def cellCols(df: DataFrame): DataFrame = df
      .withColumn("cell_x", floor(col("x") / cell).cast(LongType))
      .withColumn("cell_y", floor(col("y") / cell).cast(LongType))
    val pts = cellCols(explodePoints(blocks))

    // One morphological pass = ONE linear shuffle: every raster row
    // explodes to its (2w+1)² offsets, the (0,0) contribution marks
    // the target as an existing cell (so no join back to the cell
    // list — referencing the surface twice would replicate the whole
    // upstream lineage per pass, the plan blow-up the first version
    // of this operator had), and previously-computed stage surfaces
    // ride through as the self row's carried columns (exactly one
    // self contribution per surviving target, so max(when(self, c))
    // recovers them losslessly).
    def pass(surface: DataFrame, value: String, w: Int,
        f: Column => Column, out: String, carried: Seq[String]): DataFrame = {
      val offsets = array((for (dx <- -w to w; dy <- -w to w) yield
        struct(lit(dx.toLong).as("dx"), lit(dy.toLong).as("dy"))): _*)
      val contrib = surface
        .select((col("cell_x") +: col("cell_y") +: col(value).as("__v") +:
          carried.map(col)): _*)
        .select((explode(offsets).as("o") +: col("cell_x") +: col("cell_y") +:
          col("__v") +: carried.map(col)): _*)
        .select((
          (col("cell_x") + col("o.dx")).as("cell_x") +:
          (col("cell_y") + col("o.dy")).as("cell_y") +:
          col("__v") +:
          (col("o.dx") === 0L && col("o.dy") === 0L).as("__self") +:
          carried.map(col)): _*)
      contrib.groupBy(col("cell_x"), col("cell_y"))
        .agg(f(col("__v")).as(out),
          (max(col("__self")).as("__exists") +:
            carried.map(c => max(when(col("__self"), col(c))).as(c))): _*)
        .filter(col("__exists")) // out-of-raster targets have no self row
        .drop("__exists")
    }

    var surface = pts.groupBy(col("cell_x"), col("cell_y"))
      .agg(min(col("z")).as("__s0"))
    var cur = "__s0"
    var carried = List.empty[String]
    stages.zipWithIndex.foreach { case ((w, _), i) =>
      val eroded = pass(surface, cur, w, min, s"__e$i", carried)
      surface = pass(eroded, s"__e$i", w, max, s"__o$i", carried)
      cur = s"__o$i"
      carried = s"__o$i" :: carried
    }
    val groundCond = stages.zipWithIndex
      .map { case ((_, t), i) => col("z") <= col(s"__o$i") + lit(t) }
      .reduce(_ && _)
    pts.join(surface.select((col("cell_x") +: col("cell_y") +:
        carried.map(col)): _*), Seq("cell_x", "cell_y"))
      .select(col("x"), col("y"), col("z"),
        when(groundCond, lit(1)).otherwise(lit(0)).as("is_ground"))
  }

  /** The catalog row as a DataFrame (pc_metadata equivalent). */
  def metadataDf: DataFrame =
    spark.createDataset(Seq(meta))(Encoders.product[CloudMeta]).toDF()

  /** Export any (x, y, z) query result to a LAS file with the
    * reference exporter's fixed header (exporter.py:76-89). */
  def exportLas(result: DataFrame, path: String): Unit =
    graft.sources.Las.writePoints(result, path)
}

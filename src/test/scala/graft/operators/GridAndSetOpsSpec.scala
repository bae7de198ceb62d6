package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.TempDir

/** Round-6 surface: voxel-grid aggregation / deterministic thinning on
  * the blocked cloud, overlap-coefficient scoring, and the new
  * query-module shapes (funnel, retention, set ops) via invariants on
  * the sf0.001 test tables. */
class GridAndSetOpsSpec extends AnyFunSuite with TempDir {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  private def cloudOf(pts: Seq[(Double, Double, Double)]): BlockedCloud =
    PointCloud.importPoints(pts.toDF("x", "y", "z"), ImportSpec(ratio = 0.5))

  test("gridAggregate: counts partition the cloud; z stats per cell exact") {
    val pts = Seq(
      (0.0, 0.0, 1.0), (1.0, 1.0, 2.0), (2.0, 3.0, 3.0), // cell (0,0) @4
      (5.0, 1.0, 10.0), (6.0, 2.0, 0.5),                 // cell (1,0)
      (1.0, 6.0, 7.25))                                  // cell (0,1)
    val got = cloudOf(pts).gridAggregate(4.0).collect()
      .map(r => ((r.getLong(0), r.getLong(1)),
        (r.getLong(2), r.getDouble(3), r.getDouble(4), r.getLong(5)))).toMap
    assert(got.size == 3)
    assert(got((0L, 0L)) == ((3L, 1.0, 3.0, 600L)))
    assert(got((1L, 0L)) == ((2L, 0.5, 10.0, 1050L)))
    assert(got((0L, 1L)) == ((1L, 7.25, 7.25, 725L)))
    assert(got.values.map(_._1).sum == pts.size)
  }

  test("gridDownsample keeps the lexicographically smallest point per cell") {
    val pts = Seq(
      (3.0, 0.0, 9.0), (0.0, 3.0, 5.0), (0.0, 2.0, 8.0), // cell (0,0)
      (4.0, 0.0, 1.0))                                   // cell (1,0)
    val got = cloudOf(pts).gridDownsample(4.0).collect()
      .map(r => ((r.getLong(0), r.getLong(1)),
        (r.getDouble(2), r.getDouble(3), r.getDouble(4)))).toMap
    assert(got.size == 2)
    assert(got((0L, 0L)) == ((0.0, 2.0, 8.0))) // min x, then min y
    assert(got((1L, 0L)) == ((4.0, 0.0, 1.0)))
  }

  test("heightAboveGround: hag = z - cell-min z, ground points at zero") {
    val pts = Seq(
      (1.0, 1.0, 2.0), (2.0, 2.0, 7.5), (3.0, 0.0, 2.0), // cell (0,0): ground 2
      (5.0, 1.0, 4.25))                                  // cell (1,0): alone
    val got = cloudOf(pts).heightAboveGround(4.0).collect()
      .map(r => ((r.getDouble(0), r.getDouble(1)), (r.getDouble(2), r.getDouble(3)))).toMap
    assert(got.size == 4)
    assert(got((1.0, 1.0)) == ((2.0, 0.0)))
    assert(got((2.0, 2.0)) == ((7.5, 5.5)))
    assert(got((3.0, 0.0)) == ((2.0, 0.0)))
    assert(got((5.0, 1.0)) == ((4.25, 0.0)))
  }

  test("gridSlope: max mean-z step to the 4-neighborhood, edges excluded") {
    val pts = Seq(
      (1.0, 1.0, 10.0), (2.0, 2.0, 20.0), // cell (0,0): mean 15
      (5.0, 1.0, 35.0),                   // cell (1,0): mean 35
      (1.0, 5.0, 17.0))                   // cell (0,1): mean 17
    val got = cloudOf(pts).gridSlope(4.0).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), (r.getLong(2), r.getDouble(3)))).toMap
    // (0,0) has 2 populated neighbors: |15-35|=20, |15-17|=2 -> max 20
    assert(got((0L, 0L)) == ((2L, 20.0)))
    assert(got((1L, 0L)) == ((1L, 20.0))) // only neighbor is (0,0)
    assert(got((0L, 1L)) == ((1L, 2.0)))
  }

  test("anomaly counts: a planted outlier is flagged, uniform users are not") {
    import org.apache.spark.sql.types._
    val rows = (1 to 50).map(i => (1L, 10.0)) :+ ((1L, 1000.0)) // user 1: spike
    val all = rows ++ (1 to 50).map(i => (2L, 10.0))            // user 2: flat
    val d = all.toDF("user_id", "value")
    val got = Events.anomalyCounts(d, "user_id", "value", sigma = 2.0)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got(1L) == ((51L, 1L))) // exactly the spike
    assert(got(2L) == ((50L, 0L))) // zero variance -> no anomalies
  }

  test("overlap coefficient >= jaccard on every emitted pair, both <= 1") {
    val d = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta iota"), // superset
      (3L, "totally different words entirely here now"))
      .toDF("doc_id", "text")
    val rows = Dedup.minhashNearDupsWithOverlap(d, "doc_id", "text",
      shingleLen = 3, wordShingles = true, numHashes = 64, bands = 16,
      threshold = 0.5).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (j, o) = (r.getDouble(2), r.getDouble(3))
      assert(o >= j && o <= 1.0 + 1e-12 && j > 0)
    }
    // the planted subset pair: containment is exactly 1 (A subset of B)
    val sub = rows.find(r => r.getLong(0) == 1L && r.getLong(1) == 2L)
    assert(sub.exists(_.getDouble(3) == 1.0))
  }

  test("funnel stages are monotone; retention never exceeds active") {
    val funnel = graft.queries.EventQueries.queries("ev_funnel")(spark, sf).head()
    val (users, v, vc, vcp) =
      (funnel.getLong(0), funnel.getLong(1), funnel.getLong(2), funnel.getLong(3))
    assert(users >= v && v >= vc && vc >= vcp && v > 0)
    val ret = graft.queries.EventQueries.queries("ev_retention")(spark, sf).collect()
    assert(ret.nonEmpty)
    ret.foreach(r => assert(r.getLong(2) <= r.getLong(1)))
  }

  test("tfidfTop scores in exact integers and breaks ties to smallest term") {
    val d = Seq(
      (1L, "apple apple banana"), // tf(apple)=2, df=1 -> 2000000
      (2L, "banana cherry"),      // both score 500000 -> lex-min 'banana'
      (3L, "cherry date"))        // date: tf=1, df=1 -> 1000000 wins
      .toDF("doc_id", "text")
    val got = TextStats.tfidfTop(d, "doc_id", "text").collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap
    assert(got(1L) == (("apple", 2000000L)))
    assert(got(2L) == (("banana", 500000L)))
    assert(got(3L) == (("date", 1000000L)))
  }

  test("approx distinct users lands within 5% of exact per event type") {
    val approx = graft.queries.EventQueries.queries("ev_approx_users")(spark, sf)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val ev = spark.read.parquet(s"$sf/events.parquet")
    val exact = ev.groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")).as("u")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    exact.foreach { case (k, e) =>
      assert(math.abs(approx(k) - e) <= math.max(1L, (0.05 * e).toLong),
        s"$k: approx ${approx(k)} vs exact $e")
    }
  }

  test("salted join result equals the plain join") {
    val salted = graft.queries.RelQueries.queries("rel_salted_join")(spark, sf)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
    val ord = spark.read.parquet(s"$sf/orders.parquet")
    val plain = li.join(ord, li("l_orderkey") === ord("o_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n"),
        sum(Events.milli(col("l_extendedprice") * (lit(1.0) - col("l_discount"))))
          .as("s"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(salted == plain)
  }

  test("pq codes are deterministic, in range, and use multiple codebook entries") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    def run() = Similarity.pqCodes(emb, "vec_id", "embedding",
      m = 4, kSub = 16, samplePct = 50).collect()
      .map(r => r.getLong(0) -> (1 to 4).map(r.getLong)).toMap
    val a = run()
    assert(a == run()) // no RNG anywhere -> bit-stable
    assert(a.nonEmpty)
    a.values.foreach(codes => codes.foreach(c => assert(c >= 0 && c < 16)))
    // each segment actually discriminates (not all rows on one centroid)
    (0 until 4).foreach { s =>
      assert(a.values.map(_(s)).toSet.size > 1, s"segment $s collapsed")
    }
  }

  test("stored IVF index: partition-pruned probes, same answer as inline IVF") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val dir = tmpSubdir("ivf_spec")
    Similarity.writeIvfIndex(emb, "vec_id", "embedding", dir, nLists = 16)
    val q = emb.filter(col("vec_id") === 0).select("embedding")
      .head().getSeq[Float](0).toArray
    val indexed = Similarity.ivfTopKIndexed(spark, dir, "vec_id", "embedding",
      q, 20, nProbe = 4)
    val got = indexed.collect().toSeq
    // the probe scan must READ fewer files than the store holds
    // (inputFiles ignores pruning — use the scan's numFiles metric)
    import org.apache.spark.sql.execution.FileSourceScanExec
    val helper = new org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {}
    val scans = helper.collectWithSubqueries(indexed.queryExecution.executedPlan) {
      case s: FileSourceScanExec if s.metadata("Location").contains("vectors") => s
    }
    val allFiles = spark.read.parquet(s"$dir/vectors").inputFiles.length
    assert(scans.nonEmpty)
    val read = scans.head.metrics("numFiles").value
    assert(read > 0 && read < allFiles, s"expected pruned scan, read $read/$allFiles files")
    // identical result to the inline (recomputed-quantizer) path
    val inline = Similarity.ivfTopK(emb, "vec_id", "embedding", q, 20,
      nLists = 16, nProbe = 4)
    assert(got == inline.collect().toSeq)
  }

  test("next-fit-decreasing packs no worse than id-order packing") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    def packs(df: org.apache.spark.sql.DataFrame): Long = df
      .select(col("bucket") * 1000000 + col("pack_idx")).distinct().count()
    val greedy = packs(TextStats.packSequences(docs, "doc_id", "text", 1024L, 8))
    val nfd = packs(TextStats.packSequencesNfd(docs, "doc_id", "text", 1024L, 8))
    assert(nfd <= greedy && nfd > 0)
  }

  test("incremental near-dup against a stored index decomposes the batch result") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val corpus = docs.filter(col("doc_id") % 10 =!= 0)
    val delta = docs.filter(col("doc_id") % 10 === 0)
    val dir = tmpSubdir("ndidx")
    Dedup.writeNearDupIndex(corpus, "doc_id", "text", dir,
      shingleLen = 3, wordShingles = true, numHashes = 64)
    val incr = Dedup.nearDupsAgainstIndex(spark, dir, delta, "doc_id", "text",
        shingleLen = 3, wordShingles = true, numHashes = 64, bands = 16,
        threshold = 0.8)
      .collect().map(r => (math.min(r.getLong(0), r.getLong(1)),
        math.max(r.getLong(0), r.getLong(1)))).toSet
    // truth: the full-batch pairs that cross the delta/corpus boundary
    val full = Dedup.minhashNearDups(docs, "doc_id", "text",
        shingleLen = 3, wordShingles = true, numHashes = 64, bands = 16,
        threshold = 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .filter { case (a, b) => (a % 10 == 0) != (b % 10 == 0) }
      .map { case (a, b) => (math.min(a, b), math.max(a, b)) }.toSet
    assert(incr == full && incr.nonEmpty)
  }

  test("intersect and except partition the R-side key set") {
    val inter = graft.queries.RelQueries.queries("rel_parts_intersect")(spark, sf)
    val exc = graft.queries.RelQueries.queries("rel_parts_except")(spark, sf)
    // disjoint by construction, and their union is the distinct R side
    assert(inter.intersect(exc).count() == 0)
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
    val rSide = li.filter(col("l_returnflag") === "R" && col("l_quantity") > 49)
      .select(col("l_partkey")).distinct().count()
    assert(inter.count() + exc.count() == rSide)
  }

  test("gridPlanarity recovers an exact plane (zero residual, exact slopes)") {
    // points exactly on z = 0.02*x + 0.01*y + 1 (centi-exact z for
    // integer x, y): zc = 2x + y + 100 -> the integer Cramer solve must
    // recover slope_x = 2, slope_y = 1, icept = 100 and a residual of
    // EXACTLY zero. Points span cell (0,0) of a 4-unit raster with
    // non-collinear (x, y) so the system is full-rank.
    val pts = for (x <- 0 to 3; y <- 0 to 3)
      yield (x.toDouble, y.toDouble, 0.02 * x + 0.01 * y + 1.0)
    val got = cloudOf(pts).gridPlanarity(4.0).collect()
    assert(got.length == 1)
    val r = got.head
    assert(r.getAs[Long]("n_points") == 16L)
    assert(r.getAs[Double]("slope_x") == 2.0)
    assert(r.getAs[Double]("slope_y") == 1.0)
    assert(r.getAs[Double]("max_resid_centi") == 0.0)
  }

  test("gridPercentile: exact k-th order statistic, ties and tiny cells") {
    // cell (0,0): z = 0.01..0.20 -> P95 rank ceil(.95*20) = 19 -> 19
    // centi. cell (1,0): all-equal z -> any rank returns the tie value.
    // cell (2,0): single point -> rank ceil(.95) = 1 -> that point.
    val c0 = (1 to 20).map(i => (0.0 + (i % 4), 0.0 + (i % 4 + i / 4) % 4, i / 100.0))
    val c1 = (1 to 5).map(_ => (5.0, 1.0, 7.77))
    val pts = c0 ++ c1 :+ ((9.0, 2.0, 3.33))
    val got = cloudOf(pts).gridPercentile(4.0, 950).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), (r.getLong(2), r.getLong(3)))).toMap
    assert(got((0L, 0L)) == ((20L, 19L)))
    assert(got((1L, 0L)) == ((5L, 777L)))
    assert(got((2L, 0L)) == ((1L, 333L)))
  }

  test("gridPlanarity flags a spike as roughness, excludes degenerate cells") {
    // flat cell with one 10-unit (1000 centi) spike: the LSQ plane
    // tilts a little, so the max residual is large but below the spike
    // height; a second cell holds a single point (rank-deficient,
    // det = 0) and must be absent from the output
    val flat = for (x <- 0 to 3; y <- 0 to 3)
      yield (x.toDouble, y.toDouble, if (x == 0 && y == 0) 11.0 else 1.0)
    val pts = flat :+ ((5.0, 1.0, 7.0)) // lone point in cell (1, 0)
    val got = cloudOf(pts).gridPlanarity(4.0).collect()
      .map(r => ((r.getAs[Long]("cell_x"), r.getAs[Long]("cell_y")), r)).toMap
    assert(got.keySet == Set((0L, 0L)), s"degenerate cell must drop: ${got.keySet}")
    val resid = got((0L, 0L)).getAs[Double]("max_resid_centi")
    assert(resid > 500.0 && resid < 1000.0, s"spike residual: $resid")
  }
}

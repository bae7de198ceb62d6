package graft.queries

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{BlockStore, BlockedCloud, ImportSpec, PointCloud}

class PointCloudQueriesSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  test("a re-keyed store build removes the source dir's stale stores only") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft_pc_cache_spec").toString
    val dir = "/data/sf0.001"
    // another source dir whose sanitized name extends this one's
    val other = Paths.get(root, "_data_sf0.001_b_0_1_v2")
    Files.createDirectories(other)
    val pts = Seq((1.0, 2.0, 3.0), (10.0, 20.0, 30.0), (100.0, 200.0, 5.0)).toDF("x", "y", "z")
    def open(importArgs: String): BlockedCloud =
      PointCloudQueries.cached(spark, root, dir, importArgs) { cacheDir =>
        PointCloud.write(PointCloud.importPoints(pts, ImportSpec(name = "t")), cacheDir)
      }(PointCloud.read(spark, _))

    try {
      open("first")
      val c = open("second")
      val stores = Files.list(Paths.get(root)).iterator().asScala
        .map(_.getFileName.toString).filter(_ != other.getFileName.toString).toList
      assert(stores.size == 1, stores)
      assert(stores.head.contains(Integer.toHexString("second".hashCode)), stores)
      assert(Files.exists(other))
      assert(c.meta.pointCount == 3 && c.blocks.count() > 0)
    } finally BlockStore.rmdir(Paths.get(root))
  }
}

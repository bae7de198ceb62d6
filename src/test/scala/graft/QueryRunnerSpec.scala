package graft

import com.fasterxml.jackson.databind.ObjectMapper

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.core.{Bbox, Circle}
import graft.operators.{ImportSpec, PointCloud}
import graft.sources.TempDir

class QueryRunnerSpec extends AnyFunSuite with TempDir {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  import spark.implicits._

  private lazy val cloud = {
    val pts = for (x <- 0 until 50; y <- 0 until 50)
      yield (x.toDouble, y.toDouble, (x % 7).toDouble)
    PointCloud.importPoints(pts.toDF("x", "y", "z"), ImportSpec(name = "qr"))
  }

  private def parse(json: String) = new ObjectMapper().readTree(json)

  test("reference-format specs dispatch to the right queries") {
    val bbox = QueryRunner.runOne(cloud,
      parse("""{"mode": "bbox", "geometry": [10, 20, 10, 20]}"""))
    assert(bbox.count() == cloud.bboxQuery(Bbox(10, 20, 10, 20)).count())
    assert(bbox.count() == 121)

    val circle = QueryRunner.runOne(cloud,
      parse("""{"mode": "circle", "geometry": [[25, 25], 5]}"""))
    assert(circle.count() == cloud.circleQuery(Circle(25, 25, 5)).count())

    val poly = QueryRunner.runOne(cloud,
      parse("""{"mode": "polygon",
        "geometry": "POLYGON ((9.5 9.5, 20.5 9.5, 20.5 20.5, 9.5 20.5, 9.5 9.5))"}"""))
    assert(poly.count() == 121)

    val zChained = QueryRunner.runOne(cloud,
      parse("""{"mode": "bbox", "geometry": [0, 49, 0, 49], "maxz": 3, "minz": 2}"""))
    // z in {2, 3}: x % 7 in {2, 3} -> 14 columns of 50
    assert(zChained.count() == 700)

    val nn = QueryRunner.runOne(cloud,
      parse("""{"mode": "nn", "geometry": [25.2, 25.2], "k": 4}"""))
    assert(nn.count() == 4)
  }

  test("run attempts every query and returns the failure count") {
    import java.nio.file.{Files, Paths}
    val base = Paths.get(tmpSubdir("graft_qr_run"))
    PointCloud.write(cloud, base.resolve("qr").toString)
    val specFile = base.resolve("spec.json")
    Files.writeString(specFile, """{"queries": {
      "ok_bbox": {"source_dataset": "qr", "mode": "bbox", "geometry": [10, 20, 10, 20]},
      "bad_mode": {"source_dataset": "qr", "mode": "hexagon", "geometry": [0, 1]},
      "missing_store": {"source_dataset": "nowhere", "mode": "bbox", "geometry": [0, 1, 0, 1]},
      "ok_circle": {"source_dataset": "qr", "mode": "circle", "geometry": [[25, 25], 5]}}}""")
    val out = base.resolve("out").toString
    assert(QueryRunner.run(spark, specFile.toString, base.toString, Some(out)) == 2)
    // the queries after a failure still ran
    assert(spark.read.parquet(s"$out/ok_bbox").count() == 121)
    assert(Files.exists(Paths.get(s"$out/ok_circle/_SUCCESS")))
  }

  test("a query subset naming an unknown query is an error, not an empty run") {
    assert(SparkEntry.selected(None).isEmpty)
    assert(SparkEntry.selected(Some("pc_bbox_small, pc_circle")) ==
      Some(Set("pc_bbox_small", "pc_circle")))
    val e = intercept[IllegalArgumentException](SparkEntry.selected(Some("pc_circle,q1_agg")))
    assert(e.getMessage.contains("q1_agg") && !e.getMessage.contains("pc_circle"))
  }
}

package graft

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.core.{Bbox, Circle}
import graft.operators.{BlockedCloud, PointCloud}

/** Entry-point parity with the reference's query CLI (query.py:8-48):
  * consumes the reference's own JSON spec format —
  *
  * {{{
  * {"queries": {"A1_S_RCT": {"source_dataset": "20m", "mode": "bbox",
  *              "geometry": [xmin, xmax, ymin, ymax],
  *              "maxz": 10, "minz": -1}, ...}}
  * }}}
  *
  * modes: bbox `[xmin, xmax, ymin, ymax]`, circle `[[cx, cy], r]`,
  * polygon `"POLYGON ((...))"` (holes supported), nn `[x, y]` (+
  * optional `"k"`, default 1000 — the mode the reference declares but
  * never implemented, retrieve_data.py:40-41). `maxz`/`minz` chain as
  * refinements exactly like query.py:39-42. The `config` block (pg
  * credentials) is ignored — storage is the blocked-parquet layout.
  *
  * Usage: runMain graft.QueryRunner <spec.json> <cloudBaseDir> [outDir]
  * source_dataset `<name>` resolves to `<cloudBaseDir>/<name>` when that
  * directory exists, else `<cloudBaseDir>` itself. With outDir set,
  * each result lands in `<outDir>/<query_name>` as parquet (the S9
  * result-table sink). Every query is attempted; the exit status is 1
  * when any of them failed.
  */
object QueryRunner {

  def runOne(cloud: BlockedCloud, spec: JsonNode): DataFrame = {
    val mode = spec.get("mode").asText()
    val g = spec.get("geometry")
    val base = mode match {
      case "bbox" =>
        cloud.bboxQuery(Bbox(g.get(0).asDouble(), g.get(1).asDouble(),
          g.get(2).asDouble(), g.get(3).asDouble()))
      case "circle" =>
        cloud.circleQuery(Circle(g.get(0).get(0).asDouble(),
          g.get(0).get(1).asDouble(), g.get(1).asDouble()))
      case "polygon" =>
        cloud.polygonQuery(g.asText())
      case "nn" =>
        val k = if (spec.has("k")) spec.get("k").asInt() else 1000
        cloud.knn(g.get(0).asDouble(), g.get(1).asDouble(), k)
      case other => throw new IllegalArgumentException(s"unknown mode $other")
    }
    val withMax = if (spec.has("maxz")) cloud.withMaxZ(base, spec.get("maxz").asDouble()) else base
    if (spec.has("minz")) cloud.withMinZ(withMax, spec.get("minz").asDouble()) else withMax
  }

  /** Run every query of the spec file at `specPath` — each one is
    * attempted even after an earlier one fails — and return how many
    * failed. */
  def run(spark: SparkSession, specPath: String, cloudBase: String,
      outDir: Option[String]): Int = {
    val root = new ObjectMapper().readTree(new java.io.File(specPath))
    val clouds = scala.collection.mutable.Map.empty[String, BlockedCloud]
    var failures = 0
    root.get("queries").properties().forEach { e =>
      val (name, spec) = (e.getKey, e.getValue)
      val t0 = System.nanoTime()
      val ds = spec.get("source_dataset").asText()
      val dir = if (java.nio.file.Files.isDirectory(java.nio.file.Paths.get(s"$cloudBase/$ds")))
        s"$cloudBase/$ds" else cloudBase
      println(s"=== ${spec.get("mode").asText()} query $name from $ds ===")
      try {
        val result = runOne(clouds.getOrElseUpdate(dir, PointCloud.read(spark, dir)), spec)
        val n = outDir match {
          case Some(o) =>
            result.write.mode("overwrite").parquet(s"$o/$name")
            spark.read.parquet(s"$o/$name").count()
          case None => result.count()
        }
        println(f"--> $n rows, ${(System.nanoTime() - t0) / 1e9}%.2fs")
      } catch {
        case e: Exception =>
          failures += 1
          println(s"An error occurred: $e")
      }
    }
    failures
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: QueryRunner <spec.json> <cloudBaseDir> [outDir]")
    val spark = SparkSession.builder()
      .master(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")}]")
      .config("spark.sql.shuffle.partitions", sys.env.getOrElse("SPARK_GRAFT_CPUS", "4"))
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val failures = try run(spark, args(0), args(1), args.lift(2)) finally spark.stop()
    if (failures > 0) {
      System.err.println(s"$failures of the spec's queries failed")
      sys.exit(1)
    }
  }
}

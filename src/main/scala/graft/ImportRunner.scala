package graft

import com.fasterxml.jackson.databind.ObjectMapper

import org.apache.spark.sql.SparkSession

import graft.operators.{ImportSpec, PointCloud}

/** Entry-point parity with the reference's import CLI
  * (importer.py:8-46): consumes the reference's own import JSON —
  *
  * {{{
  * {"imports": {"20m": {"mode": "file"|"dir", "srid": 28992,
  *   "path": "/data/x.las", "scales": [sx, sy, sz],
  *   "offsets": [ox, oy, oz], "ratio": 0.7}}}
  * }}}
  *
  * Each dataset lands as blocked-SFC parquet at `<outBase>/<name>`
  * (the pg tables' role; push to PostgreSQL itself with
  * [[PointCloud.writeJdbc]]). `mode` is honored but moot —
  * [[PointCloud.importLas]] handles files and directories as one
  * distributed job either way (the reference loops files sequentially,
  * pipeline/import_data.py:109-136).
  *
  * Usage: runMain graft.ImportRunner <spec.json> <outBase>
  */
object ImportRunner {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: ImportRunner <spec.json> <outBase>")
    val Array(specPath, outBase) = args.take(2)
    val spark = SparkSession.builder()
      .master(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")}]")
      .config("spark.sql.shuffle.partitions", sys.env.getOrElse("SPARK_GRAFT_CPUS", "4"))
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val root = new ObjectMapper().readTree(new java.io.File(specPath))
    root.get("imports").properties().forEach { e =>
      val (name, s) = (e.getKey, e.getValue)
      val t0 = System.nanoTime()
      val spec = ImportSpec(
        name = name,
        srid = if (s.has("srid")) s.get("srid").asInt() else 0,
        scaleX = s.get("scales").get(0).asDouble(),
        scaleY = s.get("scales").get(1).asDouble(),
        scaleZ = s.get("scales").get(2).asDouble(),
        offX = s.get("offsets").get(0).asDouble(),
        offY = s.get("offsets").get(1).asDouble(),
        offZ = s.get("offsets").get(2).asDouble(),
        ratio = if (s.has("ratio")) s.get("ratio").asDouble() else 0.7)
      val cloud = PointCloud.importLas(spark, s.get("path").asText(), spec)
      PointCloud.write(cloud, s"$outBase/$name")
      println(f"=== imported $name: ${cloud.meta.pointCount} points, " +
        f"head/tail ${cloud.meta.headLen}/${cloud.meta.tailLen}, " +
        f"${(System.nanoTime() - t0) / 1e9}%.2fs ===")
    }
    spark.stop()
  }
}

/** Entry-point parity with the reference's export CLI (exporter.py):
  * reads a stored query result (parquet of x, y, z — the S9 result
  * table) and writes one .las file with the reference's fixed header.
  *
  * Usage: runMain graft.ExportRunner <resultParquetDir> <out.las>
  */
object ExportRunner {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: ExportRunner <resultParquetDir> <out.las>")
    val spark = SparkSession.builder()
      .master(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")}]")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val t0 = System.nanoTime()
    val df = spark.read.parquet(args(0))
    val n = graft.sources.Las.writePoints(df, args(1))
    println(f"=== exported $n points to ${args(1)}, ${(System.nanoTime() - t0) / 1e9}%.2fs ===")
    spark.stop()
  }
}

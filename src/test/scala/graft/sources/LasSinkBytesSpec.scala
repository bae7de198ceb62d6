package graft.sources

import java.nio.file.{Files, Paths}

import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** Pins the exact bytes every LAS/LAZ sink writes for fixed inputs
  * spread over three partitions: a change to the container code must
  * leave each file's SHA-256 as it is. The hashes are those of the four
  * separate writers that preceded the shared `Las.sink`. */
class LasSinkBytesSpec extends AnyFunSuite with TempDir {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val n = 2500

  private def frame(schema: StructType, rows: Seq[Row]): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 3), schema)

  private def doubles(names: String*) = names.map(StructField(_, DoubleType, nullable = false))
  private def ints(names: String*) = names.map(StructField(_, IntegerType, nullable = false))
  private def longs(names: String*) = names.map(StructField(_, LongType, nullable = false))

  private val waveNames = Seq("wp_index", "wp_offset", "wp_size", "wp_ret", "wp_xt", "wp_yt", "wp_zt")

  // world coordinates on the 0.1 grid of an AHN-like tile
  private val xyz: IndexedSeq[(Double, Double, Double)] = {
    val rnd = new Random(41)
    IndexedSeq.fill(n)((85000 + rnd.nextInt(100000) / 10.0, 440000 + rnd.nextInt(100000) / 10.0,
      -5 + rnd.nextInt(600) / 10.0))
  }
  private def xyzRow(i: Int): Seq[Any] = Seq(xyz(i)._1, xyz(i)._2, xyz(i)._3)
  private def waveRow(i: Int): Seq[Any] =
    Seq((i % 3).toLong, 16384L + 900L * i, 900L, (i % 1000).toLong,
      (i % 65536).toLong, ((i * 3) % 65536).toLong, ((i * 7) % 65536).toLong)

  private def points = frame(StructType(doubles("x", "y", "z")), (0 until n).map(i => Row.fromSeq(xyzRow(i))))
  private def withExtra = frame(StructType(doubles("x", "y", "z") :+ StructField("extra_bytes", BinaryType)),
    (0 until n).map(i => Row.fromSeq(xyzRow(i) :+ Array[Byte]((i % 251).toByte, (i % 7).toByte, 42))))
  private def withWave = frame(StructType(doubles("x", "y", "z") ++ longs(waveNames: _*)),
    (0 until n).map(i => Row.fromSeq(xyzRow(i) ++ waveRow(i))))
  private def attrs14 = frame(
    StructType(doubles("x", "y", "z") ++ ints("intensity", "return_number", "number_of_returns",
      "scanner_channel", "classification", "scan_angle", "user_data", "point_source") ++
      doubles("gps_time") ++ ints("r", "g", "b", "nir", "classification_flags",
      "scan_direction", "edge_of_flight")),
    (0 until n).map { i =>
      Row.fromSeq(xyzRow(i) ++ Seq[Any](i % 65536, 1 + i % 5, 5, i % 4, i % 32, (i % 601) - 300,
        i % 256, i % 1024, 1000.0 + i * 0.25, (i * 7) % 65536, (i * 11) % 65536,
        (i * 13) % 65536, (i * 17) % 65536, i % 16, i % 2, (i / 3) % 2))
    })
  private def empty = frame(StructType(doubles("x", "y", "z")), Nil)

  private def sha256(path: String): String = BytePins.sha256(Files.readAllBytes(Paths.get(path)))

  private val cases: Seq[(String, String => Unit, String)] = Seq(
    ("las_pf3", p => Las.writePoints(points, p),
      "239f1c03e79d3e242d8745fb2bb68534cb0cfd9849dbcd0685769c886f2c9962"),
    ("laz_pf0", p => Laz.writePoints(points, p, chunkPoints = 400),
      "85897d719a2f135a8c5f3d31dfdcb248d6ef50776783cd11b1739879cf467e11"),
    ("laz_pf3", p => Laz.writePoints(points, p, chunkPoints = 400, pointFormat = 3),
      "10d0a515c9621183082f81b020f1a9bb3d5915f26e6a69a9f99cdb3088b397b8"),
    ("laz_pf5", p => Laz.writePoints(withWave, p, chunkPoints = 400, pointFormat = 5),
      "d902eac4830d974cf8f0a6a2fbec28f273bfc0014c7dfe1a4b59511aba995a29"),
    ("laz_extra", p => Laz.writePoints(withExtra, p, chunkPoints = 400, extraBytes = 3),
      "f76583b9450def71cd6f25e9fddceef2fc338d675cebda21c822cdbe741a706f"),
    ("laz_v1", p => Laz.writePointsV1(points, p),
      "49e192480339ea9516b452ed0e1dc335e0085502292e8989dee550b3f1fdd8ac"),
    ("laz_v1_extra", p => Laz.writePointsV1(withExtra, p, extraBytes = 3),
      "d1d27470128a206faf470234e28212279c6b2a92fc92e702b9eb2cef26aff1bb"),
    ("laz14_pf6", p => Laz14.writePoints14(attrs14, p, chunkPoints = 400, pointFormat = 6),
      "f688e3999112f11a2ce04a8291909d8868d68a2afb3a4395e9f11c5b10e0b110"),
    ("laz14_pf8", p => Laz14.writePoints14(attrs14, p, chunkPoints = 400, pointFormat = 8),
      "536b40be2ac3ca06c42760df64cb729ac658ad123096a111898541fc8a63106a"),
    ("laz14_pf9", p => Laz14.writePoints14(withWave, p, chunkPoints = 400, pointFormat = 9),
      "a42dc76c86c6d4deb3ba6f779b9aa37fca7c912fdb1fd5adc64e57f3347078d8"),
    ("las_empty", p => Las.writePoints(empty, p),
      "5b1ec1b41cf3bf1c1ffb080adf61c43791e695178e393d0d94d6731cb0163470"),
    ("laz_empty", p => Laz.writePoints(empty, p),
      "4125455009099a9792abc6a848eb122c76512fb56c23dca8e36c2eff18bf42c1"))

  test("every sink writes the pinned bytes") {
    val got = cases.map { case (name, write, _) =>
      val path = tmp(s"$name.bin")
      write(path)
      name -> sha256(path)
    }
    val want = cases.map(c => c._1 -> c._3)
    assert(got == want, "\n" + got.map { case (k, v) => s"$k $v" }.mkString("\n"))
  }
}

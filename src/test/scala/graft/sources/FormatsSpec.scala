package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Source/sink format coverage beyond parquet + LAS: ORC, JSON lines,
  * and CSV round-trip the documents table losslessly (CSV via explicit
  * schema on read — it carries no types of its own). */
class FormatsSpec extends AnyFunSuite with TempDir {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def docs: DataFrame =
    spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text", "lang", "source", "n_chars")

  private def canon(df: DataFrame): Set[String] =
    df.selectExpr("concat_ws('', doc_id, md5(text), lang, source, n_chars)")
      .collect().map(_.getString(0)).toSet

  test("orc round-trip is lossless") {
    val p = tmp("orc")
    docs.write.mode("overwrite").orc(p)
    assert(canon(spark.read.orc(p)) == canon(docs))
  }

  test("json-lines round-trip is lossless under the original schema") {
    val p = tmp("json")
    docs.write.mode("overwrite").json(p)
    assert(canon(spark.read.schema(docs.schema).json(p)) == canon(docs))
  }

  test("csv round-trip is lossless with quoting + explicit schema") {
    val p = tmp("csv")
    docs.write.mode("overwrite")
      .option("header", "true").option("quoteAll", "true").option("escape", "\"")
      .csv(p)
    val back = spark.read.schema(docs.schema)
      .option("header", "true").option("escape", "\"")
      .csv(p)
    assert(canon(back) == canon(docs))
  }
}

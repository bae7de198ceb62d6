package graft.tools

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.TempDir

/** Pins the scale-up generator BENCH_SF1.md depends on: replicas must
  * preserve referential integrity (every fact key resolves), multiply
  * row counts exactly, and perturb content rather than clone it. */
class GenScaleSpec extends AnyFunSuite with TempDir {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  test("2x scale-up: exact row counts, resolvable keys, perturbed content") {
    val src = "/root/testdata/sf0.001"
    val dst = tmpSubdir("genscale")
    GenScale.main(Array(src, dst, "2"))

    def n(dir: String, t: String): Long =
      spark.read.parquet(s"$dir/$t.parquet").count()
    Seq("lineitem", "orders", "customer", "supplier", "part",
      "documents", "embeddings", "events").foreach { t =>
      assert(n(dst, t) == 2 * n(src, t), s"$t count")
    }
    Seq("nation", "region").foreach(t => assert(n(dst, t) == n(src, t)))

    // referential integrity: every lineitem key resolves in its
    // dimension; every order resolves its customer
    val li = spark.read.parquet(s"$dst/lineitem.parquet")
    val ord = spark.read.parquet(s"$dst/orders.parquet")
    assert(li.join(ord, li("l_orderkey") === ord("o_orderkey"), "left_anti").isEmpty)
    val part = spark.read.parquet(s"$dst/part.parquet")
    assert(li.join(part, li("l_partkey") === part("p_partkey"), "left_anti").isEmpty)
    val supp = spark.read.parquet(s"$dst/supplier.parquet")
    assert(li.join(supp, li("l_suppkey") === supp("s_suppkey"), "left_anti").isEmpty)
    val cust = spark.read.parquet(s"$dst/customer.parquet")
    assert(ord.join(cust, ord("o_custkey") === cust("c_custkey"), "left_anti").isEmpty)

    // keys never collide across replicas
    import org.apache.spark.sql.functions._
    assert(ord.agg(countDistinct(col("o_orderkey"))).head().getLong(0) == n(dst, "orders"))
    assert(supp.agg(countDistinct(col("s_name"))).head().getLong(0) == n(dst, "supplier"))

    // content perturbed, not cloned: no exact duplicate texts or
    // embeddings between replicas
    val docs = spark.read.parquet(s"$dst/documents.parquet")
    assert(docs.agg(countDistinct(col("text"))).head().getLong(0) == n(dst, "documents"))
    val embs = spark.read.parquet(s"$dst/embeddings.parquet")
    assert(embs.agg(countDistinct(col("embedding"))).head().getLong(0)
      == n(dst, "embeddings"))
  }
}

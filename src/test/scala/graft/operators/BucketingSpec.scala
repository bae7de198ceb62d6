package graft.operators

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.TempDir

/** Bucketed co-located joins: the write-once / join-shuffle-free layout
  * lever. Asserts on the PHYSICAL plan — zero Exchange nodes — not just
  * on result correctness. */
class BucketingSpec extends AnyFunSuite with AdaptiveSparkPlanHelper with TempDir {

  // the suite shares one JVM session (getOrCreate) — builder configs
  // would be silently ignored if another spec created it first, so
  // everything this spec needs is set at RUNTIME inside the test
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  import spark.implicits._

  /** A database located in the suite's temporary directory, so the
    * managed tables' files land there and not in the session's
    * warehouse dir (by default `spark-warehouse` in the working dir). */
  private lazy val db: String = {
    spark.sql("DROP DATABASE IF EXISTS bucketing_spec CASCADE")
    spark.sql(s"CREATE DATABASE bucketing_spec LOCATION '${tmp("warehouse")}'")
    "bucketing_spec"
  }

  test("same-bucketed tables join without any exchange; result matches plain join") {
    val sf = "/root/testdata/sf0.001"
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
      .select(col("l_orderkey").as("okey"), col("l_quantity"))
    val ord = spark.read.parquet(s"$sf/orders.parquet")
      .select(col("o_orderkey").as("okey"), col("o_totalprice"))
    Bucketing.writeBucketed(li, s"$db.b_lineitem", "okey", 8)
    Bucketing.writeBucketed(ord, s"$db.b_orders", "okey", 8)

    // force the SMJ path: a broadcast would hide the bucketing effect
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = Bucketing.bucketedJoin(spark, s"$db.b_lineitem", s"$db.b_orders", "okey")
      val n = joined.count()

      // plan shape: no Exchange anywhere under the join (bucket layout
      // satisfies the join's distribution requirement on both sides)
      val plan = joined.queryExecution.executedPlan
      val exchanges = collectWithSubqueries(plan) { case e: Exchange => e }
      assert(exchanges.isEmpty, s"expected shuffle-free bucketed join, got:\n$plan")

      // and the answer is the plain join's answer
      val plain = li.join(ord, "okey").count()
      assert(n == plain && n > 0)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
  }

  test("differently-bucketed or unbucketed inputs do shuffle (the control)") {
    val sf = "/root/testdata/sf0.001"
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
      .select(col("l_orderkey").as("okey"), col("l_quantity"))
    val ord = spark.read.parquet(s"$sf/orders.parquet")
      .select(col("o_orderkey").as("okey"), col("o_totalprice"))
    val joined = li.join(ord, "okey")
    joined.count()
    val exchanges = collectWithSubqueries(joined.queryExecution.executedPlan) {
      case e: Exchange => e
    }
    assert(exchanges.nonEmpty)
  }
}

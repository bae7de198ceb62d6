package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.TempDir

/** The state-partition knob and its per-checkpoint immutability
  * (VERDICT r17 item 5 / BENCH_STREAM round-17): the deployment rule
  * is "state partitions track executor cores", the helpers expose it
  * explicitly, and a replayed checkpoint under a CHANGED knob must
  * fail loudly through [[Streams.requireStatePartsCompatible]] because
  * Spark itself silently reuses the pinned count. */
class StatePartsSpec extends AnyFunSuite with TempDir {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def stateDirs(ckpt: String): Seq[String] = {
    val d = new java.io.File(ckpt, "state/0")
    Option(d.listFiles()).getOrElse(Array.empty)
      .filter(f => f.isDirectory && f.getName.forall(_.isDigit))
      .map(_.getName).sorted.toSeq
  }

  test("default resolves to executor cores; explicit knob pins the store count") {
    assert(Streams.defaultStateParts(spark) == 4)
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val in = MemoryStream[(Timestamp, String)]
    val ckpt = tmpSubdir("stateparts")
    // ADVICE r18: the DEFAULT knob (0) is a true no-op — merely
    // BUILDING a stream must not reconfigure the session's batch
    // shuffle-partition count as a side effect
    Streams.urlDedup(in.toDF().toDF("ts", "url"), "url")
    assert(spark.conf.get("spark.sql.shuffle.partitions") == "4",
      "default stateParts must leave the session conf untouched")
    val q = Streams.urlDedup(in.toDF().toDF("ts", "url"), "url",
        stateParts = 5)
      .writeStream.format("noop").option("checkpointLocation", ckpt).start()
    assert(spark.conf.get("spark.sql.shuffle.partitions") == "5")
    in.addData((Timestamp.valueOf("2026-01-01 00:00:00"), "https://a.com/x"))
    q.processAllAvailable()
    q.stop()
    assert(stateDirs(ckpt) == Seq("0", "1", "2", "3", "4"), stateDirs(ckpt))

    // the guard: matching knob passes, changed knob fails loudly,
    // and the no-pin form (0 = the session's CURRENT conf — what an
    // unpinned restart would actually run with) fails once the
    // session conf is back at this host's batch value of 4
    Streams.requireStatePartsCompatible(spark, ckpt, 5)
    val ex = intercept[IllegalStateException] {
      Streams.requireStatePartsCompatible(spark, ckpt, 3)
    }
    assert(ex.getMessage.contains("pins 5") && ex.getMessage.contains("3"))
    Streams.requireStatePartsCompatible(spark, ckpt, 0) // conf still 5: ok
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    intercept[IllegalStateException] {
      Streams.requireStatePartsCompatible(spark, ckpt, 0) // conf 4 vs pin 5
    }
    // fresh checkpoint: nothing pinned, any knob passes
    Streams.requireStatePartsCompatible(spark, ckpt + "_fresh", 3)

    // the footgun the guard exists for: restarting the SAME checkpoint
    // under a different session knob silently keeps 5 stores — Spark
    // gives no error and no resharding
    val in2 = MemoryStream[(Timestamp, String)]
    val q2 = Streams.urlDedup(in2.toDF().toDF("ts", "url"), "url",
        stateParts = 3)
      .writeStream.format("noop").option("checkpointLocation", ckpt).start()
    in2.addData((Timestamp.valueOf("2026-01-01 00:01:00"), "https://b.com/y"))
    q2.processAllAvailable()
    q2.stop()
    assert(stateDirs(ckpt) == Seq("0", "1", "2", "3", "4"),
      "restart must silently keep the pinned 5 stores — " + stateDirs(ckpt))
    spark.conf.set("spark.sql.shuffle.partitions", "4")
  }
}

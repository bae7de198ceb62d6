package graft.operators

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.ListenerDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SortExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.types.LongType
import org.scalatest.Assertions

/** The import check both stores' suites run: packed in parallel on one
  * long key, written as one head-ordered file. */
object PackStage extends AdaptiveSparkPlanHelper with Assertions {

  /** Checks the import of `points` points into `blocks`, which `write`
    * lands in `dir`: the pack sorts on one `LongType` order; the stage
    * that reads the keyed points from the range shuffle — the stage that
    * sorts and packs them — runs one task per shuffle partition; and the
    * store is one file whose `sfc_head` ascends in file order. */
  def assertParallelPack(spark: SparkSession, blocks: DataFrame, points: Long, dir: String)(
      write: => Unit): Unit = {
    val sorts = collect(blocks.queryExecution.executedPlan) {
      case s: SortExec => s.sortOrder.map(_.dataType)
    }
    assert(sorts == Seq(Seq(LongType)), s"pack sort orders $sorts")
    val tasks = packTasks(spark, points)(write)
    assert(tasks.contains(spark.sessionState.conf.numShufflePartitions), s"pack stage tasks $tasks")
    val s = Files.list(Paths.get(s"$dir/blocks"))
    val files = try s.iterator().asScala.map(_.toString).filter(_.endsWith(".parquet")).toList
      finally s.close()
    assert(files.size == 1, s"block files $files")
    val heads = spark.read.parquet(files.head).select("sfc_head").collect().map(_.getLong(0))
    assert(heads.nonEmpty && heads.zip(heads.tail).forall { case (a, b) => a < b })
  }

  /** Tasks of the stage whose tasks read exactly `points` shuffle
    * records while `write` runs. */
  private def packTasks(spark: SparkSession, points: Long)(write: => Unit): Option[Int] = {
    val tasks = mutable.Map.empty[Int, Int]
    val read = mutable.Map.empty[Int, Long].withDefaultValue(0L)
    val listener = new SparkListener {
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
        tasks(e.stageInfo.stageId) = e.stageInfo.numTasks
      }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
        Option(e.taskMetrics).foreach(m => read(e.stageId) += m.shuffleReadMetrics.recordsRead)
      }
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      write
      ListenerDrain(sc)
    } finally sc.removeSparkListener(listener)
    listener.synchronized(tasks.collectFirst { case (id, n) if read(id) == points => n })
  }
}

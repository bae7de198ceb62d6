package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{FileSourceScanExec, GenerateExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper

/** Spark's side of one op, read from outside the engine: jobs are tagged
  * with the op and phase through local properties, and a listener
  * records every job and stage. */
final class Recorder extends SparkListener {
  final case class StageRec(id: Int, name: String, tasks: Int, submitMs: Long, endMs: Long,
      cpuNs: Long, gcMs: Long, shuffleWrite: Long, shuffleMap: Boolean, scansLas: Boolean)
  final case class JobRec(id: Int, op: String, phase: String, stages: Seq[Int])

  private val jobs = mutable.ArrayBuffer.empty[JobRec]
  private val stages = mutable.HashMap.empty[Int, StageRec]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val p = e.properties
    def prop(k: String) = Option(p).flatMap(q => Option(q.getProperty(k))).getOrElse("")
    jobs += JobRec(e.jobId, prop(Recorder.OpKey), prop(Recorder.PhaseKey), e.stageIds)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val s = e.stageInfo
    val m = s.taskMetrics
    stages(s.stageId) = StageRec(s.stageId, s.name, s.numTasks,
      s.submissionTime.getOrElse(0L), s.completionTime.getOrElse(0L),
      if (m == null) 0L else m.executorCpuTime,
      if (m == null) 0L else m.jvmGCTime,
      if (m == null) 0L else m.shuffleWriteMetrics.bytesWritten,
      org.apache.spark.PerfbenchDrain.isShuffleMap(s),
      s.rddInfos.exists(_.callSite.contains("Las.scala")))
  }

  /** Jobs of one op in the given phases, with their completed stages
    * (a stage shared by several jobs counts once). */
  def of(op: String, phases: Set[String]): (Seq[JobRec], Seq[StageRec]) = synchronized {
    val js = jobs.filter(j => j.op == op && phases(j.phase)).toSeq
    val ss = js.flatMap(_.stages).distinct.flatMap(stages.get).sortBy(_.submitMs)
    (js, ss)
  }

  def stagesByPhase(op: String): Seq[(String, StageRec)] = synchronized {
    jobs.filter(_.op == op).flatMap(j => j.stages.flatMap(stages.get).map(j.phase -> _))
      .distinctBy(_._2.id).sortBy(_._2.submitMs).toSeq
  }
}

object Recorder {
  val OpKey = "perfbench.op"
  val PhaseKey = "perfbench.phase"

  def phase[T](sc: SparkContext, op: String, phase: String)(f: => T): T = {
    sc.setLocalProperty(OpKey, op)
    sc.setLocalProperty(PhaseKey, phase)
    try f finally {
      sc.setLocalProperty(OpKey, null)
      sc.setLocalProperty(PhaseKey, null)
    }
  }

  /** Total time covered by the union of the stages' intervals. */
  def busyMs(ss: Seq[Recorder#StageRec]): Long = {
    var end = Long.MinValue
    var busy = 0L
    ss.sortBy(_.submitMs).foreach { s =>
      val from = math.max(s.submitMs, end)
      if (s.endMs > from) busy += s.endMs - from
      end = math.max(end, s.endMs)
    }
    busy
  }
}

/** Counts read from an executed plan's SQL metrics. */
object PlanWalk extends AdaptiveSparkPlanHelper {
  final case class Counts(scans: Int, files: Long, rowsScanned: Long, decoded: Long)

  private def metric(p: SparkPlan, name: String): Long =
    p.metrics.get(name).map(_.value).getOrElse(0L)

  def counts(df: DataFrame): Counts = {
    val plan = df.queryExecution.executedPlan
    val scans = collectWithSubqueries(plan) { case s: FileSourceScanExec => s }
    val gens = collectWithSubqueries(plan) { case g: GenerateExec => g }
    Counts(scans.size, scans.map(metric(_, "numFiles")).sum,
      scans.map(metric(_, "numOutputRows")).sum, gens.map(metric(_, "numOutputRows")).sum)
  }
}

/** Spans written as JSON lines: op -> layer call -> stage. */
final class Spans {
  private val lines = mutable.ArrayBuffer.empty[String]
  private var nextId = 0L

  def add(trace: String, parent: Option[Long], name: String, startMs: Long, endMs: Long,
      attrs: Map[String, Any] = Map.empty): Long = synchronized {
    nextId += 1
    val fields = Seq(
      "trace" -> Json.str(trace), "span" -> nextId.toString,
      "parent" -> parent.map(_.toString).getOrElse("null"),
      "name" -> Json.str(name), "start_ms" -> startMs.toString, "end_ms" -> endMs.toString) ++
      attrs.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.value(v) }
    lines += fields.map { case (k, v) => s"${Json.str(k)}: $v" }.mkString("{", ", ", "}")
    nextId
  }

  def write(path: java.nio.file.Path): Unit = {
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, (lines.mkString("\n") + "\n").getBytes("UTF-8"))
  }
}

object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  def value(v: Any): String = v match {
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => num(d)
    case n: Number => n.toString
    case other => str(other.toString)
  }

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else d.toString

  def obj(fields: Seq[(String, String)]): String =
    fields.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
}

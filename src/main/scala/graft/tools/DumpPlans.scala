package graft.tools

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkPlan

/** Plan-fingerprint board (VERDICT r18 item 1): per registered query,
  * a STABLE signature of the physical plan — exchange/broadcast
  * counts, join strategies with join types, per-scan pushdown and
  * pruning shape, codegen-span count, and a full node-name histogram
  * — dumped as one JSON object to a file. `tools/check_plans.py`
  * diffs two boards and fails on any unexplained change, so a lost
  * pushdown, a broadcast→sort-merge flip, or a new exchange from an
  * innocuous refactor surfaces as a named diff instead of hiding
  * inside 1.1–1.5× bench-window noise for rounds (PLANS.md's manual
  * audits, made machine-checkable).
  *
  * The board signs the STATIC prepared plan: AQE is disabled in this
  * session only, because (a) the adaptive replan is runtime,
  * size-dependent behavior — signing it would couple the board to
  * fixture bytes, not code — and (b) with AQE off the prepared plan
  * carries the WholeStageCodegen spans and every Exchange that
  * EnsureRequirements inserts, all visible WITHOUT executing a stage.
  * The regressions the board exists to catch (pushdown, strategy
  * choice, exchange insertion, codegen fencing) are exactly the
  * static-plan properties; the engine's AQE-conditional code paths
  * keep their own specs (DedupRebalanceSpec, SkewSpec).
  *
  * Building a query's frame may still run the bounded model-memo jobs
  * some builders train at construction time (classifier weights, BPE
  * tables, IVF indexes) — that work is fingerprint-memoized and does
  * not touch the signed plan. Each frame is built once before the
  * recorded build, so every memo and every store a builder persists
  * under /tmp exists when the board signs: the board is the same on a
  * cold and on a warm /tmp.
  *
  * Usage: sbt 'runMain graft.tools.DumpPlans <sfDir> <outJson> [name...]'
  */
object DumpPlans {

  /** One query's signature as ordered (key, value-json) pairs. All
    * lists are sorted so the signature is independent of traversal
    * and map-iteration order. */
  def signature(plan: SparkPlan): Seq[(String, String)] = {
    // every node in the prepared plan, including subquery plans
    // (scalar + IN-subquery broadcasts carry scans and exchanges too)
    // and the cached plan under any InMemoryRelation a builder
    // persisted — a regression inside a cached sub-frame is still a
    // regression
    def nodes(p: SparkPlan): Seq[SparkPlan] =
      p.collectWithSubqueries { case n => n }.flatMap {
        case im: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec =>
          im +: nodes(im.relation.cachedPlan)
        case n => Seq(n)
      }
    val all = nodes(plan)

    // normalize: strip codegen-id suffixes ("WholeStageCodegen (4)")
    // and trailing spaces ("Scan parquet ") so an upstream insertion
    // renumbering every span doesn't spray diffs across the board
    def norm(n: String): String = n.replaceAll("\\s*\\(\\d+\\)$", "").trim
    val hist = all.groupBy(n => norm(n.nodeName))
      .map { case (k, v) => k -> v.size }
    def count(pred: SparkPlan => Boolean): Int = all.count(pred)

    val joins = all.collect {
      case j: org.apache.spark.sql.execution.joins.BaseJoinExec =>
        s"${j.nodeName}[${j.joinType}]"
    }.sorted
    val scans = all.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec =>
        val pushed = s.metadata.get("PushedFilters")
          .map(f => if (f == "[]") 0 else f.count(_ == ',') + 1).getOrElse(0)
        val fmt = s.relation.fileFormat.toString
        s"$fmt[cols=${s.requiredSchema.size},pushed=$pushed," +
          s"partFilters=${s.partitionFilters.size}," +
          s"dataFilters=${s.dataFilters.size}]"
      case s: org.apache.spark.sql.execution.RowDataSourceScanExec =>
        s"${s.nodeName}[cols=${s.output.size}]"
    }.sorted

    def jint(i: Int) = i.toString
    def jlist(xs: Seq[String]) =
      xs.map(x => "\"" + x + "\"").mkString("[", ",", "]")
    Seq(
      "exchanges" -> jint(count(
        _.isInstanceOf[org.apache.spark.sql.execution.exchange.ShuffleExchangeExec])),
      "broadcasts" -> jint(count(
        _.isInstanceOf[org.apache.spark.sql.execution.exchange.BroadcastExchangeExec])),
      "codegen_spans" -> jint(count(
        _.isInstanceOf[org.apache.spark.sql.execution.WholeStageCodegenExec])),
      "joins" -> jlist(joins),
      "scans" -> jlist(scans),
      "nodes" -> hist.toSeq.sortBy(_._1)
        .map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")
    )
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val out = args(1)
    val names = if (args.length > 2) args.drop(2).toSeq
      else graft.SparkEntry.queries.keys.toSeq.sorted
    val spark = SparkSession.builder()
      .master("local[" + sys.env.getOrElse("SPARK_GRAFT_CPUS", "32") + "]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "false")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sigs = names.map { n =>
      val body =
        try {
          // record the staged funnels' cut-frame plans (VERDICT r19
          // item 5): lineage truncation hides a stage's scans and
          // exchanges from the final frame's plan, so the board signs
          // main plan + every stage materialized while BUILDING the
          // frame; in-stage regressions (a lost pushdown inside
          // doc_repeated_spans' suffix-array rounds, an exchange
          // inserted into ev_user_components' edge build) now diff.
          // unrecorded first build: persisted models and memos exist
          // before signing (doc_kn_score_stored trains on a cold /tmp)
          graft.SparkEntry.queries(n)(spark, sfDir)
          val stages = scala.collection.mutable.Buffer[SparkPlan]()
          graft.operators.Frames.recordStagesInto(stages)
          val df =
            try graft.SparkEntry.queries(n)(spark, sfDir)
            finally graft.operators.Frames.stopRecordingStages()
          val main = signature(df.queryExecution.executedPlan)
          val fields = if (stages.isEmpty) main else {
            val stageSigs = stages.map(signature)
            def sumOf(key: String): Int =
              stageSigs.map(_.collectFirst { case (`key`, v) => v.toInt }
                .getOrElse(0)).sum
            def mergeLists(key: String): String = {
              val items = stageSigs.flatMap(_.collectFirst {
                case (`key`, v) => v
              }).flatMap { v =>
                v.stripPrefix("[").stripSuffix("]").split("\",\"")
                  .map(_.stripPrefix("\"").stripSuffix("\""))
                  .filter(_.nonEmpty)
              }.sorted
              items.map(x => "\"" + x + "\"").mkString("[", ",", "]")
            }
            main ++ Seq(
              "stage_count" -> stages.size.toString,
              "stage_exchanges" -> sumOf("exchanges").toString,
              "stage_broadcasts" -> sumOf("broadcasts").toString,
              "stage_codegen_spans" -> sumOf("codegen_spans").toString,
              "stage_joins" -> mergeLists("joins"),
              "stage_scans" -> mergeLists("scans"))
          }
          fields.map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")
        } catch {
          case e: Throwable =>
            graft.operators.Frames.stopRecordingStages()
            val msg = e.toString.takeWhile(_ != '\n').take(200)
              .replace("\\", "\\\\").replace("\"", "\\\"")
            s"""{"error":"$msg"}"""
        }
      s""""$n":$body"""
    }
    Files.writeString(Paths.get(out),
      sigs.mkString("{\n", ",\n", "\n}\n"))
    println(s"[plans] wrote ${names.size} signatures to $out")
    spark.stop()
  }
}

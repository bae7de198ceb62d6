package perfbench

import java.nio.file.{Files, Path, Paths}
import java.util.SplittableRandom

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.sql.execution.QueryExecution

import graft.QueryRunner
import graft.core.{Bbox, MortonRange}
import graft.operators.{BlockedCloud, ImportSpec, PointCloud}
import graft.sources.Las

/** One benchmark run: set up the store, warm up, then run the
  * workload's closed loop (one client, one op at a time) for the
  * requested seconds, checking every op against the generator's truth.
  *
  * Usage: Main --workload <select_small|select_large_export>
  *   --seed <n> --seconds <s> --trace <0|1> --work <dir> --traces <dir>
  *   [--points <n>]
  */
object Main {
  final case class Conf(workload: String, seed: Long, seconds: Double, trace: Boolean,
      points: Int, work: Path, traces: Path)

  val Workloads = Seq("select_small", "select_large_export")

  def parse(args: Array[String]): Conf = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val w = need("workload")
    require(Workloads.contains(w), s"unknown workload $w (one of ${Workloads.mkString(", ")})")
    Conf(w, need("seed").toLong, need("seconds").toDouble, need("trace") == "1",
      m.get("points").map(_.toInt).getOrElse(DefaultPoints),
      Paths.get(need("work")).toAbsolutePath, Paths.get(need("traces")).toAbsolutePath)
  }

  /** Big enough that per-point work dominates an import and that a
    * small selection's cost is the full-store scan. */
  val DefaultPoints = 500000

  def main(args: Array[String]): Unit = {
    val conf = parse(args)
    val cpus = Runtime.getRuntime.availableProcessors
    val spark = SparkSession.builder()
      .appName("perfbench")
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", conf.work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", conf.work.resolve("warehouse").toString)
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val out = try new Bench(spark, conf).run() finally spark.stop()
    println(out)
  }
}

final class Bench(spark: SparkSession, conf: Main.Conf) {
  private val sc = spark.sparkContext
  private val mapper = new ObjectMapper()
  private val tilesDir = conf.work.resolve("tiles")
  private val storeDir = conf.work.resolve("store").toString
  private val exportDir = conf.work.resolve("export")
  private val spec = ImportSpec(name = "bench", scaleX = Cloud.Scale, scaleY = Cloud.Scale,
    scaleZ = Cloud.Scale, offX = Cloud.OffX, offY = Cloud.OffY, targetPointsPerBlock = Some(32))

  private val recorder = if (conf.trace) Some(new Recorder) else None
  private val actions = new Actions
  recorder.foreach(sc.addSparkListener)
  if (conf.trace) spark.listenerManager.register(actions)
  private val spans = new Spans
  private val t0Nanos = System.nanoTime()
  private val t0Epoch = System.currentTimeMillis()
  private def epochMs(nanos: Long): Long = t0Epoch + (nanos - t0Nanos) / 1000000L

  /** One executed op: its class, the phase of the run it belongs to,
    * its latency, whether it passed its check, and its layer numbers
    * when traced. */
  final case class OpRecord(id: String, cls: String, stage: String, traced: Boolean,
      ms: Double, points: Long, ok: Boolean, layer: Map[String, Double])

  private val records = mutable.ArrayBuffer.empty[OpRecord]
  private var opSeq = 0
  private var truth: Cloud = _
  private var store: BlockedCloud = _
  private var storeBlocks = 0L

  private def nextId(): String = { opSeq += 1; f"op$opSeq%05d" }

  private def drain(): Unit = if (conf.trace) org.apache.spark.PerfbenchDrain(sc)

  private def timed[T](f: => T): (T, Long, Long) = {
    val a = System.nanoTime()
    val r = f
    (r, a, System.nanoTime())
  }

  private def ms(a: Long, b: Long): Double = (b - a) / 1e6

  /** Record a failed op: an exception or a result that differs from
    * the truth. Failures are counted, never retried. */
  private def fail(id: String, cls: String, stage: String, why: String): OpRecord = {
    System.err.println(s"perfbench: $id $cls ($stage) FAILED: $why")
    val r = OpRecord(id, cls, stage, traced = false, Double.NaN, 0L, ok = false, Map.empty)
    records += r
    r
  }

  // ---------------------------------------------------------------- import

  /** Generate the cloud, write its LAS tiles and import them: the
    * benchmark's set-up, timed as a whole. */
  private def setup(stage: String): Double = {
    val t = System.nanoTime()
    truth = Cloud.generate(conf.seed, conf.points)
    Cloud.writeTiles(truth, tilesDir)
    val tImport = System.nanoTime()
    val r = runImport(stage)
    (tImport - t) / 1e9 + r.ms / 1e3
  }

  /** Las.readDir -> PointCloud.importPoints -> PointCloud.write ->
    * PointCloud.read over the LAS tiles. */
  private def runImport(stage: String): OpRecord = {
    val id = nextId()
    val traced = conf.trace
    try {
      val (cloud, a, b) = timed(Recorder.phase(sc, id, "importPoints") {
        PointCloud.importPoints(Las.readDir(spark, tilesDir.toString), spec)
      })
      val (_, _, c) = timed(Recorder.phase(sc, id, "write") { PointCloud.write(cloud, storeDir) })
      val (reopened, _, d) = timed(Recorder.phase(sc, id, "read") { PointCloud.read(spark, storeDir) })
      store = reopened
      val files = blockFiles()
      storeBlocks = -1L
      val why = Recorder.phase(sc, id, "check")(checkStore(reopened))
      if (why.nonEmpty) return fail(id, "import", stage, why.get)
      val layer = if (!traced) Map.empty[String, Double] else {
        drain()
        val (n, la, lb) = timed(Recorder.phase(sc, id, "trace") {
          Las.readDir(spark, tilesDir.toString).queryExecution.toRdd.count()
        })
        drain()
        val foot = Footers.of(files)
        storeBlocks = foot.rows
        val byPhase = recorder.get.stagesByPhase(id)
        val imp = byPhase.filter(p => p._1 == "importPoints" || p._1 == "write").map(_._2)
        val write = byPhase.filter(_._1 == "write").map(_._2)
        def secs(ss: Seq[Recorder#StageRec]) = ss.map(s => s.endMs - s.submitMs).sum / 1e3
        val layer = Map(
          "las.read_s" -> (lb - la) / 1e9,
          "las.points_read" -> n.toDouble,
          "import.las_scans" -> imp.count(_.scansLas).toDouble,
          "import.stats_s" -> (b - a) / 1e9,
          "import.sample_s" -> secs(write.filter(s => s.scansLas && !s.shuffleMap)),
          "import.shuffle_map_s" -> secs(write.filter(s => s.scansLas && s.shuffleMap)),
          "import.pack_write_s" -> secs(write.filter(!_.scansLas)),
          "import.shuffle_write_bytes" -> imp.map(_.shuffleWrite).sum.toDouble,
          "import.executor_cpu_s" -> imp.map(_.cpuNs).sum / 1e9,
          "import.gc_s" -> imp.map(_.gcMs).sum / 1e3,
          "store.files" -> files.size.toDouble,
          "store.row_groups" -> foot.rowGroups.toDouble,
          "store.blocks" -> foot.rows.toDouble,
          "store.points_per_block" -> conf.points.toDouble / math.max(1L, foot.rows),
          "store.reopen_ms" -> ms(c, d)) ++ sparkLayer(id, Set("importPoints", "write", "read"), ms(a, d))
        emit(id, "import", layer ++ Map("stage" -> stage, "latency_ms" -> ms(a, d)), a, d, Seq(("PointCloud.importPoints", a, b, "importPoints"),
          ("PointCloud.write", b, c, "write"), ("PointCloud.read", c, d, "read"),
          ("Las.readDir(full scan)", la, lb, "trace")))
        layer
      }
      val r = OpRecord(id, "import", stage, traced, ms(a, d), conf.points.toLong, ok = true, layer)
      records += r
      r
    } catch {
      case e: Exception => fail(id, "import", stage, e.toString)
    }
  }

  private def blockFiles(): Seq[Path] = {
    val s = Files.list(Paths.get(storeDir, "blocks"))
    try s.iterator.asScala.filter(_.getFileName.toString.endsWith(".parquet")).toSeq.sorted
    finally s.close()
  }

  def storeBytes: Long = blockFiles().map(Files.size).sum

  /** The reopened store holds exactly the generated multiset: same
    * point count in the catalog, same (grid x, grid y, z) digest. */
  private def checkStore(c: BlockedCloud): Option[String] = {
    val tail = c.meta.tailLen
    val got = c.blocks.select("sfc_head", "sfc_tail", "z").rdd.map { r =>
      val head = r.getLong(0)
      val tails = r.getSeq[Long](1)
      val zs = r.getSeq[Double](2)
      var s = 0L
      var i = 0
      while (i < tails.length) {
        val key = (head << tail) | tails(i)
        s += Cloud.pointHash(Cloud.deinterleave(key), Cloud.deinterleave(key >>> 1),
          java.lang.Double.doubleToLongBits(zs(i)))
        i += 1
      }
      Cloud.Digest(tails.length.toLong, s)
    }.fold(Cloud.Digest(0, 0))(_ + _)
    val want = (0 until truth.n).foldLeft(Cloud.Digest(0, 0)) { (d, i) =>
      d + Cloud.Digest(1, Cloud.pointHash(truth.ix(i), truth.iy(i),
        java.lang.Double.doubleToLongBits(truth.z(i))))
    }
    if (c.meta.pointCount != truth.n) Some(s"catalog holds ${c.meta.pointCount} points, want ${truth.n}")
    else if (got != want) Some(s"store digest $got, want $want")
    else None
  }

  // ---------------------------------------------------------------- select

  /** One query through QueryRunner.runOne (the query CLI's JSON spec),
    * then collect or exportLas. Latency = plan + run + collect (or
    * export); the check and all tracing work sit outside it. */
  private def runQuery(q: Query, stage: String, traced: Boolean, export: Boolean = false): OpRecord = {
    val id = nextId()
    val node = mapper.readTree(q.spec)
    val out = exportDir.resolve(s"$id.las")
    try {
      val compile0 = CodeGenerator.compileTime
      drain()
      val act0 = actions.count("count")
      val (df, a, b) = timed(Recorder.phase(sc, id, "plan")(QueryRunner.runOne(store, node)))
      val planEnd = if (traced) Recorder.phase(sc, id, "run") { df.queryExecution.executedPlan; System.nanoTime() } else b
      val (rows, _, c) = timed(Recorder.phase(sc, id, "run") {
        if (export) { store.exportLas(df, out.toString); null } else df.collect()
      })
      val compileMs = (CodeGenerator.compileTime - compile0) / 1e6
      val want = q match {
        case s: Select => s.truth(truth)
        case k: Knn => k.truth(truth)
      }
      val why = if (export) checkExport(out, want) else {
        val got = rows.foldLeft(Cloud.Digest(0, 0)) { (d, r) =>
          d + Cloud.Digest(1, Cloud.worldHash(r.getDouble(0), r.getDouble(1), r.getDouble(2)))
        }
        val exp = Queries.digest(truth, want)
        if (got != exp) Some(s"result $got, want $exp") else None
      }
      if (why.nonEmpty) return fail(id, q.cls, stage, why.get + s" spec ${q.spec}")
      val layer = if (!traced) Map.empty[String, Double] else {
        drain()
        val probes = actions.count("count") - act0
        if (export) Recorder.phase(sc, id, "trace")(df.queryExecution.toRdd.count())
        val pc = PlanWalk.counts(df)
        val (ranges, returned) = q match {
          case s: Select => (decompose(s.region), want.length.toDouble)
          case _: Knn => ((0, 0), want.length.toDouble)
        }
        val blocks = math.max(1L, storeBlocksNow())
        val (jobs, _) = recorder.get.of(id, Set("plan", "run"))
        val layer = Map(
          "plan.build_ms" -> ms(a, b),
          "query.plan_ms" -> ms(b, planEnd),
          "query.codegen_ms" -> compileMs,
          "decompose.contained_ranges" -> ranges._1.toDouble,
          "decompose.partial_ranges" -> ranges._2.toDouble,
          "scan.count" -> pc.scans.toDouble,
          "scan.files_read" -> pc.files.toDouble,
          "scan.blocks_read" -> pc.rowsScanned.toDouble,
          "scan.read_frac" -> pc.rowsScanned.toDouble / (math.max(1, pc.scans) * blocks),
          "explode.points_decoded" -> pc.decoded.toDouble,
          "refine.points_returned" -> returned,
          "refine.useful_frac" -> (if (pc.decoded == 0) 0.0 else returned / pc.decoded),
          "knn.probe_rounds" -> probes.toDouble,
          "knn.jobs" -> jobs.size.toDouble) ++
          (if (!export) Map.empty else {
            val f = Cloud.readLas(out)
            Map("export.write_ms" -> ms(planEnd, c), "export.points" -> f.count.toDouble,
              "export.bytes" -> f.bytes.toDouble)
          }) ++ sparkLayer(id, Set("plan", "run"), ms(a, c))
        emit(id, q.cls, layer ++ Map("spec" -> q.spec, "stage" -> stage, "latency_ms" -> ms(a, c)), a, c, Seq(("QueryRunner.runOne", a, b, "plan"),
          ("queryExecution.executedPlan", b, planEnd, ""),
          (if (export) "BlockedCloud.exportLas" else "Dataset.collect", planEnd, c, "run")))
        layer
      }
      if (export) Files.deleteIfExists(out)
      val r = OpRecord(id, q.cls, stage, traced, ms(a, c), want.length.toLong, ok = true, layer)
      records += r
      r
    } catch {
      case e: Exception => fail(id, q.cls, stage, e.toString + s" spec ${q.spec}")
    }
  }

  /** Spans of one traced op: the op (carrying its layer numbers), each
    * layer call, and the stages each call ran. */
  private def emit(id: String, cls: String, attrs: Map[String, Any], start: Long, end: Long,
      calls: Seq[(String, Long, Long, String)]): Unit = {
    val byPhase = recorder.get.stagesByPhase(id)
    val op = spans.add(id, None, s"op:$cls", epochMs(start), epochMs(end), attrs)
    calls.foreach { case (call, x, y, ph) =>
      val s = spans.add(id, Some(op), s"layer:$call", epochMs(x), epochMs(y))
      byPhase.filter(_._1 == ph).foreach { case (_, st) =>
        spans.add(id, Some(s), s"stage:${st.name}", st.submitMs, st.endMs,
          Map("tasks" -> st.tasks, "cpu_ms" -> st.cpuNs / 1e6, "gc_ms" -> st.gcMs,
            "shuffle_write_bytes" -> st.shuffleWrite, "shuffle_map" -> st.shuffleMap,
            "scans_las" -> st.scansLas))
      }
    }
  }

  private def storeBlocksNow(): Long = {
    if (storeBlocks < 0) storeBlocks = Footers.of(blockFiles()).rows
    storeBlocks
  }

  /** The head ranges the engine's filter phase derives for a region:
    * the region's bbox on the store's grid, decomposed with the same
    * range budget the selection operators use. */
  private def decompose(r: Region): (Int, Int) = {
    val m = store.meta
    val (x0, x1, y0, y1) = r.bbox
    val qx0 = math.max(0L, math.ceil((x0 - m.offX) / m.scaleX).toLong)
    val qx1 = math.floor((x1 - m.offX) / m.scaleX).toLong
    val qy0 = math.max(0L, math.ceil((y0 - m.offY) / m.scaleY).toLong)
    val qy1 = math.floor((y1 - m.offY) / m.scaleY).toLong
    if (qx0 > qx1 || qy0 > qy1) (0, 0)
    else {
      val hr = MortonRange.decompose(Bbox(qx0.toDouble, qx1.toDouble, qy0.toDouble, qy1.toDouble),
        m.headLen + m.tailLen, m.tailLen, maxCells = 256)
      (hr.contained.size, hr.partial.size)
    }
  }

  /** The exported file holds the selected points: header count, format,
    * bbox, file length, and every record's digest. */
  private def checkExport(path: Path, want: Array[Int]): Option[String] = {
    val f = Cloud.readLas(path)
    val d = want.foldLeft(Cloud.Digest(0, 0)) { (s, i) =>
      s + Cloud.Digest(1, Cloud.pointHash(Cloud.exportInt(truth.x(i)),
        Cloud.exportInt(truth.y(i)), Cloud.exportInt(truth.z(i))))
    }
    def ext(v: Int => Double) = if (want.isEmpty) (0.0, 0.0) else (want.map(v).min, want.map(v).max)
    val bbox = (ext(truth.x), ext(truth.y), ext(truth.z))
    val got = ((f.xMin, f.xMax), (f.yMin, f.yMax), (f.zMin, f.zMax))
    if (f.count != want.length) Some(s"LAS header count ${f.count}, want ${want.length}")
    else if (f.pointFormat != 3 || f.recordLen != 34) Some(s"LAS format ${f.pointFormat}/${f.recordLen}")
    else if (f.bytes != 227L + 34L * want.length) Some(s"LAS file is ${f.bytes} bytes")
    else if (got != bbox) Some(s"LAS header bbox $got, want $bbox")
    else if (f.digest != d) Some(s"LAS points ${f.digest}, want $d")
    else None
  }

  /** Spark's per-op numbers from the listener: jobs, stages, tasks,
    * executor CPU, GC, shuffle bytes, and the driver-side gap (op wall
    * time not covered by any running stage). */
  private def sparkLayer(id: String, phases: Set[String], wallMs: Double): Map[String, Double] = {
    val (jobs, ss) = recorder.get.of(id, phases)
    Map(
      "spark.jobs" -> jobs.size.toDouble,
      "spark.stages" -> ss.size.toDouble,
      "spark.tasks" -> ss.map(_.tasks).sum.toDouble,
      "spark.executor_cpu_ms" -> ss.map(_.cpuNs).sum / 1e6,
      "spark.gc_ms" -> ss.map(_.gcMs).sum.toDouble,
      "spark.shuffle_bytes" -> ss.map(s => s.shuffleWrite).sum.toDouble,
      "spark.driver_gap_ms" -> math.max(0.0, wallMs - Recorder.busyMs(ss)))
  }

  // ---------------------------------------------------------------- run

  def run(): String = {
    Files.createDirectories(exportDir)
    // set-up, three times: the first pays JIT and Spark warm-up, so the
    // median is a warm set-up, and the import path is hot afterwards
    val tSetup = System.nanoTime()
    val setups = (1 to Bench.Setups).map(i => setup(s"setup$i"))
    val tWarm = System.nanoTime()
    val occupancy = new Queries.Occupancy(truth)
    // untimed warm-up, from its own random stream: every op class once,
    // then one round of the workload's own loop
    val warm = new SplittableRandom(conf.seed * 7919 + 17)
    Queries.smallRound(truth, warm, 0).foreach(runQuery(_, "warmup", conf.trace))
    runQuery(Queries.knn(truth, warm, Bench.K), "warmup", conf.trace)
    Queries.LargeShapes.foreach { shape =>
      runQuery(Queries.large(truth, occupancy, warm, shape), "warmup", conf.trace, export = true)
    }
    loopRound(warm, occupancy, 1, "warmup", conf.trace)

    // the measured closed loop: a fixed seeded op sequence in whole
    // rounds until the time is up; traced runs alternate untraced and
    // traced rounds, so the trace overhead is measured on the same stream
    val rnd = new SplittableRandom(conf.seed)
    val tMeasure = System.nanoTime()
    val stat0 = HostStat.read()
    var round = 0
    while (round < 2 || (System.nanoTime() - tMeasure) / 1e9 < conf.seconds) {
      loopRound(rnd, occupancy, round, "measure", conf.trace && round % 2 == 1)
      round += 1
    }
    val steal = HostStat.stealFrac(stat0, HostStat.read())
    val tEnd = System.nanoTime()
    println(f"# phases: jvm+spark ${(tSetup - Bench.jvmStart) / 1e9}%.1f s, setups ${(tWarm - tSetup) / 1e9}%.1f s, " +
      f"warm-up ${(tMeasure - tWarm) / 1e9}%.1f s, measured ${(tEnd - tMeasure) / 1e9}%.1f s")
    if (conf.trace) {
      val path = conf.traces.resolve(s"${conf.workload}-seed${conf.seed}-${ProcessHandle.current.pid}.jsonl")
      spans.write(path)
      println(s"# trace=$path")
    }
    report(setups, steal, round)
  }

  /** One round of the workload's loop: every op class of the workload
    * once, in the same order. */
  private def loopRound(rnd: SplittableRandom, occupancy: Queries.Occupancy, round: Int,
      stage: String, traced: Boolean): Unit = conf.workload match {
    case "select_small" =>
      Queries.smallRound(truth, rnd, round).foreach(runQuery(_, stage, traced))
      runQuery(Queries.knn(truth, rnd, Bench.K), stage, traced)
    case "select_large_export" =>
      Queries.LargeShapes.foreach { shape =>
        runQuery(Queries.large(truth, occupancy, rnd, shape), stage, traced, export = true)
      }
  }

  /** The workload's own op class: small or large selections. */
  private val (primaryName, primaryPrefix) =
    if (conf.workload == "select_small") ("select", "small.") else ("large", "large.")
  private def primary(r: OpRecord): Boolean = r.cls.startsWith(primaryPrefix)

  private def report(setups: Seq[Double], steal: Double, rounds: Int): String = {
    val measured = records.filter(r => r.stage == "measure" && r.ok)
    val ops = measured.filter(primary).filter(r => !r.traced).map(_.ms).toSeq
    val knn = measured.filter(_.cls == "knn").filter(r => !r.traced).map(_.ms).toSeq
    val failed = records.count(!_.ok)
    val rss = HostStat.peakRssMb()
    val bytesPerPoint = storeBytes.toDouble / conf.points
    println(f"# workload=${conf.workload} seed=${conf.seed} points=${conf.points} rounds=$rounds " +
      f"ops=${records.size} failed=$failed host.steal_frac=$steal%.4f")
    println(f"# setup_s runs: ${setups.map(s => f"$s%.3f").mkString(" ")}")
    Seq(primaryName -> ops, "knn" -> knn).foreach { case (name, xs) =>
      if (xs.nonEmpty) println(f"# ${name}_ms n=${xs.size} p50=${Stats.median(xs)}%.2f " +
        Stats.tail(xs).map { case (p, v) => f"p$p=$v%.2f" }.getOrElse("(no tail: under 40 samples)") +
        " | " + xs.map(v => f"$v%.0f").mkString(" "))
    }
    val byClass = measured.filter(r => !r.traced).groupBy(_.cls).toSeq.sortBy(_._1)
    println("# per class p50_ms: " + byClass.map { case (c, rs) =>
      f"$c=${Stats.median(rs.map(_.ms).toSeq)}%.0f" }.mkString(" "))
    if (conf.workload == "select_large_export") {
      val rates = measured.filter(r => primary(r) && !r.traced).map(r => r.points / r.ms / 1e3).toSeq
      println(f"# export_mpts_per_s=${Stats.median(rates)}%.4f")
    }
    val base = Seq(
      "correct" -> (failed == 0).toString,
      "attempted" -> records.size.toString,
      "failed" -> failed.toString)
    val metrics: Seq[(String, Double, String)] =
      if (!conf.trace) {
        require(ops.nonEmpty, "no successful measured op")
        Seq(("setup_s", Stats.median(setups), "s"),
          ("op_p50_ms", Stats.median(ops), "ms"),
          ("peak_rss_mb", rss, "MB"),
          ("store_bytes_per_point", bytesPerPoint, "B"))
      } else layerMetrics(steal)
    Json.obj(base :+ ("metrics" -> Json.obj(metrics.map { case (k, v, u) =>
      k -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u)))
    })))
  }

  /** Per-layer numbers: the median over the traced ops of the class
    * that exercises the layer. Measured ops are used when the workload
    * runs that class in its loop, else its set-up and warm-up ops. */
  private def layerMetrics(steal: Double): Seq[(String, Double, String)] = {
    val traced = records.filter(r => r.ok && r.traced)
    def from(sel: OpRecord => Boolean): Seq[OpRecord] = {
      val m = traced.filter(r => sel(r) && r.stage == "measure")
      (if (m.nonEmpty) m else traced.filter(sel)).toSeq
    }
    val imports = from(_.cls == "import")
    val queries = from(primary)
    val knns = from(_.cls == "knn")
    val exports = from(_.cls.startsWith("large."))
    def med(rs: Seq[OpRecord], k: String) = Stats.median(rs.flatMap(_.layer.get(k)))
    val untraced = records.filter(r => r.ok && r.stage == "measure" && !r.traced && primary(r)).map(_.ms).toSeq
    val tracedMs = records.filter(r => r.ok && r.stage == "measure" && r.traced && primary(r)).map(_.ms).toSeq
    Bench.LayerMetrics.map { case (k, unit) =>
      val group = k.takeWhile(_ != '.')
      val v = k match {
        case "host.steal_frac" => steal
        case "trace.overhead_frac" => Stats.median(tracedMs) / Stats.median(untraced) - 1
        case _ => group match {
          case "las" | "import" | "store" => med(imports, k)
          case "knn" => med(knns, k)
          case "export" => med(exports, k)
          case _ => med(queries, k)
        }
      }
      (k, v, unit)
    }
  }
}

object Bench {
  /** Set-ups per run; setup_s is their median. */
  val Setups = 3


  /** JVM start, as the runtime's uptime clock sees it. */
  val jvmStart: Long = System.nanoTime() -
    java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime * 1000000L

  /** kNN size: the query CLI's default. */
  val K = 1000

  val LayerMetrics: Seq[(String, String)] = Seq(
    "las.read_s" -> "s", "las.points_read" -> "count", "import.las_scans" -> "count",
    "import.stats_s" -> "s", "import.sample_s" -> "s", "import.shuffle_map_s" -> "s",
    "import.pack_write_s" -> "s", "import.shuffle_write_bytes" -> "B",
    "import.executor_cpu_s" -> "s", "import.gc_s" -> "s",
    "store.files" -> "count", "store.row_groups" -> "count", "store.blocks" -> "count",
    "store.points_per_block" -> "count", "store.reopen_ms" -> "ms",
    "plan.build_ms" -> "ms", "decompose.contained_ranges" -> "count",
    "decompose.partial_ranges" -> "count", "query.plan_ms" -> "ms", "query.codegen_ms" -> "ms",
    "spark.driver_gap_ms" -> "ms",
    "scan.count" -> "count", "scan.files_read" -> "count", "scan.blocks_read" -> "count",
    "scan.read_frac" -> "ratio",
    "explode.points_decoded" -> "count", "refine.points_returned" -> "count",
    "refine.useful_frac" -> "ratio",
    "knn.probe_rounds" -> "count", "knn.jobs" -> "count",
    "export.write_ms" -> "ms", "export.points" -> "count", "export.bytes" -> "B",
    "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.executor_cpu_ms" -> "ms", "spark.gc_ms" -> "ms", "spark.shuffle_bytes" -> "B",
    "host.steal_frac" -> "ratio", "trace.overhead_frac" -> "ratio")
}

/** Counts actions (count, collect, ...) as Spark reports them. */
final class Actions extends QueryExecutionListener {
  private val n = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    n.merge(funcName, 1L, (a: java.lang.Long, b: java.lang.Long) => a + b)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  def count(f: String): Long = n.getOrDefault(f, 0L)
}

/** Parquet footers of the block store. */
object Footers {
  final case class Summary(rowGroups: Long, rows: Long)
  def of(files: Seq[Path]): Summary = {
    val conf = new org.apache.hadoop.conf.Configuration()
    files.foldLeft(Summary(0, 0)) { (s, f) =>
      val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(f.toUri), conf)
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      try {
        val blocks = r.getFooter.getBlocks.asScala
        Summary(s.rowGroups + blocks.size, s.rows + blocks.map(_.getRowCount).sum)
      } finally r.close()
    }
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile. */
  def quantile(xs: Seq[Double], p: Double): Double = {
    if (xs.isEmpty) return Double.NaN
    val s = xs.sorted
    val h = (s.size - 1) * p
    val lo = math.floor(h).toInt
    val hi = math.min(s.size - 1, lo + 1)
    s(lo) + (h - lo) * (s(hi) - s(lo))
  }

  /** The highest of p99/p95/p90/p75 with at least ten samples above it. */
  def tail(xs: Seq[Double]): Option[(Int, Double)] =
    Seq(99, 95, 90, 75).find(p => xs.size - math.ceil(xs.size * p / 100.0) >= 10)
      .map(p => p -> quantile(xs, p / 100.0))
}

/** Host counters from /proc: CPU steal and the process's peak RSS. */
object HostStat {
  /** (steal, busy) jiffies summed over all CPUs. */
  def read(): (Long, Long) = {
    val src = scala.io.Source.fromFile("/proc/stat")
    try {
      val f = src.getLines().next().trim.split("\\s+").drop(1).map(_.toLong)
      // user nice system idle iowait irq softirq steal
      val busy = f(0) + f(1) + f(2) + f(5) + f(6) + f(7)
      (f(7), busy)
    } finally src.close()
  }

  def stealFrac(a: (Long, Long), b: (Long, Long)): Double =
    if (b._2 == a._2) 0.0 else (b._1 - a._1).toDouble / (b._2 - a._2)

  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024)
      .getOrElse(Double.NaN)
    finally src.close()
  }
}

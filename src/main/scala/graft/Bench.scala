package graft
import org.apache.spark.sql.SparkSession

/** Host-drift calibration: three pure-JVM spin probes (single-thread
  * ALU, all-cores ALU, memory bandwidth) run alongside every bench, so
  * co-tenant pressure on the host is measured rather than guessed. The
  * spin probes are all that the `calibration` object carries: each
  * probe's seconds and its ratio to the r21 anchor below. No query
  * result enters it, so no query's code is frozen by it.
  *
  * The anchors were taken on a local[32] host; a ratio is only
  * comparable between runs with the same CPU count. */
object Calibration {
  /** r21 anchors (seconds, min-of-2, min across that round's
    * clean-window runs). */
  val spinStRefR21 = 1.099
  val spinMtRefR21 = 0.669
  val spinMemRefR21 = 0.288

  private def spin(n: Long, seed: Long): Long = {
    var x = seed; var s = 0L; var i = 0L
    while (i < n) {
      x ^= x >>> 12; x ^= x << 25; x ^= x >>> 27
      s += x * 0x2545F4914F6CDD1DL; i += 1
    }
    s
  }

  @volatile private var sink = 0L

  /** Single-thread xorshift spin, min-of-2 seconds. */
  def spinSingle(): Double = {
    def once(): Double = {
      val t0 = System.nanoTime()
      sink += spin(500000000L, 0x9E3779B97F4A7C15L)
      (System.nanoTime() - t0) / 1e9
    }
    math.min(once(), once())
  }

  /** All-cores spin (one thread per available processor, 2.5e8 iters
    * each), min-of-2 wall seconds — co-tenant CPU pressure shows up
    * here first. */
  def spinMulti(): Double = {
    val nThreads = Runtime.getRuntime.availableProcessors()
    def once(): Double = {
      val t0 = System.nanoTime()
      val ts = (0 until nThreads).map { i =>
        val t = new Thread(() => sink += spin(250000000L, 0x9E3779B97F4A7C15L + i))
        t.start(); t
      }
      ts.foreach(_.join())
      (System.nanoTime() - t0) / 1e9
    }
    math.min(once(), once())
  }

  /** Memory-bandwidth spin: stream-sum a 256 MB long array 8 times
    * (~2 GB of traffic, far past L3), min-of-2 wall seconds; the
    * array is allocated and initialized OUTSIDE the timed region. */
  def spinMem(): Double = {
    val n = 1 << 25 // 32M longs = 256 MB
    val a = new Array[Long](n)
    var i = 0
    while (i < n) { a(i) = i.toLong * 0x9E3779B97F4A7C15L; i += 1 }
    def once(): Double = {
      val t0 = System.nanoTime()
      var pass = 0
      var s = 0L
      while (pass < 8) {
        var j = 0
        while (j < n) { s += a(j); j += 1 }
        pass += 1
      }
      sink += s
      (System.nanoTime() - t0) / 1e9
    }
    math.min(once(), once())
  }

  /** The JSON calibration object: the three spin probes, each with
    * its ratio to the r21 anchor. */
  def json(): String = {
    val st = spinSingle()
    val mt = spinMulti()
    val mem = spinMem()
    f"""{"spin_st_sec":$st%.3f,"spin_mt_sec":$mt%.3f,"spin_mem_sec":$mem%.3f,""" +
      f""""spin_st_ratio_r21":${st / spinStRefR21}%.3f,""" +
      f""""spin_mt_ratio_r21":${mt / spinMtRefR21}%.3f,""" +
      f""""spin_mem_ratio_r21":${mem / spinMemRefR21}%.3f}"""
  }
}

object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // steady-state measurement in TWO total passes: the first timed
    // pass doubles as the warmup (JVM JIT, Janino whole-stage-codegen
    // compiles — measured 0.3–5 s per query of pure compilation —
    // parquet footers, page cache), and the reported number is the
    // per-query MIN of the two, i.e. the warm, reproducible cost of
    // the plan: transient co-tenant load inflates single-shot timings
    // uniformly (the same suite measured 23–62 s across consecutive
    // runs on this host). Table caches warm up front so pass 1 isn't
    // charged for first-touch I/O either.
    spark.range(1000000).selectExpr("sum(id)").collect()
    Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "documents", "embeddings", "events").foreach { t =>
      val df = spark.read.parquet(s"$sfDir/$t.parquet")
      df.selectExpr(df.columns.map(c => s"count(`$c`)"): _*).collect()
    }
    // warm the classifier weight memo outside the timed region: score/
    // eval deploy a per-dir trained model, and alphabetical order would
    // otherwise charge the first of them for a full training run in a
    // fresh JVM (ADVICE r15). doc_classifier_train still retrains.
    graft.queries.DocQueries.warmTrainedWeights(spark, sfDir)
    // materialize via the noop sink, not count(): count() lets Catalyst
    // prune unreferenced projections, so narrow-map queries would be
    // benched as bare scans with their kernels never executing
    // local-iteration subset: SPARK_GRAFT_ONLY=q1,q2 benches only the
    // named queries; unset = all, which is what the driver runs
    val only = SparkEntry.selected(sys.env.get("SPARK_GRAFT_ONLY"))
    def timedPass(): Seq[(String, Either[String, Double])] =
      SparkEntry.queries.toSeq.filter(kv => only.forall(_.contains(kv._1)))
        .sortBy(_._1).map { case (name, fn) =>
        val t0 = System.nanoTime()
        try {
          fn(spark, sfDir).write.mode("overwrite").format("noop").save()
          name -> Right((System.nanoTime() - t0) / 1e9)
        } catch { case e: Throwable =>
          // a failed query records as an error, never as its time-to-throw
          name -> Left(s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(160)}")
        }
      }
    val (p1, p2) = (timedPass(), timedPass())
    val merged = p1.zip(p2).map { case ((name, a), (_, b)) => (name, a, b) }
    val results = merged.collect { case (name, Right(a), Right(b)) =>
      val secs = math.min(a, b)
      System.err.println(f"[bench] $name%-24s $secs%8.2fs")
      name -> secs
    }
    val errors = merged.collect { case (name, a, b) if a.isLeft || b.isLeft =>
      val msg = Seq(a, b).collectFirst { case Left(m) => m }.get
      System.err.println(s"[bench] $name FAILED: $msg")
      name -> msg
    }
    def jstr(s: String): String =
      "\"" + s.flatMap {
        case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
        case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
      } + "\""
    val qs = results.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val errs = errors.map { case (k, m) => s"\"" + k + "\":" + jstr(m) }
      .mkString("{", ",", "}")
    val total = results.map(_._2).sum
    val cal = Calibration.json()
    System.err.println(s"[bench] calibration: $cal")
    val line =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"errors":$errs,"calibration":$cal,"sf":"$sfDir"}"""
    println(line)
    // also persist the full per-query map: the driver captures a stdout
    // tail, which has truncated the alphabetically-late query block
    val out = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_out.json")
    java.nio.file.Files.write(java.nio.file.Paths.get(out),
      line.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    spark.stop()
  }
}

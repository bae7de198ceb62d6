package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

// Temporary round-21 profiling scratch — not part of the engine.
object Scratch {
  def time[T](label: String)(f: => T): T = {
    val t0 = System.nanoTime()
    val r = f
    println(f"[scratch] $label%-40s ${(System.nanoTime() - t0) / 1e9}%8.3fs")
    r
  }

  def noop(df: org.apache.spark.sql.DataFrame): Unit =
    df.write.mode("overwrite").format("noop").save()

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.range(1000000).selectExpr("sum(id)").collect()

    val which = args.headOption.getOrElse("ror")
    which match {
      case "q" =>
        // per-stage breakdown of registered queries: runs each named
        // query 3x through the noop sink with a stage listener
        val names = args.tail.toSeq
        val stages = new java.util.concurrent.ConcurrentHashMap[Int, (String, Long, Int)]()
        spark.sparkContext.addSparkListener(
          new org.apache.spark.scheduler.SparkListener {
            override def onStageCompleted(
                sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
              val si = sc.stageInfo
              val ms = for {
                s <- si.submissionTime; c <- si.completionTime
              } yield c - s
              stages.put(si.stageId,
                (si.name.takeWhile(_ != '\n').take(60), ms.getOrElse(-1L),
                  si.numTasks))
            }
          })
        names.foreach { n =>
          val fn = graft.SparkEntry.queries(n)
          for (i <- 1 to 3) {
            stages.clear()
            time(s"$n #$i") { noop(fn(spark, sfDir)) }
            if (i == 3) {
              import scala.jdk.CollectionConverters._
              stages.asScala.toSeq.sortBy(_._1).foreach {
                case (id, (nm, ms, nt)) =>
                  println(f"[scratch]   stage $id%4d $ms%6d ms $nt%4d tasks  $nm")
              }
            }
          }
        }
      case "ror" =>
        val c = graft.queries.PointCloudQueries.cloud(spark, sfDir)
        // warm cache
        time("warm full query") { noop(c.radiusOutlierRemoval(48.0, 4L)) }
        for (i <- 1 to 2) {
          time(s"full radiusOutlierRemoval #$i") {
            noop(c.radiusOutlierRemoval(48.0, 4L))
          }
        }
        // pieces
        val blocks = c.blocks
        time("blocks scan only") { noop(blocks) }
        val pts = {
          val key = shiftleft(col("sfc_head"), 14).bitwiseOR(col("p.sfc_tail"))
          blocks
            .select(col("sfc_head"), explode(arrays_zip(col("sfc_tail"), col("z"))).as("p"))
            .select(
              (graft.functions.sfc.morton_decode(key, 2, 0).cast("double") * 1.0 + 0.0).as("x"),
              (graft.functions.sfc.morton_decode(key, 2, 1).cast("double") * 1.0 + 0.0).as("y"),
              col("p.z").as("z"))
        }
        for (i <- 1 to 2) time(s"explodePoints #$i") { noop(pts) }
        println("[scratch] pts count " + time("count pts") { pts.count() })
        val ids = pts.groupBy(col("x"), col("y"), col("z"))
          .agg(count(lit(1)).as("__m"))
        for (i <- 1 to 2) time(s"ids groupBy #$i") { noop(ids) }
        def cellOf(c0: org.apache.spark.sql.Column) =
          floor(c0 / 48.0).cast("long")
        val q = ids.select(col("x").as("__qx"), col("y").as("__qy"),
          col("z").as("__qz"), col("__m"),
          cellOf(col("x")).as("__cx"), cellOf(col("y")).as("__cy"))
        val offsets = array((for (dx <- -1 to 1; dy <- -1 to 1) yield
          struct(lit(dx.toLong).as("dx"), lit(dy.toLong).as("dy"))): _*)
        val probe = ids.select(col("x"), col("y"), col("z"),
            cellOf(col("x")).as("__px"), cellOf(col("y")).as("__py"),
            explode(offsets).as("o"))
          .select(col("x"), col("y"), col("z"),
            (col("__px") + col("o.dx")).as("__cx"),
            (col("__py") + col("o.dy")).as("__cy"))
        val d2 = (col("__qx") - col("x")) * (col("__qx") - col("x")) +
          (col("__qy") - col("y")) * (col("__qy") - col("y")) +
          (col("__qz") - col("z")) * (col("__qz") - col("z"))
        val joined = probe.join(q, Seq("__cx", "__cy"))
          .filter(d2 <= lit(48.0 * 48.0))
        for (i <- 1 to 2) time(s"cell join+filter #$i") { noop(joined) }
        println("[scratch] candidate pairs " +
          time("count candidates") { joined.count() })
        println("[scratch] distinct ids " + ids.count())
        def full(j: org.apache.spark.sql.DataFrame) = {
          val dropped = j
            .groupBy(col("x"), col("y"), col("z"))
            .agg(sum(col("__m")).as("__cnt"))
            .filter(col("__cnt") < 4L)
            .select(col("x"), col("y"), col("z"))
          pts.join(broadcast(dropped), Seq("x", "y", "z"), "left_anti")
        }
        val shj = probe.join(q.hint("SHUFFLE_HASH"), Seq("__cx", "__cy"))
          .filter(d2 <= lit(48.0 * 48.0))
        for (i <- 1 to 3) time(s"full SHUFFLE_HASH(q build) #$i") { noop(full(shj)) }
        val smj = probe.join(q.hint("MERGE"), Seq("__cx", "__cy"))
          .filter(d2 <= lit(48.0 * 48.0))
        for (i <- 1 to 3) time(s"full MERGE #$i") { noop(full(smj)) }
        val shj2 = probe.hint("SHUFFLE_HASH").join(q, Seq("__cx", "__cy"))
          .filter(d2 <= lit(48.0 * 48.0))
        for (i <- 1 to 3) time(s"full SHUFFLE_HASH(probe build) #$i") { noop(full(shj2)) }
        for (i <- 1 to 3) time(s"full current(broadcast) #$i") { noop(full(joined)) }
      case "saeq" =>
        // driver-vs-distributed equality of repeatedSpans at this SF
        // (the raised 2^22 gate makes sf1 take the driver path)
        val docs = spark.read.parquet(s"$sfDir/documents.parquet")
        def hash(df: org.apache.spark.sql.DataFrame): String = {
          val rows = df.collect().map(_.toSeq.mkString("|")).sorted
          val md = java.security.MessageDigest.getInstance("SHA-256")
          rows.foreach(r => md.update(r.getBytes("UTF-8")))
          s"${rows.length}/${md.digest().map("%02x".format(_)).mkString.take(16)}"
        }
        val fast = time("repeatedSpans driver (default)") {
          hash(graft.operators.SuffixArray.repeatedSpans(
            docs, "doc_id", "text", 8))
        }
        val loop = time("repeatedSpans distributed (limit=0)") {
          hash(graft.operators.SuffixArray.repeatedSpans(
            docs, "doc_id", "text", 8, driverPosLimit = 0))
        }
        println(s"[scratch] driver=$fast distributed=$loop " +
          (if (fast == loop) "EQUAL" else "DIVERGED"))
      case "spans" =>
        val docs = spark.read.parquet(s"$sfDir/documents.parquet")
        time("warm docs") { noop(docs) }
        for (i <- 1 to 2) {
          time(s"repeatedSpans #$i") {
            noop(graft.operators.SuffixArray.repeatedSpans(
              docs, "doc_id", "text", 8))
          }
        }
        val tok = docs.select(col("doc_id").as("doc"),
            split(graft.operators.Dedup.normalizeText(col("text")), " ").as("__w"))
          .select(col("doc"), posexplode(col("__w")).as(Seq("pos", "word")))
        println("[scratch] n positions " + time("count tok") { tok.count() })
        println("[scratch] n docs " + docs.count())
      case _ => println("unknown mode")
    }
    spark.stop()
  }
}

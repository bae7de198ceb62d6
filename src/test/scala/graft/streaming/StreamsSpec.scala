package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

class StreamsSpec extends AnyFunSuite with BeforeAndAfterAll {

  /** Every index and sink directory the suite writes, removed after it. */
  private lazy val tmp = java.nio.file.Files.createTempDirectory("graft_streams").toString

  override def afterAll(): Unit =
    try graft.operators.BlockStore.rmdir(java.nio.file.Paths.get(tmp))
    finally super.afterAll()

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def ts(min: Long): Timestamp = new Timestamp(min * 60000L)

  test("streaming sessionization emits watermark-closed sessions") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, Timestamp, Double)]
    val df = in.toDF().toDF("user_id", "ts", "value")
    val q = Streams.sessionize(df, gap = "30 minutes", watermark = "0 seconds")
      .writeStream.format("memory").queryName("sess_out")
      .outputMode("append").start()
    try {
      in.addData((7L, ts(0), 1.0), (7L, ts(10), 2.0))
      q.processAllAvailable()
      // push watermark far past the first session's close
      in.addData((7L, ts(1000), 4.0))
      q.processAllAvailable()
      in.addData((7L, ts(3000), 8.0))
      q.processAllAvailable()
      val rows = spark.sql("SELECT * FROM sess_out")
        .collect().map(r => (r.getLong(0), r.getLong(2), r.getLong(3))).toSet
      assert(rows.contains((7L, 2L, 3000L))) // first session: 2 events, 3.0
      assert(rows.contains((7L, 1L, 4000L))) // second closed session
    } finally q.stop()
  }

  test("streaming tumbling counts") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, Timestamp, Double)]
    val df = in.toDF().toDF("user_id", "ts", "value")
    val q = Streams.tumblingCounts(df, width = "1 hour", watermark = "0 seconds")
      .writeStream.format("memory").queryName("tumb_out")
      .outputMode("append").start()
    try {
      in.addData((1L, ts(10), 1.0), (2L, ts(50), 2.0), (1L, ts(70), 4.0))
      q.processAllAvailable()
      in.addData((1L, ts(5000), 1.0)) // advance watermark, close earlier windows
      q.processAllAvailable()
      val rows = spark.sql("SELECT * FROM tumb_out")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(rows.contains((0L, 2L, 3000L)))
      assert(rows.contains((3600000000L, 1L, 4000L)))
    } finally q.stop()
  }

  test("streaming dedup by key within watermark") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, Timestamp, Double)]
    val df = in.toDF().toDF("event_id", "ts", "value")
    val q = Streams.dedupByKey(df, "event_id").writeStream
      .format("memory").queryName("dedup_out").outputMode("append").start()
    try {
      in.addData((1L, ts(0), 1.0), (1L, ts(1), 1.0), (2L, ts(2), 2.0))
      q.processAllAvailable()
      in.addData((1L, ts(3), 1.0)) // duplicate again within watermark
      q.processAllAvailable()
      assert(spark.sql("SELECT count(*) FROM dedup_out").head().getLong(0) == 2)
    } finally q.stop()
  }

  test("streaming canonical-URL dedup: variants collapse, distinct resources pass") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, Timestamp, String)]
    val df = in.toDF().toDF("doc_id", "ts", "url")
    val q = Streams.urlDedup(df, "url").writeStream
      .format("memory").queryName("urldedup_out").outputMode("append").start()
    try {
      in.addData(
        (1L, ts(0), "https://x.com/p?b=2&a=1"),
        (2L, ts(1), "https://X.com/p?a=1&b=2&utm_source=s"), // same canonical
        (3L, ts(2), "https://x.com/p/?a=1&b=2#f"),           // same canonical
        (4L, ts(3), "https://y.com/q"))
      q.processAllAvailable()
      in.addData((5L, ts(4), "https://u:p@x.com/p?a=1&b=2")) // still the same
      q.processAllAvailable()
      val rows = spark.sql(
        "SELECT canonical_url, count(*) FROM urldedup_out GROUP BY 1")
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(rows == Map("https://x.com/p?a=1&b=2" -> 1L,
        "https://y.com/q" -> 1L), rows.toString)
    } finally q.stop()
  }

  test("streaming robots gate drops disallowed URLs at the frontier") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val robots = Seq(
      ("a.ex", "User-agent: GraftBot\nDisallow: /g/\nAllow: /g/ok\n" +
        "User-agent: *\nDisallow: /\n"),
      ("b.ex", "User-agent: *\nDisallow: /*.tmp$\n"))
      .toDF("rhost", "body")
    val rules = graft.operators.Robots.parseRules(
      robots, "rhost", "body", "GraftBot")
    val in = MemoryStream[(Long, Timestamp, String)]
    val df = in.toDF().toDF("doc_id", "ts", "url")
    val q = Streams.robotsGate(df, rules, "url").writeStream
      .format("memory").queryName("robots_out").outputMode("append").start()
    try {
      in.addData(
        (1L, ts(0), "https://a.ex/g/secret"),   // agent group: deny
        (2L, ts(1), "https://a.ex/g/okay"),     // longer allow wins
        (3L, ts(2), "https://a.ex/free"),       // star Disallow:/ IGNORED
        (4L, ts(3), "https://b.ex/x.tmp"),      // star wildcard: deny
        (5L, ts(4), "https://c.ex/anything"))   // no robots: allow
      q.processAllAvailable()
      val kept = spark.sql("SELECT doc_id, grp FROM robots_out")
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(kept == Map(2L -> "agent", 3L -> "default", 5L -> "default"),
        kept.toString)
    } finally q.stop()
    // the audit shape keeps every row with its decision
    val q2 = Streams.robotsGate(df, rules, "url", keepDisallowed = true)
      .writeStream.format("memory").queryName("robots_audit")
      .outputMode("append").start()
    try {
      in.addData((6L, ts(5), "https://b.ex/y.tmp"))
      q2.processAllAvailable()
      val audit = spark.sql(
        "SELECT allowed, matched_rule FROM robots_audit WHERE doc_id = 6")
        .collect().map(r => (r.getBoolean(0), r.getString(1))).toSeq
      assert(audit == Seq((false, "/*.tmp$")), audit.toString)
    } finally q2.stop()
  }

  test("streaming language gate keeps only the allowed languages, stateless") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, Timestamp, String)]
    val df = in.toDF().toDF("doc_id", "ts", "text")
    val q = Streams.langGate(df, "text", allowed = Seq("en", "de"))
      .writeStream.format("memory").queryName("lang_out")
      .outputMode("append").start()
    try {
      in.addData(
        (1L, ts(0), "the people in the city know about the old bridge"),
        (2L, ts(1), "die menschen in der stadt kennen die alte brücke"),
        (3L, ts(2), "toda la gente de la ciudad conoce el viejo puente"),
        (4L, ts(3), "城里所有的人都知道那座古老的石桥"),
        (5L, ts(4), "@@@ 12345 ###")) // und -> dropped
      q.processAllAvailable()
      val kept = spark.sql("SELECT doc_id, pred_lang FROM lang_out")
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(kept == Map(1L -> "en", 2L -> "de"), kept.toString)
    } finally q.stop()
    // audit shape: every row with its prediction, no filter
    val q2 = Streams.langGate(df, "text", allowed = Seq("en"),
        keepRejected = true)
      .writeStream.format("memory").queryName("lang_audit")
      .outputMode("append").start()
    try {
      in.addData((6L, ts(5), "언어 식별은 우리에게 중요한 과제이다"))
      q2.processAllAvailable()
      val audit = spark.sql(
        "SELECT pred_lang FROM lang_audit WHERE doc_id = 6")
        .collect().map(_.getString(0)).toSeq
      assert(audit == Seq("ko"), audit.toString)
    } finally q2.stop()
  }

  test("streaming quality gate deploys trained classifier weights") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // train on a separable batch corpus, deploy the weights at the gate
    val corpus = (0 until 40).map { i =>
      val y = i % 2
      val marker = if (y == 1) "good fine solid" else "spam junk noise"
      (i.toLong, s"filler words $marker t$i", y)
    }.toDF("doc_id", "text", "label")
    val w = graft.operators.TextStats.classifierTrain(
      corpus, "doc_id", "text", "label", numBuckets = 128, rounds = 3)
    val in = MemoryStream[(Long, Timestamp, String)]
    val df = in.toDF().toDF("doc_id", "ts", "text")
    val q = Streams.qualityGate(df, "text", w)
      .writeStream.format("memory").queryName("qual_out")
      .outputMode("append").start()
    try {
      in.addData(
        (1L, ts(0), "filler words good fine solid tail"),
        (2L, ts(1), "filler words spam junk noise tail"))
      q.processAllAvailable()
      val kept = spark.sql("SELECT doc_id FROM qual_out")
        .collect().map(_.getLong(0)).toSet
      assert(kept == Set(1L), kept.toString)
    } finally q.stop()
  }

  test("streaming encoding and entropy gates drop damaged and degenerate rows") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, Timestamp, String)]
    val df = in.toDF().toDF("doc_id", "ts", "text")
    val q = Streams.entropyGate(Streams.encodingGate(df, "text"), "text")
      .writeStream.format("memory").queryName("gates_out")
      .outputMode("append").start()
    try {
      in.addData(
        (1L, ts(0), "the cat sat on the mat and the dog ran off with it all"),
        (2L, ts(1), "mojibake crept in Ã© here"),       // encoding gate
        (3L, ts(2), "zzzzzzzzzzzzzzzzzzzzzzzzzzzzzz"),  // char entropy
        (4L, ts(3), ("the quick brown fox " * 8).trim)) // token repetition
      q.processAllAvailable()
      val kept = spark.sql("SELECT doc_id FROM gates_out")
        .collect().map(_.getLong(0)).toSet
      assert(kept == Set(1L), kept.toString)
    } finally q.stop()
    // audit shape keeps the flags without filtering
    val q2 = Streams.encodingGate(df, "text", keepRejected = true)
      .writeStream.format("memory").queryName("enc_audit")
      .outputMode("append").start()
    try {
      in.addData((5L, ts(4), "clean line"), (6L, ts(5), "bad �"))
      q2.processAllAvailable()
      val audit = spark.sql(
          "SELECT doc_id, enc_ok FROM enc_audit WHERE doc_id >= 5")
        .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
      assert(audit == Map(5L -> true, 6L -> false), audit.toString)
    } finally q2.stop()
  }

  test("streaming crawl frontier end to end: ingest -> robots gate -> url dedup") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val robots = Seq(("x.com", "User-agent: *\nDisallow: /blocked/\n"))
      .toDF("rhost", "body")
    val rules = graft.operators.Robots.parseRules(
      robots, "rhost", "body", "GraftBot")
    def blob(recs: (String, String)*): Array[Byte] =
      recs.flatMap { case (uri, body) =>
        graft.sources.Warc.encodeResponse(uri, "2026-08-15T00:00:00Z",
          200, "OK", body.getBytes("UTF-8")).toSeq
      }.toArray
    val in = MemoryStream[(Timestamp, Array[Byte])]
    val gated = Streams.robotsGate(
      Streams.warcIngest(in.toDF().toDF("ts", "blob"), "blob")
        .filter($"warc_type" === "response"),
      rules, "target_uri")
    val q = Streams.urlDedup(gated, "target_uri").writeStream
      .format("memory").queryName("frontier_out").outputMode("append").start()
    try {
      in.addData((ts(0), blob(
        ("https://x.com/page?b=2&a=1", "one"),
        ("https://x.com/blocked/secret", "never"), // robots drop
        ("https://X.com/page?a=1&b=2&utm_source=s", "dup of one"))))
      q.processAllAvailable()
      in.addData((ts(1), blob(
        ("https://x.com/page/?a=1&b=2", "still the same page"),
        ("https://x.com/fresh", "new"))))
      q.processAllAvailable()
      val kept = spark.sql(
        "SELECT canonical_url, count(*) FROM frontier_out GROUP BY 1")
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      // one survivor per canonical resource; the blocked URL never
      // reaches the dedup state at all
      assert(kept == Map("https://x.com/page?a=1&b=2" -> 1L,
        "https://x.com/fresh" -> 1L), kept.toString)
    } finally q.stop()
  }

  test("streaming WARC ingestion explodes records across micro-batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // real crawl files open with a warcinfo record — the ingest must
    // emit it typed (warc_type column) so consumers can filter it out
    val warcinfo = ("WARC/1.0\r\nWARC-Type: warcinfo\r\n" +
      "Content-Length: 14\r\n\r\nsoftware: test\r\n\r\n").getBytes("UTF-8")
    def file(ids: Range): Array[Byte] = warcinfo ++ ids.toArray.flatMap { i =>
      val rec = graft.sources.Warc.encodeResponse(s"https://w/$i",
        "2026-08-14T00:00:00Z", 200, "OK", s"payload $i".getBytes("UTF-8"))
      if (i % 2 == 0) graft.sources.Warc.gzipMember(rec) else rec
    }
    val in = MemoryStream[(Timestamp, Array[Byte])]
    val df = in.toDF().toDF("ts", "bytes")
    val q = Streams.warcIngest(df, "bytes").writeStream
      .format("memory").queryName("warc_out").outputMode("append").start()
    try {
      in.addData((ts(0), file(0 until 3)))
      q.processAllAvailable()
      in.addData((ts(1), file(3 until 5)))
      q.processAllAvailable()
      val rows = spark.sql(
        """SELECT target_uri, http_status, body FROM warc_out
           WHERE warc_type = 'response' ORDER BY target_uri""")
        .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2)))
      assert(rows.length == 5)
      assert(rows.map(_._1).toSet == (0 until 5).map(i => s"https://w/$i").toSet)
      assert(rows.forall(_._2 == 200L))
      assert(rows.exists(_._3 == "payload 4"))
      // the two warcinfo records (one per blob) arrived typed, status 0
      val info = spark.sql(
        "SELECT count(*) FROM warc_out WHERE warc_type = 'warcinfo' AND http_status = 0")
        .head().getLong(0)
      assert(info == 2L)
    } finally q.stop()
  }

  test("WARC quarantine side-output keeps good blobs, quarantines hostile") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def good(i: Int): Array[Byte] = graft.sources.Warc.encodeResponse(
      s"https://w/$i", "2026-08-14T00:00:00Z", 200, "OK",
      s"payload $i".getBytes("UTF-8"))
    // hostile: a valid record truncated mid-payload — the strict
    // parser rejects with Content-Length-runs-past-end at offset 0
    val hostile = good(99).dropRight(10)
    val goodDir = java.nio.file.Files
      .createTempDirectory("warc_good").toString
    val quarDir = java.nio.file.Files
      .createTempDirectory("warc_quar").toString
    val in = MemoryStream[(Timestamp, Array[Byte])]
    val df = in.toDF().toDF("ts", "bytes")
    val q = Streams.warcIngestQuarantine(df, "bytes").writeStream
      .foreachBatch(Streams.warcQuarantineSinks(goodDir, quarDir))
      .outputMode("append").start()
    try {
      in.addData((ts(0), good(0) ++ good(1)), (ts(1), hostile),
        (ts(2), good(2)), (ts(3), null))
      q.processAllAvailable()
      val goodRows = spark.read.parquet(goodDir)
        .select("target_uri").collect().map(_.getString(0)).toSet
      assert(goodRows == Set("https://w/0", "https://w/1", "https://w/2"),
        goodRows.toString)
      val quar = spark.read.parquet(quarDir)
        .select("ts", "q_offset", "q_reason").collect()
        .map(r => (r.getTimestamp(0), r.getLong(1), r.getString(2)))
      assert(quar.length == 2, quar.mkString("; "))
      val byTs = quar.map(x => x._1 -> ((x._2, x._3))).toMap
      // the truncated blob: rejected at record offset 0 with the
      // strict parser's bounds message
      assert(byTs(ts(1))._1 == 0L &&
        byTs(ts(1))._2.contains("runs past"), byTs.toString)
      // the null blob: sentinel offset -1
      assert(byTs(ts(3))._1 == -1L &&
        byTs(ts(3))._2.contains("null blob"), byTs.toString)
    } finally q.stop()
  }

  test("stream-static near-dup check matches incoming docs against the corpus") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val corpus = Seq(
      (100L, "the quick brown fox jumps over the lazy dog again and again"),
      (101L, "an entirely different document about spark structured streaming"))
      .toDF("doc_id", "text")
    val in = MemoryStream[(Long, String)]
    val df = in.toDF().toDF("doc_id", "text")
    val q = Streams.nearDupAgainstCorpus(df, corpus, "doc_id", "text",
        maxHamming = 3)
      .writeStream.format("memory").queryName("ndup_out")
      .outputMode("append").start()
    try {
      // near-copy of corpus doc 100 (one word changed; replacement
      // chosen so the portable-hash fingerprints land at hamming 3 —
      // a one-word edit flips each knife-edge vote bit, so not every
      // substitute stays within the threshold) + unrelated doc
      in.addData(
        (1L, "the quick brown fox jumps over the lazy seal again and again"),
        (2L, "completely unrelated text with nothing shared at all here"))
      q.processAllAvailable()
      val rows = spark.sql("SELECT in_id, corpus_id FROM ndup_out")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      assert(rows.contains((1L, 100L)))
      assert(!rows.map(_._1).contains(2L))
      // exact-once per pair: the multi-chunk agreement of an identical
      // fingerprint must still emit a single row
      in.addData((3L, "the quick brown fox jumps over the lazy dog again and again"))
      q.processAllAvailable()
      val hits3 = spark.sql("SELECT * FROM ndup_out WHERE in_id = 3")
        .collect()
      assert(hits3.length == 1 && hits3.head.getLong(1) == 100L
        && hits3.head.getAs[Number]("hamming").longValue() == 0L)
    } finally q.stop()
  }

  test("streaming grid-cell counts close per window with exact z extremes") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Timestamp, Double, Double, Double)]
    val df = in.toDF().toDF("ts", "x", "y", "z")
    val q = Streams.gridCellCounts(df, cell = 4.0,
        width = "1 hour", watermark = "0 seconds")
      .writeStream.format("memory").queryName("grid_out")
      .outputMode("append").start()
    try {
      in.addData(
        (ts(10), 1.0, 1.0, 5.0), (ts(20), 2.0, 3.0, 9.0), // cell (0,0)
        (ts(30), 5.0, 1.0, 2.5))                          // cell (1,0)
      q.processAllAvailable()
      in.addData((ts(5000), 1.0, 1.0, 1.0)) // advance watermark, close window
      q.processAllAvailable()
      val rows = spark.sql("SELECT * FROM grid_out").collect()
        .map(r => ((r.getLong(0), r.getLong(1), r.getLong(2)),
          (r.getLong(3), r.getDouble(4), r.getDouble(5)))).toMap
      assert(rows((0L, 0L, 0L)) == ((2L, 5.0, 9.0)))
      assert(rows((0L, 1L, 0L)) == ((1L, 2.5, 2.5)))
    } finally q.stop()
  }

  test("streaming CMS grid: estimates recover counts, state stays grid-bounded") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Timestamp, Long)]
    val df = in.toDF().toDF("ts", "user_id")
    val q = Streams.cmsGrid(df, "user_id", width = "1 hour",
        watermark = "0 seconds", depth = 4, w = 512)
      .writeStream.format("memory").queryName("cms_out")
      .outputMode("append").start()
    try {
      // window 0: key 7 x3, key 9 x1 — across two micro-batches so the
      // grid cells merge partial counts
      in.addData((ts(1), 7L), (ts(2), 7L), (ts(3), 9L))
      q.processAllAvailable()
      in.addData((ts(4), 7L))
      q.processAllAvailable()
      in.addData((ts(5000), 1L)) // advance watermark, close window 0
      q.processAllAvailable()
      val rows = spark.sql("SELECT * FROM cms_out WHERE window_start_us = 0")
        .collect().map(r => ((r.getInt(1), r.getLong(2)), r.getLong(3))).toMap
      // the grid never exceeds its bound regardless of key cardinality
      assert(rows.size <= 4 * 512)
      // probe with the SAME bucket streams the batch operator uses:
      // est(key) = min over rows i of grid(i, bucket_i(key)) — CMS
      // over-approximates, exact here (2 keys cannot collide 4x)
      def est(key: Long): Long = (0 until 4).map { i =>
        val b = java.lang.Math.floorMod(
          graft.functions.HashKernels.lehmer3(key + i * 1000003L), 512L)
        rows.getOrElse((i, b), 0L)
      }.min
      assert(est(7L) == 3L)
      assert(est(9L) == 1L)
      // a key that never appeared estimates 0 unless all 4 cells collide
      assert(est(12345L) <= 1L)
    } finally q.stop()
  }

  test("stream-stream interval join attributes within the horizon only") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val clicks = MemoryStream[(Long, Timestamp)]
    val buys = MemoryStream[(Long, Timestamp)]
    val q = Streams.intervalJoin(
        clicks.toDF().toDF("user_id", "ts"),
        buys.toDF().toDF("user_id", "ts"),
        "user_id", horizon = "1 hour", watermark = "0 seconds")
      .writeStream.format("memory").queryName("ij_out")
      .outputMode("append").start()
    // NB: data must sit AFTER epoch 0 — the initial watermark is epoch
    // 0 and stateful operators drop rows at-or-before it as late
    def dts(min: Long): Timestamp = ts(1440 + min)
    try {
      clicks.addData((1L, dts(0)), (2L, dts(0)))
      buys.addData(
        (1L, dts(30)),   // within 1h of user 1's click -> match
        (2L, dts(120)),  // 2h later -> outside horizon
        (3L, dts(10)))   // no click at all
      q.processAllAvailable()
      val rows = spark.sql("SELECT user_id FROM ij_out")
        .collect().map(_.getLong(0)).toSeq
      assert(rows == Seq(1L))
    } finally q.stop()
  }

  test("left-outer interval join emits null-padded rows after the horizon closes") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val clicks = MemoryStream[(Long, Timestamp)]
    val buys = MemoryStream[(Long, Timestamp)]
    val q = Streams.intervalJoin(
        clicks.toDF().toDF("user_id", "ts"),
        buys.toDF().toDF("user_id", "ts"),
        "user_id", horizon = "1 hour", watermark = "0 seconds",
        joinType = "left_outer")
      .writeStream.format("memory").queryName("ijo_out")
      .outputMode("append").start()
    def dts(min: Long): Timestamp = ts(1440 + min)
    try {
      clicks.addData((1L, dts(0)), (2L, dts(0)))
      buys.addData((1L, dts(30)))
      q.processAllAvailable()
      // push the watermark far past user 2's click + horizon: its
      // no-match row must now be emitted with a null r_ts
      clicks.addData((9L, dts(5000)))
      buys.addData((9L, dts(5001)))
      q.processAllAvailable()
      val rows = spark.sql("SELECT user_id, r_ts IS NULL FROM ijo_out")
        .collect().map(r => (r.getLong(0), r.getBoolean(1))).toSet
      assert(rows.contains((1L, false))) // matched within horizon
      assert(rows.contains((2L, true)))  // abandoned: null-padded
    } finally q.stop()
  }

  test("idempotent batch writer: replaying a batch never duplicates rows") {
    import spark.implicits._
    val path = s"$tmp/graft_idem_${System.nanoTime()}"
    val w = Streams.idempotentBatchWriter(path)
    w(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), 0L)
    w(Seq((3L, "c")).toDF("id", "v"), 1L)
    w(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), 0L) // sink-failure replay
    val got = spark.read.parquet(path)
      .select("id", "v").collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got == Set((1L, "a"), (2L, "b"), (3L, "c")))
  }

  test("streaming near-dup against the persisted index is replay-idempotent") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val idx = s"$tmp/graft_stream_idx_${System.nanoTime()}"
    val out = s"$tmp/graft_stream_idx_out_${System.nanoTime()}"
    val corpus = Seq(
      (100L, "the quick brown fox jumps over the lazy dog again and again and again"),
      (101L, "an entirely different document about spark structured streaming state"))
      .toDF("doc_id", "text")
    graft.operators.Dedup.writeNearDupIndex(corpus, "doc_id", "text", idx)

    val sink = Streams.nearDupAgainstIndex(spark, idx, out, "doc_id", "text",
      threshold = 0.5)
    val in = MemoryStream[(Long, String)]
    val q = in.toDF().toDF("doc_id", "text")
      .writeStream.foreachBatch(sink).outputMode("append").start()
    try {
      in.addData(
        // near-copy of corpus doc 100 (one word changed)
        (1L, "the quick brown fox jumps over the lazy cat again and again and again"),
        (2L, "completely unrelated text with nothing shared at all in this sentence"))
      q.processAllAvailable()
      val got = spark.read.parquet(out)
        .select("in_id", "corpus_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == Set((1L, 100L)))

      // sink-failure replay of the SAME micro-batch (at-least-once
      // delivery): the dynamic partition overwrite must not duplicate
      sink(Seq(
        (1L, "the quick brown fox jumps over the lazy cat again and again and again"),
        (2L, "completely unrelated text with nothing shared at all in this sentence"))
        .toDF("doc_id", "text"), 0L)
      val replayed = spark.read.parquet(out)
        .select("in_id", "corpus_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq
      assert(replayed.size == 1 && replayed.head == ((1L, 100L)),
        s"replay duplicated or changed output: $replayed")
    } finally q.stop()
  }

  test("streaming image dedup against the persisted dHash index is replay-idempotent") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val idx = s"$tmp/graft_img_idx_${System.nanoTime()}"
    val out = s"$tmp/graft_img_idx_out_${System.nanoTime()}"
    val (w, h) = (32, 24)
    def base(x: Int, y: Int) = (x * 3 + y * 11) % 200
    def png(f: (Int, Int) => Int) =
      graft.operators.Multimodal.ImageHeader.encodePngStored(w, h, f)
    val corpus = Seq(
      (100L, "image", png(base)),
      (101L, "image", png((x, y) => ((x * 2654435761L + y * 40503L) % 200).toInt)))
      .toDF("media_id", "kind", "bytes")
    graft.operators.Multimodal.writeDHashIndex(corpus, idx)

    val sink = Streams.imageDedupAgainstIndex(spark, idx, out, maxHamming = 8)
    val in = MemoryStream[(Long, Array[Byte])]
    val q = in.toDF().toDF("media_id", "bytes")
      .selectExpr("media_id", "'image' AS kind", "bytes")
      .writeStream.foreachBatch(sink).outputMode("append").start()
    try {
      in.addData(
        // corner-perturbed near-dup of corpus image 100; the second
        // arrives as a GIF — the cross-format path through the index
        (1L, png((x, y) => base(x, y) + (if (x < 8 && y < 8) 16 else 0))),
        (2L, graft.operators.Multimodal.ImageHeader.encodeGif(w, h, base)),
        // inverted gradient: far from everything
        (3L, png((x, y) => 255 - base(x, y))))
      q.processAllAvailable()
      val got = spark.read.parquet(out)
        .select("in_id", "corpus_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == Set((1L, 100L), (2L, 100L)), s"got $got")

      // at-least-once replay of the same micro-batch must overwrite,
      // not duplicate
      sink(Seq((2L, "image",
        graft.operators.Multimodal.ImageHeader.encodeGif(w, h, base)))
        .toDF("media_id", "kind", "bytes"), 0L)
      val replayed = spark.read.parquet(out)
        .select("in_id", "corpus_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq
      assert(replayed == Seq((2L, 100L)), s"replay wrong: $replayed")
    } finally q.stop()
  }

  test("streaming video dedup against the persisted signature index is replay-idempotent") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val idx = s"$tmp/graft_vid_idx_${System.nanoTime()}"
    val out = s"$tmp/graft_vid_idx_out_${System.nanoTime()}"
    // 72x64 block-aligned MJPEG (the VideoNearDupSpec fixture): three
    // scenes with distinct gradients, brightness jumps of 70 between
    // scenes guarantee cuts, +1 within-scene wiggle
    val mults = Array((3, 5), (7, 11), (13, 17))
    def frame(s: Int, wig: Int, mx0: Int = -1, my0: Int = -1): Array[Byte] = {
      val (mx, my) = if (mx0 > 0) (mx0, my0) else mults(s)
      graft.operators.JpegCodec.encodeJpegDcOnly(72, 64,
        (bx, by) => 20 + s * 70 + (bx * mx + by * my) % 50 + wig)
    }
    def avi(frames: Seq[Array[Byte]], us: Int = 33000): Array[Byte] =
      graft.sources.Avi.encodeMjpeg(72, 64, us, frames)
    val corpus = Seq(
      (100L, "image",
        avi((0 until 3).flatMap(s => Seq(frame(s, 0), frame(s, 1))))),
      (101L, "image",
        avi((0 until 3).flatMap(s =>
          Seq(frame(s, 0, 19, 23), frame(s, 1, 19, 23))))))
      .toDF("media_id", "kind", "bytes")
    graft.operators.Multimodal.writeVideoSignatureIndex(corpus, idx)

    val sink = Streams.videoDedupAgainstIndex(spark, idx, out)
    val in = MemoryStream[(Long, Array[Byte])]
    val q = in.toDF().toDF("media_id", "bytes")
      .selectExpr("media_id", "'image' AS kind", "bytes")
      .writeStream.foreachBatch(sink).outputMode("append").start()
    try {
      in.addData(
        // trimmed copy of indexed clip 100 (scenes 1-2, re-timed)
        (1L, avi((1 until 3).flatMap(s =>
          Seq(frame(s, 0), frame(s, 1))), 40000)),
        // unrelated gradients: must not pair
        (2L, avi((0 until 3).flatMap(s =>
          Seq(frame(s, 0, 23, 29), frame(s, 1, 23, 29))))))
      q.processAllAvailable()
      val got = spark.read.parquet(out)
        .select("in_id", "corpus_id", "n_shared_scenes").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(got == Set((1L, 100L, 2L)), s"got $got")

      // at-least-once replay of the same micro-batch must overwrite,
      // not duplicate
      sink(Seq((1L, "image", avi((1 until 3).flatMap(s =>
          Seq(frame(s, 0), frame(s, 1))), 40000)))
        .toDF("media_id", "kind", "bytes"), 0L)
      val replayed = spark.read.parquet(out)
        .select("in_id", "corpus_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq
      assert(replayed == Seq((1L, 100L)), s"replay wrong: $replayed")
    } finally q.stop()
  }

  test("streaming audio dedup against the persisted fp index is replay-idempotent") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val idx = s"$tmp/graft_aud_idx_${System.nanoTime()}"
    val out = s"$tmp/graft_aud_idx_out_${System.nanoTime()}"
    def rec(seed: Int, n: Int): Array[Int] =
      Array.tabulate(n)(k => ((seed * 23 + k * 11) % 4096) - 2048)
    val a = rec(7, 1500); val b = rec(19, 1100)
    val corpus = Seq(
      (100L, "audio", graft.operators.Multimodal.WavCodec.encodePcm16(16000, a)),
      (101L, "audio", graft.sources.Flac.encode(b, blockSize = 512)))
      .toDF("media_id", "kind", "bytes")
    graft.operators.Multimodal.writeAudioFpIndex(corpus, idx)

    val sink = Streams.audioDedupAgainstIndex(spark, idx, out)
    val in = MemoryStream[(Long, Array[Byte])]
    val q = in.toDF().toDF("media_id", "bytes")
      .selectExpr("media_id", "'audio' AS kind", "bytes")
      .writeStream.foreachBatch(sink).outputMode("append").start()
    try {
      in.addData(
        // recording A arrives as FLAC — the cross-container path
        (1L, graft.sources.Flac.encode(a, blockSize = 512)),
        // recording B arrives amplitude-halved: energy contour (the
        // E_{k+1} > E_k bit pattern) is scale-invariant -> still dups
        (2L, graft.operators.Multimodal.WavCodec.encodePcm16(16000,
          b.map(_ / 2))),
        // a genuinely new recording matches nothing
        (3L, graft.operators.Multimodal.WavCodec.encodePcm16(16000,
          rec(42, 900))))
      q.processAllAvailable()
      val got = spark.read.parquet(out)
        .select("in_id", "corpus_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == Set((1L, 100L), (2L, 101L)), s"got $got")

      sink(Seq((1L, "audio", graft.sources.Flac.encode(a, blockSize = 512)))
        .toDF("media_id", "kind", "bytes"), 0L)
      val replayed = spark.read.parquet(out)
        .select("in_id", "corpus_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq
      assert(replayed == Seq((1L, 100L)), s"replay wrong: $replayed")
    } finally q.stop()
  }

  test("streaming crawl -> media extraction -> perceptual index dedup end to end") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val idx = s"$tmp/graft_crawl_idx_${System.nanoTime()}"
    val out = s"$tmp/graft_crawl_out_${System.nanoTime()}"
    val (w, h) = (32, 24)
    def base(x: Int, y: Int) = (x * 3 + y * 11) % 200
    def png(f: (Int, Int) => Int) =
      graft.operators.Multimodal.ImageHeader.encodePngStored(w, h, f)
    graft.operators.Multimodal.writeDHashIndex(
      Seq((100L, "image", png(base))).toDF("media_id", "kind", "bytes"), idx)

    def rec(id: Long, status: Int, ctype: String, body: Array[Byte]) =
      graft.sources.Warc.encodeResponse(s"https://ex.org/m/$id",
        "2026-08-15T00:00:00Z", status, if (status == 200) "OK" else "Gone",
        body, ctype)
    // blob 1: a text record, a near-dup PNG (keep), and a 404 image
    // (status gate); blob 2: the SAME content as the index but as a
    // GIF (cross-format, gzip member) and an unrelated image
    val blob1 = rec(900L, 200, "text/plain", "hello".getBytes) ++
      rec(1L, 200, "image/png",
        png((x, y) => base(x, y) + (if (x < 8 && y < 8) 16 else 0))) ++
      rec(2L, 404, "image/gif",
        graft.operators.Multimodal.ImageHeader.encodeGif(w, h, base))
    val blob2 = graft.sources.Warc.gzipMember(
      rec(3L, 200, "image/gif",
        graft.operators.Multimodal.ImageHeader.encodeGif(w, h, base))) ++
      rec(4L, 200, "image/png",
        png((x, y) => ((x * 2654435761L + y * 40503L) % 200).toInt))

    val in = MemoryStream[(Timestamp, Array[Byte])]
    val media = Streams.warcMediaIngest(in.toDF().toDF("ts", "blob"), "blob")
    val sink = Streams.imageDedupAgainstIndex(spark, idx, out, maxHamming = 8)
    val q = media.selectExpr(
        "cast(substring_index(target_uri, '/', -1) as long) AS media_id",
        "'image' AS kind", "body AS bytes")
      .writeStream.foreachBatch(sink).outputMode("append").start()
    val q2 = media.writeStream.format("memory").queryName("crawl_media").start()
    try {
      in.addData((Timestamp.valueOf("2026-08-15 00:00:00"), blob1),
        (Timestamp.valueOf("2026-08-15 00:00:01"), blob2))
      q.processAllAvailable(); q2.processAllAvailable()
      // the gate: text and 404 records never become media rows
      val rows = spark.sql("SELECT target_uri, content_type FROM crawl_media")
        .collect().map(r => (r.getString(0), r.getString(1))).toSet
      assert(rows == Set(
        ("https://ex.org/m/1", "image/png"),
        ("https://ex.org/m/3", "image/gif"),
        ("https://ex.org/m/4", "image/png")), s"media rows: $rows")
      // the dedup: near-dup PNG and cross-format GIF match the index
      val pairs = spark.read.parquet(out)
        .select("in_id", "corpus_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(pairs == Set((1L, 100L), (3L, 100L)), s"pairs: $pairs")
    } finally { q.stop(); q2.stop() }
  }

  test("streaming privacy scrub: detect -> strip -> self-check -> normalize -> index dedup") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val idx = s"$tmp/graft_scrub_idx_${System.nanoTime()}"
    val out = s"$tmp/graft_scrub_out_${System.nanoTime()}"
    val (w, h) = (32, 24)
    // block-constant content so the DC-only JPEG leg decodes exactly
    // to the same pixels as the GIF/PNG legs -> one dhash for all
    def bv(bx: Int, by: Int) = (bx * 29 + by * 17) % 200
    def pix(x: Int, y: Int) = bv(x / 8, y / 8)
    graft.operators.Multimodal.writeDHashIndex(
      Seq((100L, "image",
        graft.operators.Multimodal.ImageHeader.encodePngStored(w, h, pix)))
        .toDF("media_id", "kind", "bytes"), idx)

    val gpsTiff = graft.operators.Exif.encodeTiff(littleEndian = true,
      orientation = 6, make = "Cam", model = "M",
      gps = Some(graft.operators.Exif.GpsDms('N', 40, 26, 46, 'E', 79, 58, 56)))
    val noGpsTiff = graft.operators.Exif.encodeTiff(littleEndian = false,
      orientation = 1, make = "Cam", model = "M", gps = None)
    val jpegBase = graft.operators.JpegCodec.encodeJpegDcOnly(w, h, bv)
    val jpeg = jpegBase.take(2) ++
      graft.operators.Exif.encodeJpegApp1(gpsTiff) ++ jpegBase.drop(2)
    val pngBase = graft.operators.Multimodal.ImageHeader.encodePngStored(w, h, pix)
    val png = pngBase.take(33) ++
      graft.operators.Exif.encodePngExifChunk(noGpsTiff) ++ pngBase.drop(33)
    val gifBase = graft.operators.Multimodal.ImageHeader.encodeGif(w, h, pix)
    val gifAt = 13 + 3 * (1 << ((gifBase(10) & 7) + 1))
    val gif = gifBase.take(gifAt) ++
      Array[Byte](0x21, 0xfe.toByte, 5, 1, 2, 3, 4, 5, 0) ++ gifBase.drop(gifAt)

    def rec(id: Long, status: Int, ctype: String, body: Array[Byte]) =
      graft.sources.Warc.encodeResponse(s"https://ex.org/m/$id",
        "2026-08-15T00:00:00Z", status, if (status == 200) "OK" else "Gone",
        body, ctype)
    val blob = rec(1L, 200, "image/jpeg", jpeg) ++
      rec(2L, 200, "image/png", png) ++
      rec(3L, 200, "image/gif", gif) ++
      rec(4L, 404, "image/png", pngBase) ++
      rec(900L, 200, "text/plain", "hello".getBytes)

    val in = MemoryStream[(Timestamp, Array[Byte])]
    val scrubbed = Streams.mediaPrivacyScrub(
      Streams.warcMediaIngest(in.toDF().toDF("ts", "blob"), "blob"))
    val sink = Streams.imageDedupAgainstIndex(spark, idx, out, maxHamming = 8)
    val q = scrubbed.selectExpr(
        "cast(substring_index(target_uri, '/', -1) as long) AS media_id",
        "'image' AS kind", "body AS bytes")
      .writeStream.foreachBatch(sink).outputMode("append").start()
    val q2 = scrubbed.writeStream.format("memory").queryName("scrub_out").start()
    try {
      in.addData((Timestamp.valueOf("2026-08-15 00:00:00"), blob))
      q.processAllAvailable(); q2.processAllAvailable()
      val rows = spark.sql(
        """SELECT target_uri, container, had_gps, n_stripped_bytes,
           out_len, dhash FROM scrub_out""").collect()
        .map(r => (r.getString(0), r.getString(1), r.getBoolean(2),
          r.getLong(3), r.getLong(4), r.getString(5))).toList.sortBy(_._1)
      assert(rows.map(_._1) ==
        List("https://ex.org/m/1", "https://ex.org/m/2", "https://ex.org/m/3"))
      assert(rows.map(_._2) == List("jpeg", "png", "gif"))
      // GPS only on the JPEG; the PNG carried EXIF but no GPS sub-IFD
      assert(rows.map(_._3) == List(true, false, false))
      // every carrier lost its metadata bytes
      assert(rows.forall(_._4 > 0), s"deltas: ${rows.map(_._4)}")
      assert(rows.map(_._4) == List(10 + gpsTiff.length, 12 + noGpsTiff.length, 9))
      // normalized container: the stored-PNG closed form
      assert(rows.forall(_._5 == 68 + h * (3 * w + 1)))
      // same content in three containers -> ONE perceptual hash
      assert(rows.map(_._6).toSet.size == 1, s"hashes: ${rows.map(_._6)}")
      // and the normalized bytes dedup against the persisted index
      val pairs = spark.read.parquet(out)
        .select("in_id", "corpus_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(pairs == Set((1L, 100L), (2L, 100L), (3L, 100L)), s"pairs: $pairs")
    } finally { q.stop(); q2.stop() }
  }

  test("flatMapGroupsWithState running totals across micro-batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Streams.Ev]
    val q = Streams.runningTotals(in.toDS()).writeStream
      .format("memory").queryName("run_out").outputMode("append").start()
    try {
      in.addData(Streams.Ev(1L, ts(0), 1.0), Streams.Ev(1L, ts(1), 2.0))
      q.processAllAvailable()
      in.addData(Streams.Ev(1L, ts(2), 4.0)) // state carries over
      q.processAllAvailable()
      val rows = spark.sql("SELECT * FROM run_out")
        .collect().map(r => (r.getLong(1), r.getLong(2))).toSet
      assert(rows == Set((1L, 1000L), (2L, 3000L), (3L, 7000L)))
    } finally q.stop()
  }

  test("streaming FK-orphan monitor counts unknown keys per window") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dim = Seq(1L, 2L, 3L).toDF("pk")
    val in = MemoryStream[(Timestamp, java.lang.Long)]
    val df = in.toDF().toDF("ts", "fk")
    val q = Streams.fkOrphanCounts(df, "fk", dim, "pk",
        width = "10 minutes", watermark = "0 seconds")
      .writeStream.format("memory").queryName("fk_out")
      .outputMode("append").start()
    try {
      // window [0,10): keys 1 (known), 9, 8 (orphans), null (counted,
      // not an orphan)
      def box(v: Long): java.lang.Long = java.lang.Long.valueOf(v)
      in.addData((ts(1), box(1L)), (ts(2), box(9L)), (ts(3), box(8L)),
        (ts(4), null.asInstanceOf[java.lang.Long]))
      q.processAllAvailable()
      // close the first window using ONLY null-key events: the
      // watermark must advance off the raw stream, before the null
      // filter/join — a null-heavy producer still closes windows
      in.addData((ts(25), null.asInstanceOf[java.lang.Long]))
      q.processAllAvailable()
      in.addData((ts(26), null.asInstanceOf[java.lang.Long]))
      q.processAllAvailable()
      val rows = spark.sql("SELECT * FROM fk_out").collect()
        .map(r => r.getTimestamp(0).getTime / 60000L ->
          ((r.getLong(1), r.getLong(2)))).toMap
      assert(rows == Map(0L -> ((2L, 1L))), rows.toString)
    } finally q.stop()
  }

  test("streaming domain token accounting matches the batch extraction") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Timestamp, String, String)]
    val df = in.toDF().toDF("ts", "url", "text")
    val q = Streams.domainTokenCounts(df, "url", "text",
        width = "10 minutes", watermark = "0 seconds")
      .writeStream.format("memory").queryName("dom_out")
      .outputMode("append").start()
    try {
      // window [0,10): www.x.com + x.com fold to x.com (3+1 tokens),
      // y.co.uk stands alone (2 tokens)
      in.addData(
        (ts(1), "https://www.x.com/a", "one two three"),
        (ts(2), "http://x.com/b", "four"),
        (ts(3), "https://y.co.uk/c", "five six"))
      q.processAllAvailable()
      in.addData((ts(25), "https://z.org/d", "seven"))
      q.processAllAvailable()
      in.addData((ts(26), "https://z.org/e", "eight"))
      q.processAllAvailable()
      val rows = spark.sql("SELECT * FROM dom_out").collect()
        .map(r => r.getString(1) -> ((r.getLong(2), r.getLong(3)))).toMap
      assert(rows == Map("x.com" -> ((2L, 4L)), "y.co.uk" -> ((1L, 2L))),
        rows.toString)
    } finally q.stop()
  }

  test("batch-trained BPE table tokenizes a document stream online") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // train offline on a batch corpus, apply online — the production
    // tokenizer split; the apply is a stateless codegen'd projection
    val corpus = Seq((1L, "abab abab abc")).toDF("doc_id", "text")
    val table = graft.operators.TextStats.bpeTable(
      graft.operators.TextStats.bpeTrainMerges(corpus, "text", rounds = 2))
    val in = MemoryStream[(Long, String)]
    val q = graft.operators.TextStats.bpeEncodeApply(
        in.toDF().toDF("doc_id", "text"), "doc_id", "text", table)
      .writeStream.format("memory").queryName("bpe_out")
      .outputMode("append").start()
    try {
      in.addData((10L, "abab abc!"), (11L, ""))
      q.processAllAvailable()
      val rows = spark.sql("SELECT * FROM bpe_out").collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getString(2)))).toMap
      // merges (a,b)=1114112, (ab,ab)=1114113 -> "abab"=[1114113],
      // "abc"=[1114112,99], "!"=[33]
      assert(rows == Map(10L -> ((4L, "1114113 1114112 99 33")), 11L -> ((0L, ""))),
        rows.toString)
    } finally q.stop()
  }

  test("batch-trained unigram table tokenizes a document stream online") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // same production split as the BPE case: train offline (or load a
    // persisted vocabulary), apply online as a stateless codegen
    // projection; stream rows must encode bit-identically to batch
    val corpus = Seq((1L, "the cat sat"), (2L, "a cat sat on the mat"))
      .toDF("doc_id", "text")
    val table = graft.operators.TextStats.unigramTable(
      graft.operators.TextStats.unigramTrain(corpus, "text",
        seedMulti = 8, rounds = 2))
    val probe = Seq((10L, "The cat, sat!"), (11L, "")).toDF("doc_id", "text")
    val batch = graft.operators.TextStats.unigramEncodeApply(
        probe, "doc_id", "text", table)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getString(2)))).toMap
    val in = MemoryStream[(Long, String)]
    val q = graft.operators.TextStats.unigramEncodeApply(
        in.toDF().toDF("doc_id", "text"), "doc_id", "text", table)
      .writeStream.format("memory").queryName("uni_out")
      .outputMode("append").start()
    try {
      in.addData((10L, "The cat, sat!"), (11L, ""))
      q.processAllAvailable()
      val rows = spark.sql("SELECT * FROM uni_out").collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getString(2)))).toMap
      assert(rows == batch, s"stream $rows != batch $batch")
      assert(rows(11L) == ((0L, "")))
    } finally q.stop()
  }

  test("batch-trained byte-BPE table tokenizes a multi-script stream online") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // the third tokenizer family's streaming parity: train offline,
    // apply online as a stateless codegen projection — with the byte
    // family's own selling point exercised (out-of-corpus scripts and
    // punctuation tokenize with zero OOV, so a stream can NEVER die
    // on unseen input)
    val corpus = Seq((1L, "the cat sat"), (2L, "a cat sat on the mat"))
      .toDF("doc_id", "text")
    val table = graft.operators.TextStats.byteBpeTable(
      graft.operators.TextStats.byteBpeTrainMerges(corpus, "text",
        rounds = 4))
    val probe = Seq((10L, "The cat, sat!"), (11L, ""),
      (12L, "кот сидел 猫が座った")).toDF("doc_id", "text")
    val batch = graft.operators.TextStats.byteBpeEncodeApply(
        probe, "doc_id", "text", table)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getString(2)))).toMap
    val in = MemoryStream[(Long, String)]
    val q = graft.operators.TextStats.byteBpeEncodeApply(
        in.toDF().toDF("doc_id", "text"), "doc_id", "text", table)
      .writeStream.format("memory").queryName("bbpe_out")
      .outputMode("append").start()
    try {
      in.addData((10L, "The cat, sat!"), (11L, ""),
        (12L, "кот сидел 猫が座った"))
      q.processAllAvailable()
      val rows = spark.sql("SELECT * FROM bbpe_out").collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getString(2)))).toMap
      assert(rows == batch, s"stream $rows != batch $batch")
      assert(rows(11L) == ((0L, "")))
      assert(rows(12L)._1 > 0L)
    } finally q.stop()
  }

  test("online KN scoring: stream scores == batch join-path scores") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions.col
    import graft.operators.TextStats
    val train = Seq((1L, "a b a c"), (2L, "a b d")).toDF("id", "text")
    val model = TextStats.knTable(TextStats.knTrain(train, "text"))
    val in = MemoryStream[(Long, String)]
    val q = Streams.knScore(in.toDF().toDF("doc_id", "text"),
        "doc_id", "text", model).writeStream
      .format("memory").queryName("kn_out").outputMode("append").start()
    try {
      in.addData((10L, "a b x"), (11L, "z"))
      q.processAllAvailable()
      in.addData((12L, "c a b"))
      q.processAllAvailable()
      val got = spark.sql("SELECT * FROM kn_out")
        .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2),
          if (r.isNullAt(3)) -1L else r.getLong(3)))).toMap
      // the same docs through the batch operator with the same model
      val batch = TextStats.knScoreWithTable(
          Seq((10L, "a b x"), (11L, "z"), (12L, "c a b"))
            .toDF("doc_id", "text"), "doc_id", "text", model)
        .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2),
          if (r.isNullAt(3)) -1L else r.getLong(3)))).toMap
      assert(got == batch, got.toString)
      // and the hand-derived values from KnScoreSpec hold online too
      assert(got(10L) == ((2L, 1L, (527777L + 83333L) / 2)))
      assert(got(11L) == ((0L, 0L, -1L)))
      assert(got(12L) == ((2L, 1L, (222222L + 527777L) / 2)))
    } finally q.stop()
  }

  test("streaming crawl extraction: WARC ingest -> html-to-text -> token counts online") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions.{col, size, split}
    def page(i: Int): Array[Byte] = graft.sources.Warc.encodeResponse(
      s"https://w/$i", "2026-08-14T00:00:00Z", 200, "OK",
      (s"<html><head><script>junk $i</script></head><body><h1>Doc $i</h1>" +
        s"<p>alpha beta gamma $i</p><!-- nav --></body></html>").getBytes("UTF-8"))
    val file = (0 until 3).toArray.flatMap(i =>
      if (i % 2 == 0) graft.sources.Warc.gzipMember(page(i)) else page(i))
    val in = MemoryStream[(Timestamp, Array[Byte])]
    val extracted = Streams.warcIngest(in.toDF().toDF("ts", "bytes"), "bytes")
      .filter(col("warc_type") === "response")
      .select(col("target_uri"),
        graft.operators.HtmlText.htmlToText(col("body")).as("text"))
      .select(col("target_uri"), col("text"),
        size(split(col("text"), " ")).as("n_words"))
    val q = extracted.writeStream.format("memory")
      .queryName("crawl_extract_out").outputMode("append").start()
    try {
      in.addData((ts(0), file))
      q.processAllAvailable()
      val rows = spark.sql(
        "SELECT target_uri, text, n_words FROM crawl_extract_out ORDER BY 1")
        .collect().map(r => (r.getString(0), r.getString(1), r.getInt(2)))
      assert(rows.length == 3)
      // script content and comments dropped, heading + body text kept
      assert(rows(0)._2 == "Doc 0 alpha beta gamma 0")
      assert(rows.forall(_._3 == 6))
      assert(rows.forall(!_._2.contains("junk")))
    } finally q.stop()
  }
}

package graft.operators

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.TempDir

class GraphSpec extends AnyFunSuite with TempDir {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  import spark.implicits._

  test("pageRankFixedPoint: hand-computed rounds on a path graph") {
    // path 1-2-3: deg(1)=deg(3)=1, deg(2)=2. S=2^20, base=S/2.
    // round 1: pr(1)=pr(3)=524288+524288/2=786432,
    //          pr(2)=524288+(1048576+1048576)/2/... = 524288+1048576=1572864
    // round 2: pr(1)=pr(3)=524288+ (1572864/2)/2 = 917504,
    //          pr(2)=524288+(786432+786432)/2 = 1310720
    val edges = Seq((1L, 2L), (2L, 3L)).toDF("a", "b")
    val got = Graph.pageRankFixedPoint(edges, "a", "b", iterations = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 917504L, 2L -> 1310720L, 3L -> 917504L))
  }

  test("pageRankFixedPoint: symmetrization dedups reversed and repeated edges") {
    val edges = Seq((1L, 2L), (2L, 1L), (1L, 2L), (2L, 3L)).toDF("a", "b")
    val clean = Seq((1L, 2L), (2L, 3L)).toDF("a", "b")
    val g1 = Graph.pageRankFixedPoint(edges, "a", "b", iterations = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val g2 = Graph.pageRankFixedPoint(clean, "a", "b", iterations = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(g1 == g2)
  }

  test("labelPropagation separates two bridged triangles (hand-traced)") {
    // triangles {1,2,3} and {4,5,6} bridged by 3-4. With the
    // min-label tie rule the rounds are fully deterministic; after 3
    // rounds the left triangle converges to label 1 and the right to
    // label 3 (the bridge carried 3 across before the left settled) —
    // two distinct communities, split exactly at the bridge.
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L),
      (4L, 5L), (5L, 6L), (4L, 6L), (3L, 4L)).toDF("a", "b")
    val got = Graph.labelPropagation(edges, "a", "b", iterations = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
      4L -> 3L, 5L -> 3L, 6L -> 3L), got.toString)
  }

  test("connectedComponents: min label reaches across chains, components separate") {
    // chain 5-4-3-9 (component min 3) and edge 7-8 (component min 7).
    val edges = Seq((5L, 4L), (4L, 3L), (3L, 9L), (7L, 8L)).toDF("a", "b")
    val got = Graph.connectedComponents(edges, "a", "b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(3L -> 3L, 4L -> 3L, 5L -> 3L, 9L -> 3L,
      7L -> 7L, 8L -> 7L))
  }

  test("connectedComponents: diameter-12 path graph converges to exact labels " +
      "(past the old fixed k=8 horizon)") {
    // path 100-101-...-112: diameter 12, so a fixed 8-round propagation
    // would leave nodes 109..112 with labels > 100 (the r10 scale
    // footgun). The convergence loop must run until the fixed point and
    // return the exact component minimum for EVERY node.
    val edges = (100L until 112L).map(i => (i, i + 1L)).toDF("a", "b")
    val got = Graph.connectedComponents(edges, "a", "b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == (100L to 112L).map(_ -> 100L).toMap, got.toString)
  }

  test("connectedComponents: maxIterations is a runaway bound, not a semantic " +
      "knob — truncation below the diameter is the only way to see it") {
    val edges = (0L until 12L).map(i => (i, i + 1L)).toDF("a", "b")
    // driverEdgeLimit = 0 pins the PROPAGATION loop (the over-gate
    // path); the default gate would resolve this toy graph driver-side
    // bound below diameter: labels are the 3-hop minima, NOT converged
    val truncated = Graph.connectedComponents(edges, "a", "b",
        maxIterations = 3, driverEdgeLimit = 0)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(truncated(12L) == 9L && truncated(3L) == 0L)
    // any bound >= diameter yields the identical converged result
    val conv = Graph.connectedComponents(edges, "a", "b",
        maxIterations = 12, driverEdgeLimit = 0)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val conv2 = Graph.connectedComponents(edges, "a", "b",
        maxIterations = 64, driverEdgeLimit = 0)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(conv == (0L to 12L).map(_ -> 0L).toMap)
    assert(conv2 == conv, "extra headroom past the fixed point changes nothing")
  }

  test("connectedComponents: pointer-jumping contracts a diameter-44 path in " +
      "far fewer than 44 rounds") {
    // plain propagation would need 44 rounds; with label(label) jumps
    // engaged past round 8 the chain contracts geometrically, so a
    // 20-round budget suffices — converging here PROVES the jump path
    // runs and is correct, not just present.
    val edges = (0L until 44L).map(i => (i, i + 1L)).toDF("a", "b")
    val (labels, report) = Graph.connectedComponentsWithReport(
      edges, "a", "b", maxIterations = 20, driverEdgeLimit = 0)
    val got = labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == (0L to 44L).map(_ -> 0L).toMap, got.toString)
    // telemetry: converged inside the budget, jump rounds engaged past
    // round 8, and total rounds far below the 44 plain propagation
    // would need — the observable form of the diameter-armor claim
    assert(report.converged, report.toString)
    assert(report.rounds <= 20 && report.rounds < 44, report.toString)
    assert(report.jumpedRounds == report.rounds - 8, report.toString)
  }

  test("connectedComponents report flags a truncated (non-converged) run") {
    val edges = (0L until 12L).map(i => (i, i + 1L)).toDF("a", "b")
    val (_, report) = Graph.connectedComponentsWithReport(
      edges, "a", "b", maxIterations = 3, driverEdgeLimit = 0)
    assert(!report.converged && report.rounds == 3 &&
      report.jumpedRounds == 0, report.toString)
  }

  test("pageRankFixedPoint and labelPropagation: gated driver loops equal " +
      "the distributed loops value-for-value") {
    // bridged triangles + a pendant — degree variety, tie pressure,
    // and a reversed duplicate edge to exercise the dedup
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 1L),
      (4L, 5L), (5L, 6L), (4L, 6L), (3L, 4L), (6L, 7L)).toDF("a", "b")
    val prFast = Graph.pageRankFixedPoint(edges, "a", "b", iterations = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val prLoop = Graph.pageRankFixedPoint(edges, "a", "b", iterations = 4,
        driverEdgeLimit = 0)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(prFast == prLoop, s"pagerank driver $prFast != loop $prLoop")
    val (lpFast, repFast) = Graph.labelPropagationWithReport(
      edges, "a", "b", iterations = 4)
    val (lpLoop, repLoop) = Graph.labelPropagationWithReport(
      edges, "a", "b", iterations = 4, driverEdgeLimit = 0)
    val fm = lpFast.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val lm = lpLoop.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fm == lm, s"lpa driver $fm != loop $lm")
    assert(repFast == repLoop, s"lpa report $repFast != $repLoop")
  }

  test("connectedComponents: gated driver union-find equals the propagation " +
      "loop label-for-label, and reports a zero-round converged run") {
    // two components + a duplicate edge + a reversed edge — the driver
    // path must dedup and symmetrize exactly like the loop does
    val edges = Seq((5L, 4L), (4L, 3L), (3L, 9L), (9L, 3L), (5L, 4L),
      (7L, 8L)).toDF("a", "b")
    val (fast, fastRep) = Graph.connectedComponentsWithReport(edges, "a", "b")
    val (loop, _) = Graph.connectedComponentsWithReport(
      edges, "a", "b", driverEdgeLimit = 0)
    val fm = fast.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val lm = loop.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fm == lm, s"driver path $fm != loop $lm")
    assert(fastRep == Graph.ComponentsRunReport(0, 0, converged = true),
      fastRep.toString)
  }

  test("labelPropagation: K2 oscillates (period 2) — exactly k rounds run and " +
      "parity of k selects the phase; the early exit never fires spuriously") {
    // K2 with labels (1,2): each round the nodes swap labels — a pure
    // oscillation with no fixed point, the classic synchronous-LPA
    // bipartite pathology the scaladoc documents.
    val k2 = Seq((1L, 2L)).toDF("a", "b")
    val odd = Graph.labelPropagation(k2, "a", "b", iterations = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val even = Graph.labelPropagation(k2, "a", "b", iterations = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(odd == Map(1L -> 2L, 2L -> 1L), s"odd k: swapped phase, got $odd")
    assert(even == Map(1L -> 1L, 2L -> 2L), s"even k: identity phase, got $even")
  }

  test("labelPropagation: early exit at a fixed point equals running all k " +
      "rounds (oracle-equivalence of the convergence shortcut)") {
    // a triangle converges to all-1 after round 1 (neighbors of each
    // node include label 1 with the min tie rule); once fixed, any
    // larger k must return the identical map.
    val tri = Seq((1L, 2L), (2L, 3L), (1L, 3L)).toDF("a", "b")
    val k2 = Graph.labelPropagation(tri, "a", "b", iterations = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val k9 = Graph.labelPropagation(tri, "a", "b", iterations = 9)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(k2 == Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
    assert(k9 == k2, "rounds past the fixed point are identities")
  }

  test("labelPropagation report: converged early exit vs exhausted budget") {
    val tri = Seq((1L, 2L), (2L, 3L), (1L, 3L)).toDF("a", "b")
    // triangle fixes after round 1; round 2's probe sees no change
    val (_, r1) = Graph.labelPropagationWithReport(tri, "a", "b", iterations = 9)
    assert(r1.converged && r1.rounds < 9, r1.toString)
    // K2 oscillates forever: the budget runs out un-converged
    val k2 = Seq((1L, 2L)).toDF("a", "b")
    val (_, r2) = Graph.labelPropagationWithReport(k2, "a", "b", iterations = 3)
    assert(!r2.converged && r2.rounds == 3, r2.toString)
  }

  test("triangleCounts: shared-edge triangles credit corners exactly once each") {
    // triangles (1,2,3) and (2,3,4) share edge 2-3; edge 1-4 absent.
    // Reversed/duplicate input edges must not inflate counts.
    val edges = Seq((1L, 2L), (3L, 2L), (1L, 3L), (2L, 4L), (4L, 3L), (2L, 1L))
      .toDF("a", "b")
    val got = Graph.triangleCounts(edges, "a", "b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 2L, 3L -> 2L, 4L -> 1L))
  }

  test("pageRankFixedPoint: the hub of a star outranks its leaves") {
    val edges = (2L to 7L).map((1L, _)).toDF("a", "b")
    val got = Graph.pageRankFixedPoint(edges, "a", "b", iterations = 5)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert((2L to 7L).forall(l => got(1L) > got(l)))
    assert((2L to 7L).map(got).toSet.size == 1, "leaves tie by symmetry")
  }

  test("linkPrediction: C4 cycle scores both diagonals, hand-computed RA") {
    // cycle 1-2-3-4-1: the only non-adjacent pairs are the diagonals
    // (1,3) and (2,4); each has both opposite corners (deg 2) as
    // common neighbors -> cn = 2, ra = 2 * (1000000 div 2) = 1000000
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L)).toDF("a", "b")
    val got = Graph.linkPrediction(edges, "a", "b", k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.toSeq == Seq((1L, 3L, 2L, 1000000L), (2L, 4L, 2L, 1000000L)))
    // k truncates by (ra desc, cn desc, pair asc): k=1 keeps (1,3)
    val top1 = Graph.linkPrediction(edges, "a", "b", k = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(top1.toSeq == Seq((1L, 3L)))
  }

  test("linkPrediction: adjacent pairs are excluded, RA floors per degree") {
    // triangle 1-2-3 plus 4 attached to 1 and 2: (1,2) share BOTH 3
    // and 4 but are adjacent -> excluded; (3,4) share {1, 2}, each of
    // degree 3 -> ra = 2 * (1000000 div 3) = 666666 (floored)
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L), (1L, 4L), (2L, 4L))
      .toDF("a", "b")
    val got = Graph.linkPrediction(edges, "a", "b", k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.toSeq == Seq((3L, 4L, 2L, 666666L)))
  }

  test("linkPrediction: maxDegree excludes hub centers") {
    // star 0-{1,2,3} plus 1-2: every candidate wedge is centered on
    // the hub 0 (deg 3) or closes an existing edge; capping centers
    // at degree 2 leaves no candidates at all
    val edges = Seq((0L, 1L), (0L, 2L), (0L, 3L), (1L, 2L)).toDF("a", "b")
    val capped = Graph.linkPrediction(edges, "a", "b", k = 10,
      maxDegree = Some(2))
    assert(capped.collect().isEmpty)
    val full = Graph.linkPrediction(edges, "a", "b", k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // uncapped: (1,3) and (2,3) each share only the hub (deg 3)
    assert(full.toSeq == Seq((1L, 3L, 1L, 333333L), (2L, 3L, 1L, 333333L)))
  }

  test("degree-ordered triangleCounts == brute force on random graphs") {
    for (trial <- 1 to 6) {
      // seeded dense-ish random graph incl. hubs
      val rnd = new scala.util.Random(trial * 7919)
      val n = 14
      val edges = (for {
        a <- 0 until n; b <- a + 1 until n
        if rnd.nextInt(100) < 35
      } yield (a.toLong, b.toLong))
      if (edges.nonEmpty) {
        val adj = edges.toSet
        def connected(x: Long, y: Long) =
          adj.contains((math.min(x, y), math.max(x, y)))
        val want = (0L until n.toLong).map { v =>
          v -> (for {
            a <- 0L until n.toLong; b <- a + 1 until n.toLong
            if a != v && b != v && connected(v, a) && connected(v, b) &&
              connected(a, b)
          } yield 1).size.toLong
        }.filter(_._2 > 0).toMap
        val got = Graph.triangleCounts(edges.toDF("a", "b"), "a", "b")
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        assert(got == want, s"trial=$trial")
      }
    }
  }

  test("wedge-volume guards trip on a clique, pass on sparse graphs") {
    val clique = (for (a <- 0L until 40L; b <- a + 1 until 40L)
      yield (a, b)).toDF("a", "b")
    val e1 = intercept[GuardTrippedException] {
      Graph.triangleCounts(clique, "a", "b", maxWedges = 100).count()
    }
    assert(e1.getMessage.contains("wedge volume over budget"))
    // the uniform Guard contract: exact K40 wedge volume C(40,3) under
    // the degree-ordered orientation, edges as the rows field
    assert(e1.report.guard == "triangle wedge" &&
      e1.report.rows == 780L && !e1.report.perRow &&
      e1.report.volume == BigDecimal(9880) &&
      e1.report.budget == BigDecimal(100) && e1.report.tripped,
      e1.report.toString)
    val e2 = intercept[GuardTrippedException] {
      Graph.linkPrediction(clique, "a", "b", k = 5, maxWedges = 100).count()
    }
    assert(e2.getMessage.contains("wedge volume over budget"))
    // every node is a center of degree 39: 40 * C(39,2) wedges
    assert(e2.report.guard == "link-prediction wedge" &&
      e2.report.rows == 1560L && !e2.report.perRow &&
      e2.report.volume == BigDecimal(29640) && e2.report.tripped,
      e2.report.toString)
    // guard never changes results below budget
    val tri = Seq((1L, 2L), (2L, 3L), (1L, 3L)).toDF("a", "b")
    val a = Graph.triangleCounts(tri, "a", "b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val b = Graph.triangleCounts(tri, "a", "b", maxWedges = 0)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(a == b && a == Set((1L, 1L), (2L, 1L), (3L, 1L)))
  }

  test("null-keyed edges are ignored identically on both sides of the " +
      "driver gate (ADVICE r20)") {
    // an uncastable id arrives as a null src/dst after cast('long');
    // the distributed loops silently never join such rows, and the
    // driver fast paths must not NPE on them — results are pinned
    // equal across the gate for all three operators
    val edges = Seq(
      (Option(1L), Option(2L)), (None: Option[Long], Option(3L)),
      (Option(2L), None: Option[Long]), (Option(2L), Option(3L)),
      (None: Option[Long], None: Option[Long]), (Option(4L), Option(5L))
    ).toDF("a", "b")
    def m(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val ccFast = m(Graph.connectedComponents(edges, "a", "b"))
    val ccLoop = m(Graph.connectedComponents(edges, "a", "b",
      driverEdgeLimit = 0))
    assert(ccFast == ccLoop, s"cc $ccFast != $ccLoop")
    assert(ccFast == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L, 5L -> 4L),
      ccFast.toString)
    val prFast = m(Graph.pageRankFixedPoint(edges, "a", "b", iterations = 3))
    val prLoop = m(Graph.pageRankFixedPoint(edges, "a", "b", iterations = 3,
      driverEdgeLimit = 0))
    assert(prFast == prLoop, s"pr $prFast != $prLoop")
    assert(prFast.keySet == Set(1L, 2L, 3L, 4L, 5L), prFast.toString)
    val (lpFast, repFast) = Graph.labelPropagationWithReport(
      edges, "a", "b", iterations = 3)
    val (lpLoop, repLoop) = Graph.labelPropagationWithReport(
      edges, "a", "b", iterations = 3, driverEdgeLimit = 0)
    assert(m(lpFast) == m(lpLoop) && repFast == repLoop,
      s"lpa ${m(lpFast)} != ${m(lpLoop)} / $repFast != $repLoop")
  }

  // LAST in this suite: setCheckpointDir flips every later graph-op
  // truncation on the shared session from localCheckpoint to reliable
  // checkpoint (correct, just slower) until afterAll unsets it
  test("a configured checkpoint dir upgrades round truncation to reliable " +
      "checkpoints with identical results") {
    val dir = tmpSubdir("ckpt")
    spark.sparkContext.setCheckpointDir(dir)
    val edges = (0L until 12L).map(i => (i, i + 1L)).toDF("a", "b")
    val got = Graph.connectedComponents(edges, "a", "b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == (0L to 12L).map(_ -> 0L).toMap)
    assert(new java.io.File(dir).listFiles != null &&
      new java.io.File(dir).listFiles.nonEmpty,
      "reliable checkpoint files were actually written")
  }

  // unset before the directory goes, or later checkpoints recreate it
  override def afterAll(): Unit =
    try org.apache.spark.CheckpointDir.clear(spark.sparkContext) finally super.afterAll()
}

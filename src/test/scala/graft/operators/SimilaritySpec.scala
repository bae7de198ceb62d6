package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.TempDir

class SimilaritySpec extends AnyFunSuite with TempDir {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  import spark.implicits._

  private def emb(rows: (Long, Array[Float], Int)*): DataFrame =
    rows.toDF("vec_id", "embedding", "label")

  private val e1 = Array(1f, 0f, 0f, 0f)
  private val e2 = Array(0f, 1f, 0f, 0f)
  private val e12 = Array(1f, 1f, 0f, 0f)
  private val ne1 = Array(-1f, 0f, 0f, 0f)

  test("cosine of unit/orthogonal/opposite vectors") {
    val d = emb((1L, e1, 0)).select(
      Similarity.cosine(typedlit(e1), typedlit(e1)).as("same"),
      Similarity.cosine(typedlit(e1), typedlit(e2)).as("orth"),
      Similarity.cosine(typedlit(e1), typedlit(ne1)).as("opp"),
      Similarity.cosine(typedlit(e1), typedlit(e12)).as("half")).head()
    assert(math.abs(d.getDouble(0) - 1.0) < 1e-12)
    assert(math.abs(d.getDouble(1)) < 1e-12)
    assert(math.abs(d.getDouble(2) + 1.0) < 1e-12)
    assert(math.abs(d.getDouble(3) - 1.0 / math.sqrt(2)) < 1e-9)
  }

  test("cosineTopK exact order") {
    val d = emb((1L, e1, 0), (2L, e12, 0), (3L, e2, 0), (4L, ne1, 0))
    val got = Similarity.cosineTopK(d, "vec_id", "embedding", e1, 3)
      .collect().map(_.getLong(0)).toSeq
    assert(got == Seq(1L, 2L, 3L))
  }

  test("int8CosineTopK: self first, order tracks exact cosine, zero guard") {
    val rnd = new scala.util.Random(31)
    val rows = (0L until 200L).map { i =>
      (i, Array.fill(16)((rnd.nextGaussian() * (1 + i % 5)).toFloat), 0)
    } :+ ((200L, Array.fill(16)(0f), 0))
    val d = emb(rows: _*)
    val q = rows.head._2
    val got = Similarity.int8CosineTopK(d, "vec_id", "embedding", q, 10).collect()
    assert(got.head.getLong(0) == 0L, "self-query must rank itself first")
    assert(got.head.getDouble(2) > 0.999)
    // scores are non-increasing and the zero vector never surfaces
    val sims = got.map(_.getDouble(2))
    assert(sims.zip(sims.tail).forall { case (a, b) => a >= b })
    assert(!got.exists(_.getLong(0) == 200L))
    // 8-bit quantization tracks the exact float ranking closely
    // (zero vector excluded: the float cosine baseline has no zero-guard)
    val exact = Similarity.cosineTopK(d.filter("vec_id < 200"),
        "vec_id", "embedding", q, 10)
      .collect().map(_.getLong(0)).toSet
    val overlap = got.map(_.getLong(0)).count(exact.contains)
    assert(overlap >= 8, s"int8 top-10 overlaps float top-10 in $overlap/10")
  }

  test("annTopK finds the exact match (same bucket) and never a worse set than its probe") {
    val d = emb((1L, e1, 0), (2L, e12, 0), (3L, e2, 0), (4L, ne1, 0))
    val got = Similarity.annTopK(d, "vec_id", "embedding", e1, 1,
      nBits = 8, maxHamming = 2).collect().map(_.getLong(0)).toSeq
    assert(got == Seq(1L)) // identical vector shares every hyperplane sign
  }

  test("ivfTopK probes the query's own list (exact match always found)") {
    val d = emb((1L, e1, 0), (2L, e12, 0), (3L, e2, 0), (4L, ne1, 0))
    val got = Similarity.ivfTopK(d, "vec_id", "embedding", e1, 1,
      nLists = 2, nProbe = 1).collect().map(_.getLong(0)).toSeq
    assert(got == Seq(1L))
  }

  test("cosineNearDupPairs respects blocking and threshold") {
    val d = emb((1L, e1, 0), (2L, e1, 0), (3L, e1, 1), (4L, e2, 0))
    val got = Similarity.cosineNearDupPairs(d, "vec_id", "embedding", "label", 0.99)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((1L, 2L))) // 3 is identical but in another block; 4 orthogonal
  }

  test("centroidAssign: argmax cosine, ties to the smallest index") {
    val d = emb((1L, e1, 0), (2L, e2, 0), (3L, e12, 0), (4L, ne1, 0))
    val got = Similarity.centroidAssign(d, "vec_id", "embedding",
      Array(e1, e2))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got(1L) == 0L && got(2L) == 1L)
    assert(got(3L) == 0L) // equidistant -> first centroid wins
    assert(got(4L) == 1L) // cos(-e1,e1) = -1 < cos(-e1,e2) = 0
  }

  test("quantizeInt8: codes, sums, zero-vector guard") {
    val d = emb(
      (1L, Array(1f, -0.5f, 0.25f, 0f), 0),
      (2L, Array(0f, 0f, 0f, 0f), 0))
    val got = Similarity.quantizeInt8(d, "vec_id", "embedding")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getDouble(2), r.getLong(3), r.getLong(4))).toMap
    // scale = 1/127; codes = [127, -63 (floor(-63.5+0.5)), 32 (floor(31.75+0.5)), 0]
    val (n1, s1, qs1, qc1) = got(1L)
    assert(n1 == 4L && math.abs(s1 - 1.0 / 127) < 1e-15)
    assert(qs1 == 127L - 63L + 32L)
    assert(qc1 == 127L * 1 - 63L * 2 + 32L * 3)
    assert(got(2L) == ((4L, 0.0, 0L, 0L))) // all-zero vector -> zero codes
  }

  test("cosineNearDupPairsLsh finds identical vectors without a block key") {
    val d = emb((1L, e1, 0), (2L, e1, 1), (3L, e2, 2))
    val got = Similarity.cosineNearDupPairsLsh(d, "vec_id", "embedding", 0.99)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((1L, 2L))) // identical vectors agree in every band
  }

  test("LSH candidate-volume guard trips on a degenerate low-threshold input") {
    // 80 copies of one vector: every band key collides in all 12
    // bands, so the banded join would produce 12 * 80*79/2 = 37920
    // candidate rows for 80 inputs (474 per row) — the adversarial
    // shape of a below-0.7-threshold corpus. The guard must veto it
    // loudly, naming the scale path.
    val d = (1L to 80L).map(i => (i, e1, 0)).toDF("vec_id", "embedding", "label")
    val ex = intercept[GuardTrippedException] {
      Similarity.cosineNearDupPairsLsh(d, "vec_id", "embedding", 0.35,
        maxAvgCandidatesPerRow = 10.0).collect()
    }
    assert(ex.getMessage.contains("semanticDedupPairs"), ex.getMessage)
    // the structured report a driver alarms on (the uniform Guard
    // contract): exact volume, budget, per-row semantics
    val r = ex.report
    assert(r.guard == "banded-LSH candidate" && r.rows == 80L &&
      r.volume == BigDecimal(37920) && r.budget == BigDecimal(10.0) &&
      r.perRow && r.tripped && r.avgPerRow == BigDecimal(474), r.toString)
  }

  test("LSH guard is result-invariant below budget, and the stats are exact") {
    val d = emb((1L, e1, 0), (2L, e1, 1), (3L, e2, 2), (4L, e12, 3))
    def run(budget: Double) =
      Similarity.cosineNearDupPairsLsh(d, "vec_id", "embedding", 0.35,
        maxAvgCandidatesPerRow = budget)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(run(0.0) == run(256.0)) // guard disabled vs enabled: identical
    val withFp = d.select(col("vec_id"),
      graft.functions.vectors.rhp_fingerprint(col("embedding"), 36).as("__fp"))
    val (rows, pairs) = Similarity.lshCandidatePairStats(withFp, "__fp", 3, 12)
    assert(rows == 4L)
    // exact count cross-check: per band, sum n*(n-1)/2 over bucket sizes
    val perBand = withFp.select(posexplode(expr(
        "transform(sequence(0, 11), b -> (__fp >> (b * 3)) & 7)"))
        .as(Seq("band", "key")))
      .groupBy("band", "key").count().collect()
      .map(r => r.getLong(2) * (r.getLong(2) - 1) / 2).sum
    assert(pairs == BigDecimal(perBand), s"$pairs vs $perBand")
  }

  test("LSH guard ignores null fingerprints (they never reach the join)") {
    // 50 null-vector rows would pool into one phantom (band, NULL)
    // bucket if counted; posexplode drops them from the real join, so
    // the stats must drop them too — the guard may not falsely trip
    val rows = (1L to 50L).map(i => (i, null.asInstanceOf[Array[Float]], 0)) :+
      ((51L, e1, 0)) :+ ((52L, e2, 0))
    val d = rows.toDF("vec_id", "embedding", "label")
    val withFp = d.select(col("vec_id"),
      graft.functions.vectors.rhp_fingerprint(col("embedding"), 36).as("__fp"))
    val (nRows, pairs) = Similarity.lshCandidatePairStats(withFp, "__fp", 3, 12)
    assert(nRows == 2L, s"null rows must not count: $nRows")
    assert(pairs < BigDecimal(50), s"phantom null-bucket pairs: $pairs")
    // and the guarded call itself stays quiet at the default budget
    Similarity.cosineNearDupPairsLsh(d, "vec_id", "embedding", 0.99).collect()
  }

  test("centroidAssign works with a single centroid (k = 1)") {
    val d = emb((1L, e1, 0), (2L, e2, 0), (3L, e12, 0))
    val got = Similarity.centroidAssign(d, "vec_id", "embedding", Array(e1))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(got.values.forall(_._1 == 0L))
    assert(math.abs(got(1L)._2 - 1.0) < 1e-12)
    assert(math.abs(got(2L)._2) < 1e-12)
  }

  test("quantizeInt8 on an empty vector emits explicit zeros, not nulls") {
    val d = emb((1L, Array.empty[Float], 0), (2L, e1, 0))
    val got = Similarity.quantizeInt8(d, "vec_id", "embedding")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getDouble(2), r.getLong(3), r.getLong(4))).toMap
    assert(got(1L) == ((0L, 0.0, 0L, 0L)))
    assert(got(2L)._1 == 4L) // non-empty row unaffected
  }

  test("appendToIvfIndex: stored centroids assign the delta; probes find it") {
    val dir = tmpSubdir("ivf_app")
    val base = emb((0L, e1, 0), (1L, e2, 0), (2L, e12, 0), (3L, ne1, 0),
      (4L, Array(0.9f, 0.1f, 0f, 0f), 0), (5L, Array(0.1f, 0.9f, 0f, 0f), 0))
    Similarity.writeIvfIndex(base, "vec_id", "embedding", dir, nLists = 2)
    val newVec = Array(0.95f, 0.05f, 0f, 0f)
    Similarity.appendToIvfIndex(spark, dir,
      emb((100L, newVec, 0), (101L, Array(0f, 1f, 0.1f, 0f), 0)), "embedding")
    // partition values match a fresh nearest-centroid assignment
    val cents = spark.read.parquet(s"$dir/centroids")
      .collect().sortBy(_.getInt(0)).map(_.getSeq[Double](1).toArray)
    val stored = spark.read.parquet(s"$dir/vectors")
      .filter(col("vec_id") >= 100L)
      .select(col("vec_id"), col("list_id"),
        graft.functions.vectors.nearest_centroid(col("embedding"), cents).as("want"))
      .collect()
    assert(stored.length == 2)
    stored.foreach(r => assert(r.getInt(1) == r.getInt(2), s"vec ${r.getLong(0)}"))
    // the appended vector is immediately searchable (probe 1 = own list)
    val hit = Similarity.ivfTopKIndexed(spark, dir, "vec_id", "embedding",
      newVec, k = 1, nProbe = 1).head()
    assert(hit.getLong(0) == 100L)
  }

  test("decontaminateByEmbedding flags train vectors near any eval vector") {
    def bucket(id: Long): Long = (id % 1000003L) * 2654435761L % 100L
    // find real eval-bucket ids (the id-hash split the operator uses)
    val evalIds = (0L until 200L).filter(bucket(_) < 5).take(2)
    val trainIds = (0L until 200L).filter(bucket(_) >= 5).take(3)
    val near = Array(0.9f, 0.1f, 0f, 0f)   // cos vs e1 ~ 0.994
    val d = emb(
      (evalIds(0), e1, 0), (evalIds(1), e2, 0),
      (trainIds(0), near, 0),               // hit vs eval e1 only
      (trainIds(1), Array(1f, 1f, 0f, 0f), 0), // hits BOTH eval vecs (cos .707)
      (trainIds(2), Array(0f, 0f, 1f, 0f), 0)) // orthogonal to both
    val got = Similarity.decontaminateByEmbedding(d, "vec_id", "embedding", 0.5)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(got.keySet == Set(trainIds(0), trainIds(1)))
    assert(got(trainIds(0))._1 == 1L)
    assert(got(trainIds(1))._1 == 2L)
    assert(math.abs(got(trainIds(0))._2 - 0.9 / math.sqrt(0.81 + 0.01)) < 1e-9)
    assert(math.abs(got(trainIds(1))._2 - 1.0 / math.sqrt(2)) < 1e-9)
  }

  test("hardNegativeMine: positive is same-label argmax, negative differs in label") {
    // nLists = 1 puts every vector in one IVF cell, so the negative is
    // the GLOBAL hardest different-label vector — checkable by hand
    val d = emb(
      (1L, Array(1f, 0f, 0f, 0f), 0), (2L, Array(0.9f, 0.1f, 0f, 0f), 0),
      (3L, Array(0f, 1f, 0f, 0f), 0),
      (10L, Array(0.8f, 0.2f, 0f, 0f), 1), (11L, Array(0f, 0f, 1f, 0f), 1))
    val got = Similarity.hardNegativeMine(d, "vec_id", "embedding", "label", nLists = 1)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(3)))).toMap
    // anchor 1: positive = 2 (cos ~0.994 beats 3's 0.0); hard negative
    // = 10 (cos ~0.97 beats 11's 0.0)
    assert(got(1L) == ((2L, 10L)))
    assert(got(2L) == ((1L, 10L)))
    // anchor 11 (label 1): positive 10, negative 3 (cos 0 with all of
    // label 0 except 3's... 11=(0,0,1,0): cos with 1/2/3 all 0 -> tie
    // broken by smallest id = 1
    assert(got(11L) == ((10L, 1L)))
    // every anchor has both a same-label peer and a cross-label
    // candidate here, so all 5 rows emit
    assert(got.size == 5)
  }

  test("mmrRerank demotes a redundant near-duplicate below a diverse result") {
    // query = (1,1): ids 1, 2, 3 are all equally relevant
    // (sim = 1/sqrt(2)), but 2 is a clone of 1 while 3 is orthogonal
    // to it. Pure relevance cannot separate them; MMR must rank the
    // orthogonal 3 above the clone 2:
    //   rank 1: tie on sim -> lowest id = 1, score = sim
    //   rank 2: score(2) = (sim - cos(2,1)=1)/2 < 0
    //           score(3) = (sim - cos(3,1)=0)/2 > 0  -> pick 3
    val q = Array(1f, 1f)
    val df = Seq(
      (1L, Array(1f, 0f)),
      (2L, Array(1f, 0f)),
      (3L, Array(0f, 1f))).toDF("vec_id", "embedding")
    val got = Similarity.mmrRerank(df, "vec_id", "embedding", q, k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(got.map(_._2).toSeq == Seq(1L, 3L, 2L),
      s"expected diverse pick at rank 2, got ${got.toSeq}")
    val sim = 1.0 / math.sqrt(2.0)
    // all arithmetic is exact-reproducible: assert bit equality
    assert(got(0)._3 == sim)
    assert(got(1)._3 == (sim - 0.0) * 0.5)
    assert(got(2)._3 == (sim - 1.0) * 0.5)
  }

  test("ivfPqTopK: ADC table scoring separates clusters, exact on dyadic grid") {
    // two orthogonal clusters of dyadic-exact vectors (the 2^-20
    // centroid grid reproduces them bit-for-bit), m = 4 scalar
    // segments: cluster A matches the query (adc = dot = 4.0), B is
    // orthogonal (adc = 0.0). nProbe covers both lists, so ranking is
    // purely the ADC separation; ties break to ascending id.
    val a = Array(2f, 0f, 0f, 0f)
    val b = Array(0f, 2f, 0f, 0f)
    val df = ((1L to 4L).map((_, a)) ++ (5L to 8L).map((_, b)))
      .toDF("vec_id", "embedding")
    val got = Similarity.ivfPqTopK(df, "vec_id", "embedding", a, k = 6,
        nLists = 2, nProbe = 2, m = 4, kSub = 4, samplePct = 100)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(got.map(_._1).toSeq == Seq(1L, 2L, 3L, 4L, 5L, 6L), got.toSeq.toString)
    assert(got.take(4).forall(_._2 == 4.0), "cluster A must score exactly dot(q,a)")
    assert(got.drop(4).forall(_._2 == 0.0), "orthogonal cluster must score 0")
  }

  test("mmrRerank ignores zero-norm vectors instead of letting NaN hijack the pool") {
    // the zero vector cosines to NaN, which sorts LARGEST under desc —
    // unguarded it tops the pool, then poisons every pairwise penalty
    // (historically: bestId stayed -1, null landed in pickedVecs, NPE)
    val q = Array(1f, 1f)
    val df = Seq(
      (1L, Array(0f, 0f)), // zero-norm: must be dropped, not ranked
      (2L, Array(1f, 0f)),
      (3L, Array(0f, 1f))).toDF("vec_id", "embedding")
    val got = Similarity.mmrRerank(df, "vec_id", "embedding", q, k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.map(_._2).toSeq == Seq(2L, 3L), s"got ${got.toSeq}")
  }

  test("mmrRerank pool smaller than k returns the whole pool ranked") {
    val q = Array(1f, 0f)
    val df = Seq((5L, Array(1f, 0f)), (9L, Array(0f, 1f)))
      .toDF("vec_id", "embedding")
    val got = Similarity.mmrRerank(df, "vec_id", "embedding", q, k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.toSeq == Seq((1L, 5L), (2L, 9L)))
  }

  test("ivfRecall: probing every list is exact; fewer probes bound hits") {
    // 8 vectors in two orthogonal families; nLists=2 separates them
    val d = emb((1L, e1, 0), (2L, e12, 0), (3L, e2, 0), (4L, ne1, 0),
      (5L, Array(2f, 0f, 0f, 0f), 0), (6L, Array(0f, 2f, 0f, 0f), 0),
      (7L, Array(3f, 1f, 0f, 0f), 0), (8L, Array(1f, 3f, 0f, 0f), 0))
    val full = Similarity.ivfRecall(d, "vec_id", "embedding", e1, k = 4,
      nLists = 2, nProbe = 2).head()
    assert((full.getLong(0), full.getLong(1), full.getLong(2)) ==
      ((4L, 4L, 1000L)), full.toString)
    val one = Similarity.ivfRecall(d, "vec_id", "embedding", e1, k = 4,
      nLists = 2, nProbe = 1).head()
    assert(one.getLong(0) == 4L && one.getLong(1) <= 4L &&
      one.getLong(2) == one.getLong(1) * 250L, one.toString)
  }

  test("kmeansTrain: Lloyd rounds recover separated clusters; rounds=1 " +
      "matches the IVF quantizer assignment") {
    // two orthogonal families scattered across hash-seeded lists: the
    // id-hash seed mixes them, one Lloyd round separates them
    val d = emb((1L, e1, 0), (2L, Array(2f, 0f, 0f, 0f), 0),
      (3L, Array(3f, 1f, 0f, 0f), 0), (4L, Array(4f, 0f, 0f, 0f), 0),
      (5L, e2, 0), (6L, Array(0f, 2f, 0f, 0f), 0),
      (7L, Array(1f, 3f, 0f, 0f), 0), (8L, Array(0f, 4f, 0f, 0f), 0))
    val got = Similarity.kmeansTrain(d, "vec_id", "embedding",
        k = 2, rounds = 3)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val xs = Set(1L, 2L, 3L, 4L).map(got)
    val ys = Set(5L, 6L, 7L, 8L).map(got)
    assert(xs.size == 1 && ys.size == 1 && xs != ys,
      s"families must land in distinct clusters: $got")
    // rounds = 1 is definitionally the ivfCentroids assignment
    val viaIvf = {
      val cents = Similarity.ivfCentroids(d, "vec_id", "embedding", 2)
      d.select(col("vec_id"),
        graft.functions.vectors.nearest_centroid(col("embedding"), cents)
          .as("list_id"))
        .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    }
    val oneRound = Similarity.kmeansTrain(d, "vec_id", "embedding",
        k = 2, rounds = 1)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(oneRound == viaIvf)
  }

  test("dimStats: exact per-dimension profile flags dead dimensions") {
    val d = emb((1L, Array(1f, 0.5f, 0f, 0f), 0), (2L, Array(-1f, 0.5f, 0f, 0f), 0))
    val got = Similarity.dimStats(d, "embedding")
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))).toMap
    val m = 1048576L
    assert(got(0L) == ((2L, 0L, 2L * m * m, -m, m)), got.toString)
    assert(got(1L) == ((2L, m, (m / 2) * (m / 2) * 2, m / 2, m / 2)), got.toString)
    // dims 2 and 3 are dead: max == min == 0
    assert(got(2L) == ((2L, 0L, 0L, 0L, 0L)))
    assert(got(3L) == ((2L, 0L, 0L, 0L, 0L)))
  }
}

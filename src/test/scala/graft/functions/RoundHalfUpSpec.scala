package graft.functions

import java.lang.Double.doubleToRawLongBits

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Literal, Round}
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
import org.apache.spark.sql.functions.{col, round}
import org.apache.spark.sql.types.DoubleType
import org.scalatest.funsuite.AnyFunSuite

/** The keying kernel is Spark's `round(v, d)` for d = 0 and 2, compared
  * bit for bit (raw long bits, so -0.0 and NaN payloads count). */
class RoundHalfUpSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val P31 = 2147483648.0
  private val P52 = 4503599627370496.0

  /** Values the fast path must get right or hand to BigDecimal. */
  private val special: Seq[Double] = Seq(
    0.49999999999999994, -0.49999999999999994, 0.5, -0.5, 1.5, 2.5, -2.5,
    2.675, -2.675, 1.005, 0.005, -0.005, 0.015, 0.125, -0.125,
    0.0, -0.0, -0.004, 0.004, -0.4, -0.0049999,
    P31 - 1, P31, P31 + 1, P31 - 0.5, P31 + 0.5, -P31 - 1, -P31 + 1,
    P31 / 100 - 0.005, P31 / 100 + 0.005, 21474836.475, 21474836.485,
    P52, P52 + 1, -P52 - 1, P52 * 2 + 2, 1e300, -1e300, 1e-300,
    Double.MaxValue, Double.MinValue, Double.MinPositiveValue, -Double.MinPositiveValue,
    Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity)

  /** ≥ 1M doubles: raw bit patterns (every magnitude, NaNs included),
    * decimal magnitudes 1e-8 … 1e12, LAS-like grids, and exact ties
    * k + 0.5 and k/100 + 0.005 below and above 2^31. */
  private lazy val values: Array[Double] = {
    val rng = new scala.util.Random(20261019)
    val b = Array.newBuilder[Double]
    b ++= special
    (1 to 300000).foreach(_ => b += java.lang.Double.longBitsToDouble(rng.nextLong()))
    (1 to 400000).foreach { _ =>
      b += (rng.nextDouble() * 2 - 1) * math.pow(10, rng.nextInt(21) - 8)
    }
    (1 to 200000).foreach { _ =>
      val k = rng.nextInt(100000000)
      b += k * 0.01
      b += (k * 0.01 + 85000.0 - 85000.0) / 0.01
    }
    (1 to 100000).foreach { _ =>
      val k = rng.nextLong() % (1L << 33)
      b += k + 0.5
      b += k / 100.0 + 0.005
      b += (k + 0.5) / 100.0
    }
    b.result()
  }

  /** First value whose rounding differs from Spark's, interpreted and
    * under codegen. */
  private def firstMismatch(d: Int): Option[String] = {
    val in = BoundReference(0, DoubleType, nullable = false)
    val ref = Round(in, Literal(d))
    val ours = RoundHalfUp(in, d)
    val proj = GenerateUnsafeProjection.generate(Seq(ref, ours))
    values.iterator.map { v =>
      val row = InternalRow(v)
      val want = doubleToRawLongBits(ref.eval(row).asInstanceOf[Double])
      val got = doubleToRawLongBits(ours.eval(row).asInstanceOf[Double])
      val out = proj(row)
      if (got != want) Some(s"interpreted round($v, $d): $got != $want")
      else if (doubleToRawLongBits(out.getDouble(1)) != doubleToRawLongBits(out.getDouble(0)))
        Some(s"codegen round($v, $d): ${out.getDouble(1)} != ${out.getDouble(0)}")
      else None
    }.collectFirst { case Some(m) => m }
  }

  test("round_half_up is Spark's round(v, 0) bit for bit over 1M+ doubles") {
    assert(values.length >= 1000000)
    val m = firstMismatch(0)
    assert(m.isEmpty, m)
  }

  test("round_half_up is Spark's round(v, 2) bit for bit over 1M+ doubles") {
    val m = firstMismatch(2)
    assert(m.isEmpty, m)
  }

  test("the special values round as Spark rounds them") {
    def r(v: Double, d: Int) = doubleToRawLongBits(RoundKernels.halfUp(v, d))
    assert(r(0.49999999999999994, 0) == doubleToRawLongBits(0.0))
    assert(r(2.675, 2) == doubleToRawLongBits(2.68)) // "2.675" HALF_UP, though the double is below
    assert(r(-2.5, 0) == doubleToRawLongBits(-3.0))
    assert(r(-0.004, 2) == doubleToRawLongBits(0.0)) // +0.0, never -0.0
    assert(r(-0.0, 0) == doubleToRawLongBits(0.0))
    assert(r(Double.NaN, 2) == doubleToRawLongBits(Double.NaN))
    assert(RoundKernels.halfUp(Double.NegativeInfinity, 0) == Double.NegativeInfinity)
  }

  test("sfc.round_half_up equals functions.round in a query, compiled and interpreted") {
    import spark.implicits._
    val df = spark.sparkContext.parallelize(special ++ values.take(20000).toSeq, 4).toDF("v")
    val confs = Seq(
      Seq("spark.sql.codegen.wholeStage" -> "true", "spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY"),
      Seq("spark.sql.codegen.wholeStage" -> "false", "spark.sql.codegen.factoryMode" -> "NO_CODEGEN"))
    for (conf <- confs; d <- Seq(0, 2)) {
      conf.foreach { case (k, v) => spark.conf.set(k, v) }
      try {
        val rows = df.select(round(col("v"), d), sfc.round_half_up(col("v"), d)).collect()
        assert(rows.length == special.size + 20000)
        val bad = rows.find(r => doubleToRawLongBits(r.getDouble(0)) != doubleToRawLongBits(r.getDouble(1)))
        assert(bad.isEmpty, s"$conf d=$d: $bad")
      } finally conf.foreach { case (k, _) => spark.conf.unset(k) }
    }
  }
}

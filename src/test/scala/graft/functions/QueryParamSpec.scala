package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Add, BoundReference, Expression, LessThanOrEqual, Multiply, Subtract}
import org.apache.spark.sql.catalyst.expressions.codegen.{GeneratePredicate, GenerateUnsafeProjection}
import org.apache.spark.sql.types.{DoubleType, LongType}
import org.scalatest.funsuite.AnyFunSuite

class QueryParamSpec extends AnyFunSuite {

  private val x = BoundReference(0, DoubleType, nullable = false)
  private val h = BoundReference(1, LongType, nullable = false)

  /** (x - cx)^2 <= r2 over bound parameters. */
  private def d2(cx: Double, r2: Double): Expression = LessThanOrEqual(
    Multiply(Subtract(x, QueryParam(cx, DoubleType)), Subtract(x, QueryParam(cx, DoubleType))),
    QueryParam(r2, DoubleType))

  test("QueryParam gives the same result interpreted and under codegen") {
    val rows = Seq(-3.5, 0.0, 1.25, 7.0, 1e15).map(v => InternalRow(v, (v * 3).toLong))
    Seq((1.5, 4.0), (0.1, 0.01), (-2.0, 1e-12)).foreach { case (cx, r2) =>
      val e = Add(Multiply(x, QueryParam(cx, DoubleType)), QueryParam(r2, DoubleType))
      val proj = GenerateUnsafeProjection.generate(Seq(e, Add(h, QueryParam(7L, LongType))))
      val pred = GeneratePredicate.generate(d2(cx, r2))
      rows.foreach { r =>
        val cg = proj(r)
        assert(cg.getDouble(0) == e.eval(r))
        assert(cg.getLong(1) == r.getLong(1) + 7L)
        assert(pred.eval(r) == d2(cx, r2).eval(r))
      }
    }
  }

  test("QueryParam keeps constants out of the generated class") {
    val a = GeneratePredicate.generate(d2(1.5, 4.0))
    val b = GeneratePredicate.generate(d2(-8.25, 0.5))
    assert(a.getClass == b.getClass) // one compiled class, two bindings
    assert(a.eval(InternalRow(2.5, 0L)) && !b.eval(InternalRow(2.5, 0L)))
    assert(!QueryParam(1.0, DoubleType).foldable)
  }

  test("pushed_ranges is exact per row and carries a bounded, covering cover") {
    val ranges = (0 until 200).map(i => (i * 10L, i * 10L + 3L)).reverse
    val m = PushedRanges(h, ranges)
    assert(m.cover.length == PushedRanges.MaxCover)
    assert(m.cover.head._1 == 0L && m.cover.last._2 == 1993L)
    val pred = GeneratePredicate.generate(m)
    (-5L to 2010L).foreach { v =>
      val want = ranges.exists { case (lo, hi) => v >= lo && v <= hi }
      val row = InternalRow(0.0, v)
      assert(m.eval(row) == want && pred.eval(row) == want, v)
      if (want) assert(m.cover.exists { case (lo, hi) => v >= lo && v <= hi }, v)
    }
  }
}

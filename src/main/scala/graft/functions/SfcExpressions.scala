package graft.functions

import org.apache.spark.sql.{Column, GraftBridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{And, BinaryExpression, EqualTo, Expression, GreaterThanOrEqual, LeafExpression, LessThanOrEqual, Literal, Or, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, EmptyBlock, ExprCode, FalseLiteral, JavaCode}
import org.apache.spark.sql.types.{BooleanType, DataType, DoubleType, LongType}

import graft.core.{Geometry, Morton, Polygon}

/** Native Catalyst expressions for the SFC kernels — pure long bit-ops,
  * so `doGenCode` emits a direct static call that stays inside
  * whole-stage codegen (no UDF boxing, no closure serialization).
  * Replaces the reference's numba-JIT kernels (pcsfc/encoder.py:8-48,
  * decoder.py:4-80) at the expression level.
  */
case class MortonEncode2D(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "morton_encode2d"
  override protected def nullSafeEval(x: Any, y: Any): Any =
    Morton.encode(x.asInstanceOf[Long], y.asInstanceOf[Long])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (x, y) => s"graft.core.Morton.encode($x, $y)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression) =
    copy(left = l, right = r)
}

/** 3D Morton interleave (x bits 0,3,6,…; y offset 1; z offset 2) —
  * volumetric keys for z-pruned height selections. */
case class MortonEncode3D(first: Expression, second: Expression, third: Expression)
    extends org.apache.spark.sql.catalyst.expressions.TernaryExpression {
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "morton_encode3d"
  override protected def nullSafeEval(x: Any, y: Any, z: Any): Any =
    Morton.encode(x.asInstanceOf[Long], y.asInstanceOf[Long], z.asInstanceOf[Long])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (x, y, z) => s"graft.core.Morton.encode($x, $y, $z)")
  override protected def withNewChildrenInternal(a: Expression, b: Expression,
      c: Expression) = copy(first = a, second = b, third = c)
}

/** Spark's `round(v, d)` for a double, without its decimal detour on
  * the common path. Spark rounds `BigDecimal.valueOf(v)` (the digits of
  * `Double.toString`) HALF_UP to d places and converts back: one string
  * rendering per call, three per keyed point. Here, for |v·10^d| < 2^31:
  *  - d = 0 is exact with `floor` and a fraction test: every k + 0.5
  *    below 2^52 is a double, so v's shortest decimal lies on the same
  *    side of it as v;
  *  - d = 2 takes the same test unless the fraction of v·100 lies
  *    within 1e-6 of .5. The decimal and the product differ by less than
  *    two ulps of 2^31 (< 5e-7), so outside that window they round
  *    alike, and m/100.0 is exactly BigDecimal's `doubleValue` of m/100.
  * Everything else takes Spark's own BigDecimal path. NaN and ±Inf pass
  * through, and a result of zero is +0.0, as a BigDecimal has no -0. */
object RoundKernels {
  private val Limit = 2147483648.0 // 2^31

  def halfUp(v: Double, d: Int): Double = {
    if (java.lang.Double.isNaN(v) || java.lang.Double.isInfinite(v)) return v
    val a = if (d == 0) math.abs(v) else math.abs(v) * 100.0
    if (a < Limit) {
      val r = math.floor(a)
      val f = a - r
      if (d == 0 || math.abs(f - 0.5) > 1e-6) {
        val m = if (f >= 0.5) r + 1.0 else r
        if (m == 0.0) return 0.0
        val q = if (d == 0) m else m / 100.0
        return if (v < 0) -q else q
      }
    }
    java.math.BigDecimal.valueOf(v).setScale(d, java.math.RoundingMode.HALF_UP).doubleValue()
  }
}

/** `round(child, scale)` of a double column, scale 0 or 2, bit for bit
  * as Spark's [[org.apache.spark.sql.catalyst.expressions.Round]]
  * evaluates it ([[RoundKernels.halfUp]]) — the keying kernel of both
  * point stores' import. */
case class RoundHalfUp(child: Expression, scale: Int) extends UnaryExpression {
  require(scale == 0 || scale == 2, s"round_half_up takes scale 0 or 2, got $scale")
  override def dataType: DataType = DoubleType
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == DoubleType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"round_half_up takes a double, got ${child.dataType}")
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "round_half_up"
  override protected def nullSafeEval(v: Any): Any =
    RoundKernels.halfUp(v.asInstanceOf[Double], scale)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, v => s"graft.functions.RoundKernels.halfUp($v, $scale)")
  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

/** Dimension `dim` (0 = x, 1 = y, 2 = z) of a d-way Morton key,
  * d = 2 or 3. The kernel is chosen when the plan is built, so the
  * generated code is one static call with no branch on d. */
case class MortonDecode(child: Expression, d: Int, dim: Int) extends UnaryExpression {
  require((d == 2 || d == 3) && dim >= 0 && dim < d, s"no dimension $dim in a ${d}D key")
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = s"morton_decode${d}d_${"xyz"(dim)}"
  override protected def nullSafeEval(m: Any): Any = Morton.decode(m.asInstanceOf[Long], d, dim)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, m =>
      if (d == 2) s"graft.core.Morton.decode${"XY"(dim)}($m)"
      else s"graft.core.Morton.compact3($m >>> $dim)")
  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

/** Even-odd point-in-polygon against a query-constant polygon (rings
  * broadcast into the generated class as a reference object). Codegen
  * calls the same static kernel the interpreted path uses — semantics
  * of the reference's ST_Within refinement (retrieve_data.py:76-83),
  * boundary points excluded by fixture convention.
  */
case class PointInPolygon(left: Expression, right: Expression, polygon: Polygon)
    extends BinaryExpression {
  override def dataType: DataType = BooleanType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "point_in_polygon"
  @transient private lazy val rings = polygon.rings
  override protected def nullSafeEval(x: Any, y: Any): Any =
    Geometry.pointInRings(x.asInstanceOf[Double], y.asInstanceOf[Double], rings)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ringsRef = ctx.addReferenceObj("rings", polygon.rings, "double[][]")
    defineCodeGen(ctx, ev, (x, y) => s"graft.core.Geometry.pointInRings($x, $y, $ringsRef)")
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression) =
    copy(left = l, right = r)
}

/** A per-query constant as a bound parameter. The value reaches the
  * generated class through its reference array and a field set at init
  * time, never as a literal in the source, so two queries that differ
  * only in constants generate the same code and share one compiled
  * class (Spark's codegen cache is keyed on the source). Non-foldable,
  * so the optimizer keeps it a leaf instead of folding it back into a
  * literal; deterministic and never null, so predicates over it push
  * through projections like any other. A parameter of a prepared
  * selection carries its `slot`, the index of its value among the
  * selection's bound values (`graft.operators.Bindings`); -1 is a
  * parameter no template rebinds. */
case class QueryParam(value: Any, dataType: DataType, slot: Int = -1) extends LeafExpression {
  require(value != null && CodeGenerator.isPrimitiveType(dataType),
    s"a query parameter is a non-null primitive, got $value: $dataType")
  override def foldable: Boolean = false
  override def nullable: Boolean = false
  override def prettyName: String = "queryparam"
  override def toString: String = s"$prettyName($value)"
  override def eval(input: InternalRow): Any = value
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    ev.copy(code = EmptyBlock, isNull = FalseLiteral,
      value = JavaCode.global(QueryParam.bind(ctx, value, dataType), dataType))
}

object QueryParam {
  /** A field of the generated class holding `value`, assigned from the
    * reference array when the class is initialised; returns its name. */
  def bind(ctx: CodegenContext, value: Any, dataType: DataType): String = {
    val javaType = CodeGenerator.javaType(dataType)
    val ref = ctx.addReferenceObj("param", value, CodeGenerator.boxedType(dataType))
    ctx.addMutableState(javaType, "param", v => s"$v = $ref.${javaType}Value();",
      forceInline = true)
  }
}

/** Membership of a long in a set of sorted, disjoint, inclusive
  * ranges — O(log n) binary search per row, constant-size generated
  * code however fine the range decomposition (an OR tree is O(n) per
  * row and overflows codegen method limits past ~1k terms: measured 6x
  * slower at 2048 terms). The arrays are bound by reference, so the
  * code does not depend on the ranges. */
object RangeKernels {
  def containsSorted(v: Long, los: Array[Long], his: Array[Long]): Boolean = {
    var lo = 0
    var hi = los.length - 1
    while (lo <= hi) {
      val mid = (lo + hi) >>> 1
      if (v < los(mid)) hi = mid - 1
      else if (v > his(mid)) lo = mid + 1
      else return true
    }
    false
  }
}

/** Shared body of the two range-membership predicates. */
sealed trait SortedRangeMembership extends UnaryExpression {
  def los: Array[Long]
  def his: Array[Long]
  override def dataType: DataType = BooleanType
  override def nullIntolerant: Boolean = true
  override def toString: String = s"$prettyName($child, ${los.length} ranges)"
  override protected def nullSafeEval(v: Any): Any =
    RangeKernels.containsSorted(v.asInstanceOf[Long], los, his)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val l = ctx.addReferenceObj("los", los, "long[]")
    val h = ctx.addReferenceObj("his", his, "long[]")
    defineCodeGen(ctx, ev, v => s"graft.functions.RangeKernels.containsSorted($v, $l, $h)")
  }
}

/** Binary-search membership (ranges may be empty: always false). */
case class InSortedRanges(child: Expression, los: Array[Long], his: Array[Long])
    extends SortedRangeMembership {
  require(los.length == his.length)
  override def prettyName: String = "in_sorted_ranges"
  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

/** The one head predicate of the blocked stores: exact binary-search
  * membership per row, carrying a coarse `cover` of the same ranges
  * (sorted, disjoint, a superset) only as data. The cover never reaches
  * generated code: the planner strategy `graft.plans.PushedRangeScan`
  * adds it to the file scan's filters as a literal OR-of-BETWEEN, so
  * parquet page statistics prune on it, and drops it from the post-scan
  * filter. Planned without that strategy the predicate is still exact,
  * only unpruned. */
case class PushedRanges(child: Expression, los: Array[Long], his: Array[Long],
    cover: Seq[(Long, Long)]) extends SortedRangeMembership {
  require(los.length == his.length && los.nonEmpty && cover.nonEmpty)
  override def prettyName: String = "pushed_ranges"
  override def toString: String =
    s"$prettyName($child, ${los.length} ranges, cover ${cover.length})"

  /** The cover as a scan-pushable predicate over `child`: a balanced
    * OR tree of BETWEENs (depth log2 n, so neither Catalyst's recursive
    * converters nor parquet's filter translation overflow). */
  def coverPredicate: Expression = {
    def between(r: (Long, Long)): Expression =
      if (r._1 == r._2) EqualTo(child, Literal(r._1))
      else And(GreaterThanOrEqual(child, Literal(r._1)), LessThanOrEqual(child, Literal(r._2)))
    def build(rs: Seq[(Long, Long)]): Expression =
      if (rs.length == 1) between(rs.head)
      else {
        val (l, r) = rs.splitAt(rs.length / 2)
        Or(build(l), build(r))
      }
    build(cover)
  }

  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

object PushedRanges {
  /** Ranges pushed to the scan at most: page statistics are coarse, so
    * a finer cover prunes little more, while Spark translates and
    * checks every pushed term. */
  val MaxCover = 48

  /** Head in any of `ranges` (disjoint, any order, non-empty). */
  def apply(head: Expression, ranges: Seq[(Long, Long)]): PushedRanges = {
    val sorted = ranges.sortBy(_._1).toIndexedSeq
    PushedRanges(head, sorted.map(_._1).toArray, sorted.map(_._2).toArray,
      coarsen(sorted, MaxCover))
  }

  /** Merge sorted disjoint ranges down to `k` by keeping the k-1
    * widest gaps as separators — the cover that loses the least
    * pruning surface. */
  private def coarsen(sorted: IndexedSeq[(Long, Long)], k: Int): IndexedSeq[(Long, Long)] = {
    if (sorted.length <= k) return sorted
    val cuts = (1 until sorted.length)
      .sortBy(i => -(sorted(i)._1 - sorted(i - 1)._2))
      .take(k - 1).sorted
    val bounds = (0 +: cuts) :+ sorted.length
    (0 until bounds.length - 1).map { j =>
      (sorted(bounds(j))._1, sorted(bounds(j + 1) - 1)._2)
    }
  }
}

/** Column-level API over the expressions above. */
object sfc {
  private def expr(c: Column): Expression = GraftBridge.expression(c)
  private def col(e: Expression): Column = GraftBridge.column(e)

  /** Interleave two non-negative long grid coordinates into a Morton key. */
  def morton_encode(x: Column, y: Column): Column = col(MortonEncode2D(expr(x), expr(y)))

  /** Interleave three non-negative grid coordinates (<= 21 bits each). */
  def morton_encode(x: Column, y: Column, z: Column): Column =
    col(MortonEncode3D(expr(x), expr(y), expr(z)))

  /** Spark's `round(v, scale)` of a column as a double, scale 0 or 2. */
  def round_half_up(v: Column, scale: Int = 0): Column =
    col(RoundHalfUp(expr(v.cast(DoubleType)), scale))

  /** Dimension `dim` (0 = x, 1 = y, 2 = z) of a d-way Morton key. */
  def morton_decode(m: Column, d: Int, dim: Int): Column = col(MortonDecode(expr(m), d, dim))

  /** True iff (x, y) is strictly inside the polygon (even-odd rule, holes ok). */
  def point_in_polygon(x: Column, y: Column, polygon: Polygon): Column =
    col(PointInPolygon(expr(x), expr(y), polygon))

  /** Binary-search membership in sorted disjoint inclusive ranges. */
  def in_sorted_ranges(v: Column, los: Array[Long], his: Array[Long]): Column =
    col(InSortedRanges(expr(v), los, his))

  /** Head in any of `ranges` (disjoint, any order), with the coarse
    * cover the scan strategy pushes to parquet. */
  def pushed_ranges(head: Column, ranges: Seq[(Long, Long)]): Column =
    col(PushedRanges(expr(head), ranges))

  /** A query constant bound as a parameter, not inlined as a literal. */
  def param(v: Double): Column = col(QueryParam(v, DoubleType))
  def param(v: Long): Column = col(QueryParam(v, LongType))
}

package graft.operators

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, GraftBridge, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.types.{DataType, DoubleType, LongType}

import graft.core.{HeadRanges, Polygon}
import graft.functions.{sfc, PointInPolygon, QueryParam}
import graft.plans.{PreparedSelection, PreparedSelectionScan, PushedRangeScan}

/** What fixes a selection's plan structure: the method, its size (the
  * polyline's segment count, kNN's k, else 0) and whether its head cover
  * is empty. Selections of one shape differ only in [[Bindings]]. */
private[operators] final case class Shape(method: String, size: Int, empty: Boolean)

/** The values one selection binds into its shape's template: each query
  * constant its Column code draws through [[apply]], in slot order, its
  * head cover (the scan predicate and contained tag of
  * [[SelectionCore.candidateBlocks]]) and the polygon of its exact test.
  * Every constant is drawn before the selection is planned, never only
  * while its template is being built: a slot drawn there is past the
  * end of the next query's values. */
private[operators] final class Bindings(val cover: HeadRanges) {
  private val values = ArrayBuffer.empty[Any]
  private var polygon: Option[Polygon] = None

  /** A query constant as the next parameter slot. */
  def apply(v: Double): Column = slot(v, DoubleType)
  def apply(v: Long): Column = slot(v, LongType)

  private def slot(v: Any, t: DataType): Column = {
    values += v
    GraftBridge.column(QueryParam(v, t, values.length - 1))
  }

  /** The exact point-in-polygon test of this selection. */
  def inPolygon(x: Column, y: Column, p: Polygon): Column = {
    polygon = Some(p)
    sfc.point_in_polygon(x, y, p)
  }

  /** `template` with this selection's values in place of those it was
    * built with. */
  def bind(template: LogicalPlan): LogicalPlan = {
    val own: PartialFunction[Expression, Expression] = {
      case QueryParam(_, t, s) if s >= 0 => QueryParam(values(s), t, s)
      case p: PointInPolygon if polygon.nonEmpty => p.copy(polygon = polygon.get)
    }
    template.transformAllExpressions(
      if (cover.isEmpty) own else SelectionCore.rebind(cover).orElse(own))
  }
}

/** The prepared selections of one opened cloud. The first selection of a
  * [[Shape]] builds its plan through the store's Column code; the
  * optimized plan becomes the shape's template. Every selection, the
  * first too, then binds its values into a copy of the template
  * ([[Bindings.bind]]) and runs it as a [[PreparedSelection]], so
  * analysis and optimization run once per shape, not once per query.
  * At most [[SelectionTemplates.Capacity]] shapes are kept, the least
  * recently used dropped first. */
private[operators] final class SelectionTemplates(spark: SparkSession) {
  PushedRangeScan.register(spark)
  PreparedSelectionScan.register(spark)

  private val templates = new java.util.LinkedHashMap[Shape, LogicalPlan](16, 0.75f, true) {
    override def removeEldestEntry(e: java.util.Map.Entry[Shape, LogicalPlan]): Boolean =
      size() > SelectionTemplates.Capacity
  }

  /** The selection of `shape` with `values` bound; `build` is its Column
    * code, run only when the shape has no template yet. */
  def select(shape: Shape, values: Bindings)(build: => DataFrame): DataFrame = {
    val template = templates.synchronized(Option(templates.get(shape))).getOrElse {
      val plan = build.queryExecution.optimizedPlan
      templates.synchronized(templates.put(shape, plan))
      plan
    }
    GraftBridge.ofRows(spark, PreparedSelection(values.bind(template)))
  }

  /** The shapes that hold a template. */
  def shapes: Set[Shape] = templates.synchronized(templates.keySet.asScala.toSet)
}

private[operators] object SelectionTemplates {
  /** Templates kept per opened cloud. */
  val Capacity = 64
}

package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import graft.core.cell.{Grid, Morton}
import graft.core.geom.Geom

/**
 * Static JVM kernel the generated code calls into — one virtual-call-free
 * entry point per geometric primitive (SURVEY.md §4 phase 2). Catalyst's
 * whole-stage codegen emits a plain static call, so the expressions below
 * stay inside the generated loop instead of falling back to interpreted
 * ScalaUDF invocation (boxing + encoder round-trips per row).
 */
object GeoKernel {
  def cover(wkb: Array[Byte], radius: Double, cellSize: Double): ArrayData =
    new GenericArrayData(Grid.coverEnvelope(Geom.fromWkb(wkb).envelope, radius, cellSize))

  def dwithin(a: Array[Byte], b: Array[Byte], d: Double): Boolean =
    Geom.dwithin(Geom.fromWkb(a), Geom.fromWkb(b), d)

  def distance(a: Array[Byte], b: Array[Byte]): Double =
    Geom.distance(Geom.fromWkb(a), Geom.fromWkb(b))

  /** canonical common cell of a candidate pair — the "reference point"
    * dedup technique: the lower-left corner of the intersection of env(a)
    * and env(b) dilated by `radius` falls in exactly ONE grid cell, and that
    * cell is in BOTH sides' covers; emitting a pair only from that cell makes
    * the bucketed join duplicate-free without any distinct. */
  def refCell(a: Array[Byte], b: Array[Byte], radius: Double, cellSize: Double): Long = {
    val ea = Geom.fromWkb(a).envelope
    val eb = Geom.fromWkb(b).envelope
    val x = math.max(ea.minX, eb.minX - radius)
    val y = math.max(ea.minY, eb.minY - radius)
    Grid.cellOf(x, y, cellSize)
  }

  /** POINT WKB — delegates to the one codec (byte-identical to the stPoint
    * UDF it replaces; the win is skipping the ScalaUDF boundary, not the
    * byte building). */
  def pointWkb(x: Double, y: Double): Array[Byte] =
    Geom.toWkb(Geom.point(x, y))

  /** axis-aligned envelope polygon WKB — same codec delegation. */
  def envelopeWkb(minX: Double, minY: Double, maxX: Double, maxY: Double): Array[Byte] =
    Geom.toWkb(Geom.envelopePoly(minX, minY, maxX, maxY))
}

/** cells covering `geom`'s envelope expanded by `radius` (ARRAY<LONG>). */
case class CellCover(geom: Expression, radius: Expression, cellSize: Expression)
    extends TernaryExpression {
  override def first: Expression = geom
  override def second: Expression = radius
  override def third: Expression = cellSize
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true

  override protected def nullSafeEval(g: Any, r: Any, s: Any): Any =
    GeoKernel.cover(g.asInstanceOf[Array[Byte]],
      r.asInstanceOf[Double], s.asInstanceOf[Double])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (g, r, s) => s"graft.plans.GeoKernel.cover($g, $r, $s)")

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression, newThird: Expression): Expression =
    copy(geom = newFirst, radius = newSecond, cellSize = newThird)
}

/** exact ST_DWithin over WKB — the refinement predicate, codegen'd. */
case class STDWithin(left: Expression, right: Expression, distance: Expression)
    extends TernaryExpression with Predicate {
  override def first: Expression = left
  override def second: Expression = right
  override def third: Expression = distance
  override def nullIntolerant: Boolean = true

  override protected def nullSafeEval(a: Any, b: Any, d: Any): Any =
    GeoKernel.dwithin(a.asInstanceOf[Array[Byte]],
      b.asInstanceOf[Array[Byte]], d.asInstanceOf[Double])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b, d) => s"graft.plans.GeoKernel.dwithin($a, $b, $d)")

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression, newThird: Expression): Expression =
    copy(left = newFirst, right = newSecond, distance = newThird)
}

/** exact planar distance over WKB, codegen'd. */
case class STDistance(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true

  override protected def nullSafeEval(a: Any, b: Any): Any =
    GeoKernel.distance(a.asInstanceOf[Array[Byte]], b.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.plans.GeoKernel.distance($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** POINT(x, y) as WKB — native replacement for the boxed stPoint ScalaUDF
  * (r6, guide §1.2 per-task work: the UDF was the fill pass's last
  * interpreted boundary, invoked once per synthesized feature row).
  * `nullable = true` deliberately matches ScalaUDF's always-nullable output
  * so no declared query's result schema shifts. */
case class StPointWkb(x: Expression, y: Expression) extends BinaryExpression {
  override def left: Expression = x
  override def right: Expression = y
  override def dataType: DataType = BinaryType
  override def nullIntolerant: Boolean = true
  override def nullable: Boolean = true

  override protected def nullSafeEval(xv: Any, yv: Any): Any =
    GeoKernel.pointWkb(xv.asInstanceOf[Double], yv.asInstanceOf[Double])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.plans.GeoKernel.pointWkb($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(x = newLeft, y = newRight)
}

/** ST_MakeEnvelope(minX, minY, maxX, maxY) as WKB — native replacement for
  * the stEnvelopeWkb ScalaUDF (same parity/nullability contract as
  * [[StPointWkb]]). */
case class StEnvelopePolyWkb(minX: Expression, minY: Expression,
                             maxX: Expression, maxY: Expression)
    extends QuaternaryExpression {
  override def first: Expression = minX
  override def second: Expression = minY
  override def third: Expression = maxX
  override def fourth: Expression = maxY
  override def dataType: DataType = BinaryType
  override def nullIntolerant: Boolean = true
  override def nullable: Boolean = true

  override protected def nullSafeEval(a: Any, b: Any, c: Any, d: Any): Any =
    GeoKernel.envelopeWkb(a.asInstanceOf[Double], b.asInstanceOf[Double],
      c.asInstanceOf[Double], d.asInstanceOf[Double])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (a, b, c, d) => s"graft.plans.GeoKernel.envelopeWkb($a, $b, $c, $d)")

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression,
      newThird: Expression, newFourth: Expression): Expression =
    copy(minX = newFirst, minY = newSecond, maxX = newThird, maxY = newFourth)
}

/** the canonical common cell of a candidate pair (see GeoKernel.refCell). */
case class RefCell(a: Expression, b: Expression, radius: Expression, cellSize: Expression)
    extends QuaternaryExpression {
  override def first: Expression = a
  override def second: Expression = b
  override def third: Expression = radius
  override def fourth: Expression = cellSize
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true

  override protected def nullSafeEval(ga: Any, gb: Any, r: Any, s: Any): Any =
    GeoKernel.refCell(ga.asInstanceOf[Array[Byte]], gb.asInstanceOf[Array[Byte]],
      r.asInstanceOf[Double], s.asInstanceOf[Double])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (ga, gb, r, s) => s"graft.plans.GeoKernel.refCell($ga, $gb, $r, $s)")

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression,
      newThird: Expression, newFourth: Expression): Expression =
    copy(a = newFirst, b = newSecond, radius = newThird, cellSize = newFourth)
}

/** Morton z-code of a non-negative (x, y) cell (Morton.interleave) as ONE
  * expression node. A bbox filter over an in-plan z-code gets the code's
  * defining expression substituted into each of its up to 128 range
  * comparisons; written as column shift/and arithmetic each copy was ~1000
  * nodes (every spread step references its input twice) and the filter's
  * generated code outgrew the 64 KB method limit. */
case class MortonCode(x: Expression, y: Expression) extends BinaryExpression {
  override def left: Expression = x
  override def right: Expression = y
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true

  override protected def nullSafeEval(xv: Any, yv: Any): Any =
    Morton.interleave(xv.asInstanceOf[Long], yv.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.core.cell.Morton.interleave($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(x = newLeft, y = newRight)
}

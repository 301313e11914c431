package graft.geo

import org.apache.spark.sql.{Column, GraftSqlBridge}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, TernaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Ray-casting kernel shared by interpreted eval and generated code. */
object GeoKernels {

  /** Even-odd ray casting over an implicitly-closed ring
    * (`array<struct<x,y>>`). Strictly-interior points are contained;
    * boundary points follow even-odd edge conventions (not guaranteed
    * either way — callers needing boundary semantics must test edges
    * explicitly, as the reference never does either, script_geo.py:84). */
  def contains(ring: ArrayData, px: Double, py: Double): Boolean = {
    val n = ring.numElements()
    var inside = false
    var i = 0
    var j = n - 1
    while (i < n) {
      val pi = ring.getStruct(i, 2)
      val pj = ring.getStruct(j, 2)
      val xi = pi.getDouble(0); val yi = pi.getDouble(1)
      val xj = pj.getDouble(0); val yj = pj.getDouble(1)
      if (((yi > py) != (yj > py)) &&
        (px < (xj - xi) * (py - yi) / (yj - yi) + xi)) inside = !inside
      j = i
      i += 1
    }
    inside
  }

  /** [[contains]] over a packed ring: vertices `from until until` of the
    * primitive `xs`/`ys` arrays, same edge walk and arithmetic. */
  def contains(xs: Array[Double], ys: Array[Double], from: Int, until: Int,
      px: Double, py: Double): Boolean = {
    var inside = false
    var i = from
    var j = until - 1
    while (i < until) {
      val xi = xs(i); val yi = ys(i)
      val xj = xs(j); val yj = ys(j)
      if (((yi > py) != (yj > py)) &&
        (px < (xj - xi) * (py - yi) / (yj - yi) + xi)) inside = !inside
      j = i
      i += 1
    }
    inside
  }
}

/** Native point-in-polygon predicate (J2, script_geo.py:82-88 intended
  * semantics): `contains(ring, x, y)` with whole-stage codegen. The spatial
  * join's exact test runs once per grid-bucketed candidate pair — a UDF here
  * would box every ring on every probe; this walks the packed ArrayData in
  * place.
  */
case class PointInPolygon(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression {

  override def dataType: DataType = BooleanType
  override def prettyName: String = "graft_contains"

  override def checkInputDataTypes(): TypeCheckResult = first.dataType match {
    case ArrayType(StructType(fields), _)
        if fields.length >= 2 && fields.take(2).forall(_.dataType == DoubleType) =>
      if (second.dataType == DoubleType && third.dataType == DoubleType)
        TypeCheckResult.TypeCheckSuccess
      else TypeCheckResult.TypeCheckFailure(s"$prettyName point coords must be double")
    case other =>
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires array<struct<x:double,y:double>>, got ${other.sql}")
  }

  override def nullSafeEval(ring: Any, x: Any, y: Any): Any =
    GeoKernels.contains(
      ring.asInstanceOf[ArrayData],
      x.asInstanceOf[Double], y.asInstanceOf[Double])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (r, x, y) =>
      s"${ev.value} = graft.geo.GeoKernels.contains($r, $x, $y);")

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression, newThird: Expression): PointInPolygon =
    copy(first = newFirst, second = newSecond, third = newThird)
}

object PointInPolygon {
  /** Column binding: contains(ring, x, y). */
  def contains(ring: Column, x: Column, y: Column): Column =
    GraftSqlBridge.column(PointInPolygon(
      GraftSqlBridge.expression(ring),
      GraftSqlBridge.expression(x),
      GraftSqlBridge.expression(y)))
}

package graft.geo

import org.apache.spark.sql.{Column, DataFrame, GraftSqlBridge}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodeGenerator, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** A dimension-sized parcel table packed for per-row classification
  * (SURVEY.md E1, script_geo.py:80-106 intended semantics): containment
  * first, else the parcel of the nearest vertex.
  *
  * Layout, by slot (one slot per parcel with an id and a non-empty ring):
  *  - `ids`: the parcel id, as a long;
  *  - `vx`/`vy`: every ring's vertices back to back, slot `s` owning
  *    `start(s) until start(s + 1)`;
  *  - a grid of the cells each ring's bbox overlaps — the
  *    `floor(v / cellSize)` cells and packed keys of [[Geo.pointCell]] /
  *    [[Geo.bboxCells]] — as sorted `cellKeys` with the slots of cell `c`
  *    at `cellSlots(cellStart(c) until cellStart(c + 1))`, ordered by
  *    (id, slot);
  *  - `parcels`: the parcel's other columns as Catalyst rows.
  *
  * A probe looks the point's cell up, runs the [[GeoKernels.contains]]
  * ray cast over that cell's candidates, and the first hit — the minimum
  * id when parcels overlap — wins. A located point in no parcel scans every
  * vertex once for the minimum (d², id). Both results equal the join forms
  * [[SpatialJoin.pointInPolygonJoin]] + min id and
  * [[SpatialJoin.nearestVertexJoin]]: same cells, same arithmetic, same
  * tie-break. A parcel whose ring is null, empty or has a null vertex, or
  * whose id is null, gets no slot and never matches.
  */
final class ParcelIndex private (
    ids: Array[Long], start: Array[Int], vx: Array[Double], vy: Array[Double],
    cellKeys: Array[Long], cellStart: Array[Int], cellSlots: Array[Int],
    cellSize: Double, parcels: Array[InternalRow], parcelType: StructType)
    extends Serializable {

  /** Row type of [[probe]]: `poly_id` and `parcel` are null exactly when
    * `method` is `unclassifiable`. */
  def probeType: StructType = StructType(Seq(
    StructField("poly_id", LongType),
    StructField("method", StringType, nullable = false),
    StructField("parcel", parcelType)))

  /** Per-row classification of (x, y): `struct<poly_id, method, parcel>`
    * with method `contains`, `nearest`, or `unclassifiable` for a null
    * coordinate (or an index with no parcel to fall back on). */
  def probe(x: Column, y: Column): Column =
    GraftSqlBridge.column(ParcelProbe(
      GraftSqlBridge.expression(x.cast(DoubleType)),
      GraftSqlBridge.expression(y.cast(DoubleType)), this))

  def unclassifiable: InternalRow = ParcelIndex.Unclassifiable

  /** [[probe]]'s kernel for one located point. */
  def classify(px: Double, py: Double): InternalRow = {
    val s = containing(px, py)
    if (s >= 0) hit(s, ParcelIndex.Contains)
    else {
      val n = nearest(px, py)
      if (n >= 0) hit(n, ParcelIndex.Nearest) else ParcelIndex.Unclassifiable
    }
  }

  private def hit(slot: Int, method: UTF8String): InternalRow =
    InternalRow(ids(slot), method, parcels(slot))

  /** Slot of the minimum-id parcel containing the point, or -1. */
  private def containing(px: Double, py: Double): Int = {
    val c = java.util.Arrays.binarySearch(cellKeys,
      ParcelIndex.pack(ParcelIndex.cell(px, cellSize), ParcelIndex.cell(py, cellSize)))
    if (c < 0) return -1
    var i = cellStart(c)
    while (i < cellStart(c + 1)) {
      val s = cellSlots(i)
      if (GeoKernels.contains(vx, vy, start(s), start(s + 1), px, py)) return s
      i += 1
    }
    -1
  }

  /** Slot owning the vertex of minimum (d², id), or -1 when no parcel has
    * a vertex. d² is [[Geo.sqDist]]'s expression; equal keys keep the
    * lower slot, which owns the same id. */
  private def nearest(px: Double, py: Double): Int = {
    var best = -1
    var bestD = 0.0
    var s = 0
    while (s < ids.length) {
      var v = start(s)
      while (v < start(s + 1)) {
        val d = (px - vx(v)) * (px - vx(v)) + (py - vy(v)) * (py - vy(v))
        // SQL double order: NaN sorts above every number and equals itself
        val c = java.lang.Double.compare(d, bestD)
        if (best < 0 || c < 0 || (c == 0 && ids(s) < ids(best))) { best = s; bestD = d }
        v += 1
      }
      s += 1
    }
    best
  }

  override def toString: String = s"ParcelIndex(${ids.length} parcels, ${cellKeys.length} cells)"
}

object ParcelIndex {
  private val Contains = UTF8String.fromString("contains")
  private val Nearest = UTF8String.fromString("nearest")
  private val Unclassifiable: InternalRow =
    InternalRow(null, UTF8String.fromString("unclassifiable"), null)

  /** [[Geo.pointCell]]'s cell and packed key, as plain arithmetic. */
  private def cell(v: Double, cellSize: Double): Long = math.floor(v / cellSize).toLong
  private def pack(cx: Long, cy: Long): Long = cx * 1000000L + cy

  /** Index `polys` with one `collect()`: `ringCol` is an
    * `array<struct<x, y>>`, `polyIdCol` an integral id; every other column
    * rides along in the probe's `parcel` struct. The polygon side is
    * dimension-sized — the join forms broadcast it too. */
  def collect(polys: DataFrame, ringCol: String, polyIdCol: String,
      cellSize: Double): ParcelIndex = {
    require(cellSize > 0, s"cellSize must be positive, got $cellSize")
    val attrCols = polys.columns.filterNot(_ == ringCol)
    val rows = polys.select(
      col(polyIdCol).cast(LongType),
      transform(col(ringCol), _.getField("x").cast(DoubleType)),
      transform(col(ringCol), _.getField("y").cast(DoubleType)),
      struct(attrCols.map(c => polys.col(c)): _*)).collect()
    val parcelType = StructType(attrCols.map(c => polys.schema(c)))
    val toCatalyst = CatalystTypeConverters.createToCatalystConverter(parcelType)

    def coords(r: org.apache.spark.sql.Row, i: Int): Option[Array[Double]] =
      if (r.isNullAt(i)) None
      else {
        val s = r.getSeq[Any](i)
        if (s.isEmpty || s.contains(null)) None
        else Some(s.iterator.map(_.asInstanceOf[Double]).toArray)
      }
    val valid = rows.flatMap { r =>
      for {
        id <- if (r.isNullAt(0)) None else Some(r.getLong(0))
        xs <- coords(r, 1)
        ys <- coords(r, 2)
      } yield (id, xs, ys, toCatalyst(r.getStruct(3)).asInstanceOf[InternalRow])
    }

    val ids = valid.map(_._1)
    val start = valid.scanLeft(0)(_ + _._2.length)
    val vx = valid.flatMap(_._2)
    val vy = valid.flatMap(_._3)

    // Geo.bboxCells per slot; SQL array_min/array_max order NaN above numbers
    val cells = scala.collection.mutable.ArrayBuffer[(Long, Int)]()
    for (s <- valid.indices) {
      val xs = valid(s)._2; val ys = valid(s)._3
      val cx0 = cell(xs.min(Ordering.Double.TotalOrdering), cellSize)
      val cx1 = cell(xs.max(Ordering.Double.TotalOrdering), cellSize)
      val cy0 = cell(ys.min(Ordering.Double.TotalOrdering), cellSize)
      val cy1 = cell(ys.max(Ordering.Double.TotalOrdering), cellSize)
      for (cx <- cx0 to cx1; cy <- cy0 to cy1) cells += ((pack(cx, cy), s))
    }
    val sorted = cells.distinct.sortBy { case (k, s) => (k, ids(s), s) }
    val firsts = sorted.indices.filter(i => i == 0 || sorted(i)._1 != sorted(i - 1)._1)
    new ParcelIndex(ids, start, vx, vy, firsts.map(sorted(_)._1).toArray,
      (firsts :+ sorted.length).toArray, sorted.map(_._2).toArray,
      cellSize, valid.map(_._4), parcelType)
  }
}

/** `index.probe(x, y)` as a Catalyst expression over double coordinates:
  * one per-row lookup, no join or exchange. The index rides in the plan
  * (and the task closure) as a referenced object; a null coordinate
  * classifies as `unclassifiable`. */
case class ParcelProbe(left: Expression, right: Expression, index: ParcelIndex)
    extends BinaryExpression {

  override def dataType: DataType = index.probeType
  override def nullable: Boolean = false
  override def prettyName: String = "graft_parcel_probe"

  override def eval(input: InternalRow): Any = {
    val x = left.eval(input)
    val y = right.eval(input)
    if (x == null || y == null) index.unclassifiable
    else index.classify(x.asInstanceOf[Double], y.asInstanceOf[Double])
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val idx = ctx.addReferenceObj("parcelIndex", index, classOf[ParcelIndex].getName)
    val x = left.genCode(ctx)
    val y = right.genCode(ctx)
    ev.copy(code = code"""
      ${x.code}
      ${y.code}
      ${CodeGenerator.javaType(dataType)} ${ev.value} = (${x.isNull} || ${y.isNull})
        ? $idx.unclassifiable() : $idx.classify(${x.value}, ${y.value});""",
      isNull = FalseLiteral)
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): ParcelProbe =
    copy(left = newLeft, right = newRight)
}

package graft.geo

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Spatial operators (SURVEY.md J2/J3/J4/E1): grid-bucketed
  * point-in-polygon containment join, nearest-vertex 1-NN join, and the
  * containment-first classification (the reference's intended semantics —
  * its actual code always falls through to 1-NN, §2.3 bug 1).
  *
  * Classification probes a [[ParcelIndex]]: the polygon side, which is
  * dimension-sized, is collected once and packed into primitive rings, a
  * grid of the `floor(v / cellSize)` cells each ring's bbox overlaps, and
  * a vertex list. Each point then looks its cell up, runs the exact
  * ray-casting test over that cell's candidates (minimum id wins when
  * parcels overlap), and a point in no parcel takes the parcel of the
  * vertex with minimum (d², id). That is one narrow pass over the points —
  * no join, aggregate, union or exchange.
  *
  * The two joins remain the general form for ad-hoc point × polygon
  * queries (and what [[graft.plans.SpatialJoinRewrite]] plans naive SQL
  * into): both sides are bucketed into grid cells (J4), points to exactly
  * one cell, polygons replicated per bbox-overlapped cell, joined on the
  * cell id — broadcastable when the parcel side is dim-sized,
  * shuffle-partitioned otherwise. A (point, polygon) pair meets in at most
  * one cell — the point's — so no post-join dedup is needed.
  */
object SpatialJoin {

  /** Grid-bucketed point-in-polygon join (inner). `points` must carry
    * (xCol, yCol); `polys` a ring column. Returns matched rows with both
    * sides' columns. cellSize should be on the order of a typical polygon
    * bbox edge: too small replicates polygons, too large floods candidates.
    */
  def pointInPolygonJoin(
      points: DataFrame, polys: DataFrame,
      xCol: String, yCol: String, ringCol: String,
      cellSize: Double, broadcastPolys: Boolean = true): DataFrame = {
    val pts = points.withColumn("__cell", Geo.pointCell(col(xCol), col(yCol), cellSize))
    val pls0 = polys.withColumn("__cell", explode(Geo.bboxCells(col(ringCol), cellSize)))
    val pls = if (broadcastPolys) broadcast(pls0) else pls0
    pts.join(pls, Seq("__cell"))
      .filter(PointInPolygon.contains(col(ringCol), col(xCol), col(yCol)))
      .drop("__cell")
  }

  /** J3: nearest-vertex 1-NN join — for every point, the polygon owning the
    * globally nearest vertex (script_geo.py:92-105 semantics, with the owner
    * carried through the argmin instead of the reference's float-equality
    * re-join, F9). Vertex side is exploded once and broadcast (dim-sized);
    * the per-point argmin is a partial aggregate — no shuffle of the point
    * side beyond the final group, and ties break on (distance, polygon id)
    * for determinism.
    */
  def nearestVertexJoin(
      points: DataFrame, polys: DataFrame,
      xCol: String, yCol: String, ringCol: String, polyIdCol: String): DataFrame = {
    val verts = polys.select(col(polyIdCol).as("__pid"), explode(col(ringCol)).as("__v"))
      .select(col("__pid"), col("__v.x").as("__vx"), col("__v.y").as("__vy"))
    val d2 = Geo.sqDist(col(xCol), col(yCol), col("__vx"), col("__vy"))
    points.join(broadcast(verts))
      .groupBy(points.columns.map(col): _*)
      .agg(min_by(
        struct(col("__pid").as("nn_poly"), col("__vx").as("nn_x"), col("__vy").as("nn_y"),
          d2.as("nn_d2")),
        struct(d2, col("__pid"))).as("__nn"))
      .select(points.columns.map(col) :+ col("__nn.nn_poly") :+ col("__nn.nn_x")
        :+ col("__nn.nn_y") :+ col("__nn.nn_d2"): _*)
  }

  /** E1 classification core, intended semantics (SURVEY §2.3 bugs 1-2
    * fixed): containment first, nearest-vertex fallback for points in no
    * polygon, `unclassifiable` for points with a null coordinate. Output:
    * every input point exactly once, as (idCol, poly_id, method), in one
    * narrow pass over `points` against a [[ParcelIndex]] of `polys` (one
    * small `collect()`). Equal to [[pointInPolygonJoin]] + min polygon id,
    * then [[nearestVertexJoin]] for the rest; `polyIdCol` must be integral.
    */
  def classify(
      points: DataFrame, polys: DataFrame,
      idCol: String, xCol: String, yCol: String,
      ringCol: String, polyIdCol: String, cellSize: Double): DataFrame =
    points
      .withColumn("__hit",
        ParcelIndex.collect(polys, ringCol, polyIdCol, cellSize).probe(col(xCol), col(yCol)))
      .select(col(idCol), col("__hit.poly_id").as("poly_id"), col("__hit.method").as("method"))

  /** The reference's composite business key (script_geo.py:197):
    * `CODIGO_SECCION_TIPOUSO_APL`, or the unclassifiable sentinel
    * (script_geo.py:199). */
  def indice(codigo: Column, seccion: Column, tipouso: Column, apl: Column,
      method: Column): Column =
    when(method === "unclassifiable", lit("IMAGEN NO CLASIFICABLE"))
      .otherwise(concat_ws("_", codigo, seccion, tipouso, apl))
}

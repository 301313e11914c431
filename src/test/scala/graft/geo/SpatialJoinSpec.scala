package graft.geo

import graft.GraftSuite
import org.apache.spark.sql.functions._

class SpatialJoinSpec extends GraftSuite {
  import spark.implicits._

  // two parcels: unit squares at [0,2]² and [4,6]×[0,2]
  private lazy val polys = Seq(
    (10L, Seq((0.0, 0.0), (2.0, 0.0), (2.0, 2.0), (0.0, 2.0))),
    (20L, Seq((4.0, 0.0), (6.0, 0.0), (6.0, 2.0), (4.0, 2.0)))
  ).toDF("pid", "pts")
    .select($"pid",
      transform($"pts", p => struct(p.getField("_1").as("x"), p.getField("_2").as("y")))
        .as("ring"))

  private lazy val points = Seq(
    (1L, Some(1.0), Some(1.0)),   // inside parcel 10
    (2L, Some(5.0), Some(1.5)),   // inside parcel 20
    (3L, Some(3.0), Some(1.0)),   // gap between parcels → NN fallback
    (4L, Some(2.9), Some(1.0)),   // gap, nearer parcel 10's right edge
    (5L, None, None)              // no coords → unclassifiable
  ).toDF("id", "px", "py")

  test("pointInPolygonJoin: containment matches, gap points excluded") {
    val out = SpatialJoin.pointInPolygonJoin(
      points.filter($"px".isNotNull), polys, "px", "py", "ring", cellSize = 2.0)
      .select("id", "pid").as[(Long, Long)].collect().toSet
    assert(out === Set((1L, 10L), (2L, 20L)))
  }

  test("grid-bucketed join equals naive cross-join containment") {
    val naive = points.filter($"px".isNotNull).crossJoin(polys)
      .filter(PointInPolygon.contains($"ring", $"px", $"py"))
      .select("id", "pid").as[(Long, Long)].collect().toSet
    for (cell <- Seq(0.5, 1.0, 3.0, 10.0)) {
      val bucketed = SpatialJoin.pointInPolygonJoin(
        points.filter($"px".isNotNull), polys, "px", "py", "ring", cellSize = cell)
        .select("id", "pid").as[(Long, Long)].collect().toSet
      assert(bucketed === naive, s"cellSize=$cell")
    }
  }

  test("nearestVertexJoin: nearest vertex owner wins, ties break on poly id") {
    val out = SpatialJoin.nearestVertexJoin(
      points.filter($"px".isNotNull), polys, "px", "py", "ring", "pid")
      .select("id", "nn_poly").as[(Long, Long)].collect().toMap
    assert(out(3L) === 10L) // equidistant to (2,0)/(2,2) of 10 and (4,0)/(4,2) of 20? no:
    // (3,1): d² to 10's (2,0)=2, (2,2)=2; to 20's (4,0)=2, (4,2)=2 → tie → min pid
    assert(out(4L) === 10L) // strictly nearer to 10's right edge vertices
  }

  test("classify: containment first, NN fallback, unclassifiable sentinel") {
    val out = SpatialJoin.classify(
      points, polys, "id", "px", "py", "ring", "pid", cellSize = 2.0)
      .select("id", "poly_id", "method")
      .collect().map(r => r.getLong(0) -> ((Option(r.get(1)), r.getString(2)))).toMap
    assert(out(1L) === ((Some(10L), "contains")))
    assert(out(2L) === ((Some(20L), "contains")))
    assert(out(3L) === ((Some(10L), "nearest")))
    assert(out(4L) === ((Some(10L), "nearest")))
    assert(out(5L) === ((None, "unclassifiable")))
    assert(out.size === 5)
  }

  test("classify: a point in N overlapping polygons emits exactly one row") {
    // two coincident unit squares both containing (1,1)
    val overlapping = Seq(
      (10L, Seq((0.0, 0.0), (2.0, 0.0), (2.0, 2.0), (0.0, 2.0))),
      (11L, Seq((0.0, 0.0), (2.0, 0.0), (2.0, 2.0), (0.0, 2.0)))
    ).toDF("pid", "pts")
      .select($"pid",
        transform($"pts", p => struct(p.getField("_1").as("x"), p.getField("_2").as("y")))
          .as("ring"))
    val out = SpatialJoin.classify(
      points, overlapping, "id", "px", "py", "ring", "pid", cellSize = 2.0)
      .select("id", "poly_id", "method").collect()
    assert(out.length === 5, "every input point exactly once")
    val p1 = out.filter(_.getLong(0) == 1L)
    assert(p1.length === 1)
    assert(p1.head.getLong(1) === 10L && p1.head.getString(2) === "contains")
  }

  private def ringsDF(parcels: Seq[(Long, Option[Seq[(Double, Double)]])]) =
    parcels.toDF("pid", "pts")
      .select($"pid",
        transform($"pts", p => struct(p.getField("_1").as("x"), p.getField("_2").as("y")))
          .as("ring"))

  /** The join form of classify: naive cross-join containment with min
    * polygon id, then nearestVertexJoin over every parcel for the rest. */
  private def joinReference(pts: org.apache.spark.sql.DataFrame,
      pls: org.apache.spark.sql.DataFrame): Map[Long, (Option[Long], String)] = {
    val located = pts.filter($"px".isNotNull && $"py".isNotNull)
    val contained = located.crossJoin(pls)
      .filter(PointInPolygon.contains($"ring", $"px", $"py"))
      .groupBy("id").agg(min("pid").as("pid"))
      .as[(Long, Long)].collect().toMap
    val nearest = SpatialJoin.nearestVertexJoin(
      located.filter(!$"id".isin(contained.keys.toSeq: _*)), pls, "px", "py", "ring", "pid")
      .select("id", "nn_poly").as[(Long, Long)].collect().toMap
    pts.select("id").as[Long].collect().map { id =>
      id -> contained.get(id).map(p => (Option(p), "contains"))
        .orElse(nearest.get(id).map(p => (Option(p), "nearest")))
        .getOrElse((None, "unclassifiable"))
    }.toMap
  }

  private def classified(pts: org.apache.spark.sql.DataFrame,
      pls: org.apache.spark.sql.DataFrame, cell: Double): Seq[(Long, (Option[Long], String))] =
    SpatialJoin.classify(pts, pls, "id", "px", "py", "ring", "pid", cell)
      .collect().toSeq
      .map(r => r.getLong(0) -> ((Option(r.get(1)).map(_.asInstanceOf[Long]), r.getString(2))))

  test("classify: index probe equals the join form on random star parcels") {
    val rnd = new scala.util.Random(20260817L)
    // 5×5 star polygons on a 4-unit lattice with radii up to 3: neighbours
    // overlap in places and leave gaps in others
    val stars = for (i <- 0 until 5; j <- 0 until 5) yield {
      val n = 5 + rnd.nextInt(8)
      (i * 5 + j).toLong * 3 + 7 -> (0 until n).map { k =>
        val a = 2 * math.Pi * k / n
        val r = 1.0 + 2.0 * rnd.nextDouble()
        (4.0 * i + r * math.cos(a), 4.0 * j + r * math.sin(a))
      }
    }
    val square = (x0: Double) => Seq((x0, 0.0), (x0 + 2, 0.0), (x0 + 2, 2.0), (x0, 2.0))
    val extra = Seq(
      1000L -> stars(6)._2,                                // coincident with a star
      1L -> stars(12)._2.map { case (x, y) => (x + 0.7, y + 0.4) }, // overlaps, lower id
      2001L -> square(40.0), 2000L -> square(44.0))       // (43, 1): equidistant gap
    val parcels = (stars ++ extra).map { case (id, ring) => id -> Option(ring) }
    val pls = ringsDF(parcels)

    val onVertex = parcels.flatMap(_._2.get.take(2)).map { case (x, y) => (Option(x), Option(y)) }
    val random = Seq.fill(250)((Option(-3.0 + 22 * rnd.nextDouble()),
      Option(-3.0 + 22 * rnd.nextDouble())))
    val lattice = for (x <- -1 to 17 by 3; y <- -1 to 17 by 2)
      yield (Option(x.toDouble), Option(y.toDouble))
    val special = Seq((Option(43.0), Option(1.0)), (Option(42.0), Option(1.0)),
      (None, Option(1.0)), (Option(1.0), None), (None, None))
    val pts = (onVertex ++ random ++ lattice ++ special).zipWithIndex
      .map { case ((x, y), i) => (i.toLong, x, y) }.toDF("id", "px", "py")

    val expected = joinReference(pts, pls)
    assert(expected.values.count(_._2 == "contains") > 50)
    assert(expected.values.count(_._2 == "nearest") > 20)
    assert(expected(pts.count() - 5) === ((Some(2000L), "nearest")), "(43, 1): tie → min id")
    // a local relation evaluates the probe interpreted at planning time;
    // an RDD-backed copy runs it in generated code on the executors
    val ptsRdd = spark.createDataFrame(pts.rdd, pts.schema)
    for (cell <- Seq(0.5, 1.0, 3.0, 10.0); input <- Seq(pts, ptsRdd)) {
      val out = classified(input, pls, cell)
      assert(out.size === expected.size, s"cellSize=$cell: every point exactly once")
      assert(out.toMap === expected, s"cellSize=$cell")
    }
  }

  test("classify: a null or empty ring never matches and does not fail the batch") {
    val pls = ringsDF(Seq(
      1L -> None,                                        // null ring
      2L -> Some(Seq.empty),                             // empty ring
      30L -> Some(Seq((4.0, 0.0), (6.0, 0.0), (6.0, 2.0), (4.0, 2.0)))))
    val pts = Seq((1L, Some(1.0), Some(1.0)), (2L, Some(5.0), Some(1.0)),
      (3L, None, None)).toDF("id", "px", "py")
    for (cell <- Seq(0.5, 2.0)) {
      assert(classified(pts, pls, cell).toMap === Map(
        1L -> ((Some(30L), "nearest")),
        2L -> ((Some(30L), "contains")),
        3L -> ((None, "unclassifiable"))), s"cellSize=$cell")
    }
    // no well-formed parcel at all: nothing to fall back on, every row kept
    val none = classified(pts, pls.filter($"pid" < 10L), 2.0).toMap
    assert(none.values.toSet === Set((None, "unclassifiable")) && none.size === 3)
  }

  test("indice: composite key and sentinel (script_geo.py:197,199)") {
    val df = Seq(
      ("C1", "S2", "PINO", "7", "contains"),
      ("C1", "S2", "PINO", "7", "unclassifiable")
    ).toDF("c", "s", "t", "a", "m")
    val out = df.select(SpatialJoin.indice($"c", $"s", $"t", $"a", $"m"))
      .as[String].collect().toSeq
    assert(out === Seq("C1_S2_PINO_7", "IMAGEN NO CLASIFICABLE"))
  }
}

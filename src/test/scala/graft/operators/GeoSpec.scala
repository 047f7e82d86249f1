package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSuite
import graft.store.Scratch

class GeoSpec extends AnyFunSuite with SparkSuite {
  import spark.implicits._

  private def dist(lat1: Double, lon1: Double, lat2: Double, lon2: Double): Double =
    Seq((lat1, lon1, lat2, lon2)).toDF("a", "b", "c", "d")
      .select(Geo.haversineKm(col("a"), col("b"), col("c"), col("d")).as("km"))
      .head().getDouble(0)

  test("haversine matches hand-computed distances") {
    // Paris (48.8566, 2.3522) -> London (51.5074, -0.1278)
    assert(math.abs(dist(48.8566, 2.3522, 51.5074, -0.1278) - 343.5565) < 0.01)
    // one degree of longitude at the equator = 2πR/360
    assert(math.abs(dist(0, 0, 0, 1) - 111.19508) < 0.001)
    assert(dist(12.34, 56.78, 12.34, 56.78) == 0.0)
    // symmetry
    assert(dist(10, 20, 30, 40) == dist(30, 40, 10, 20))
  }

  test("antipodal points: clamp guards asin against rounding, distance = πR") {
    val piR = math.Pi * Geo.EarthRadiusKm
    val a = dist(0, 0, 0, 180)
    val b = dist(90, 0, -90, 0)
    assert(!a.isNaN && !b.isNaN)
    assert(math.abs(a - piR) < 1e-6 && math.abs(b - piR) < 1e-6)
  }

  test("withinRadius keeps exactly the points inside, excludes the rest") {
    // distances from (0,0): (0,1)≈111.2, (1,0)≈111.2, (0,3)≈333.6, (45,45)≈6672
    val pts = Seq((1L, 0.0, 1.0), (2L, 1.0, 0.0), (3L, 0.0, 3.0), (4L, 45.0, 45.0))
      .toDF("id", "lat", "lon")
    val got = Geo.withinRadius(pts, "lat", "lon", 0.0, 0.0, 200.0)
      .select("id").as[Long].collect().sorted.toSeq
    assert(got == Seq(1L, 2L))
    val wide = Geo.withinRadius(pts, "lat", "lon", 0.0, 0.0, 400.0)
      .select("id").as[Long].collect().sorted.toSeq
    assert(wide == Seq(1L, 2L, 3L))
  }

  test("withinRadius near a pole and across the antimeridian stays exact") {
    val pts = Seq((1L, 89.5, 0.0), (2L, 89.5, 180.0), (3L, 80.0, 90.0),
      (4L, 0.0, 179.9), (5L, 0.0, -179.9)).toDF("id", "lat", "lon")
    // pole box: (89.5,0) and (89.5,180) are ~111 km apart over the pole;
    // the lon bound degenerates to pass-through, the refine stays exact
    val polar = Geo.withinRadius(pts, "lat", "lon", 90.0, 0.0, 120.0)
      .select("id").as[Long].collect().sorted.toSeq
    assert(polar == Seq(1L, 2L))
    // antimeridian: (0,179.9) and (0,-179.9) are ~22 km apart; a naive
    // [-180,180]-clamped box around center lon 179.95 would drop id 5
    val anti = Geo.withinRadius(pts, "lat", "lon", 0.0, 179.95, 50.0)
      .select("id").as[Long].collect().sorted.toSeq
    assert(anti == Seq(4L, 5L))
  }

  test("bounding-box prefilter reaches the parquet scan as pushed filters") {
    val dir = Scratch.dir(spark, "geo") + "/pts"
    Seq((1L, 10.0, 20.0), (2L, 50.0, 60.0)).toDF("id", "lat", "lon")
      .write.parquet(dir)
    // default metadata truncation (100 chars) cuts the PushedFilters list
    // before the lon bounds appear in toString
    spark.conf.set("spark.sql.maxMetadataStringLength", 2000)
    val plan = Geo.withinRadius(spark.read.parquet(dir), "lat", "lon", 10.0, 20.0, 100.0)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") &&
      plan.contains("GreaterThanOrEqual(lat") && plan.contains("LessThanOrEqual(lon"),
      s"bounding box not pushed:\n$plan")
  }

  test("nearestK ranks by distance with id tie-break, k per probe") {
    val pts = Seq((1L, 0.0, 1.0), (2L, 0.0, 2.0), (3L, 0.0, 3.0),
      (4L, 0.0, -1.0), (5L, 10.0, 10.0)).toDF("id", "lat", "lon")
    val probes = Seq((100L, 0.0, 0.0)).toDF("pid", "plat", "plon")
    val got = Geo.nearestK(pts, "id", "lat", "lon", probes, "pid", "plat", "plon", k = 3)
      .orderBy("rn").select("id", "rn").as[(Long, Int)].collect().toSeq
    // (0,1) and (0,-1) are equidistant: id ascending breaks the tie
    assert(got == Seq((1L, 1), (4L, 2), (2L, 3)))
  }

  test("nearestK distances agree with haversine recomputation") {
    val pts = Seq((1L, 48.8566, 2.3522)).toDF("id", "lat", "lon")
    val probes = Seq((7L, 51.5074, -0.1278)).toDF("pid", "plat", "plon")
    val d = Geo.nearestK(pts, "id", "lat", "lon", probes, "pid", "plat", "plon", k = 1)
      .select("dist_km").head().getDouble(0)
    assert(math.abs(d - 343.5565) < 0.01)
  }

  // deterministic pseudo-random globe coverage: includes polar caps and
  // both sides of the antimeridian (lat in [-90, 90), lon in [-180, 180))
  private def globePts(n: Int) =
    (1 to n).map { i =>
      (i.toLong, ((i * 7919) % 1800) / 10.0 - 90.0, ((i * 104729) % 3600) / 10.0 - 180.0)
    }.toDF("id", "lat", "lon")

  private def brutePairs(pts: org.apache.spark.sql.DataFrame, r: Double): Set[(Long, Long)] = {
    val a = pts.select(col("id").as("a_id"), col("lat").as("a_lat"), col("lon").as("a_lon"))
    val b = pts.select(col("id").as("b_id"), col("lat").as("b_lat"), col("lon").as("b_lon"))
    a.crossJoin(b).filter(col("a_id") < col("b_id"))
      .filter(Geo.haversineKm(col("a_lat"), col("a_lon"), col("b_lat"), col("b_lon")) <= lit(r))
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
  }

  test("radiusJoin equals the brute-force cross join, each pair exactly once") {
    for (r <- Seq(300.0, 1200.0, 5000.0)) {
      val pts = globePts(180)
      val got = Geo.radiusJoin(pts, "id", "lat", "lon", pts, "id", "lat", "lon", r)
        .filter(col("a_id") < col("b_id"))
        .select("a_id", "b_id").as[(Long, Long)].collect().toSeq
      val want = brutePairs(pts, r)
      assert(got.size == got.toSet.size, s"r=$r: duplicate pair emitted")
      assert(got.toSet == want, s"r=$r: got ${got.size} want ${want.size}")
      assert(want.nonEmpty, s"r=$r: vacuous fixture")
    }
  }

  test("radiusJoin finds antimeridian and polar-cap pairs") {
    val pts = Seq((1L, 0.0, 179.9), (2L, 0.0, -179.9), // ~22 km across the seam
      (3L, 89.6, 10.0), (4L, 89.7, -170.0),            // near-pole, lon far apart
      (5L, -45.0, 0.0)).toDF("id", "lat", "lon")
    val got = Geo.radiusJoin(pts, "id", "lat", "lon", pts, "id", "lat", "lon", 150.0)
      .filter(col("a_id") < col("b_id"))
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    assert(got == Set((1L, 2L), (3L, 4L)))
  }

  test("withinPolygon: convex, concave, horizontal-edge, and winding cases") {
    val pts = Seq(
      (1L, 0.5, 0.5),   // center of unit square
      (2L, 1.5, 0.5),   // above
      (3L, -0.5, 0.5),  // below
      (4L, 0.5, 1.5),   // right
      (5L, 0.5, -0.5),  // left
      (6L, 0.25, 0.75), // inside
      (7L, 2.0, 2.0)    // far outside
    ).toDF("id", "lat", "lon")
    val square = Seq((0.0, 0.0), (0.0, 1.0), (1.0, 1.0), (1.0, 0.0))
    def in(poly: Seq[(Double, Double)]): Set[Long] =
      pts.filter(Geo.withinPolygon(col("lat"), col("lon"), poly))
        .select("id").as[Long].collect().toSet
    assert(in(square) == Set(1L, 6L))
    assert(in(square.reverse) == Set(1L, 6L)) // winding-independent
    // concave L-shape: the notch (0.5..1, 0.5..1) is OUTSIDE
    val lShape = Seq((0.0, 0.0), (0.0, 1.0), (0.5, 1.0), (0.5, 0.5),
      (1.0, 0.5), (1.0, 0.0))
    assert(in(lShape) == Set(6L)) // (0.5,0.5)-corner point 1 excluded; 6 inside
    // triangle with a horizontal edge: no division blow-up
    val tri = Seq((0.0, 0.0), (0.0, 1.0), (1.0, 0.5))
    assert(in(tri) == Set(1L, 6L))
  }

  test("withinPolygon agrees with an independent java.awt implementation") {
    val poly = Seq((10.0, 20.0), (15.0, 35.0), (30.0, 30.0), (25.0, 10.0), (18.0, 15.0))
    val path = new java.awt.geom.Path2D.Double()
    path.moveTo(poly.head._2, poly.head._1)
    poly.tail.foreach { case (y, x) => path.lineTo(x, y) }
    path.closePath()
    val pts = (1 to 400).map { i =>
      (i.toLong, ((i * 7919) % 300) / 10.0 + 5.0, ((i * 104729) % 350) / 10.0 + 5.0)
    }
    val got = pts.toDF("id", "lat", "lon")
      .filter(Geo.withinPolygon(col("lat"), col("lon"), poly))
      .select("id").as[Long].collect().toSet
    val want = pts.filter { case (_, la, lo) => path.contains(lo, la) }.map(_._1).toSet
    assert(got == want)
    assert(want.nonEmpty && want.size < pts.size)
  }

  test("radiusJoin across two distinct tables keeps both coordinate sets") {
    val stores = Seq((10L, 48.85, 2.35)).toDF("sid", "slat", "slon")
    val custs = Seq((1L, 48.80, 2.30), (2L, 51.50, -0.13)).toDF("cid", "clat", "clon")
    val got = Geo.radiusJoin(stores, "sid", "slat", "slon", custs, "cid", "clat", "clon", 50.0)
    assert(got.columns.toSet == Set("a_id", "a_lat", "a_lon", "b_id", "b_lat", "b_lon"))
    assert(got.select("a_id", "b_id").as[(Long, Long)].collect().toSeq == Seq((10L, 1L)))
  }

  test("pointInPolyCol agrees with the constant-unrolled withinPolygon on a grid") {
    import spark.implicits._
    val poly = Seq((5.0, -20.0), (35.0, -10.0), (30.0, 25.0), (15.0, 5.0), (0.0, 20.0))
    val pts = (for { la <- -5 to 40 by 3; lo <- -25 to 30 by 3 }
      yield (la.toDouble + 0.17, lo.toDouble + 0.17)).toDF("lat", "lon")
    val withArrays = pts
      .withColumn("lats", typedLit(poly.map(_._1)))
      .withColumn("lons", typedLit(poly.map(_._2)))
    val viaConst = pts.filter(Geo.withinPolygon(col("lat"), col("lon"), poly))
      .collect().map(r => (r.getDouble(0), r.getDouble(1))).toSet
    val viaCol = withArrays
      .filter(Geo.pointInPolyCol(col("lat"), col("lon"), col("lats"), col("lons")))
      .select("lat", "lon").collect().map(r => (r.getDouble(0), r.getDouble(1))).toSet
    assert(viaConst == viaCol && viaConst.nonEmpty)
  }

  test("polygonJoin equals the brute-force cross join + per-polygon test") {
    import spark.implicits._
    val polys = Seq(
      (1L, Seq(5.0, 35.0, 30.0, 15.0, 0.0), Seq(-20.0, -10.0, 25.0, 5.0, 20.0)),
      (2L, Seq(-40.0, -30.0, -20.0, -30.0), Seq(-100.0, -85.0, -100.0, -115.0))
    ).toDF("poly_id", "lats", "lons")
    val pts = (1L to 300L).map(i =>
      (i, ((i * 37) % 1400) / 10.0 - 70.0 + 0.05, ((i * 91) % 3600) / 10.0 - 180.0 + 0.05))
      .toDF("id", "lat", "lon")
    val joined = Geo.polygonJoin(pts, "id", "lat", "lon",
        polys, "poly_id", "lats", "lons")
      .select("id", "poly_id").as[(Long, Long)].collect().toSet
    val brute = pts.crossJoin(polys)
      .filter(Geo.pointInPolyCol(col("lat"), col("lon"), col("lats"), col("lons")))
      .select("id", "poly_id").as[(Long, Long)].collect().toSet
    assert(joined == brute && joined.nonEmpty)
  }

  test("polygonJoin cap fails loudly on a bbox too large for the grid") {
    import spark.implicits._
    val world = Seq((1L, Seq(-69.0, 69.0, 69.0, -69.0), Seq(-179.0, -179.0, 179.0, 179.0)))
      .toDF("poly_id", "lats", "lons")
    val pts = Seq((1L, 0.0, 0.0)).toDF("id", "lat", "lon")
    val e = intercept[IllegalArgumentException] {
      Geo.polygonJoin(pts, "id", "lat", "lon", world, "poly_id", "lats", "lons",
        cellDeg = 1.0, maxCellsPerPoly = 1000L)
    }
    assert(e.getMessage.contains("grid cells"))
  }
}

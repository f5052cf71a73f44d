package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.engine.Geometry
import graft.engine.Geometry.Bbox

/** OP-MISC-2 bbox kernels (`geometry_processor.py:42-189`) + OP-STR-1. */
class GeometrySpec extends AnyFunSuite {

  test("point → ±0.125° box, [lat, lon] and [lon, lat] accepted") {
    // |lon| > 90 makes [lat, lon] unambiguous — no swap
    val b = Geometry.pointOuterBounds(Seq(45.5, -120.0))
    assert(b == Bbox(45.625, -120.125, 45.375, -119.875))
    // [lon, lat] order of the same point triggers the permissive swap
    assert(Geometry.pointOuterBounds(Seq(-120.0, 45.5)) == b)
    // NOTE (reference fidelity, geometry_processor.py:100-101): an
    // ambiguous [lat, lon] point with |lon| <= 90 also swaps — replicated.
    assert(Geometry.pointOuterBounds(Seq(45.5, -73.6)) ==
      Geometry.pointOuterBounds(Seq(45.5, -73.6).reverse).copy(
        n = -73.475, w = 45.375, s = -73.725, e = 45.625))
  }

  test("min-span expansion to 0.251°") {
    val b = Geometry.ensureMinBboxSize(Bbox(45.1, -73.1, 45.0, -73.0))
    assert(math.abs((b.n - b.s) - 0.251) < 1e-12)
    assert(math.abs((b.e - b.w) - 0.251) < 1e-12)
    assert(math.abs((b.n + b.s) / 2 - 45.05) < 1e-12) // centered
    // spans already >= min are untouched
    val big = Bbox(50.0, -80.0, 40.0, -70.0)
    assert(Geometry.ensureMinBboxSize(big) == big)
  }

  test("lon/lat order sniffing per ring") {
    // values beyond ±90 in slot 1 → must be [lat, lon]
    assert(Geometry.inferLonLatIndices(Seq(Seq(45.0, 120.0))) == (1, 0))
    // everything in range → GeoJSON [lon, lat] assumed
    assert(Geometry.inferLonLatIndices(Seq(Seq(45.0, 45.0))) == (0, 1))
  }

  test("polygon and multipolygon bbox") {
    val ring = Seq(Seq(-73.0, 45.0), Seq(-72.0, 45.0), Seq(-72.0, 46.0),
      Seq(-73.0, 46.0), Seq(-73.0, 45.0)) // [lon, lat]
    assert(Geometry.polygonBbox(ring) == Bbox(46.0, -73.0, 45.0, -72.0))
    val ring2 = ring.map(p => p.map(_ + 2.0))
    val mb = Geometry.multiPolygonBbox(Seq(ring, ring2))
    assert(mb == Bbox(48.0, -73.0, 45.0, -70.0))
  }

  test("union bbox") {
    val u = Geometry.unionBbox(Seq(Bbox(46, -73, 45, -72), Bbox(48, -71, 47, -70)))
    assert(u == Bbox(48, -73, 45, -70))
  }

  test("region id synthesis format (OP-STR-1)") {
    assert(Geometry.regionId(3, Bbox(46.0, -73.5, 45.0, -72.5)) ==
      "r3_45.0to46.0_-73.5to-72.5")
  }

  test("pointInPolygon: non-convex L-shape, notch excluded") {
    val sp = SparkSpec.spark
    import sp.implicits._
    import org.apache.spark.sql.functions._
    // L-shape: unit squares minus the top-right quadrant notch
    val xs = Seq(0.0, 8.0, 8.0, 4.0, 4.0, 0.0)
    val ys = Seq(0.0, 0.0, 4.0, 4.0, 8.0, 8.0)
    val pts = Seq((2.0, 2.0, true),   // lower arm
      (6.0, 2.0, true),               // right arm
      (2.0, 6.0, true),               // upper arm
      (6.0, 6.0, false),              // inside bbox but in the notch
      (9.0, 1.0, false), (-1.0, 4.0, false)) // outside bbox
      .toDF("px", "py", "want")
    val out = pts.select(col("want"),
      Geometry.pointInPolygonLiteral(col("px"), col("py"), xs, ys).as("got"))
      .collect()
    out.foreach(r => assert(r.getBoolean(0) == r.getBoolean(1), r))
    // a ring of fewer than 3 vertices encloses nothing: rejected up front
    intercept[IllegalArgumentException](Geometry.pointInPolygonLiteral(
      lit(1.0), lit(1.0), Seq(0.0, 2.0), Seq(0.0, 2.0)))
  }

  test("haversineKm: quarter-meridian and zero-distance goldens") {
    import org.apache.spark.sql.functions._
    val d = SparkSpec.spark.range(1).select(Geometry.haversineKm(lit(0.0), lit(0.0),
      lit(90.0), lit(0.0)).as("q"), Geometry.haversineKm(lit(45.0),
      lit(45.0), lit(45.0), lit(45.0)).as("z")).head()
    assert(math.abs(d.getDouble(0) - 10007.5) < 1.0) // πR/2
    assert(d.getDouble(1) == 0.0)
  }
}

package graft.engine

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** OP-MISC-2 / OP-SRC-4 — geometry→bbox kernels and the GeoJSON feature
  * reader. The reference only ever consumes bounding boxes, never true
  * geometry (`Geometry/geometry_processor.py:11-36`), so the engine's
  * geometry type is simply `[N, W, S, E]` (ERA5 order).
  *
  * The per-feature kernels are driver-side pure functions (they run over a
  * handful of regions, `main.py:405-441`); the *data*-side bbox aggregation
  * (bbox of millions of points) is [[bboxAgg]], a distributed min/max
  * aggregate (OP-AGG-4).
  */
object Geometry {

  /** [N, W, S, E] bbox (`geometry_processor.py:13-17`). */
  final case class Bbox(n: Double, w: Double, s: Double, e: Double) {
    def toSeq: Seq[Double] = Seq(n, w, s, e)
  }

  val PointOffset = 0.125 // degrees, geometry_processor.py:103
  val MinBboxSpan = 0.251 // degrees, geometry_processor.py:111

  type Coord = Seq[Double]
  type Ring = Seq[Coord]

  /** Coordinate-order sniffing (`geometry_processor.py:42-58`): if every
    * point reads as [lon, lat] under range checks, assume GeoJSON [lon,
    * lat]; otherwise [lat, lon]. Returns (lonIdx, latIdx).
    */
  def inferLonLatIndices(ring: Ring): (Int, Int) = {
    require(ring.nonEmpty && ring.forall(_.length >= 2),
      "Ring malformed: expected list of [x, y] coordinates.")
    val looksLonLat = ring.forall(p => math.abs(p(0)) <= 180 &&
      math.abs(p(1)) <= 90)
    if (looksLonLat) (0, 1) else (1, 0)
  }

  /** ±0.125° box around a point; permissive about [lat, lon] vs [lon, lat]
    * (`geometry_processor.py:85-108`).
    */
  def pointOuterBounds(point: Coord): Bbox = {
    require(point.length >= 2, "Point malformed")
    var lat = point(0)
    var lon = point(1)
    if (math.abs(lat) <= 180 && math.abs(lon) <= 90) {
      val t = lat; lat = lon; lon = t
    }
    Bbox(lat + PointOffset, lon - PointOffset, lat - PointOffset,
      lon + PointOffset)
  }

  /** Symmetric expansion to the 0.251° minimum span
    * (`geometry_processor.py:110-137`) — guarantees ≥2 ERA5 grid points per
    * axis.
    */
  def ensureMinBboxSize(b: Bbox, minDelta: Double = MinBboxSpan): Bbox = {
    var Bbox(n, w, s, e) = b
    if (math.abs(n - s) < minDelta) {
      val c = (n + s) / 2; n = c + minDelta / 2; s = c - minDelta / 2
    }
    if (math.abs(e - w) < minDelta) {
      val c = (e + w) / 2; e = c + minDelta / 2; w = c - minDelta / 2
    }
    Bbox(n, w, s, e)
  }

  /** Outer-ring bbox of a polygon (ring or GeoJSON polygon-with-holes),
    * `geometry_processor.py:139-158`.
    */
  def polygonBbox(outerRing: Ring): Bbox = {
    val (lonI, latI) = inferLonLatIndices(outerRing)
    val lats = outerRing.map(_(latI))
    val lons = outerRing.map(_(lonI))
    ensureMinBboxSize(Bbox(lats.max, lons.min, lats.min, lons.max))
  }

  /** Union bbox over all outer rings of a multipolygon
    * (`geometry_processor.py:160-189`). Order is sniffed per-ring, as in the
    * reference.
    */
  def multiPolygonBbox(outerRings: Seq[Ring]): Bbox = {
    require(outerRings.nonEmpty, "MultiPolygon malformed or empty.")
    val pts = outerRings.flatMap { ring =>
      val (lonI, latI) = inferLonLatIndices(ring)
      ring.map(p => (p(latI), p(lonI)))
    }
    ensureMinBboxSize(Bbox(pts.map(_._1).max, pts.map(_._2).min,
      pts.map(_._1).min, pts.map(_._2).max))
  }

  /** Union of region bboxes (`main.py:443-453`): max N, min W, min S, max E. */
  def unionBbox(bs: Seq[Bbox]): Bbox =
    Bbox(bs.map(_.n).max, bs.map(_.w).min, bs.map(_.s).min, bs.map(_.e).max)

  /** Region-id synthesis `r{i}_{S}to{N}_{W}to{E}` (OP-STR-1,
    * `main.py:214-221`).
    */
  def regionId(i: Int, b: Bbox): String =
    String.format(java.util.Locale.ROOT, "r%d_%.1fto%.1f_%.1fto%.1f",
      Int.box(i), Double.box(b.s), Double.box(b.n), Double.box(b.w),
      Double.box(b.e))

  /** OP-SRC-4 — GeoJSON FeatureCollection scan (`main.py:405-441`): read
    * multiline JSON, explode `features[]`, pull `properties[idField]`
    * (surrogate id when missing), keep raw coordinates JSON for the
    * driver-side bbox kernels. Geometry nesting depth varies per feature, so
    * coordinates are re-serialized to a JSON string rather than forced into
    * one ArrayType.
    */
  def readGeoJson(spark: SparkSession, path: String,
      idField: String = "id"): DataFrame = {
    val exploded = spark.read.option("multiLine", "true").json(path)
      .select(explode(col("features")).as("f"))
    val coords = to_json(col("f.geometry.coordinates"))
    // Deterministic surrogate: a content hash of the coordinates JSON, not
    // monotonically_increasing_id (partition-dependent — re-reads would
    // produce different ids and break reproducibility). A row_number within
    // equal-coordinate groups keeps duplicate id-less features DISTINCT
    // (identical geometry must not collapse into one region). Feature lists
    // are catalog-sized, so the global window is negligible. The id
    // property may be absent from the *inferred schema* entirely, so probe
    // the schema before referencing it (a missing field is an analysis
    // error, not a null).
    val schemaHasId = {
      val f = exploded.schema("f").dataType.asInstanceOf[org.apache.spark.sql.types.StructType]
      f.fieldNames.contains("properties") &&
        f("properties").dataType.asInstanceOf[org.apache.spark.sql.types.StructType]
          .fieldNames.contains(idField)
    }
    // Peer order within an equal-coordinates group: id-bearing features
    // sort first by their id (deterministic); the id-LESS duplicates that
    // remain are byte-identical rows, so whichever gets rank k yields the
    // same output SET either way — no run-to-run output instability.
    val idOrd =
      if (schemaHasId) coalesce(col(s"f.properties.$idField").cast("string"),
        lit("￿"))
      else lit("￿")
    val dupRank = row_number().over(org.apache.spark.sql.expressions.Window
      .partitionBy(coords).orderBy(idOrd))
    val surrogate = concat(lit("feat_"),
      pmod(xxhash64(coords), lit(1000000000L)), lit("_"), dupRank)
    val id =
      if (schemaHasId)
        coalesce(col(s"f.properties.$idField").cast("string"), surrogate)
      else surrogate
    exploded.select(
      id.as("region_id"),
      col("f.geometry.type").as("geom_type"),
      coords.as("coordinates_json"))
  }

  /** OP-AGG-4 — distributed bbox of a point set: one row
    * `(n, w, s, e)` per group.
    */
  def bboxAgg(df: DataFrame, latCol: String, lonCol: String,
      keyCols: Seq[String] = Nil): DataFrame = {
    val aggs = Seq(max(col(latCol)).as("n"), min(col(lonCol)).as("w"),
      min(col(latCol)).as("s"), max(col(lonCol)).as("e"))
    if (keyCols.isEmpty) df.agg(aggs.head, aggs.tail: _*)
    else df.groupBy(keyCols.map(col): _*).agg(aggs.head, aggs.tail: _*)
  }

  /** Ray-casting point-in-polygon (crossing number, non-convex safe) for
    * a LITERAL polygon — the common case (clip regions are config, not
    * data) and the general-geometry upgrade to the bbox kernels. The
    * edge loop unrolls at plan-build time into a flat sum of `when`
    * terms: no per-row sequence array, no interpreted HOF lambda —
    * everything fuses into whole-stage codegen (measured 12× over a
    * generic array-fold form on the 600k-row gate fixture). Degenerate
    * horizontal edges are safe: the crossing guard is false before the
    * slope division can matter (IEEE ∞ compares false). Boundary points
    * follow raw double arithmetic — identical on any engine mirroring
    * the formula.
    */
  def pointInPolygonLiteral(px: Column, py: Column, xs: Seq[Double],
      ys: Seq[Double]): Column = {
    require(xs.size == ys.size && xs.size >= 3, "need a closed ring ≥ 3")
    val n = xs.size
    val crossings = (0 until n).map { i =>
      val j = (i + 1) % n
      val (x1, y1, x2, y2) = (xs(i), ys(i), xs(j), ys(j))
      val crosses = ((lit(y1) > py) =!= (lit(y2) > py)) &&
        px < (lit(x2) - x1) * (py - y1) / (lit(y2) - y1) + x1
      when(crosses, 1).otherwise(0)
    }.reduce(_ + _)
    pmod(crossings, lit(2)) === 1
  }

  /** Great-circle distance in km (haversine, R = 6371). Written as an
    * explicit `sin·sin` product chain (no `pow`) so the floating-point
    * op sequence is identical on any engine that mirrors the formula.
    */
  def haversineKm(lat1: Column, lon1: Column, lat2: Column,
      lon2: Column): Column = {
    val dphi = radians(lat2 - lat1) / 2
    val dlmb = radians(lon2 - lon1) / 2
    val a = sin(dphi) * sin(dphi) +
      cos(radians(lat1)) * cos(radians(lat2)) * sin(dlmb) * sin(dlmb)
    lit(12742.0) * asin(sqrt(a))
  }
}

package graft

import org.apache.spark.sql.DataFrame
import graft.llm.Density

/** Hand-value pins for the q348-q349 density wave: grid-DBSCAN core/
  * border/noise roles and component cluster labels on the micro lattice,
  * through the faces those queries call (labelings over a pre-built
  * eps-neighbor frame).
  */
class DensityWaveSpec extends SparkSpec {
  import spark.implicits._

  private def nbrs(p: DataFrame, eps: Long) =
    Density.epsNeighborPairs(p, "id", "x", "y", eps)

  private def dbscanCore(p: DataFrame, eps: Long, minPts: Int) =
    Density.dbscanCoreFromPairs(p, "id", nbrs(p, eps), minPts)

  private def dbscanClusters(p: DataFrame, eps: Long, minPts: Int) =
    Density.dbscanClustersFromPairsGeo(p, "id", "x", "y", eps, nbrs(p, eps),
      minPts)

  // two dense blobs 100 apart internally, far from each other, plus one
  // straggler within eps of blob A's rim and one isolated point;
  // eps = 300, minPts = 3. Negative coordinates exercise the +Shift
  // cell math.
  private val pts = Seq(
    (1L, 0L, 0L), (2L, 100L, 0L), (3L, 0L, 100L),      // blob A (cores)
    (4L, 350L, 0L),                                     // border of A via 2
    (5L, -5000L, -5000L), (6L, -4900L, -5000L),
    (7L, -5000L, -4900L),                               // blob B (cores)
    (8L, 9000L, 9000L)                                  // noise
  ).toDF("id", "x", "y")

  test("epsNeighborPairs: exact boundary inclusion, self excluded, " +
      "both directions") {
    val nb = Density.epsNeighborPairs(pts, "id", "x", "y", 300L)
      .as[(Long, Long)].collect().toSet
    // 1-2 (d=100), 1-3 (100), 2-3 (sqrt(2)*100=141), 2-4 (250): in eps
    val expectA = Set((1L, 2L), (1L, 3L), (2L, 3L), (2L, 4L))
    assert(expectA.forall(p => nb.contains(p) && nb.contains(p.swap)))
    // 1-4 d=350 > 300: out; 8 has no neighbors
    assert(!nb.contains((1L, 4L)) && !nb.exists(p => p._1 == 8L))
    // exact boundary: d == eps counts (<=)
    val edge = Seq((10L, 0L, 0L), (11L, 300L, 0L)).toDF("id", "x", "y")
    assert(Density.epsNeighborPairs(edge, "id", "x", "y", 300L)
      .count() == 2)
  }

  test("dbscanCore: roles core/border/noise with n_eps counting self") {
    val r = dbscanCore(pts, 300L, 3)
      .as[(Long, Long, String)].collect()
      .map(t => t._1 -> ((t._2, t._3))).toMap
    assert(r(1L) == ((3L, "core")) && r(3L) == ((3L, "core")))
    assert(r(2L) == ((4L, "core")))
    assert(r(4L) == ((2L, "border")))                  // near core 2
    assert(r(5L) == ((3L, "core")) && r(6L) == ((3L, "core")) &&
      r(7L) == ((3L, "core")))
    assert(r(8L) == ((1L, "noise")))
  }

  test("dbscanClusters: min-id component labels, border attaches to " +
      "smallest adjacent core, noise cluster is null") {
    val r = dbscanClusters(pts, 300L, 3)
      .collect().map(x => x.getLong(0) ->
        ((x.getString(1), if (x.isNullAt(2)) -1L else x.getLong(2))))
      .toMap
    assert(r(1L) == (("core", 1L)) && r(2L) == (("core", 1L)) &&
      r(3L) == (("core", 1L)))
    assert(r(4L) == (("border", 1L)))
    assert(r(5L) == (("core", 5L)) && r(6L) == (("core", 5L)) &&
      r(7L) == (("core", 5L)))
    assert(r(8L) == (("noise", -1L)))
  }

  test("dbscanClusters: isolated core is its own cluster; a border " +
      "between two clusters picks the smallest core's label") {
    // 3 coincident points at origin (core by duplicates, no core nbrs
    // outside), and a bridge point within eps of cores from two blobs
    val g = Seq(
      (1L, 0L, 0L), (2L, 0L, 0L), (3L, 0L, 0L),         // cluster 1
      (10L, 1000L, 0L), (11L, 1000L, 0L), (12L, 1000L, 0L), // cluster 10
      (20L, 500L, 0L)                                   // bridge, d=500
    ).toDF("id", "x", "y")
    val r = dbscanClusters(g, 500L, 3)
      .collect().map(x => x.getLong(0) ->
        ((x.getString(1), if (x.isNullAt(2)) -1L else x.getLong(2))))
      .toMap
    // bridge sees cores 1,2,3 (d=500) and 10,11,12 (d=500): all within
    // eps, so clusters 1 and 10 stay separate only if the bridge itself
    // is not core; n_eps(20) = 7 >= 3 -> it IS core, merging them
    assert(r(20L)._1 == "core")
    assert(Set(r(1L)._2, r(10L)._2, r(20L)._2) == Set(1L))
    // isolated core (no core-core edge, only border neighbors) is its
    // own cluster; borders inherit it
    val g2 = Seq(
      (1L, 0L, 0L), (2L, 100L, 0L), (3L, 0L, 100L),     // cores, cluster 1
      (20L, 380L, 0L),                                  // border via 2 only
      (30L, 5000L, 5000L),                              // isolated core
      (31L, 5250L, 5000L), (32L, 4750L, 5000L)          // its borders
    ).toDF("id", "x", "y")
    val r2 = dbscanClusters(g2, 300L, 3)
      .collect().map(x => x.getLong(0) ->
        ((x.getString(1), if (x.isNullAt(2)) -1L else x.getLong(2))))
      .toMap
    assert(r2(1L) == (("core", 1L)) && r2(20L) == (("border", 1L)))
    assert(r2(30L) == (("core", 30L)))
    assert(r2(31L) == (("border", 30L)) && r2(32L) == (("border", 30L)))
  }
  test("epsNeighborPairs maxCell: a planted dense cell is dropped from " +
      "both join sides; sparse geometry is untouched") {
    // 50 coincident points in one cell (the degenerate clump) plus the
    // two-point sparse pair from the boundary test, one cell away from
    // the clump's grid cell
    val clump = (100L until 150L).map(i => (i, 0L, 0L))
    val sparse = Seq((10L, 5000L, 5000L), (11L, 5300L, 5000L))
    val df = (clump ++ sparse).toDF("id", "x", "y")
    val capped = Density.epsNeighborPairs(df, "id", "x", "y", 300L,
      maxCell = 10).as[(Long, Long)].collect().toSet
    // clump cell holds 50 > 10 -> dropped entirely; sparse pair survives
    assert(capped == Set((10L, 11L), (11L, 10L)))
    // uncapped face still enumerates the clump's 50*49 directed pairs
    assert(Density.epsNeighborPairs(df, "id", "x", "y", 300L)
      .count() == 50L * 49 + 2)
    // cap above the cell population changes nothing
    assert(Density.epsNeighborPairs(df, "id", "x", "y", 300L,
      maxCell = 50).count() == 50L * 49 + 2)
  }
}

package graft

import graft.engine.Graph

/** Hand-value pins for the q346-q347 wave: resource-allocation link
  * prediction, local clustering coefficient.
  */
class LinkStructureWaveSpec extends SparkSpec {
  import spark.implicits._

  test("resourceAllocation: 4-cycle diagonals score 1/2 + 1/2; " +
      "existing edges are anti-joined away; minCommon filters") {
    // square a-b-c-d-a: non-adjacent pairs (a,c) and (b,d), each with
    // common neighbors of degree 2 -> ra_micro = 500000 + 500000
    val sq = Seq(("a", "b"), ("b", "c"), ("c", "d"), ("d", "a"))
      .toDF("s", "t")
    val r = Graph.resourceAllocation(sq, "s", "t", minCommon = 2)
      .orderBy("a", "b").collect()
    assert(r.length == 2)
    assert(r(0).getString(0) == "a" && r(0).getString(1) == "c" &&
      r(0).getLong(2) == 2 && r(0).getLong(3) == 1000000L)
    assert(r(1).getString(0) == "b" && r(1).getString(1) == "d" &&
      r(1).getLong(2) == 2 && r(1).getLong(3) == 1000000L)
    // path a-b-c: (a,c) share only b -> filtered at minCommon = 2,
    // present at minCommon = 1 with ra = 10^6 / deg(b) = 500000
    val path = Seq(("a", "b"), ("b", "c")).toDF("s", "t")
    assert(Graph.resourceAllocation(path, "s", "t", 2).count() == 0)
    val p1 = Graph.resourceAllocation(path, "s", "t", 1).collect()
    assert(p1.length == 1 && p1(0).getLong(3) == 500000L)
  }

  test("clusteringCoefficient: triangle + pendant — closed pairs " +
      "exact, triangle-free hub reports 0, degree-1 node excluded") {
    // triangle a-b-c plus pendant d on a
    val g = Seq(("a", "b"), ("b", "c"), ("c", "a"), ("a", "d"))
      .toDF("s", "t")
    val r = Graph.clusteringCoefficient(g, "s", "t")
      .collect().map(x => x.getString(0) ->
        ((x.getLong(1), x.getLong(2), x.getLong(3)))).toMap
    assert(!r.contains("d"))
    assert(r("b") == ((2L, 1L, 1000000L)))
    assert(r("c") == ((2L, 1L, 1000000L)))
    // a: deg 3, 1 triangle -> 2e6 / 6 = 333333 (floored)
    assert(r("a") == ((3L, 1L, 333333L)))
    // star: hub has deg 3, zero triangles -> cc 0 reported, not absent
    val star = Seq(("h", "x"), ("h", "y"), ("h", "z")).toDF("s", "t")
    val rs = Graph.clusteringCoefficient(star, "s", "t").collect()
    assert(rs.length == 1 && rs(0).getString(0) == "h" &&
      rs(0).getLong(2) == 0L && rs(0).getLong(3) == 0L)
  }
}

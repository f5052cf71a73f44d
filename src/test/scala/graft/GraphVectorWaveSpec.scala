package graft

import graft.engine.Graph
import graft.llm.Similarity

/** Hand-value pins for the q333-q334 wave: pseudo-diameter double
  * sweep, matryoshka energy-retention curve.
  */
class GraphVectorWaveSpec extends SparkSpec {
  import spark.implicits._

  private def undirected(pairs: Seq[(String, String)]) =
    (pairs ++ pairs.map(_.swap)).toDF("src", "dst")

  test("pseudoDiameter: a path graph is measured exactly from its " +
      "lexico-min anchor; the hop cap truncates deterministically") {
    // path a-b-c-d-e: anchor a, ecc1 = 4 to e; sweep 2 from e back: 4
    val path = undirected(Seq(("a", "b"), ("b", "c"), ("c", "d"),
      ("d", "e")))
    val r = Graph.pseudoDiameter(path, "src", "dst", maxHops = 6)
      .collect().head
    assert(r.getString(0) == "a" && r.getInt(1) == 4)
    assert(r.getLong(2) == 5 && r.getString(3) == "e")
    assert(r.getInt(4) == 4 && r.getLong(5) == 5)
    // star with an off-center anchor: a-center, leaves l1..l3 ->
    // anchor a (min), ecc1 = 2 (to l1, the min far node), ecc2 = 2
    val star = undirected(Seq(("center", "a"), ("center", "l1"),
      ("center", "l2"), ("center", "l3")))
    val rs = Graph.pseudoDiameter(star, "src", "dst", maxHops = 6)
      .collect().head
    assert(rs.getString(0) == "a" && rs.getInt(1) == 2 &&
      rs.getString(3) == "l1" && rs.getInt(4) == 2)
    // cap below the true eccentricity: reports the cap
    val rc = Graph.pseudoDiameter(path, "src", "dst", maxHops = 2)
      .collect().head
    assert(rc.getInt(1) == 2 && rc.getLong(2) == 3)
  }

  test("mrlEnergyCurve: hand prefix-energy ratios, micro floors, " +
      "zero vectors excluded") {
    // v1 = [3,4,0,0]: k=2 energy 1.0; k=1 energy 9/25 = 0.36
    // v2 = [1,1,1,1]: k=2 energy 0.5; k=1 energy 0.25
    val df = Seq(
      (1L, Seq(3f, 4f, 0f, 0f)), (2L, Seq(1f, 1f, 1f, 1f)),
      (3L, Seq(0f, 0f, 0f, 0f))).toDF("id", "v")
    val r = Similarity.mrlEnergyCurve(df, "v", Seq(1, 2, 4))
      .collect().map(x => x.getInt(0) -> x).toMap
    assert(r(4).getLong(1) == 2 && r(4).getLong(2) == 1000000L)
    assert(r(4).getDouble(3) == 1.0)
    // k=2: (1000000 + 500000) / 2 = 750000
    assert(r(2).getLong(2) == 750000L)
    // k=1: (360000 + 250000) / 2 = 305000 -> rms = sqrt(0.305)
    assert(r(1).getLong(2) == 305000L)
    assert(r(1).getDouble(3) == 0.552268)
  }
}

package graft

import graft.engine.Graph

/** Hand-value pins for q354: personalized PageRank with a concentrated
  * teleport vector.
  */
class PprWaveSpec extends SparkSpec {
  import spark.implicits._

  test("personalizedPageRankPpm: mass flows only from seeds; teleport " +
      "returns only to seeds") {
    // directed 3-cycle a->b->c->a, seed {a}, damp 85
    val e = Seq(("a", "b"), ("b", "c"), ("c", "a")).toDF("s", "t")
    val seeds = Seq("a").toDF("n")
    val r1 = Graph.personalizedPageRankPpm(e, "s", "t", seeds, "n", 1)
      .as[(String, Long)].collect().toMap
    // round 1: a = 150000 (teleport only), b = 85% of a's 1e6, c = 0
    assert(r1 == Map("a" -> 150000L, "b" -> 850000L, "c" -> 0L))
    val r2 = Graph.personalizedPageRankPpm(e, "s", "t", seeds, "n", 2)
      .as[(String, Long)].collect().toMap
    // round 2: a = 150000 + 85%*0; b = 85%*150000; c = 85%*850000
    assert(r2 == Map("a" -> 150000L, "b" -> 127500L, "c" -> 722500L))
  }

  test("personalizedPageRankPpm: unreachable non-seed reports 0, not " +
      "absence; uniform-seed case matches pageRankPpm") {
    val e = Seq(("a", "b"), ("d", "a")).toDF("s", "t")
    val seeds = Seq("a").toDF("n")
    val r = Graph.personalizedPageRankPpm(e, "s", "t", seeds, "n", 2)
      .as[(String, Long)].collect().toMap
    assert(r("d") == 0L && r.contains("b"))
    // seeding EVERY node reproduces the uniform variant exactly
    val all = Seq("a", "b", "d").toDF("n")
    val ppr = Graph.personalizedPageRankPpm(e, "s", "t", all, "n", 3)
      .as[(String, Long)].collect().toMap
    val pr = Graph.pageRankPpm(e, "s", "t", 3)
      .as[(String, Long)].collect().toMap
    assert(ppr == pr)
  }

  test("a null endpoint adds no node: pageRank, PPR, Katz and HITS drop " +
      "the edge") {
    val clean = Seq(("a", "b"), ("b", "a"), ("b", "e")).toDF("s", "t")
    val e = clean.union(Seq[(String, String)](("c", null), (null, "d"))
      .toDF("s", "t"))
    val seeds = Seq("a").toDF("n")
    val ops: Seq[org.apache.spark.sql.DataFrame => Set[Seq[Any]]] = Seq(
      g => Graph.pageRankPpm(g, "s", "t", 2).collect().map(_.toSeq).toSet,
      g => Graph.personalizedPageRankPpm(g, "s", "t", seeds, "n", 2)
        .collect().map(_.toSeq).toSet,
      g => Graph.katzCentralityPpm(g, "s", "t", 2)
        .collect().map(_.toSeq).toSet,
      g => Graph.hitsPpm(g, "s", "t", 2).collect().map(_.toSeq).toSet)
    ops.foreach { op =>
      val got = op(e)
      assert(got.forall(_.head != null), s"null node in $got")
      assert(got == op(clean))
    }
  }
}

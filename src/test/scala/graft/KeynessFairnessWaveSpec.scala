package graft

import graft.engine.{Graph, Relational}
import graft.llm.Lexical

/** Hand-value pins for the q409–q412 wave: Dunning G² keyness
  * (per-cell micro rounding on a 2×2 with empty cells), four-fifths
  * disparate impact (exact-rational reference pick, the 80% boundary
  * is NOT flagged), characteristic-function drift (known angles),
  * Katz centrality (path-graph attenuated walk counts).
  */
class KeynessFairnessWaveSpec extends SparkSpec {
  import spark.implicits._

  test("dunningG2Terms: a label-exclusive term scores 4*ln2 in " +
      "2-micro units; empty cells contribute exact zero") {
    val docs = Seq(
      (1L, "apple apple", "A"), (2L, "apple banana", "A"),
      (3L, "banana", "B"), (4L, "banana cherry", "B"))
      .toDF("doc_id", "text", "lang")
    val out = Lexical.dunningG2Terms(docs, "doc_id", "text", "lang",
        minDf = 1L, k = 10)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r).toMap
    // apple: a=2, b=0, c=0, d=2, df=2, nl=2, n=4 ->
    // 2 * round(2e6 * 2 * ln 2) with the two empty cells exact 0
    val cellA = math.round(2000000L * 2 * math.log(2.0 * 4 / (2.0 * 2)))
    assert(out(("A", "apple")).getAs[Long]("g2_micro") == 2 * cellA)
    // banana is in every B doc and half the A docs: keyness symmetric
    assert(out(("B", "banana")).getAs[Long]("g2_micro") > 0)
    assert(out(("A", "apple")).getAs[Int]("rank") == 1)
  }

  test("disparateImpact: most-favored group by exact rational, the " +
      "exact 80% boundary passes, lexicographic tie-break") {
    val df = (Seq.fill(8)(("a", true)) ++ Seq.fill(2)(("a", false)) ++
      Seq.fill(4)(("b", true)) ++ Seq.fill(6)(("b", false)) ++
      Seq.fill(5)(("c", true))).toDF("g", "p")
    val out = Relational.disparateImpact(df, "g", "p")
      .collect().map(r => r.getString(0) -> r).toMap
    assert(out("a").getAs[String]("ref_group") == "c")
    assert(out("a").getAs[Long]("di_ppm") == 800000L)
    assert(!out("a").getAs[Boolean]("below_80pct")) // boundary passes
    assert(out("b").getAs[Long]("di_ppm") == 400000L)
    assert(out("b").getAs[Boolean]("below_80pct"))
    assert(out("c").getAs[Long]("di_ppm") == 1000000L)

    // exact rate tie 1/2 == 2/4: reference is the lexicographic first
    val tie = (Seq(("x", true), ("x", false)) ++
      Seq(("y", true), ("y", true), ("y", false), ("y", false)))
      .toDF("g", "p")
    val rt = Relational.disparateImpact(tie, "g", "p").collect()
    assert(rt.forall(_.getAs[String]("ref_group") == "x"))
  }

  test("cfDrift: identical samples drift zero; a pi-shifted lattice " +
      "matches the formula-computed micro terms") {
    val same = Seq(("en", 10L), ("en", 10L), ("de", 10L), ("de", 10L))
      .toDF("lang", "x")
    val rs = Relational.cfDrift(same, "lang", "en", "x", Seq(1))
      .head()
    assert(rs.getAs[Long]("cf_dist2") == 0L)

    val shifted = Seq(("en", 0L), ("en", 0L), ("de", 314L))
      .toDF("lang", "x")
    val r = Relational.cfDrift(shifted, "lang", "en", "x", Seq(1))
      .head()
    val cb = math.round(math.cos(3.14) * 1e6) // 314 * 1 / 100
    val sb = math.round(math.sin(3.14) * 1e6)
    val dc = 1000000L - cb
    val ds = 0L - sb
    assert(r.getAs[Long]("dcos_micro") == dc)
    assert(r.getAs[Long]("dsin_micro") == ds)
    assert(r.getAs[Long]("cf_dist2") == dc * dc + ds * ds)
  }

  test("katzCentralityPpm: path a->b->c accumulates attenuated walk " +
      "mass only downstream; beta = 1/2 halves per hop") {
    val e = Seq(("a", "b"), ("b", "c")).toDF("src", "dst")
    val out = Graph.katzCentralityPpm(e, "src", "dst", iters = 2,
        attenDiv = 2)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(out("a") == 1000000L)
    assert(out("b") == 1500000L)
    // c: 1e6 + (1.5e6 DIV 2) - the round-2 inflow uses b's round-1 mass
    assert(out("c") == 1750000L)
  }
}

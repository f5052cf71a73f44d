package graft

import org.apache.spark.sql.functions._
import graft.engine.Relational
import graft.llm.Eval

/** Hand-value pins for the q306-q310 wave: Wasserstein drift, log-rank,
  * MRR, l-diversity, BLEU-2.
  */
class StatsPrivacyEvalWaveSpec extends SparkSpec {
  import spark.implicits._

  /** The q306 report: paired ECDF, then the W1 readout over it. */
  private def wassersteinReport(df: org.apache.spark.sql.DataFrame,
      ref: String, lo: Double, hi: Double, nBuckets: Int) =
    Relational.wassersteinReportFromPaired(
      Relational.ecdfPaired(df, "s", ref, "v", lo, hi, nBuckets))

  test("wassersteinReport: hand ECDF areas, shift equals distance, " +
      "partition-invariant across bucket widths") {
    // ref s0 = {0,10}; s1 = {5,10} -> W1 = 0.5*5 = 2.5;
    // s2 = {1,11} (unit shift of ref) -> W1 = 1 exactly
    val df = Seq(("s0", 0L), ("s0", 10L), ("s1", 5L), ("s1", 10L),
      ("s2", 1L), ("s2", 11L)).toDF("s", "v")
    for (nb <- Seq(1, 4, 64)) {
      val r = wassersteinReport(df.repartition(3), "s0",
          lo = 0d, hi = 12d, nBuckets = nb)
        .collect().map(x => x.getString(0) -> x).toMap
      assert(r("s1").getLong(3) == 2500000L, s"nb=$nb")
      assert(r("s1").getDouble(4) == 2.5)
      assert(r("s2").getLong(3) == 1000000L, s"nb=$nb")
      assert(r("s2").getDouble(4) == 1.0)
    }
    // identical distributions -> 0; missing reference -> empty report
    val same = Seq(("s0", 3L), ("s0", 7L), ("s1", 3L), ("s1", 7L))
      .toDF("s", "v")
    val rs = wassersteinReport(same, "s0", 0d, 8d, 4)
      .collect()
    assert(rs.length == 1 && rs.head.getLong(3) == 0L)
    assert(wassersteinReport(same, "zzz", 0d, 8d, 4).count() == 0)
  }

  test("logRank: hand per-step terms, censoring joins the risk set " +
      "only, single-group z is null") {
    // A: 2 subjects event at t=1; B: 2 subjects event at t=2
    val df = Seq(("A", 1, 1), ("A", 1, 1), ("B", 2, 1), ("B", 2, 1))
      .toDF("g", "step", "event")
    val r = Relational.logRank(df, "g", "A", "step", "event").collect()
    assert(r.length == 1)
    val row = r.head
    assert(row.getLong(0) == 2 && row.getLong(1) == 2) // n1, n2
    assert(row.getLong(2) == 2 && row.getLong(3) == 2) // o1, o2
    // step1: e1m = (2*2*1e6)//4 = 1e6; vm = (2*2*2*2*1e6)//(16*3)
    assert(row.getLong(4) == 1000000L)
    assert(row.getLong(5) == 333333L)
    val z = row.getDouble(6)
    assert(z > 1.7 && z < 1.76, s"z=$z")
    // a censored B subject at t=3 raises n_risk at steps 1 and 2 but
    // adds no event anywhere
    val cens = df.union(Seq(("B", 3, 0)).toDF("g", "step", "event"))
    val rc = Relational.logRank(cens, "g", "A", "step", "event")
      .collect().head
    assert(rc.getLong(1) == 3 && rc.getLong(3) == 2)
    // step1 with n=5: e1m = (2*2*1e6)//5 = 800000
    assert(rc.getLong(4) == 800000L)
    // one-group input: every step has n1 = n -> zero variance -> null z
    val one = Seq(("A", 1, 1), ("A", 2, 1)).toDF("g", "step", "event")
    assert(Relational.logRank(one, "g", "A", "step", "event")
      .collect().head.isNullAt(6))
  }

  test("mrrAtK: first-hit rank, integer reciprocal, and the top-k miss") {
    val corpus = Seq(
      (0L, Array(1f, 0f), 7),    // query, label 7
      (1L, Array(0.9f, 0.1f), 5),
      (2L, Array(0.8f, 0.2f), 7), // first same-label at rank 2
      (3L, Array(0.7f, 0.3f), 5),
      (10L, Array(0f, 1f), 9)     // query, label 9: no other 9 in corpus
    ).toDF("vec_id", "embedding", "label")
    val q = corpus.filter(col("vec_id") === 0L || col("vec_id") === 10L)
    val r = Eval.mrrAtK(corpus, q, "vec_id", "embedding", "label",
        "vec_id", k = 3)
      .collect().map(x => x.getLong(0) -> x).toMap
    assert(r(0L).getInt(1) == 2 && r(0L).getLong(2) == 500000L)
    assert(r(10L).isNullAt(1) && r(10L).getLong(2) == 0L)
  }

  test("lDiversityViolations: homogeneous and 2-valued groups surface " +
      "with dominant share, diverse groups do not") {
    val df = Seq(
      ("g1", "x"), ("g1", "x"),             // l=1 -> violation, 100%
      ("g2", "x"), ("g2", "x"), ("g2", "y"), // l=2 -> violation, 2/3
      ("g3", "x"), ("g3", "y"), ("g3", "z")  // l=3 -> fine
    ).toDF("q", "sv")
    val r = Relational.lDiversityViolations(df, Seq("q"), "sv", l = 3)
      .collect().map(x => x.getString(0) -> x).toMap
    assert(r.keySet == Set("g1", "g2"))
    assert(r("g1").getLong(1) == 2 && r("g1").getLong(2) == 1)
    assert(r("g1").getLong(3) == 1000000L)
    assert(r("g2").getLong(1) == 3 && r("g2").getLong(2) == 2)
    assert(r("g2").getLong(3) == 666666L)
  }

  test("bleuCorpus: hand clipped precisions, brevity penalty, zero " +
      "overlap, empty candidate") {
    val docs = Seq(
      (1L, "a b c d"), (2L, "a b x d"),  // p1=3/4, p2=1/3 -> bleu 0.5
      (3L, "a b"), (4L, "a b c d"),      // BP = exp(-1), precisions 1
      (5L, "p q"), (6L, "r s"),          // zero overlap -> 0
      (7L, ""), (8L, "a b")              // empty candidate -> null
    ).toDF("doc_id", "text")
    val pairs = Seq((1L, 2L), (3L, 4L), (5L, 6L), (7L, 8L))
      .toDF("cand_id", "ref_id")
    val r = Eval.bleuCorpus(docs, pairs, "doc_id", "text",
        "cand_id", "ref_id")
      .collect().map(x => x.getLong(0) -> x).toMap
    assert(r(1L).getLong(2) == 4 && r(1L).getLong(3) == 4)
    assert(r(1L).getLong(4) == 3 && r(1L).getLong(6) == 1)
    assert(r(1L).getDouble(8) == 0.5)
    assert(r(3L).getDouble(8) == 0.367879) // exp(-1) rounded 6dp
    assert(r(5L).getDouble(8) == 0.0)
    assert(r(7L).getLong(2) == 0 && r(7L).isNullAt(8))
  }

  test("tClosenessViolations: hand TVD with absent-value mass, strict " +
      "threshold") {
    // global: A x3, B x1 (N=4); g1={A,A} and g2={A,B} both have
    // TVD = 0.25 exactly (g1 misses B entirely — the absent-mass term)
    val df = Seq(("g1", "A"), ("g1", "A"), ("g2", "A"), ("g2", "B"))
      .toDF("q", "sv")
    val r = Relational.tClosenessViolations(df, Seq("q"), "sv",
        maxTvdPpm = 200000L)
      .collect().map(x => x.getString(0) -> x).toMap
    assert(r.keySet == Set("g1", "g2"))
    assert(r("g1").getLong(1) == 2 && r("g1").getLong(2) == 250000L)
    assert(r("g2").getLong(2) == 250000L)
    // threshold is strict: at exactly 250000 nothing surfaces
    assert(Relational.tClosenessViolations(df, Seq("q"), "sv",
      250000L).count() == 0)
  }

  test("contingencyAudit: perfect 2x2 association has chi2 = N and " +
      "V = 1; empty cells are covered by the o^2/e identity") {
    val df = Seq(("a1", "b1"), ("a1", "b1"), ("a2", "b2"), ("a2", "b2"))
      .toDF("x", "y")
    val r = Relational.contingencyAudit(df, "x", "y").collect().head
    assert(r.getLong(0) == 4 && r.getLong(1) == 2 && r.getLong(2) == 2)
    assert(r.getLong(3) == 1)            // dof
    assert(r.getLong(4) == 4000000L)     // chi2 = N = 4
    assert(r.getDouble(5) == 1.0)        // Cramér's V
    // independence: 2x2 uniform -> chi2 exactly 0, V = 0
    val ind = Seq(("a1", "b1"), ("a1", "b2"), ("a2", "b1"), ("a2", "b2"))
      .toDF("x", "y")
    val ri = Relational.contingencyAudit(ind, "x", "y").collect().head
    assert(ri.getLong(4) == 0L && ri.getDouble(5) == 0.0)
    // single-level column: dof 0, null V
    val one = Seq(("a1", "b1"), ("a1", "b2")).toDF("x", "y")
    val ro = Relational.contingencyAudit(one, "x", "y").collect().head
    assert(ro.getLong(3) == 0 && ro.isNullAt(5))
  }

  test("effectiveSampleSize: uniform weights keep ESS = n, skewed " +
      "weights shrink it, all-zero mass is null") {
    val df = Seq(("u", 1L), ("u", 1L), ("s", 3L), ("s", 1L),
      ("z", 0L), ("z", 0L)).toDF("g", "w")
    val r = Relational.effectiveSampleSize(df, Seq("g"), "w")
      .collect().map(x => x.getString(0) -> x).toMap
    assert(r("u").getLong(1) == 2 && r("u").getDouble(3) == 2.0)
    assert(r("u").getLong(4) == 1000000L)
    assert(r("s").getLong(2) == 4 && r("s").getDouble(3) == 1.6)
    assert(r("s").getLong(4) == 1250000L)
    assert(r("z").getLong(1) == 2 && r("z").isNullAt(3)
      && r("z").isNullAt(4))
  }
}

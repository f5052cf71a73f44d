package graft

import graft.engine.Relational
import graft.llm.{Dedup, Lexical}

/** Round-10 quality/audit wave: bigram LM scoring, exact window-dup
  * density, Gini via the distributed global rank, PMI cells, and the
  * k-anonymity violation worklist. Hand-model goldens (the arithmetic is
  * integer-exact) plus the invariants the oracle hash can't see.
  */
class QualityAuditWaveSpec extends SparkSpec {
  import spark.implicits._

  private def micro(x: Double): Long = math.round(x * 1000000d)

  test("bigramLmScore: hand corpus gives exact micro-nat sums") {
    // doc1 "a b a": bigrams (a b)(b a); doc2 "a b": bigram (a b)
    // unigrams a:3 b:2, V=2; c2("a b")=2, c2("b a")=1
    val docs = Seq((1L, "a b a"), (2L, "a b")).toDF("doc_id", "text")
    val r = Lexical.bigramLmScore(docs, "doc_id", "text")
      .collect().map(x => x.getLong(0) -> x).toMap
    val nllAB = micro(math.log(3 + 2) - math.log(2 + 1))
    val nllBA = micro(math.log(2 + 2) - math.log(1 + 1))
    assert(r(1L).getLong(1) == 2, "doc1 n_bigrams")
    assert(r(1L).getLong(2) == nllAB + nllBA, "doc1 sum")
    assert(r(1L).getLong(3) == (nllAB + nllBA) / 2, "doc1 avg (DIV)")
    assert(r(2L).getLong(1) == 1)
    assert(r(2L).getLong(2) == nllAB)
    // repeated rare bigrams score worse (higher NLL) than repeated
    // common ones: "b a" is rarer than "a b"
    assert(nllBA > nllAB)
  }

  test("bigramLmScore: docs under 2 tokens emit no row; repeats weight " +
      "by count") {
    val docs = Seq((1L, "x"), (2L, ""), (3L, "w w w w")).toDF("doc_id", "text")
    val out = Lexical.bigramLmScore(docs, "doc_id", "text").collect()
    assert(out.map(_.getLong(0)).toSet == Set(3L))
    // unigrams: x:1, w:4 -> V=2; c2("w w")=3; each position:
    // ln(4+2)-ln(3+1); doc3 has 3 positions of the same gram
    val nll = micro(math.log(6) - math.log(4))
    assert(out.head.getLong(2) == 3 * nll)
  }

  test("dupSpanReport: cross-doc dup detection, span arithmetic, and " +
      "the intra-doc-only exclusion") {
    val docs = Seq((1L, "x y z"), (2L, "x y q"), (3L, "z"),
      (4L, "p p p"), (5L, "a b c d e"), (6L, "a b c d f"))
      .toDF("doc_id", "text")
    val r = Dedup.dupSpanReport(docs, "doc_id", "text", n = 2)
      .collect().map(x => x.getLong(0) -> x).toMap
    // doc3: 1 token < n -> no row
    assert(!r.contains(3L))
    // "x y" shared by docs 1+2 -> one 1-window run = 2-token span
    assert(r(1L).getLong(1) == 2 && r(1L).getLong(2) == 1)
    assert(r(1L).getLong(3) == 500000L && r(1L).getLong(4) == 2)
    // doc4: "p p" twice but only in ONE doc -> nothing duplicated
    assert(r(4L).getLong(2) == 0 && r(4L).getLong(4) == 0)
    // docs 5+6 share windows at pos 0,1,2 -> run of 3 = 4-token span
    assert(r(5L).getLong(1) == 4 && r(5L).getLong(2) == 3)
    assert(r(5L).getLong(4) == 4 && r(6L).getLong(4) == 4)
  }

  test("giniReport: hand values, uniform zero, and empty-input guard") {
    val a = Seq((1L, 1L), (2L, 2L), (3L, 3L), (4L, 4L))
      .toDF("id", "v")
    val ra = Relational.giniReport(a, "v", "id").collect().head
    // S = 1+4+9+16 = 30, T = 10: 2e6*30/40 - 5e6/4 = 250000
    assert(ra.getLong(0) == 4 && ra.getLong(1) == 10)
    assert(ra.getLong(2) == 250000L)
    val u = Seq((1L, 5L), (2L, 5L), (3L, 5L), (4L, 5L)).toDF("id", "v")
    assert(Relational.giniReport(u, "v", "id").collect().head
      .getLong(2) == 0L, "uniform mass -> 0")
    val e = Seq.empty[(Long, Long)].toDF("id", "v")
    val re = Relational.giniReport(e, "v", "id").collect().head
    assert(re.getLong(0) == 0 && re.getLong(1) == 0 && re.isNullAt(2))
  }

  test("giniReport: rank sum is tie-permutation-invariant (repartition " +
      "invariance)") {
    val rnd = new scala.util.Random(7)
    val rows = (1L to 500L).map(i => (i, (rnd.nextInt(20) + 1).toLong))
    val df = rows.toDF("id", "v")
    val g1 = Relational.giniReport(df, "v", "id").collect().head.getLong(2)
    val g2 = Relational.giniReport(df.repartition(13), "v", "id")
      .collect().head.getLong(2)
    assert(g1 == g2)
  }

  test("spearmanCorr: exact monotone/reverse/tie behavior and the " +
      "constant-margin null") {
    val mono = Seq((1.0, 10.0), (2.0, 20.0), (3.0, 25.0), (4.0, 99.0))
      .toDF("x", "y")
    val rm = Relational.spearmanCorr(mono, "x", "y").collect().head
    assert(rm.getLong(0) == 4 && rm.getDouble(1) == 1.0,
      "any strictly monotone map -> rho exactly 1")
    val rev = Seq((1.0, 9.0), (2.0, 7.0), (3.0, 5.0)).toDF("x", "y")
    assert(Relational.spearmanCorr(rev, "x", "y").collect().head
      .getDouble(1) == -1.0)
    // tie-averaged ranks: x=(1,1,2), y=(3,5,4); avg rank x = (1.5,1.5,3)
    // 2r: x=(3,3,6), y=(2,6,4); hand rho = -(1/2)/(1*sqrt(...)):
    // n=3 sx=12 sy=12 sxy=(3*2+3*6+6*4)=48 sxx=54 syy=56
    // num=3*48-144=0 -> rho = 0
    val tied = Seq((1.0, 3.0), (1.0, 5.0), (2.0, 4.0)).toDF("x", "y")
    assert(Relational.spearmanCorr(tied, "x", "y").collect().head
      .getDouble(1) == 0.0)
    // constant x margin: zero rank variance -> null
    val const = Seq((7.0, 1.0), (7.0, 2.0)).toDF("x", "y")
    assert(Relational.spearmanCorr(const, "x", "y").collect().head
      .isNullAt(1))
    // empty input: n = 0, rho null
    val e = Seq.empty[(Double, Double)].toDF("x", "y")
    val re = Relational.spearmanCorr(e, "x", "y").collect().head
    assert(re.getLong(0) == 0 && re.isNullAt(1))
  }

  test("spearmanCorr: partition-invariant (rank construction is " +
      "distribution-proof)") {
    val rnd = new scala.util.Random(11)
    val rows = (1 to 400).map(_ =>
      (rnd.nextInt(10).toDouble, rnd.nextInt(50).toDouble))
    val df = rows.toDF("x", "y")
    val a = Relational.spearmanCorr(df, "x", "y").collect().head
    val b = Relational.spearmanCorr(df.repartition(17), "x", "y")
      .collect().head
    assert(a.getDouble(1) == b.getDouble(1))
  }

  test("kAnonymityViolations: only the under-k groups surface") {
    val rows = Seq.fill(7)(("g1", "t")) ++ Seq.fill(3)(("g2", "t")) ++
      Seq(("g3", "u"))
    val out = Relational.kAnonymityViolations(
      rows.toDF("q1", "q2"), Seq("q1", "q2"), k = 5)
      .collect().map(v => (v.getString(0), v.getLong(2))).toMap
    assert(out == Map("g2" -> 3L, "g3" -> 1L))
  }
}

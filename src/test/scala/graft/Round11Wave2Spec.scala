package graft

import org.apache.spark.sql.functions._
import graft.engine.Graph
import graft.llm.{Eval, Lexical}

/** Hand-value pins for the q373–q376 wave: k-truss peeling, BPE
  * apply/fertility, k-NN label homophily, cross-split bigram-LM
  * transfer — exact-arithmetic goldens plus the peel-cascade and
  * tie-break invariants the oracle hash can't isolate.
  */
class Round11Wave2Spec extends SparkSpec {
  import spark.implicits._

  /** The q374 peel: support of the undirected graph, then the truss. */
  private def kTruss(edges: org.apache.spark.sql.DataFrame, k: Int,
      maxRounds: Int) = Graph.kTrussFromSupport(
    Graph.edgeTriangleSupport(edges, "a", "b"), k, maxRounds)

  test("kTruss: K4 survives 4-truss, pendant triangle peeled") {
    // K4 on {1,2,3,4} (each edge on 2 triangles) + triangle {4,5,6}
    // (each edge on 1) + chain edge 6-7 (on 0)
    val edges = Seq((1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4),
      (4, 5), (4, 6), (5, 6), (6, 7))
      .toDF("a", "b").select(col("a").cast("long"), col("b").cast("long"))
    val got = kTruss(edges, k = 4, maxRounds = 5)
      .orderBy("u", "v").collect()
    assert(got.length == 6, "exactly the K4 edges survive")
    got.foreach { r =>
      assert(r.getLong(0) <= 4 && r.getLong(1) <= 4)
      assert(r.getLong(2) == 2L, "every K4 edge sits on 2 triangles")
    }
  }

  test("kTruss: peel cascade — shared edge of two triangles dies in " +
      "round 2 after its wings die in round 1") {
    // bowtie: triangles {a,b,c} and {b,c,d} share edge b-c (support 2);
    // all other edges support 1. k=4 threshold 2: round 1 keeps only
    // b-c, round 2 recomputes its support as 0 -> empty truss.
    val edges = Seq((1, 2), (1, 3), (2, 3), (2, 4), (3, 4))
      .toDF("a", "b").select(col("a").cast("long"), col("b").cast("long"))
    assert(kTruss(edges, k = 4, maxRounds = 5).isEmpty)
    // but with maxRounds = 1 the cascade hasn't run: b-c still present
    val one = kTruss(edges, k = 4, maxRounds = 1).collect()
    assert(one.length == 1 && one(0).getLong(0) == 2 &&
      one(0).getLong(1) == 3)
  }

  test("bpeApplyFertility: zero merges = character fertility; one merge " +
      "halves the merged word's subwords") {
    val docs = Seq(("g1", "ab ab cd")).toDF("lang", "text")
    val none = Lexical.bpeApplyFertility(docs, "lang", "text", Nil).head()
    // chars-as-subwords: 3 words, 6 subwords = 6 chars
    assert(none.getLong(1) == 3 && none.getLong(2) == 6 &&
      none.getLong(3) == 6)
    assert(none.getLong(4) == 2000000L, "fertility 2 subwords/word")
    assert(none.getLong(5) == 1000000L, "1 char/subword")
    val m = Lexical.bpeApplyFertility(docs, "lang", "text", Seq("a b"))
      .head()
    // "ab" -> 1 subword (x2 words), "cd" -> 2: n_subwords = 4
    assert(m.getLong(2) == 4)
    assert(m.getLong(4) == 1333333L, "4e6 div 3")
    assert(m.getLong(5) == 1500000L, "6e6 div 4")
  }

  test("bpeApplyFertility: merges apply greedily left-to-right, " +
      "non-overlapping, in training order") {
    val docs = Seq(("g", "aaa")).toDF("lang", "text")
    // merge "a a": 'a a a' -> greedy left pair merges -> 'aa a' = 2 subwords
    val r1 = Lexical.bpeApplyFertility(docs, "lang", "text", Seq("a a"))
      .head()
    assert(r1.getLong(2) == 2L, "greedy non-overlapping: [aa, a]")
    // then merge "aa a": 'aa a' -> 'aaa' = 1 subword
    val r2 = Lexical.bpeApplyFertility(docs, "lang", "text",
      Seq("a a", "aa a")).head()
    assert(r2.getLong(2) == 1L)
    // a merge pair outside the trained alphabet is rejected at the gate
    intercept[IllegalArgumentException] {
      Lexical.bpeApplyFertility(docs, "lang", "text", Seq("a'); --"))
    }
  }

  test("knnLabelHomophily: hand golden — 2 A-points and 1 B-point, k=2") {
    val pts = Seq(
      (1L, Array(1f, 0f), "A"), (2L, Array(1f, 0f), "A"),
      (3L, Array(0f, 1f), "B"))
      .toDF("vec_id", "embedding", "label")
    val got = Eval.knnLabelHomophily(pts, pts, "vec_id", "embedding",
      "label", "vec_id", k = 2)
      .orderBy("label").collect()
    // label A: 2 queries x 2 edges (the other A + the B) = 4 edges, 2 same
    assert(got(0).getString(0) == "A" && got(0).getLong(1) == 2 &&
      got(0).getLong(2) == 4 && got(0).getLong(3) == 2 &&
      got(0).getLong(4) == 500000L)
    // label B: 1 query, 2 edges, 0 same
    assert(got(1).getString(0) == "B" && got(1).getLong(2) == 2 &&
      got(1).getLong(3) == 0 && got(1).getLong(4) == 0L)
  }

  test("knnLabelHomophily: self-edges excluded before ranking and null " +
      "labels contribute nothing") {
    val pts = Seq(
      (1L, Array(1f, 0f), "A"), (2L, Array(0.9f, 0.1f), "A"),
      (3L, Array(0.8f, 0.2f), null.asInstanceOf[String]))
      .toDF("vec_id", "embedding", "label")
    val got = Eval.knnLabelHomophily(pts, pts, "vec_id", "embedding",
      "label", "vec_id", k = 1).collect()
    // only labeled rows act as queries AND neighbors: 1<->2, both same
    assert(got.length == 1)
    val r = got(0)
    assert(r.getString(0) == "A" && r.getLong(1) == 2 &&
      r.getLong(2) == 2 && r.getLong(4) == 1000000L)
  }

  test("bigramLmTransfer: hand golden — add-one NLL on a 2-word vocab") {
    val docs = Seq((0L, "a b a b"), (1L, "c a"), (2L, "a b"))
      .toDF("doc_id", "text")
      .withColumn("split", concat(lit("s"), (col("doc_id") % 3)))
    val got = Lexical.bigramLmTransfer(docs, "doc_id", "text", "split",
      "s0").orderBy("split").collect()
    // train s0 = "a b a b": c1(a)=2, c1(b)=2, V=2; c2("a b")=2, c2("b a")=1
    val s0 = got(0)
    assert(s0.getString(0) == "s0" && s0.getLong(2) == 3 &&
      s0.getLong(3) == 0)
    val nllAB = math.round((math.log(4) - math.log(3)) * 1e6) // 287682
    val nllBA = math.round((math.log(4) - math.log(2)) * 1e6) // 693147
    assert(s0.getLong(4) == 2 * nllAB + nllBA)
    assert(s0.getLong(5) == (2 * nllAB + nllBA) / 3)
    // s1 = "c a": unseen bigram, unseen first word -> ln(0+2) - ln(0+1)
    val s1 = got(1)
    assert(s1.getString(0) == "s1" && s1.getLong(2) == 1 &&
      s1.getLong(3) == 1)
    assert(s1.getLong(4) == math.round(math.log(2) * 1e6))
    // s2 = "a b": seen bigram scores exactly the train-split rate
    val s2 = got(2)
    assert(s2.getLong(3) == 0 && s2.getLong(4) == nllAB)
  }
}

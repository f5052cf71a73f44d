package graft

import graft.engine.Layout

/** Hand-value pins for the q364-q365 wave: Hilbert curve key, skip-gram
  * co-occurrence PMI.
  */
class HilbertSkipgramWaveSpec extends SparkSpec {
  import spark.implicits._

  test("withHilbertKey: order-1 quadrant walk is the textbook " +
      "(0,0)->0, (0,1)->1, (1,1)->2, (1,0)->3") {
    val g = Seq((0L, 0L), (0L, 1L), (1L, 1L), (1L, 0L)).toDF("x", "y")
    val r = Layout.withHilbertKey(g, "x", "y", 1, "h")
      .as[(Long, Long, Long)].collect()
      .map(t => (t._1, t._2) -> t._3).toMap
    assert(r == Map((0L, 0L) -> 0L, (0L, 1L) -> 1L, (1L, 1L) -> 2L,
      (1L, 0L) -> 3L))
  }

  test("withHilbertKey: order-2 keys are a permutation of 0..15 and " +
      "every curve step is Manhattan-adjacent (the locality property " +
      "Z-order lacks)") {
    val cells = for (x <- 0 until 4; y <- 0 until 4)
      yield (x.toLong, y.toLong)
    val r = Layout.withHilbertKey(cells.toDF("x", "y"), "x", "y", 2, "h")
      .as[(Long, Long, Long)].collect()
    assert(r.map(_._3).sorted.toSeq == (0L until 16L))
    val walk = r.sortBy(_._3)
    walk.sliding(2).foreach { case Array(a, b) =>
      assert(math.abs(a._1 - b._1) + math.abs(a._2 - b._2) == 1,
        s"non-adjacent step $a -> $b")
    }
  }

  test("skipgramPmi: window-2 ordered pairs, four-ln parity, " +
      "deterministic tie ranking") {
    val docs = Seq((1L, "a b c")).toDF("doc_id", "text")
    val r = graft.llm.Lexical.skipgramPmi(docs, "doc_id", "text",
        window = 2, minCount = 1L, topK = 10)
      .collect().map(x => (x.getString(0), x.getString(1)) ->
        ((x.getLong(2), x.getLong(5), x.getInt(6)))).toMap
    // pairs: (a,b), (a,c), (b,c) each once; N=3; c_w1: a=2,b=1;
    // c_w2: b=1,c=2
    def lnMicro(n: Double, cw1: Double, cw2: Double) =
      math.round((math.log(n) + math.log(3.0) - math.log(cw1)
        - math.log(cw2)) * 1000000)
    assert(r(("a", "b")) == ((1L, lnMicro(1, 2, 1), 1)))
    assert(r(("b", "c")) == ((1L, lnMicro(1, 1, 2), 2)))
    assert(r(("a", "c")) == ((1L, lnMicro(1, 2, 2), 3)))
    assert(r(("a", "c"))._2 < 0)
    // window 1 restricts to adjacent pairs only
    val adj = graft.llm.Lexical.skipgramPmi(docs, "doc_id", "text",
      window = 1, minCount = 1L, topK = 10).count()
    assert(adj == 2)
  }
}

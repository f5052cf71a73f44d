package graft


/** Hand-value pins for the q358-q360 wave: Burrows' Delta, PMI
  * collocations, term burstiness.
  */
class StylometryWaveSpec extends SparkSpec {
  import spark.implicits._

  test("burrowsDelta: symmetric two-source fixture with exact integer " +
      "sqrt gives delta = 2.0 on both words") {
    // A: x x y; B: x y y -> f in ppm: A(x)=666666, A(y)=333333,
    // mirrored for B; varnum = 333333^2 exactly, so each term = 2.0
    val docs = Seq((1L, "x x y", "A"), (2L, "x y y", "B"))
      .toDF("doc_id", "text", "source")
    val r = graft.llm.Curation.burrowsDelta(docs, "text", "source", 2)
      .collect()
    assert(r.length == 1)
    assert(r(0).getString(0) == "A" && r(0).getString(1) == "B")
    assert(r(0).getLong(2) == 2 && r(0).getDouble(3) == 2.0)
  }

  test("burrowsDelta: identical sources are distance 0; absent words " +
      "count as 0 ppm, zero-variance words contribute 0") {
    val docs = Seq((1L, "x y", "A"), (2L, "x y", "B"),
      (3L, "x q q q", "C")).toDF("doc_id", "text", "source")
    val r = graft.llm.Curation.burrowsDelta(docs, "text", "source", 3)
      .collect().map(x => (x.getString(0), x.getString(1)) ->
        x.getDouble(3)).toMap
    assert(r(("A", "B")) == 0.0)
    assert(r(("A", "C")) > 0.0 && r(("A", "C")) == r(("B", "C")))
  }

  test("pmiCollocations: independence-excess ordering, lexicographic " +
      "tie-break, JVM-ln parity") {
    val docs = (Seq.fill(6)("a b") ++ Seq.fill(6)("c d") ++ Seq("a d"))
      .zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val r = graft.llm.Lexical.pmiCollocations(docs, "text", 1L, 10)
      .collect().map(x => x.getString(0) ->
        ((x.getLong(1), x.getLong(4), x.getInt(5)))).toMap
    // 'a b' and 'c d' tie on pmi = ln(13/7); lexico puts 'a b' first
    assert(r("a b")._3 == 1 && r("c d")._3 == 2 && r("a d")._3 == 3)
    assert(r("a b")._2 == r("c d")._2)
    val exp = math.round((math.log(6.0) + math.log(13.0)
      - math.log(7.0) - math.log(6.0)) * 1000000)
    assert(r("a b")._2 == exp)
    assert(r("a d")._2 < 0)                  // below independence
  }

  test("termBurstiness: bursty term scores above an evenly-spread one; " +
      "zero-count documents are in the denominator") {
    val docs = Seq((1L, "z z z z"), (2L, "z"), (3L, "y"))
      .toDF("doc_id", "text")
    val r = graft.llm.Curation.termBurstiness(docs, "doc_id", "text", 2)
      .collect().map(x => x.getString(0) ->
        ((x.getLong(1), x.getLong(2), x.getLong(3)))).toMap
    // z: D=3, c = {4,1}: vmr = (3*17 - 25)*1e6 DIV 15 = 1733333
    assert(r("z") == ((2L, 5L, 1733333L)))
    // y: singleton: (3*1 - 1)*1e6 DIV 3 = 666666
    assert(r("y") == ((1L, 1L, 666666L)))
  }
}

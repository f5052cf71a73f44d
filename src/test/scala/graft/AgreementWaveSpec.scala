package graft

import graft.llm.Eval

/** Hand-value pins for the q377–q380 agreement wave: Fleiss' kappa,
  * Krippendorff's alpha (nominal), multiclass MCC, Gwet's AC1 — small
  * worked examples where every intermediate (S, C, o2, E) is checked by
  * hand, plus the boundary behaviors (constant-n filter, negative
  * alpha, degenerate-marginal MCC null, perfect-agreement fixed points)
  * the oracle hash can't isolate.
  */
class AgreementWaveSpec extends SparkSpec {
  import spark.implicits._

  test("fleissKappa: worked 4-item 3-rater example, constant-n filter") {
    // item1 AAA, item2 AAB, item3 BBB, item4 ABC -> S=14, C=62,
    // kappa = (14*4*3 - 62*2) / (2*(144-62)) = 44/164
    val ratings = Seq(
      (1, "A"), (1, "A"), (1, "A"),
      (2, "A"), (2, "A"), (2, "B"),
      (3, "B"), (3, "B"), (3, "B"),
      (4, "A"), (4, "B"), (4, "C"),
      (5, "A"), (5, "A") // only 2 ratings -> dropped by constant-n
    ).toDF("item", "cat")
    val r = Eval.fleissKappa(ratings, "item", "cat", nRaters = 3).head()
    assert(r.getAs[Long]("n_items") == 4L)
    assert(r.getAs[Long]("s_sum") == 14L)
    assert(r.getAs[Long]("c_sq") == 62L)
    assert(math.abs(r.getAs[Double]("p_bar") - 14.0 / 24) < 1e-6)
    assert(math.abs(r.getAs[Double]("p_e") - 62.0 / 144) < 1e-6)
    assert(math.abs(r.getAs[Double]("kappa") - 44.0 / 164) < 1e-6)
  }

  test("krippendorffAlpha: worked variable-m example goes NEGATIVE; " +
      "perfect agreement is the alpha=1 fixed point") {
    // AA | AB | AAB | singleton(dropped): n=7, o2_sum=8, pair_sum=20,
    // alpha = (40 - 6*8)/40 = -0.2
    val ratings = Seq(
      (1, "A"), (1, "A"),
      (2, "A"), (2, "B"),
      (3, "A"), (3, "A"), (3, "B"),
      (4, "C")).toDF("item", "cat")
    val r = Eval.krippendorffAlpha(ratings, "item", "cat").head()
    assert(r.getAs[Long]("n_items") == 3L)
    assert(r.getAs[Long]("n_ratings") == 7L)
    assert(r.getAs[Long]("o2_sum") == 8L)
    assert(r.getAs[Long]("pair_sum") == 20L)
    assert(math.abs(r.getAs[Double]("alpha") - (-0.2)) < 1e-6)

    val perfect = Seq((1, "A"), (1, "A"), (2, "B"), (2, "B"),
      (3, "C"), (3, "C")).toDF("item", "cat")
    val p = Eval.krippendorffAlpha(perfect, "item", "cat").head()
    assert(math.abs(p.getAs[Double]("alpha") - 1.0) < 1e-6)
  }

  test("mccMulticlass: binary worked example 20/sqrt(2400); perfect=1; " +
      "constant-prediction collapse yields NULL (not 0/0)") {
    // TP=4 FN=2 FP=1 TN=3
    val df = (Seq.fill(4)(("pos", "pos")) ++ Seq.fill(2)(("pos", "neg")) ++
      Seq.fill(1)(("neg", "pos")) ++ Seq.fill(3)(("neg", "neg")))
      .toDF("gold", "pred")
    val r = Eval.mccMulticlass(df, "gold", "pred").head()
    assert(r.getAs[Long]("n") == 10L)
    assert(r.getAs[Long]("n_correct") == 7L)
    assert(r.getAs[Long]("accuracy_ppm") == 700000L)
    assert(math.abs(r.getAs[Double]("mcc") - 20.0 / math.sqrt(2400.0))
      < 1e-6)

    val perfect = Seq(("a", "a"), ("b", "b"), ("c", "c")).toDF("gold", "pred")
    assert(math.abs(Eval.mccMulticlass(perfect, "gold", "pred")
      .head().getAs[Double]("mcc") - 1.0) < 1e-6)

    val collapse = Seq(("a", "x"), ("b", "x"), ("a", "x")).toDF("gold", "pred")
    val c = Eval.mccMulticlass(collapse, "gold", "pred").head()
    assert(c.isNullAt(c.fieldIndex("mcc")))
  }

  test("gwetAc1: binary worked example 82/202; kappa-paradox case " +
      "keeps AC1 high where marginal-based chance would collapse it") {
    val df = (Seq.fill(4)(("pos", "pos")) ++ Seq.fill(2)(("pos", "neg")) ++
      Seq.fill(1)(("neg", "pos")) ++ Seq.fill(3)(("neg", "neg")))
      .toDF("gold", "pred")
    val r = Eval.gwetAc1(df, "gold", "pred", nCategories = 2).head()
    assert(r.getAs[Long]("n") == 10L)
    assert(r.getAs[Long]("n_agree") == 7L)
    assert(r.getAs[Long]("e_sum") == 198L)
    assert(math.abs(r.getAs[Double]("ac1") - 82.0 / 202) < 1e-6)

    // 98% one-class agreement: pi_a ~ 0.98, AC1 stays near 1
    val skew = (Seq.fill(98)(("a", "a")) ++ Seq((("a"), ("b")),
      (("b"), ("a")))).toDF("gold", "pred")
    val s = Eval.gwetAc1(skew, "gold", "pred", nCategories = 2).head()
    assert(s.getAs[Double]("ac1") > 0.95)
  }

  test("fleissKappa/krippendorffAlpha agree on the constant-3 panel " +
      "direction: unanimous corpus scores kappa=1") {
    val unam = (1 to 30).flatMap(i => Seq.fill(3)((i, s"c${i % 4}")))
      .toDF("item", "cat")
    val k = Eval.fleissKappa(unam, "item", "cat", 3).head()
    assert(math.abs(k.getAs[Double]("kappa") - 1.0) < 1e-6)
    val a = Eval.krippendorffAlpha(unam, "item", "cat").head()
    assert(math.abs(a.getAs[Double]("alpha") - 1.0) < 1e-6)
  }

  test("weightedKappa: perfect ordinal agreement reads 1; the " +
      "balanced worked example reads exactly 0; empty input NULL") {
    val perfect = Seq((0, 0), (1, 1), (2, 2)).toDF("g", "p")
    assert(Eval.weightedKappa(perfect, "g", "p").head()
      .getAs[Double]("kappa_w") == 1.0)
    // wo = 8, we = 32, n = 4 -> 1 - 4*8/32 = 0
    val mixed = Seq((0, 0), (0, 2), (2, 2), (2, 0)).toDF("g", "p")
    val m = Eval.weightedKappa(mixed, "g", "p").head()
    assert(m.getAs[Long]("wo_sum") == 8L)
    assert(m.getAs[Long]("we_sum") == 32L)
    assert(m.getAs[Double]("kappa_w") == 0.0)
    val e = Eval.weightedKappa(
      Seq.empty[(Int, Int)].toDF("g", "p"), "g", "p").head()
    assert(e.getAs[Long]("n") == 0L &&
      e.isNullAt(e.fieldIndex("kappa_w")))
  }

  test("empty-input guards: zero kept items report NULL ratios (the " +
      "when(n>0) family discipline), never 0/0 NaN") {
    val empty = Seq.empty[(Int, String)].toDF("item", "cat")
    val k = Eval.fleissKappa(empty, "item", "cat", 3).head()
    assert(k.getAs[Long]("n_items") == 0L)
    assert(k.isNullAt(k.fieldIndex("p_bar")))
    assert(k.isNullAt(k.fieldIndex("p_e")))
    assert(k.isNullAt(k.fieldIndex("kappa")))
    // fleiss also drops items violating constant-n: a panel of only
    // 2-rating items is "empty" for nRaters = 3
    val partial = Seq((1, "a"), (1, "a"), (2, "b"), (2, "b"))
      .toDF("item", "cat")
    val kp = Eval.fleissKappa(partial, "item", "cat", 3).head()
    assert(kp.getAs[Long]("n_items") == 0L &&
      kp.isNullAt(kp.fieldIndex("kappa")))
    val al = Eval.krippendorffAlpha(empty, "item", "cat").head()
    assert(al.getAs[Long]("n_items") == 0L &&
      al.isNullAt(al.fieldIndex("alpha")))
    val g = Eval.gwetAc1(
      Seq.empty[(String, String)].toDF("gold", "pred"), "gold", "pred",
      nCategories = 6).head()
    assert(g.getAs[Long]("n") == 0L)
    assert(g.isNullAt(g.fieldIndex("p_a_ppm")))
    assert(g.isNullAt(g.fieldIndex("ac1")))
  }
}

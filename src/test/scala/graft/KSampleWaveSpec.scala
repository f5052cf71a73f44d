package graft

import graft.engine.Relational

/** Hand-value pins for the q393–q396 k-sample nonparametrics wave:
  * Kruskal–Wallis (with and without ties), Friedman (perfect
  * concordance + incomplete-block drop), Cliff's delta (dominance
  * directions), Hodges–Lehmann (weighted lower median).
  */
class KSampleWaveSpec extends SparkSpec {
  import spark.implicits._

  test("kruskalWallis: tie-free 2x2 hand example H=2.4; full-tie " +
      "variant corrects 2.4/0.8 = 3.0") {
    val a = Seq(("A", 1L), ("A", 2L), ("B", 3L), ("B", 4L)).toDF("g", "v")
    val ra = Relational.kruskalWallis(a, "g", "v").head()
    assert(ra.getAs[Int]("k") == 2 && ra.getAs[Long]("n") == 4L)
    assert(math.abs(ra.getAs[Double]("h_stat") - 2.4) < 1e-9)
    assert(math.abs(ra.getAs[Double]("tie_c") - 1.0) < 1e-9)
    assert(math.abs(ra.getAs[Double]("h_adj") - 2.4) < 1e-9)

    val b = Seq(("A", 1L), ("A", 1L), ("B", 2L), ("B", 2L)).toDF("g", "v")
    val rb = Relational.kruskalWallis(b, "g", "v").head()
    assert(math.abs(rb.getAs[Double]("h_stat") - 2.4) < 1e-9)
    assert(math.abs(rb.getAs[Double]("tie_c") - 0.8) < 1e-9)
    assert(math.abs(rb.getAs[Double]("h_adj") - 3.0) < 1e-9)
  }

  test("friedmanTest: perfect 3x3 concordance hits the b=3,k=3 maximum " +
      "chi2=6; incomplete blocks are dropped; cells are micro-means") {
    val rows = (1 to 3).flatMap { b =>
      Seq((s"b$b", "t1", 1L), (s"b$b", "t2", 2L), (s"b$b", "t3", 3L))
    } ++ Seq(("b4", "t1", 9L), ("b4", "t2", 9L)) // incomplete -> dropped
    val r = Relational.friedmanTest(rows.toDF("b", "t", "v"),
      "b", "t", "v").head()
    assert(r.getAs[Int]("k") == 3)
    assert(r.getAs[Long]("b") == 3L)
    assert(r.getAs[Long]("r2_sq_sum") == 504L)
    assert(math.abs(r.getAs[Double]("chi2_f") - 6.0) < 1e-9)

    // multi-row cells rank by the MEAN: (1+3)/2=2 beats 1, loses to 3
    val cells = Seq(("b1", "t1", 1L), ("b1", "t2", 1L), ("b1", "t2", 3L),
      ("b1", "t3", 3L)).toDF("b", "t", "v")
    val rc = Relational.friedmanTest(cells, "b", "t", "v").head()
    assert(rc.getAs[Long]("r2_sq_sum") == (2L * 2 + 4 * 4 + 6 * 6))
  }

  test("friedman, page, kruskal, anova: an empty frame, an all-NULL " +
      "value column and a single row give one row with a NULL statistic") {
    val inputs = Seq(
      "empty" -> Seq.empty[(String, String, Long)].toDF("b", "t", "v"),
      "all-NULL" -> Seq(("b1", "t1", None: Option[Long]),
        ("b1", "t2", None)).toDF("b", "t", "v"),
      "single row" -> Seq(("b1", "t1", 5L)).toDF("b", "t", "v"))
    val ops: Seq[(String, org.apache.spark.sql.DataFrame =>
        org.apache.spark.sql.DataFrame)] = Seq(
      "chi2_f" -> (Relational.friedmanTest(_, "b", "t", "v")),
      "z" -> (Relational.pageTrendTest(_, "b", "t", "v")),
      "h_stat" -> (Relational.kruskalWallis(_, "t", "v")),
      "f_stat" -> (Relational.anovaF(_, "t", "v")))
    for ((what, df) <- inputs; (stat, op) <- ops) {
      val rows = op(df).collect()
      assert(rows.length == 1, s"$stat on $what")
      assert(rows.head.isNullAt(rows.head.fieldIndex(stat)),
        s"$stat on $what")
      assert(rows.head.getAs[Int]("k") == (if (what == "single row") 1
        else 0), s"$stat on $what")
    }
  }

  test("cliffsDelta: full dominance +1/-1, partial overlap 0.25, " +
      "ties contribute zero") {
    val df = Seq(
      ("s0", 1L), ("s0", 2L),
      ("s1", 3L), ("s1", 4L),    // all above ref -> +1
      ("s2", 0L), ("s2", 0L),    // all below ref -> -1
      ("s3", 1L), ("s3", 3L))    // tie + split -> (2-1)/4
      .toDF("split", "v")
    val out = Relational.cliffsDelta(df, "split", "s0", "v")
      .collect().map(r => r.getString(0) -> r).toMap
    assert(out("s1").getAs[Long]("num") == 4L)
    assert(math.abs(out("s1").getAs[Double]("delta") - 1.0) < 1e-9)
    assert(out("s2").getAs[Long]("num") == -4L)
    assert(math.abs(out("s2").getAs[Double]("delta") + 1.0) < 1e-9)
    assert(out("s3").getAs[Long]("num") == 1L)
    assert(math.abs(out("s3").getAs[Double]("delta") - 0.25) < 1e-9)
  }

  test("hodgesLehmannShift: lower weighted median of the difference " +
      "convolution, per split") {
    val df = Seq(
      ("s0", 0L), ("s0", 0L),
      ("s1", 5L), ("s1", 7L),   // diffs {5x2, 7x2} -> lower median 5
      ("s2", 10L))              // diffs {10x2} -> 10
      .toDF("split", "v")
    val out = Relational.hodgesLehmannShift(df, "split", "s0", "v")
      .collect().map(r => r.getString(0) -> r).toMap
    assert(out("s1").getAs[Long]("n_pairs") == 4L)
    assert(out("s1").getAs[Long]("hl_shift") == 5L)
    assert(out("s2").getAs[Long]("n_pairs") == 2L)
    assert(out("s2").getAs[Long]("hl_shift") == 10L)
  }
}

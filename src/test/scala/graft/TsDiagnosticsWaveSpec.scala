package graft

import graft.engine.Windows

/** Hand-value pins for the q385–q388 time-series diagnostics wave:
  * Ljung–Box, runs test, Durbin–Watson, variance ratio — tiny series
  * where every scaled-integer intermediate (C_k, runs, num/den, V_k)
  * is hand-checked, plus the degenerate-series NULL guards.
  */
class TsDiagnosticsWaveSpec extends SparkSpec {
  import spark.implicits._

  private def series(vals: Seq[Long], g: String = "a") =
    vals.zipWithIndex.map { case (v, i) => (g, i, v) }
      .toDF("k", "t", "v")

  test("ljungBox: 1..6 at lag 1 — rho=0.5 exactly, Q = 6*8*0.25/5 = 2.4; " +
      "constant series yields NULL") {
    val r = Windows.ljungBox(series(Seq(1L, 2L, 3L, 4L, 5L, 6L)),
      Seq("k"), Seq("t"), "v", maxLag = 1).head()
    assert(r.getAs[Long]("n_obs") == 6L)
    assert(math.abs(r.getAs[Double]("q_stat") - 2.4) < 1e-9)

    val c = Windows.ljungBox(series(Seq(5L, 5L, 5L, 5L, 5L)),
      Seq("k"), Seq("t"), "v", maxLag = 1).head()
    assert(c.isNullAt(c.fieldIndex("q_stat")))
  }

  test("ljungBox: short series (n <= maxLag) guards NULL; two groups " +
      "stay independent") {
    val df = series(Seq(1L, 2L, 3L)).unionByName(
      series(Seq(1L, 2L, 3L, 4L, 5L, 6L), g = "b"))
    val out = Windows.ljungBox(df, Seq("k"), Seq("t"), "v", maxLag = 3)
      .collect().map(r => r.getString(0) ->
        (if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toMap
    assert(out("a").isEmpty)   // n=3 == maxLag
    assert(out("b").isDefined)
  }

  test("runsTest: perfect alternation z=+2/sqrt(1.2), perfect " +
      "segregation mirrors it negative, equal-to-median dropped") {
    val alt = Windows.runsTest(series(Seq(1L, 2L, 1L, 2L, 1L, 2L)),
      Seq("k"), Seq("t"), "v").head()
    assert(alt.getAs[Long]("n_above") == 3L)
    assert(alt.getAs[Long]("n_below") == 3L)
    assert(alt.getAs[Long]("runs") == 6L)
    assert(math.abs(alt.getAs[Double]("z") - 2.0 / math.sqrt(1.2)) < 1e-6)

    val seg = Windows.runsTest(series(Seq(1L, 1L, 1L, 2L, 2L, 2L)),
      Seq("k"), Seq("t"), "v").head()
    assert(seg.getAs[Long]("runs") == 2L)
    assert(math.abs(seg.getAs[Double]("z") + 2.0 / math.sqrt(1.2)) < 1e-6)

    // [1,2,3]: median 2 dropped -> n=2, z guard kicks in
    val sml = Windows.runsTest(series(Seq(1L, 2L, 3L)),
      Seq("k"), Seq("t"), "v").head()
    assert(sml.getAs[Long]("n_above") == 1L)
    assert(sml.getAs[Long]("n_below") == 1L)
    assert(sml.isNullAt(sml.fieldIndex("z")))
  }

  test("durbinWatson: hand example [0,2,0,2] -> 10.88/3.2 = 3.4; " +
      "perfect linear fit yields NULL (zero residual variance)") {
    val r = Windows.durbinWatson(series(Seq(0L, 2L, 0L, 2L)),
      Seq("k"), Seq("t"), "v").head()
    assert(r.getAs[Long]("n_obs") == 4L)
    assert(math.abs(r.getAs[Double]("dw") - 3.4) < 1e-9)

    val lin = Windows.durbinWatson(series(Seq(1L, 2L, 3L, 4L)),
      Seq("k"), Seq("t"), "v").head()
    assert(lin.isNullAt(lin.fieldIndex("dw")))
  }

  test("varianceRatio: oscillation collapses to 0, convex growth " +
      "[1,2,4,8] at q=2 -> 81/56/2 = 0.723214, constant-step walk NULL") {
    val osc = Windows.varianceRatio(
      series(Seq(0L, 1L, 0L, 1L, 0L, 1L, 0L, 1L)),
      Seq("k"), Seq("t"), "v", q = 2).head()
    assert(math.abs(osc.getAs[Double]("vr")) < 1e-9)

    val tr = Windows.varianceRatio(series(Seq(1L, 2L, 4L, 8L)),
      Seq("k"), Seq("t"), "v", q = 2).head()
    assert(math.abs(tr.getAs[Double]("vr") - 81.0 / 56.0 / 2.0) < 1e-6)

    val walk = Windows.varianceRatio(
      series(Seq(1L, 2L, 3L, 4L, 5L, 6L)),
      Seq("k"), Seq("t"), "v", q = 2).head()
    assert(walk.isNullAt(walk.fieldIndex("vr"))) // V1 = 0
  }
}

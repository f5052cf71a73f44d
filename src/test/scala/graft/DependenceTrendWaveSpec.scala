package graft

import graft.engine.Relational

/** Hand-value pins for the q417–q420 wave: Chatterjee's ξ (monotone
  * hits (n−2)/(n+1), a symmetric parabola still scores — the case
  * Pearson misses), Mann–Kendall (perfect trend z, all-ties null),
  * lift table (distributed-rank deciles), one-sample KS uniformity.
  */
class DependenceTrendWaveSpec extends SparkSpec {
  import spark.implicits._

  test("xiCorrelation: strictly monotone scores (n-2)/(n+1); the " +
      "symmetric parabola scores 0.5 where Pearson reads 0") {
    val mono = (0L until 10L).map(t => (t, 0L, t * 7 + 1))
      .toDF("x", "tb", "y")
    val rm = Relational.xiCorrelation(mono, "x", "y", Seq("tb")).head()
    assert(rm.getAs[Long]("n") == 10L)
    assert(rm.getAs[Long]("s_abs") == 9L)
    assert(math.abs(rm.getAs[Double]("xi") - 0.727273) < 1e-6)

    val para = (0L until 10L).map(t => (t, 0L, (2 * t - 9) * (2 * t - 9)))
      .toDF("x", "tb", "y")
    val rp = Relational.xiCorrelation(para, "x", "y", Seq("tb")).head()
    assert(rp.getAs[Long]("s_abs") == 16L)
    assert(math.abs(rp.getAs[Double]("xi") - 0.5) < 1e-9)
  }

  test("mannKendall: strictly increasing series gives S = C(n,2) and " +
      "the continuity-corrected z; an all-tie series nulls z") {
    val up = (1L to 5L).map(t => (t, t)).toDF("t", "x")
    val ru = Relational.mannKendall(up, "t", "x").head()
    assert(ru.getAs[Long]("n") == 5L)
    assert(ru.getAs[Long]("s_stat") == 10L)
    assert(math.abs(ru.getAs[Double]("z") - 2.204541) < 1e-6)

    val flat = (1L to 5L).map(t => (t, 7L)).toDF("t", "x")
    val rf = Relational.mannKendall(flat, "t", "x").head()
    assert(rf.getAs[Long]("s_stat") == 0L)
    assert(rf.isNullAt(rf.fieldIndex("z")))
  }

  test("liftTable: one-user deciles, top-decile lift N/R, cumulative " +
      "gain reaches 10^6") {
    val users = (1L to 10L).map(u => (u, 11L - u, u <= 3))
      .toDF("u", "score", "resp")
    val out = Relational.liftTable(users, "score", "resp", Seq("u"))
      .collect().map(r => r.getAs[Int]("decile") -> r).toMap
    assert(out(1).getAs[Long]("n") == 1L)
    assert(out(1).getAs[Long]("n_resp") == 1L)
    assert(out(1).getAs[Long]("rate_ppm") == 1000000L)
    assert(out(1).getAs[Long]("lift_ppm") == 3333333L)
    assert(out(1).getAs[Long]("cum_gain_ppm") == 333333L)
    assert(out(3).getAs[Long]("cum_gain_ppm") == 1000000L)
    assert(out(4).getAs[Long]("n_resp") == 0L)
    assert(out(10).getAs[Long]("cum_gain_ppm") == 1000000L)
  }

  test("ksUniform: hand case D = 0.466667 at the second order stat") {
    val df = Seq(0.1, 0.2, 0.9).toDF("p")
    val r = Relational.ksUniform(df, "p").head()
    assert(r.getAs[Long]("n") == 3L)
    assert(math.abs(r.getAs[Double]("d_stat") - 0.466667) < 1e-6)
    assert(math.abs(r.getAs[Double]("sqrt_n_d") -
      math.round(math.sqrt(3.0) * (2.0 / 3 - 0.2) * 1e6) / 1e6) < 1e-6)
  }

  test("mannKendall maxSeries structural guard: an over-long series " +
      "fails loudly before the n-squared pair scan") {
    import org.apache.spark.sql.functions.col
    val big = spark.range(0, 20).select(col("id").as("t"),
      (col("id") % 5).as("x"))
    val e = intercept[IllegalArgumentException] {
      Relational.mannKendall(big, "t", "x", maxSeries = 10)
    }
    assert(e.getMessage.contains("maxSeries=10"))
    // exactly at the cap the op still runs
    assert(Relational.mannKendall(big, "t", "x", maxSeries = 20)
      .count() == 1)
  }
}

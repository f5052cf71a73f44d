package graft

import graft.engine.Relational

/** Hand-value pins for the q350-q351 wave: Brown–Forsythe
  * variance-homogeneity F, Cochran–Armitage dose trend.
  */
class VarianceTrendWaveSpec extends SparkSpec {
  import spark.implicits._

  test("brownForsytheF: equal spreads about different medians -> F = 0; " +
      "unequal spreads -> F > 0") {
    // group a: {0, 10, 20} med 10, |z| = {10, 0, 10}
    // group b: {100, 110, 120} med 110, |z| = {10, 0, 10} — identical
    // deviation sets, so between-group SS is exactly 0
    val eq = Seq(("a", 0L), ("a", 10L), ("a", 20L),
      ("b", 100L), ("b", 110L), ("b", 120L)).toDF("g", "x")
    val r = Relational.brownForsytheF(eq, "g", "x", scale = 1L).collect()(0)
    assert(r.getInt(0) == 2 && r.getLong(1) == 6)
    assert(math.abs(r.getDouble(2)) < 1e-9)          // ssb
    assert(r.getDouble(4) == 0.0 ||
      math.abs(r.getDouble(4)) < 1e-9)               // f_stat
    // group b now 10x the spread: F must be positive
    val ne = Seq(("a", 0L), ("a", 10L), ("a", 20L),
      ("b", 0L), ("b", 100L), ("b", 200L)).toDF("g", "x")
    val r2 = Relational.brownForsytheF(ne, "g", "x", scale = 1L).collect()(0)
    assert(r2.getDouble(4) > 0.0)
  }

  test("brownForsytheF: lower median on even counts (2*cum >= n picks " +
      "the smaller middle)") {
    // group with values {0, 10}: lower median 0, z = {0, 10}
    val df = Seq(("a", 0L), ("a", 10L), ("b", 5L), ("b", 5L))
      .toDF("g", "x")
    val r = Relational.brownForsytheF(df, "g", "x", scale = 1L).collect()(0)
    // group a z: {0,10} (sum 10, ss 100); group b z: {0,0}
    // T = 100/2/... term_a = (10)^2/2 = 50, term_b = 0
    // ssb = 50 - (10)^2/4 = 25; ssw = 100 - 50 = 50
    assert(math.abs(r.getDouble(2) - 25.0) < 1e-9)
    assert(math.abs(r.getDouble(3) - 50.0) < 1e-9)
  }

  test("cochranArmitage: perfect positive trend gives the textbook z2; " +
      "flat rate gives a ~ 0") {
    // doses 1,2,3 with 2 rows each; successes 0/2, 1/2, 2/2
    val df = Seq((1L, 0), (1L, 0), (2L, 1), (2L, 0), (3L, 1), (3L, 1))
      .toDF("dose", "s")
    val r = Relational.cochranArmitage(df, "dose", "s").collect()(0)
    // n=6 r=3 sum_w=12 sum_ws=1*0+2*1+3*2=8 sum_w2=28
    assert(r.getLong(0) == 6 && r.getLong(1) == 3 &&
      r.getLong(2) == 12 && r.getLong(3) == 8 && r.getLong(4) == 28)
    // a = 6*8 - 3*12 = 12; b = 6*28 - 144 = 24
    assert(r.getLong(5) == 12 && r.getLong(6) == 24)
    // z2 = n*a^2/(r(n-r)b) = 6*144/(3*3*24) = 4.0
    assert(math.abs(r.getDouble(7) - 4.0) < 1e-9)
    // flat 50% rate at every dose: a = 0, z2 = 0
    val flat = Seq((1L, 1), (1L, 0), (2L, 1), (2L, 0), (3L, 1), (3L, 0))
      .toDF("dose", "s")
    val rf = Relational.cochranArmitage(flat, "dose", "s").collect()(0)
    assert(rf.getLong(5) == 0 && rf.getDouble(7) == 0.0)
  }

  test("cochranArmitage: degenerate inputs (all success, constant dose) " +
      "report null z2") {
    val allS = Seq((1L, 1), (2L, 1)).toDF("dose", "s")
    assert(Relational.cochranArmitage(allS, "dose", "s")
      .collect()(0).isNullAt(7))
    val oneDose = Seq((2L, 1), (2L, 0)).toDF("dose", "s")
    assert(Relational.cochranArmitage(oneDose, "dose", "s")
      .collect()(0).isNullAt(7))                      // b = 0
  }
}

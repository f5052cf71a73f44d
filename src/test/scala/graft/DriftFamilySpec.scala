package graft

import graft.engine.Relational

/** Hand-value pins for the q314-q317 drift-family completion: CvM,
  * Anderson-Darling, energy distance, Kuiper — all over the shared
  * [[Relational.ecdfPaired]] frame.
  *
  * Fixture (the wassersteinReport fixture): ref s0 = {0,10},
  * s1 = {5,10}, s2 = {1,11}; nr = nc = 2 for both pairs.
  * Hand gaps d = cumr*nc - cum*nr on the merged supports:
  *   s1: {0: d=2, 5: d=0, 10: d=0};  s2: {0: 2, 1: 0, 10: 2, 11: 0}.
  */
class DriftFamilySpec extends SparkSpec {
  import spark.implicits._

  private val df = Seq(("s0", 0L), ("s0", 10L), ("s1", 5L), ("s1", 10L),
    ("s2", 1L), ("s2", 11L)).toDF("s", "v")

  private def paired(nb: Int) =
    Relational.ecdfPaired(df.repartition(3), "s", "s0", "v",
      lo = 0d, hi = 12d, nBuckets = nb)

  test("cvmReportFromPaired: hand t_all*d^2 sums, bucket-invariant") {
    // s1: only v=0 contributes 1*2^2 = 4 -> T = 4/(16*4) = 0.0625
    // s2: v=0 and v=10 contribute 4 each -> T = 8/64 = 0.125
    for (nb <- Seq(1, 4, 64)) {
      val r = Relational.cvmReportFromPaired(paired(nb))
        .collect().map(x => x.getString(0) -> x).toMap
      assert(r("s1").getLong(3) == 62500L, s"nb=$nb")
      assert(r("s1").getDouble(4) == 0.0625)
      assert(r("s2").getLong(3) == 125000L, s"nb=$nb")
      assert(r("s2").getDouble(4) == 0.125)
    }
  }

  test("andersonDarlingFromPaired: pooled-max excluded, micro-floored " +
      "terms") {
    // s1: v=0 term (1*4*1e6)//(1*3) = 1333333; v=10 has B=N, excluded
    //   -> ad_micro = 1333333 // 4 = 333333
    // s2: v=0 and v=10 terms 1333333 each -> 2666666 // 4 = 666666
    val r = Relational.andersonDarlingFromPaired(paired(4))
      .collect().map(x => x.getString(0) -> x).toMap
    assert(r("s1").getLong(3) == 333333L)
    assert(r("s2").getLong(3) == 666666L)
  }

  test("energyDistanceFromPaired: closed ECDF integral, unit shift, " +
      "bucket-invariant") {
    // s1: seg at v=5 only: d_exc=2 -> 4*5 = 20 -> E = 2*20/16 = 2.5
    // s2 (unit shift of ref): E = 2*(0.25 + 0.25) = 1.0
    for (nb <- Seq(1, 4, 64)) {
      val r = Relational.energyDistanceFromPaired(paired(nb))
        .collect().map(x => x.getString(0) -> x).toMap
      assert(r("s1").getLong(3) == 2500000L, s"nb=$nb")
      assert(r("s1").getDouble(4) == 2.5)
      assert(r("s2").getLong(3) == 1000000L, s"nb=$nb")
      assert(r("s2").getDouble(4) == 1.0)
    }
  }

  test("kuiperReportFromPaired: one-sided fixture keeps V = KS; " +
      "two-sided crossing adds the sups") {
    val r = Relational.kuiperReportFromPaired(paired(4))
      .collect().map(x => x.getString(0) -> x).toMap
    // both pairs: all d >= 0 (current stochastically above ref is
    // false here; ref leads) -> dp = 2, dm = 0 -> V = 2/4 = 0.5 = KS
    assert(r("s1").getLong(3) == 2L && r("s1").getDouble(4) == 0.5)
    assert(r("s2").getLong(3) == 2L && r("s2").getDouble(4) == 0.5)
    // crossing pair: s1 = {0, 3} vs ref {1, 2}: F1 leads on [0,1),
    // ref leads on [2,3) -> both sups are 1/2, V = 1, KS = 1/2
    val cross = Seq(("s0", 1L), ("s0", 2L), ("s1", 0L), ("s1", 3L))
      .toDF("s", "v")
    val e2 = Relational.ecdfPaired(cross, "s", "s0", "v", 0d, 4d, 2)
    val rc = Relational.kuiperReportFromPaired(e2).collect().head
    assert(rc.getLong(3) == 4L && rc.getDouble(4) == 1.0)
    val ks = Relational.ksReportFromPaired(e2).collect().head
    assert(ks.getDouble(4) == 0.5)
  }

  test("drift family: identical distributions are all-zero; missing " +
      "reference is an empty report") {
    val same = Seq(("s0", 3L), ("s0", 7L), ("s1", 3L), ("s1", 7L))
      .toDF("s", "v")
    val e = Relational.ecdfPaired(same, "s", "s0", "v", 0d, 8d, 4)
    assert(Relational.cvmReportFromPaired(e).collect()
      .forall(r => r.getLong(3) == 0L && r.getDouble(4) == 0.0))
    assert(Relational.andersonDarlingFromPaired(e).collect()
      .forall(_.getLong(3) == 0L))
    assert(Relational.energyDistanceFromPaired(e).collect()
      .forall(_.getLong(3) == 0L))
    assert(Relational.kuiperReportFromPaired(e).collect()
      .forall(_.getLong(3) == 0L))
    val eMiss = Relational.ecdfPaired(same, "s", "zzz", "v", 0d, 8d, 4)
    assert(Relational.cvmReportFromPaired(eMiss).count() == 0)
    assert(Relational.andersonDarlingFromPaired(eMiss).count() == 0)
    assert(Relational.energyDistanceFromPaired(eMiss)
      .count() == 0)
    assert(Relational.kuiperReportFromPaired(eMiss).count() == 0)
  }

  test("drift family: an empty frame, an all-NULL value column and a " +
      "single row give typed empty reports") {
    val inputs = Seq(
      "empty" -> Seq.empty[(String, Long)].toDF("s", "v"),
      "all-NULL" -> Seq(("s0", None: Option[Long]), ("s1", None))
        .toDF("s", "v"),
      "single row" -> Seq(("s1", 4L)).toDF("s", "v"))
    val reports: Seq[(String, org.apache.spark.sql.DataFrame =>
        org.apache.spark.sql.DataFrame)] = Seq(
      "d_num" -> Relational.ksReportFromPaired,
      "w1_micro" -> Relational.wassersteinReportFromPaired,
      "cvm_micro" -> Relational.cvmReportFromPaired,
      "ad_micro" -> Relational.andersonDarlingFromPaired,
      "energy_micro" -> Relational.energyDistanceFromPaired,
      "v_num" -> Relational.kuiperReportFromPaired)
    for ((what, df) <- inputs) {
      val e = Relational.ecdfPaired(df, "s", "s0", "v", 0d, 8d, 4)
      for ((num, report) <- reports) {
        val out = report(e)
        assert(out.collect().isEmpty, s"$num on $what")
        assert(out.schema.fields.toSeq.take(4).map(f =>
            f.name -> f.dataType.typeName) == Seq("split" -> "string",
          "n_ref" -> "long", "n_cur" -> "long", num -> "long"),
          s"$num on $what")
      }
      val mw = Relational.mannWhitneyReport(df, "s", "s0", "v", 0d, 8d, 4)
      assert(mw.collect().isEmpty, s"mannWhitney on $what")
    }
  }
}

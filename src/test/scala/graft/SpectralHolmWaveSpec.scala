package graft

import graft.engine.Relational

/** Hand-value pins for the q356-q357 wave: Holm–Bonferroni step-down,
  * exact integer power iteration.
  */
class SpectralHolmWaveSpec extends SparkSpec {
  import spark.implicits._

  test("holmBonferroni: step-down critical values; all-pass discovers " +
      "everything") {
    // m=4, alpha=0.2: crit = 0.05, 0.0667, 0.1, 0.2
    val df = Seq((1L, 0.01), (2L, 0.02), (3L, 0.04), (4L, 0.5))
      .toDF("id", "p")
    val r = Relational.holmBonferroni(df, "id", "p", 20)
      .collect().map(x => x.getLong(0) ->
        ((x.getInt(2), x.getDouble(3), x.getBoolean(4)))).toMap
    assert(r(1L) == ((1, 0.05, true)))
    assert(r(2L)._3 && r(3L)._3)
    assert(r(4L) == ((4, 0.2, false)))
  }

  test("holmBonferroni: the first failure stops the walk — later " +
      "p-values below their own crit are NOT discoveries (unlike BH)") {
    // rank 2 fails (0.09 > 0.2/3), rank 3 would pass its own crit
    // (0.095 <= 0.1) but is cut by the step-down
    val df = Seq((1L, 0.01), (2L, 0.09), (3L, 0.095), (4L, 0.099))
      .toDF("id", "p")
    val holm = Relational.holmBonferroni(df, "id", "p", 20)
      .collect().map(x => x.getLong(0) -> x.getBoolean(4)).toMap
    assert(holm == Map(1L -> true, 2L -> false, 3L -> false, 4L -> false))
    // BH on the same worklist rescues everything (crit_i = i*0.05)
    val bh = Relational.bhFdr(df, "id", "p", 20)
      .collect().map(x => x.getLong(0) -> x.getBoolean(4)).toMap
    assert(bh.values.forall(identity))
  }

  test("bhFdr, holmBonferroni, byFdr: empty, all-NULL and one-row " +
      "worklists; the three rank one frame identically (NULL p dropped, " +
      "ties broken by id)") {
    val corrections: Seq[(String, org.apache.spark.sql.DataFrame =>
        org.apache.spark.sql.DataFrame)] = Seq(
      "bhFdr" -> (Relational.bhFdr(_, "id", "p", 20)),
      "holmBonferroni" -> (Relational.holmBonferroni(_, "id", "p", 20)),
      "byFdr" -> (Relational.byFdr(_, "id", "p", 20)))
    val empty = Seq.empty[(Long, Double)].toDF("id", "p")
    // repartitioned, so the optimizer cannot fold the frame empty
    val allNull = Seq((1L, None: Option[Double]), (2L, None)).toDF("id", "p")
      .repartition(2)
    val one = Seq((7L, 0.01)).toDF("id", "p")
    val tied = Seq((1L, Some(0.03)), (2L, None), (4L, Some(0.01)),
      (3L, Some(0.01))).toDF("id", "p")
    val aqe = "spark.sql.adaptive.enabled"
    for ((name, fix) <- corrections) {
      // with AQE on and off: BY's harmonic sum over m = 0 would divide
      // by zero if its one-row frame were evaluated
      for (on <- Seq("true", "false")) {
        val before = spark.conf.get(aqe)
        spark.conf.set(aqe, on)
        try {
          assert(fix(empty).collect().isEmpty, s"$name on empty, AQE $on")
          assert(fix(allNull).collect().isEmpty,
            s"$name on all-NULL, AQE $on")
        } finally spark.conf.set(aqe, before)
      }
      // m = 1: every correction's crit is alpha itself
      assert(fix(one).collect().map(r => (r.getLong(0), r.getInt(2),
        r.getDouble(3), r.getBoolean(4))).toSeq == Seq((7L, 1, 0.2, true)),
        s"$name on one row")
      assert(fix(tied).collect().map(r => r.getLong(0) -> r.getInt(2))
        .toMap == Map(3L -> 1, 4L -> 2, 1L -> 3), s"$name ranks")
    }
  }

  test("powerIteration: axis-aligned corpus converges to the heavy " +
      "axis; halving tail each round; lambda = dominant mass") {
    // two rows on dim 0, one on dim 1: A = diag(2e12, 1e12)
    val rows = Seq((1L, Array(1.0f, 0.0f)), (2L, Array(1.0f, 0.0f)),
      (3L, Array(0.0f, 1.0f))).toDF("vec_id", "embedding")
    val r = graft.llm.Similarity.powerIteration(rows,
        "embedding", rounds = 4)
      .collect().map(x => x.getInt(0) ->
        ((x.getLong(1), x.getDecimal(2).longValueExact()))).toMap
    // v: (1e6, 1e6) -> (1e6, 5e5) -> (1e6, 25e4) -> ... -> (1e6, 62500)
    assert(r(0)._1 == 1000000L && r(1)._1 == 62500L)
    // final norm = 2e18 (A00 * 1e6)
    assert(r(0)._2 == 2000000000000000000L)
  }

  test("powerIteration: negative components truncate toward zero " +
      "identically; converges toward (3+sqrt(5))/2 for [[1,-1],[-1,2]]") {
    val rows = Seq((1L, Array(1.0f, -1.0f)), (2L, Array(0.0f, 1.0f)))
      .toDF("vec_id", "embedding")
    val r = graft.llm.Similarity.powerIteration(rows,
        "embedding", rounds = 4)
      .collect().map(x => x.getInt(0) -> x.getLong(1)).toMap
    // hand-rolled: v4 = (-615384, 1000000); n4 = 2.6e18
    assert(r(0) == -615384L && r(1) == 1000000L)
  }

  test("powerIteration: exactly-orthogonal degenerate start collapses " +
      "to the zero vector instead of dividing by zero") {
    // A = [[2e12, -2e12], [-2e12, 2e12]]; all-ones start is in the
    // null space -> w = 0 on round 1
    val rows = Seq((1L, Array(1.0f, -1.0f)), (2L, Array(1.0f, -1.0f)))
      .toDF("vec_id", "embedding")
    val r = graft.llm.Similarity.powerIteration(rows,
        "embedding", rounds = 2)
      .collect().map(x => x.getInt(0) -> x.getLong(1)).toMap
    assert(r.values.forall(_ == 0L))
  }
}

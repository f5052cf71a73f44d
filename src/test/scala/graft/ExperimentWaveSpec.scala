package graft

import graft.engine.Relational

/** Hand-value pins for the q324-q326 wave: median-of-means,
  * Mantel-Haenszel, CUPED.
  */
class ExperimentWaveSpec extends SparkSpec {
  import spark.implicits._

  test("medianOfMeans: g=1 is the plain mean, an outlier moves the " +
      "mean but not the median bucket, partition-invariant") {
    val clean = (1 to 1000).map(i => (i.toLong, 1000L)).toDF("id", "v")
    val r1 = Relational.medianOfMeans(clean, "id", "v", g = 1)
      .collect().head
    assert(r1.getLong(2) == r1.getLong(3), "g=1: mom == mean")
    assert(r1.getLong(2) == 1000000000L)
    val dirty = clean.union(Seq((100001L, 1000000000L)).toDF("id", "v"))
    val rd = Relational.medianOfMeans(dirty, "id", "v", g = 15)
      .collect().head
    assert(rd.getLong(1) == 1001)
    assert(rd.getLong(2) > 1000000000L, "mean follows the outlier")
    assert(rd.getLong(3) == 1000000000L, "median bucket stays clean")
    val rp = Relational.medianOfMeans(dirty.repartition(7), "id", "v",
      g = 15).collect().head
    assert(rp.getLong(3) == rd.getLong(3) && rp.getLong(2) == rd.getLong(2))
  }

  test("mantelHaenszel: hand two-stratum cells, zero denominator " +
      "yields nulls") {
    // s1: a=2 b=1 c=1 d=2 (n=6): num=666666 den=166666
    // s2: a=b=c=d=1 (n=4): num=den=250000
    // sn=916666 sd=416666 -> or_micro=2200001, mh_or=2.200002
    val rows = Seq(
      ("s1", 1, 1), ("s1", 1, 1), ("s1", 1, 0), ("s1", 0, 1),
      ("s1", 0, 0), ("s1", 0, 0),
      ("s2", 1, 1), ("s2", 1, 0), ("s2", 0, 1), ("s2", 0, 0))
    val r = Relational.mantelHaenszel(rows.toDF("s", "ex", "oc"),
      "s", "ex", "oc").collect().head
    assert(r.getInt(0) == 2)
    assert(r.getLong(1) == 916666L && r.getLong(2) == 416666L)
    assert(r.getLong(3) == 2200001L)
    assert(r.getDouble(4) == 2.200002)
    // all-concordant table: b*c = 0 everywhere -> null ratio
    val conc = Seq(("s", 1, 1), ("s", 0, 0)).toDF("s", "ex", "oc")
    val rc = Relational.mantelHaenszel(conc, "s", "ex", "oc")
      .collect().head
    assert(rc.isNullAt(3) && rc.isNullAt(4))
  }

  test("cupedEffect: Y = 2X exactly recovers theta = 2 and a fully " +
      "explained lift; degenerate X yields nulls") {
    val units = Seq((0, 1L, 2L), (0, 3L, 6L), (1, 2L, 4L), (1, 4L, 8L))
      .toDF("t", "x", "y")
    val r = Relational.cupedEffect(units, "t", "x", "y").collect().head
    assert(r.getLong(0) == 2 && r.getLong(1) == 2)
    assert(r.getLong(2) == 12 && r.getLong(3) == 8)
    assert(r.getDouble(4) == 2.0, s"theta=${r.getDouble(4)}")
    assert(r.getDouble(5) == 2.0, s"raw=${r.getDouble(5)}")
    assert(r.getDouble(6) == 0.0, s"adj=${r.getDouble(6)}")
    val flat = Seq((0, 5L, 2L), (1, 5L, 4L)).toDF("t", "x", "y")
    val rf = Relational.cupedEffect(flat, "t", "x", "y").collect().head
    assert(rf.isNullAt(4) && rf.isNullAt(5) && rf.isNullAt(6))
  }
}

package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.engine.Relational

/** Adversarial pins for the distributed global rank/cumsum primitives —
  * the round-10 q287 lesson (AQE re-planned the range exchange per
  * reader and misattributed every offset, visible only past a data-size
  * threshold) says these helpers get DIRECT randomized equivalence
  * tests against the single-partition window they replace, across
  * upstream partitionings, tie densities, and sizes that exercise
  * multiple range partitions.
  */
class GlobalRankSpec extends SparkSpec {
  import spark.implicits._

  private def viaWindow(df: org.apache.spark.sql.DataFrame) = df
    .withColumn("__w", row_number().over(
      Window.orderBy(col("k"), col("id"))))

  test("globalRank == single-partition row_number across sizes, " +
      "partitionings, and tie densities") {
    val rnd = new scala.util.Random(42)
    for {
      n <- Seq(1, 7, 100, 2000)
      dom <- Seq(2, 50, 1000000)
      parts <- Seq(1, 3, 17)
    } {
      val rows = (1L to n.toLong).map(i => (i, rnd.nextInt(dom).toLong))
      val df = rows.toDF("id", "k").repartition(parts)
      val got = Relational.globalRank(df, Seq(col("k"), col("id")), "rk")
        .select(col("id"), col("rk")).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      val want = viaWindow(df).select(col("id"), col("__w")).collect()
        .map(r => r.getLong(0) -> r.getInt(1).toLong).toMap
      assert(got == want, s"n=$n dom=$dom parts=$parts")
    }
  }

  test("globalRank: empty input and the one-row frame") {
    val e = Seq.empty[(Long, Long)].toDF("id", "k")
    assert(Relational.globalRank(e, Seq(col("k")), "rk").count() == 0)
    val one = Seq((5L, 9L)).toDF("id", "k")
    assert(Relational.globalRank(one, Seq(col("k")), "rk")
      .select("rk").as[Long].collect().toSeq == Seq(1L))
  }

  test("globalCumSum == single-partition running sum at every " +
      "tie-block boundary, and total equals the plain sum") {
    val rnd = new scala.util.Random(7)
    for (parts <- Seq(1, 5, 13)) {
      // heavy ties: 400 rows over 12 distinct keys, weights 0..9
      val rows = (1L to 400L).map(i =>
        (i, rnd.nextInt(12).toLong, rnd.nextInt(10).toLong))
      val df = rows.toDF("id", "k", "w").repartition(parts)
      val got = Relational.globalCumSum(df, Seq(col("k")), col("w"), "cum")
      // inclusive cum at the LAST row of each tie block is
      // permutation-invariant: compare per-key maxima
      val gotMax = got.groupBy("k").agg(max("cum").as("m")).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      val sorted = df.groupBy("k").agg(sum("w").as("s")).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).sortBy(_._1)
      var run = 0L
      val expect = sorted.map { case (k, s) => run += s; k -> run }.toMap
      assert(gotMax == expect, s"parts=$parts")
      assert(got.agg(max("cum")).as[Long].collect().head ==
        rows.map(_._3).sum)
    }
  }
}

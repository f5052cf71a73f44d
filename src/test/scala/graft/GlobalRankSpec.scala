package graft

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.engine.{Pins, PrefixScan}

/** Adversarial pins for the distributed prefix scan (`PrefixScan`) — the
  * round-10 q287 lesson (AQE re-planned the range exchange per reader
  * and misattributed every offset, visible only past a data-size
  * threshold) says it gets DIRECT randomized equivalence tests against
  * the single-partition window it replaces, across upstream
  * partitionings, tie densities, null weights and sizes. The session's
  * default settings derive ONE range partition for frames this small,
  * so the cases that must exercise several range partitions lower the
  * minimum partition size and set the shuffle partition count, and
  * assert that `Pins.loopParts` derives more than one.
  */
class GlobalRankSpec extends SparkSpec {
  import spark.implicits._

  private def viaWindow(df: DataFrame) = df
    .withColumn("__w", row_number().over(
      Window.orderBy(col("k"), col("id"))))

  /** Run `body` with `spark.sql.shuffle.partitions = parts` and a 1-byte
    * minimum partition size (so `loopParts` derives `parts`), restoring
    * both settings afterwards.
    */
  private def atParts(parts: Int)(body: => Unit): Unit = {
    val keys = Seq("spark.sql.shuffle.partitions",
      "spark.sql.adaptive.coalescePartitions.minPartitionSize")
    val before = keys.map(k => k -> spark.conf.getOption(k))
    spark.conf.set(keys(0), parts.toLong)
    spark.conf.set(keys(1), "1b")
    try body
    finally before.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** The frame really reaches several range partitions when `parts > 1`
    * (and exactly one otherwise).
    */
  private def assertSpread(df: DataFrame, order: Seq[Column],
      parts: Int): Unit = {
    val n = Pins.loopParts(df)
    if (parts > 1) {
      assert(n > 1, s"loopParts=$n at shuffle.partitions=$parts")
      val used = df.repartitionByRange(n, order: _*)
        .select(spark_partition_id()).distinct().count()
      assert(used > 1, s"one non-empty range partition of $n")
    } else assert(n == 1)
  }

  /** Rows of `df` as id -> remaining columns, for exact comparison. */
  private def byId(df: DataFrame): Map[Long, Seq[Any]] =
    df.collect().map((r: Row) => r.getLong(0) -> r.toSeq.tail).toMap

  private def rows(seed: Int, n: Int, dom: Int, parts: Int): DataFrame = {
    val rnd = new scala.util.Random(seed)
    (1L to n.toLong).map { i =>
      (i, rnd.nextInt(dom).toLong, rnd.nextInt(10).toLong - 3,
        if (rnd.nextInt(10) < 3) None else Some(rnd.nextInt(100).toLong))
    }.toDF("id", "k", "a", "b").repartition(parts)
  }

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
      val got = PrefixScan.globalRank(df, Seq(col("k"), col("id")), "rk")
        .select(col("id"), col("rk")).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      val want = viaWindow(df).select(col("id"), col("__w")).collect()
        .map(r => r.getLong(0) -> r.getInt(1).toLong).toMap
      assert(got == want, s"n=$n dom=$dom parts=$parts")
    }
  }

  test("globalRank: empty input and the one-row frame") {
    val e = Seq.empty[(Long, Long)].toDF("id", "k")
    assert(PrefixScan.globalRank(e, Seq(col("k")), "rk").count() == 0)
    val one = Seq((5L, 9L)).toDF("id", "k")
    assert(PrefixScan.globalRank(one, Seq(col("k")), "rk")
      .select("rk").as[Long].collect().toSeq == Seq(1L))
  }

  test("globalRank over a hash-aggregated upstream whose scan reader " +
      "keeps a column the offset reader prunes (the q287 shape): both " +
      "readers see one set of range boundaries") {
    // ids 1..n out of a distinct over exploded edges, plus a payload
    // only the scan reader outputs. Unpinned, the offset reader's pruned
    // range exchange differs from the scan reader's, so AQE cannot reuse
    // one for the other; each samples its own boundaries (past the
    // per-partition sample size they differ run to run) and offsets land
    // on the wrong partitions.
    val n = 20000L
    val nodes = spark.range(n)
      .select(explode(array(col("id"), col("id") * 7919 % n)).as("id"))
      .distinct()
      .select((col("id") + 1).as("id"))
      .withColumn("pad", concat(lit("x"), col("id").cast("string")))
    for (parts <- Seq(3, 13)) atParts(parts) {
      assertSpread(nodes, Seq(col("id")), parts)
      val got = PrefixScan.globalRank(nodes, Seq(col("id")), "rk")
        .select("id", "rk", "pad").as[(Long, Long, String)].collect()
      assert(got.length == n, s"parts=$parts")
      val wrong = got.count { case (id, rk, pad) =>
        rk != id || pad != s"x$id" }
      assert(wrong == 0, s"parts=$parts: $wrong of $n ranks off")
    }
  }

  test("globalCumSum == single-partition running sum at every " +
      "tie-block boundary, and total equals the plain sum") {
    val rnd = new scala.util.Random(7)
    for (parts <- Seq(1, 5, 13)) {
      // heavy ties: 400 rows over 12 distinct keys, weights 0..9
      val rows = (1L to 400L).map(i =>
        (i, rnd.nextInt(12).toLong, rnd.nextInt(10).toLong))
      val df = rows.toDF("id", "k", "w").repartition(parts)
      val got = PrefixScan.globalCumSum(df, Seq(col("k")), col("w") -> "cum")
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

  for (parts <- Seq(1, 3, 13)) {
    test(s"prefix scan at shuffle.partitions=$parts: ranks, multi-sum, " +
        "descending order and null weights equal the single-partition " +
        "window") {
      atParts(parts) {
        for {
          (n, seed) <- Seq(7 -> 1, 2000 -> 2)
          dom <- Seq(2, 1000000)
          up <- Seq(1, 17)
        } {
          val df = rows(seed * 31 + dom % 7 + up, n, dom, up)
          for (order <- Seq(Seq(col("k"), col("id")),
              Seq(col("k").desc, col("id").asc))) {
            if (n > 1000) assertSpread(df, order, parts)
            val run = Window.orderBy(order: _*)
              .rowsBetween(Window.unboundedPreceding, Window.currentRow)
            val got = PrefixScan.globalCumSum(df, order, lit(1) -> "rk",
                col("a") -> "ca", col("b") -> "cb",
                lit(null).cast("long") -> "cz")
              .select("id", "rk", "ca", "cb", "cz")
            val want = df.select(col("id"),
              row_number().over(Window.orderBy(order: _*)).cast("long"),
              sum(col("a")).over(run), sum(col("b")).over(run),
              sum(lit(null).cast("long")).over(run))
            assert(byId(got) == byId(want),
              s"n=$n dom=$dom up=$up order=$order")
          }
        }
      }
    }

    test(s"prefix scan at shuffle.partitions=$parts: tie-block last rows, " +
        "empty input and the one-row frame") {
      atParts(parts) {
        val df = rows(parts, 3000, 12, 5)
        assertSpread(df, Seq(col("k")), parts)
        val got = PrefixScan.globalCumSum(df, Seq(col("k")),
            col("b") -> "cb", lit(1) -> "rk")
          .groupBy("k").agg(max("cb"), max("rk"))
        // a RANGE frame sums the whole tie block: the value at its last row
        val block = Window.orderBy(col("k"))
          .rangeBetween(Window.unboundedPreceding, Window.currentRow)
        val want = df.select(col("k"), sum(col("b")).over(block),
            count(lit(1)).over(block)).distinct()
        assert(byId(got) == byId(want))

        val e = Seq.empty[(Long, Long)].toDF("id", "w")
        assert(PrefixScan.globalCumSum(e, Seq(col("id")),
          col("w") -> "c", lit(1) -> "r").count() == 0)
        val one = Seq((5L, 9L)).toDF("id", "w")
        assert(PrefixScan.globalCumSum(one, Seq(col("id")),
            col("w") -> "c", lit(1) -> "r").select("c", "r")
          .as[(Long, Long)].collect().toSeq == Seq((9L, 1L)))
      }
    }
  }
}

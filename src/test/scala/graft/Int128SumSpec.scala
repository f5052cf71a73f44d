package graft

import scala.util.Random

import org.apache.spark.SparkThrowable
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.engine.Relational.{exactSum, exactSumProd}

/** `exactSum` / `exactSumProd` (the 128-bit [[graft.functions.Int128Sum]])
  * against the `sum(… decimal(38,0))` they replace: equal values, types
  * and nullability on random, extreme, mixed-sign and null input, global
  * and grouped, at 1, 3 and 13 input partitions; and the same overflow
  * behaviour — the decimal sum's error under ANSI, NULL without it.
  */
class Int128SumSpec extends SparkSpec {

  private val d38 = "decimal(38,0)"
  private val schema = StructType(Seq(StructField("k", StringType),
    StructField("x", LongType), StructField("y", LongType)))

  private def frame(rows: Seq[Row], parts: Int): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
      .repartition(parts)

  private def oldSum(a: Column) = sum(a.cast(d38))
  private def oldProd(a: Column, b: Column) = sum(a.cast(d38) * b)

  /** Both forms side by side over `df`, grouped by `k` or global. */
  private def both(df: DataFrame, grouped: Boolean): (DataFrame, DataFrame) = {
    def run(s: Column => Column, p: (Column, Column) => Column) = {
      val aggs = Seq(s(col("x")).as("sx"), s(col("y")).as("sy"),
        p(col("x"), col("y")).as("sxy"), p(col("x"), col("x")).as("sxx"),
        p(col("y"), col("y")).as("syy"))
      if (grouped) df.groupBy("k").agg(aggs.head, aggs.tail: _*)
      else df.agg(aggs.head, aggs.tail: _*)
    }
    (run(exactSum, exactSumProd), run(oldSum, oldProd))
  }

  private def sorted(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.mkString("|")).toSeq.sorted

  private val ext = Seq(Long.MinValue, Long.MaxValue, Long.MinValue + 1,
    -1L, 0L, 1L, Long.MaxValue - 1)

  /** Random rows: small and 40-bit values of both signs, ~10% nulls,
    * and a group "none" with no non-null product.
    */
  private val rows: Seq[Row] = {
    val r = new Random(7)
    def v(): java.lang.Long = r.nextInt(10) match {
      case 0 => null
      case 1 | 2 => java.lang.Long.valueOf(r.nextInt(2001) - 1000L)
      case _ => java.lang.Long.valueOf(r.nextLong() >> 24)
    }
    (0 until 3000).map(i => Row(s"g${i % 7}", v(), v())) ++
      Seq(Row("none", null, null), Row("none", null, 5L),
        Row("none", 3L, null))
  }

  /** One row per extreme pair, so each group's products reach 2^126 and
    * no total leaves 38 digits.
    */
  private val extremes: Seq[Row] = for (a <- ext; b <- ext)
    yield Row(s"e${a}_$b", a, b)

  for (parts <- Seq(1, 3, 13); grouped <- Seq(false, true)) {
    test(s"equal to the decimal sum: ${if (grouped) "grouped" else "global"}" +
        s", $parts partitions") {
      val in = if (grouped) rows ++ extremes else rows
      val (got, want) = both(frame(in, parts), grouped)
      assert(got.schema === want.schema)
      assert(sorted(got) === sorted(want))
    }
  }

  test("extreme products: 2^126 terms, carries and cancellation") {
    val big = BigInt(Long.MinValue)
    val rs = Seq(Row("a", Long.MinValue, Long.MinValue),
      Row("a", Long.MaxValue, Long.MinValue), Row("b", Long.MaxValue,
        Long.MaxValue), Row("b", -1L, 1L), Row("c", Long.MinValue, 1L),
      Row("c", Long.MinValue, 1L), Row("c", Long.MinValue, 1L))
    val got = frame(rs, 3).groupBy("k")
      .agg(exactSumProd(col("x"), col("y")).as("s"), exactSum(col("x")))
      .collect().map(r => r.getString(0) -> r.getDecimal(1).toBigInteger)
      .toMap
    assert(BigInt(got("a")) === big * big + BigInt(Long.MaxValue) * big)
    assert(BigInt(got("b")) === BigInt(Long.MaxValue).pow(2) - 1)
    assert(BigInt(got("c")) === big * 3)
    val cmp = Seq(exactSumProd(col("x"), col("y")), oldProd(col("x"),
      col("y")), exactSum(col("x")), oldSum(col("x")))
    val both13 = frame(rs, 13).groupBy("k").agg(cmp.head, cmp.tail: _*)
      .collect()
    assert(both13.forall(r => r.get(1) == r.get(2) && r.get(3) == r.get(4)))
  }

  test("no input and all-null input give NULL, as the decimal sum does") {
    val empty = frame(Nil, 3)
    val (g, w) = both(empty, grouped = false)
    assert(g.collect().toSeq === w.collect().toSeq)
    assert(g.collect().head.toSeq.forall(_ == null))
    val (gn, wn) = both(frame(rows.filter(_.getString(0) == "none"), 3),
      grouped = true)
    assert(sorted(gn) === sorted(wn))
    assert(gn.collect().head.isNullAt(3)) // sxy
  }

  test("the SQL function and the Column helper agree") {
    frame(rows, 3).createOrReplaceTempView("int128_rows")
    val sql = spark.sql("SELECT k, exact_sum(x) AS sx, exact_sum(x, y) AS sxy" +
      " FROM int128_rows GROUP BY k")
    val api = frame(rows, 3).groupBy("k")
      .agg(exactSum(col("x")).as("sx"), exactSumProd(col("x"), col("y"))
        .as("sxy"))
    assert(sql.schema === api.schema)
    assert(sorted(sql) === sorted(api))
  }

  test("a non-integral argument is an analysis error") {
    val e = intercept[Exception] {
      spark.range(3).agg(exactSum(col("id").cast("double"))).collect()
    }
    assert(e.getMessage.contains("exact_sum expects integral arguments"))
  }

  /** Totals past 38 digits: two (2⁶³−1)² terms stay inside 128 bits,
    * three wrap them.
    */
  private def overflowing(n: Int, parts: Int) =
    frame(Seq.fill(n)(Row("k", Long.MaxValue, Long.MaxValue)), parts)

  /** The error's (condition, SQLSTATE). */
  private def error(body: => Any): (String, String) = {
    val e = intercept[Throwable](body)
    Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .collectFirst { case s: SparkThrowable => (s.getCondition, s.getSqlState) }
      .getOrElse(fail(s"no SparkThrowable in $e"))
  }

  private def withAnsi[T](on: Boolean)(body: => T): T = {
    val key = "spark.sql.ansi.enabled"
    val before = spark.conf.get(key)
    spark.conf.set(key, on.toString)
    try body finally spark.conf.set(key, before)
  }

  private val sumOverflow = ("ARITHMETIC_OVERFLOW", "22003")

  for (n <- Seq(2, 3); grouped <- Seq(false, true); parts <- Seq(1, 3)) {
    val shape = if (grouped) "grouped" else "global"
    test(s"overflow ($n terms of 2^126, $shape, $parts partitions): an " +
        "ANSI error, NULL without ANSI") {
      def runs = {
        val df = overflowing(n, parts)
        Seq(exactSumProd _, oldProd _).map { f =>
          val a = f(col("x"), col("y")).as("s")
          if (grouped) df.groupBy("k").agg(a).select("s") else df.agg(a)
        }
      }
      withAnsi(on = true) {
        val Seq(got, want) = runs
        assert(error(got.collect()) === sumOverflow)
        // the decimal sum raises its sum-overflow error where its buffer
        // row goes NULL (grouped); a global sum keeps its final buffer as
        // a BigDecimal and fails the decimal(38,0) cast instead, with the
        // same SQLSTATE
        val w = error(want.collect())
        if (grouped) assert(w === sumOverflow)
        else assert(w === ("NUMERIC_VALUE_OUT_OF_RANGE.WITH_SUGGESTION",
          "22003"))
      }
      withAnsi(on = false) {
        val Seq(got, want) = runs
        assert(got.collect().toSeq === Seq(Row(null)))
        assert(want.collect().toSeq === Seq(Row(null)))
      }
    }
  }
}

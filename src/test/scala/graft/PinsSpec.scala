package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.Attribute
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import graft.engine.Pins

/** The caching contract of [[graft.engine.Pins]]: what a pin holds, when
  * it is materialized, and when it is released.
  */
class PinsSpec extends SparkSpec {
  import spark.implicits._

  private def rddIds(df: DataFrame): Seq[Int] =
    df.queryExecution.analyzed.collect { case lr: LogicalRDD => lr.rdd.id }

  private def persisted(df: DataFrame): Boolean =
    rddIds(df).exists(spark.sparkContext.getPersistentRDDs.contains)

  /** Jobs started while `body` runs. */
  private def jobsOf[A](body: => A): (A, Int) = {
    val jobs = new AtomicInteger
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    org.apache.spark.ListenerBusDrain(spark.sparkContext)
    spark.sparkContext.addSparkListener(l)
    try {
      val a = body
      org.apache.spark.ListenerBusDrain(spark.sparkContext)
      (a, jobs.get)
    } finally spark.sparkContext.removeSparkListener(l)
  }

  test("pin: blocks are stored before any downstream action") {
    val p = Pins.pin(spark.range(0, 1000, 1, 3).toDF("x")
      .withColumn("y", col("x") * 2))
    val Seq(id) = rddIds(p)
    val info = spark.sparkContext.getRDDStorageInfo.find(_.id == id)
    assert(info.exists(i => i.numCachedPartitions == 3 &&
      i.memSize + i.diskSize > 0), s"no stored blocks for rdd $id: $info")
    Pins.release(p)
  }

  test("scoped: pins the result and releases its pins, also when the " +
      "body throws") {
    var inner: DataFrame = null
    val out = Pins.scoped { s =>
      inner = s.pin(spark.range(0, 100).toDF("x"))
      inner.filter(col("x") % 2 === 0)
    }
    assert(!persisted(inner))
    assert(persisted(out) && out.count() == 50)
    Pins.release(out)
    var held: DataFrame = null
    intercept[IllegalStateException] {
      Pins.scoped { s =>
        held = s.pin(spark.range(0, 100).toDF("x"))
        throw new IllegalStateException("body failed")
      }
    }
    assert(held != null && !persisted(held))
  }

  test("release is idempotent and a no-op on an unpinned frame") {
    val p = Pins.pin(spark.range(0, 10).toDF("x"))
    assert(persisted(p))
    Pins.release(p)
    Pins.release(p)
    assert(!persisted(p))
    Pins.release(spark.range(0, 10).toDF("x"))
  }

  test("pinWith: the first reader's job materializes the pin; a second " +
      "read scans blocks without recomputing the source") {
    val evals = spark.sparkContext.longAccumulator("pinWith-source")
    val tick = udf { (x: Long) => evals.add(1); x }.asNondeterministic()
    def source = spark.range(0, 200, 1, 4).toDF("x")
      .select(tick(col("x")).as("x"))
    // without AQE a count is exactly one job, so the pin must add none
    val key = "spark.sql.adaptive.enabled"
    val aqe = spark.conf.get(key)
    spark.conf.set(key, "false")
    try {
      val ((p, n), jobs) = jobsOf(Pins.pinWith(source)(_.count()))
      assert(n == 200 && jobs == 1, s"pinWith + count ran $jobs jobs")
      assert(evals.value == 200)
      assert(p.count() == 200)
      assert(evals.value == 200, "second count recomputed the source")
      Pins.release(p)
    } finally spark.conf.set(key, aqe)
    // with AQE: the pin still adds no job to its first reader's
    val (_, plain) = jobsOf(spark.range(0, 200, 1, 4).toDF("x").count())
    val ((p2, _), fused) = jobsOf(Pins.pinWith(source)(_.count()))
    assert(fused == plain, s"pinWith + count: $fused jobs, count: $plain")
    Pins.release(p2)
  }

  test("loopCache: the pin reports hash partitioning on the key at the " +
      "requested count, sorted on it") {
    val df = (1L to 1000L).map(i => (i % 7, i)).toDF("k", "v")
    val c = Pins.loopCache(df, "k", 3)
    val leaf = c.queryExecution.executedPlan.collectLeaves().head
    leaf.outputPartitioning match {
      case h: HashPartitioning =>
        assert(h.numPartitions == 3)
        assert(h.expressions.collect { case a: Attribute => a.name } ==
          Seq("k"))
      case other => fail(s"expected hash partitioning on k, got $other")
    }
    assert(leaf.outputOrdering.map(_.child).collect {
      case a: Attribute => a.name } == Seq("k"))
    assert(c.count() == 1000)
    Pins.release(c)
  }

  test("loopParts: data-derived, clamped to [1, session shuffle " +
      "partitions]; loopCache partitions on the key at that count") {
    val sessionParts = spark.sessionState.conf.numShufflePartitions
    // tiny frame (bytes << the 1 MB floor) → 1 partition
    val tiny = (1L to 10L).map(i => (i, i)).toDF("k", "v")
    assert(Pins.loopParts(tiny) == 1)
    // big frame (range stats are exact: 8 B/row × 3M >> floor ×
    // sessionParts) → clamped to the session constant, never above
    val big = spark.range(0, 3000000).toDF("k")
    assert(Pins.loopParts(big) == sessionParts)
    // loopCache: rows preserved, key-partitioned at the requested count
    val df = (1L to 1000L).map(i => (i % 7, i)).toDF("k", "v")
    val c = Pins.loopCache(df, "k", 3)
    assert(c.rdd.getNumPartitions == 3)
    assert(c.count() == 1000)
    assert(c.select(sum(col("v"))).as[Long].collect().head ==
      (1L to 1000L).sum)
    Pins.release(c)
  }
}

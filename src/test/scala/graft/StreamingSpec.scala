package graft

import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.streaming.Streaming

/** The streaming face of the window aggregation: same transform as the
  * batch-oracle query q47, driven through MemoryStream with a watermark;
  * and the batch faces of the CDC apply and the drift monitors.
  */
class StreamingSpec extends SparkSpec {

  test("windowedCounts over a MemoryStream emits per-hour aggregates") {
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx = sp.sqlContext
    val mem = MemoryStream[(Timestamp, String, Double)]
    val df = mem.toDF().toDF("ts", "event_type", "value")
    val agg = Streaming.windowedCounts(df, "ts", "1 hour", Some("2 hours"))
    val q = agg.writeStream.format("memory").queryName("wincounts")
      .outputMode("complete").start()
    try {
      mem.addData(
        (Timestamp.valueOf("2024-01-01 10:05:00"), "click", 1.0),
        (Timestamp.valueOf("2024-01-01 10:55:00"), "click", 2.0),
        (Timestamp.valueOf("2024-01-01 11:10:00"), "view", 4.0))
      q.processAllAvailable()
      val rows = sp.sql("SELECT * FROM wincounts ORDER BY w_start, event_type")
        .collect()
      assert(rows.length == 2)
      assert(rows(0).getAs[Timestamp]("w_start") ==
        Timestamp.valueOf("2024-01-01 10:00:00"))
      assert(rows(0).getAs[Long]("n") == 2)
      assert(rows(0).getAs[Double]("sum_value") == 3.0)
      assert(rows(1).getAs[String]("event_type") == "view")
    } finally q.stop()
  }

  test("batch and streaming faces of the transform agree") {
    val sp = spark
    import sp.implicits._
    val batch = Seq(
      (Timestamp.valueOf("2024-01-01 10:05:00"), "click", 1.0),
      (Timestamp.valueOf("2024-01-01 10:55:00"), "click", 2.0))
      .toDF("ts", "event_type", "value")
    val out = Streaming.windowedCounts(batch, "ts", "1 hour").collect()
    assert(out.length == 1 && out(0).getAs[Long]("n") == 2)
  }

  test("cdcApplyBatch/cdcStateTable over a two-batch replay, tombstones " +
      "included") {
    val sp = spark
    import sp.implicits._
    def t(m: Int) = Timestamp.valueOf(f"2024-01-01 10:$m%02d:00")
    // batch 1 (< :10): key 1 live "b", key 2 live "x", key 3 deleted,
    // key 5 live "w". batch 2 (>= :10): key 1 updated, key 2 deleted
    // (tombstone: batch-1 live), key 3 deleted again (nothing: state
    // never existed), key 4 insert-then-delete within the batch
    // (nothing), key 5 untouched.
    val feed = Seq(
      (1L, t(0), "I", "a"), (1L, t(1), "U", "b"),
      (2L, t(2), "I", "x"),
      (3L, t(3), "I", "m"), (3L, t(4), "D", null),
      (5L, t(5), "I", "w"),
      (1L, t(10), "U", "c"),
      (2L, t(11), "D", null),
      (3L, t(12), "D", null),
      (4L, t(13), "I", "q"), (4L, t(14), "D", null))
    val split = lit("2024-01-01 10:10:00").cast("timestamp")
    val feedDf = feed.toDF("key", "ts", "op", "payload")
    val gotEmit = Streaming.cdcApplyBatch(feedDf, "key", "ts", "op",
      "payload", split)
      .collect().map(r => (r.getLong(0), r.getTimestamp(1),
        r.getString(2), r.getBoolean(3))).toSet
    assert(gotEmit == Set((1L, t(10), "c", true), (2L, t(11), null, false)))
    val gotState = Streaming.cdcStateTable(feedDf, "key", "ts", "op",
      "payload", split)
      .collect().map(r => (r.getLong(0), r.getString(2))).toSet
    assert(gotState == Set(1L -> "c", 5L -> "w"))
  }

  test("psiWindowed: streaming windows agree with the batch face; " +
      "matching distribution scores zero") {
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx = sp.sqlContext
    val ref = Seq(500000L, 500000L) // reference: half low, half high
    val mem = MemoryStream[(Timestamp, Double)]
    val df = mem.toDF().toDF("ts", "value")
    val q = Streaming.psiWindowed(df, "ts", "value", "1 hour", ref,
        lo = 0d, hi = 10d, watermark = Some("2 hours"))
      .writeStream.format("memory").queryName("psiwin")
      .outputMode("complete").start()
    try {
      // hour 10: 2 low + 2 high = exactly the reference → psi 0
      // hour 11: 3 low + 1 high = drifted
      val t = (h: Int, m: Int) => Timestamp.valueOf(f"2024-01-01 $h%02d:$m%02d:00")
      mem.addData((t(10, 0), 1.0), (t(10, 10), 2.0), (t(10, 20), 7.0),
        (t(10, 30), 8.0), (t(11, 0), 1.0), (t(11, 10), 2.0),
        (t(11, 20), 3.0), (t(11, 30), 9.0))
      q.processAllAvailable()
      val rows = sp.sql("SELECT * FROM psiwin ORDER BY w_start").collect()
        .map(r => (r.getAs[Timestamp]("w_start"), r.getAs[Long]("n"),
          r.getAs[Double]("psi")))
      assert(rows.length == 2)
      assert(rows(0)._2 == 4L && rows(0)._3 == 0.0)
      // batch face on the same rows gives the identical drifted psi
      val batch = Seq((t(11, 0), 1.0), (t(11, 10), 2.0), (t(11, 20), 3.0),
        (t(11, 30), 9.0)).toDF("ts", "value")
      val b = Streaming.psiWindowed(batch, "ts", "value", "1 hour", ref,
        lo = 0d, hi = 10d).collect()
      assert(rows(1)._3 == b.head.getDouble(2) && rows(1)._3 > 0d)
    } finally q.stop()
  }

  test("ksWindowed: streaming windows agree with the batch face; " +
      "a window matching the reference CDF scores zero") {
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx = sp.sqlContext
    // uniform 2-bin reference: cum ppm (500000, 1000000) on [0, 10)
    val ref = Seq(500000L, 1000000L)
    val mem = MemoryStream[(Timestamp, Double)]
    val df = mem.toDF().toDF("ts", "value")
    val q = Streaming.ksWindowed(df, "ts", "value", "1 hour", ref,
        lo = 0d, hi = 10d, watermark = Some("2 hours"))
      .writeStream.format("memory").queryName("kswin")
      .outputMode("complete").start()
    try {
      val t = (h: Int, m: Int) =>
        Timestamp.valueOf(f"2024-01-01 $h%02d:$m%02d:00")
      // hour 10: 2 low + 2 high = the reference -> d_ppm 0
      // hour 11: 3 low + 1 high -> cum ppm 750000 at the low edge
      mem.addData((t(10, 0), 1.0), (t(10, 10), 2.0), (t(10, 20), 7.0),
        (t(10, 30), 8.0), (t(11, 0), 1.0), (t(11, 10), 2.0),
        (t(11, 20), 3.0), (t(11, 30), 9.0))
      q.processAllAvailable()
      val rows = sp.sql("SELECT * FROM kswin ORDER BY w_start").collect()
        .map(r => (r.getAs[Long]("n"), r.getAs[Long]("d_ppm"),
          r.getAs[Double]("ks")))
      assert(rows.length == 2)
      assert(rows(0) == ((4L, 0L, 0.0)))
      assert(rows(1) == ((4L, 250000L, 0.25)))
      // batch face on the same rows gives the identical gap
      val batch = Seq((t(11, 0), 1.0), (t(11, 10), 2.0),
        (t(11, 20), 3.0), (t(11, 30), 9.0)).toDF("ts", "value")
      val b = Streaming.ksWindowed(batch, "ts", "value", "1 hour", ref,
        lo = 0d, hi = 10d).collect()
      assert(b.head.getLong(2) == 250000L)
    } finally q.stop()
  }

}

package graft

import java.sql.Timestamp
import org.apache.spark.sql.functions._
import graft.engine.{AggSchema, Windows}

/** OP-AGG-2 resample semantics (incl. the last-wins RH_mean quirk), OP-WIN-1
  * null alignment, OP-AGG-3 trim + keyCols.
  */
class AggWindowsSpec extends SparkSpec {

  private def ts(s: String) = Timestamp.valueOf(s)

  test("resample daily: RH+VPD both present → ONE RH_mean carrying VPD's mean") {
    import spark.implicits._
    val df = Seq(
      (ts("2020-01-01 00:00:00"), 10.0, 20.0, 50.0),
      (ts("2020-01-01 01:00:00"), 12.0, 30.0, 70.0))
      .toDF("valid_time", "TA", "RH", "VPD")
    val out = AggSchema.resample(df, AggSchema.Daily, "valid_time", Nil)
    assert(out.columns.count(_ == "RH_mean") == 1)
    val row = out.collect()(0)
    // last-wins: RH_mean is VPD's mean (60), RH_max is still RH's (30)
    assert(row.getAs[Double]("RH_mean") == 60.0)
    assert(row.getAs[Double]("RH_max") == 30.0)
    assert(row.getAs[Double]("VPD_max") == 70.0)
    // and the frame is writable (no duplicate columns)
    out.write.mode("overwrite")
      .parquet(s"${sys.props("java.io.tmpdir")}/graft_test_rhvpd")
  }

  test("resample: SWC delta = last-by-time − first-by-time, order-free") {
    import spark.implicits._
    val df = Seq(
      (ts("2020-01-01 02:00:00"), 8.0),
      (ts("2020-01-01 00:00:00"), 3.0),
      (ts("2020-01-01 01:00:00"), 100.0))
      .toDF("valid_time", "SWC_1")
    val out = AggSchema.resample(df, AggSchema.Daily, "valid_time", Nil)
    assert(out.collect()(0).getAs[Double]("SWC_1_delta") == 5.0) // 8 − 3
  }

  test("resample: WD alone at daily (all-DROP) raises a clear error") {
    import spark.implicits._
    val df = Seq((ts("2020-01-01 00:00:00"), 123.0)).toDF("valid_time", "WD")
    val e = intercept[IllegalArgumentException] {
      AggSchema.resample(df, AggSchema.Daily, "valid_time", Nil)
    }
    assert(e.getMessage.contains("no aggregatable variables"))
  }

  test("slidingFeatures keeps null slots time-aligned") {
    import spark.implicits._
    val df = Seq(
      ("k", 1L, Some(1.0), Some(10.0)),
      ("k", 2L, None, Some(20.0)),
      ("k", 3L, Some(3.0), None))
      .toDF("key", "t", "a", "b")
    val out = Windows.slidingFeatures(df, Seq("key"), "t", Seq("a", "b"), 3)
      .collect()
    assert(out.length == 1)
    val aWin = out(0).getAs[scala.collection.Seq[Any]]("a_win")
    val bWin = out(0).getAs[scala.collection.Seq[Any]]("b_win")
    assert(aWin == Seq(1.0, null, 3.0)) // null preserved in position 2
    assert(bWin == Seq(10.0, 20.0, null))
  }

  test("coarsen: trim drops partial blocks; keyCols prevent cross-key mixing") {
    import spark.implicits._
    val rows = for {
      t <- Seq("a", "b"); x <- 0 until 4; y <- 0 until 2
    } yield (t, x, y, if (t == "a") 1.0 else 5.0)
    val df = rows.toDF("tkey", "x", "y", "v")
    val out = Windows.coarsen(df, "x", "y", Seq("v"), 2, trim = true,
      keyCols = Seq("tkey")).collect()
    // per key: x∈[0,4) y∈[0,2) → 2 full 2×2 blocks; two keys → 4 rows
    assert(out.length == 4)
    out.foreach { r =>
      val want = if (r.getAs[String]("tkey") == "a") 1.0 else 5.0
      assert(r.getAs[Double]("v_mean") == want) // no mixing across keys
    }
    // without trim, partial blocks appear when grid is odd-sized
    val odd = (0 until 3).flatMap(x => (0 until 3).map(y => ("a", x, y, 1.0)))
      .toDF("tkey", "x", "y", "v")
    val notrim = Windows.coarsen(odd, "x", "y", Seq("v"), 2, trim = false)
    val trimmed = Windows.coarsen(odd, "x", "y", Seq("v"), 2, trim = true)
    assert(notrim.count() == 4 && trimmed.count() == 1)
  }

  test("funnel: ordered chain, stall → nulls, window bounds completion") {
    import spark.implicits._
    import java.sql.Timestamp
    def t(h: Int) = Timestamp.valueOf(f"2024-01-01 $h%02d:00:00")
    val ev = Seq(
      // u1: full chain inside 3h → completed
      (1L, t(1), "a"), (1L, t(2), "b"), (1L, t(3), "c"),
      // u2: b BEFORE its a — must not count; chain stalls at b
      (2L, t(5), "a"), (2L, t(4), "b"),
      // u3: full chain but c lands outside the 3h budget
      (3L, t(1), "a"), (3L, t(2), "b"), (3L, t(9), "c"),
      // u4: never enters the funnel (no a)
      (4L, t(1), "b"), (4L, t(2), "c"))
      .toDF("uid", "ts", "step")
    val out = Windows.funnel(ev, "uid", "ts", "step", Seq("a", "b", "c"),
      windowMs = 3L * 3600 * 1000).collect()
      .map(r => r.getLong(0) -> ((r.get(1), r.get(2), r.get(3),
        r.getInt(4)))).toMap
    assert(out(1L) == ((t(1), t(2), t(3), 1)))
    assert(out(2L) == ((t(5), null, null, 0))) // pre-step events ignored
    assert(out(3L) == ((t(1), t(2), t(9), 0))) // chain yes, window no
    assert(!out.contains(4L)) // step-1 gate
  }

  test("interpolateLinear: interior gaps blend by time, edges stay null") {
    import spark.implicits._
    import java.sql.Timestamp
    def t(h: Int) = Timestamp.valueOf(f"2024-01-01 $h%02d:00:00")
    val df = Seq(
      // k1: 10 @1h, null @2h, null @3h, 40 @4h → 20, 30 (time-weighted)
      ("k1", t(1), Some(10.0)), ("k1", t(2), None), ("k1", t(3), None),
      ("k1", t(4), Some(40.0)),
      // k1 leading edge: null before any observation stays null
      ("k1", t(0), None),
      // k2: isolation — k1's values must not leak across keys
      ("k2", t(2), None), ("k2", t(3), Some(7.0)),
      // k2 trailing edge: null after the last observation stays null
      ("k2", t(5), None))
      .toDF("k", "ts", "v")
    val out = Windows.interpolateLinear(df, Seq("k"), "ts", "v")
      .collect().map(r => (r.getString(0), r.getTimestamp(1)) -> r.get(3))
      .toMap
    assert(out(("k1", t(2))) == 20.0 && out(("k1", t(3))) == 30.0)
    assert(out(("k1", t(0))) == null)           // no left neighbour
    assert(out(("k2", t(2))) == null)           // k1 must not leak in
    assert(out(("k2", t(5))) == null)           // no right neighbour
    assert(out(("k1", t(1))) == 10.0)           // observed rows pass through
  }

  test("interpolateLinear: uneven spacing weights by elapsed time") {
    import spark.implicits._
    import java.sql.Timestamp
    def t(h: Int) = Timestamp.valueOf(f"2024-01-01 $h%02d:00:00")
    // 0 @0h, gap @1h, 30 @10h → 1/10 of the way = 3.0, not midpoint 15
    val df = Seq(("k", t(0), Some(0.0)), ("k", t(1), None),
      ("k", t(10), Some(30.0))).toDF("k", "ts", "v")
    val out = Windows.interpolateLinear(df, Seq("k"), "ts", "v")
      .filter(col("v").isNull).head().getDouble(3)
    assert(out == 3.0)
  }

  test("percentRankIn: ties share ranks, groups isolated") {
    import spark.implicits._
    val df = Seq(("g", 1.0), ("g", 2.0), ("g", 2.0), ("g", 5.0),
      ("h", 9.0)).toDF("grp", "s")
    val out = Windows.percentRankIn(df, Seq("grp"), "s").collect()
      .map(r => (r.getString(0), r.getDouble(1)) -> r.getDouble(2)).toMap
    assert(out(("g", 1.0)) == 0.0)
    assert(out(("g", 2.0)) == 0.333333) // both tied rows share (2-1)/3
    assert(out(("g", 5.0)) == 1.0)
    assert(out(("h", 9.0)) == 0.0)      // singleton group
  }

  test("lagFeatures: offsets share the key order, edges null") {
    import spark.implicits._
    import java.sql.Timestamp
    def t(s: Int) = new Timestamp(s * 1000L)
    val df = Seq(("u", t(1), 1L, 10.0), ("u", t(2), 2L, 20.0),
      ("u", t(3), 3L, 30.0), ("w", t(1), 4L, 7.0))
      .toDF("k", "ts", "eid", "v")
    val out = Windows.lagFeatures(df, Seq("k"), "ts", "v",
      lags = Seq(1), leads = Seq(1), tiebreakCols = Seq("eid"))
      .collect().map(r => r.getLong(2) -> ((Option(r.get(4)),
        Option(r.get(5))))).toMap
    assert(out(1L) == ((None, Some(20.0))))
    assert(out(2L) == ((Some(10.0), Some(30.0))))
    assert(out(3L) == ((Some(20.0), None)))
    assert(out(4L) == ((None, None))) // other key isolated
  }

  test("runningTotal: exact cents cumsum per key, tiebreak stable") {
    import spark.implicits._
    import java.sql.Timestamp
    def t(s: Int) = new Timestamp(s * 1000L)
    // 0.1 + 0.2 in float is the classic 0.30000000000000004 — the scaled
    // integer path must produce exactly 0.3
    val df = Seq(("u", t(1), 1L, 0.1), ("u", t(2), 2L, 0.2),
      ("u", t(2), 3L, 0.05), ("w", t(1), 4L, 9.0))
      .toDF("k", "ts", "eid", "v")
    val out = Windows.runningTotal(df, Seq("k"), "ts", "v", Seq("eid"))
      .collect().map(r => r.getLong(2) -> r.getDouble(4)).toMap
    assert(out == Map(1L -> 0.1, 2L -> 0.3, 3L -> 0.35, 4L -> 9.0))
  }

  test("resampleWithInterpolation: dense grid, hourly means, gap blend") {
    import spark.implicits._
    import java.sql.Timestamp
    def t(h: Int, m: Int) = Timestamp.valueOf(f"2024-01-01 $h%02d:$m%02d:00")
    val df = Seq(
      ("u", t(1, 10), 10.0), ("u", t(1, 50), 20.0), // hour 1 mean 15
      ("u", t(4, 0), 45.0))                         // hours 2,3 are holes
      .toDF("k", "ts", "v")
    val out = Windows.resampleWithInterpolation(df, Seq("k"), "ts", "v")
      .collect().map(r => r.getTimestamp(1).toString.take(13) ->
        ((Option(r.get(2)), r.getDouble(3)))).toMap
    assert(out.size == 4) // every hour in [1,4] exists
    assert(out("2024-01-01 01") == ((Some(15.0), 15.0)))
    assert(out("2024-01-01 02") == ((None, 25.0))) // 15 + (45-15)/3
    assert(out("2024-01-01 03") == ((None, 35.0)))
    assert(out("2024-01-01 04") == ((Some(45.0), 45.0)))
  }

  test("interpolateLinear agrees with a reference scan on random gaps") {
    import spark.implicits._
    import java.sql.Timestamp
    val rnd = new scala.util.Random(42)
    val rows = (1 to 400).map { i =>
      val k = s"k${i % 5}"
      val v = if (rnd.nextDouble() < 0.3) None
        else Some((rnd.nextInt(1000) / 10.0))
      (k, new Timestamp(i * 60000L), i.toLong, v)
    }
    val got = Windows.interpolateLinear(rows.toDF("k", "ts", "eid", "v"),
      Seq("k"), "ts", "v", Seq("eid")).collect()
      .map(r => r.getLong(2) -> Option(r.get(4)).map(_ => r.getDouble(4)))
      .toMap
    // reference: per-key ordered scan with explicit neighbour search
    rows.groupBy(_._1).foreach { case (_, rs) =>
      val sorted = rs.sortBy(r => (r._2.getTime, r._3)).toVector
      sorted.zipWithIndex.foreach { case ((_, ts, eid, v), i) =>
        val want: Option[Double] = v.orElse {
          val prev = sorted.take(i).reverse.find(_._4.isDefined)
          val next = sorted.drop(i + 1).find(_._4.isDefined)
          (prev, next) match {
            case (Some(p), Some(n)) =>
              val frac = (ts.getTime - p._2.getTime).toDouble /
                (n._2.getTime - p._2.getTime)
              Some(BigDecimal(p._4.get + (n._4.get - p._4.get) * frac)
                .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
            case _ => None
          }
        }
        assert(got(eid) == want, s"eid=$eid")
      }
    }
  }

  test("timeWeightedAvg: gaps weight values, final observation drops") {
    import spark.implicits._
    import java.sql.Timestamp
    def t(s: Int) = new Timestamp(s * 1000L)
    // 10 held for 10 s, 20 held for 20 s → (100+400)/30 = 16.666667
    val df = Seq(("u", t(0), 1L, 10.0), ("u", t(10), 2L, 20.0),
      ("u", t(30), 3L, 0.0),
      ("single", t(0), 4L, 99.0)) // one observation → no interval → absent
      .toDF("k", "ts", "eid", "v")
    val out = Windows.timeWeightedAvg(df, Seq("k"), "ts", "v", Seq("eid"))
      .collect().map(r => r.getString(0) -> ((r.getDouble(1), r.getLong(2))))
      .toMap
    assert(out == Map("u" -> ((16.666667, 2L))))
  }

  test("sessionStats: bounds, counts, exact duration per session") {
    import spark.implicits._
    import java.sql.Timestamp
    def t(m: Int) = new Timestamp(m * 60000L)
    val df = Seq(("u", t(0)), ("u", t(10)), ("u", t(50))).toDF("k", "ts")
    val out = Windows.sessionStats(df, "k", "ts",
      expr("INTERVAL '30' MINUTE")).collect()
      .map(r => r.getInt(1) -> ((r.getTimestamp(2), r.getTimestamp(3),
        r.getLong(4), r.getLong(5)))).toMap
    assert(out(1) == ((t(0), t(10), 2L, 600000000L))) // 10 min in µs
    assert(out(2) == ((t(50), t(50), 1L, 0L)))
  }

  test("ohlcBars: open/close by total order, ties broken by tiebreak") {
    import spark.implicits._
    import java.sql.Timestamp
    def t(m: Int) = new Timestamp(3600000L + m * 60000L) // inside hour 1
    val df = Seq(
      ("u", t(5), 2L, 20.0),  // same ts as eid 1 — open must pick eid 1
      ("u", t(5), 1L, 10.0),
      ("u", t(30), 3L, 5.0),
      ("u", t(59), 4L, 15.0)).toDF("k", "ts", "eid", "v")
    val r = Windows.ohlcBars(df, Seq("k"), "ts", "v", Seq("eid")).head()
    assert(r.getDouble(2) == 10.0) // open: (t5, eid1)
    assert(r.getDouble(3) == 20.0 && r.getDouble(4) == 5.0) // high/low
    assert(r.getDouble(5) == 15.0 && r.getLong(6) == 4L)    // close, n
  }

  test("dailyReach: active vs new vs cumulative distinct") {
    import spark.implicits._
    import java.sql.Timestamp
    def t(d: Int, h: Int = 1) = Timestamp.valueOf(f"2024-01-0$d%d $h%02d:00:00")
    val df = Seq((1L, t(1)), (1L, t(1, 5)), (2L, t(1)), // day1: u1,u2 new
      (1L, t(2)),                                       // day2: u1 only
      (3L, t(3)), (1L, t(3))).toDF("uid", "ts")         // day3: u3 new
    val out = Windows.dailyReach(df, "uid", "ts").collect()
      .map(r => r.getTimestamp(0).toString.take(10) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(out("2024-01-01") == ((2L, 2L, 2L)))
    assert(out("2024-01-02") == ((1L, 0L, 2L))) // active but nobody new
    assert(out("2024-01-03") == ((2L, 1L, 3L)))
  }

  test("retentionCohorts: absolute epoch weeks, distinct users per cell") {
    import spark.implicits._
    import java.sql.Timestamp
    val wk = 7L * 86400 * 1000 // ms
    def t(week: Int, off: Int = 0) =
      new Timestamp(week.toLong * wk + off * 1000L)
    val ev = Seq(
      (1L, t(100)), (1L, t(100, 60)), (1L, t(102)),  // cohort 100, wks 0,2
      (2L, t(100)), (2L, t(101)),                    // cohort 100, wks 0,1
      (3L, t(101))).toDF("uid", "ts")                // cohort 101, wk 0
    val out = Windows.retentionCohorts(ev, "uid", "ts").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(out == Map((100L, 0L) -> 2L, (100L, 1L) -> 1L,
      (100L, 2L) -> 1L, (101L, 0L) -> 1L))
  }

  test("transitionCounts: ordered per key, tie-broken, exact ppm floors") {
    import spark.implicits._
    def t(m: Int) = ts(f"2024-01-01 10:$m%02d:00")
    // user 1: A→B→A→C (ties at :01 broken by the eid tiebreak)
    // user 2: A→C; first event of each user contributes no transition
    val ev = Seq((1L, t(0), 1L, "A"), (1L, t(1), 2L, "B"),
      (1L, t(1), 3L, "A"), (1L, t(2), 4L, "C"),
      (2L, t(0), 5L, "A"), (2L, t(3), 6L, "C"))
      .toDF("uid", "ts", "eid", "state")
    val out = Windows.transitionCounts(ev, "uid", "ts", "state",
      tiebreakCols = Seq("eid")).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3)))).toMap
    // from A: A→B 1, A→C 2 of 3 total → 333333 / 666666 (floor)
    assert(out == Map(("A", "B") -> ((1L, 333333L)),
      ("A", "C") -> ((2L, 666666L)), ("B", "A") -> ((1L, 1000000L))))
  }

  test("transitionCounts conservation on random streams") {
    import spark.implicits._
    val rnd = new scala.util.Random(3)
    val ev = (0 until 400).map(i => (rnd.nextInt(10).toLong,
      ts(f"2024-01-01 ${rnd.nextInt(24)}%02d:${rnd.nextInt(60)}%02d:00"),
      i.toLong, s"s${rnd.nextInt(4)}"))
    val rows = Windows.transitionCounts(ev.toDF("uid", "ts", "eid", "state"),
      "uid", "ts", "state", tiebreakCols = Seq("eid")).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3)))
    // total transitions = rows − one per user
    assert(rows.map(_._3).sum == 400 - ev.map(_._1).distinct.size)
    // per from-state: probabilities are n-weighted exact floors of 1e6
    rows.groupBy(_._1).foreach { case (_, rs) =>
      val tot = rs.map(_._3).sum
      rs.foreach { case (_, _, n, ppm) => assert(ppm == n * 1000000L / tot) }
      // floors lose < |to-states| ppm in total
      val s = rs.map(_._4).sum
      assert(s <= 1000000L && s > 1000000L - rs.size)
    }
  }

  test("topSessionPaths: session split, maxLen cut, count-desc/path-asc rank") {
    import spark.implicits._
    // u1 has two sessions (gap > 30 min splits): a>b and a>b; u2 one
    // session a>b>c>d whose 4th event is cut at maxLen = 3.
    val ev = Seq(
      (1L, 10L, ts("2024-01-01 08:00:00"), "a"),
      (2L, 10L, ts("2024-01-01 08:10:00"), "b"),
      (3L, 10L, ts("2024-01-01 10:00:00"), "a"),
      (4L, 10L, ts("2024-01-01 10:05:00"), "b"),
      (5L, 20L, ts("2024-01-01 09:00:00"), "a"),
      (6L, 20L, ts("2024-01-01 09:01:00"), "b"),
      (7L, 20L, ts("2024-01-01 09:02:00"), "c"),
      (8L, 20L, ts("2024-01-01 09:03:00"), "d")
    ).toDF("event_id", "uid", "ts", "et")
    val out = Windows.topSessionPaths(ev, "uid", "ts", "et", "event_id",
      expr("INTERVAL '30' MINUTE"), maxLen = 3, topK = 10)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getInt(2)))
    assert(out.toSeq == Seq(("a>b", 2L, 1), ("a>b>c", 1L, 2)))
  }

  test("topSessionPaths: same-timestamp events ordered by the tiebreak") {
    import spark.implicits._
    val t0 = ts("2024-01-01 08:00:00")
    val ev = Seq((2L, 1L, t0, "x"), (1L, 1L, t0, "y"))
      .toDF("event_id", "uid", "ts", "et")
    val out = Windows.topSessionPaths(ev, "uid", "ts", "et", "event_id",
      expr("INTERVAL '30' MINUTE"), maxLen = 5, topK = 5)
      .collect().map(_.getString(0))
    assert(out.toSeq == Seq("y>x"))
  }

  test("intervalCoverage: islands via running-max end (a long interval " +
      "swallows later short ones), exact covered micros") {
    import spark.implicits._
    // k: [0,10] ∪ [2,3] ∪ [4,12] ∪ [15,16] → islands [0,12] + [15,16]
    //   — lag(end) logic would wrongly split at [4,12] (prev end 3 < 4,
    //   but the RUNNING max end is 10 ≥ 4, same island)
    val ts = (m: Int) => Timestamp.valueOf(f"2024-01-01 00:$m%02d:00")
    val rows = Seq((1L, ts(0), ts(10)), (2L, ts(2), ts(3)),
      (3L, ts(4), ts(12)), (4L, ts(15), ts(16)))
      .toDF("i", "s", "e").withColumn("k", lit("g"))
    val out = Windows.intervalCoverage(rows, Seq("k"), "s", "e", Seq("i"))
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(out.toSeq == Seq((4L, 2L, (12L + 1L) * 60L * 1000000L)))
    // inverted interval rejected loudly
    val badRows = Seq((1L, ts(5), ts(1))).toDF("i", "s", "e")
      .withColumn("k", lit("g"))
    val err = intercept[IllegalArgumentException] {
      Windows.intervalCoverage(badRows, Seq("k"), "s", "e", Seq("i"))
    }
    assert(err.getMessage.contains("inverted"))
  }

  test("autocorr: linear series +1, alternating series -1, constant null") {
    import spark.implicits._
    val rows = (1 to 10).map(i => ("lin", i.toLong, i.toLong)) ++
      (1 to 10).map(i => ("alt", i.toLong, if (i % 2 == 0) 5L else -5L)) ++
      (1 to 10).map(i => ("const", i.toLong, 7L))
    val out = Windows.autocorr(rows.toDF("k", "i", "v"),
      Seq("k"), Seq("i"), "v", lagK = 1)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), if (r.isNullAt(2)) None else Some(r.getDouble(2)))))
      .toMap
    assert(out == Map("lin" -> ((9L, Some(1.0))),
      "alt" -> ((9L, Some(-1.0))), "const" -> ((9L, None))))
  }

  test("intervalCoverage matches a brute-force minute-set reference on " +
      "random interval soups") {
    import spark.implicits._
    val rnd = new scala.util.Random(19)
    val rows = (1 to 200).map { i =>
      val k = s"k${rnd.nextInt(5)}"
      val s = rnd.nextInt(500)
      (i.toLong, k, Timestamp.valueOf(f"2024-01-01 ${s / 60}%02d:${s % 60}%02d:00"),
        s, s + rnd.nextInt(30))
    }
    val df = rows.map { case (i, k, _, s, e) =>
      (i, k, Timestamp.valueOf(f"2024-01-01 ${s / 60}%02d:${s % 60}%02d:00"),
        Timestamp.valueOf(f"2024-01-01 ${e / 60}%02d:${e % 60}%02d:00"))
    }.toDF("i", "k", "s", "e")
    val got = Windows.intervalCoverage(df, Seq("k"), "s", "e", Seq("i"))
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    val ref = rows.groupBy(_._2).view.mapValues { ivs =>
      // covered minutes = union of [s, e) half-open minute sets; islands =
      // components of the interval overlap graph (touching endpoints merge)
      val minutes = ivs.flatMap { case (_, _, _, s, e) => s until e }.toSet
      val sorted = ivs.map(v => (v._4, v._5)).sortBy(identity)
      var islands = 0; var maxEnd = Int.MinValue
      sorted.foreach { case (s, e) =>
        if (s > maxEnd) islands += 1
        maxEnd = math.max(maxEnd, e)
      }
      (ivs.size.toLong, islands.toLong, minutes.size.toLong * 60L * 1000000L)
    }.toMap
    assert(got == ref)
  }

  test("rollingZScore matches a driver-side reference on random frames") {
    import spark.implicits._
    val rnd = new scala.util.Random(23)
    val rows = (1 to 300).map(i =>
      (i.toLong, s"k${rnd.nextInt(4)}", rnd.nextInt(50).toLong))
    val got = Windows.rollingZScore(rows.toDF("i", "k", "v"),
      Seq("k"), Seq("i"), "v", 5)
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(3)) None else Some(r.getDouble(3)))).toMap
    val ref = rows.groupBy(_._2).values.flatMap { grp =>
      val sorted = grp.sortBy(_._1)
      sorted.zipWithIndex.map { case ((i, _, v), idx) =>
        val frame = sorted.slice(math.max(0, idx - 4), idx + 1).map(_._3)
        val n = BigInt(frame.size)
        val s1 = frame.map(BigInt(_)).sum
        val s2 = frame.map(x => BigInt(x) * BigInt(x)).sum
        val d = n * s2 - s1 * s1
        i -> (if (d > 0)
          Some(BigDecimal((n * v - s1).toDouble / math.sqrt(d.toDouble))
            .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
        else None)
      }
    }.toMap
    assert(got == ref)
  }

  test("rollingZScore: exact-integer discriminant — constant frame is " +
      "EXACTLY null, spread frame matches hand math") {
    import spark.implicits._
    val rows = Seq((1L, 4L), (2L, 4L), (3L, 4L), (4L, 10L))
      .toDF("i", "v").withColumn("k", lit("g"))
    val out = Windows.rollingZScore(rows, Seq("k"), Seq("i"), "v", 3)
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(3)) None else Some(r.getDouble(3)))).toMap
    // frames: [4] n=1 D=0 → null; [4,4] D=0 → null; [4,4,4] D=0 → null;
    // [4,4,10]: n=3 S1=18 S2=132 D=3·132−324=72, z=(3·10−18)/√72=√2
    val want = BigDecimal(12d / math.sqrt(72d))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(out == Map(1L -> None, 2L -> None, 3L -> None,
      4L -> Some(want)))
  }

  test("rollingMedian: lower median over a trailing frame, per key") {
    import spark.implicits._
    val rows = Seq((1L, "k", 5L), (2L, "k", 1L), (3L, "k", 9L),
      (4L, "k", 7L), (5L, "j", 100L))
      .toDF("i", "key", "v")
    val out = Windows.rollingMedian(rows, Seq("key"), Seq("i"), "v", 3)
      .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
    // frames: [5]→5, [5,1]→1 (lower), [5,1,9]→5, [1,9,7]→7, j:[100]→100
    assert(out == Map(1L -> 5L, 2L -> 1L, 3L -> 5L, 4L -> 7L, 5L -> 100L))
  }

  test("ewma: exact rational weights match an independent BigInt " +
      "reference; constant series is exactly its value; warmup " +
      "renormalizes") {
    import spark.implicits._
    val vals = Seq(10L, 20L, 5L, 40L, 40L, 40L, 40L)
    val rows = vals.zipWithIndex.map { case (v, i) => (i.toLong, v) }
      .toDF("i", "v").withColumn("k", lit("g"))
    val nRows = 4; val p = 3; val q = 4
    val got = Windows.ewma(rows, Seq("k"), Seq("i"), "v", nRows, 1, 4)
      .collect().map(r => r.getLong(0) -> r.getDouble(3)).toMap
    val ref = vals.indices.map { t =>
      val frame = vals.slice(math.max(0, t - nRows + 1), t + 1)
      val m = frame.size
      val ws = (0 until m).map(j =>
        BigInt(p).pow(m - 1 - j) * BigInt(q).pow(nRows - 1 - (m - 1 - j)))
      val num = frame.zip(ws).map { case (x, w) => BigInt(x) * w }.sum
      t.toLong -> BigDecimal(num.toDouble / ws.sum.toDouble)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }.toMap
    assert(got == ref)
    // first row: weights renormalize → ewma == the value itself
    assert(got(0L) == 10d)
    // constant tail: once the frame is all 40s the ewma is exactly 40
    assert(got(6L) == 40d)
  }

  test("ewma closed form: equals the naive BigInt frame-fold across " +
      "block boundaries, multiple keys and window widths") {
    import spark.implicits._
    // deterministic pseudo-random series long enough to cross several
    // tumbling blocks for every w under test
    def series(seed: Long, n: Int): Seq[Long] =
      (0 until n).map(i => ((seed + i) * 6364136223846793005L +
        1442695040888963407L) % 1000L)
    for (w <- Seq(1, 2, 3, 5, 8); (num, den) <- Seq((1, 4), (2, 5))) {
      val p = den - num; val q = den
      val keys = Seq("a" -> 37, "b" -> 23) // different lengths per key
      val rows = keys.flatMap { case (k, n) =>
        series(k.hashCode.toLong, n).zipWithIndex.map { case (v, i) =>
          (k, i.toLong, v)
        }
      }.toDF("k", "i", "v")
      val got = Windows.ewma(rows, Seq("k"), Seq("i"), "v", w, num, den)
        .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getDouble(3))
        .toMap
      val ref = keys.flatMap { case (k, n) =>
        val vals = series(k.hashCode.toLong, n)
        vals.indices.map { t =>
          val frame = vals.slice(math.max(0, t - w + 1), t + 1)
          val m = frame.size
          val ws = (0 until m).map(j =>
            BigInt(p).pow(m - 1 - j) * BigInt(q).pow(w - 1 - (m - 1 - j)))
          val s = frame.zip(ws).map { case (x, c) => BigInt(x) * c }.sum
          (k, t.toLong) -> BigDecimal(s.toDouble / ws.sum.toDouble)
            .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
        }
      }.toMap
      assert(got == ref, s"w=$w alpha=$num/$den")
    }
  }

  test("cusum: closed window form equals the textbook recursion on a " +
      "step-change series; alarms fire only after the shift") {
    import spark.implicits._
    // target 10, slack 2: quiet around 10, then a +10 step
    val vals = Seq(10L, 9L, 11L, 10L, 20L, 21L, 22L, 19L, 20L)
    val rows = vals.zipWithIndex.map { case (v, i) => (i.toLong, v) }
      .toDF("i", "v").withColumn("k", lit("g"))
    val out = Windows.cusum(rows, Seq("k"), Seq("i"), "v",
      target = 10L, slack = 2L, threshold = 15L)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(4), r.getLong(5), r.getBoolean(6), r.getBoolean(7))))
      .toMap
    // independent reference: the recursion itself
    var sp = 0L; var sn = 0L
    val ref = vals.zipWithIndex.map { case (v, i) =>
      sp = math.max(0L, sp + (v - 10L - 2L))
      sn = math.max(0L, sn + (10L - 2L - v))
      i.toLong -> ((sp, sn, sp > 15L, sn > 15L))
    }.toMap
    assert(out == ref)
    assert(!out(3L)._3 && out(7L)._3) // alarm only after the step
  }

  test("maxDrawdown: peak-to-trough over the ordered series, per key") {
    import spark.implicits._
    val rows = Seq((1L, "a", 10L), (2L, "a", 30L), (3L, "a", 5L),
      (4L, "a", 40L), (5L, "a", 20L), (6L, "b", 7L))
      .toDF("i", "key", "v")
    val out = Windows.maxDrawdown(rows, Seq("key"), Seq("i"), "v")
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    // a: peaks 10,30,30,40,40 → drawdowns 0,0,25,0,20 → max 25
    assert(out == Map("a" -> ((5L, 40L, 25L)), "b" -> ((1L, 7L, 0L))))
  }

  test("rollingMedian: nulls leave the frame; all-null frame gives null") {
    import spark.implicits._
    val rows = Seq((1L, Some(4L)), (2L, None), (3L, None))
      .toDF("i", "v").withColumn("key", lit("k"))
    val out = Windows.rollingMedian(rows, Seq("key"), Seq("i"), "v", 2)
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(3)) None else Some(r.getLong(3)))).toMap
    // frame at i=2 is [4] (null dropped); at i=3 both null → null median
    assert(out == Map(1L -> Some(4L), 2L -> Some(4L), 3L -> None))
  }

  test("seasonalResiduals: same weekly slot only, trailing-4 mean, " +
      "integer dow (Monday = 0), no-history rows carry nulls") {
    import spark.implicits._
    import java.sql.Timestamp
    // six successive Mondays 10:00 (1970-01-05 is a Monday) + one Tuesday
    def t(week: Int, dayOff: Int = 0, hr: Int = 10) = new Timestamp(
      ((4L + week * 7L + dayOff) * 86400L + hr * 3600L) * 1000L)
    val rows = (1 to 6).map(i => (i.toLong, "k", t(i - 1), i * 10L)) :+
      (7L, "k", t(0, dayOff = 1), 999L)
    val out = Windows.seasonalResiduals(
      rows.toDF("id", "key", "ts", "v"), Seq("key"), "ts", Seq("id"), "v", 4)
      .collect().map(r => r.getLong(0) ->
        ((r.getInt(4), r.getInt(5), r.getLong(6),
          if (r.isNullAt(7)) None else Some(r.getDouble(7)),
          if (r.isNullAt(8)) None else Some(r.getDouble(8))))).toMap
    assert(out(1L) == ((0, 10, 0L, None, None)))
    assert(out(2L) == ((0, 10, 1L, Some(10.0), Some(10.0))))
    assert(out(5L) == ((0, 10, 4L, Some(25.0), Some(25.0))))
    // row 6: frame is rows 2..5 → mean(20,30,40,50) = 35
    assert(out(6L) == ((0, 10, 4L, Some(35.0), Some(25.0))))
    // the Tuesday row shares no slot with the Mondays
    assert(out(7L) == ((1, 10, 0L, None, None)))
  }

  test("hampelOutliers: MAD shrugs off the spike a z-score's sigma " +
      "chases; constant frame flags any deviation") {
    import spark.implicits._
    // steady 10s, one spike, then back to steady — trailing 5 frame
    val vals = Seq(10L, 11L, 10L, 12L, 500L, 10L, 11L)
    val df = vals.zipWithIndex.map { case (v, i) => (i.toLong, v) }
      .toDF("i", "v").withColumn("key", lit("k"))
    val out = Windows.hampelOutliers(df, Seq("key"), Seq("i"), "v",
      nRows = 5, k = 3L)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(3), r.getLong(4), r.getBoolean(5)))).toMap
    // at the spike: frame {10,11,10,12,500} → med 11, MAD = lower
    // median of {1,0,1,1,489} = 1 → |500−11| > 3 → outlier
    assert(out(4L) == ((11L, 1L, true)))
    // right after: frame {11,10,12,500,10} → med 11, MAD 1, |10−11| ≤ 3
    // — the spike INSIDE the frame does not mask its neighbors
    assert(out(5L) == ((11L, 1L, false)))
    // warmup degeneracy, pinned: 2- and 4-row frames of this jittery
    // series have lower-median MAD = 0, so any deviation flags (rows 1
    // and 3); full frames with jitter have MAD ≥ 1 and stay quiet
    assert(out.filter(_._2._3).keySet == Set(1L, 3L, 4L))
    // constant frame: MAD 0 → any deviation flags
    val const = Seq((0L, 5L), (1L, 5L), (2L, 5L), (3L, 6L))
      .toDF("i", "v").withColumn("key", lit("c"))
    val c = Windows.hampelOutliers(const, Seq("key"), Seq("i"), "v", 3, 3L)
      .collect().map(r => r.getLong(0) -> r.getBoolean(5)).toMap
    assert(!c(2L) && c(3L))
  }

  test("runningDistinctCount: repeats do not bump the curve, new values " +
      "do; keys are independent") {
    import spark.implicits._
    val df = Seq((1L, "k", "a"), (2L, "k", "b"), (3L, "k", "a"),
      (4L, "k", "c"), (5L, "j", "a")).toDF("i", "key", "v")
    val out = Windows.runningDistinctCount(df, Seq("key"), Seq("i"), "v")
      .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
    assert(out == Map(1L -> 1L, 2L -> 2L, 3L -> 2L, 4L -> 3L, 5L -> 1L))
  }

  test("funnelSteps: single-step funnel is the per-entity min; " +
      "duplicate timestamps collapse to one earliest") {
    import spark.implicits._
    val ev = Seq((1L, 5L, "a"), (1L, 3L, "a"), (1L, 3L, "a"),
      (2L, 9L, "a"), (2L, 9L, "b")).toDF("u", "ts", "typ")
    val out = Windows.funnelSteps(ev, "u", "ts", "typ", Seq("a"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getInt(2))))
      .toMap
    assert(out == Map(1L -> ((3L, 1)), 2L -> ((9L, 1))))
  }

  test("funnelSteps property: matches an independent greedy-scan " +
      "reference on random event streams") {
    import org.scalacheck.{Gen, Prop, Test => SchkTest}
    import spark.implicits._
    val steps = Seq("a", "b", "c")
    val evGen = Gen.listOfN(24, Gen.zip(Gen.chooseNum(1, 4),
      Gen.chooseNum(1L, 20L), Gen.oneOf("a", "b", "c", "x")))
    def ref(evs: Seq[(Int, Long, String)]) =
      evs.groupBy(_._1).flatMap { case (u, es) =>
        var prev = Option.empty[Long]
        var stalled = false
        val ts = steps.map { s =>
          if (stalled) None
          else {
            val cands = es.collect { case (_, t, st)
              if st == s && prev.forall(t > _) => t }
            val t = if (cands.isEmpty) None else Some(cands.min)
            if (t.isEmpty) stalled = true else prev = t
            t
          }
        }
        if (ts.head.isEmpty) None else Some(u.toLong -> ts)
      }
    val prop = Prop.forAll(evGen) { evs =>
      val got = Windows.funnelSteps(
          evs.map(e => (e._1.toLong, e._2, e._3)).toDF("u", "ts", "typ"),
          "u", "ts", "typ", steps)
        .collect().map(r => r.getLong(0) -> (1 to 3).map(i =>
          if (r.isNullAt(i)) None else Some(r.getLong(i))).toList).toMap
      Prop(got == ref(evs))
    }
    val res = SchkTest.check(
      SchkTest.Parameters.default.withMinSuccessfulTests(12), prop)
    assert(res.passed, s"funnel reference divergence: ${res.status}")
  }

  test("funnelSteps: strict-after chaining, out-of-order steps stall the " +
      "funnel, users without step one are absent") {
    import spark.implicits._
    val ev = Seq(
      ("u1", 1L, "view"), ("u1", 2L, "click"), ("u1", 3L, "buy"),
      // u2: click precedes view; the only later click is at 5, and the
      // buy at 4 is BEFORE that click → t3 null
      ("u2", 1L, "click"), ("u2", 2L, "view"), ("u2", 5L, "click"),
      ("u2", 4L, "buy"),
      ("u3", 1L, "buy"), // never viewed → absent entirely
      ("u4", 7L, "view")).toDF("u", "ts", "typ")
    val out = Windows.funnelSteps(ev, "u", "ts", "typ",
        Seq("view", "click", "buy"))
      .collect().map(r => r.getString(0) ->
        ((Option(r.get(1)), Option(r.get(2)), Option(r.get(3)),
          r.getInt(4)))).toMap
    assert(out.keySet == Set("u1", "u2", "u4"))
    assert(out("u1") == ((Some(1L), Some(2L), Some(3L), 3)))
    assert(out("u2") == ((Some(2L), Some(5L), None, 2)))
    assert(out("u4") == ((Some(7L), None, None, 1)))
  }
}

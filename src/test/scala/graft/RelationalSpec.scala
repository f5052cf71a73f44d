package graft

import java.sql.Timestamp
import org.apache.spark.sql.functions._
import graft.engine.{Dates, Joins, Pipeline, Relational, Sinks}

/** Relational glue, date parsing, sinks, and the composed gap-fill flow. */
class RelationalSpec extends SparkSpec {

  test("applyRename only touches present columns") {
    import spark.implicits._
    val df = Seq((1.0, 2.0)).toDF("u10", "unrelated")
    val out = Relational.applyRename(df,
      graft.engine.Predictors.shortnameToFullname)
    assert(out.columns.toSeq ==
      Seq("10m_u_component_of_wind", "unrelated"))
  }

  test("two-format timestamp parse with coerce-to-null fallback (OP-DT-1)") {
    import spark.implicits._
    val out = Seq("2020-01-31 10:30:00", "202001311030", "garbage", "20200131")
      .toDF("s").select(Dates.parseTimestamp(col("s")).as("t")).collect()
    assert(out(0).getTimestamp(0) == Timestamp.valueOf("2020-01-31 10:30:00"))
    assert(out(1).getTimestamp(0) == Timestamp.valueOf("2020-01-31 10:30:00"))
    assert(out(2).get(0) == null) // unparseable → NaT
    assert(out(3).get(0) == null) // 8 digits ≠ 12-digit compact form
  }

  test("anyNull worklist + sentinel-to-null") {
    import spark.implicits._
    val df = Seq((1, Some(1.0), Some(2.0)), (2, None, Some(3.0)),
      (3, Some(4.0), None)).toDF("id", "a", "b")
    assert(Relational.anyNull(df, Seq("a", "b")).collect().map(_.getInt(0))
      .toSeq == Seq(2, 3))
    val s = Seq(5.0, 1e10, 2e10).toDF("xco2")
    val cleaned = Relational.sentinelToNull(s, "xco2", 1e10).collect()
    assert(cleaned(0).getDouble(0) == 5.0)
    assert(cleaned(1).get(0) == null && cleaned(2).get(0) == null)
  }

  test("dedupDeterministic keeps the min-tiebreak row") {
    import spark.implicits._
    val df = Seq(("k", 3L, "late"), ("k", 1L, "early"), ("j", 9L, "only"))
      .toDF("key", "t", "v")
    val out = Relational.dedupDeterministic(df, Seq("key"), "t")
      .collect().map(r => r.getString(0) -> r.getString(2)).toMap
    assert(out == Map("k" -> "early", "j" -> "only"))
  }

  test("float32 downcast sink preserves keys, downcasts values (OP-SNK-1)") {
    import spark.implicits._
    val df = Seq((1L, 1.23456789012345)).toDF("k", "v")
    val out = Sinks.downcast(df, Seq("v"))
    assert(out.schema("v").dataType.typeName == "float")
    assert(out.schema("k").dataType.typeName == "long")
    assert(out.collect()(0).getFloat(1) == 1.23456789012345f)
  }

  test("gap-fill range restriction + out-of-coverage rejection (OP-FLT-1)") {
    import spark.implicits._
    val station = Seq(
      ("2024-01-01 10:00:00", None: Option[Double]),
      ("2024-01-02 10:00:00", None: Option[Double]),
      ("2024-01-03 10:00:00", None: Option[Double]))
      .toDF("timestamp", "TA")
    val era5 = Seq((Timestamp.valueOf("2024-01-02 10:00:00"), 1.0))
      .toDF("timestamp", "ta_e")
    val in = Pipeline.gapFill(station, era5, "timestamp", Seq("TA"),
      Map("TA" -> col("ta_e")),
      range = Some(("2024-01-02 00:00:00", "2024-01-02 23:00:00"))).collect()
    assert(in.length == 1) // only the in-range missing row survives
    val e = intercept[IllegalArgumentException] {
      Pipeline.gapFill(station, era5, "timestamp", Seq("TA"),
        Map("TA" -> col("ta_e")),
        range = Some(("2023-12-01 00:00:00", "2024-01-02 23:00:00")))
    }
    assert(e.getMessage.contains("exceeds station coverage"))
  }

  test("gap-fill composed flow end-to-end on a hand-built station frame") {
    import spark.implicits._
    val station = Seq(
      ("2024-01-01 10:00:00", None, Some(5.0)),       // TA missing → worklist
      ("202401011100", Some(2.0), Some(6.0)),          // complete → dropped
      ("2024-01-01 12:30:00", None, None),             // not top-of-hour
      ("nonsense", None, None))                        // unparseable
      .toDF("timestamp", "TA", "P")
    val era5 = Seq((Timestamp.valueOf("2024-01-01 10:00:00"), 21.0, 7.0))
      .toDF("timestamp", "ta_e", "p_e")
    val out = Pipeline.gapFill(station, era5, "timestamp", Seq("TA", "P"),
      Map("TA" -> col("ta_e"), "P" -> col("p_e"))).collect()
    assert(out.length == 1)
    val r = out(0)
    assert(r.getAs[Timestamp]("timestamp") ==
      Timestamp.valueOf("2024-01-01 10:00:00"))
    assert(r.get(r.fieldIndex("TA_AMF")) == null)
    assert(r.getAs[Double]("TA_ERA5") == 21.0)
    assert(r.getAs[Double]("P_AMF") == 5.0)
    assert(r.getAs[Double]("P_ERA5") == 7.0)
  }

  test("cornerSnapClip: prev-exclusion, remap, and single-point fallback") {
    import spark.implicits._
    // grid lats {1,2,3}, lons {10,20}; payload marks the cell
    val grid = (for { la <- Seq(1.0, 2.0, 3.0); lo <- Seq(10.0, 20.0) }
      yield (la, lo, s"c_${la.toInt}_${lo.toInt}")).toDF("glat", "glon", "cell")
    // region A: lat_max=2.9→3, lat_min=2.8 would also snap 3 — exclusion
    // forces it to the NEXT nearest ≠3, which is 2. lon corners snap 20/10.
    val regions = Seq(("A", 2.9, 2.8, 19.0, 11.0))
      .toDF("region_id", "lat_max", "lat_min", "lon_max", "lon_min")
    val out = Joins.cornerSnapClip(grid, regions, "region_id", "glat", "glon")
      .select(col("region_id"), col("latitude"), col("longitude"), col("cell"))
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getDouble(2),
        r.getString(3))).toSet
    assert(out == Set(
      ("A", 2.9, 19.0, "c_3_20"), ("A", 2.9, 11.0, "c_3_10"),
      ("A", 2.8, 19.0, "c_2_20"), ("A", 2.8, 11.0, "c_2_10")))
    // single-valued lat axis: exclusion empties the candidate set → both
    // corners fall back to the one grid value; remap is last-write (lo wins)
    val oneLat = Seq((5.0, 10.0, "x"), (5.0, 20.0, "y"))
      .toDF("glat", "glon", "cell")
    val out1 = Joins.cornerSnapClip(oneLat,
      Seq(("B", 9.0, 1.0, 19.0, 11.0)).toDF(
        "region_id", "lat_max", "lat_min", "lon_max", "lon_min"),
      "region_id", "glat", "glon")
      .select(col("latitude"), col("cell")).collect()
      .map(r => (r.getDouble(0), r.getString(1))).toSet
    assert(out1 == Set((1.0, "x"), (1.0, "y"))) // lo's true value wins
  }

  test("cornerSnapClip never shuffles the fact grid (plan assertion)") {
    // the 100 TB lives in the grid: the clip must reach it as a broadcast
    // join only — parquet-backed so ConvertToLocalRelation can't erase
    // the plan under the assertion
    val grid = Queries.T(spark, sf001, "lineitem").select(
      col("l_orderkey"), col("l_quantity").as("glat"),
      (col("l_discount") * 100).as("glon"))
    val regions = Queries.T(spark, sf001, "nation").select(
      col("n_nationkey").as("region_id"),
      (col("n_nationkey") * 2.0 + 4.3).as("lat_max"),
      (col("n_nationkey") * 2.0 + 0.7).as("lat_min"),
      (col("n_nationkey") * 0.3 + 2.61).as("lon_max"),
      (col("n_nationkey") * 0.28 + 2.41).as("lon_min"))
    // AQE's wrapper node hides its children from collect(); the static
    // plan has the same join shape and is what the assertion is about.
    // Restore the PRIOR value, not a hardcoded one — the shared session
    // outlives this test.
    val aqeBefore = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val exec =
      try Joins.cornerSnapClip(grid, regions, "region_id",
        "glat", "glon").queryExecution.executedPlan
      finally spark.conf.set("spark.sql.adaptive.enabled", aqeBefore)
    // the outer clip join must be broadcast, and its STREAMED (grid) side
    // must be shuffle-free all the way to the parquet scan — the snap
    // windows may exchange region-sized rows, the fact may not move
    import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ShuffleExchangeExec}
    import org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec
    val bnlj = exec.collectFirst { case j: BroadcastNestedLoopJoinExec => j }
    assert(bnlj.isDefined, s"clip join is not broadcast:\n$exec")
    val streamed = bnlj.get.children.find(
      c => c.collectFirst { case b: BroadcastExchangeExec => b }.isEmpty)
    assert(streamed.isDefined, s"no shuffle-free streamed side:\n$exec")
    assert(streamed.get.toString.contains("lineitem"),
      s"streamed side is not the fact grid:\n${streamed.get}")
    assert(streamed.get.collect { case s: ShuffleExchangeExec => s }.isEmpty,
      s"fact-side shuffle in clip plan:\n${streamed.get}")
  }

  test("pivotCounts/unpivot: explicit schema, melt round-trips the cells") {
    import spark.implicits._
    val df = Seq((1L, "a", 1.0), (1L, "a", 2.0), (1L, "b", 3.0),
      (2L, "c", 4.0)).toDF("k", "t", "v")
    val wide = Relational.pivotCounts(df, Seq("k"), "t", Seq("a", "b", "z"))
    assert(wide.columns.toSeq == Seq("k", "a", "b", "z")) // static schema
    val m = wide.collect().map(r => r.getLong(0) ->
      (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(m == Map(1L -> ((2L, 1L, 0L)), 2L -> ((0L, 0L, 0L))))
    // unlisted value 'c' is dropped by design (explicit-value contract)
    val long = Relational.unpivot(wide, Seq("k"), Seq("a", "b", "z"))
    assert(long.count() == 6) // 2 keys × 3 variables, nulls kept
    assert(long.filter(col("k") === 1 && col("variable") === "a")
      .head().getDouble(2) == 2.0)
  }

  test("imputeByGroup: nulls get the group median, observed untouched") {
    import spark.implicits._
    val df = Seq(("g", Some(1.0)), ("g", Some(3.0)), ("g", None),
      ("h", Some(7.0)), ("h", None)).toDF("grp", "v")
    val out = Relational.imputeByGroup(df, Seq("grp"), "v").collect()
      .map(r => (r.getString(0), Option(r.get(1))) -> r.getDouble(2))
    assert(out.count(_._2 == 2.0) == 1)  // g's null → median(1,3) = 2
    assert(out.count(_._2 == 7.0) == 2)  // h's null → 7, observed 7 kept
  }

  test("oneHot: explicit vocab, other flag, static schema") {
    import spark.implicits._
    val df = Seq(Some("a"), Some("b"), Some("z"), None).toDF("c")
    val out = Relational.oneHot(df, "c", Seq("a", "b"))
    assert(out.columns.toSeq == Seq("c", "c_a", "c_b", "c_other"))
    val m = out.collect().map(r => Option(r.getString(0)) ->
      ((r.getInt(1), r.getInt(2), r.getInt(3)))).toMap
    assert(m(Some("a")) == ((1, 0, 0)) && m(Some("b")) == ((0, 1, 0)))
    assert(m(Some("z")) == ((0, 0, 1))) // unlisted → other
    assert(m(None) == ((0, 0, 0)))      // null → no flag at all
  }

  test("targetEncode: shrinkage toward the global mean by pseudo-count") {
    import spark.implicits._
    // global mean 2.0; cat "a" mean 1.0 (n=2), m=2 → (2 + 2·2)/(2+2)=1.5
    val df = Seq(("a", 1.0), ("a", 1.0), ("b", 3.0), ("b", 3.0))
      .toDF("cat", "y")
    val out = Relational.targetEncode(df, "cat", "y", smoothing = 2.0)
      .select("cat", "cat_enc").distinct().collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(out == Map("a" -> 1.5, "b" -> 2.5))
  }

  test("qualityChecks: violations counted, null verdict is a violation") {
    import spark.implicits._
    val df = Seq(Some(5.0), Some(500.0), None).toDF("v")
    val out = Relational.qualityChecks(df, Seq(
      "in_range" -> col("v").between(0, 100),
      "present" -> col("v").isNotNull)).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    // null v: between → NULL verdict → counts as violation, not a pass
    assert(out == Map("in_range" -> ((2L, 3L)), "present" -> ((1L, 3L))))
  }

  test("snapshotDiff: I/U/D classified, null-safe updates, unchanged drop") {
    import spark.implicits._
    val old = Seq((1L, Some("a"), 10.0), (2L, Some("b"), 20.0),
      (3L, Some("c"), 30.0), (4L, None, 40.0)).toDF("k", "s", "v")
    val nw = Seq((1L, Some("a"), 10.0),          // unchanged → dropped
      (2L, Some("B"), 20.0),                     // updated
      (4L, Some("x"), 40.0),                     // null→value is an update
      (5L, Some("e"), 50.0)).toDF("k", "s", "v") // insert; 3 deleted
    val out = Relational.snapshotDiff(old, nw, Seq("k")).collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.get(2), r.get(4))))
      .toMap
    assert(out.size == 4)
    assert(out(2L) == (("U", "B", "b")))
    assert(out(3L) == (("D", null, "c")))
    assert(out(4L) == (("U", "x", null))) // null old state ≠ wildcard
    assert(out(5L) == (("I", "e", null)))
  }

  test("scd2: unchanged states collapse, intervals chain, null is a state") {
    import spark.implicits._
    import java.sql.Timestamp
    def t(h: Int) = Timestamp.valueOf(f"2024-01-01 $h%02d:00:00")
    val df = Seq(
      ("a", t(1), 1L, Some("x")), ("a", t(2), 2L, Some("x")), // collapse
      ("a", t(3), 3L, Some("y")), ("a", t(4), 4L, Some("y")), // collapse
      ("a", t(5), 5L, Some("x")),                             // x returns
      ("b", t(1), 6L, None), ("b", t(2), 7L, None),           // null state
      ("b", t(3), 8L, Some("z")))
      .toDF("k", "ts", "eid", "attr")
    val out = Relational.scd2(df, Seq("k"), "ts", "attr", Seq("eid"))
      .collect().map(r => (r.getString(0), r.getTimestamp(2)) ->
        ((r.getString(1), r.get(3), r.getInt(4)))).toMap
    assert(out.size == 5)
    assert(out(("a", t(1))) == (("x", t(3), 0)))
    assert(out(("a", t(3))) == (("y", t(5), 0)))
    assert(out(("a", t(5))) == (("x", null, 1))) // current, open-ended
    assert(out(("b", t(1))) == ((null, t(3), 0))) // null ≠ wildcard
    assert(out(("b", t(3))) == (("z", null, 1)))
  }

  test("winsorize: exact group bounds clamp the tails only") {
    import spark.implicits._
    val df = (1 to 100).map(i => (i.toLong, "g", i.toDouble))
      .toDF("id", "grp", "v")
    val out = Relational.winsorize(df, Seq("grp"), "v", 0.05, 0.95)
      .collect().map(r => r.getLong(1) -> r.getDouble(3)).toMap
    assert(out(1L) == 5.95 && out(100L) == 95.05) // 1 + 99·p
    assert(out(50L) == 50.0)                      // interior untouched
  }

  test("skewSafeDistinctList: sorted distinct per key, hot key exact") {
    import spark.implicits._
    // hot key 1: 1000 rows over 3 values; key 2: one value
    val df = ((1 to 1000).map(i => (1L, s"v${i % 3}")) ++
      Seq((2L, "only"))).toDF("k", "v")
    val out = Relational.skewSafeDistinctList(df, Seq("k"), "v", nSalts = 4)
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getInt(2))))
      .toMap
    assert(out(1L) == (("v0,v1,v2", 3)))
    assert(out(2L) == (("only", 1)))
  }

  test("mergeUpsert: update wins, insert lands, untouched rows pass") {
    import spark.implicits._
    val base = Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0))
      .toDF("k", "s", "v")
    val upd = Seq((2L, "B", 99.0), (4L, "d", 40.0)).toDF("k", "s", "v")
    val out = Relational.mergeUpsert(base, upd, Seq("k")).collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getDouble(2)))).toMap
    assert(out == Map(1L -> (("a", 10.0)), 2L -> (("B", 99.0)),
      3L -> (("c", 30.0)), 4L -> (("d", 40.0))))
  }

  test("histogram: edge clamp conserves rows, bounds from bin index") {
    import spark.implicits._
    val df = Seq(-5.0, 0.0, 4.9, 5.0, 19.9, 25.0).toDF("v") // 4 bins of 5
    val out = Relational.histogram(df, "v", 0.0, 20.0, 4).collect()
      .map(r => r.getInt(0) -> ((r.getLong(1), r.getDouble(2),
        r.getDouble(3)))).toMap
    assert(out(0) == ((3L, 0.0, 5.0)))  // -5 clamps up, 0 and 4.9 in range
    assert(out(1) == ((1L, 5.0, 10.0)))
    assert(out(3) == ((2L, 15.0, 20.0))) // 25 clamps down into last bin
    assert(out.values.map(_._1).sum == 6L) // row count conserved
  }

  test("profileNumeric: null/distinct counts and double-cast extremes") {
    import spark.implicits._
    val df = Seq((Some(1.0), Some(5L)), (None, Some(5L)), (Some(1.0), None),
      (Some(3.0), Some(9L))).toDF("x", "y")
    val out = Relational.profileNumeric(df, Seq("x", "y")).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4), r.getDouble(5)))).toMap
    assert(out("x") == ((3L, 1L, 2L, 1.0, 3.0)))
    assert(out("y") == ((3L, 1L, 2L, 5.0, 9.0)))
  }

  test("percentileSummary: exact interpolation goldens") {
    import spark.implicits._
    val df = (1 to 100).map(i => ("g", i.toDouble)).toDF("grp", "v")
    val r = Relational.percentileSummary(df, Seq("grp"), "v",
      Seq(0.5, 0.95, 0.99)).head()
    // linear interpolation over 1..100: p = 1 + 99*q
    assert(r.getDouble(1) == 50.5 && r.getDouble(2) == 95.05)
    assert(r.getDouble(3) == 99.01)
  }

  test("rollupAgg: subtotal rows at every prefix + grand total, gid marks") {
    import spark.implicits._
    val df = Seq(("r", "x", 1.0), ("r", "y", 2.0), ("s", "x", 4.0))
      .toDF("a", "b", "v")
    val out = Relational.rollupAgg(df, Seq("a", "b"),
      "sv" -> sum(col("v")), "n" -> count(lit(1)))
      .collect().map(r => (r.get(0), r.get(1), r.getDouble(2), r.getInt(4)))
      .toSet
    assert(out == Set(
      ("r", "x", 1.0, 0), ("r", "y", 2.0, 0), ("s", "x", 4.0, 0),
      ("r", null, 3.0, 1), ("s", null, 4.0, 1), // level-1 subtotals
      (null, null, 7.0, 3)))                    // grand total
  }

  test("cubeAgg: every dimension subset present, per-dim markers") {
    import spark.implicits._
    val df = Seq(("r", "x", 1.0), ("r", "y", 2.0), ("s", "x", 4.0))
      .toDF("a", "b", "v")
    val out = Relational.cubeAgg(df, Seq("a", "b"),
      "sv" -> sum(col("v")))
      .collect()
      .map(r => (r.get(0), r.get(1), r.getDouble(2),
        r.getInt(3), r.getInt(4))).toSet
    assert(out == Set(
      ("r", "x", 1.0, 0, 0), ("r", "y", 2.0, 0, 0), ("s", "x", 4.0, 0, 0),
      ("r", null, 3.0, 0, 1), ("s", null, 4.0, 0, 1), // by a
      (null, "x", 5.0, 1, 0), (null, "y", 2.0, 1, 0), // by b (rollup lacks)
      (null, null, 7.0, 1, 1)))
  }

  test("madOutliers: robust flag, constant group silent, null key kept") {
    import spark.implicits._
    // group g: eight 10s and one 1000 → med 10, MAD small but residuals 0
    // for the 10s... use a spread so MAD > 0: 1..9 and 1000
    val g = (1 to 9).map(i => ("g", i.toDouble)) :+ (("g", 1000.0))
    val c = Seq(("c", 5.0), ("c", 5.0), ("c", 5.0)) // MAD = 0
    val n = Seq((null.asInstanceOf[String], 7.0))
    val out = Relational.madOutliers(
      (g ++ c ++ n).toDF("k", "v"), Seq("k"), "v", zCut = 3.5)
      .collect().map(r => (r.getString(0), r.getDouble(1),
        if (r.isNullAt(2)) null else r.getDouble(2), r.getBoolean(3)))
    val gRows = out.filter(_._1 == "g")
    assert(gRows.count(_._4) == 1)                 // only the 1000 flags
    assert(gRows.find(_._2 == 1000.0).get._4)
    assert(out.filter(_._1 == "c").forall(r => r._3 == null && !r._4))
    val nullRow = out.find(_._1 == null).get       // kept, unflagged
    assert(nullRow._3 == null && !nullRow._4)
  }

  test("groupRegression: exact line recovered, degenerate group null") {
    import spark.implicits._
    // y = 3x + 2 exactly; x-variance present
    val exact = Seq(1L, 2L, 3L, 4L).map(x => ("a", x, 3 * x + 2))
    val flat = Seq(("b", 5L, 9L), ("b", 5L, 11L)) // zero x-variance
    val out = Relational.groupRegression(
      (exact ++ flat).toDF("k", "x", "y"), Seq("k"), col("x"), col("y"))
      .collect().map(r => r.getString(0) -> r).toMap
    val a = out("a")
    assert(a.getDouble(a.fieldIndex("slope")) == 3.0)
    assert(a.getDouble(a.fieldIndex("intercept")) == 2.0)
    assert(a.getDouble(a.fieldIndex("r2")) == 1.0)
    val b = out("b")
    assert(b.isNullAt(b.fieldIndex("slope")) &&
      b.isNullAt(b.fieldIndex("intercept")) && b.isNullAt(b.fieldIndex("r2")))
  }

  test("assocPairs: support/confidence/lift in exact ppm, floor division") {
    import spark.implicits._
    // 4 txns: {A,B} {A,B} {A,C} {B}; dup (1,A) row collapses at distinct
    val df = Seq((1, "A"), (1, "A"), (1, "B"), (2, "A"), (2, "B"),
      (3, "A"), (3, "C"), (4, "B")).toDF("t", "i")
    val out = Relational.assocPairs(df, "t", "i", minSupport = 1L)
      .collect().map(r => (r.getString(0), r.getString(1),
        r.getLong(2), r.getLong(3), r.getLong(4))).toSet
    // n(A)=3, n(B)=3, n(C)=1, txns=4
    // {A,B}: n=2, conf=2e6 DIV 3 = 666666, lift = 2*4e6 DIV 9 = 888888
    // {A,C}: n=1, conf=1e6 DIV 3 = 333333, lift = 4e6 DIV 3 = 1333333
    assert(out == Set(("A", "B", 2L, 666666L, 888888L),
      ("A", "C", 1L, 333333L, 1333333L)))
  }

  test("weightedMedian: weights move the pick, nulls out, ties stable") {
    import spark.implicits._
    // group g: values 1,2,3 with weights 1,1,10 → median 3 (2·cumw: at
    // v=2 cum=2*2=4 < 12; at v=3 cum=24 ≥ 12); unweighted would pick 2
    // group h: equal weights over 1,2 → lower median 1 (2·1 ≥ 2)
    val df = Seq(("g", Some(1L), 1L), ("g", Some(2L), 1L),
      ("g", Some(3L), 10L), ("g", None, 99L),
      ("h", Some(1L), 1L), ("h", Some(2L), 1L)).toDF("k", "v", "w")
    val out = Relational.weightedMedian(df, Seq("k"), "v", "w")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(out == Map("g" -> 3L, "h" -> 1L))
  }

  test("weightedMedian: unit weights on odd groups = exact middle element") {
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    val rows = (0 until 7).flatMap { g =>
      val n = 2 * rnd.nextInt(20) + 1 // odd sizes 1..39
      Seq.fill(n)((s"g$g", rnd.nextInt(1000).toLong, 1L))
    }
    val got = Relational.weightedMedian(rows.toDF("k", "v", "w"),
      Seq("k"), "v", "w")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val want = rows.groupBy(_._1).map { case (k, rs) =>
      k -> rs.map(_._2).sorted.apply(rs.size / 2)
    }
    assert(got == want)
  }

  test("groupRegression agrees with a BigInt closed-form on random data") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val rows = (0 until 3).flatMap { g =>
      Seq.fill(50)((s"g$g", rnd.nextInt(100).toLong,
        rnd.nextInt(100000).toLong))
    }
    val got = Relational.groupRegression(rows.toDF("k", "x", "y"),
      Seq("k"), col("x"), col("y")).collect()
      .map(r => r.getString(0) -> ((r.getDouble(2), r.getDouble(3),
        r.getDouble(4)))).toMap
    def round6(d: Double) =
      BigDecimal(d).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    rows.groupBy(_._1).foreach { case (k, rs) =>
      val n = BigInt(rs.size)
      val sx = rs.map(r => BigInt(r._2)).sum
      val sy = rs.map(r => BigInt(r._3)).sum
      val sxy = rs.map(r => BigInt(r._2) * BigInt(r._3)).sum
      val sxx = rs.map(r => BigInt(r._2) * BigInt(r._2)).sum
      val syy = rs.map(r => BigInt(r._3) * BigInt(r._3)).sum
      val num = n * sxy - sx * sy
      val denx = n * sxx - sx * sx
      val deny = n * syy - sy * sy
      val slope = num.toDouble / denx.toDouble
      val (gs, gi, gr) = got(k)
      assert(gs == round6(slope), s"slope $k")
      assert(gi == round6((sy.toDouble - slope * sx.toDouble) / n.toDouble),
        s"intercept $k")
      assert(gr == round6(num.toDouble * num.toDouble /
        (denx.toDouble * deny.toDouble)), s"r2 $k")
    }
  }

  test("keySkewReport: exact ppm shares, deterministic rank cut") {
    import spark.implicits._
    val df = (Seq.fill(6)("hot") ++ Seq.fill(3)("warm") ++ Seq("cold"))
      .toDF("k")
    val out = Relational.keySkewReport(df, Seq("k"), topK = 2)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getInt(3))).toSeq.sortBy(_._4)
    assert(out == Seq(("hot", 6L, 600000L, 1), ("warm", 3L, 300000L, 2)))
    // a NULL key group tying on count sorts LAST (cross-engine total
    // order: DuckDB/ANSI ascending defaults to nulls last)
    val withNull = (Seq.fill(3)(Some("warm")) ++
      Seq.fill(3)(Option.empty[String]) ++ Seq.fill(6)(Some("hot")))
      .toDF("k")
    val ranked = Relational.keySkewReport(withNull, Seq("k"), topK = 3)
      .collect().map(r => r.getInt(3) -> r.getString(0)).toMap
    assert(ranked == Map(1 -> "hot", 2 -> "warm", 3 -> null))
  }

  test("psiReport: identical split distributions score exactly zero; " +
      "a shifted split scores the hand-computed positive PSI") {
    import spark.implicits._
    // ref s0: 10 rows in bin0, 10 in bin1; same: identical; shift: 15/5
    val rows =
      (1 to 10).map(_ => ("s0", 5d)) ++ (1 to 10).map(_ => ("s0", 15d)) ++
      (1 to 10).map(_ => ("same", 5d)) ++ (1 to 10).map(_ => ("same", 15d)) ++
      (1 to 15).map(_ => ("shift", 5d)) ++ (1 to 5).map(_ => ("shift", 15d))
    val out = Relational.psiReport(rows.toDF("split", "v"),
      "split", "s0", "v", lo = 0d, hi = 20d, nBins = 2)
      .collect().map(r => (r.getString(0), r.getInt(1)) ->
        ((r.getLong(2), r.getLong(3), r.getDouble(5)))).toMap
    assert(out(("same", 0)) == ((500000L, 500000L, 0.0)))
    // shift: bins 750000/250000 vs 500000/500000 →
    // psi = 0.25·ln(1.5) + (−0.25)·ln(0.5) = 0.25·ln 3
    val want = BigDecimal(
      BigDecimal(0.25 * math.log(1.5)).setScale(6,
        BigDecimal.RoundingMode.HALF_UP).toDouble +
      BigDecimal(-0.25 * math.log(0.5)).setScale(6,
        BigDecimal.RoundingMode.HALF_UP).toDouble)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(out(("shift", 0))._3 == want)
  }

  test("benfordReport: digits from the decimal string, exact ppm, " +
      "expected masses sum to one million") {
    import spark.implicits._
    val rows = Seq(("g", 123L), ("g", 19L), ("g", 100L), ("g", 950L),
      ("g", 2L), ("g", -5L), ("g", 0L))
      .toDF("grp", "v")
    val out = Relational.benfordReport(rows, Seq("grp"), "v")
      .collect().map(r => r.getInt(1) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))).toMap
    // positives: 123, 19, 100, 950, 2 → digits 1:3, 9:1, 2:1 of 5
    assert(out(1) == ((3L, 600000L, 301030L, 298970L)))
    assert(out(9) == ((1L, 200000L, 45757L, 154243L)))
    assert(out(2) == ((1L, 200000L, 176091L, 23909L)))
    assert(out.keySet == Set(1, 2, 9))
  }

  test("missingnessMatrix: one-scan pair counts on a hand fixture") {
    import spark.implicits._
    val rows = Seq(
      (Some(1L), Some("x"), Some(1L)),
      (None, Some("y"), Some(2L)),
      (None, None, Some(3L)),
      (Some(4L), None, None)
    ).toDF("a", "b", "c")
    val out = Relational.missingnessMatrix(rows, Seq("a", "b", "c"))
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(out == Map(
      ("a", "b") -> ((1L, 3L, 4L)),
      ("a", "c") -> ((0L, 3L, 4L)),
      ("b", "c") -> ((1L, 2L, 4L))))
  }

  test("giniIndex: hand-computed goldens — even, concentrated, all-zero") {
    import spark.implicits._
    val df = Seq(("even", 1L, 5L), ("even", 2L, 5L),
      ("conc", 1L, 0L), ("conc", 2L, 0L), ("conc", 3L, 0L), ("conc", 4L, 12L),
      ("zero", 1L, 0L), ("zero", 2L, 0L)).toDF("grp", "tb", "x")
    val out = Relational.giniIndex(df, Seq("grp"), "x", Seq("tb"))
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2),
          if (r.isNullAt(3)) None else Some(r.getDouble(3))))).toMap
    // even: (2·(1·5+2·5) − 3·10)/(2·10) = 0; conc: one of four holds all
    // mass → (2·4·12 − 5·12)/(4·12) = 36/48 = 0.75; zero mass → null
    assert(out == Map("even" -> ((2L, 10L, Some(0.0))),
      "conc" -> ((4L, 12L, Some(0.75))), "zero" -> ((2L, 0L, None))))
  }

  test("ksReport: hand-computed sup at the union grid (incl. a point the " +
      "current split lacks), missing reference is empty, bucket count " +
      "never moves the statistic") {
    import spark.implicits._
    // ref {1,2,2,3}, cur {2,3,3,4}: D attained at v=2 → 8/16 = 0.5
    val df = (Seq(1L, 2L, 2L, 3L).map(("r", _)) ++
      Seq(2L, 3L, 3L, 4L).map(("c", _))).toDF("s", "v")
    def ks(ref: String, nb: Int) = Relational.ksReportFromPaired(
      Relational.ecdfPaired(df, "s", ref, "v", 0d, 5d, nb))
    def run(nb: Int) = ks("r", nb)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getDouble(4))).toSeq
    assert(run(2) == Seq(("c", 4L, 4L, 8L, 0.5)))
    assert(run(1) == run(2) && run(7) == run(2)) // internal partitioning only
    assert(ks("absent", 2).count() == 0L)
  }

  test("mannWhitneyReport: doubled rank sums with ties match the " +
      "hand-ranked golden; all-tied pair has exact zero variance") {
    import spark.implicits._
    // ref {1,2,2,3}, cur {2,3,3,4}: ranks 1, 3(avg), 6(avg), 8 →
    // R_cur = 3+6+6+8 = 23 → u2 = 46 − 4·5 = 26; T = 48 →
    // z = 10/√(16·456/168) = 1.5174424…
    val df = (Seq(1L, 2L, 2L, 3L).map(("r", _)) ++
      Seq(2L, 3L, 3L, 4L).map(("c", _))).toDF("s", "v")
    val out = Relational.mannWhitneyReport(df, "s", "r", "v", 0d, 5d, 3)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getDouble(4))).toSeq
    assert(out == Seq(("c", 4L, 4L, 26L, 1.517442)))
    // identical constant samples: u2 = 2U = n₁·n₂ = 4, tie term exactly
    // N³−N → null z
    val tied = (Seq(5L, 5L).map(("r", _)) ++ Seq(5L, 5L).map(("c", _)))
      .toDF("s", "v")
    val t = Relational.mannWhitneyReport(tied, "s", "r", "v", 0d, 9d, 2)
      .collect().head
    assert(t.getLong(3) == 4L && t.isNullAt(4))
  }

  test("equiDepthBins: ANSI ntile split (first bins take the remainder), " +
      "per-bin count and value range") {
    import spark.implicits._
    val df = Seq(("g", 1L, 1), ("g", 2L, 2), ("g", 3L, 3), ("g", 4L, 4),
      ("g", 5L, 5), ("h", 7L, 1)).toDF("grp", "v", "tb")
    val out = Relational.equiDepthBins(df, Seq("grp"), "v", Seq("tb"), 2)
      .collect()
      .map(r => (r.getString(0), r.getInt(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    // g: 5 rows into 2 bins → ntile gives 3+2: [1,2,3] and [4,5]
    assert(out == Map(("g", 1) -> ((3L, 1L, 3L)), ("g", 2) -> ((2L, 4L, 5L)),
      ("h", 1) -> ((1L, 7L, 7L))))
  }

  test("correlationMatrix: exact ±1 goldens, constant column → null, " +
      "pairwise-complete n differs per pair on ragged nulls") {
    import spark.implicits._
    // b = 2a (rows 1-3, then null), c = 4 − a (all rows), d constant
    val df = Seq(
      (1L, Some(2L), 3L, 7L), (2L, Some(4L), 2L, 7L),
      (3L, Some(6L), 1L, 7L), (4L, None, 0L, 7L))
      .toDF("a", "b", "c", "d")
    val out = Relational.correlationMatrix(df, Seq("a", "b", "c", "d"))
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2),
          if (r.isNullAt(3)) None else Some(r.getDouble(3))))).toMap
    assert(out == Map(
      ("a", "b") -> ((3L, Some(1.0))), ("a", "c") -> ((4L, Some(-1.0))),
      ("a", "d") -> ((4L, None)), ("b", "c") -> ((3L, Some(-1.0))),
      ("b", "d") -> ((3L, None)), ("c", "d") -> ((4L, None))))
  }

  test("pmiReport: hand-computed nats on a 3-cell fixture; minCount " +
      "prunes cells, never marginals") {
    import spark.implicits._
    val df = Seq(("x", "1"), ("x", "1"), ("x", "2"), ("y", "2"))
      .toDF("s", "t")
    def m(minC: Long) = Relational.pmiReport(df, "s", "t", minC)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5)))).toMap
    assert(m(1L) == Map(
      ("x", "1") -> ((2L, 3L, 2L, 0.287682)),  // ln(2·4/(3·2))
      ("x", "2") -> ((1L, 3L, 2L, -0.405465)), // ln(1·4/(3·2))
      ("y", "2") -> ((1L, 1L, 2L, 0.693147)))) // ln(1·4/(1·2))
    // the (x,2)/(y,2) cells drop but n_b for the survivor is untouched
    assert(m(2L) == Map(("x", "1") -> ((2L, 3L, 2L, 0.287682))))
  }

  test("paretoFrontier2d: running-max rule matches brute-force dominance " +
      "(incl. same-x ties and duplicate points)") {
    import spark.implicits._
    val pts = Seq(("g", 1L, 5L), ("g", 2L, 4L), ("g", 2L, 4L),
      ("g", 2L, 5L), ("g", 3L, 1L), ("g", 3L, 2L), ("g", 1L, 1L),
      ("h", 1L, 1L))
    val out = Relational.paretoFrontier2d(pts.toDF("grp", "x", "y"),
      Seq("grp"), "x", "y")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSet
    // brute force over distinct points per group
    val want = pts.groupBy(p => (p._1, p._2, p._3))
      .map { case ((g, x, y), rows) => (g, x, y, rows.size.toLong) }
      .filter { case (g, x, y, _) => !pts.exists { case (g2, x2, y2) =>
        g2 == g && x2 >= x && y2 >= y && (x2 > x || y2 > y) } }.toSet
    assert(out == want)
    assert(want.map(t => (t._1, t._2, t._3)) ==
      Set(("g", 2L, 5L), ("g", 3L, 2L), ("h", 1L, 1L)))
  }

  test("theilSen: lower-median pairwise slope shrugs off the outlier " +
      "OLS would chase; equal-x pairs contribute no slope") {
    import spark.implicits._
    // y = 10x with a wild outlier at x=3, plus a duplicate-x pair
    val df = Seq(("g", 0L, 0L, 1L), ("g", 1L, 10L, 2L), ("g", 2L, 20L, 3L),
      ("g", 3L, 1000L, 4L), ("h", 2L, 20L, 5L), ("h", 2L, 40L, 6L),
      ("h", 0L, 0L, 7L), ("h", 1L, 10L, 8L))
      .toDF("grp", "x", "y", "tb")
    val out = Relational.theilSen(df, Seq("grp"), "x", "y", Seq("tb"))
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getDouble(2)))).toMap
    // g slopes sorted: 10,10,10,333.33…,495,980 → median idx (6+1) div 2 = 3
    assert(out("g") == ((6L, 10.0)))
    // h: the (2,20)-(2,40) pair is skipped → 5 pairs: 10,10,10,20,30
    assert(out("h") == ((5L, 10.0)))
  }

  test("cohenKappa: textbook 2x2 golden; disjoint categories score " +
      "zero; constant raters have no chance-corrected signal") {
    import spark.implicits._
    val cells = Seq(("yes", "yes", 20L), ("yes", "no", 5L),
      ("no", "yes", 10L), ("no", "no", 15L)).toDF("a", "b", "n")
    val r = Relational.cohenKappaFromCells(cells, "a", "b", "n")
      .collect().head
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
      r.getDouble(4)) == ((50L, 35L, 700000L, 500000L, 0.4)))
    // raw rating pairs → cells, as q208 aggregates them
    def kappa(pairs: Seq[(String, String)]) = Relational.cohenKappaFromCells(
      pairs.toDF("ra", "rb").groupBy(col("ra"), col("rb"))
        .agg(count(lit(1)).as("n")), "ra", "rb", "n").collect().head
    // rater B answers in a category A never uses → chance mass 0, κ = 0
    val disj = kappa(Seq(("a", "c"), ("a", "c")))
    assert(disj.getLong(1) == 0L && disj.getDouble(4) == 0.0)
    // both raters constant and agreeing: n² = Σ ma·mb → null κ
    val const = kappa(Seq(("x", "x"), ("x", "x"), ("x", "x")))
    assert(const.getLong(1) == 3L && const.isNullAt(4))
  }

  test("partialProfile slices merge to exactly the direct global " +
      "profile; hand-checked mean/stddev") {
    import spark.implicits._
    val df = Seq(("s1", Some(1L), Some(7L)), ("s1", Some(2L), None),
      ("s2", Some(3L), Some(9L)), ("s2", Some(4L), Some(11L)),
      ("s2", None, Some(13L))).toDF("src", "a", "b")
    def canon(d: org.apache.spark.sql.DataFrame) = d.collect()
      .map(r => r.getString(0) -> r.toSeq.drop(1)).sortBy(_._1).toSeq
    val merged = canon(Relational.mergeProfiles(
      Relational.partialProfile(df, Seq("src"), Seq("a", "b"))))
    val direct = canon(Relational.mergeProfiles(
      Relational.partialProfile(df, Seq(), Seq("a", "b"))))
    assert(merged == direct)
    val a = merged.toMap.apply("a")
    // a = {1,2,3,4}: mean 2.5, population stddev √(4·30−100)/4 = 1.118034
    assert(a == Seq(4L, 1L, 10L, 1L, 4L, 2.5, 1.118034))
  }

  test("fdViolations: only keys mapping to >1 distinct rhs surface; " +
      "null lhs excluded, null rhs ignored by the distinct count") {
    import spark.implicits._
    val df = Seq(
      (Some("k1"), Some("a")), (Some("k1"), Some("a")),   // valid key
      (Some("k2"), Some("a")), (Some("k2"), Some("b")),   // violation
      (Some("k3"), Some("x")), (Some("k3"), None),        // null rhs inert
      (None, Some("a")), (None, Some("b"))                // null lhs out
    ).toDF("lhs", "rhs")
    val out = Relational.fdViolations(df, Seq("lhs"), "rhs")
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2)))).toMap
    assert(out == Map("k2" -> ((2L, 2L))))
  }

  test("categoricalEntropy: uniform is ln k, constant is +0.0 (not -0.0), " +
      "3:1 split matches the hand value, nulls excluded") {
    import spark.implicits._
    val df = (Seq("w", "x", "y", "z").map(("u1", _)) ++
      Seq(("u2", "w"), ("u2", "w"), ("u2", null)) ++
      (Seq("w", "w", "w", "x").map(("u3", _)))).toDF("k", "c")
    val out = graft.engine.Relational.categoricalEntropy(df, Seq("k"), "c")
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(out("u1") == ((4L, 4L, 1.386294)))
    assert(out("u2") == ((1L, 2L, 0.0)))
    assert(java.lang.Double.doubleToRawLongBits(out("u2")._3) == 0L)
    assert(out("u3") == ((2L, 4L, 0.562335)))
  }
}

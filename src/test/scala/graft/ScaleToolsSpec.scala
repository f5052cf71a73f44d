package graft

import java.sql.Timestamp
import org.apache.spark.sql.functions._
import graft.engine.Joins
import graft.llm.Multimodal

/** Scale-path tooling: salted skew join, layout keys, the join family,
  * multimodal metadata and the graph/sketch operators at scale.
  */
class ScaleToolsSpec extends SparkSpec {

  test("saltedEquiJoin equals the plain equi-join result") {
    import spark.implicits._
    // heavily skewed fact: 90% of rows share key 1
    val fact = ((1 to 90).map(i => (1L, i.toDouble)) ++
      (1 to 10).map(i => (2L, i.toDouble))).toDF("k", "v")
    val side = Seq((1L, "hot"), (2L, "cold"), (3L, "unmatched"))
      .toDF("k", "label")
    val plain = fact.join(side, Seq("k")).orderBy("k", "v")
      .collect().map(_.toSeq).toSeq
    val salted = Joins.saltedEquiJoin(fact, side, Seq("k"), buckets = 8)
      .orderBy("k", "v").collect().map(_.toSeq).toSeq
    assert(salted == plain)
    assert(salted.size == 100)
    // determinism: same input → same salt → same result on re-run
    val again = Joins.saltedEquiJoin(fact, side, Seq("k"), buckets = 8)
      .orderBy("k", "v").collect().map(_.toSeq).toSeq
    assert(again == salted)
  }

  test("saltedEquiJoin engages under a pathological hot key: the shuffle " +
      "partitions on (key, salt) and the hot key fans out across buckets") {
    import spark.implicits._
    val buckets = 16
    // bench-scale skew: one key holds 50k of 55k rows — the shape where
    // an unsalted shuffle serializes through one reducer
    val fact = spark.range(0, 55000L)
      .select(when(col("id") < 50000L, 1L).otherwise(col("id") % 500L)
        .as("k"), col("id").as("v"))
    val side = (0L until 500L).map(k => (k, s"lab$k")).toDF("k", "label")
    // salting targets the side-too-big-to-broadcast regime; force the
    // shuffle path so the spec pins the exchange layout (with a small
    // fixture side Spark would just broadcast it and shuffle nothing)
    val prevThresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = Joins.saltedEquiJoin(fact, side, Seq("k"), buckets)
      // the exchange must cluster on (k, __salt), not k alone — that IS
      // the skew engagement: the hot key's rows land on `buckets`
      // reducers instead of one
      val phys = joined.queryExecution.executedPlan.toString
      assert(phys.contains("hashpartitioning(k#") &&
        phys.contains("__salt"), phys)
      // data-level fan-out: recompute the deterministic salt the
      // operator assigns and check the hot key spreads over most buckets
      val hotSalts = fact.filter(col("k") === 1L)
        .withColumn("__salt",
          pmod(xxhash64(col("k"), col("v")), lit(buckets)).cast("int"))
        .select("__salt").distinct().count()
      assert(hotSalts >= buckets - 2, s"hot key used only $hotSalts buckets")
      // correctness at this scale without collecting 55k rows: row count
      // and an order-insensitive checksum must equal the plain join's
      def sig(df: org.apache.spark.sql.DataFrame) =
        df.agg(count(lit(1)),
          bit_xor(xxhash64(col("k"), col("v"), col("label"))))
          .collect()(0).toSeq
      assert(sig(joined) == sig(fact.join(side, Seq("k"))))
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold",
      prevThresh)
  }

  test("zorderKey round-trips: de-interleaving recovers both coordinates") {
    import spark.implicits._
    import graft.engine.Layout
    val rnd = new scala.util.Random(7)
    val pts = (1 to 300).map(_ =>
      (rnd.nextInt(1 << 16).toLong, rnd.nextInt(1 << 16).toLong))
    val zs = pts.toDF("x", "y")
      .select(col("x"), col("y"), Layout.zorderKey(col("x"), col("y"), 16))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    def unshuffle(z: Long, off: Int): Long =
      (0 until 16).map(k => ((z >>> (2 * k + off)) & 1L) << k).reduce(_ | _)
    zs.foreach { case (x, y, z) =>
      assert(unshuffle(z, 0) == x && unshuffle(z, 1) == y, s"($x,$y)->$z")
    }
  }

  test("writeJsonl: range shards are disjoint key tiles, read round-trips") {
    import spark.implicits._
    import graft.engine.Sinks
    val dir = s"${sys.props("java.io.tmpdir")}/graft_sink/jsonl_spec"
    val df = (1 to 100).map(i => (i.toLong, s"doc $i")).toDF("id", "text")
    Sinks.writeJsonl(df, dir, shardOn = Some(("id", 4)))
    val back = Sinks.readJsonl(spark, dir, "id BIGINT, text STRING")
    assert(back.collect().map(r => (r.getLong(0), r.getString(1))).toSet ==
      (1 to 100).map(i => (i.toLong, s"doc $i")).toSet)
    // each shard file covers one contiguous, disjoint key range
    val ranges = back.select(input_file_name().as("f"), col("id"))
      .groupBy("f").agg(min("id").as("lo"), max("id").as("hi"))
      .collect().map(r => (r.getLong(1), r.getLong(2))).sortBy(_._1)
    assert(ranges.length == 4)
    ranges.sliding(2).foreach {
      case Array((_, hi1), (lo2, _)) => assert(hi1 < lo2)
      case _ =>
    }
  }

  test("readPartitioned: a numeric-looking string partition keeps its " +
      "written type") {
    import spark.implicits._
    import graft.engine.Sinks
    val dir = s"${sys.props("java.io.tmpdir")}/graft_sink/partitioned_spec"
    val df = Seq((1L, "01"), (2L, "2"), (3L, "10")).toDF("k", "region")
    Sinks.writePartitioned(df, dir, Seq("region"))
    val back = Sinks.readPartitioned(spark, dir, df.schema)
    assert(back.schema.simpleString == "struct<k:bigint,region:string>")
    assert(back.as[(Long, String)].collect().toSet ==
      Set((1L, "01"), (2L, "2"), (3L, "10")))
  }

  test("nearestSpatialJoin: argmin matches brute force, radius respected") {
    import spark.implicits._
    import graft.engine.Geometry
    val pts = Seq((1L, 10.0, 10.0), (2L, 10.0, 14.0), (3L, 45.0, 45.0))
      .toDF("pid", "plat", "plon")
    val sites = Seq((100L, 10.0, 10.5), (200L, 10.0, 13.0),
      (300L, 0.0, 0.0)).toDF("sid", "slat", "slon")
    val got = Joins.nearestSpatialJoin(pts, sites, Seq("pid"),
      "plat", "plon", "sid", "slat", "slon",
      maxKm = 300.0, cellDeg = 300.0 / 70).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    // brute force over the same rounded metric
    val brute = pts.crossJoin(sites)
      .withColumn("d", round(Geometry.haversineKm(col("plat"), col("plon"),
        col("slat"), col("slon")), 6))
      .filter(col("d") <= 300.0)
      .withColumn("rk", row_number().over(org.apache.spark.sql.expressions
        .Window.partitionBy("pid").orderBy(col("d"), col("sid"))))
      .filter(col("rk") === 1)
      .collect().map(r => r.getLong(0) -> ((r.getLong(3), r.getDouble(6))))
      .toMap
    assert(got == brute)
    assert(got(1L)._1 == 100L && got(2L)._1 == 200L)
    assert(!got.contains(3L)) // nothing within 300 km
  }

  test("temporalLookup: facts pick the covering SCD-2 interval") {
    import spark.implicits._
    import java.sql.Timestamp
    def t(h: Int) = Timestamp.valueOf(f"2024-01-01 $h%02d:00:00")
    // dim: state x from t1, y from t4 (scd2 shape: key, valid_from, attr)
    val dim = Seq(("u", t(1), "x"), ("u", t(4), "y"))
      .toDF("k", "valid_from", "state")
    val fact = Seq(("u", t(0), 1L), ("u", t(1), 2L), ("u", t(3), 3L),
      ("u", t(4), 4L), ("u", t(9), 5L)).toDF("k", "ts", "fid")
    val out = Joins.temporalLookup(fact, dim, "k", "ts", "valid_from",
      Seq("state")).collect()
      .map(r => r.getLong(2) -> r.getString(4)).toMap
    assert(out == Map(1L -> null, // before first interval
      2L -> "x", 3L -> "x",       // valid_from inclusive, interior
      4L -> "y", 5L -> "y"))      // boundary switches atomically
  }

  test("bandJoin: equals the naive band filter, plans an equi-join") {
    import spark.implicits._
    val l = Seq((1L, 10.0), (2L, 55.0), (3L, 200.0)).toDF("lid", "lv")
    val r = Seq((7L, 12.0), (8L, 49.9), (9L, 120.0), (10L, -80.0))
      .toDF("rid", "rv")
    val got = Joins.bandJoin(l, r, "lv", "rv", eps = 10.0)
      .select("lid", "rid").collect().map(x => (x.getLong(0), x.getLong(1)))
      .toSet
    val want = l.crossJoin(r).filter(abs(col("lv") - col("rv")) <= 10.0)
      .select("lid", "rid").collect().map(x => (x.getLong(0), x.getLong(1)))
      .toSet
    assert(got == want && got == Set((1L, 7L), (2L, 8L)))
    // the point of the cell bucketing: a hash/sort-merge EQUI-join, not a
    // nested-loop cross product
    val exec = Joins.bandJoin(l, r, "lv", "rv", 10.0)
      .queryExecution.executedPlan.toString
    assert(!exec.contains("CartesianProduct"), exec)
  }

  test("revenueByRegionMonth: exact cents rollup, dims-only broadcast") {
    import spark.implicits._
    import java.sql.Timestamp
    val li = Seq((1L, 10.00, 0.05), (1L, 20.00, 0.00), (2L, 5.00, 0.10))
      .toDF("l_orderkey", "l_extendedprice", "l_discount")
    val ord = Seq((1L, 7L, Timestamp.valueOf("2024-03-15 00:00:00")),
      (2L, 8L, Timestamp.valueOf("2024-04-02 00:00:00")))
      .toDF("o_orderkey", "o_custkey", "o_orderdate")
    val cust = Seq((7L, 70L), (8L, 71L)).toDF("c_custkey", "c_nationkey")
    val nat = Seq((70L, 700L), (71L, 700L))
      .toDF("n_nationkey", "n_regionkey")
    val reg = Seq((700L, "amer")).toDF("r_regionkey", "r_name")
    val out = graft.engine.Pipeline
      .revenueByRegionMonth(li, ord, cust, nat, reg)
    val rows = out.collect().map(r => r.getTimestamp(1).toString.take(7) ->
      ((r.getDouble(2), r.getLong(3)))).toMap
    assert(rows("2024-03") == ((29.5, 2L))) // 10·0.95 + 20·1.00
    assert(rows("2024-04") == ((4.5, 1L)))  // 5·0.90
    // the code hints exactly two broadcasts (nation, region) — customer is
    // fact-sized at scale and must be left to AQE's measured decision
    val hints = out.queryExecution.analyzed.collect {
      case h: org.apache.spark.sql.catalyst.plans.logical.ResolvedHint => h
    }
    assert(hints.size == 2, s"expected 2 dim broadcast hints, got $hints")
  }

  test("zorderKey: bit-interleave golden, layout yields disjoint z ranges") {
    import spark.implicits._
    import graft.engine.Layout
    // x=3 (011) on even bits → 1+4; y=5 (101) on odd bits → 2+32
    val z = Seq((3L, 5L)).toDF("x", "y")
      .select(Layout.zorderKey(col("x"), col("y"), 3)).head().getLong(0)
    assert(z == 39L)
    // the write layout the key is for: range-partition on it into 8
    // files, sorted within each
    val grid = (0 until 32).flatMap(x => (0 until 32).map(y =>
      (x.toLong, y.toLong))).toDF("x", "y")
    val laid = grid
      .withColumn("__zkey", Layout.zorderKey(col("x"), col("y"), 5))
      .repartitionByRange(8, col("__zkey")).sortWithinPartitions("__zkey")
    val ranges = laid
      .select(spark_partition_id().as("p"), col("__zkey"))
      .groupBy("p").agg(min("__zkey").as("lo"), max("__zkey").as("hi"))
      .collect().map(r => (r.getLong(1), r.getLong(2))).sortBy(_._1)
    // range partitioning on the curve key → per-file key ranges disjoint,
    // i.e. each output file is one compact curve segment (tight 2-D tile)
    ranges.sliding(2).foreach {
      case Array((_, hi1), (lo2, _)) => assert(hi1 < lo2)
      case _ =>
    }
    assert(ranges.length > 1 && ranges.map(_._1).head == 0L)
  }

  test("asOfJoin: equal-ts inclusivity, null-payload stop, tolerance") {
    import spark.implicits._
    def t(m: Int) = Timestamp.valueOf(f"2024-01-01 ${10 + m / 60}%02d:${m % 60}%02d:00")
    val right = Seq((1L, t(0), Some(1.0)), (1L, t(10), None),
      (1L, t(20), Some(3.0))).toDF("k", "ts", "pay")
    val left = Seq((1L, t(5), "a"), (1L, t(10), "b"), (1L, t(15), "c"),
      (1L, t(25), "d"), (1L, t(200), "e"), (2L, t(0), "f"))
      .toDF("k", "ts", "tag")
    val out = Joins.asOfJoin(left, right, "k", "ts", Seq("pay"),
      tolerance = Some(expr("INTERVAL '1' HOUR")))
      .select(col("tag"), col("asof_ts"), col("asof_pay"))
      .collect().map(r => r.getString(0) -> (r.get(1), r.get(2))).toMap
    assert(out("a") == (t(0), 1.0))        // plain at-or-before match
    assert(out("b") == (t(10), null))      // EQUAL ts: right row visible...
    // ...and its null payload FIELD still wins (atomic struct match — a
    // bare-column fill would reach past it to t(0)'s 1.0)
    assert(out("c") == (t(10), null))
    assert(out("d") == (t(20), 3.0))       // latest wins over older rows
    assert(out("e") == (null, null))       // match older than tolerance
    assert(out("f") == (null, null))       // key never seen on the right
  }

  test("intervalJoin: bounds inclusive, key-scoped, empty interval rejected") {
    import spark.implicits._
    def t(m: Int) = Timestamp.valueOf(f"2024-01-01 10:$m%02d:00")
    val l = Seq((1L, t(0), "a"), (1L, t(30), "b"), (2L, t(0), "c"))
      .toDF("k", "lts", "ltag")
    val r = Seq((1L, t(0), "p"), (1L, t(10), "q"), (1L, t(11), "x"),
      (2L, t(5), "y"), (3L, t(0), "z")).toDF("k", "rts", "rtag")
    val out = Joins.intervalJoin(l, r, "k", "lts", "rts",
      lowerMs = 0L, upperMs = 10 * 60 * 1000L)
      .select(col("ltag"), col("r_rtag")).collect()
      .map(x => (x.getString(0), x.getString(1))).toSet
    // both interval ends inclusive; t(11) excluded; keys never cross
    assert(out == Set(("a", "p"), ("a", "q"), ("c", "y")))
    // negative lower bound reaches backward
    val back = Joins.intervalJoin(l, r, "k", "lts", "rts",
      lowerMs = -5 * 60 * 1000L, upperMs = 0L)
      .select(col("ltag"), col("r_rtag")).collect()
      .map(x => (x.getString(0), x.getString(1))).toSet
    assert(back == Set(("a", "p")))
    intercept[IllegalArgumentException] {
      Joins.intervalJoin(l, r, "k", "lts", "rts", 10L, 0L)
    }
  }

  test("batch sessionize: a gap over the threshold opens a new session") {
    val sp = spark
    import sp.implicits._
    def t(m: Int) = Timestamp.valueOf(f"2024-01-01 ${10 + m / 60}%02d:${m % 60}%02d:00")
    val df = Seq((1L, t(0), 1.0), (1L, t(2), 2.0), (1L, t(30), 5.0),
      (1L, t(95), 7.0), (2L, t(5), 7.0), (2L, t(12), 1.0))
      .toDF("user_id", "ts", "value")
    val sessions = graft.engine.Windows.sessionize(df, "user_id", "ts",
      expr("INTERVAL '10' MINUTE"))
      .groupBy(col("user_id"), col("session_idx"))
      .agg(min(col("ts")).as("start"), max(col("ts")).as("end"),
        count(lit(1)).as("n"), sum(col("value")).as("sum"))
      .select(col("user_id"), col("start"), col("end"), col("n"), col("sum"))
      .as[(Long, Timestamp, Timestamp, Long, Double)].collect().toSet
    assert(sessions == Set((1L, t(0), t(2), 2L, 3.0),
      (1L, t(30), t(30), 1L, 5.0), (1L, t(95), t(95), 1L, 7.0),
      (2L, t(5), t(12), 2L, 8.0)))
  }

  test("multimodal metadata derives deterministically from the seed") {
    import spark.implicits._
    val row = Seq("payload-bytes").toDF("text")
      .withColumn("mm", Multimodal.attach(col("text").cast("binary"),
        lit("image"), lit(1000L)))
      .select(col("mm.meta.width"), col("mm.meta.height"),
        col("mm.meta.n_frames"), col("mm.meta.byte_len")).collect()(0)
    assert(row.getInt(0) == 1000 % 1280 + 64)
    assert(row.getInt(1) == 1000 % 720 + 64)
    assert(row.getInt(2) == 1000 % 240 + 1)
    assert(row.getLong(3) == "payload-bytes".length)
  }

  test("bloomPrunedJoin ≡ plain join; the pre-join filter actually prunes") {
    import spark.implicits._
    val fact = (1L to 2000L).map(i => (i % 500, s"f$i")).toDF("k", "fv")
    val dim = Seq((3L, "a"), (7L, "b"), (480L, "c"), (999L, "never"))
      .toDF("k", "dv")
    val got = Joins.bloomPrunedJoin(fact, dim, "k", mBits = 1 << 10)
    val want = fact.join(dim, Seq("k"))
    assert(got.collect().map(_.toString).sorted.toSeq ==
      want.collect().map(_.toString).sorted.toSeq)
    // the membership test is nHashes broadcast left-joins against the
    // packed words RELATION (no driver collect, no plan literal): the
    // physical plan must carry 3 probe joins + the final equi-join, all
    // broadcast (the words side is mBits/64 rows, the dim is tiny), and
    // the fact side must not exchange before the probes.
    // (the words AGGREGATE itself may shuffle — it is dim-sized; what
    // must not happen is a fact-side exchange, which would show as a
    // SortMergeJoin or ShuffledHashJoin probe instead of broadcast)
    val phys = got.queryExecution.executedPlan.toString
    assert("BroadcastHashJoin".r.findAllIn(phys).length >= 4, phys)
    assert(!phys.contains("SortMergeJoin") &&
      !phys.contains("ShuffledHashJoin"), phys)
    assert(phys.contains("ReusedExchange"), phys)
    // prune power, read off the executed probe filters: the last one
    // passes every fact row of the 3 dim keys present (4 rows each — no
    // false negatives, the Bloom guarantee the oracle relies on), and of
    // the 497 non-dim fact keys only a small fp tail leaks (1024 bits /
    // 3 hashes / 4 keys → fp ≈ 0.2%; allow ≤ 25 keys)
    object Plans
        extends org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    val probeRows = Plans.collect(got.queryExecution.executedPlan) {
      case f: org.apache.spark.sql.execution.FilterExec
          if f.condition.references.exists(_.name.startsWith("__bb")) =>
        f.metrics("numOutputRows").value
    }
    assert(probeRows.size == 3, phys)
    assert(probeRows.min >= 3 * 4 && probeRows.min <= (3 + 25) * 4,
      probeRows)
  }

  test("pageRankPpm matches a driver-side integer reference on a random graph") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val edges = Seq.fill(80)((s"n${rnd.nextInt(25)}", s"n${rnd.nextInt(25)}"))
      .distinct
    val got = graft.engine.Graph.pageRankPpm(edges.toDF("s", "t"), "s", "t",
      iters = 3).collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // independent reference: same integer recurrence over Scala Maps
    val nodes = (edges.map(_._1) ++ edges.map(_._2)).distinct
    val outdeg = edges.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    var rank = nodes.map(_ -> 1000000L).toMap
    for (_ <- 1 to 3) {
      val in = edges.groupBy(_._2).view.mapValues(
        _.map { case (s, _) => rank(s) / outdeg(s) }.sum).toMap
      rank = nodes.map(n =>
        n -> (150000L + 85L * in.getOrElse(n, 0L) / 100L)).toMap
    }
    assert(got == rank)
  }

  test("pageRankPpm: hand-computed 3-node golden, integer-exact") {
    import spark.implicits._
    val e = Seq(("a", "b"), ("a", "c"), ("b", "a")).toDF("s", "t")
    val out = graft.engine.Graph.pageRankPpm(e, "s", "t", iters = 3)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // r1: a=1000000, b=c=575000; r2: a=638750, b=c=575000;
    // r3: a=638750, b=c=150000+(85*319375)DIV 100=421468 (floor, exact)
    assert(out == Map("a" -> 638750L, "b" -> 421468L, "c" -> 421468L))
  }

  test("triangleCounts: K4 minus an edge, dupes/loops/direction ignored") {
    import spark.implicits._
    // K4 on {a,b,c,d} minus edge (c,d): triangles abc and abd only.
    // Reversed duplicates, a self-loop, and a repeat must not change it.
    val e = Seq(("a", "b"), ("a", "c"), ("a", "d"), ("b", "c"), ("d", "b"),
      ("c", "a"), ("b", "b"), ("a", "b")).toDF("s", "t")
    val got = graft.engine.Graph.triangleCounts(e, "s", "t")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == Map("a" -> 2L, "b" -> 2L, "c" -> 1L, "d" -> 1L))
  }

  test("triangleCounts matches a brute-force reference on a random graph") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val edges = Seq.fill(120)((s"n${rnd.nextInt(20)}", s"n${rnd.nextInt(20)}"))
    val got = graft.engine.Graph.triangleCounts(edges.toDF("s", "t"), "s", "t")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val und = edges.map { case (a, b) => if (a < b) (a, b) else (b, a) }
      .filter { case (a, b) => a != b }.distinct.toSet
    val nodes = und.flatMap { case (a, b) => Seq(a, b) }.toSeq.sorted
    val ref = (for {
      a <- nodes; b <- nodes if a < b && und((a, b))
      c <- nodes if b < c && und((b, c)) && und((a, c))
      n <- Seq(a, b, c)
    } yield n).groupBy(identity).view.mapValues(_.size.toLong).toMap
    assert(got == ref)
  }

  test("kCorePeel: cascading pendant chain peels layer-by-layer; " +
      "triangle survives as the 2-core with exact final degrees") {
    import spark.implicits._
    // triangle {x,y,z} + pendant chain x-p-q (reversed dupe included)
    val e = Seq(("x", "y"), ("y", "z"), ("z", "x"), ("x", "p"), ("p", "q"),
      ("y", "x")).toDF("s", "t")
    def peel(rounds: Int) =
      graft.engine.Graph.kCorePeel(e, "s", "t", k = 2, rounds = rounds)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // round 1 drops q (deg 1) only — p still stands on the x edge
    assert(peel(1) == Map("x" -> 3L, "y" -> 2L, "z" -> 2L, "p" -> 1L))
    // round 2 drops p; rounds past the fixpoint are no-ops
    val core = Map("x" -> 2L, "y" -> 2L, "z" -> 2L)
    assert(peel(2) == core && peel(4) == core)
    // k above the max degree empties the graph
    assert(graft.engine.Graph.kCorePeel(e, "s", "t", k = 4, rounds = 2)
      .count() == 0L)
  }

  test("labelPropagation: labels reach hop-r distance, majority wins, " +
      "ties take the smaller label, seeds are clamped") {
    import spark.implicits._
    // chain a-b-c-d plus x with three labeled neighbors (1, 2, 2) and
    // y with a tie (1, 2); seed s3 is itself adjacent to the 2s
    val e = Seq(("a", "b"), ("b", "c"), ("c", "d"),
      ("s1", "x"), ("s2", "x"), ("s3", "x"),
      ("s1", "y"), ("s2", "y")).toDF("s", "t")
    val seeds = Seq(("a", 1L), ("s1", 1L), ("s2", 2L), ("s3", 2L))
      .toDF("node", "label")
    def run(r: Int) = graft.engine.Graph.labelPropagation(
        e, "s", "t", seeds, "node", "label", rounds = r)
      .collect().map(rw => rw.getString(0) -> rw.getLong(1)).toMap
    val r1 = run(1)
    assert(r1("b") == 1L && !r1.contains("c") && !r1.contains("d"))
    assert(r1("x") == 2L) // majority 2 over 1
    assert(r1("y") == 1L) // 1-1 tie → smaller label
    assert(r1("s1") == 1L && r1("s3") == 2L) // clamped
    val r2 = run(2)
    assert(r2("c") == 1L && !r2.contains("d"))
  }

  test("neighborJaccard: 4-cycle opposite corners score exactly 1, " +
      "a pendant dilutes its endpoint, minCommon prunes") {
    import spark.implicits._
    val cyc = Seq(("a", "b"), ("b", "c"), ("c", "d"), ("d", "a"))
    def run(extra: Seq[(String, String)]) =
      graft.engine.Graph.neighborJaccard((cyc ++ extra).toDF("s", "t"),
        "s", "t", minCommon = 2).collect()
        .map(r => (r.getString(0), r.getString(1)) ->
          ((r.getLong(2), r.getDouble(3)))).toMap
    // a,c share {b,d}; b,d share {a,c}; all degrees 2 → J = 1
    assert(run(Nil) == Map(("a", "c") -> ((2L, 1.0)),
      ("b", "d") -> ((2L, 1.0))))
    // pendant e on a: deg(a)=3 → J(a,c) = 2/(3+2-2) = 2/3
    assert(run(Seq(("a", "e")))(("a", "c")) == ((2L, 0.666667)))
  }

  test("blockedFuzzyJoin: in-block typos verify by distance, " +
      "block-key-changing typos escape (the documented trade-off)") {
    import spark.implicits._
    val master = Seq("anna", "bob", "carol").toDF("name")
    // anxa: middle sub (caught); bxb: middle sub (caught); xnna: FIRST
    // char sub — dist 1 but the (first-char, length) block key changed;
    // dave: unrelated
    val dirty = Seq("anxa", "bxb", "xnna", "dave").toDF("dirty")
    val out = graft.engine.Joins.blockedFuzzyJoin(master, dirty,
        "name", "dirty",
        n => Seq(length(n), substring(n, 1, 1)), maxDist = 1)
      .collect().map(r => (r.getString(0), r.getString(1), r.getInt(2)))
    assert(out.toSet == Set(("anna", "anxa", 1), ("bob", "bxb", 1)))
  }

  test("degreeHistogram: star graph gives one hub and n leaves") {
    import spark.implicits._
    val e = (1 to 5).map(i => ("hub", s"leaf$i")).toDF("s", "t")
    val got = graft.engine.Graph.degreeHistogram(e, "s", "t")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 5L, 5L -> 1L))
  }

  test("bfsHops: min-hop labels on a diamond-with-tail, capped at maxHops") {
    import spark.implicits._
    // s→a, s→b, a→c, b→c, c→d, d→e; seed {s}: e is at hop 4 > cap 3.
    val e = Seq(("s", "a"), ("s", "b"), ("a", "c"), ("b", "c"), ("c", "d"),
      ("d", "e")).toDF("x", "y")
    val seeds = Seq("s").toDF("id")
    val got = graft.engine.Graph.bfsHops(e, "x", "y", seeds, "id", 3)
      .collect().map(r => r.getString(0) -> r.getInt(1)).toMap
    assert(got == Map("s" -> 0, "a" -> 1, "b" -> 1, "c" -> 2, "d" -> 3))
  }

  test("connectedComponents: min-node labels across chains, cycles, and " +
      "disjoint components; null-endpoint edges dropped") {
    import spark.implicits._
    // comp {a,b,c,d} (chain + cycle back-edge), comp {x,y}; null edge noise
    val e = Seq(Some("a") -> Some("b"), Some("b") -> Some("c"),
      Some("c") -> Some("a"), Some("c") -> Some("d"),
      Some("x") -> Some("y"), None -> Some("z"), Some("z") -> None)
      .map { case (s, t) => (s.orNull, t.orNull) }.toDF("s", "t")
    val got = graft.engine.Graph.connectedComponents(e, "s", "t")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(got == Map("a" -> "a", "b" -> "a", "c" -> "a", "d" -> "a",
      "x" -> "x", "y" -> "x"))
  }

  test("linearCountDistinct: occupancy and estimate match a driver-side " +
      "reference; saturated sketch estimates null") {
    import spark.implicits._
    def ph(s: String): Long =
      s.foldLeft(0L)((a, c) => (a * 31 + c.toLong) % 1000000007L)
    val m = 64
    val vals = (1 to 300).map(i => ("g", s"u${i % 90}")) ++
      (1 to 5).map(i => ("h", s"u$i"))
    val got = graft.engine.Sketches.linearCountDistinct(
      vals.toDF("grp", "v"), Seq("grp"), "v", m)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), if (r.isNullAt(2)) None else Some(r.getLong(2)))))
      .toMap
    val ref = vals.distinct.groupBy(_._1).view.mapValues { vs =>
      val occ = vs.map(v => ph(v._2) % m).distinct.size.toLong
      val est = if (occ < m)
        Some(math.round(m.toDouble * math.log(m.toDouble / (m - occ))))
      else None
      (occ, est)
    }.toMap
    assert(got == ref)
    // saturate: 500 distinct values into 4 buckets → occupied=4, est null
    val sat = graft.engine.Sketches.linearCountDistinct(
      (1 to 500).map(i => ("g", s"x$i")).toDF("grp", "v"), Seq("grp"), "v", 4)
      .collect()
    assert(sat.head.getLong(1) == 4L && sat.head.isNullAt(2))
  }

  test("bfsHops: a seed on a cycle keeps hop 0 (min wins over re-reach)") {
    import spark.implicits._
    val e = Seq(("a", "b"), ("b", "a")).toDF("x", "y")
    val got = graft.engine.Graph.bfsHops(e, "x", "y", Seq("a").toDF("id"),
      "id", 3).collect().map(r => r.getString(0) -> r.getInt(1)).toMap
    assert(got == Map("a" -> 0, "b" -> 1))
  }

  test("cmsTopK: estimates match a driver-side sketch rebuilt from the " +
      "same polyhash, est >= exact count always, rank is (est DESC, key)") {
    import spark.implicits._
    val d = 4; val w = 64
    val keys = ('a' to 'p').map(_.toString)
    val counts = keys.zipWithIndex.map { case (k, i) => k -> (i + 1L) }
    val rows = counts.flatMap { case (k, n) => Seq.fill(n.toInt)(k) }
    val out = graft.engine.Sketches.cmsTopK(rows.toDF("k"), "k",
      d = d, w = w, k = 100)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getInt(3)))
    // driver-side reference sketch under the identical hash
    import org.apache.spark.unsafe.types.UTF8String
    def bucket(row: Int, key: String): Long = {
      val h = graft.functions.PolyHash.hash(
        UTF8String.fromString(s"$row#$key"))
      ((h % w) + w) % w
    }
    val btot = (0 until d).map { r =>
      counts.groupBy { case (k, _) => bucket(r, k) }
        .map { case (b, ks) => b -> ks.map(_._2).sum }
    }
    val wantEst = counts.map { case (k, _) =>
      k -> (0 until d).map(r => btot(r)(bucket(r, k))).min }.toMap
    val exact = counts.toMap
    assert(out.length == keys.size)
    out.foreach { case (k, n, est, _) =>
      assert(n == exact(k) && est == wantEst(k) && est >= n) }
    val ordered = out.sortBy(_._4)
    assert(ordered.map(t => (t._1, t._3)).toSeq ==
      out.sortBy(t => (-t._3, t._1)).map(t => (t._1, t._3)).toSeq)
  }
}

package graft

/** Driver-run benchmark: every SparkEntry.queries entry, timed by a full
  * noop-write materialization, over SPARK_GRAFT_SF_DIR.
  *
  * Protocol: the registry is run SPARK_GRAFT_BENCH_RUNS times (default 3)
  * in interleaved full passes — pass 1 of every query, then pass 2, then
  * pass 3 — so a transient host-contention window inflates at most one
  * sample per query instead of a whole family. Per-query time is the
  * MEDIAN of its samples (single-run numbers on this box swing up to
  * 7.6x on unchanged code; see VERDICT r9). The full per-query medians +
  * [min,max] spread go to bench_result.json; stdout's final line is a
  * COMPACT summary (< 2 kB) because the driver only captures the last
  * 2000 characters of stdout — a 300-query map decapitates the line and
  * the round's BENCH artifact records parsed:null (r8, r9).
  *
  * Each query pass is one [[Run]]: bench_result.json also lists every
  * pass's [[Run.Record]] (`records`: jobs, stages, top stages by task
  * time, pins, memo hits …) and the passes that failed (`failed_passes`).
  * The main exits 1, after printing its line, when any pass failed.
  */
object Bench {
  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    val n = s.length
    if (n == 0) -1.0
    else if (n % 2 == 1) s(n / 2)
    else (s(n / 2 - 1) + s(n / 2)) / 2.0
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val runs = math.max(1,
      sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "3").toInt)
    // Optional subset filter for scale spot-checks (comma-separated
    // name prefixes); the driver sets nothing, so its runs stay full.
    val names = Harness.select(sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .fold(Seq.empty[String])(_.split(',').toSeq))
    val spark = Harness.session()
    val cpus = spark.sparkContext.defaultParallelism
    Harness.warm(spark, sfDir)
    // Calibration probes (r13, VERDICT #7): three fixed micro-workloads
    // — pure CPU (synthetic range + hash arithmetic), pure shuffle
    // (synthetic keyed aggregate), pure scan (the largest input table)
    // — timed median-of-3 each run, so cross-round per-query deltas can
    // be read against the box's speed THAT run instead of assuming a
    // constant machine (measured same-day drift on this box: ±15-20%,
    // r12 verdict). Synthetic inputs: nothing cached, nothing keyed on
    // the test data; reported in a separate `calibration` field — NOT
    // added to `queries`/`value`, so totals stay comparable.
    import org.apache.spark.sql.functions.{col, lit, xxhash64, pmod,
      count => fcount, sum => fsum}
    def cal(f: => Unit): Double = {
      val ts = (1 to 3).map { _ =>
        val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9 }
      median(ts)
    }
    // shiftright keeps each term within 2³², so the 48M-row ANSI sum
    // cannot overflow int64
    import org.apache.spark.sql.functions.shiftright
    val calCpu = cal(spark.range(0, 192L * 1000 * 1000, 1, cpus)
      .select(fsum(shiftright(xxhash64(col("id")), 32) +
        shiftright(xxhash64(col("id"), lit(1)), 32)))
      .write.format("noop").mode("overwrite").save())
    val calShuffle = cal(spark.range(0, 4L * 1000 * 1000, 1, cpus)
      .groupBy(pmod(xxhash64(col("id")), lit(100000)).as("k"))
      .agg(fcount(lit(1)).as("n"))
      .write.format("noop").mode("overwrite").save())
    val calScan = cal(Harness.scan(spark, sfDir, "lineitem"))
    val records = Vector.newBuilder[Run.Record]
    val passTotals = scala.collection.mutable.ArrayBuffer.empty[Double]
    for (pass <- 1 to runs) {
      val p0 = System.nanoTime()
      names.foreach { name =>
        // noop write materializes EVERY column (count() would let Spark
        // prune value columns and flatter column-heavy queries)
        val r = Run(spark, sfDir, name, pass)(
          _.write.format("noop").mode("overwrite").save())
        r.error.foreach(m =>
          System.err.println(s"[bench] $name failed (pass $pass): $m"))
        records += r
      }
      passTotals += (System.nanoTime() - p0) / 1e9
      System.err.println(f"[bench] pass $pass/$runs: ${passTotals.last}%.1f s")
    }
    val runRecords = records.result()
    val byName = runRecords.groupBy(_.name)
    // Median over SUCCESSFUL passes; -1 only when every pass failed, so
    // a failure can't masquerade as a fast run and a one-pass crash
    // can't drag a real median negative.
    def good(n: String) = byName(n).filter(_.ok).map(_.wallS)
    val med: Map[String, Double] = names.map(n => n -> median(good(n))).toMap
    val total = names.map(med).filter(_ >= 0.0).sum
    val failed = names.filter(med(_) < 0.0)
    def jnum(v: Double): String = f"$v%.6f"
    def key(n: String): String = Run.jsonString(n) + ":"
    val fullQs = names.map(n => key(n) + jnum(med(n))).mkString("{", ",", "}")
    val spread = names.map { n =>
      val g = good(n)
      val (lo, hi) = if (g.isEmpty) (-1.0, -1.0) else (g.min, g.max)
      key(n) + "[" + jnum(lo) + "," + jnum(hi) + "]"
    }.mkString("{", ",", "}")
    // Pass 1 is the COLD pass: the session-memoized frames (the LSH
    // pair/edge/neighbor memos shared by the dedup-chain, graph and
    // DBSCAN families) are built during it and reused by passes 2+, so
    // median-of-3 under-reports those families' cold cost (q69-class
    // spreads up to 139x). cold/cold_total keep the cold truth in-band
    // so cross-round compares don't silently ride warmer memo coverage.
    def cold(n: String) = Some(byName(n).head).filter(_.ok).fold(-1.0)(_.wallS)
    val coldQs = names.map(n => key(n) + jnum(cold(n))).mkString("{", ",", "}")
    val coldTotal = names.map(cold).filter(_ >= 0.0).sum
    val memoNote = "pass 1 builds the session memos (LSH pair frames, " +
      "graph edge frames, DBSCAN neighbor frame); passes 2+ are " +
      "memo-warm for those families"
    val calibration = s"""{"cpu":${jnum(calCpu)},"shuffle":${jnum(
        calShuffle)},"scan":${jnum(calScan)}}"""
    val full =
      s"""{"metric":"total","value":${jnum(total)},"unit":"sec","runs":$runs,"queries":$fullQs,"spread":$spread,"cold":$coldQs,"cold_total":${jnum(coldTotal)},"memo_note":"$memoNote","pass_totals":[${passTotals.map(jnum).mkString(",")}],"calibration":$calibration,"failed":[${failed.map(Run.jsonString).mkString(",")}],"sf":${Run.jsonString(sfDir)},""" +
        s""""records":[${runRecords.map(_.json).mkString(",")}],""" +
        s""""failed_passes":[${runRecords.filterNot(_.ok).map(r =>
          s"""{"name":${Run.jsonString(r.name)},"pass":${r.pass}}""")
          .mkString(",")}]}"""
    // Compact final line: top-12 slowest medians stand in for the full map
    // so the line survives the driver's 2000-char tail capture.
    val top = names.sortBy(-med(_)).take(12)
      .map(n => key(n) + jnum(med(n))).mkString("{", ",", "}")
    val compact =
      s"""{"metric":"total","value":${jnum(total)},"unit":"sec","runs":$runs,"nq":${names.length},"failed":${failed.length},"cold_total":${jnum(coldTotal)},"calibration":$calibration,"queries":$top,"detail":"bench_result.json","sf":${Run.jsonString(sfDir)}}"""
    // Stop Spark FIRST so no shutdown logging can land after (or interleave
    // with) the JSON; persist the full map to a file as the
    // log-truncation-proof channel.
    try spark.stop()
    catch { case e: Throwable =>
      System.err.println(s"[bench] spark.stop failed: ${e.getMessage}")
    }
    try java.nio.file.Files.writeString(
      java.nio.file.Paths.get(sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT",
        "bench_result.json")), full + "\n")
    catch { case _: Throwable => () }
    println(compact)
    if (runRecords.exists(!_.ok)) sys.exit(1)
  }
}

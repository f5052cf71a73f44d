package graft

import org.apache.spark.sql.functions._

/** Pins the two Catalyst properties every scan-side operator in this
  * engine relies on implicitly: predicates REACH the parquet reader
  * (PushedFilters) and the reader materializes ONLY referenced columns
  * (ReadSchema pruning). These hold because operators are pure
  * declarative Column chains — a UDF or an RDD hop anywhere upstream
  * would silently break both, so the assertions guard the style rule,
  * not just these two plans.
  */
class PushdownSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  test("filter + projection reach the parquet scan (lineitem)") {
    val plan = Relationalish()
    assert(plan.contains("PushedFilters:"), plan)
    assert(plan.contains("GreaterThan(l_quantity,45.0)"), plan)
    // pruned read schema: the untouched wide columns are absent
    val readSchema = plan.linesIterator
      .find(_.contains("ReadSchema:")).getOrElse("")
    assert(readSchema.contains("l_quantity"))
    assert(!readSchema.contains("l_extendedprice") &&
      !readSchema.contains("l_returnflag"), readSchema)
  }

  private def Relationalish(): String =
    SparkSpec.spark.read.parquet(s"$sf/lineitem.parquet")
      .filter(col("l_quantity") > 45.0)
      .select("l_orderkey", "l_quantity")
      .queryExecution.executedPlan.toString

  test("NanosRangePushdown recovers scan bounds through the ns loader " +
      "conversion (q09)") {
    val df = Queries.queries("q09_flt1_time_range")(SparkSpec.spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    // without the rule the scan pushes ONLY IsNotNull(ts): the range
    // predicate compares timestamp_micros(ts DIV 1000), which the
    // parquet source cannot translate. The rule adds raw-long bounds.
    assert(plan.contains("GreaterThanOrEqual(ts,"), plan)
    assert(plan.contains("LessThanOrEqual(ts,"), plan)
  }

  test("NanosRangePushdown: exact boundary semantics on raw nanos") {
    val sp = SparkSpec.spark
    import sp.implicits._
    import org.apache.spark.sql.functions._
    val base = 1704067200L * 1000000L // 2024-01-01 00:00:00 in micros
    val t0 = base * 1000L             // ...in nanos
    // nanos straddling every truncation boundary of the bound below
    val ns = Seq(t0 - 1L, t0, t0 + 999L, t0 + 1000L,
      t0 + 3600L * 1000000000L)
    val dir = s"${sys.props("java.io.tmpdir")}/graft_sink/ns_pushdown"
    ns.toDF("ts").write.mode("overwrite").parquet(dir)
    val conv = sp.read.parquet(dir)
      .select(col("ts").as("raw"),
        timestamp_micros(expr("ts div 1000")).as("t"))
    val bound = lit(java.sql.Timestamp.valueOf("2024-01-01 00:00:00"))
    def got(c: org.apache.spark.sql.Column) =
      conv.filter(c).select("raw").collect().map(_.getLong(0)).toSet
    // >= T keeps everything whose truncated micros reach T: t0-1 DIV
    // truncates to T-1ns→ micros T... t0-1 nanos = T·1000-1 → micros
    // T-1 (floor) → excluded; t0 and t0+999 truncate to exactly T
    assert(got(col("t") >= bound) == ns.drop(1).toSet)
    assert(got(col("t") > bound) == Set(t0 + 1000L, ns.last))
    assert(got(col("t") <= bound) == Set(t0 - 1L, t0, t0 + 999L))
    assert(got(col("t") < bound) == Set(t0 - 1L))
    assert(got(col("t") === bound) == Set(t0, t0 + 999L))
    // literal-on-the-left mirrors rewrite too (and agree)
    assert(got(bound <= col("t")) == got(col("t") >= bound))
    assert(got(bound > col("t")) == got(col("t") < bound))
    val mirrorPlan = conv.filter(bound <= col("t"))
      .queryExecution.executedPlan.toString
    assert(mirrorPlan.contains("GreaterThanOrEqual(ts,"), mirrorPlan)
    // and the derived bounds actually reach the parquet scan
    val plan = conv.filter(col("t") >= bound && col("t") <= bound)
      .queryExecution.executedPlan.toString
    assert(plan.contains("GreaterThanOrEqual(ts,"), plan)
    assert(plan.contains("LessThanOrEqual(ts,"), plan)
  }

  test("NanosRangePushdown prunes row groups — measured at the scan") {
    val sp = SparkSpec.spark
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.execution.FileSourceScanExec
    // 200k ascending ns timestamps in many small row groups, so the
    // footer's per-group [min,max] stats can actually bite
    val dir = s"${sys.props("java.io.tmpdir")}/graft_sink/ns_rowgroups"
    val base = 1704067200L * 1000000000L
    sp.range(200000).select((lit(base) + col("id") * 1000000L).as("ts"))
      .coalesce(1).write.mode("overwrite")
      .option("parquet.block.size", 64 * 1024).parquet(dir)
    def scanRows(withRule: Boolean): Long = {
      val saved = sp.experimental.extraOptimizations
      val aqe = sp.conf.get("spark.sql.adaptive.enabled")
      try {
        sp.experimental.extraOptimizations =
          if (withRule) saved else Nil
        sp.conf.set("spark.sql.adaptive.enabled", "false")
        val df = sp.read.parquet(dir)
          .select(timestamp_micros(expr("ts div 1000")).as("t"))
          .filter(col("t") < lit(java.sql.Timestamp.valueOf(
            "2024-01-01 00:00:01"))) // first 1000 of 200k rows
        df.collect()
        df.queryExecution.executedPlan.collect {
          case s: FileSourceScanExec => s.metrics("numOutputRows").value
        }.sum
      } finally {
        sp.experimental.extraOptimizations = saved
        sp.conf.set("spark.sql.adaptive.enabled", aqe)
      }
    }
    val without = scanRows(withRule = false)
    val with_ = scanRows(withRule = true)
    assert(without == 200000L, s"baseline reads everything, got $without")
    // with the raw bound pushed, whole row groups are skipped: the scan
    // emits only the group(s) whose stats straddle the bound
    assert(with_ < 20000L, s"pruned scan still emitted $with_ rows")
  }
}

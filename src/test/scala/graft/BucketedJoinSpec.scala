package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Co-located joins on bucketed tables: the SCALE.md claim that bucketing
  * both sides on the join key removes the shuffle entirely — asserted
  * against the actual executed plan.
  */
class BucketedJoinSpec extends SparkSpec {

  private def dropBucketTables(names: String*): Unit =
    names.foreach { t =>
      spark.sql(s"DROP TABLE IF EXISTS $t")
      val loc = java.nio.file.Paths.get(
        spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"), t)
      if (java.nio.file.Files.exists(loc)) {
        import scala.jdk.CollectionConverters._
        java.nio.file.Files.walk(loc).iterator().asScala.toSeq.reverse
          .foreach(java.nio.file.Files.delete)
      }
    }

  /** Bucketed parquet table write: both sides bucketed into the same `n`
    * on the same keys satisfy each other's hash-partitioning requirement.
    * Bucketing requires the table catalog, hence `saveAsTable`.
    */
  private def writeBucketed(df: DataFrame, table: String,
      bucketCols: Seq[String], n: Int): Unit =
    df.write.mode("overwrite").format("parquet")
      .bucketBy(n, bucketCols.head, bucketCols.tail: _*)
      .sortBy(bucketCols.head, bucketCols.tail: _*)
      .saveAsTable(table)

  test("join of two same-bucketed tables runs with zero Exchange") {
    val ev = Queries.T(spark, sf001, "events")
    // saveAsTable refuses a leftover location even in overwrite mode when
    // the catalog entry is gone (fresh session) — clean both.
    dropBucketTables("b_fact", "b_dim")
    writeBucketed(ev.select(col("user_id"), col("value")),
      "b_fact", Seq("user_id"), 8)
    writeBucketed(
      ev.groupBy(col("user_id")).agg(count(lit(1)).as("n")),
      "b_dim", Seq("user_id"), 8)
    val joined = spark.table("b_fact")
      .join(spark.table("b_dim").hint("merge"), Seq("user_id"))
    val plan = joined.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"unexpected shuffle:\n$plan")
    // and the result is still correct
    val got = joined.groupBy(col("user_id")).agg(count(lit(1)).as("c"))
      .orderBy(col("user_id")).limit(3).collect().map(_.getLong(1)).toSeq
    val want = ev.groupBy(col("user_id")).agg(count(lit(1)).as("c"))
      .orderBy(col("user_id")).limit(3).collect().map(_.getLong(1)).toSeq
    assert(got == want)
  }

  test("gapfillAlign on time-bucketed tables runs with zero Exchange") {
    // SCALE.md: the one fact↔fact exchange left in the gap-fill pipeline
    // (station ⋈ ERA5 on timestamp) disappears when both lake tables are
    // bucketed on the hour key — asserted against the executed plan.
    val ev = Queries.T(spark, sf001, "events")
    dropBucketTables("b_station", "b_era5")
    val hours = ev.select(date_trunc("hour", col("ts")).as("valid_time"),
      col("value"))
    writeBucketed(
      hours.groupBy(col("valid_time")).agg(avg(col("value")).as("obs")),
      "b_station", Seq("valid_time"), 8)
    writeBucketed(
      hours.groupBy(col("valid_time")).agg(max(col("value")).as("t2m")),
      "b_era5", Seq("valid_time"), 8)
    val aligned = graft.engine.Joins.gapfillAlign(
      spark.table("b_station"), spark.table("b_era5").hint("merge"),
      "valid_time")
    val plan = aligned.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"unexpected shuffle:\n$plan")
    // correctness: every station hour survives the left join with its match
    val n = spark.table("b_station").count()
    assert(aligned.count() == n)
    assert(aligned.filter(col("t2m").isNull).count() == 0)
  }
}

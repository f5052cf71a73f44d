package graft

import java.nio.file.Paths
import java.sql.Timestamp
import java.time.Instant

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types.TimestampType

/** The registry loader [[Queries.T]]: each table's schema is inferred once
  * per session and supplied to every later read, a table rewritten in
  * place is inferred again, and the nanos vintage of `events` reads the
  * same through the inferring read and the memoized one.
  */
class TableLoaderSpec extends SparkSpec {

  /** `Queries.T(dir, name)` and the Spark jobs it ran to build it. */
  private def load(dir: String, name: String): (DataFrame, Int) = {
    var df: DataFrame = null
    val r = Run(spark, dir, s"T($name)", 1,
      (s, d) => Queries.T(s, d, name))(df = _)
    assert(r.ok, r.error)
    (df, r.jobs)
  }

  test("a table rewritten at the same path reads with its new schema") {
    import spark.implicits._
    val dir = s"${sys.props("java.io.tmpdir")}/graft_sink/loader_spec"
    val path = s"$dir/t.parquet"
    Seq((1L, "a"), (2L, "b")).toDF("x", "y")
      .write.mode("overwrite").parquet(path)
    assert(load(dir, "t")._2 == 1)
    val (first, jobs) = load(dir, "t")
    assert(jobs == 0)
    assert(first.schema.simpleString == "struct<x:bigint,y:string>")
    assert(first.as[(Long, String)].collect().toSet ==
      Set((1L, "a"), (2L, "b")))

    Seq((1.5, 2, "p"), (2.5, 3, "q"), (3.5, 4, "r")).toDF("p", "q", "r")
      .write.mode("overwrite").parquet(path)
    val (second, reinferred) = load(dir, "t")
    assert(reinferred == 1)
    assert(second.schema.simpleString == "struct<p:double,q:int,r:string>")
    assert(second.as[(Double, Int, String)].collect().toSet ==
      Set((1.5, 2, "p"), (2.5, 3, "q"), (3.5, 4, "r")))
  }

  test("nanos events: the inferring and the memoized read agree with the " +
      "micros derivation and leave both parquet flags as they were") {
    val flags = Seq("spark.sql.legacy.parquet.nanosAsLong",
      "spark.sql.parquet.inferTimestampNTZ.enabled")
    def flagValues = flags.map(spark.conf.getOption)
    val before = flagValues
    val dir = Paths.get(getClass.getResource("/nanos_events/events.parquet")
      .toURI).getParent.toString
    def ts(df: DataFrame): Seq[Timestamp] = {
      assert(df.schema("ts").dataType == TimestampType)
      df.orderBy("event_id").select("ts").collect().toSeq
        .map(_.getAs[Timestamp](0))
    }
    // the fixture's TIMESTAMP(NANOS) values, truncated to micros
    val want = Seq(Some(1704067200000000000L), Some(1704067200000000999L),
      Some(1704070800123456789L), None, Some(1704153600999999001L)).map(
      _.map(ns => Timestamp.from(Instant.ofEpochSecond(0L, ns / 1000 * 1000)))
        .orNull)

    val (inferring, inferJobs) = load(dir, "events")
    assert(flagValues == before)
    val (memoized, memoJobs) = load(dir, "events")
    assert(flagValues == before)
    assert((inferJobs, memoJobs) == ((1, 0)))
    assert(ts(inferring) == want)
    assert(ts(memoized) == want)
  }
}

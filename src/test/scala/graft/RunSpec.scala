package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD

import graft.engine.Pins

/** [[Run]]: a registry query run releases the pins it took and keeps the
  * session memos, a failure becomes data in its record, and pins taken
  * outside any run are left alone. Also the harness table scan that the
  * warm-up and Bench's scan probe share.
  */
class RunSpec extends SparkSpec {

  private def cached(): Set[Int] =
    spark.sparkContext.getPersistentRDDs.keySet.toSet

  private def ids(df: DataFrame): Set[Int] =
    df.queryExecution.analyzed.collect { case lr: LogicalRDD => lr.rdd.id }
      .toSet

  private val noop: DataFrame => Unit =
    _.write.format("noop").mode("overwrite").save()

  test("q393, whose result reads a pin lazily, leaves no cached RDD") {
    val before = cached()
    val r = Run(spark, sf001, "q393_kruskal_wallis", 1)(noop)
    assert(r.ok, r.error)
    assert(r.pins.pinned >= 1 && r.pins.released >= 1, r.pins)
    assert(r.pins.leaked == 0, r.pins)
    assert((cached() -- before).isEmpty)
    assert(r.jobs > 0 && r.stages.nonEmpty)
  }

  test("q172 run twice keeps its memo pin and hits it the second time") {
    val first = Run(spark, sf001, "q172_degree_histogram", 1)(noop)
    val memo = Queries.coPurchaseEdges(spark, sf001, modFilter = false)
    assert(ids(memo).nonEmpty && ids(memo).subsetOf(cached()))
    val second = Run(spark, sf001, "q172_degree_histogram", 2)(noop)
    assert(first.ok && second.ok, (first.error, second.error))
    assert(second.pins.memoHits >= 1, second.pins)
    assert(second.pins.leaked == 0, second.pins)
    assert(ids(memo).subsetOf(cached()))
  }

  test("a memo built in a run keeps the pins its entry reads, drops the rest") {
    var scratch = Set.empty[Int]
    val eager = Run(spark, sf001, "memo", 1, (s, d) =>
      Pins.memo(s, d, "RunSpec.eager") {
        val t = Pins.pin(s.range(20).toDF())
        scratch = ids(t)
        Pins.pin(t.filter("id % 2 = 0"))
      })(noop)
    val lazyEntry = Run(spark, sf001, "memo", 1, (s, d) =>
      Pins.memo(s, d, "RunSpec.lazy")(
        Pins.pin(s.range(20).toDF()).filter("id % 2 = 0")))(noop)
    assert(eager.ok && lazyEntry.ok, (eager.error, lazyEntry.error))
    assert(eager.pins == Pins.QueryPins(0, 0, 0, 0), eager.pins)
    assert(lazyEntry.pins == Pins.QueryPins(0, 0, 0, 0), lazyEntry.pins)
    assert((scratch & cached()).isEmpty)
    for (name <- Seq("RunSpec.eager", "RunSpec.lazy")) {
      val entry = Pins.memo(spark, sf001, name)(sys.error("rebuilt"))
      assert(ids(entry).nonEmpty && ids(entry).subsetOf(cached()), name)
      assert(entry.count() == 10, name)
    }
  }

  test("a failure is captured in the record and the next run still works") {
    var pinned = Set.empty[Int]
    val bad = Run(spark, sf001, "boom", 1, (s, _) => {
      pinned = ids(Pins.pin(s.range(10).toDF()))
      throw new IllegalStateException("boom at build")
    })(noop)
    assert(!bad.ok && bad.error.contains("boom at build"))
    assert(bad.pins.pinned == 1 && bad.pins.released == 1, bad.pins)
    assert((pinned & cached()).isEmpty)
    assert(bad.json.contains("\"ok\":false,\"error\":\"boom at build\""))

    val sinkFails = Run(spark, sf001, "sink", 1,
      (s, _) => s.range(3).toDF())(_ => sys.error("sink failed"))
    assert(sinkFails.error.contains("sink failed"))

    val good = Run(spark, sf001, "ok", 2,
      (s, _) => Pins.pin(s.range(5).toDF()))(df => assert(df.count() == 5))
    assert(good.ok, good.error)
    assert(good.pins == Pins.QueryPins(1, 1, 0, 0))
    assert(good.json.contains("\"ok\":true,\"error\":null"))
  }

  test("a pin taken outside any run is not released by a later run") {
    val outside = Pins.pin(spark.range(7).toDF())
    try {
      val r = Run(spark, sf001, "other", 1,
        (s, _) => Pins.pin(s.range(3).toDF()))(noop)
      assert(r.ok && r.pins.released == 1, r)
      assert(ids(outside).subsetOf(cached()))
      assert(outside.count() == 7)
    } finally Pins.release(outside)
  }

  test("Harness.scan skips an absent table and surfaces a corrupt one") {
    val dir = java.nio.file.Files.createTempDirectory("runspec-scan")
    val file = dir.resolve("lineitem.parquet")
    try {
      Harness.scan(spark, dir.toString, "lineitem")
      java.nio.file.Files.writeString(file, "junk")
      intercept[Exception](Harness.scan(spark, dir.toString, "lineitem"))
    } finally {
      java.nio.file.Files.deleteIfExists(file)
      java.nio.file.Files.delete(dir)
    }
  }

  test("after Harness.warm no query builds a schema-inference job; the " +
      "sink round trips build only their write") {
    Harness.warm(spark, sf001)
    val want = Seq("q01_src1_scan_drop" -> 0, "q02_src2_csv_badlines" -> 0,
      "q56_dedup_minhash_sig" -> 0, "q58_dedup_simhash" -> 0,
      "q160_group_regression" -> 0, "q329_partial_corr" -> 0,
      "q04_snk1_f32_sink" -> 1, "q06_snk3_partitioned_sink" -> 1)
    // a sink that runs nothing: the record's jobs are the build's
    val got = want.map { case (name, _) =>
      val r = Run(spark, sf001, name, 1)(_ => ())
      assert(r.ok, r.error)
      name -> r.jobs
    }
    assert(got == want, "build jobs per query")
  }

  test("jsonString escapes quotes, backslashes and control characters") {
    assert(Run.jsonString("a\"b\\c\n\t\u0001") ==
      "\"a\\\"b\\\\c\\n\\t\\u0001\"")
  }
}

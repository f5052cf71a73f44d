package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

/** ANSI edge-case fixture gate (round-8 verdict task 6).
  *
  * Builds a spiked copy of sf0.001 — zero-weight, zero-share,
  * empty-group, dangling-FK and all-null rows appended to every fact
  * table — and runs the ENTIRE query registry over it with
  * `spark.sql.ansi.enabled=true`. Non-ANSI Spark silently NULLs the
  * hazards ANSI turns into runtime errors (integer/decimal ÷0, cast
  * overflow, element_at past the end, decimal sum overflow), so a
  * registry that is hash-green on clean data can still crash a
  * production ANSI session on one degenerate row. This suite pins the
  * contract: every registered query must COMPLETE (not match any
  * particular value) on degenerate input under ANSI semantics.
  *
  * The catalog tables (region, nation) are copied unspiked: they are
  * config-grade inputs parsed by the geometry/manifest layer, and a
  * malformed catalog is a config error, not a data edge case.
  */
class AnsiFixtureSpec extends SparkSpec {

  private val fixDir =
    s"${sys.props("java.io.tmpdir")}/graft_ansi_fixture"

  /** Append hand-built edge rows to a table read from sf0.001, writing
    * the union to the fixture dir. Rows are built against the table's
    * own read schema so column order/type drift is a build error here,
    * not a silent mismatch downstream.
    */
  private def spike(name: String)(rows: StructType => Seq[Row]): Unit = {
    val base = spark.read.parquet(s"$sf001/$name.parquet")
    // The driver's parquet reads back NTZ or LTZ depending on session
    // flags; coerce the hand-built timestamp literals to whichever
    // external type the read schema demands.
    val coerced = rows(base.schema).map { r =>
      Row.fromSeq(base.schema.fields.zipWithIndex.map { case (f, i) =>
        (f.dataType, r.get(i)) match {
          case (TimestampNTZType, t: java.sql.Timestamp) => t.toLocalDateTime
          case (TimestampType, t: java.time.LocalDateTime) =>
            java.sql.Timestamp.valueOf(t)
          case (_, v) => v
        }
      })
    }
    val extra = spark.createDataFrame(
      spark.sparkContext.parallelize(coerced, 1), base.schema)
    base.unionByName(extra).coalesce(1)
      .write.mode("overwrite").parquet(s"$fixDir/$name.parquet")
  }

  private def copy(name: String): Unit =
    spark.read.parquet(s"$sf001/$name.parquet").coalesce(1)
      .write.mode("overwrite").parquet(s"$fixDir/$name.parquet")

  private def ts(s: String): java.sql.Timestamp =
    java.sql.Timestamp.valueOf(s)

  private lazy val buildFixture: Unit = {
    copy("region"); copy("nation")
    spike("customer") { _ => Seq(
      // customer with orders but zero/null attributes
      Row(9000001L, "Customer#Edge", 0, 0.0, null),
      // fully degenerate: null everything but the key → empty-group feed
      Row(9000002L, null, null, null, null)) }
    spike("supplier") { _ => Seq(
      Row(9000001L, null, null, 0.0)) }
    spike("part") { _ => Seq(
      Row(9000001L, null, null, null, 0, 0.0)) }
    spike("orders") { _ => Seq(
      // order for the edge customer with NO lineitems (empty group)
      Row(9000001L, 9000001L, "O", 0.0, ts("1995-06-15 00:00:00"), "1-URGENT"),
      // all-null-but-key order: null custkey (dangling), null date
      Row(9000002L, null, null, null, null, null)) }
    spike("lineitem") { _ => Seq(
      // zero-weight / zero-share row: every measure exactly 0
      Row(9000003L, 1L, 1L, 1, 0.0, 0.0, 0.0, 0.0, "N", "O",
        ts("1995-06-15 00:00:00")),
      // all-null measures + null flags + null shipdate, dangling FKs
      Row(9000004L, null, null, 1, null, null, null, null, null, null,
        null)) }
    spike("events") { _ => Seq(
      // zero-valued event for an otherwise-unseen user
      Row(9000001L, ts("2024-01-01 00:00:00"), 9000001L, "view", 0.0,
        null),
      // null type / null value / null props (null group key downstream)
      Row(9000002L, ts("2024-01-01 00:00:00"), 9000002L, null, null,
        null),
      // null timestamp: window/watermark feeds must drop, not throw
      Row(9000003L, null, 9000003L, "view", 1.0, null)) }
    spike("documents") { _ => Seq(
      // empty text: zero shingles/tokens everywhere downstream
      Row(9000001L, "", "en", "web", 0L),
      // null text + null metadata
      Row(9000002L, null, null, null, null)) }
    spike("embeddings") { _ => Seq(
      // zero vector: cosine/normalization denominators hit 0
      Row(9000001L, Seq.fill(64)(0.0f), 0),
      // empty vector: element_at/zip_with on zero length
      Row(9000002L, Seq.empty[Float], null),
      // null vector
      Row(9000003L, null, 0)) }
  }

  test("full registry completes on spiked sf0.001 under ANSI mode") {
    buildFixture
    val prev = spark.conf.getOption("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "true")
    val failures = try {
      SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
        try { fn(spark, fixDir).count(); None }
        catch { case e: Throwable =>
          val root = {
            var c: Throwable = e
            while (c.getCause != null && (c.getCause ne c)) c = c.getCause
            c
          }
          Some(s"$name: ${root.getClass.getSimpleName}: " +
            s"${Option(root.getMessage).getOrElse("").linesIterator
              .take(3).mkString(" | ")}")
        }
      }
    } finally prev match {
      case Some(v) => spark.conf.set("spark.sql.ansi.enabled", v)
      case None    => spark.conf.unset("spark.sql.ansi.enabled")
    }
    assert(failures.isEmpty,
      s"${failures.size} queries failed under ANSI on the edge fixture:\n" +
        failures.mkString("\n"))
  }
}

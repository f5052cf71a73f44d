package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the DuckDB oracle compare, and one
  * [[Run.Record]] per query in runs.jsonl. Exits 1, after writing
  * oracle_sql.json, when any query failed. */
object Verify {
  def main(args: Array[String]): Unit = {
    // optional 3rd arg: comma-separated query-name prefixes (local
    // iteration aid; the driver passes exactly two args)
    require(args.length == 2 || args.length == 3,
      "usage: Verify <sfDir> <outDir> [names-csv]")
    val (sfDir, outDir) = (args(0), args(1))
    val only = args.lift(2).fold(Seq.empty[String])(_.split(',').toSeq)
    val names = Harness.select(only)
    val spark = Harness.session()
    new java.io.File(outDir).mkdirs()
    val records = names.map { name =>
      val r = Run(spark, sfDir, name, 1) { df =>
        // Driver compare: DuckDB oracles emit naive TIMESTAMP; Spark's
        // derived timestamps are session-TZ LTZ and parquet-dump as
        // timestamp[us, tz=UTC], red-flagging schema_match even when every
        // value agrees. Session TZ is UTC, so the NTZ cast is value-exact.
        import org.apache.spark.sql.types.{TimestampType, TimestampNTZType}
        import org.apache.spark.sql.functions.col
        val out = df.schema.fields.collect {
          case f if f.dataType == TimestampType => f.name
        } match {
          case Array() => df
          case tsCols => df.select(df.columns.map { c =>
            if (tsCols.contains(c)) col(c).cast(TimestampNTZType).as(c)
            else col(c)
          }: _*)
        }
        out.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
      }
      r.error.foreach(m => System.err.println(s"[verify] $name failed: $m"))
      r
    }
    Files.writeString(Paths.get(s"$outDir/runs.jsonl"),
      records.map(_.json + "\n").mkString)
    val json = SparkEntry.oracleSql.map { case (k, v) =>
      s"${Run.jsonString(k)}: ${Run.jsonString(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
    if (records.exists(!_.ok)) sys.exit(1)
  }
}

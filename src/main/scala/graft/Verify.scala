package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // optional 3rd arg: comma-separated query-name prefixes (local
    // iteration aid; the driver passes exactly two args)
    val (sfDir, outDir, only) = args match {
      case Array(s, o)    => (s, o, Seq.empty[String])
      case Array(s, o, f) => (s, o, f.split(',').toSeq)
    }
    val names = Harness.select(only)
    val spark = Harness.session()
    new java.io.File(outDir).mkdirs()
    names.foreach { name =>
      try {
        val df = SparkEntry.queries(name)(spark, sfDir)
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
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}

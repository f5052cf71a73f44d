package graft
import org.apache.spark.sql.{SparkSession, DataFrame}
/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  * The registry itself lives in [[Queries]] / [[LlmQueries]].
  */
object SparkEntry {
  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0:
    * the composed gap-fill pipeline (SURVEY §3.3) — parse → filter →
    * worklist → align join → two-source wide.
    */
  def entry(spark: SparkSession): DataFrame =
    Queries.queries("q46_pipeline_gapfill")(spark, "/root/testdata/sf0.001")
  /** One entry per implemented operator from SURVEY.md §2. */
  val queries: Map[String, (SparkSession, String) => DataFrame] =
    Queries.queries
  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  val oracleSql: Map[String, String] = Queries.oracleSql
}

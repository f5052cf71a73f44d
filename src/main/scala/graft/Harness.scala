package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** What every harness main (Bench, Verify, PlanDump, PlanSweep) shares
  * besides [[Run]]: the session they run in, the table warm-up before
  * timing, and the selection of registry queries by name prefix. Library
  * users build their session with [[Graft.builder]] instead.
  */
object Harness {

  /** The harness session: `local[$SPARK_GRAFT_CPUS]` (default 4) with
    * shuffle partitions = cores, UTC, micros parquet timestamps (the
    * timestamp type the DuckDB oracle compare expects), UI off, WARN
    * logs and the graft SQL functions registered.
    */
  def session(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      // r13: the 100-entry default codegen cache thrashes under a
      // 444-query registry (thousands of generated sources per pass) —
      // every stage re-pays a ~300-500 ms Janino compile that 32
      // concurrent tasks then all block on. Compiled-class caching is
      // input-independent (never caches data or results) and strictly
      // reduces class generation; measured q216 5.3->2.8 s, q349
      // 10.2->6.6 s, q374 4.7->3.3 s at sf0.1.
      .config("spark.sql.codegen.cache.maxEntries", "10000")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    QuietLogs.suppressAuditedWarnings() // see QuietLogs
    graft.functions.GraftExtensions.register(spark)
    spark
  }

  /** Read the five largest tables once through a noop sink (codegen
    * compiler, parquet footers, FS cache) and infer the schema of the
    * five small ones, so the first measured query does not absorb
    * session start-up and no query runs a schema-inference job.
    */
  def warm(spark: SparkSession, sfDir: String): Unit = {
    Seq("lineitem", "orders", "events", "documents", "embeddings")
      .foreach(scan(spark, sfDir, _))
    Seq("region", "nation", "customer", "part", "supplier")
      .filter(exists(spark, sfDir, _)).foreach(Queries.T(spark, sfDir, _))
  }

  /** Read table `t` through a noop sink. A table `sfDir` lacks is
    * skipped; any other failure (a corrupt file, an OOM) is thrown.
    */
  def scan(spark: SparkSession, sfDir: String, t: String): Unit =
    if (exists(spark, sfDir, t))
      Queries.T(spark, sfDir, t).write.format("noop").mode("overwrite")
        .save()

  private def exists(spark: SparkSession, sfDir: String, t: String) = {
    val path = new Path(s"$sfDir/$t.parquet")
    path.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(path)
  }

  /** Registry keys selected by `prefixes`, in registry order; all of them
    * when `prefixes` is empty. A key matches a prefix that equals it or
    * that it continues with `_` (`q38` selects `q38_misc2_point_bbox`,
    * not `q380_…`), the rule of `tools/compare_oracle.py --only`. A
    * prefix that matches no key is an error naming it.
    */
  def select(prefixes: Seq[String]): Vector[String] = {
    val names = SparkEntry.queries.keys.toVector
    def hit(n: String, p: String) = n == p || n.startsWith(p + "_")
    val unknown = prefixes.filterNot(p => names.exists(hit(_, p)))
    require(unknown.isEmpty,
      s"no registry query matches: ${unknown.mkString(", ")}")
    if (prefixes.isEmpty) names
    else names.filter(n => prefixes.exists(hit(n, _)))
  }
}

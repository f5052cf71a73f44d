package graft

/** Dump `.explain("formatted")` for selected registry queries to files —
  * the plan-evidence channel for optimization rounds (the committed
  * `plans/rNN/` text files).
  *
  * Usage: `runMain graft.PlanDump <sfDir> <outDir> <tag> <name>[,<name>…]`
  * writes `<outDir>/<name>_<tag>.txt` per query. Names are exact registry
  * keys or `qNNN` prefixes, matched by [[Harness.select]] (the rule of
  * SPARK_GRAFT_BENCH_ONLY and `compare_oracle.py --only`). Exits 1 when
  * any query failed.
  *
  * The session is Bench's ([[Harness.session]]), so the dumped plans are
  * the shapes the bench actually runs.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    require(args.length >= 4,
      "usage: PlanDump <sfDir> <outDir> <tag> <names-csv>")
    val Array(sfDir, outDir, tag, namesCsv) = args.take(4)
    val names = Harness.select(namesCsv.split(',').toSeq)
    val spark = Harness.session()
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    val failed = names.count { name =>
      val r = Run(spark, sfDir, name, 1) { df =>
        val txt = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get(outDir, s"${name}_$tag.txt"), txt)
        println(s"[plandump] wrote $name ($tag)")
      }
      r.error.foreach(m => println(s"[plandump] FAILED $name: $m"))
      !r.ok
    }
    spark.stop()
    if (failed > 0) sys.exit(1)
  }
}

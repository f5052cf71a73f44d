package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Queries

/** Throughput of single SQL functions registered by
  * `graft.functions.GraftExtensions`: for each, one `select` of the
  * function over a materialized input frame, written to noop and timed
  * three times. The input is the `documents` table (each document paired
  * with the next one for `jaccard_sets`), repeated until it holds at least
  * `MinRows` rows and materialized first, so each timing covers the
  * function and a scan of cached rows, not the derivation.
  *
  * An identity `select` over the same input is timed the same way; its
  * median (job scheduling plus the scan) is taken off each function's
  * median before rows per second are computed, so the figure follows the
  * function's own cost. `functions.<name>.net_frac` records the share of
  * the probe's time that is left after the subtraction.
  */
object FunctionProbes {
  /** Function name -> the SQL expression that exercises it. */
  val exprs: Map[String, String] = Map(
    "shingle_hashes" -> "shingle_hashes(text, 3)",
    "minhash_sig" -> "minhash_sig(shingles, 64)",
    "gram_hashes" -> "gram_hashes(text, 5)",
    "winnow_mins" -> "winnow_mins(grams, 4)",
    "tokens" -> "tokens(text)",
    "token_hashes" -> "token_hashes(text)",
    "simhash" -> "simhash(tok_hashes, 64)",
    "jaccard_sets" -> "jaccard_sets(shingles, shingles2)")

  val MinRows = 100000L
  private val Repeats = 3

  def run(spark: SparkSession, data: String, cpus: Int): Map[String, Double] = {
    val derived = Queries.T(spark, data, "documents").selectExpr("doc_id",
      "text", "shingle_hashes(text, 3) AS shingles",
      "gram_hashes(text, 5) AS grams", "token_hashes(text) AS tok_hashes")
    val next = derived.select(col("doc_id") - 1 as "doc_id",
      col("shingles") as "shingles2")
    val pairs = derived.join(next, Seq("doc_id")).localCheckpoint()
    val copies = (MinRows + pairs.count() - 1) / pairs.count()
    val input: DataFrame = pairs.crossJoin(spark.range(copies).toDF("copy"))
      .repartition(cpus).localCheckpoint()
    val rows = input.count().toDouble
    def median(select: String): Double = {
      val q = input.selectExpr(select)
      Stats.median((1 to Repeats).map { _ =>
        val t0 = System.nanoTime()
        q.write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      })
    }
    val base = median("doc_id AS v")
    val result = exprs.toSeq.sortBy(_._1).flatMap { case (name, e) =>
      val t = median(s"$e AS v")
      // floor at 1% of the probe, so a function as cheap as the scan
      // still gives a finite figure
      val net = math.max(t - base, t / 100)
      Seq(s"functions.$name.rows_per_s" -> rows / net,
        s"functions.$name.net_frac" -> net / t)
    }.toMap
    input.unpersist()
    pairs.unpersist()
    result ++ Map("functions.probe_rows" -> rows,
      "functions.identity_s" -> base)
  }
}

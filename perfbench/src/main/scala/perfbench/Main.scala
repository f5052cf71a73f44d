package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{TimestampNTZType, TimestampType}

import graft.{Queries, SparkEntry}

/** The benchmark's JVM side. `perfbench/run.py` launches it; it reaches
  * the engine only through `SparkEntry.queries`, `Queries.T`, the SQL
  * functions `GraftExtensions.register` installs and Spark's public APIs.
  *
  * Arguments are `key=value` pairs: out, data, cpus, queries (comma
  * list), seed, seconds, trace. One run sets up
  * (session plus table warm-up reads), runs one cold pass, one untimed
  * warm-up pass, warm passes until `seconds` have passed, the
  * calibration probes, then (with
  * trace=1) one traced pass and the function probes, then a correctness
  * dump of every query's output. It writes `result.json`, `spans.jsonl`,
  * `oracle_sql.json` and `results/<query>/` under `out`.
  */
object Main {
  private def now(): Long = System.nanoTime()
  private def secs(t0: Long, t1: Long): Double = (t1 - t0) / 1e9

  def main(args: Array[String]): Unit = {
    val opt = args.map { a =>
      val i = a.indexOf('=')
      require(i > 0, s"expected key=value, got '$a'")
      a.take(i) -> a.drop(i + 1)
    }.toMap
    val out = Paths.get(opt("out"))
    Files.createDirectories(out)
    val data = opt("data")
    val cpus = opt("cpus").toInt

    // Same session as graft.Bench, so numbers stay comparable with it.
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.codegen.cache.maxEntries", "10000")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.QuietLogs.suppressAuditedWindowWarning()
    graft.functions.GraftExtensions.register(spark)
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    val w0 = now()
    Seq("lineitem", "orders", "events", "documents", "embeddings").foreach {
      t => noop(Queries.T(spark, data, t))
    }
    val warmupS = secs(w0, now())
    val setup = Map("session_s" -> sessionS, "warmup_s" -> warmupS,
      "setup_s" -> (sessionS + warmupS))
    run(spark, opt, out, data, cpus, setup)
    spark.stop()
  }

  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  private def write(p: Path, s: String): Unit =
    Files.write(p, s.getBytes(UTF_8))

  private def run(spark: SparkSession, opt: Map[String, String], out: Path,
      data: String, cpus: Int, setup: Map[String, Double]): Unit = {
    val names = opt("queries").split(',').toVector
    val unknown = names.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"not in the registry: ${unknown.mkString(",")}")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"

    def order(pass: Int): Vector[String] =
      new Random(seed * 1000003L + pass).shuffle(names)
    val failures = mutable.ArrayBuffer.empty[Map[String, Any]]
    var attempted = 0
    /** Times one build + noop materialization; None when it threw. */
    def timed(pass: Int, name: String): Option[Double] = {
      attempted += 1
      val t0 = now()
      try { noop(SparkEntry.queries(name)(spark, data)); Some(secs(t0, now())) }
      catch { case e: Throwable =>
        failures += Map("query" -> name, "pass" -> pass,
          "error" -> String.valueOf(e.getMessage).take(300))
        None
      }
    }
    def pass(p: Int): (Double, Vector[(String, Double)]) = {
      val t0 = now()
      val samples = order(p).flatMap(n => timed(p, n).map(n -> _))
      val total = secs(t0, now())
      println(f"[perfbench] pass $p: $total%.3f s, ${samples.size} queries ok")
      (total, samples)
    }

    // seconds since the run began at which each phase ended
    val runStart = now()
    val phases = mutable.LinkedHashMap.empty[String, Double]
    def mark(phase: String): Unit = phases(phase) = secs(runStart, now())
    val (coldPassS, coldSamples) = pass(0)
    mark("cold")
    // One untimed pass lets the JIT catch up with the code the cold pass
    // loaded; passes still speed up markedly until it has.
    val (warmupPassS, _) = pass(1)
    val warmStart = now()
    val passTotals = mutable.ArrayBuffer.empty[Double]
    val warmSamples = mutable.ArrayBuffer.empty[(String, Double)]
    var p = 2
    while (p == 2 || secs(warmStart, now()) < seconds) {
      val (total, samples) = pass(p)
      passTotals += total
      warmSamples ++= samples
      p += 1
    }
    val measuredS = secs(warmStart, now())
    val peakRssMb = Calibration.vmHwmMb()
    mark("warm")
    // after the timed passes, so the cold pass starts from set-up state
    val calibration = Calibration.run(spark, data, cpus)
    mark("calibration")
    val traced =
      if (!trace) Map.empty[String, Any]
      else {
        val (layers, roots) = TracedPass.run(spark, data, order(p), cpus,
          Stats.median(passTotals.toSeq), out.resolve("spans.jsonl"))
        attempted += roots.size
        roots.foreach(r => r.error.foreach(e => failures +=
          Map("query" -> r.name, "pass" -> "traced", "error" -> e)))
        layers ++ FunctionProbes.run(spark, data, cpus) ++
          Map("harness.session_s" -> setup("session_s"),
            "harness.warmup_s" -> setup("warmup_s"))
      }

    mark("traced")

    // Correctness: every query once more, its whole output written as
    // parquet for the DuckDB oracle compare in run.py. Timestamps become
    // NTZ as in graft.Verify (the session zone is UTC, so values are
    // unchanged and DuckDB's naive TIMESTAMP compares equal).
    val results = out.resolve("results")
    val dumped = names.sorted.filter { name =>
      attempted += 1
      try {
        val df = SparkEntry.queries(name)(spark, data)
        df.select(df.schema.fields.map { f =>
          if (f.dataType == TimestampType) col(f.name).cast(TimestampNTZType)
            .as(f.name)
          else col(f.name)
        }.toSeq: _*).coalesce(1).write.mode("overwrite")
          .parquet(results.resolve(name).toString)
        true
      } catch { case e: Throwable =>
        failures += Map("query" -> name, "pass" -> "correctness",
          "error" -> String.valueOf(e.getMessage).take(300))
        false
      }
    }

    write(out.resolve("oracle_sql.json"), Json(names.flatMap(n =>
      SparkEntry.oracleSql.get(n).map(n -> _)).toMap))

    mark("correctness")
    val result = Map(
      "phases" -> phases.toMap,
      "setup" -> setup,
      "calibration" -> calibration,
      "cpus" -> cpus,
      "cold_pass_s" -> coldPassS,
      "cold_samples" -> coldSamples.map { case (n, s) => Seq(n, s) },
      "warmup_pass_s" -> warmupPassS,
      "pass_totals" -> passTotals.toSeq,
      "warm_samples" -> warmSamples.toSeq.map { case (n, s) => Seq(n, s) },
      "measured_s" -> measuredS,
      "peak_rss_mb" -> peakRssMb,
      "attempted" -> attempted,
      "failures" -> failures.toSeq,
      "dumped" -> dumped,
      "layers" -> traced)
    write(out.resolve("result.json"), Json(result))
  }
}

package perfbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** graft.Bench's three calibration probes (pure CPU, pure shuffle, a scan
  * of the largest input table), each timed once, plus the JVM's peak RSS.
  * They describe the box a run happened on and gate nothing.
  */
object Calibration {
  def run(spark: SparkSession, data: String, cpus: Int): Map[String, Double] = {
    def time(f: => Unit): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }
    // shiftright keeps each term within 2^32, so the sum cannot overflow
    val cpu = time(spark.range(0, 192L * 1000 * 1000, 1, cpus)
      .select(sum(shiftright(xxhash64(col("id")), 32) +
        shiftright(xxhash64(col("id"), lit(1)), 32)))
      .write.format("noop").mode("overwrite").save())
    val shuffle = time(spark.range(0, 4L * 1000 * 1000, 1, cpus)
      .groupBy(pmod(xxhash64(col("id")), lit(100000)).as("k"))
      .agg(count(lit(1)).as("n"))
      .write.format("noop").mode("overwrite").save())
    val scan = time(graft.Queries.T(spark, data, "lineitem")
      .write.format("noop").mode("overwrite").save())
    Map("cpu" -> cpu, "shuffle" -> shuffle, "scan" -> scan)
  }

  /** VmHWM of this JVM in MB (10^6 bytes): its resident-set high-water
    * mark. */
  def vmHwmMb(): Double = {
    val line = Files.readAllLines(Paths.get("/proc/self/status"))
      .toArray(Array.empty[String]).find(_.startsWith("VmHWM:"))
      .getOrElse(throw new IllegalStateException("no VmHWM in /proc/self/status"))
    line.split("\\s+")(1).toDouble * 1024.0 / 1e6
  }
}

package graft

import org.apache.spark.scheduler._
import org.apache.spark.sql.graftbridge.Bridge

/** Per-stage profiler for single registry queries — the measurement
  * instrument behind the optimization rounds (guide §1: decide whether
  * time goes to shuffle read, compute, or scheduling BEFORE changing
  * anything; the bench only gives whole-query seconds).
  *
  * Usage: `runMain graft.Profile <sfDir> <names-csv> [passes]`
  *
  * Runs each selected query `passes` times (default 2 — pass 1 is the
  * memo-cold pass, pass 2 the steady state the bench median reports) and
  * prints, per pass: total wall, per-job wall, and the top stages by task
  * time with their call sites (StageInfo.name carries the
  * `op at File.scala:line` anchor) plus shuffle read/write and spill
  * bytes. The session, warm-up and noop-sink materialization are
  * Bench's ([[Harness]]), so the numbers decompose the bench's.
  */
object Profile {
  private class Rec extends SparkListener {
    case class St(name: String, taskTimeMs: Long, shufRead: Long,
      shufWrite: Long, input: Long, spillMem: Long, spillDisk: Long,
      wallMs: Long, tasks: Int, gcMs: Long, deserMs: Long,
      fetchWaitMs: Long)
    val stages = scala.collection.mutable.ArrayBuffer.empty[St]
    val jobs = scala.collection.mutable.ArrayBuffer.empty[(Int, Long)]
    private val jobStart = scala.collection.mutable.Map.empty[Int, Long]
    override def onJobStart(e: SparkListenerJobStart): Unit =
      jobStart(e.jobId) = e.time
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      jobs += ((e.jobId, e.time - jobStart.getOrElse(e.jobId, e.time)))
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val s = e.stageInfo
      val m = s.taskMetrics
      val wall = (for {a <- s.completionTime; b <- s.submissionTime}
        yield a - b).getOrElse(0L)
      // the generic async-checkpoint thread name hides the real site;
      // pull the first graft frame out of the long-form call site, and
      // the operator scopes from the stage's RDD chain (AQE query
      // stages otherwise all look alike)
      val graftSite = s.details.linesIterator
        .find(l => l.contains("graft.") && !l.contains("graft.Profile"))
        .map(_.trim.replaceAll("^at ", ""))
      val scopes = s.rddInfos.flatMap(_.scope)
        .map(_.name.takeWhile(_ != '\n')).distinct.take(5)
        .mkString(">")
      val site = graftSite.getOrElse("") + " [" + scopes + "]"
      stages += St(s"${s.name} | $site", m.executorRunTime,
        m.shuffleReadMetrics.totalBytesRead,
        m.shuffleWriteMetrics.bytesWritten, m.inputMetrics.bytesRead,
        m.memoryBytesSpilled, m.diskBytesSpilled, wall, s.numTasks,
        m.jvmGCTime, m.executorDeserializeTime,
        m.shuffleReadMetrics.fetchWaitTime)
    }
    def reset(): Unit = { stages.clear(); jobs.clear(); jobStart.clear() }
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: Profile <sfDir> <names-csv> [passes]")
    val sfDir = args(0)
    val names = Harness.select(args(1).split(',').toSeq)
    val passes = if (args.length >= 3) args(2).toInt else 2
    val spark = Harness.session()
    val rec = new Rec
    spark.sparkContext.addSparkListener(rec)
    // bench-identical warmup so scan costs match the bench's steady state
    Harness.warm(spark, sfDir)
    names.foreach { name =>
      for (pass <- 1 to passes) {
        // listener events are delivered async: drain the previous pass's
        // before resetting, and this pass's before reading them
        Bridge.drainListenerBus(spark.sparkContext)
        rec.reset()
        val t0 = System.nanoTime()
        SparkEntry.queries(name)(spark, sfDir).write.format("noop")
          .mode("overwrite").save()
        val wall = (System.nanoTime() - t0) / 1e9
        Bridge.drainListenerBus(spark.sparkContext)
        println(f"%n=== $name pass $pass: $wall%.2f s, " +
          f"${rec.jobs.length} jobs, ${rec.stages.length} stages ===")
        val jobTot = rec.jobs.map(_._2).sum / 1e3
        println(f"  job wall sum: $jobTot%.2f s (gaps = driver/planning: " +
          f"${wall - jobTot}%.2f s)")
        val byName = rec.stages.groupBy(_.name).map { case (n, ss) =>
          (n, ss.map(_.taskTimeMs).sum, ss.map(_.wallMs).sum,
            ss.map(_.shufRead).sum, ss.map(_.shufWrite).sum,
            ss.map(_.spillMem).sum, ss.length, ss.map(_.tasks).sum)
        }.toSeq.sortBy(-_._3)
        byName.take(18).foreach { case (n, tt, w, sr, sw, sp, cnt, tk) =>
          println(f"  ${w / 1e3}%7.2fs wall ${tt / 1e3}%8.2fs task  " +
            f"x$cnt%-3d tasks=$tk%-4d shR=${sr / 1e6}%6.1fM " +
            f"shW=${sw / 1e6}%6.1fM spill=${sp / 1e6}%5.0fM  $n")
        }
        println("  -- top individual stages --")
        rec.stages.sortBy(-_.taskTimeMs).take(10).foreach { s =>
          println(f"  ${s.wallMs / 1e3}%7.2fs wall ${s.taskTimeMs / 1e3}%7.2fs " +
            f"task gc=${s.gcMs / 1e3}%5.2fs deser=${s.deserMs / 1e3}%5.2fs " +
            f"fetch=${s.fetchWaitMs / 1e3}%5.2fs tasks=${s.tasks}%-4d " +
            f"shR=${s.shufRead / 1e6}%5.1fM shW=${s.shufWrite / 1e6}%5.1fM " +
            f"${s.name.take(120)}")
        }
      }
    }
    spark.stop()
  }
}

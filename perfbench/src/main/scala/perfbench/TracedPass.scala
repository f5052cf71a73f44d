package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.SparkEntry

/** One pass over the workload with a [[Tracer]] attached. Each query gets
  * a root span with two children, `build` (the call into the registry's
  * Spec function, which includes any eager checkpoints and sink writes it
  * makes) and `action` (the noop-write materialization); jobs, stages and
  * SQL executions hang under the phase that started them. Spans go to
  * `spansPath` as JSON lines; the return value is the per-layer totals.
  */
object TracedPass {
  final case class Root(index: Int, name: String, start: Long,
      built: Long, end: Long, leaked: Int, error: Option[String])

  def run(spark: SparkSession, data: String, order: Seq[String], cpus: Int,
      medianPassS: Double, spansPath: Path): (Map[String, Double], Seq[Root]) = {
    val sc = spark.sparkContext
    def storageBytes(): Long =
      sc.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum
    val tracer = new Tracer
    Tracer.attach(spark, tracer)
    var peakStorage = storageBytes()
    val p0 = System.currentTimeMillis()
    val n0 = System.nanoTime()
    val roots = order.zipWithIndex.map { case (name, i) =>
      val before = sc.getPersistentRDDs.keys.toSet
      def phase[T](p: String)(f: => T): T = {
        val tag = Tracer.tag(i, p)
        sc.addJobTag(tag)
        try f finally sc.removeJobTag(tag)
      }
      val q0 = System.currentTimeMillis()
      var q1 = q0
      val error =
        try {
          val df = phase("build")(SparkEntry.queries(name)(spark, data))
          q1 = System.currentTimeMillis()
          peakStorage = math.max(peakStorage, storageBytes())
          phase("action")(df.write.format("noop").mode("overwrite").save())
          None
        } catch { case e: Throwable => Some(String.valueOf(e.getMessage).take(300)) }
      val q2 = System.currentTimeMillis()
      if (q1 == q0) q1 = q2
      peakStorage = math.max(peakStorage, storageBytes())
      val leaked = (sc.getPersistentRDDs.keys.toSet -- before).size
      Root(i, name, q0, q1, q2, leaked, error)
    }
    val wallS = (System.nanoTime() - n0) / 1e9
    val p1 = System.currentTimeMillis()
    tracer.drain(10000)
    Tracer.detach(spark, tracer)
    val layers = tracer.synchronized {
      writeSpans(spansPath, roots, tracer)
      totals(roots, tracer, p0, p1, wallS, cpus, medianPassS, peakStorage)
    }
    (layers, roots)
  }

  /** Total length of the union of [start, end) intervals clipped to
    * [lo, hi), in ms. */
  private def covered(spans: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    var total, reach = 0L
    reach = lo
    spans.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }
      .filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
        if (e > reach) { total += e - math.max(s, reach); reach = e }
      }
    total
  }

  private def queryOf(tag: String): Option[Int] =
    if (!tag.startsWith(Tracer.TagPrefix)) None
    else tag.stripPrefix(Tracer.TagPrefix).takeWhile(_ != ':').toIntOption

  private def phaseOf(tag: String): String = tag.split(':').lastOption.getOrElse("")

  /** Stage keys (attempt 0 only) whose RDD-scope set already appeared in
    * an earlier stage of the same query: the same lineage computed again. */
  private def recomputed(t: Tracer): Set[Int] = {
    val seen = mutable.Set.empty[(Int, String)]
    t.stages.values.toSeq.filter(s => s.attempt == 0 && s.scopes.nonEmpty)
      .sortBy(_.id).flatMap { s =>
        queryOf(s.tag).flatMap { q =>
          if (seen.add((q, s.scopes))) None else Some(s.id)
        }
      }.toSet
  }

  private def totals(roots: Seq[Root], t: Tracer, p0: Long, p1: Long,
      wallS: Double, cpus: Int, medianPassS: Double,
      peakStorage: Long): Map[String, Double] = {
    val mb = 1e6
    val jobs = t.jobs.values.toSeq
    val jobSpans = jobs.map(j => (j.start, if (j.end > 0) j.end else p1))
    val buildJobs = jobs.filter(j => phaseOf(j.tag) == "build")
    val buildS = roots.map(r => r.built - r.start).sum / 1e3
    val buildSelfS = roots.map { r =>
      val mine = buildJobs.filter(j => queryOf(j.tag).contains(r.index))
        .map(j => (j.start, if (j.end > 0) j.end else p1))
      (r.built - r.start) - covered(mine, r.start, r.built)
    }.sum / 1e3
    val tt = t.taskTotals.values.toSeq
    def sumT(f: Tracer.TaskTotals => Long): Double = tt.map(f).sum.toDouble
    val ex = t.executions.values.toSeq
    val stages = t.stages.values.toSeq
    val recomp = recomputed(t).size
    val pinned = stages.groupBy(s => queryOf(s.tag)).collect {
      case (Some(_), ss) => ss.flatMap(s => t.persisted.getOrElse(s.id, Nil))
        .distinct.size
    }.sum
    val taskS = sumT(_.taskMs) / 1e3
    Map(
      "registry.build_s" -> buildS,
      "registry.build_self_s" -> buildSelfS,
      "registry.build_jobs" -> buildJobs.size.toDouble,
      "catalyst.analysis_ms" -> ex.map(_.analysisMs).sum.toDouble,
      "catalyst.optimization_ms" -> ex.map(_.optimizationMs).sum.toDouble,
      "catalyst.planning_ms" -> ex.map(_.planningMs).sum.toDouble,
      "catalyst.executions" -> ex.size.toDouble,
      "catalyst.exchanges" -> ex.map(_.exchanges).sum.toDouble,
      "exec.jobs" -> jobs.size.toDouble,
      "exec.stages" -> stages.size.toDouble,
      "exec.tasks" -> sumT(_.tasks),
      "exec.driver_gap_s" -> ((p1 - p0) - covered(jobSpans, p0, p1)) / 1e3,
      "exec.task_s" -> taskS,
      "exec.cpu_s" -> sumT(_.cpuNs) / 1e9,
      "exec.busy_frac" -> taskS / (wallS * cpus),
      "exec.gc_s" -> sumT(_.gcMs) / 1e3,
      "exec.shuffle_write_mb" -> sumT(_.shuffleWrite) / mb,
      "exec.shuffle_read_mb" -> sumT(_.shuffleRead) / mb,
      "exec.fetch_wait_s" -> sumT(_.fetchWaitMs) / 1e3,
      "exec.spill_mb" -> sumT(_.spill) / mb,
      "exec.recomputed_stages" -> recomp.toDouble,
      "exec.useful_stage_frac" ->
        (if (stages.isEmpty) 1.0 else 1.0 - recomp.toDouble / stages.size),
      "exec.failed_tasks" -> sumT(_.failedTasks),
      "cache.rdds_pinned" -> pinned.toDouble,
      "cache.rdds_leaked" -> roots.map(_.leaked).sum.toDouble,
      "cache.peak_storage_mb" -> peakStorage / mb,
      "sinks.bytes_written_mb" -> sumT(_.bytesWritten) / mb,
      "sinks.records_written" -> sumT(_.recordsWritten),
      "sources.bytes_read_mb" -> sumT(_.bytesRead) / mb,
      "sources.records_read" -> sumT(_.recordsRead),
      "trace.pass_s" -> wallS,
      "trace.overhead_frac" -> (wallS / medianPassS - 1.0))
  }

  private def writeSpans(path: Path, roots: Seq[Root], t: Tracer): Unit = {
    val recomp = recomputed(t)
    val lines = mutable.ArrayBuffer.empty[String]
    def span(id: String, parent: Any, query: Int, kind: String, start: Long,
        end: Long, attrs: (String, Any)*): Unit =
      lines += Json(Map("id" -> id, "parent" -> parent, "query" -> query,
        "kind" -> kind, "start_ms" -> start, "end_ms" -> end) ++ attrs)
    def parentOf(tag: String): (Any, Int) = queryOf(tag) match {
      case Some(q) => (s"q$q.${phaseOf(tag)}", q)
      case None    => (None, -1)
    }
    roots.foreach { r =>
      span(s"q${r.index}", None, r.index, "query", r.start, r.end,
        "name" -> r.name, "error" -> r.error, "rdds_leaked" -> r.leaked)
      span(s"q${r.index}.build", s"q${r.index}", r.index, "build", r.start,
        r.built)
      span(s"q${r.index}.action", s"q${r.index}", r.index, "action",
        r.built, r.end)
    }
    t.jobs.values.foreach { j =>
      val (parent, q) = parentOf(j.tag)
      span(s"j${j.id}", parent, q, "job", j.start, j.end, "stages" -> j.stages)
    }
    t.stages.values.foreach { s =>
      val (_, q) = parentOf(s.tag)
      span(s"s${s.id}.${s.attempt}", s"j${s.job}", q, "stage", s.start, s.end,
        "tasks" -> s.tasks, "failed" -> s.failed,
        "recomputed" -> recomp.contains(s.id))
    }
    t.executions.values.foreach { x =>
      val (parent, q) = parentOf(x.tag)
      span(s"x${x.id}", parent, q, "sql", 0L, 0L,
        "analysis_ms" -> x.analysisMs, "optimization_ms" -> x.optimizationMs,
        "planning_ms" -> x.planningMs, "exchanges" -> x.exchanges,
        "failed" -> x.failed)
    }
    t.taskTotals.foreach { case (tag, c) =>
      val (parent, q) = parentOf(tag)
      lines += Json(Map("id" -> s"tasks:$tag", "parent" -> parent,
        "query" -> q, "kind" -> "task_totals", "tasks" -> c.tasks,
        "failed_tasks" -> c.failedTasks, "task_ms" -> c.taskMs,
        "cpu_ns" -> c.cpuNs, "gc_ms" -> c.gcMs,
        "shuffle_write_bytes" -> c.shuffleWrite,
        "shuffle_read_bytes" -> c.shuffleRead,
        "fetch_wait_ms" -> c.fetchWaitMs, "spill_bytes" -> c.spill,
        "input_bytes" -> c.bytesRead, "input_records" -> c.recordsRead,
        "output_bytes" -> c.bytesWritten,
        "output_records" -> c.recordsWritten))
    }
    Files.write(path, lines.mkString("", "\n", "\n").getBytes(UTF_8))
  }
}

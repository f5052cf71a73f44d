package graft

import scala.collection.mutable.{ArrayBuffer, WeakHashMap}
import scala.util.control.NonFatal

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.util.QueryExecutionListener

import graft.engine.Pins

/** The one way a harness main runs a registry query: build it, hand the
  * frame to the main's sink (a noop write, a parquet dump, an explain
  * file, a plan audit) and return a [[Run.Record]]. A failure of the
  * build or the sink is captured in the record, never printed or
  * rethrown; each main prints it and exits non-zero. The run is a
  * [[Pins.inQuery]] scope, so the pins the query took are released when
  * it ends and only the session memos stay.
  */
object Run {

  /** One stage: its name, the first operator frame of its call site with
    * the operator scopes of its RDD chain, and its task time and count.
    */
  final case class Stage(name: String, site: String, taskMs: Long,
      tasks: Int, gcMs: Long, shuffleRead: Long, shuffleWrite: Long,
      spill: Long)

  /** One query run. `planningMs` sums the Catalyst phases of every query
    * execution the run made, pins and collects included.
    */
  final case class Record(name: String, pass: Int, error: Option[String],
      wallS: Double, planningMs: Long, jobs: Int, stages: Seq[Stage],
      pins: Pins.QueryPins) {
    def ok: Boolean = error.isEmpty

    /** One JSON object on one line: stage totals (bytes in MB, spill is
      * the in-memory size of spilled data) and the 5 stages with the
      * most task time.
      */
    def json: String = {
      def n(v: Double) = f"$v%.6f"
      def sum(f: Stage => Long) = stages.map(f).sum
      def mb(f: Stage => Long) = n(sum(f) / 1e6)
      val top = stages.sortBy(-_.taskMs).take(5).map(s =>
        s"""{"stage":${jsonString(s.name)},"site":${jsonString(s.site)},""" +
          s""""task_s":${n(s.taskMs / 1e3)},"tasks":${s.tasks}}""")
        .mkString("[", ",", "]")
      s"""{"name":${jsonString(name)},"pass":$pass,"ok":$ok,"error":""" +
        s"""${error.fold("null")(jsonString)},"wall_s":${n(wallS)},""" +
        s""""planning_ms":$planningMs,"jobs":$jobs,"stages":${stages.size},""" +
        s""""tasks":${sum(_.tasks)},"task_s":${n(sum(_.taskMs) / 1e3)},""" +
        s""""gc_s":${n(sum(_.gcMs) / 1e3)},"shuffle_read_mb":""" +
        s"""${mb(_.shuffleRead)},"shuffle_write_mb":${mb(_.shuffleWrite)},""" +
        s""""spill_mb":${mb(_.spill)},"pins":${pins.pinned},""" +
        s""""released_at_end":${pins.released},"memo_hits":""" +
        s"""${pins.memoHits},"leaked":${pins.leaked},"top_stages":$top}"""
    }
  }

  /** Run registry query `name` against `sfDir` into `sink`. */
  def apply(spark: SparkSession, sfDir: String, name: String, pass: Int)(
      sink: DataFrame => Unit): Record =
    apply(spark, sfDir, name, pass, SparkEntry.queries(name))(sink)

  /** Run `query` as `name`: the seam for a spec's own query function. */
  def apply(spark: SparkSession, sfDir: String, name: String, pass: Int,
      query: (SparkSession, String) => DataFrame)(
      sink: DataFrame => Unit): Record = {
    val rec = recorder(spark)
    Bridge.drainListenerBus(spark.sparkContext)
    rec.reset()
    var error: Option[String] = None
    var wall = 0.0
    val pins = Pins.inQuery(spark) {
      val t0 = System.nanoTime()
      try sink(query(spark, sfDir))
      catch { case NonFatal(e) =>
        error = Some(Option(e.getMessage).getOrElse(e.getClass.getName)) }
      wall = (System.nanoTime() - t0) / 1e9
    }
    Bridge.drainListenerBus(spark.sparkContext)
    val (jobs, planningMs, stages) = rec.snapshot()
    Record(name, pass, error, wall, planningMs, jobs, stages, pins)
  }

  /** `s` as a JSON string literal. Escapes backslash, quote and ALL
    * control chars (< 0x20): a tab or CR in builder-authored SQL would
    * otherwise make a `json.load` of `oracle_sql.json` fail and silently
    * zero a correctness run.
    */
  def jsonString(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** The session's jobs, stages and Catalyst phase time since the last
    * `reset`; read after `Bridge.drainListenerBus`.
    */
  private final class Recorder extends SparkListener
      with QueryExecutionListener {
    private var jobs = 0
    private var planningMs = 0L
    private val stages = ArrayBuffer.empty[Stage]

    def reset(): Unit = synchronized {
      jobs = 0; planningMs = 0L; stages.clear()
    }
    def snapshot(): (Int, Long, Vector[Stage]) =
      synchronized((jobs, planningMs, stages.toVector))

    override def onJobStart(e: SparkListenerJobStart): Unit =
      synchronized(jobs += 1)

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val s = e.stageInfo
      val m = s.taskMetrics
      // the generic async-checkpoint thread name hides the real site;
      // pull the first operator frame out of the long-form call site,
      // and the operator scopes from the stage's RDD chain (AQE query
      // stages otherwise all look alike)
      val site = s.details.linesIterator.find(l => l.contains("graft.") &&
          !l.contains("graft.Run") && !l.contains("graft.engine.Pins"))
        .fold("")(_.trim.stripPrefix("at "))
      val scopes = s.rddInfos.flatMap(_.scope)
        .map(_.name.takeWhile(_ != '\n')).distinct.take(5).mkString(">")
      val st = Stage(s.name, s"$site [$scopes]", m.executorRunTime,
        s.numTasks, m.jvmGCTime, m.shuffleReadMetrics.totalBytesRead,
        m.shuffleWriteMetrics.bytesWritten, m.memoryBytesSpilled)
      synchronized(stages += st)
    }

    private def planned(qe: QueryExecution): Unit = {
      val ms = qe.tracker.phases.values.map(_.durationMs).sum
      synchronized(planningMs += ms)
    }
    def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      planned(qe)
    def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
      planned(qe)
  }

  private val recorders = WeakHashMap.empty[SparkSession, Recorder]

  /** The session's recorder, registered on its first run. */
  private def recorder(s: SparkSession): Recorder = recorders.synchronized {
    recorders.getOrElseUpdate(s, {
      val r = new Recorder
      s.sparkContext.addSparkListener(r)
      s.listenerManager.register(r)
      r
    })
  }
}

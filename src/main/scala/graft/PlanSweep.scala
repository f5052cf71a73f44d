package graft

import org.apache.spark.sql.execution.{CollectLimitExec, GlobalLimitExec,
  LocalLimitExec, SparkPlan, TakeOrderedAndProjectExec}
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.util.QueryExecutionListener

import graft.engine.PrefixScan

/** Whole-registry physical-plan audit: builds every `SparkEntry.queries`
  * plan against an SF dir and reports, per query, the operators that are
  * red flags at scale:
  *
  *  - `CartesianProduct` — always a bug here; gates (exit 1).
  *  - `BroadcastNestedLoopJoin` — legal only for the audited one-row /
  *    dimension-bound broadcasts (bbox range joins, corpus-total frames);
  *    reported, not gated.
  *  - an UNPARTITIONED `WindowExec` whose input is not provably bounded —
  *    the q84/q204 single-partition-rank class: a
  *    `row_number().over(Window.orderBy(…))` ranking a full data-grain
  *    frame funnels everything through one task. The engine discipline is
  *    TakeOrdered-then-rank (`Lexical.vocabCoverage`), so the sweep walks
  *    below every empty-partitionSpec window through unary nodes and
  *    accepts only a limit (`TakeOrderedAndProject`/`GlobalLimit`/
  *    `LocalLimit`/`CollectLimit`) or a grand (grouping-free, 1-row)
  *    aggregate. Anything else — including a `WindowGroupLimit`-pruned
  *    rank-filter, which still exchanges k·partitions rows into one task
  *    — is flagged and GATES unless the query is in the audited
  *    [[boundedWindowAllowlist]] (windows over literal lattices /
  *    calendar-grain frames whose cardinality is bounded by construction,
  *    each with the reason recorded here).
  *
  * Because most operators `Pins.pin` their output (an eager local
  * checkpoint), the interesting window/join nodes execute DURING query
  * construction and vanish from the final plan (the pin re-reads an
  * RDD scan). The sweep therefore registers a [[QueryExecutionListener]]
  * and audits every interior `QueryExecution` the build triggers (pins,
  * driver-loop collects), not just the returned frame's plan.
  *
  * Each query is one [[Run]] whose sink is the audit, so its pins are
  * released before the next query is built.
  *
  * Usage: `runMain graft.PlanSweep <sfDir>`
  */
object PlanSweep {

  /** Audited-benign unpartitioned windows: query name → reason the frame
    * below the window is bounded by construction even though the plan
    * shape can't prove it. Keep this list SHORT and each entry argued.
    */
  val boundedWindowAllowlist: Map[String, String] = Map(
    "q134_daily_reach" ->
      "cumsum over the DAY grain - calendar-sized at any data scale",
    "q223_heaps_law" ->
      ("cum curve at docs/bucketSize grain; callers size bucketSize to " +
        "O(100) points (op scaladoc contract)"),
    "q243_curriculum_order" ->
      ("offset window over bucket-grain counts (n_tokens DIV width " +
        "buckets, a few thousand rows at any corpus size)"),
    "q279_neyman_allocation" ->
      "seat-dealing windows over the stratum grain - a dimension axis",
    "q324_median_of_means" ->
      "median pick over the g-row bucket frame (g = literal mod, 15)",
    "q327_best_split" ->
      ("prefix-sum over the feature-value score lattice - bounded by " +
        "the op contract (unbounded domains route through ecdfPaired)"))

  /** True when `p` hits a node that bounds the frame to a driver-sized
    * row count. Walks down through unary nodes; through BROADCAST joins
    * it follows the streamed side (the `crossJoin(broadcast(1-row
    * total))` idiom leaves the frame's cardinality untouched); any other
    * binary node stops the walk — a limit on one side of a shuffle join
    * does not bound the join.
    */
  @annotation.tailrec
  def boundedBelow(p: SparkPlan): Boolean = p match {
    case _: TakeOrderedAndProjectExec => true
    case _: GlobalLimitExec => true
    case _: LocalLimitExec => true
    case _: CollectLimitExec => true
    // grand (1-row) aggregate, or the prefix scan's offset frame:
    // grouped solely on its partition-id column -> at most
    // numShufflePartitions rows
    case a: BaseAggregateExec if a.groupingExpressions.isEmpty ||
        a.groupingExpressions.forall(_.name == PrefixScan.PidCol) => true
    case j: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec =>
      boundedBelow(j.buildSide match {
        case org.apache.spark.sql.catalyst.optimizer.BuildLeft => j.right
        case org.apache.spark.sql.catalyst.optimizer.BuildRight => j.left
      })
    case j: org.apache.spark.sql.execution.joins
        .BroadcastNestedLoopJoinExec =>
      boundedBelow(j.buildSide match {
        case org.apache.spark.sql.catalyst.optimizer.BuildLeft => j.right
        case org.apache.spark.sql.catalyst.optimizer.BuildRight => j.left
      })
    case u if u.children.size == 1 => boundedBelow(u.children.head)
    case _ => false
  }

  /** All rule violations in one physical plan: (kind, node summary). */
  def audit(plan: SparkPlan): Seq[(String, String)] = {
    val cart = plan.collect {
      case p if p.nodeName.contains("CartesianProduct") =>
        ("cartesian", p.nodeName)
    }
    val bnlj = plan.collect {
      case p if p.nodeName.contains("BroadcastNestedLoopJoin") =>
        ("bnlj", p.nodeName)
    }
    val windows = plan.collect {
      case w: WindowExec if w.partitionSpec.isEmpty &&
          !boundedBelow(w.child) =>
        ("unboundedGlobalWindow",
          w.windowExpression.map(_.sql).mkString(", ").take(120))
    }
    cart ++ bnlj ++ windows
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = Harness.session()
    // plain trees for the walk; AQE re-plan doesn't change the audited
    // logical shapes, it only wraps them
    spark.conf.set("spark.sql.adaptive.enabled", "false")

    // interior plans (checkpoints, loop collects) arrive async on the
    // listener bus; buffer them and take them per query once the bus
    // has delivered every event posted so far
    val captured = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]
    spark.listenerManager.register(new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution,
          durationNs: Long): Unit = captured.add(qe.executedPlan)
      def onFailure(funcName: String, qe: QueryExecution,
          exception: Exception): Unit = ()
    })
    def drain(): Seq[SparkPlan] = {
      Bridge.drainListenerBus(spark.sparkContext)
      val out = Vector.newBuilder[SparkPlan]
      while (!captured.isEmpty) out += captured.poll()
      out.result()
    }

    var cartesian = 0; var bnlj = 0; var failed = 0; var gatedWindows = 0
    var allowedWindows = 0
    SparkEntry.queries.keys.toSeq.sorted.foreach { name =>
      val r = Run(spark, sfDir, name, 1) { df =>
        val finalPlan = df.queryExecution.executedPlan
        val plans = drain() :+ finalPlan
        val findings = plans.flatMap(audit).distinct
        findings.foreach {
          case ("cartesian", node) =>
            cartesian += 1
            println(s"[plansweep] CARTESIAN $name: $node")
          case ("bnlj", node) =>
            bnlj += 1
            println(s"[plansweep] bnlj $name: $node")
          case ("unboundedGlobalWindow", node) =>
            if (boundedWindowAllowlist.contains(name)) {
              allowedWindows += 1
              println(s"[plansweep] window-allowed $name " +
                s"(${boundedWindowAllowlist(name)}): $node")
            } else {
              gatedWindows += 1
              println(s"[plansweep] GLOBAL-WINDOW $name: $node")
            }
          case _ => ()
        }
      }
      r.error.foreach { m =>
        failed += 1
        drain()
        println(s"[plansweep] FAILED $name: $m")
      }
    }
    println(s"[plansweep] queries=${SparkEntry.queries.size} " +
      s"cartesian=$cartesian bnlj=$bnlj globalWindows=$gatedWindows " +
      s"allowedWindows=$allowedWindows failed=$failed")
    spark.stop()
    if (cartesian > 0 || failed > 0 || gatedWindows > 0) sys.exit(1)
  }
}

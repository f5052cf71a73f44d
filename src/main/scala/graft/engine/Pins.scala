package graft.engine

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.internal.SQLConf

/** The engine's one caching policy. A frame that more than one reader
  * scans is PINNED: materialized into executor blocks by an eager local
  * checkpoint before any reader runs. Readers then scan the same blocks
  * — concurrent stages of one job (a broadcast build next to a shuffle
  * map side) cannot each re-run the frame's subtree, which is what a
  * lazily cached frame does when its readers race the first fill.
  * Nothing in the engine caches lazily, so that race cannot happen. A
  * pin keeps the output partitioning and ordering of the plan that
  * produced it, reports its stored size to the planner (both as a lazy
  * cache did, see `Bridge.checkpointed`) and truncates its lineage.
  *
  * Lifetime: pins that only an operator's interior reads are taken with
  * [[scoped]], which pins the operator's result and then releases them.
  * A pin that a returned LAZY frame still reads cannot be released by
  * the operator; it is left to Spark's `ContextCleaner`, which drops the
  * blocks once the frame is garbage. This object keeps no references.
  *
  * This file is the only place in `src/main` that calls Spark's cache
  * API; `PinGateSpec` fails the build on a raw call anywhere else
  * (docs/SCALE.md "Caching policy").
  */
private[graft] object Pins {

  /** Eagerly checkpoint `df` into executor blocks (one job, now). */
  def pin(df: DataFrame): DataFrame = {
    val ckpt = df.localCheckpoint(true)
    Bridge.checkpointed(ckpt, df,
      storedBytes(ckpt, ckpt.queryExecution.analyzed))
  }

  /** Pin `df` lazily and run its sole first reader: `first` receives
    * the pinned frame, and the job it triggers is the one that
    * materializes the blocks — checkpoint and first read fused into ONE
    * job. `first` must run a job that reads every partition once (a
    * count, a collect, an eager pin of a frame derived from it); the
    * unmaterialized pin never leaves this call.
    */
  def pinWith[A](df: DataFrame)(first: DataFrame => A): (DataFrame, A) = {
    val ckpt = df.localCheckpoint(false)
    val a = first(Bridge.checkpointed(ckpt, df, None))
    (Bridge.checkpointed(ckpt, df,
      storedBytes(ckpt, ckpt.queryExecution.analyzed)), a)
  }

  /** Drop the blocks of every pin `df` reads (its `LogicalRDD` leaves).
    * Idempotent; the frame must not be read afterwards.
    */
  def release(df: DataFrame): Unit =
    df.queryExecution.analyzed.foreach {
      case lr: LogicalRDD => lr.rdd.unpersist(blocking = false)
      case _ => ()
    }

  /** The pins one [[scoped]] body takes; all released when it ends. */
  final class Scope private[Pins] {
    private[Pins] val held = ArrayBuffer.empty[DataFrame]

    def pin(df: DataFrame): DataFrame = hold(Pins.pin(df))

    def loopCache(df: DataFrame, key: String, n: Int,
        skipIfSession: Boolean = false): DataFrame =
      hold(Pins.loopCache(df, key, n, skipIfSession))

    /** Release a pin of this scope before the scope ends (a loop's
      * previous round, once its successor is pinned).
      */
    def release(df: DataFrame): Unit = {
      Pins.release(df)
      held -= df
    }

    private def hold(p: DataFrame): DataFrame = { held += p; p }
  }

  /** Run `body`, pin its result, then release every pin the body took
    * through its [[Scope]] — also when the body throws. The result is
    * materialized before anything it was built from is released.
    */
  def scoped(body: Scope => DataFrame): DataFrame = {
    val s = new Scope
    try pin(body(s))
    finally s.held.foreach(release)
  }

  /** Data-derived partition count for the loop-invariant pinned frames
    * of the iterative algorithms (guide §2.2 "fewer, larger reduce
    * partitions", §2 "make partitioning scale-adaptive"): AQE cannot
    * coalesce a per-round exchange that must co-partition with a PINNED
    * frame (the pin is a materialized RDD scan, not an AQE shuffle, so
    * EnsureRequirements pins the derived side to the pin's partition
    * count) — which makes the pin's own count the loop's per-round
    * task count for every round. Sizing it from the session constant
    * buys `rounds × sessionParts` near-empty tasks on a small graph and
    * nothing at scale; size it from the DATA instead:
    * `ceil(plan-estimated bytes / coalescePartitions.minPartitionSize)`
    * clamped to `[1, sessionParts]` — the same parallelism-first floor
    * AQE itself applies when it coalesces a free-standing exchange
    * (measured here: the 64 MB advisory target collapsed a 485k-edge
    * loop to ONE partition and serialized ~1 s/round of real join+agg
    * CPU; the 1 MB floor keeps those rounds parallel while still
    * cutting the 32-task overhead — per-stage task-time SUM was 9.5 s
    * at 32 tasks vs 1.1 s of actual work). The clamp keeps the
    * operator's configured parallelism whenever the estimate is large
    * (any real table at 100 TB — behavior there is unchanged), and a
    * stats-less plan (LogicalRDD without origin stats reports
    * defaultSizeInBytes = Long.MaxValue) lands in the same no-change
    * branch. Reading `optimizedPlan.stats` is driver-side analysis
    * only — nothing executes.
    */
  def loopParts(df: DataFrame): Int = {
    val conf = df.sparkSession.sessionState.conf
    val sessionParts = math.max(conf.numShufflePartitions, 1)
    val target = BigInt(math.max(
      conf.getConf(SQLConf.COALESCE_PARTITIONS_MIN_PARTITION_SIZE), 1L))
    val plan = df.queryExecution.optimizedPlan
    // Plan-stat estimates are size-in-bytes products for joins (a
    // 58 MB pinned edge memo measured 2.19 TB by estimate). When the
    // frame derives ONLY from materialized pins, the block manager
    // knows their TRUE size — sum it. Mixed or unmaterialized leaves
    // keep the estimate (and its conservative clamp).
    val bytes: BigInt =
      if (plan.collectLeaves().forall(_.isInstanceOf[LogicalRDD]))
        storedBytes(df, plan).getOrElse(plan.stats.sizeInBytes)
      else plan.stats.sizeInBytes
    if (bytes <= 0) sessionParts
    else ((bytes + target - 1) / target).min(BigInt(sessionParts))
      .max(BigInt(1)).toInt
  }

  /** Stored bytes of the pins `plan` reads (its `LogicalRDD` leaves),
    * divided by 4 because pinned blocks are DESERIALIZED rows (~4× the
    * serialized bytes the planner's size thresholds are calibrated
    * for); None unless every pin is materialized.
    */
  private def storedBytes(df: DataFrame,
      plan: LogicalPlan): Option[BigInt] = {
    val ids = plan.collect { case lr: LogicalRDD => lr.rdd.id }
    val info = df.sparkSession.sparkContext.getRDDStorageInfo
    val sizes = ids.map(id => info.find(_.id == id)
      .map(i => BigInt(i.memSize) + BigInt(i.diskSize)))
    if (ids.nonEmpty && sizes.forall(_.isDefined))
      Some(sizes.flatten.sum / 4)
    else None
  }

  /** Pin a loop-invariant frame: repartition+sort `df` on its per-round
    * join key at the data-derived [[loopParts]] count, then [[pin]] it
    * (the pin keeps both, so every round's sort-merge join reads it
    * without an exchange or a sort). With `skipIfSession = true` (for
    * frames whose upstream operator — typically a `distinct()` on the
    * same key — already hash-partitions them at the session count), the
    * exchange is added ONLY when the derived count is smaller: at scale
    * the frame keeps riding the upstream exchange exactly as before, and
    * on a small graph one tiny build-time exchange buys `rounds ×`
    * fewer per-round tasks.
    */
  def loopCache(df: DataFrame, key: String, n: Int,
      skipIfSession: Boolean = false): DataFrame = {
    val sessionParts =
      math.max(df.sparkSession.sessionState.conf.numShufflePartitions, 1)
    val base = if (skipIfSession && n >= sessionParts) df
               else df.repartition(n, col(key))
    pin(base.sortWithinPartitions(key))
  }

  /** Shrink a PER-ROUND node-grain loop frame to the loop's derived
    * partition count before pinning — applied ONLY when the derived
    * count is below the session constant, so at scale this is the
    * identity and the round keeps its map-side-combined aggregate
    * exchange untouched. Locally it fixes what AQE cannot: a pinned
    * per-round frame freezes its aggregate's session-constant partition
    * count (pinned plans are not re-partitioned by AQE), so every
    * subsequent round's union/map side pays `sessionParts` near-empty
    * tasks; hash-partitioning on `key` at the loop count also
    * co-partitions the frontier join with the [[loopCache]]d edge frame
    * (alias-aware partitioning survives the rename).
    */
  def loopShrink(df: DataFrame, key: String, n: Int): DataFrame = {
    val sessionParts =
      math.max(df.sparkSession.sessionState.conf.numShufflePartitions, 1)
    if (n >= sessionParts) df else df.repartition(n, col(key))
  }
}

package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.physical.{HashPartitioning,
  Partitioning, PartitioningCollection, RangePartitioning, SinglePartition}
import org.apache.spark.sql.classic
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec

/** Spark 4 removed the public `new Column(expr: Expression)` constructor
  * (Column is now backed by ColumnNode for Connect parity). This bridge
  * lives under `org.apache.spark.sql` so it can reach the `private[sql]`
  * classic converter, giving graft's custom Catalyst expressions a typed
  * `Column` wrapper without reflection.
  */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Register a Catalyst function builder into a LIVE session's registry
    * (`sessionState` is private[sql]; the config-time path is
    * `spark.sql.extensions` = graft.functions.GraftExtensions).
    */
  def registerFunction(spark: org.apache.spark.sql.SparkSession, name: String,
      info: org.apache.spark.sql.catalyst.expressions.ExpressionInfo,
      builder: Seq[Expression] => Expression): Unit =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.functionRegistry.registerFunction(
        org.apache.spark.sql.catalyst.FunctionIdentifier(name), info, builder)

  /** `ckpt`, a local checkpoint of `origin`, as the planner should see
    * it. The checkpoint takes its partitioning and ordering from the
    * executed plan's root, which under AQE is the adaptive wrapper and
    * reports neither — so a frame hash-partitioned and sorted on a join
    * key would be re-exchanged and re-sorted by every join that reads
    * it. The final adaptive plan knows both; they are kept when its
    * partitioning is one a non-adaptive checkpoint would report (hash,
    * range or single — not an AQE-coalesced read, which only lines up
    * inside its own plan) over exactly the checkpoint RDD's partitions.
    * The checkpoint's size is the optimizer's estimate (for a join, the
    * product of its inputs); `storedBytes`, once the blocks exist, caps
    * it, so a small pinned frame still broadcasts.
    */
  def checkpointed(ckpt: DataFrame, origin: DataFrame,
      storedBytes: Option[BigInt]): DataFrame =
    ckpt.queryExecution.analyzed match {
      case lr: LogicalRDD =>
        val (part, order) = origin.queryExecution.executedPlan match {
          case aqe: AdaptiveSparkPlanExec =>
            firstLeaf(aqe.executedPlan.outputPartitioning) match {
              case p @ (_: HashPartitioning | _: RangePartitioning |
                  SinglePartition)
                  if p.numPartitions == lr.rdd.getNumPartitions =>
                (p, aqe.executedPlan.outputOrdering)
              case _ => (lr.outputPartitioning, lr.outputOrdering)
            }
          case _ => (lr.outputPartitioning, lr.outputOrdering)
        }
        val stats = storedBytes.fold(lr.stats)(b => lr.stats.copy(
          sizeInBytes = lr.stats.sizeInBytes.min(b.max(1))))
        val session = ckpt.sparkSession.asInstanceOf[classic.SparkSession]
        classic.Dataset.ofRows(session, LogicalRDD(lr.output, lr.rdd, part,
          order, lr.isStreaming, lr.stream)(
          session, Some(stats), Some(lr.constraints)))
      case _ => ckpt
    }

  /** The first leaf of a `PartitioningCollection` (what the checkpoint
    * itself does, so deep join chains do not grow the collection).
    */
  @scala.annotation.tailrec
  private def firstLeaf(p: Partitioning): Partitioning = p match {
    case c: PartitioningCollection => firstLeaf(c.partitionings.head)
    case other => other
  }
}

package graft.engine

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The engine's one corpus-wide prefix scan (Blelloch, "Prefix Sums and
  * Their Applications", CMU-CS-90-190, 1990), with NO single-partition
  * window: range-partition the rows on the scan order (Spark's
  * RangePartitioner keeps equal keys in one partition, so a tie block
  * never straddles a boundary), scan inside each range partition, then
  * add each partition's offset — the running total of the partitions
  * before it, from a broadcast frame of one row per partition. Cost: one
  * range exchange, one partition-local sort, one tiny offset frame — the
  * shape that replaces every corpus-grain `Window.orderBy` (the
  * single-partition sort Spark itself warns about).
  *
  * The ranged frame is pinned before its two readers: the local scan and
  * the offset aggregate must see the SAME partition boundaries, but each
  * branch re-plans the exchange under AQE, and differently-coalesced
  * upstreams make the range sampler draw different boundaries per branch
  * — then `spark_partition_id()` names different ranges in the two
  * branches and every offset is misattributed (caught at sf0.1 by the
  * q287 gate; invisible at smaller SFs where both branches coalesce
  * identically).
  *
  * The partition count is data-derived ([[Pins.loopParts]]): answers do
  * not depend on it, only the task count does. This file is the only
  * place in `src/main` that reads `spark_partition_id()` (`PinGateSpec`).
  */
private[graft] object PrefixScan {

  /** The partition-id column of a [[rangePin]]ned frame — the one name
    * `PlanSweep.boundedBelow` accepts as an offset aggregate's grouping
    * key (at most numShufflePartitions rows).
    */
  private[graft] val PidCol = "__ps_pid"

  /** Range-partition `df` on `order` into `nPart` partitions, tag each
    * row with its partition id ([[PidCol]]) and pin the result, so every
    * reader sees the same boundaries.
    */
  private[engine] def rangePin(df: DataFrame, order: Seq[Column],
      nPart: Int): DataFrame =
    Pins.pin(df.repartitionByRange(nPart, order: _*)
      .withColumn(PidCol, spark_partition_id()))

  /** Adds, for every `(weight, name)` pair, column `name` = the INCLUSIVE
    * running sum of `weight.cast("long")` in `order`, all from one pass:
    * one range exchange, one pin, one per-partition window and one
    * broadcast offset frame. Equal to
    * `sum(weight) OVER (ORDER BY order ROWS UNBOUNDED PRECEDING)` for any
    * total order — null weights are skipped and the sum is null only
    * while no weight so far is non-null. With ties the inclusive sum at
    * the LAST row of a tie block (the only position rank-selection ever
    * reads) is tie-permutation-invariant.
    */
  private[graft] def globalCumSum(df: DataFrame, order: Seq[Column],
      sums: (Column, String)*): DataFrame = {
    val ids = sums.indices
    val weighted = df.select(col("*") +: ids.map(i =>
      sums(i)._1.cast("long").as(s"__ps_w$i")): _*)
    val part = rangePin(weighted, order, Pins.loopParts(df))
    val local = Window.partitionBy(col(PidCol)).orderBy(order: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val before = Window.orderBy(col(PidCol))
      .rowsBetween(Window.unboundedPreceding, -1)
    val totals = ids.map(i => sum(col(s"__ps_w$i")).as(s"__ps_n$i"))
    val off = part.groupBy(col(PidCol)).agg(totals.head, totals.tail: _*)
      .select(col(PidCol) +: ids.map(i =>
        sum(col(s"__ps_n$i")).over(before).as(s"__ps_o$i")): _*)
    val scanned = part.select(col("*") +: ids.map(i =>
        sum(col(s"__ps_w$i")).over(local).as(s"__ps_l$i")): _*)
      .join(broadcast(off), Seq(PidCol))
    // an offset or local sum is null while its weights so far all are
    ids.foldLeft(scanned) { (f, i) =>
      val (o, l) = (col(s"__ps_o$i"), col(s"__ps_l$i"))
      f.withColumn(sums(i)._2, coalesce(o + l, o, l))
    }.drop(PidCol +: ids.flatMap(i =>
      Seq(s"__ps_w$i", s"__ps_l$i", s"__ps_o$i")): _*)
  }

  /** Adds `rankCol` = 1-based position of each row under `order` — the
    * weight-1 [[globalCumSum]]; identical to `row_number() OVER (ORDER
    * BY order)` whenever `order` is total, and on ties the permutation
    * within the tie block is arbitrary either way.
    */
  private[graft] def globalRank(df: DataFrame, order: Seq[Column],
      rankCol: String): DataFrame = globalCumSum(df, order, lit(1) -> rankCol)
}

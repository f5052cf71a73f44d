package graft.streaming

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Structured Streaming showcase (SURVEY §2.9): the reference is strictly
  * batch, so streaming is an extension — the batch window aggregation
  * reused under `readStream`. The transform is written against a plain
  * DataFrame so the SAME function serves batch (oracle-checked) and
  * streaming (watermarked). Each function here is one a registry query
  * calls and oracle-checks.
  */
object Streaming {

  /** Tumbling-window event aggregation: count + mean value per
    * (window, event_type). On a stream, `withWatermark` bounds state; on a
    * batch frame the watermark is a no-op and the result is
    * oracle-checkable SQL.
    */
  def windowedCounts(events: DataFrame, tsCol: String, windowLen: String,
      watermark: Option[String] = None): DataFrame = {
    val src = watermark match {
      case Some(w) => events.withWatermark(tsCol, w)
      case None    => events
    }
    src.groupBy(window(col(tsCol), windowLen), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"))
      .select(col("window.start").as("w_start"),
        col("window.end").as("w_end"), col("event_type"), col("n"),
        col("sum_value"))
  }

  /** Sliding-window variant (window + slide) — the streaming face of
    * OP-WIN-1's trailing-window semantics.
    */
  def slidingCounts(events: DataFrame, tsCol: String, windowLen: String,
      slide: String): DataFrame =
    events.groupBy(window(col(tsCol), windowLen, slide))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("w_start"), col("n"))

  /** Batch face of a streaming CDC apply (latest wins per key, a delete
    * drops the key's state and retracts a live key with a tombstone) for
    * a two-micro-batch replay, exposing the TOMBSTONE-VISIBLE output
    * shape to the SQL oracle (hash oracles
    * cannot replay per-micro-batch state, but they CAN check one batch
    * boundary expressed relationally). The feed is split at `splitTs`
    * into batch 1 (`ts < splitTs`, establishes state) and batch 2
    * (`ts >= splitTs`); the result is exactly what such a stream emits
    * for batch 2: for every key batch 2 touches, its current row
    * (latest non-delete, `live = true`) — or, when batch 2 ends in a
    * delete AND batch 1 left the key live, a tombstone (`live = false`,
    * null payload, the delete's ts). A batch-2 delete of a key batch 1
    * never materialized emits nothing, mirroring the stream's
    * state-existence check. `tiebreakCols` totally order same-timestamp
    * rows per key (the stream relies on arrival order there; a gate
    * query must not).
    *
    * Plan: one exchange on the key — both phase windows and the
    * liveness join cluster on it.
    */
  def cdcApplyBatch(feed: DataFrame, keyCol: String, tsCol: String,
      opCol: String, payloadCol: String, splitTs: Column,
      tiebreakCols: Seq[String] = Nil): DataFrame = {
    val (p1, p2) = cdcPhaseLasts(feed, keyCol, tsCol, opCol, payloadCol,
      splitTs, tiebreakCols)
    val live1 = p1.filter(col("op") =!= "D")
      .select(col("key"), lit(true).as("__live1"))
    p2.join(live1, Seq("key"), "left")
      .filter(col("op") =!= "D" || col("__live1").isNotNull)
      .select(col("key"), col("ts"),
        when(col("op") =!= "D", col("payload")).as("payload"),
        (col("op") =!= "D").as("live"))
  }

  /** The materialized current table after the same two-batch replay as
    * [[cdcApplyBatch]] — what an idempotent sink holds once batch 2's
    * emission (tombstones applied as retractions) lands: batch-1 keys
    * batch 2 never touched, plus batch 2's live rows.
    */
  def cdcStateTable(feed: DataFrame, keyCol: String, tsCol: String,
      opCol: String, payloadCol: String, splitTs: Column,
      tiebreakCols: Seq[String] = Nil): DataFrame = {
    val (p1, p2) = cdcPhaseLasts(feed, keyCol, tsCol, opCol, payloadCol,
      splitTs, tiebreakCols)
    val untouched = p1.filter(col("op") =!= "D")
      .join(p2.select(col("key")), Seq("key"), "left_anti")
    untouched.unionByName(p2.filter(col("op") =!= "D"))
      .select(col("key"), col("ts"), col("payload"), lit(true).as("live"))
  }

  /** Shared phase split for the CDC batch faces: per key, the LAST feed
    * row (by ts + tiebreaks) of each phase, normalized to
    * (key, ts, op, payload).
    */
  private def cdcPhaseLasts(feed: DataFrame, keyCol: String, tsCol: String,
      opCol: String, payloadCol: String, splitTs: Column,
      tiebreakCols: Seq[String]): (DataFrame, DataFrame) = {
    val normalized = feed.select((Seq(col(keyCol).as("key"),
      col(tsCol).as("ts"), col(opCol).as("op"),
      col(payloadCol).as("payload")) ++ tiebreakCols.map(col)): _*)
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("key"))
      .orderBy((col("ts").desc +: tiebreakCols.map(col(_).desc)): _*)
    def lastPerKey(phase: DataFrame): DataFrame = phase
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .select(col("key"), col("ts"), col("op"), col("payload"))
    (lastPerKey(normalized.filter(col("ts") < splitTs)),
      lastPerKey(normalized.filter(col("ts") >= splitTs)))
  }

  /** Windowed PSI drift monitor — the streaming face of
    * [[graft.engine.Relational.psiReport]] against a FIXED reference
    * histogram (`refPpm(b)` = the reference's exact-ppm mass of bin `b`,
    * typically psiReport's ref column exported from the training
    * snapshot). Single-aggregate form: the per-bin counters are `nBins`
    * conditional aggregates in ONE `groupBy(window)` — a chained
    * two-level aggregate would be illegal under streaming Append mode —
    * and psi is then pure column arithmetic over the window-grain row.
    * Current-side ppm shares are exact integer floor division; bins
    * empty on either side contribute 0 (the batch face's unsmoothed
    * convention); the float term chain is a FIXED left-to-right fold
    * over bin index, so the sum order is engine-stable. On a batch
    * frame the watermark is a no-op and the result is oracle-checkable
    * SQL; on a stream, state per window is `nBins + 1` longs.
    */
  def psiWindowed(events: DataFrame, tsCol: String, valCol: String,
      windowLen: String, refPpm: Seq[Long], lo: Double, hi: Double,
      watermark: Option[String] = None): DataFrame = {
    val nBins = refPpm.size
    require(nBins > 0 && hi > lo, "need bins and lo < hi")
    require(refPpm.forall(p => p >= 0 && p <= 1000000L),
      "reference masses are ppm in [0, 1e6]")
    val binW = (hi - lo) / nBins
    val bin = least(greatest(floor((col(valCol) - lo) / binW), lit(0.0)),
      lit((nBins - 1).toDouble)).cast("int")
    val src = watermark.fold(events)(events.withWatermark(tsCol, _))
    val counters = (0 until nBins).map(b =>
      count_if(col("__bin") === b).as(s"__c$b"))
    val agg = src.filter(col(valCol).isNotNull).withColumn("__bin", bin)
      .groupBy(window(col(tsCol), windowLen))
      .agg(counters.head, counters.tail: _*)
    val n = (0 until nBins).map(b => col(s"__c$b")).reduce(_ + _)
    val terms = refPpm.zipWithIndex.map { case (ref, b) =>
      val ppm = expr(s"(__c$b * 1000000) DIV __n")
      if (ref == 0L) lit(0d)
      else when(ppm > 0,
        (ppm - lit(ref)).cast("double") / 1000000d *
          log(ppm.cast("double") / lit(ref.toDouble))).otherwise(lit(0d))
    }.reduce(_ + _)
    agg.withColumn("__n", n)
      .withColumn("psi", round(terms, 6))
      .select(col("window.start").as("w_start"), col("__n").as("n"),
        col("psi"))
  }

  /** Windowed KS drift monitor — the streaming companion of
    * [[psiWindowed]] and the fixed-grid face of
    * [[graft.engine.Relational.ksReportFromPaired]]: per event-time window, the
    * max absolute gap between the window's empirical CDF and a FIXED
    * reference CDF, both read at `nBins` fixed grid edges
    * (`refCumPpm(b)` = the reference's exact-ppm cumulative mass at
    * bin `b`'s upper edge; the last entry is 10⁶ by construction).
    * Grid resolution is the monitor's contract — this is the
    * binned-KS ops face, not the exact merged-support statistic (the
    * batch `ksReport` is that); at nBins grid cells the gap
    * understates true KS by at most the cell's reference mass.
    * ALL-INTEGER: per-bin counters are conditional aggregates in ONE
    * `groupBy(window)` (Append-mode legal), cumulative counts are a
    * fixed fold over bin index, current CDF ppm is exact floor
    * division, and `d_ppm = max_b |cum_ppm_b − refCumPpm(b)|` — no
    * float anywhere (`ks` is the one rounded readout). On a batch
    * frame the watermark is a no-op and the result is
    * oracle-checkable SQL; on a stream, state per window is
    * `nBins + 1` longs.
    */
  def ksWindowed(events: DataFrame, tsCol: String, valCol: String,
      windowLen: String, refCumPpm: Seq[Long], lo: Double, hi: Double,
      watermark: Option[String] = None): DataFrame = {
    val nBins = refCumPpm.size
    require(nBins > 0 && hi > lo, "need bins and lo < hi")
    require(refCumPpm.forall(p => p >= 0 && p <= 1000000L) &&
      refCumPpm == refCumPpm.sorted && refCumPpm.last == 1000000L,
      "reference is a cumulative ppm CDF ending at 1e6")
    val binW = (hi - lo) / nBins
    val bin = least(greatest(floor((col(valCol) - lo) / binW), lit(0.0)),
      lit((nBins - 1).toDouble)).cast("int")
    val src = watermark.fold(events)(events.withWatermark(tsCol, _))
    val counters = (0 until nBins).map(b =>
      count_if(col("__bin") === b).as(s"__c$b"))
    val agg = src.filter(col(valCol).isNotNull).withColumn("__bin", bin)
      .groupBy(window(col(tsCol), windowLen))
      .agg(counters.head, counters.tail: _*)
    val n = (0 until nBins).map(b => col(s"__c$b")).reduce(_ + _)
    val gaps = refCumPpm.zipWithIndex.map { case (ref, b) =>
      abs(expr(s"((${(0 to b).map(i => s"__c$i").mkString(" + ")})" +
        s" * 1000000) DIV __n") - lit(ref))
    }
    agg.withColumn("__n", n)
      .withColumn("d_ppm", gaps.reduce(greatest(_, _)))
      .withColumn("ks", round(col("d_ppm").cast("double") / 1e6, 6))
      .select(col("window.start").as("w_start"), col("__n").as("n"),
        col("d_ppm"), col("ks"))
  }

}

package graft.engine

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge
import graft.functions.Int128Sum
import PrefixScan.{globalCumSum, globalRank}

/** The small relational glue operators of SURVEY §2.2/§2.5/§2.6 — each a
  * thin, typed wrapper over a single declarative Spark primitive so Catalyst
  * keeps full visibility (pushdown, pruning, codegen) through every one.
  */
object Relational {

  /** Scale-adaptive fan-out for compute-heavy row-local stages over
    * under-partitioned inputs (guide §2.5 "one huge unsplittable file →
    * repartition immediately after the read"): when `df` plans to fewer
    * partitions than the session's parallelism — the single-row-group
    * parquet file case, where the whole scan stage is ONE task and every
    * expensive generator/expression above it runs single-threaded — insert
    * one round-robin exchange up to `defaultParallelism` so the heavy
    * stage uses the machine. A no-op whenever the input already has
    * enough partitions (any real multi-file/multi-row-group table at
    * scale), so the exchange exists ONLY in the degenerate layout it
    * fixes; at 100 TB this never fires. Apply it BELOW the heavy compute
    * and ABOVE the operator's own scan filters, so predicate pushdown and
    * column pruning still reach the parquet scan.
    *
    * Only for ROW-LOCAL work: the round-robin exchange destroys any
    * keyed partitioning, so never place it between a repartition/join and
    * the operator that needs that key.
    */
  private[graft] def fanOut(df: DataFrame): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions >= target) df else df.repartition(target)
  }

  /** [[fanOut]] for KEYED compute (windows, keyed aggregations whose
    * per-row work dwarfs their bytes): hash-repartition on `keys` up to
    * `defaultParallelism` when the input plans to fewer partitions.
    * The explicit user partition count also stops AQE's byte-targeted
    * coalescing from collapsing a compute-heavy small-bytes window to
    * ONE task (observed: q210's 7-row sliding-median window over a 2 MB
    * shuffle ran single-threaded for 4 s — minPartitionSize=1m sees
    * bytes, not CPU). Same no-op-at-scale contract as [[fanOut]]: any
    * realistically sized input already exceeds the session parallelism.
    */
  private[graft] def fanOutBy(df: DataFrame,
      keys: Seq[org.apache.spark.sql.Column]): DataFrame =
    fanOutBy(df, keys, df)

  /** [[fanOutBy]] with a separate `gauge` frame for the partition-count
    * probe: when the frame to spread sits ABOVE exchanges (a join/agg
    * output), probing ITS partitioning would force the AQE sub-plan to
    * execute at plan time — gauge on the raw scan below it instead
    * (same scale signal: a big input never trips the fan-out).
    */
  private[graft] def fanOutBy(df: DataFrame,
      keys: Seq[org.apache.spark.sql.Column],
      gauge: DataFrame): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    if (gauge.rdd.getNumPartitions >= target) df
    else df.repartition(target, keys: _*)
  }

  /** Σa over an integral column, exact: the 128-bit
    * [[graft.functions.Int128Sum]] aggregate. It returns what the sum of
    * `a` cast to `decimal(38,0)` returns (type, NULL on no input, ANSI
    * overflow error) without that sum's per-row BigDecimal buffer.
    */
  def exactSum(a: Column): Column = exactSumOf(a)

  /** Σa·b over integral columns, exact: the `decimal(38,0)` sum of
    * `a.cast("decimal(38,0)") * b`; see [[exactSum]].
    */
  def exactSumProd(a: Column, b: Column): Column = exactSumOf(a, b)

  private def exactSumOf(factors: Column*): Column =
    Bridge.column(Int128Sum(factors.map(Bridge.expression))
      .toAggregateExpression())

  /** The engine's IEEE double sum whose order does not depend on
    * partitioning: per `groupCols` group (none = one global row), collect
    * the `(order…, value)` structs, sort them, and fold `value` left to
    * right from 0.0 into `outCol`. `order` must be unique within a group,
    * so the fold order is fixed; `extraAggs` ride the same aggregate. The
    * arrays hold one entry per row of the group, so callers sum
    * bucket-, group- or list-bounded terms only.
    */
  private[graft] def orderedSum(df: DataFrame, groupCols: Seq[Column],
      order: Seq[Column], value: Column, outCol: String,
      extraAggs: Column*): DataFrame =
    df.groupBy(groupCols: _*)
      .agg(sort_array(collect_list(struct(order :+ value.as("__osv"): _*)))
        .as("__os"), extraAggs: _*)
      .withColumn(outCol, aggregate(col("__os"), lit(0.0d),
        (acc, x) => acc + x.getField("__osv")))
      .drop("__os")

  /** OP-PRJ-1 — bulk column rename applied only to columns that exist
    * (`dataset.py:237-244`: the reference filters the rename map to present
    * columns before applying).
    */
  def applyRename(df: DataFrame, renames: Map[String, String]): DataFrame = {
    val present = renames.filter { case (from, _) => df.columns.contains(from) }
    df.withColumnsRenamed(present)
  }

  /** OP-PRJ-2 — drop helper columns, ignoring absent ones (`core.py:297`,
    * `dataset.py:70,114`).
    */
  def dropCols(df: DataFrame, cols: String*): DataFrame = df.drop(cols: _*)

  /** OP-PRJ-3 — literal/derived column add (`core.py:201`,
    * `dataset.py:116-120`).
    */
  def addColumns(df: DataFrame, cols: (String, Column)*): DataFrame =
    df.withColumns(cols.toMap)

  /** OP-FLT-1 — time-range filter (`processor.py:54-62`). The reference also
    * validates the requested range against the frame's min/max and raises —
    * [[timeBounds]] supplies that check as a 1-row aggregate.
    */
  def timeRange(df: DataFrame, timeCol: String, start: String,
      end: String): DataFrame =
    df.filter(col(timeCol).between(lit(start).cast("timestamp"),
      lit(end).cast("timestamp")))

  def timeBounds(df: DataFrame, timeCol: String): DataFrame =
    df.agg(min(col(timeCol)).as("t_min"), max(col(timeCol)).as("t_max"))

  /** OP-FLT-2 — top-of-hour filter: minute==0 and second==0
    * (`processor.py:52`).
    */
  def topOfHour(df: DataFrame, timeCol: String): DataFrame =
    df.filter(minute(col(timeCol)) === 0 && second(col(timeCol)) === 0)

  /** OP-FLT-3 — any-null row filter (the gap-fill worklist,
    * `processor.py:89-109`): rows where ANY of the given columns is null.
    */
  def anyNull(df: DataFrame, cols: Seq[String]): DataFrame =
    df.filter(cols.map(col(_).isNull).reduce(_ || _))

  /** OP-FLT-4 — sentinel-to-null (`dataset.py:144`: `xco2 >= 1e10` → null).
    * Expressed as a `when` guard so it stays a pure projection.
    */
  def sentinelToNull(df: DataFrame, c: String, sentinelMin: Double): DataFrame =
    df.withColumn(c, when(col(c) < sentinelMin, col(c)))

  /** OP-FLT-6 — duplicate elimination on a key subset (`dataset.py:99`).
    * Spark's dropDuplicates keeps an ARBITRARY survivor per key — fine for
    * the reference's use (duplicates are exact row copies after
    * re-projection), but for deterministic output prefer
    * [[dedupDeterministic]] which keeps the row with the minimal tiebreak.
    */
  def dropDupOnKeys(df: DataFrame, keys: Seq[String]): DataFrame =
    df.dropDuplicates(keys)

  /** Deterministic dedup: min_by over a tiebreak column — one hash
    * aggregate, no window sort, survives any partitioning.
    */
  def dedupDeterministic(df: DataFrame, keys: Seq[String],
      tiebreak: String): DataFrame = {
    val others = df.columns.filterNot(keys.contains).toSeq
    df.groupBy(keys.map(col): _*)
      .agg(min_by(struct(others.map(col): _*), col(tiebreak)).as("__row"))
      .select(keys.map(col) ++ others.map(c => col(s"__row.$c").as(c)): _*)
  }

  /** OP-SORT-1 — multi-key sort (`dataset.py:51,54,80`, `core.py:204-206`).
    * A global sort is a range-partitioned exchange; at 100 TB only do this
    * for final presentation or write-ordering, never mid-pipeline.
    */
  def sortBy(df: DataFrame, keys: Seq[(String, Boolean)]): DataFrame =
    df.orderBy(keys.map { case (c, asc) =>
      if (asc) col(c).asc else col(c).desc }: _*)

  /** OP-SET-1 — coordinate-aligned union (`dataset.py:33,307`): disjoint
    * time ranges over the same grid merge as a by-name union. No shuffle —
    * Spark unions are pure plan concatenation.
    */
  def unionAligned(dfs: Seq[DataFrame]): DataFrame =
    dfs.reduce(_.unionByName(_, allowMissingColumns = true))

  /** OP-SET-2 — concat along a new dimension (`dataset.py:169`): tag each
    * input with its coordinate value, then union.
    */
  def concatAlong(dfs: Seq[(Column, DataFrame)], dimName: String): DataFrame =
    dfs.map { case (v, df) => df.withColumn(dimName, v) }
      .reduce(_ unionByName _)

  /** OP-AGG-1 — monthly mean over the time dim keeping spatial keys
    * (`dataset.py:46,79`).
    */
  def monthlyMean(df: DataFrame, timeCol: String, keyCols: Seq[String],
      valueCols: Seq[String]): DataFrame =
    df.groupBy((date_trunc("month", col(timeCol)).as("year_month") +:
        keyCols.map(col)): _*)
      .agg(avg(valueCols.head).as(s"${valueCols.head}_mean"),
        valueCols.tail.map(c => avg(c).as(s"${c}_mean")): _*)

  /** OP-AGG-5 — distinct values (`dataset.py:49,130-131`). */
  def distinctValues(df: DataFrame, cols: Seq[String]): DataFrame =
    df.select(cols.map(col): _*).distinct()

  /** OP-AGG-6 — pivot to wide: one output column per EXPLICIT pivot value
    * (`count` of matching rows). The value list is required, not
    * discovered: an implicit `.pivot(col)` runs a blocking distinct scan
    * first AND would make the output schema data-dependent — at 100 TB
    * both are wrong (schema must be stable for downstream writers; the
    * scan is a full extra pass). With explicit values the whole pivot
    * compiles to ONE hash aggregate of conditional counts — map-side
    * partial, single shuffle on the group keys, no distinct pass.
    */
  def pivotCounts(df: DataFrame, groupCols: Seq[String], pivotCol: String,
      values: Seq[String]): DataFrame =
    df.groupBy(groupCols.map(col): _*)
      .agg(count(when(col(pivotCol) === values.head, 1)).as(values.head),
        values.tail.map(v =>
          count(when(col(pivotCol) === v, 1)).as(v)): _*)

  /** OP-SET-3 — unpivot / melt: wide value columns to (key, variable,
    * value) long form. Pure per-row array explode (`stack`-equivalent) —
    * no shuffle at any scale; nulls kept so melt(pivot(x)) is lossless.
    */
  def unpivot(df: DataFrame, idCols: Seq[String], valueCols: Seq[String],
      varName: String = "variable", valName: String = "value"): DataFrame =
    df.select(idCols.map(col) :+ explode(array(valueCols.map(c =>
      struct(lit(c).as(varName), col(c).cast("double").as(valName))): _*))
      .as("__kv"): _*)
      .select(idCols.map(col) :+ col(s"__kv.$varName") :+
        col(s"__kv.$valName"): _*)

  /** OP-AGG-7 — exact percentile summary per group (linear-interpolated,
    * the ANSI `percentile_cont` semantics). Exact percentiles need each
    * group's sorted values, so this is for REPORTING grains (per
    * event-type, per day — thousands of groups of bounded size), not
    * per-user grains; at corpus-wide grain use Spark's
    * `percentile_approx`, whose constant-memory sketch is the 100 TB form. One shuffle on the group
    * key; values rounded to 6 for cross-engine stability.
    */
  def percentileSummary(df: DataFrame, groupCols: Seq[String], c: String,
      probs: Seq[Double]): DataFrame = {
    val aggs = probs.map(p =>
      round(percentile(col(c), lit(p)), 6).as(s"p${(p * 100).toInt}"))
    df.groupBy(groupCols.map(col): _*).agg(aggs.head, aggs.tail: _*)
  }

  /** SCD-2 interval build from a change log: collapse consecutive rows
    * with an unchanged tracked attribute, then stamp each surviving state
    * with its validity interval (`valid_to` = next change's time, null
    * while current). The two window passes (change detection, interval
    * stamp) share one (key, time) partitioning — one exchange; the filter
    * between them shrinks the second sort to state-change rows only. The
    * attribute comparison is null-safe, so a null state is a state, not a
    * wildcard.
    */
  def scd2(df: DataFrame, keys: Seq[String], timeCol: String,
      attrCol: String, tiebreakCols: Seq[String] = Nil): DataFrame = {
    val byTime = Window.partitionBy(keys.map(col): _*)
      .orderBy((timeCol +: tiebreakCols).map(col): _*)
    df.select(keys.map(col) ++ tiebreakCols.map(col) :+
        col(attrCol) :+ col(timeCol): _*)
      .withColumn("__prev", lag(col(attrCol), 1).over(byTime))
      .withColumn("__first", row_number().over(byTime) === 1)
      .filter(col("__first") || !(col("__prev") <=> col(attrCol)))
      .withColumn("valid_from", col(timeCol))
      .withColumn("valid_to", lead(col(timeCol), 1).over(byTime))
      .withColumn("is_current",
        when(col("valid_to").isNull, 1).otherwise(0))
      .select(keys.map(col) :+ col(attrCol) :+ col("valid_from") :+
        col("valid_to") :+ col("is_current"): _*)
  }

  /** Per-group winsorization: clamp a value column to its group's
    * [pLo, pHi] exact percentile bounds (rounded to 6 on BOTH the bound
    * computation and the clamp, so the comparison is engine-stable). The
    * bounds frame is group-cardinality-sized — reporting grain — and is
    * broadcast; the fact side is never shuffled. Same exact-percentile
    * caveat as [[percentileSummary]]: for corpus-grain clamping use
    * approx quantiles instead.
    *
    * Rows whose group key is NULL keep their raw value: a NULL key never
    * equi-matches the bounds frame (even though the aggregate computes a
    * NULL-group row), so the join is LEFT and the clamp falls back to
    * the unclamped value — dropping them silently (the inner-join
    * behavior) would shrink the output on dirty keys.
    */
  def winsorize(df: DataFrame, groupCols: Seq[String], c: String,
      pLo: Double, pHi: Double): DataFrame = {
    val bounds = df.groupBy(groupCols.map(col): _*)
      .agg(round(percentile(col(c), lit(pLo)), 6).as("__lo"),
        round(percentile(col(c), lit(pHi)), 6).as("__hi"))
    df.join(broadcast(bounds), groupCols, "left")
      .withColumn(s"${c}_w", when(col("__lo").isNull, col(c))
        .otherwise(least(greatest(col(c), col("__lo")), col("__hi"))))
      .drop("__lo", "__hi")
  }

  /** Skew-safe distinct-value list per key: the sorted distinct values of
    * `valueCol` for each key, as a CSV string (arrays don't survive the
    * cross-engine comparator; sorting makes the output deterministic).
    *
    * Why two phases: a plain `groupBy(key).collect_set` routes EVERY ROW
    * of a hot key through one reducer — and set-collection, unlike
    * sum/count, gets no map-side partial aggregation relief for that
    * fan-in. Phase 1 groups on (key, salt-from-value) so a hot key's row
    * traffic spreads over `nSalts` tasks and each partial set is already
    * distinct; phase 2 merges only the nSalts partial sets per key. The
    * salt derives from the VALUE (same value → same salt → distinctness
    * preserved); it never affects the result, so a non-portable hash is
    * fine here. The CSV output assumes values without commas (event
    * types, status codes); free-text values need the array form — swap
    * the final `array_join` off.
    */
  def skewSafeDistinctList(df: DataFrame, keys: Seq[String],
      valueCol: String, nSalts: Int = 16): DataFrame =
    df.withColumn("__salt", pmod(hash(col(valueCol)), lit(nSalts)))
      .groupBy(keys.map(col) :+ col("__salt"): _*)
      .agg(collect_set(col(valueCol)).as("__vs"))
      .groupBy(keys.map(col): _*)
      .agg(flatten(collect_list(col("__vs"))).as("__all"))
      .select(keys.map(col) :+
        array_join(array_sort(col("__all")), ",").as("values_csv") :+
        size(col("__all")).as("n_distinct"): _*)

  /** Group-median imputation: null values get their group's exact median
    * (rounded to 6 on both the bound and the fill, per the
    * [[percentileSummary]] cross-engine contract). The medians frame is
    * group-cardinality-sized and broadcast; the fact side never
    * shuffles. Same reporting-grain caveat as every exact percentile:
    * corpus-grain imputation should use the approx sketch.
    */
  def imputeByGroup(df: DataFrame, groupCols: Seq[String],
      c: String): DataFrame = {
    val med = df.groupBy(groupCols.map(col): _*)
      .agg(round(percentile(col(c), lit(0.5)), 6).as("__med"))
    df.join(broadcast(med), groupCols, "left")
      .withColumn(s"${c}_filled", coalesce(col(c), col("__med")))
      .drop("__med")
  }

  /** One-hot encoding to an EXPLICIT vocabulary — same static-schema
    * contract as [[pivotCounts]]: unlisted values map to all-zeros (plus
    * an optional `<col>_other` catch-all flag), so the output schema
    * never depends on the data. Pure projection, codegen'd, no shuffle.
    */
  def oneHot(df: DataFrame, c: String, values: Seq[String],
      withOther: Boolean = true): DataFrame = {
    val hot = values.map(v =>
      when(col(c) === v, 1).otherwise(0).as(s"${c}_$v"))
    val other =
      if (withOther)
        Seq(when(col(c).isNotNull && !col(c).isin(values: _*), 1)
          .otherwise(0).as(s"${c}_other"))
      else Nil
    df.select(df.columns.map(col) ++ hot ++ other: _*)
  }

  /** Smoothed target encoding: each category's mean target, shrunk
    * toward the global mean by a pseudo-count prior —
    * `(Σy + m·ȳ) / (n + m)` — the standard leak-resistant categorical
    * featurizer. Target sums run in exact scaled integers (the
    * [[graft.engine.Windows.runningTotal]] determinism trick), so the
    * category mean is order-independent before the one rounded division.
    * Two tiny aggregates (category-keyed, global) + a broadcast join
    * back; the fact table is scanned once per aggregate and never
    * shuffled on the join.
    */
  def targetEncode(df: DataFrame, catCol: String, targetCol: String,
      smoothing: Double = 10.0, scale: Int = 100): DataFrame = {
    val cents = round(col(targetCol) * scale).cast("long")
    val perCat = df.groupBy(col(catCol))
      .agg(sum(cents).as("__s"), count(cents).as("__n"))
    val global = df.agg((sum(cents).cast("double") /
      (count(cents) * scale)).as("__gmean"))
    val enc = perCat.crossJoin(broadcast(global))
      .select(col(catCol),
        round((col("__s").cast("double") / scale +
          lit(smoothing) * col("__gmean")) /
          (col("__n") + lit(smoothing)), 6).as(s"${catCol}_enc"))
    df.join(broadcast(enc), Seq(catCol), "left")
  }

  /** Data-quality expectation report: each check is a boolean expectation
    * Column (true = row passes; a NULL verdict counts as a violation, so
    * an expectation over a null field fails loudly instead of slipping
    * through three-valued logic). ONE aggregate pass computes every
    * check's violation count plus the row total, then unpivots to long
    * form — k checks cost one scan, not k.
    */
  def qualityChecks(df: DataFrame,
      checks: Seq[(String, Column)]): DataFrame = {
    require(checks.nonEmpty, "need at least one check")
    val aggs = count(lit(1)).as("__n") +: checks.map { case (n, c) =>
      count_if(!coalesce(c, lit(false))).as(s"__v_$n")
    }
    df.agg(aggs.head, aggs.tail: _*)
      .select(explode(array(checks.map { case (n, _) => struct(
        lit(n).as("check_name"),
        col(s"__v_$n").as("n_violations"),
        col("__n").as("n_rows"))
      }: _*)).as("__c"))
      .select("__c.*")
  }

  /** Snapshot diff — the change-data-feed generator to [[mergeUpsert]]'s
    * consumer: classify every key as Insert (new only), Delete (old
    * only), or Update (both sides, any non-key column differs —
    * null-safely, so null→value and value→null are updates). Unchanged
    * keys drop out. One full-outer hash join on the key; both snapshots
    * bucketed on the key make it exchange-free — diffing two 100 TB
    * snapshots is then a co-located single pass. Output: keys, `op`,
    * and the non-key columns from both sides as `new_*` / `old_*`.
    */
  def snapshotDiff(oldDf: DataFrame, newDf: DataFrame,
      keys: Seq[String]): DataFrame = {
    val others = oldDf.columns.filterNot(keys.contains).toSeq
    val o = oldDf.withColumn("__in_old", lit(1))
    val n = newDf.withColumn("__in_new", lit(1))
    val changed = others.map(c => !(col(s"o.$c") <=> col(s"n.$c")))
      .reduce(_ || _)
    o.as("o").join(n.as("n"), keys, "full_outer")
      .withColumn("op",
        when(col("__in_old").isNull, lit("I"))
          .when(col("__in_new").isNull, lit("D"))
          .when(changed, lit("U")))
      .filter(col("op").isNotNull)
      .select(keys.map(col) ++ Seq(col("op")) ++
        others.map(c => col(s"n.$c").as(s"new_$c")) ++
        others.map(c => col(s"o.$c").as(s"old_$c")): _*)
  }

  /** CDC merge / upsert (the MERGE INTO shape without a table format):
    * `updates` rows overwrite matching `base` rows on `keys`, unmatched
    * updates insert, unmatched base rows pass through. One full-outer
    * hash join on the key partitioning; with both sides bucketed on the
    * key (the natural layout for a periodically-merged table) the
    * exchange disappears entirely — the 100 TB form is "sort-merge on
    * pre-bucketed layout", not a rewrite of the base table per batch.
    * Per-column `coalesce(update, base)` keeps the projection inside
    * whole-stage codegen — which also means an update row cannot NULL
    * OUT a populated base field (coalesce falls through); model field
    * erasure as a sentinel, or as delete+insert via [[snapshotDiff]]'s
    * feed.
    */
  def mergeUpsert(base: DataFrame, updates: DataFrame,
      keys: Seq[String]): DataFrame = {
    val others = base.columns.filterNot(keys.contains).toSeq
    base.as("b").join(updates.as("u"), keys, "full_outer")
      .select(keys.map(col) ++ others.map(c =>
        coalesce(col(s"u.$c"), col(s"b.$c")).as(c)): _*)
  }

  /** Fixed-width histogram: `nBins` equal bins over [lo, hi), out-of-range
    * values clamped to the edge bins so the row count is conserved. One
    * hash aggregate (map-side combined — at most `nBins` rows cross the
    * shuffle per task); bin bounds are re-derived from the bin index so
    * the output is exact integer/affine arithmetic, no float aggregation.
    */
  def histogram(df: DataFrame, c: String, lo: Double, hi: Double,
      nBins: Int): DataFrame = {
    require(hi > lo && nBins > 0, s"need lo < hi and nBins > 0, " +
      s"got [$lo, $hi) / $nBins")
    val w = (hi - lo) / nBins
    val bin = least(greatest(floor((col(c) - lo) / w), lit(0.0)),
      lit((nBins - 1).toDouble)).cast("int")
    df.filter(col(c).isNotNull).groupBy(bin.as("bin"))
      .agg(count(lit(1)).as("n"))
      .withColumn("bin_lo", round(lit(lo) + col("bin") * w, 6))
      .withColumn("bin_hi", round(lit(lo) + (col("bin") + 1) * w, 6))
  }

  /** Per-column profiling report in long form: value/null/distinct counts
    * and min/max for a set of numeric columns. The multi-distinct
    * aggregate plans as ONE pass with an Expand (k× map-side rows, k =
    * |cols|) — acceptable at reporting cadence for a handful of columns;
    * at 100 TB width swap the exact distinct for
    * Spark's `approx_count_distinct` HLL sketch, which collapses the Expand.
    */
  def profileNumeric(df: DataFrame, cols: Seq[String]): DataFrame = {
    val aggs = cols.flatMap(c => Seq(
      count(col(c)).as(s"${c}__n"),
      count_if(col(c).isNull).as(s"${c}__nulls"),
      countDistinct(col(c)).as(s"${c}__distinct"),
      min(col(c)).cast("double").as(s"${c}__min"),
      max(col(c)).cast("double").as(s"${c}__max")))
    // r14: the multi-countDistinct plans an Expand (k+1 rows per input
    // row) whose partial distinct-aggregate is CPU-bound — fan the
    // single-row-group fixture scan out below it (no-op at scale)
    fanOut(df.select(cols.map(col): _*))
      .agg(aggs.head, aggs.tail: _*)
      .select(explode(array(cols.map(c => struct(
        lit(c).as("col_name"),
        col(s"${c}__n").as("n_values"),
        col(s"${c}__nulls").as("n_nulls"),
        col(s"${c}__distinct").as("n_distinct"),
        col(s"${c}__min").as("min_value"),
        col(s"${c}__max").as("max_value"))): _*)).as("__p"))
      .select("__p.*")
  }

  /** OP-AGG-8 — hierarchical rollup: subtotals at every prefix of the
    * grouping hierarchy plus the grand total, in one pass (Spark expands
    * the grouping sets inside a single aggregate — one shuffle, not one
    * job per level). Null grouping cells are the standard rollup markers;
    * `grouping_id` disambiguates a real null key from a rolled-up one.
    */
  def rollupAgg(df: DataFrame, levels: Seq[String],
      aggs: (String, Column)*): DataFrame =
    // grouping_id() is only resolvable INSIDE the rollup aggregate
    df.rollup(levels.map(col): _*)
      .agg(aggs.head._2.as(aggs.head._1),
        (aggs.tail.map { case (n, c) => c.as(n) } :+
          grouping_id().cast("int").as("gid")): _*)

  /** Full CUBE over the grouping dimensions — every subset of `dims` gets
    * its subtotal row, in one pass (one Expand + one shuffle, not 2^k
    * jobs). Emits one 0/1 `g_<dim>` marker PER DIMENSION instead of the
    * combined grouping_id: the bit order of a packed id is an
    * engine-convention detail (Spark's MSB-first vs others'), while the
    * per-column marker is unambiguous everywhere.
    */
  def cubeAgg(df: DataFrame, dims: Seq[String],
      aggs: (String, Column)*): DataFrame =
    df.cube(dims.map(col): _*)
      .agg(aggs.head._2.as(aggs.head._1),
        (aggs.tail.map { case (n, c) => c.as(n) } ++
          dims.map(d => grouping(col(d)).cast("int").as(s"g_$d"))): _*)

  /** Robust outlier flags per group: modified z-score against the group's
    * median/MAD (`z = 0.6745·(x − med) / MAD`, Iglewicz–Hoaglin), flagged
    * at `|z| > zCut`. Median-based, so a heavy tail can't drag its own
    * threshold the way mean/stddev z-scores do. Two group-grain
    * aggregates (median, then MAD of residuals) + one broadcast join back
    * to the facts — the fact side is never shuffled. Groups with MAD = 0
    * (constant-valued) and rows with a NULL group key flag nothing and
    * carry a null z, same left-join fallback contract as [[winsorize]].
    * z is rounded to 6 dp on both engines; the flag compares the ROUNDED
    * z so the cut is repr-stable.
    */
  def madOutliers(df: DataFrame, groupCols: Seq[String], c: String,
      zCut: Double): DataFrame = {
    val med = df.groupBy(groupCols.map(col): _*)
      .agg(percentile(col(c), lit(0.5)).as("__med"))
    val mad = df.join(broadcast(med), groupCols)
      .groupBy(groupCols.map(col): _*)
      .agg(first(col("__med")).as("__med"),
        percentile(abs(col(c) - col("__med")), lit(0.5)).as("__mad"))
    df.join(broadcast(mad), groupCols, "left")
      .withColumn("robust_z",
        when(col("__mad") > 0d,
          round(lit(0.6745) * (col(c) - col("__med")) / col("__mad"), 6)))
      .withColumn("is_outlier",
        coalesce(abs(col("robust_z")) > zCut, lit(false)))
      .drop("__med", "__mad")
  }

  /** Per-group simple linear regression (slope / intercept / r²) with
    * ENGINE-EXACT sufficient statistics: x and y enter as integers (the
    * caller scales, e.g. cents), so Σx, Σy, Σxy, Σx², Σy² are integer
    * sums — exact and order-independent, immune to the FP-accumulation
    * nondeterminism that makes naive `regr_slope` hash-unstable across
    * engines. The closed forms combine those sums in DECIMAL(38,0) (the
    * n·Σxy − Σx·Σy products overflow a 64-bit long at ~10⁶ rows), then
    * divide once in double and round to 6 dp. One aggregate, one shuffle
    * at group grain. Degenerate groups (n < 2 or zero x-variance) yield
    * null coefficients.
    */
  def groupRegression(df: DataFrame, groupCols: Seq[String],
      xInt: Column, yInt: Column): DataFrame = {
    val d38 = "decimal(38,0)"
    val stats = df
      .select(groupCols.map(col) :+ xInt.cast("long").as("__x") :+
        yInt.cast("long").as("__y"): _*)
      .groupBy(groupCols.map(col): _*)
      // product sums go through decimal(38,0): Σy² over ~10⁶ rows of
      // cents² exceeds 2⁶³ and a long sum would WRAP silently
      .agg(count(lit(1)).as("n"), sum(col("__x")).as("sx"),
        sum(col("__y")).as("sy"),
        exactSumProd(col("__x"), col("__y")).as("sxy"),
        exactSumProd(col("__x"), col("__x")).as("sxx"),
        exactSumProd(col("__y"), col("__y")).as("syy"))
    val num = col("n").cast(d38) * col("sxy").cast(d38) -
      col("sx").cast(d38) * col("sy").cast(d38)
    val denX = col("n").cast(d38) * col("sxx").cast(d38) -
      col("sx").cast(d38) * col("sx").cast(d38)
    val denY = col("n").cast(d38) * col("syy").cast(d38) -
      col("sy").cast(d38) * col("sy").cast(d38)
    val slopeRaw = num.cast("double") / denX.cast("double")
    stats
      .withColumn("slope", when(denX > 0, round(slopeRaw, 6)))
      .withColumn("intercept", when(denX > 0, round(
        (col("sy").cast("double") - slopeRaw * col("sx").cast("double")) /
          col("n").cast("double"), 6)))
      .withColumn("r2", when(denX > 0 && denY > 0, round(
        (num.cast("double") * num.cast("double")) /
          (denX.cast("double") * denY.cast("double")), 6)))
      .drop("sx", "sy", "sxy", "sxx", "syy")
  }

  /** Association pairs over (transaction, item) co-occurrence — the
    * market-basket classic: for every unordered item pair {a, b} present
    * in the same transaction, support count, confidence(a→b), and lift,
    * the latter two in exact parts-per-million (integer floor division —
    * no FP ratio ever materializes, so the output is engine-exact).
    * Shape: distinct (txn, item) first (map-side combine shrinks dup
    * events), then a self-join on txn with `item_a < item_b`. Per-txn
    * item sets are vocabulary-bounded (event types, product categories),
    * so the join fan-out per transaction is k², k small — the standard
    * scale posture for pair mining; an unbounded item domain needs the
    * LSH family instead. `minSupport` prunes the pair tail.
    */
  def assocPairs(df: DataFrame, txnCol: String, itemCol: String,
      minSupport: Long): DataFrame = {
    val ti = df.select(col(txnCol).as("__t"), col(itemCol).as("__i"))
      .filter(col("__i").isNotNull).distinct()
    val nTxn = ti.select(countDistinct(col("__t")).as("__n"))
    // item totals ride each row as a WINDOW over the distinct frame
    // (item-partitioned — one exchange that ReuseExchange shares with
    // the self-join) instead of a separate aggregate + two joins back,
    // which would plan the corpus-sized distinct three more times
    val withCnt = ti.withColumn("__cnt",
      count(lit(1)).over(Window.partitionBy(col("__i"))))
    val pairs = withCnt.as("l")
      .join(withCnt.as("r"), col("l.__t") === col("r.__t") &&
        col("l.__i") < col("r.__i"))
      .groupBy(col("l.__i").as("item_a"), col("r.__i").as("item_b"))
      .agg(count(lit(1)).as("n_ab"), min(col("l.__cnt")).as("__na"),
        min(col("r.__cnt")).as("__nb"))
      .filter(col("n_ab") >= minSupport)
    pairs
      .crossJoin(broadcast(nTxn))
      // ppm combine in DECIMAL(38,0): n_ab·N·10⁶ passes 2⁶³ at ~3M
      // transactions — long arithmetic would throw under ANSI mode (or
      // wrap with it off) well inside this operator's design scale.
      // IntegralDivide accepts decimals, so DIV stays an exact floor.
      .select(col("item_a"), col("item_b"), col("n_ab"),
        expr("""(CAST(n_ab AS DECIMAL(38,0)) * 1000000) DIV __na""")
          .cast("long").as("conf_ppm"),
        expr("""(CAST(n_ab AS DECIMAL(38,0)) * __n * 1000000)
           DIV (CAST(__na AS DECIMAL(38,0)) * __nb)""")
          .cast("long").as("lift_ppm"))
  }

  /** Lower weighted median per group: the smallest value whose inclusive
    * cumulative weight reaches half the group's total (2·cumw ≥ totw —
    * integer arithmetic throughout, so the pick is engine-exact; no
    * interpolation, which would reintroduce FP). Weights are cast to
    * long — fractional weights should be pre-scaled by the caller.
    * Weights collapse per (group, value) FIRST, so the running sum is
    * over distinct values and row order within a value can't matter.
    * NULL values are excluded up-front (quantile semantics) — they would
    * otherwise sort differently across engines (Spark nulls-first vs
    * others' nulls-last) and skew the cumulative weights.
    * One aggregate + one group-keyed window; group grain output.
    */
  def weightedMedian(df: DataFrame, groupCols: Seq[String], valueCol: String,
      weightCol: String): DataFrame = {
    val gv = df
      .filter(col(valueCol).isNotNull)
      .groupBy((groupCols :+ valueCol).map(col): _*)
      .agg(sum(col(weightCol).cast("long")).as("__w"))
    val g = Window.partitionBy(groupCols.map(col): _*)
    gv.withColumn("__cw", sum(col("__w")).over(g.orderBy(col(valueCol))))
      .withColumn("__tw", sum(col("__w")).over(g))
      .filter(col("__cw") * 2 >= col("__tw"))
      .groupBy(groupCols.map(col): _*)
      .agg(min(col(valueCol)).as("weighted_median"))
  }

  /** Hot-key diagnostic: the `topK` heaviest keys with exact ppm share of
    * all rows — the report that decides whether a join needs
    * [[graft.engine.Joins.saltedEquiJoin]] or an aggregate needs
    * [[skewSafeDistinctList]]'s salting. The global top-k is a
    * TakeOrdered (no full sort); rank is a row_number over the already-
    * cut topK rows (driver-size — the one place a single-partition
    * window is the right call). Ties break on the key columns with
    * EXPLICIT nulls-last so the cut is total-ordered the same way on
    * every engine (a NULL key group is legal, and Spark's default
    * ascending order puts nulls first where most engines put them
    * last — a tie at the cut would otherwise keep different rows).
    */
  /** Population stability index (PSI) between a reference split and every
    * other split of one frame, over the same fixed-width edge-clamped
    * bins as [[histogram]]: per (split, bin),
    * `term = (p − q) · ln(p/q)` with p/q the bin's share in the current/
    * reference split. Shares are exact integer ppm (floor division), so
    * the binning and masses hash-stable; only the final `ln` term is
    * floating, rounded 6 dp. Bins empty on EITHER side contribute
    * nothing (the standard unsmoothed convention — documented, not
    * hidden: `ref_ppm`/`cur_ppm` are emitted so a zero-mass bin is
    * visible; bins with mass ONLY in the reference emit no row — their
    * term is zero under the same convention). Output one row per
    * (split, bin) with the term plus the split's `psi` total; the usual
    * read: < 0.1 stable, 0.1–0.25 drift to watch, > 0.25 investigate.
    *
    * Scale: one scan → one (split, bin) aggregate (cardinality
    * |splits|·nBins — tiny); the per-split totals and psi sums are
    * windows over that tiny frame, never a second scan.
    */
  def psiReport(df: DataFrame, splitCol: String, refValue: String,
      valCol: String, lo: Double, hi: Double, nBins: Int): DataFrame = {
    require(hi > lo && nBins > 0, "need lo < hi and nBins > 0")
    val w = (hi - lo) / nBins
    val bin = least(greatest(floor((col(valCol) - lo) / w), lit(0.0)),
      lit((nBins - 1).toDouble)).cast("int")
    val counts = df.filter(col(valCol).isNotNull)
      .groupBy(col(splitCol).as("split"), bin.as("bin"))
      .agg(count(lit(1)).as("__n"))
    val bySplit = Window.partitionBy(col("split"))
    // the reference column is a bin-partitioned window over the SAME tiny
    // counts frame, not a self-join of two filtered branches — that shape
    // re-executes the scan+aggregate once per branch (the SCALE.md
    // aggregate-totals-as-windows rule)
    val byBin = Window.partitionBy(col("bin"))
    val term = (col("cur_ppm") - col("ref_ppm")).cast("double") / 1000000d *
      log(col("cur_ppm").cast("double") / col("ref_ppm").cast("double"))
    counts
      .withColumn("__tot", sum(col("__n")).over(bySplit))
      .withColumn("__ppm", expr("(__n * 1000000) DIV __tot"))
      .withColumn("ref_ppm", coalesce(
        max(when(col("split") === refValue, col("__ppm"))).over(byBin),
        lit(0L)))
      .filter(col("split") =!= refValue)
      .withColumn("cur_ppm", col("__ppm"))
      .withColumn("psi_term",
        when(col("ref_ppm") > 0 && col("cur_ppm") > 0, round(term, 6))
          .otherwise(lit(0d)))
      .withColumn("psi", round(sum(col("psi_term")).over(bySplit), 6))
      .select(col("split"), col("bin"), col("ref_ppm"), col("cur_ppm"),
        col("psi_term"), col("psi"))
  }

  /** Benford first-digit audit per group: the distribution of the first
    * significant digit of a POSITIVE integer column against Benford's
    * law, with the expected masses as exact ppm LITERALS
    * (`⌊log₁₀(1+1/d)·10⁶⌉` precomputed — no engine's `ln` in the
    * output path at all). Emits per (group, digit): count, observed ppm
    * (exact floor division), expected ppm, and the signed ppm excess.
    * The first digit comes from the integer's decimal STRING (engines
    * agree on integer rendering; `floor(log10(x))` would risk boundary
    * ulps at exact powers of ten). Non-positive values are excluded
    * (Benford is defined on positive magnitudes). One aggregate;
    * output ≤ 9 rows per group.
    */
  def benfordReport(df: DataFrame, groupCols: Seq[String],
      valCol: String): DataFrame = {
    // round(log10(1+1/d)*1e6) for d = 1..9; sums to 1_000_000 exactly
    val expected = Seq(301030L, 176091L, 124939L, 96910L, 79181L,
      66947L, 57992L, 51153L, 45757L)
    val expectedCol = element_at(
      array(expected.map(lit): _*), col("digit").cast("int"))
    val digit = substring(col(valCol).cast("string"), 1, 1).cast("int")
    df.filter(col(valCol).isNotNull && col(valCol) > 0)
      .groupBy((groupCols.map(col) :+ digit.as("digit")): _*)
      .agg(count(lit(1)).as("n"))
      .withColumn("__tot",
        sum(col("n")).over(Window.partitionBy(groupCols.map(col): _*)))
      .withColumn("obs_ppm", expr("(n * 1000000) DIV __tot"))
      .withColumn("expected_ppm", expectedCol)
      .withColumn("excess_ppm", col("obs_ppm") - col("expected_ppm"))
      .drop("__tot")
  }

  /** Pairwise missingness matrix over `cols`: for every unordered column
    * pair, how often both / either are null — the co-missingness
    * structure that tells "these sensors fail together" apart from
    * independent gaps (complements [[profileNumeric]]'s per-column null
    * counts). ONE scan: all `k(k−1)/2` pair counters are conditional
    * aggregates in a single row, exploded to long form driver-free.
    */
  def missingnessMatrix(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.size >= 2, "need at least two columns")
    val pairs = for {
      i <- cols.indices; j <- cols.indices if i < j
    } yield (cols(i), cols(j))
    val aggs = count(lit(1)).as("n_rows") +: pairs.flatMap { case (a, b) =>
      Seq(
        count_if(col(a).isNull && col(b).isNull).as(s"__both_${a}_$b"),
        count_if(col(a).isNull || col(b).isNull).as(s"__any_${a}_$b"))
    }
    val row = df.agg(aggs.head, aggs.tail: _*)
    val stacked = explode(array(pairs.map { case (a, b) =>
      struct(lit(a).as("col_a"), lit(b).as("col_b"),
        col(s"__both_${a}_$b").as("n_both_null"),
        col(s"__any_${a}_$b").as("n_any_null"))
    }: _*)).as("__p")
    row.select(col("n_rows"), stacked)
      .select(col("__p.col_a").as("col_a"), col("__p.col_b").as("col_b"),
        col("__p.n_both_null").as("n_both_null"),
        col("__p.n_any_null").as("n_any_null"), col("n_rows"))
  }

  /** Gini concentration index per group over NON-NEGATIVE integer values
    * (null values excluded): with the group's values sorted ascending
    * (tiebroken into a total order) and 1-indexed,
    * `G = (2·Σ i·xᵢ − (n+1)·Σx) / (n·Σx)` — 0 = perfectly even,
    * → 1 = all mass on one member. The whole numerator accumulates in
    * DECIMAL(38,0) (exact, commutative — `Σ i·xᵢ` passes 2⁶³ at roughly
    * 3×10⁹ rows of moderate values, the same ANSI-overflow class the ppm
    * combines hit), and only the final ratio is floating, rounded 6 dp.
    * One rank window + one group aggregate; output is group-grain.
    * Groups with `Σx = 0` (all-zero values) have no concentration to
    * measure → null.
    */
  def giniIndex(df: DataFrame, groupCols: Seq[String], valCol: String,
      tiebreakCols: Seq[String]): DataFrame = {
    val d38 = "decimal(38,0)"
    val w = Window.partitionBy(groupCols.map(col): _*)
      .orderBy((col(valCol).asc +: tiebreakCols.map(col(_).asc)): _*)
    df.filter(col(valCol).isNotNull)
      .withColumn("__i", row_number().over(w))
      .groupBy(groupCols.map(col): _*)
      .agg(count(lit(1)).as("n"), sum(col(valCol)).as("sum_x"),
        exactSumProd(col("__i"), col(valCol)).as("__ix"))
      .withColumn("gini", when(col("sum_x") > 0, round(
        (lit(2).cast(d38) * col("__ix") -
          (col("n") + 1).cast(d38) * col("sum_x").cast(d38)).cast("double") /
        (col("n").cast("double") * col("sum_x").cast("double")), 6)))
      .drop("__ix")
  }

  /** Equi-depth binning report: rank rows into `nBins` same-size buckets
    * per group (ANSI `ntile` over a TOTAL order — pass tiebreak columns,
    * or tied boundary rows land in engine-dependent bins) and emit each
    * bucket's count and value range — the decile/percentile table that
    * feeds range-partition boundaries, SLA bands, and skew checks. One
    * window pass + one (group, bin)-grain aggregate; output is
    * `|groups| · nBins` rows.
    */
  def equiDepthBins(df: DataFrame, groupCols: Seq[String], valCol: String,
      tiebreakCols: Seq[String], nBins: Int): DataFrame = {
    require(nBins >= 1, "need at least one bin")
    val w = Window.partitionBy(groupCols.map(col): _*)
      .orderBy((valCol +: tiebreakCols).map(col): _*)
    df.withColumn("bin", ntile(nBins).over(w))
      .groupBy((groupCols :+ "bin").map(col): _*)
      .agg(count(lit(1)).as("n"), min(col(valCol)).as("lo"),
        max(col(valCol)).as("hi"))
  }

  /** Sparse paired ECDF shared by the drift reports ([[pairedReport]])
    * and [[mannWhitneyReport]]: for every non-reference split `s` and every
    * value observed in `s` OR in the reference split, the counts of both
    * samples at that value (`__t` for `s`, `__tr` for the reference; 0
    * where absent) and both running totals up to and including it
    * (`__cum`, `__cumr`) — the un-normalized two-sample ECDFs read on
    * the MERGED support of the pair, which is exactly where two-sample
    * statistics live (between merged support points both step functions
    * are constant, so the sup of `|F₁−F₂|` and the combined rank blocks
    * are unchanged by dropping the rest of the axis).
    *
    * This replaces the former dense (every split × every value observed
    * in ANY split) grid: per pair the frame now carries
    * `|support(s)| + |support(ref)|` rows instead of the full union
    * axis, which at high value cardinality with many splits was the
    * registry's single most expensive plan (q193, VERDICT r8/r9).
    *
    * Scale: counts collapse to (split, value) grain first (one hash
    * aggregate); the reference support is replicated only across the
    * (tiny, broadcast) non-reference split list; the prefix sums are the
    * two-level range trick — one window inside each fixed-width value
    * bucket (both measures share the window spec → a single pass) plus
    * broadcast per-bucket offsets — so no unpartitioned window ever sees
    * a full value axis. Counts and running totals are plain BIGINT (a
    * cum is a row count, safe to 9.2e18 rows); only the consumers' cross
    * PRODUCTS (`cum·N`, the tie cubes) can overflow, and they cast to
    * DECIMAL(38,0) at the multiply — keeping the hot window pass out of
    * decimal arithmetic. A missing reference split yields an all-zero
    * `__tr` column; callers guard on `Σ __tr > 0` to keep the "missing
    * reference → empty report, never a silent zero" contract. The
    * value-bucket column `__b` stays in the output: it is the bucket axis
    * of [[withPrevValue]]'s two-level lag.
    */
  private[graft] def ecdfPaired(df: DataFrame, splitCol: String,
      refValue: String, valCol: String, lo: Double, hi: Double,
      nBuckets: Int): DataFrame = Pins.scoped { s =>
    require(nBuckets >= 1 && hi > lo, "need a positive bucketed range")
    val width = (hi - lo) / nBuckets
    val zero = lit(0L)
    // The (split, value)-grain collapse and the bucketed prefix-sum frame
    // are each read by MULTIPLE downstream consumers, one of which is a
    // concurrent BroadcastExchange build (curSplits here, `off` below) —
    // both pinned (a lazy cache measured x2/x3 stage re-executions and
    // ~90 s of task time for a 7 MB frame in the q193/q194 cold build).
    // Both frames are value-lattice × splits grain — the documented cost
    // class of this operator family — so the pins are as bounded as the
    // result.
    val c = s.pin(df.filter(col(splitCol).isNotNull && col(valCol).isNotNull)
      .select(col(splitCol).cast("string").as("__s"),
        col(valCol).cast("long").as("__v"))
      .groupBy("__s", "__v").agg(count(lit(1)).as("__t")))
    val curSplits = c.filter(col("__s") =!= refValue)
      .select("__s").distinct()
    val refC = c.filter(col("__s") === refValue)
      .select(col("__v"), col("__t").as("__tr"))
    val merged = c.filter(col("__s") =!= refValue)
      .select(col("__s"), col("__v"), col("__t"), zero.as("__tr"))
      .unionByName(refC.crossJoin(broadcast(curSplits))
        .select(col("__s"), col("__v"), zero.as("__t"), col("__tr")))
      .groupBy("__s", "__v")
      .agg(sum(col("__t")).as("__t"), sum(col("__tr")).as("__tr"))
    val bucket = least(greatest(
        floor((col("__v").cast("double") - lo) / width), lit(0)),
      lit(nBuckets - 1)).cast("int")
    val wLocal = Window.partitionBy("__s", "__b").orderBy("__v")
      .rowsBetween(Window.unboundedPreceding, 0)
    val full = s.pin(merged
      .withColumn("__b", bucket)
      .withColumn("__local", sum(col("__t")).over(wLocal))
      .withColumn("__localr", sum(col("__tr")).over(wLocal)))
    val wOff = Window.partitionBy("__s").orderBy("__b")
      .rowsBetween(Window.unboundedPreceding, -1)
    val off = full.groupBy("__s", "__b")
      .agg(sum(col("__t")).as("__bt"), sum(col("__tr")).as("__btr"))
      .withColumn("__off", coalesce(sum(col("__bt")).over(wOff), zero))
      .withColumn("__offr", coalesce(sum(col("__btr")).over(wOff), zero))
      .select("__s", "__b", "__off", "__offr")
    full.join(broadcast(off), Seq("__s", "__b"))
      .withColumn("__cum", col("__off") + col("__local"))
      .withColumn("__cumr", col("__offr") + col("__localr"))
      .select("__s", "__v", "__b", "__t", "__tr", "__cum", "__cumr")
  }

  /** Two-sample Kolmogorov–Smirnov drift report over an [[ecdfPaired]]
    * frame: for every split against the `refValue` split,
    * `D = sup |F_ref − F_cur|` over the union support. The sup is kept EXACT until the last step: with counts
    * `cum` and totals `N`, `|F_r − F_c| = |cum_r·N_c − cum_c·N_r| /
    * (N_r·N_c)`, and the numerator max is integer DECIMAL(38,0)
    * arithmetic (safe past 2⁶³, the ANSI-overflow class at 10⁹-row
    * splits), so the report hashes engine-stable; only the final ratio
    * is floating, rounded 6 dp. Complements [[psiReport]]: KS is
    * binning-free (reads the exact ECDFs) where PSI reads a fixed
    * histogram. The frame's `lo`/`hi`/`nBuckets` only shape the internal
    * prefix-sum partitioning, never the statistic. Output one row per non-reference
    * split: `(split, n_ref, n_cur, d_num, ks)`; a missing reference
    * split yields an empty report (no rows to test against), never a
    * silent zero. KS and Wasserstein on the SAME (input, split, value)
    * config share one paired-ECDF materialization (the coPurchaseEdges
    * discipline; the paired frame is the expensive half of both
    * reports).
    */
  private[graft] def ksReportFromPaired(e: DataFrame): DataFrame =
    pairedReport(withPairedTotals(e, e),
      Seq(max(abs(pairedGap(exclusive = false))).as("__dnum")),
      col("__dnum").cast("long").as("d_num"), "ks",
      col("__dnum").cast("double") /
        (col("__nr2").cast("double") * col("__nc2").cast("double")))

  /** `rows` (the paired frame `e`, or a frame derived from it row for
    * row) joined to `e`'s broadcast per-split totals `__n` (current) and
    * `__nr` (reference), DECIMAL(38,0). Splits whose reference total is 0
    * are dropped: an absent reference split leaves `__tr` all-zero, and
    * the report is then empty, never a silent `F_ref = 0` statistic.
    */
  private def withPairedTotals(e: DataFrame, rows: DataFrame): DataFrame = {
    val d38 = "decimal(38,0)"
    val tot = e.groupBy("__s")
      .agg(sum(col("__t")).cast(d38).as("__n"),
        sum(col("__tr")).cast(d38).as("__nr"))
      .filter(col("__nr") > 0)
    rows.join(broadcast(tot), Seq("__s"))
  }

  /** The integer ECDF gap `cum_r·n_c − cum_c·n_r` over a
    * [[withPairedTotals]] frame, in DECIMAL(38,0): `|F_r − F_c|·n_r·n_c`
    * without a division. `exclusive` reads the cums before each row's
    * own counts (`cum − t`, the previous support point's inclusive
    * cums) — the height of the ECDF segment that ends at the row.
    */
  private def pairedGap(exclusive: Boolean): Column = {
    def cum(c: String, t: String) =
      (if (exclusive) col(c) - col(t) else col(c)).cast("decimal(38,0)")
    cum("__cumr", "__tr") * col("__n") - cum("__cum", "__t") * col("__nr")
  }

  /** The output tail shared by the paired-ECDF drift reports: per split,
    * `aggs` beside the totals `__nr2`/`__nc2`, then `(split, n_ref,
    * n_cur, num, stat)` with `stat = round(ratio, 6)` when both samples
    * are non-empty.
    */
  private def pairedReport(rows: DataFrame, aggs: Seq[Column], num: Column,
      stat: String, ratio: Column): DataFrame =
    rows.groupBy(col("__s").as("split"))
      .agg(max(col("__nr")).as("__nr2"),
        max(col("__n")).as("__nc2") +: aggs: _*)
      .select(col("split"), col("__nr2").cast("long").as("n_ref"),
        col("__nc2").cast("long").as("n_cur"), num,
        when(col("__nr2") > 0 && col("__nc2") > 0, round(ratio, 6))
          .as(stat))

  /** `e` plus `__vp`, the previous support value of each row's split
    * (null at the split's minimum): a lag inside each `__b` value bucket,
    * else the broadcast maximum of the nearest non-empty bucket before it
    * (≤ nBuckets rows per split) — the prefix sums' two-level trick, no
    * unpartitioned window.
    */
  private def withPrevValue(e: DataFrame): DataFrame = {
    val wPrev = Window.partitionBy("__s").orderBy("__b")
      .rowsBetween(Window.unboundedPreceding, -1)
    val pb = e.groupBy(col("__s"), col("__b"))
      .agg(max(col("__v")).as("__bm"))
      .withColumn("__pb", max(col("__bm")).over(wPrev))
      .select(col("__s"), col("__b"), col("__pb"))
    e.withColumn("__pl", lag(col("__v"), 1)
        .over(Window.partitionBy("__s", "__b").orderBy("__v")))
      .join(broadcast(pb), Seq("__s", "__b"))
      .withColumn("__vp", coalesce(col("__pl"), col("__pb")))
  }

  /** Mann–Whitney U rank-sum test of every split against `refValue`,
    * tie-corrected. All sufficient statistics are EXACT integers on the
    * shared [[ecdfGrid]]: with per-value counts `t` and exclusive
    * combined ranks `cb`, the DOUBLED rank sum of the current sample is
    * `Σ t_c·(2·cb + t_all + 1)` (average ranks over a tie block are
    * half-integers, so doubling keeps them integral), the doubled U is
    * `u2 = R2 − n_c·(n_c+1)`, and the tie correction `Σ (t³ − t)`
    * accumulates alongside — DECIMAL(38,0) throughout. The normal
    * approximation `z = (u2 − n_r·n_c) / √(n_r·n_c·((N+1)·N·(N−1) − T) /
    * (3·N·(N−1)))` is the only floating step, rounded 6 dp; an all-tied
    * pair has `T = N³−N` exactly, so the zero-variance guard is an exact
    * integer test, never a float-residue division. Output per split:
    * `(split, n_ref, n_cur, u2, z)` with `u2` the doubled U of the
    * current sample (so `U = u2/2`, possibly half-integer under ties).
    */
  def mannWhitneyReport(df: DataFrame, splitCol: String, refValue: String,
      valCol: String, lo: Double, hi: Double, nBuckets: Int): DataFrame = {
    val e = ecdfPaired(df, splitCol, refValue, valCol, lo, hi, nBuckets)
    val d38 = "decimal(38,0)"
    val cb = (col("__cum") - col("__t")) + (col("__cumr") - col("__tr"))
    val tAll = col("__t") + col("__tr")
    // the paired frame's counts/cums are BIGINT; every cross product
    // below routes through DECIMAL(38,0) at the multiply (rank terms are
    // ~N², tie terms ~t³ — past 2⁶³ at 10⁹-row splits)
    e.withColumn("__cb", cb).withColumn("__ta", tAll)
      .groupBy(col("__s").as("split"))
      .agg(sum(col("__tr")).as("__nr"), sum(col("__t")).as("__nc"),
        sum(col("__t").cast(d38) * (col("__cb").cast(d38) * 2
          + col("__ta") + 1)).as("__r2"),
        sum(col("__ta").cast(d38) * col("__ta") * col("__ta")
          - col("__ta")).as("__tie"))
      // missing reference → empty report (the __tr column is all-zero),
      // matching the former inner-join-on-reference behavior
      .filter(col("__nr") > 0)
      .withColumn("__u2",
        col("__r2") - col("__nc").cast(d38) * (col("__nc") + 1))
      .withColumn("__nn", col("__nr") + col("__nc"))
      .withColumn("__var3",
        (col("__nn").cast(d38) + 1) * col("__nn") * (col("__nn") - 1)
          - col("__tie"))
      .select(col("split"), col("__nr").cast("long").as("n_ref"),
        col("__nc").cast("long").as("n_cur"),
        col("__u2").cast("long").as("u2"),
        when(col("__nr") > 0 && col("__nc") > 0 && col("__var3") > 0,
          round((col("__u2") - col("__nr").cast(d38) * col("__nc"))
              .cast("double") /
            sqrt(col("__nr").cast("double") * col("__nc").cast("double") *
              (col("__var3").cast("double") /
                (col("__nn").cast(d38) * col("__nn") * 3
                  - col("__nn") * 3).cast("double"))), 6))
          .as("z"))
  }

  /** Two-sample 1-D Wasserstein (earth-mover) drift report over an
    * [[ecdfPaired]] frame, every split against `refValue`:
    * `W₁ = ∫ |F_ref − F_cur| dx`, the area between the two ECDFs — the
    * drift statistic that, unlike [[ksReportFromPaired]]'s sup-norm,
    * weighs HOW FAR mass moved (a 1-cent shift of every price and a 10-dollar shift of 0.1% of prices have
    * the same KS but very different W₁; t-closeness-style audits read
    * exactly this). Shares [[ecdfPaired]] with KS/Mann-Whitney.
    *
    * Exactness: the ECDF is a right-continuous step function, so the
    * integral is `Σ_v |F_r(v⁻) − F_c(v⁻)| · (v − v_prev)` over the
    * merged sparse value axis — and the EXCLUSIVE cums `cum − t` ARE
    * the previous row's inclusive cums, so every segment height is the
    * integer `|excr·N_c − excc·N_r|` in DECIMAL(38,0). Only `v_prev`
    * needs order context: [[withPrevValue]] reads it off the paired
    * frame's own value buckets, no unpartitioned window. The
    * global minimum value has no predecessor AND zero exclusive cums,
    * so its segment is exactly 0 either way. `w1_micro = (Σ·10⁶) DIV
    * (N_r·N_c)` is integral floor division of non-negative operands
    * (floor = truncate on both engines); `w1` is the one floating
    * ratio, rounded 6 dp. Numerator bound: Σ ≤ N_r·N_c·(hi−lo), inside
    * DECIMAL(38,0) past 10⁹-row splits on 10¹²-wide integer axes.
    * Output per non-reference split: `(split, n_ref, n_cur, w1_micro,
    * w1)` in the `valCol` units; a missing reference split yields an
    * empty report, never a silent zero.
    */
  private[graft] def wassersteinReportFromPaired(e: DataFrame): DataFrame =
    pairedReport(withPairedTotals(e, withPrevValue(e)),
      Seq(sum(when(col("__vp").isNotNull,
        abs(pairedGap(exclusive = true)) * (col("__v") - col("__vp")))
        .otherwise(lit(0).cast("decimal(38,0)"))).as("__wnum")),
      expr("(__wnum * 1000000) DIV (__nr2 * __nc2)").as("w1_micro"), "w1",
      col("__wnum").cast("double") /
        (col("__nr2").cast("double") * col("__nc2").cast("double")))

  /** Two-sample Cramér–von Mises drift report over an already-built
    * [[ecdfPaired]] frame — the L²-norm member of the drift family:
    * where KS reads the sup gap and W₁ the area, CvM reads the MEAN
    * SQUARED gap under the pooled empirical measure,
    * `T = (n_r·n_c/N²)·Σ_v t_all(v)·(F_r(v) − F_c(v))²` — sensitive to
    * many small departures across the whole range that a single-point
    * sup misses. Exactness: with inclusive cums, each gap is the
    * integer `d = cum_r·n_c − cum_c·n_r` over the common denominator
    * `n_r·n_c`, so the sufficient statistic is `Σ t_all·d²` in
    * DECIMAL(38,0) and `T = Σ/(N²·n_r·n_c)`. Magnitude bound:
    * `Σ ≤ N·(n_r·n_c)²` — inside 38 digits to ~10⁹-row splits (the
    * momentsSketch-s4 class, documented not guarded). `cvm_micro` is a
    * floor division of non-negative integers; `cvm` is the one float,
    * rounded 6 dp. Output per non-reference split: `(split, n_ref,
    * n_cur, cvm_micro, cvm)`; a missing reference split yields an
    * empty report. Scale: one hash aggregate over the paired frame —
    * no window, no join beyond the broadcast totals.
    */
  private[graft] def cvmReportFromPaired(e: DataFrame): DataFrame = {
    val d = pairedGap(exclusive = false)
    val nn = (col("__nr2") + col("__nc2")).cast("double")
    pairedReport(withPairedTotals(e, e),
      Seq(sum((col("__t") + col("__tr")).cast("decimal(38,0)") * d * d)
        .as("__num")),
      expr("(__num * 1000000) DIV ((__nr2 + __nc2) * (__nr2 + __nc2) " +
        "* __nr2 * __nc2)").cast("long").as("cvm_micro"), "cvm",
      col("__num").cast("double") / (nn * nn *
        col("__nr2").cast("double") * col("__nc2").cast("double")))
  }

  /** Two-sample Anderson–Darling drift report over an already-built
    * [[ecdfPaired]] frame (Pettitt 1976 two-sample form of
    * Scholz–Stephens, ties kept): CvM's squared ECDF gap re-weighted by
    * `1/(H·(1−H))` under the pooled ECDF `H` — the weight diverges at
    * the tails, making AD the drift statistic that catches TAIL
    * departures (new extreme prices, truncation) that both KS and CvM
    * down-weight. For two samples the per-sample Scholz–Stephens terms
    * collapse (M₁+M₂ = B, n₁+n₂ = N) to
    * `A² = (1/(n_r·n_c))·Σ_{v: B<N} t_all·d² / (B·(N−B))` with the SAME
    * integer gap `d = cum_r·n_c − cum_c·n_r` as KS/CvM and pooled cum
    * `B = cum_c + cum_r`; the pooled maximum (`B = N`) is excluded by
    * the standard convention (its term is 0/0; `d` is identically 0
    * there). Engine-stable float discipline: each term is floored to
    * an INTEGER micro-unit (`(t_all·d²·10⁶) DIV (B·(N−B))`, the q307
    * log-rank discipline — a float per-term sum would be
    * aggregation-order-dependent) and summed in DECIMAL(38,0);
    * `ad_micro` floors the final ratio, `ad` is the one float. Output
    * per non-reference split: `(split, n_ref, n_cur, ad_micro, ad)`.
    * Scale: one hash aggregate over the paired frame.
    */
  private[graft] def andersonDarlingFromPaired(e: DataFrame): DataFrame =
    pairedReport(withPairedTotals(e, e)
        .withColumn("__nn", col("__n") + col("__nr"))
        .withColumn("__bp",
          col("__cum").cast("decimal(38,0)") + col("__cumr"))
        .withColumn("__d", pairedGap(exclusive = false)),
      Seq(sum(when(col("__bp") < col("__nn"),
        expr("((__t + __tr) * __d * __d * 1000000) " +
          "DIV (__bp * (__nn - __bp))"))
        .otherwise(lit(0).cast("decimal(38,0)"))).as("__num")),
      expr("(__num) DIV (__nr2 * __nc2)").cast("long").as("ad_micro"), "ad",
      col("__num").cast("double") / 1e6 /
        (col("__nr2").cast("double") * col("__nc2").cast("double")))

  /** Two-sample 1-D energy-distance drift report over an already-built
    * [[ecdfPaired]] frame (Székely & Rizzo 2004; in one dimension the
    * pairwise-distance form collapses to the closed ECDF integral
    * `D² = 2·∫(F_r − F_c)² dx`): W₁'s area integral with the gap
    * SQUARED — the drift statistic whose square root is a true metric
    * between distributions and the 1-D exact baseline for the kernel
    * two-sample tests used on embedding columns. Exactness: identical
    * segment machinery to [[wassersteinReportFromPaired]] (exclusive
    * cums are the previous row's inclusive cums; [[withPrevValue]]'s
    * previous support value), with segment mass
    * `(v − v_prev)·d_exc²` where `d_exc = exc_r·n_c − exc_c·n_r` in
    * DECIMAL(38,0). `energy_micro = (2·Σ·10⁶) DIV (n_r²·n_c²)`;
    * magnitude bound `Σ ≤ (hi−lo)·(n_r·n_c)²` — inside 38 digits for
    * 10⁹-row splits on 10⁶-wide axes (documented, not guarded).
    * Output per non-reference split: `(split, n_ref, n_cur,
    * energy_micro, energy)` in `valCol` units.
    */
  private[graft] def energyDistanceFromPaired(e: DataFrame): DataFrame = {
    val dExc = pairedGap(exclusive = true)
    pairedReport(withPairedTotals(e, withPrevValue(e)),
      Seq(sum(when(col("__vp").isNotNull,
        dExc * dExc * (col("__v") - col("__vp")))
        .otherwise(lit(0).cast("decimal(38,0)"))).as("__num")),
      expr("(__num * 2000000) DIV (__nr2 * __nr2 * __nc2 * __nc2)")
        .cast("long").as("energy_micro"), "energy",
      col("__num").cast("double") * 2 /
        (col("__nr2").cast("double") * col("__nr2").cast("double") *
          col("__nc2").cast("double") * col("__nc2").cast("double")))
  }

  /** Two-sample Kuiper drift report over an already-built
    * [[ecdfPaired]] frame: `V = sup(F_r − F_c) + sup(F_c − F_r)` — the
    * SIGNED-sup companion of KS that weighs departures in both
    * directions equally wherever they occur, the standard test for
    * cyclic axes (hour-of-day, day-of-year) where KS's single sup is
    * origin-dependent but V is rotation-invariant. Exact: both sups
    * are maxima of the signed integer gap `d = cum_r·n_c − cum_c·n_r`
    * (and `−d`) over the merged support; the pair's pooled maximum has
    * `d = 0`, so both maxima are naturally ≥ 0 with no clamp. Output
    * per non-reference split: `(split, n_ref, n_cur, v_num, kuiper)`
    * with `v_num = max(d) + max(−d)` integral and `kuiper =
    * v_num/(n_r·n_c)` the one rounded float. One hash aggregate.
    */
  private[graft] def kuiperReportFromPaired(e: DataFrame): DataFrame =
    pairedReport(withPairedTotals(e, e)
        .withColumn("__d", pairedGap(exclusive = false)),
      Seq(max(col("__d")).as("__dp"), max(-col("__d")).as("__dm")),
      (col("__dp") + col("__dm")).cast("long").as("v_num"), "kuiper",
      (col("__dp") + col("__dm")).cast("double") /
        (col("__nr2").cast("double") * col("__nc2").cast("double")))

  def keySkewReport(df: DataFrame, keys: Seq[String],
      topK: Int): DataFrame = {
    val total = df.select(count(lit(1)).as("__n"))
    val order = col("n").desc +: keys.map(col(_).asc_nulls_last)
    df.groupBy(keys.map(col): _*).agg(count(lit(1)).as("n"))
      .orderBy(order: _*).limit(topK)
      .crossJoin(broadcast(total))
      .withColumn("share_ppm", expr("(n * 1000000) DIV __n"))
      .withColumn("rank",
        row_number().over(Window.orderBy(order: _*)).cast("int"))
      .drop("__n")
  }

  /** Pairwise Pearson correlation matrix over INTEGER-valued columns in
    * ONE scan: every pair's six sufficient statistics (pairwise-complete
    * `n, Σx, Σy, Σxy, Σx², Σy²`) are conditional aggregates of a single
    * `df.agg`, exploded to long form `(col_a, col_b, n, corr)` — the
    * [[missingnessMatrix]] shape. All sums accumulate in DECIMAL(38,0)
    * (exact, commutative — order-proof under shuffle), and
    * `r = (n·Σxy − Σx·Σy) / (√Dx · √Dy)` keeps the two discriminants
    * SEPARATE under the square roots: `Dx·Dy` would pass 10³⁸ (decimal
    * overflow, and 2¹²⁷ in a 128-bit oracle engine) at ~10⁶ rows of
    * ~10⁷-scale values where the factors individually are fine. A
    * constant column is an exact `D = 0` → null r, never a float-residue
    * division. "Pairwise-complete" means each pair counts exactly the
    * rows where BOTH of its columns are non-null (the R `use =
    * "pairwise.complete.obs"` convention) — pairs see different n on
    * ragged nulls, and that n is part of the output.
    *
    * Scale: one full scan, zero shuffles beyond the single global
    * aggregate's partial-merge (6·k(k−1)/2 + 1 counters per task), and a
    * one-row result exploded driver-free. k is bounded by the caller
    * (counter count is quadratic in k; k ≤ ~40 keeps the row under
    * Spark's 64 KB codegen method limit the same way missingnessMatrix
    * does).
    */
  def correlationMatrix(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.size >= 2, "need at least two columns")
    val d38 = "decimal(38,0)"
    val pairs = for {
      i <- cols.indices; j <- cols.indices if i < j
    } yield (cols(i), cols(j))
    val aggs = pairs.flatMap { case (a, b) =>
      val both = col(a).isNotNull && col(b).isNotNull
      val x = when(both, col(a))
      val y = when(both, col(b))
      Seq(count_if(both).as(s"__n_${a}_$b"),
        exactSum(x).as(s"__sx_${a}_$b"), exactSum(y).as(s"__sy_${a}_$b"),
        exactSumProd(x, y).as(s"__sxy_${a}_$b"),
        exactSumProd(x, x).as(s"__sxx_${a}_$b"),
        exactSumProd(y, y).as(s"__syy_${a}_$b"))
    }
    val row = df.select(cols.map(col): _*).agg(aggs.head, aggs.tail: _*)
    val stacked = explode(array(pairs.map { case (a, b) =>
      val n = col(s"__n_${a}_$b").cast(d38)
      val sx = col(s"__sx_${a}_$b"); val sy = col(s"__sy_${a}_$b")
      val sxy = col(s"__sxy_${a}_$b")
      val dx = n * col(s"__sxx_${a}_$b") - sx * sx
      val dy = n * col(s"__syy_${a}_$b") - sy * sy
      struct(lit(a).as("col_a"), lit(b).as("col_b"),
        col(s"__n_${a}_$b").as("n"),
        when(dx > 0 && dy > 0,
          round((n * sxy - sx * sy).cast("double") /
            (sqrt(dx.cast("double")) * sqrt(dy.cast("double"))), 6))
          .as("corr"))
    }: _*)).as("__p")
    row.select(stacked)
      .select(col("__p.col_a").as("col_a"), col("__p.col_b").as("col_b"),
        col("__p.n").as("n"), col("__p.corr").as("corr"))
  }

  /** Pointwise mutual information report over two categorical columns:
    * for every co-occurring `(a, b)` cell with support ≥ `minCount`,
    * `pmi = ln(n_ab·N / (n_a·n_b))` in nats from EXACT integer counts —
    * positive = the pair co-occurs above independence, negative = below.
    * Per-CELL output is deliberate: a summed mutual-information scalar
    * would fold float terms in shuffle-dependent order, while each cell's
    * single `ln` over an exact integer ratio is engine-stable (the
    * [[psiReport]] discipline). Null keys are excluded (they have no
    * marginal).
    *
    * Scale: one input scan aggregates to the `(a, b)` cell grain; the
    * marginals are keyed windows OVER THAT CELL FRAME (≤ |A|·|B| rows),
    * and the grand total is a 1-row aggregate broadcast back onto the
    * cells (the [[keySkewReport]] idiom — no empty-partitionBy window
    * anywhere in the plan; both branches read the same cell aggregate,
    * whose exchange is shared via ReuseExchange as in
    * [[graft.llm.Lexical.vocabCoverage]]), so nothing upstream executes
    * twice and input size only enters through the first aggregate.
    */
  def pmiReport(df: DataFrame, colA: String, colB: String,
      minCount: Long = 1L): DataFrame = {
    val d38 = "decimal(38,0)"
    val cells = df.filter(col(colA).isNotNull && col(colB).isNotNull)
      .groupBy(col(colA).as("a"), col(colB).as("b"))
      .agg(count(lit(1)).as("n_ab"))
    val wa = Window.partitionBy(col("a"))
    val wb = Window.partitionBy(col("b"))
    val total = cells.select(sum(col("n_ab")).as("n_total"))
    cells
      .withColumn("n_a", sum(col("n_ab")).over(wa))
      .withColumn("n_b", sum(col("n_ab")).over(wb))
      .crossJoin(broadcast(total))
      .filter(col("n_ab") >= minCount)
      .withColumn("pmi", round(log(
        (col("n_ab").cast(d38) * col("n_total").cast(d38)).cast("double") /
        (col("n_a").cast(d38) * col("n_b").cast(d38)).cast("double")), 6))
      .select(col("a").as(colA), col("b").as(colB), col("n_ab"),
        col("n_a"), col("n_b"), col("pmi"))
  }

  /** Per-key Shannon entropy of a categorical column — the behavioral-
    * diversity diagnostic (does this user do one thing or many? is this
    * source one doc template or varied?): `H = −Σ p·ln p` in nats over
    * the key's category distribution, with the category count and total
    * alongside. Exact integer counts; only the final entropy is
    * floating, 6 dp. Null categories are excluded (a missing value is
    * not a behavior). Uniform over k categories → ln k; single
    * category → exactly 0.
    *
    * Scale: one (key, category) aggregate (map-side combined), then a
    * key-grain window for the total — cell grain is bounded by
    * |keys|·|categories|, never row count.
    */
  def categoricalEntropy(df: DataFrame, keyCols: Seq[String],
      catCol: String): DataFrame = {
    val cells = df.filter(col(catCol).isNotNull)
      .groupBy((keyCols.map(col) :+ col(catCol)): _*)
      .agg(count(lit(1)).as("__n"))
    val wKey = Window.partitionBy(keyCols.map(col): _*)
    val p = col("__n").cast("double") / col("__tot").cast("double")
    cells
      .withColumn("__tot", sum(col("__n")).over(wKey))
      .groupBy(keyCols.map(col): _*)
      .agg(count(lit(1)).as("n_categories"),
        max(col("__tot")).as("n_rows"),
        // 0 − Σ, not −Σ: a single-category key sums to ±0.0 and unary
        // minus would emit −0.0, whose bit pattern differs across
        // engines; 0 − (±0.0) is +0.0 everywhere
        round(lit(0d) - sum(p * log(p)), 6).as("entropy"))
  }

  /** Theil–Sen robust trend per group: the LOWER MEDIAN of all pairwise
    * slopes `(y_j − y_i)/(x_j − x_i)` over the group's series — the
    * estimator that shrugs off ~29% outliers where OLS
    * ([[groupRegression]]) folds. Slopes are rounded to 6 dp BEFORE the
    * median pick and the pick itself is positional over the total order
    * `(slope, rn_a, rn_b)`, so the selected element is engine-stable
    * even with tied slopes. Pairs with equal x are skipped (no slope —
    * the standard Theil–Sen convention); groups left with zero pairs
    * drop out.
    *
    * Scale: pair enumeration is a SELF-JOIN on the group key —
    * deliberately quadratic in GROUP size, linear in group count; the
    * contract is per-entity series (orders per customer, readings per
    * sensor: 10²–10³ rows/group ⇒ ≤ 10⁶ pairs/group), NOT a global
    * series. Callers with big groups pre-aggregate (e.g. daily means)
    * first. The ranked input is pinned through the self-join's two
    * branches (the audit rule).
    */
  def theilSen(df: DataFrame, groupCols: Seq[String], xCol: String,
      yCol: String, tiebreakCols: Seq[String]): DataFrame = Pins.scoped { s =>
    val w = Window.partitionBy(groupCols.map(col): _*)
      .orderBy((col(xCol).asc +: tiebreakCols.map(col(_).asc)): _*)
    val ranked = s.pin(df.filter(col(xCol).isNotNull && col(yCol).isNotNull)
      .select((groupCols ++ (xCol +: yCol +: tiebreakCols)).map(col): _*)
      .withColumn("__rn", row_number().over(w))
      // __rn now carries the (x, tiebreak) identity; the tiebreak columns
      // themselves stay out of the O(n²) pair frame
      .drop(tiebreakCols: _*))
    val a = ranked.select(groupCols.map(col) :+ col(xCol).as("__xa") :+
      col(yCol).as("__ya") :+ col("__rn").as("__ra"): _*)
    val b = ranked.select(groupCols.map(col) :+ col(xCol).as("__xb") :+
      col(yCol).as("__yb") :+ col("__rn").as("__rb"): _*)
    val slopes = a.join(b, groupCols)
      .filter(col("__ra") < col("__rb") && col("__xa") =!= col("__xb"))
      .withColumn("__slope", round(
        (col("__yb") - col("__ya")).cast("double") /
        (col("__xb") - col("__xa")).cast("double"), 6))
    val pick = Window.partitionBy(groupCols.map(col): _*)
      .orderBy(col("__slope").asc, col("__ra").asc, col("__rb").asc)
    slopes
      .withColumn("__k", row_number().over(pick))
      .withColumn("__np", count(lit(1)).over(
        Window.partitionBy(groupCols.map(col): _*)))
      // `/` on Spark Columns is double division — DIV keeps the lower-
      // median index integral ((np+1) div 2, 1-based)
      .filter(col("__k") === expr("(__np + 1) DIV 2"))
      .select(groupCols.map(col) :+ col("__np").as("n_pairs") :+
        col("__slope").as("slope"): _*)
  }

  /** Cohen's kappa from a pre-aggregated confusion/agreement matrix
    * `(aCol, bCol, nCol)` — inter-rater agreement corrected for chance:
    * `κ = (n·Σ_agree − Σ_c ma_c·mb_c) / (n² − Σ_c ma_c·mb_c)`, every
    * term an EXACT integer (DECIMAL(38,0) — `n²` passes 2⁶³ at ~3×10⁹
    * ratings), only the final ratio floating, 6 dp. Also emits the raw
    * and chance agreement as exact ppm. Degenerate chance agreement
    * (`n² = Σ ma·mb`: both raters constant) → null κ. The category
    * union is handled by a full outer join of the two marginal vectors
    * (a category one rater never uses contributes 0 chance mass).
    *
    * Everything downstream of the caller-supplied cell frame is
    * cell-grain (≤ |A|·|B| rows) — the caller aggregates the rating
    * pairs once (abstentions dropped) and they are never re-scanned (cells are
    * pinned through the three marginal branches).
    */
  def cohenKappaFromCells(cellsIn: DataFrame, aCol: String, bCol: String,
      nCol: String): DataFrame = Pins.scoped { s =>
    val d38 = "decimal(38,0)"
    val cells = s.pin(cellsIn.select(col(aCol).as("__a"),
      col(bCol).as("__b"), col(nCol).as("__n")))
    val tot = cells.agg(exactSum(col("__n")).as("__tot"),
      exactSum(when(col("__a") === col("__b"), col("__n"))
        .otherwise(lit(0L))).as("__agree"))
    val ma = cells.groupBy(col("__a").as("__cat"))
      .agg(exactSum(col("__n")).as("__ma"))
    val mb = cells.groupBy(col("__b").as("__cat"))
      .agg(exactSum(col("__n")).as("__mb"))
    val chance = ma.join(mb, Seq("__cat"), "full_outer")
      .agg(sum(coalesce(col("__ma"), lit(0).cast(d38)) *
        coalesce(col("__mb"), lit(0).cast(d38))).as("__s"))
    tot.crossJoin(broadcast(chance))
      .select(col("__tot").cast("long").as("n"),
        col("__agree").cast("long").as("n_agree"),
        // DIV (integral quotient), not `/`: decimal division rounds at
        // its result scale, which can disagree with the oracle's floor
        expr("(__agree * 1000000) DIV __tot").as("agree_ppm"),
        expr("(__s * 1000000) DIV (__tot * __tot)").as("chance_ppm"),
        when(col("__tot") * col("__tot") =!= col("__s"), round(
          (col("__tot") * col("__agree") - col("__s")).cast("double") /
          (col("__tot") * col("__tot") - col("__s")).cast("double"), 6))
          .as("kappa"))
  }

  /** Mergeable partial profile of INTEGER-valued columns, the combiner
    * half of distributed profiling: per `(group, column)`, the exact
    * sufficient statistics `(n, n_null, sum, sum_sq, min, max)` — every
    * one associative/commutative (sums in DECIMAL(38,0)), so partials
    * from independent slices [[mergeProfiles]] into exactly the profile
    * a direct global pass would produce. ONE scan, conditional
    * aggregates, long-form output via the missingnessMatrix explode.
    */
  def partialProfile(df: DataFrame, groupCols: Seq[String],
      cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "need at least one column")
    val aggs = cols.flatMap(c => Seq(
      count(col(c)).as(s"__n_$c"),
      count_if(col(c).isNull).as(s"__nn_$c"),
      exactSum(col(c)).as(s"__s_$c"),
      exactSumProd(col(c), col(c)).as(s"__s2_$c"),
      min(col(c)).cast("long").as(s"__mn_$c"),
      max(col(c)).cast("long").as(s"__mx_$c")))
    df.groupBy(groupCols.map(col): _*).agg(aggs.head, aggs.tail: _*)
      .select((groupCols.map(col) :+ explode(array(cols.map(c => struct(
        lit(c).as("col_name"), col(s"__n_$c").as("n"),
        col(s"__nn_$c").as("n_null"), col(s"__s_$c").as("sum"),
        col(s"__s2_$c").as("sum_sq"), col(s"__mn_$c").as("min_value"),
        col(s"__mx_$c").as("max_value"))): _*)).as("__p")): _*)
      .select((groupCols.map(col) :+ col("__p.*")): _*)
  }

  /** Merge [[partialProfile]] slices to the global per-column profile:
    * re-aggregate the associative stats, then derive `mean` and the
    * POPULATION `stddev` from the exact sums — discriminant
    * `n·Σx² − (Σx)²` stays exact decimal (zero for a constant column →
    * stddev 0, never a negative float residue under the square root).
    * The result equals a direct single-pass profile bit-for-bit — that
    * equality is the point (and the spec pin): partial aggregation
    * states can ship from 1000 executors or 1000 daily runs and compose.
    */
  def mergeProfiles(parts: DataFrame): DataFrame = {
    val d38 = "decimal(38,0)"
    val n = col("n").cast(d38)
    val disc = n * col("sum_sq") - col("sum") * col("sum")
    parts.groupBy(col("col_name"))
      .agg(sum(col("n")).as("n"), sum(col("n_null")).as("n_null"),
        sum(col("sum")).as("sum"), sum(col("sum_sq")).as("sum_sq"),
        min(col("min_value")).as("min_value"),
        max(col("max_value")).as("max_value"))
      .withColumn("mean", when(col("n") > 0,
        round(col("sum").cast("double") / col("n").cast("double"), 6)))
      .withColumn("stddev", when(col("n") > 0,
        round(sqrt(disc.cast("double")) / col("n").cast("double"), 6)))
      .withColumn("sum", col("sum").cast("long"))
      .drop("sum_sq")
  }

  /** 2-D Pareto frontier per group, maximizing BOTH `xCol` and `yCol`:
    * the distinct points no other point weakly dominates (x' ≥ x ∧
    * y' ≥ y with one strict). One sort does all the work: over distinct
    * points ordered `(x DESC, y DESC)`, every PRECEDING row has x ≥ this
    * x (and y ≥ this y when x ties), so a point is dominated iff the
    * running max of y over the preceding frame reaches its own y —
    * strictly-greater-x dominators and same-x-higher-y dominators fall
    * out of the same test because ties are distinct-point ties. No
    * self-join, no O(n²) dominance probe; the oracle states the
    * NOT-EXISTS definition independently.
    *
    * Scale: one distinct aggregate at `(group, x, y)` grain (carrying
    * the duplicate count through as `n_points`), one group-partitioned
    * window over that aggregate. Null coordinates are excluded — they
    * order arbitrarily and dominate nothing.
    */
  def paretoFrontier2d(df: DataFrame, groupCols: Seq[String],
      xCol: String, yCol: String): DataFrame = {
    val pts = df.filter(col(xCol).isNotNull && col(yCol).isNotNull)
      .groupBy((groupCols :+ xCol :+ yCol).map(col): _*)
      .agg(count(lit(1)).as("n_points"))
    val w = Window.partitionBy(groupCols.map(col): _*)
      .orderBy(col(xCol).desc, col(yCol).desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    pts.withColumn("__my", max(col(yCol)).over(w))
      .filter(col("__my").isNull || col("__my") < col(yCol))
      .drop("__my")
  }

  /** Functional-dependency violation profiler: for the candidate FD
    * `lhs → rhs`, emit every lhs key where more than one distinct rhs
    * value occurs — the per-key evidence a schema-inference or
    * data-quality pass needs before trusting a column as a lookup key.
    * Rows with a NULL lhs component are excluded (a null key neither
    * proves nor violates a dependency); NULL rhs values are ignored by
    * the distinct count, matching ANSI `count(DISTINCT)`.
    *
    * Scale: one aggregate at lhs-key grain with a partial-aggregating
    * distinct; output is bounded by the number of VIOLATING keys, so a
    * near-valid FD on a 100 TB fact returns a small frame. Exact
    * integer counts only — nothing here is float.
    */
  def fdViolations(df: DataFrame, lhs: Seq[String],
      rhs: String): DataFrame =
    df.filter(lhs.map(col(_).isNotNull).reduce(_ && _))
      .groupBy(lhs.map(col): _*)
      .agg(count(lit(1)).as("n_rows"),
        countDistinct(col(rhs)).as("n_distinct_rhs"))
      .filter(col("n_distinct_rhs") > 1)

  /** Cumulative Poisson(1) CDF × 10⁶, rounded to integer thresholds —
    * the ONE table both engines use to turn a ppm-uniform hash draw into
    * a deterministic Poisson(1) resample weight (values beyond 5 are
    * folded into the top bucket; P(X ≥ 6) ≈ 0.06 %). */
  val poissonCdfPpm: Seq[Long] =
    Seq(367879L, 735759L, 919699L, 981012L, 996340L)

  /** Poisson-bootstrap confidence interval for a per-group mean (the
    * resampling trick behind scalable bootstraps — Kleiner et al.'s BLB
    * line of work, JRSS-B 2014; counts ~ Poisson(1) approximate
    * multinomial resampling without any global coordination): each of
    * `b` resamples weighs every row by a DETERMINISTIC hash-derived
    * Poisson(1) count (`u = mixed-hash("r#id") mod 10⁶` inverted
    * through [[poissonCdfPpm]]), the resample mean is an exact-DECIMAL
    * weighted mean, and the CI is the percentile pick over the `b`
    * resample means — `lo = ⌈0.025·m⌉`-th, `hi = ⌈0.975·m⌉`-th of the
    * `m ≤ b` non-degenerate resamples (a resample whose total weight is
    * zero — possible only for tiny groups — is dropped). Seedless and
    * engine-exact: every weight is an integer table lookup, every sum
    * is DECIMAL, the only floats are the final divisions, so two
    * engines agree bit-for-bit — a `rand()`-based bootstrap could never
    * pass an oracle gate.
    *
    * Output: one row per group:
    * `(groupCols…, n, mean, ci_lo, ci_hi, b_used)`.
    *
    * Scale: ONE scan with a literal `b`-way fan-out, map-side combined
    * to (group × resample) grain — state is 2·b accumulators per group,
    * no data-grain shuffle, no driver round-trip. This is how you put
    * an error bar on a 100 TB aggregate for ~b× the cost of computing
    * it once.
    */
  def bootstrapMeanCI(df: DataFrame, groupCols: Seq[String],
      valueCol: String, idCol: String, b: Int = 40): DataFrame = {
    require(b >= 4, "need b >= 4 resamples")
    val thresholds = poissonCdfPpm
    val dec = org.apache.spark.sql.types.DecimalType(38, 6)
    val u = pmod(graft.functions.PolyHash.polyhash(
        concat(col("__r").cast("string"), lit("#"),
          col(idCol).cast("string"))) * lit(2654435761L),
      lit(1000000007L)) % lit(1000000L)
    val w = thresholds.zipWithIndex.foldRight(
      lit(thresholds.size): Column) { case ((t, i), alt) =>
      when(u < t, lit(i)).otherwise(alt)
    }
    val means = df
      .filter(col(valueCol).isNotNull)
      .select(groupCols.map(col) ++ Seq(
        col(valueCol).cast(dec).as("__x"), col(idCol).cast("string")
          .as(idCol)): _*)
      .withColumn("__r", explode(sequence(lit(0), lit(b - 1))))
      .withColumn("__w", w.cast("long"))
      .groupBy(groupCols.map(col) :+ col("__r"): _*)
      .agg(sum(col("__w")).as("__sw"),
        sum(col("__w") * col("__x")).cast(dec).as("__swx"))
      .filter(col("__sw") > 0L)
      .withColumn("__m", expr(
        s"${decToDoubleSql("__swx", 6)} / CAST(__sw AS DOUBLE)"))
    val gw = Window.partitionBy(groupCols.map(col): _*)
    val ranked = means
      .withColumn("__rk", row_number().over(gw.orderBy(col("__m"),
        col("__r"))))
      .withColumn("__bu", count(lit(1)).over(gw))
      .withColumn("__lo", expr("(25 * __bu + 999) DIV 1000"))
      .withColumn("__hi", expr("(975 * __bu + 999) DIV 1000"))
    val ci = ranked
      .groupBy(groupCols.map(col): _*)
      .agg(round(max(when(col("__rk") === col("__lo"), col("__m"))), 6)
          .as("ci_lo"),
        round(max(when(col("__rk") === col("__hi"), col("__m"))), 6)
          .as("ci_hi"),
        max(col("__bu")).cast("int").as("b_used"))
    val point = df.filter(col(valueCol).isNotNull)
      .groupBy(groupCols.map(col): _*)
      .agg(count(lit(1)).as("n"),
        sum(col(valueCol).cast(dec)).cast(dec).as("__sx"))
      .withColumn("mean",
        round(expr(s"${decToDoubleSql("__sx", 6)} / CAST(n AS DOUBLE)"), 6))
      .drop("__sx")
    point.join(ci, groupCols, "left")
      .select(groupCols.map(col) ++ Seq(col("n"), col("mean"),
        col("ci_lo"), col("ci_hi"), col("b_used")): _*)
  }

  /** Engine-identical decimal→double conversion fragment. A direct
    * `CAST(dec AS DOUBLE)` DIVERGES across engines once the scaled
    * unscaled value passes 2⁵³: Spark converts the exact rational with
    * one correct rounding, DuckDB double-rounds through
    * `double(int128) / double(10^scale)` — measured 1 ulp apart on a
    * scale-12 sum at 1e10 magnitude, which catastrophic cancellation
    * (SSB = T − S²/N) amplified to a visible 0.25 at sf0.1. This
    * fragment makes BOTH engines take the same two well-defined
    * roundings: the integer floor converts exactly (int→double is
    * correctly rounded everywhere), the fractional part is an exact
    * integer below 2⁵³ divided by the scale. Works for negatives
    * (floor keeps the fraction in [0,1)).
    */
  def decToDoubleSql(c: String, scaleZeros: Int): String = {
    require(scaleZeros >= 1 && scaleZeros <= 18, "scaleZeros in 1..18")
    val p = "1" + "0" * scaleZeros
    s"(CAST(floor($c) AS DOUBLE) + CAST(($c - floor($c)) * $p " +
      s"AS DECIMAL(38,0)) / CAST($p AS DOUBLE))"
  }

  /** Shared engine/oracle formula fragments for [[welchTTest]] — ONE
    * copy parsed by both Spark `expr` and DuckDB so IEEE association
    * order is identical by construction. Inputs: exact sufficient
    * stats `(na, sa, ssa, nb, sb, ssb)`; decimal state converts
    * through [[decToDoubleSql]] (scale 12). */
  val welchDerivedSql: Seq[(String, String)] = {
    val sa = decToDoubleSql("sa", 12); val sb = decToDoubleSql("sb", 12)
    val ssa = decToDoubleSql("ssa", 12)
    val ssb = decToDoubleSql("ssb", 12)
    Seq(
    "m1" -> s"$sa / CAST(na AS DOUBLE)",
    "m2" -> s"$sb / CAST(nb AS DOUBLE)",
    "v1" -> (s"($ssa - $sa * $sa" +
      " / CAST(na AS DOUBLE)) / CAST(na - 1 AS DOUBLE)"),
    "v2" -> (s"($ssb - $sb * $sb" +
      " / CAST(nb AS DOUBLE)) / CAST(nb - 1 AS DOUBLE)"),
    "se2" -> "v1 / CAST(na AS DOUBLE) + v2 / CAST(nb AS DOUBLE)",
    "t_stat" -> ("CASE WHEN se2 > 0 THEN (m1 - m2) / sqrt(se2) " +
      "ELSE CAST(0 AS DOUBLE) END"),
    "df_welch" -> ("CASE WHEN se2 > 0 THEN se2 * se2 / " +
      "((v1 / CAST(na AS DOUBLE)) * (v1 / CAST(na AS DOUBLE)) " +
      "/ CAST(na - 1 AS DOUBLE) " +
      "+ (v2 / CAST(nb AS DOUBLE)) * (v2 / CAST(nb AS DOUBLE)) " +
      "/ CAST(nb - 1 AS DOUBLE)) ELSE CAST(0 AS DOUBLE) END"))
  }

  /** Welch's unequal-variance two-sample t-test per group (Welch,
    * Biometrika 1947) — the A/B-comparison / drift-confirmation test
    * run where variances can't be assumed equal. `flag` partitions each
    * group's rows into sample A (true) and B (false); sufficient stats
    * `(n, Σx, Σx²)` accumulate EXACT (DECIMAL(38,12)) in one map-side-
    * combined pass, and every float op downstream parses from the ONE
    * [[welchDerivedSql]] fragment list on both engines, so `t` and the
    * Welch–Satterthwaite `df` are bit-shared. Groups where either
    * sample has < 2 rows emit nulls (no variance estimate).
    *
    * Output: `(groupCols…, na, nb, mean_a, mean_b, t_stat, df_welch)`.
    *
    * Scale: ONE aggregate at group grain — 6 numbers of state per
    * group; a 100 TB A/B comparison costs exactly one scan.
    */
  def welchTTest(df: DataFrame, groupCols: Seq[String], valueCol: String,
      flag: Column): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(38, 12)
    val x = col(valueCol).cast(org.apache.spark.sql.types
      .DecimalType(18, 6))
    // group-grain frame with TWO readers (ok + degenerate branches):
    // materialize once or the input is scanned per branch
    val agg = Pins.pin(df.filter(col(valueCol).isNotNull)
      .select(groupCols.map(col) ++ Seq(x.as("__x"),
        flag.cast("boolean").as("__f")): _*)
      .groupBy(groupCols.map(col): _*)
      .agg(sum(when(col("__f"), 1L).otherwise(0L)).as("na"),
        sum(when(!col("__f"), 1L).otherwise(0L)).as("nb"),
        sum(when(col("__f"), col("__x")).otherwise(lit(0))).cast(dec)
          .as("sa"),
        sum(when(!col("__f"), col("__x")).otherwise(lit(0))).cast(dec)
          .as("sb"),
        sum(when(col("__f"), col("__x") * col("__x")).otherwise(lit(0)))
          .cast(dec).as("ssa"),
        sum(when(!col("__f"), col("__x") * col("__x")).otherwise(lit(0)))
          .cast(dec).as("ssb")))
    val ok = welchDerivedSql.foldLeft(
      agg.filter(col("na") >= 2 && col("nb") >= 2)) {
      case (acc, (name, formula)) => acc.withColumn(name, expr(formula))
    }.select(groupCols.map(col) ++ Seq(col("na"), col("nb"),
      round(col("m1"), 6).as("mean_a"), round(col("m2"), 6).as("mean_b"),
      round(col("t_stat"), 6).as("t_stat"),
      round(col("df_welch"), 6).as("df_welch")): _*)
    val degenerate = agg.filter(col("na") < 2 || col("nb") < 2)
      .select(groupCols.map(col) ++ Seq(col("na"), col("nb"),
        lit(null).cast("double").as("mean_a"),
        lit(null).cast("double").as("mean_b"),
        lit(null).cast("double").as("t_stat"),
        lit(null).cast("double").as("df_welch")): _*)
    ok.unionByName(degenerate)
  }

  /** Kaplan–Meier survival curve per group (Kaplan & Meier, JASA
    * 1958) over a pre-bucketed integer time axis: input is one row per
    * SUBJECT `(group…, step, event)` — `step` the (coarse) time bucket
    * where the subject's observation ends, `event` 1 if it ended in the
    * event, 0 if censored. For each step with ≥ 1 event the curve
    * reports the risk set `n_risk = |{subjects with step' ≥ step}|`,
    * the event count `d`, the step factor `(n_risk − d)/n_risk` and the
    * running survival estimate `Ŝ(t) = Π_{t' ≤ t} factor(t')`.
    *
    * Determinism: counts are exact integers; each factor is a 6 dp-
    * rounded double (identical bits on both engines), and the product
    * folds LEFT-TO-RIGHT over the step-sorted factor array seeded with
    * 1.0 — the association order is part of the contract, mirrored by
    * the oracle's `list_reduce(list_prepend(1.0, …))`. No ln/exp
    * round-trip (libm's last-ulp would diverge across engines).
    *
    * Output: `(groupCols…, step, n_risk, d, factor, survival)`.
    *
    * Scale: subjects collapse to (group, step) grain in one aggregate;
    * the reverse-cumulative risk set is one window over the ≤ |steps|
    * rows per group, and the product fold runs on a per-group array of
    * the same bounded length. The time axis must be pre-bucketed
    * coarse (weeks/months/years) — that bound, not the subject count,
    * is the only cardinality anywhere past the first aggregate.
    */
  def kaplanMeier(df: DataFrame, groupCols: Seq[String], stepCol: String,
      eventCol: String): DataFrame = {
    val perStep = df
      .filter(col(stepCol).isNotNull)
      .groupBy(groupCols.map(col) :+ col(stepCol).cast("int")
        .as("step"): _*)
      .agg(count(lit(1)).as("__c"),
        sum(col(eventCol).cast("long")).as("d"))
    val wDesc = Window.partitionBy(groupCols.map(col): _*)
      .orderBy(col("step").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val steps = perStep
      .withColumn("n_risk", sum(col("__c")).over(wDesc))
      .filter(col("d") > 0)
      .withColumn("factor", round(
        expr("CAST(n_risk - d AS DOUBLE) / CAST(n_risk AS DOUBLE)"), 6))
    steps
      .groupBy(groupCols.map(col): _*)
      .agg(sort_array(collect_list(struct(col("step"), col("n_risk"),
        col("d"), col("factor")))).as("__arr"))
      .select(groupCols.map(col) ++ Seq(col("__arr"),
        posexplode(col("__arr")).as(Seq("__i", "__s"))): _*)
      .withColumn("survival", round(expr(
        "aggregate(slice(transform(__arr, s -> s.factor), 1, __i + 1), " +
          "CAST(1.0 AS DOUBLE), (acc, x) -> acc * x)"), 6))
      .select(groupCols.map(col) ++ Seq(col("__s.step").as("step"),
        col("__s.n_risk").as("n_risk"), col("__s.d").as("d"),
        col("__s.factor").as("factor"), col("survival")): _*)
  }

  /** Nelson–Aalen cumulative hazard (Nelson 1972; Aalen 1978) — the
    * additive companion of [[kaplanMeier]]: `H(t) = Σ_{steps ≤ t}
    * d_j/n_j`, the estimator whose INCREMENTS are the per-step
    * hazards (KM's product form reads survival; NA reads risk
    * accumulation directly, and `exp(−H)` is the Fleming–Harrington
    * survival alternative). ALL-INTEGER: per-step hazards are
    * micro-floored (`(d·10⁶) DIV n_risk`, the q307 discipline) and
    * the cumulative column is a plain integer prefix sum — the one
    * survival face with no floating step at all. At-risk counts are
    * the same reverse step-cumsum as KM; steps with `d = 0`
    * contribute nothing and are dropped from the report.
    *
    * Output per (group, event step): `(groupCols…, step, n_risk, d,
    * h_micro, h_cum_micro)`.
    *
    * Scale: one group+step-grain aggregate, two windows over the
    * per-group STEP axis (bounded by the step domain, the
    * [[kaplanMeier]] posture).
    */
  def nelsonAalen(df: DataFrame, groupCols: Seq[String], stepCol: String,
      eventCol: String): DataFrame = {
    val perStep = df
      .filter(col(stepCol).isNotNull)
      .groupBy(groupCols.map(col) :+ col(stepCol).cast("int")
        .as("step"): _*)
      .agg(count(lit(1)).as("__c"),
        sum(col(eventCol).cast("long")).as("d"))
    val wDesc = Window.partitionBy(groupCols.map(col): _*)
      .orderBy(col("step").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAsc = Window.partitionBy(groupCols.map(col): _*)
      .orderBy(col("step"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    perStep
      .withColumn("n_risk", sum(col("__c")).over(wDesc))
      .filter(col("d") > 0)
      .withColumn("h_micro", expr("(d * 1000000) DIV n_risk"))
      .withColumn("h_cum_micro", sum(col("h_micro")).over(wAsc))
      .select(groupCols.map(col) ++ Seq(col("step"), col("n_risk"),
        col("d"), col("h_micro"), col("h_cum_micro")): _*)
  }

  /** HBOS top-k outliers (Goldstein & Dengel, KI 2012): per numeric
    * feature, a fixed-width histogram; a row's outlier score is
    * `Σ_f −ln(count_f(bin_f(x))/N)` — rows whose feature values sit
    * in jointly thin bins float to the top. The deterministic,
    * training-free outlier detector that actually runs at 100 TB:
    * each histogram is one map-side aggregate to ≤ `bins` rows,
    * scoring is `|features|` BROADCAST joins, and ranking needs no
    * float — the score is monotone in the INTEGER count product
    * `Π count_f`, so top-k reads `ORDER BY (product, id)` exactly on
    * both engines (float scores tie-break nondeterministically; the
    * product never does). Values outside `[lo, hi)` clamp to the edge
    * bins. Output: k rows `(id, c_1…c_F, score)` with the per-feature
    * bin counts as exact integers and the one rounded float score.
    */
  def hbosOutliers(df: DataFrame, idCol: String,
      features: Seq[(String, Double, Double, Int)],
      k: Int): DataFrame = Pins.scoped { s =>
    require(features.nonEmpty && k >= 1, "need features and k >= 1")
    val d38 = "decimal(38,0)"
    val base = df.filter(col(idCol).isNotNull &&
        features.map { case (c, _, _, _) => col(c).isNotNull }
          .reduce(_ && _))
    // pinned: the |features| histogram broadcast builds below
    // materialize CONCURRENTLY (a lazy cache measured 5 duplicate 3-task
    // scan stages, 4.1 s task time, for one 0.8 s pass). The row count
    // is unchanged by the projections, so the N readout rides the same
    // pin.
    // fanOut before the binning was tried and REVERTED (measured 1.45
    // → 2.12 s): the binning is cheap floor arithmetic, so the extra
    // exchange + 32-partition pin cost more than 3-task decode
    val binned = s.pin(features.zipWithIndex.foldLeft(
        base.select((col(idCol).as("id") +:
          features.map { case (c, _, _, _) => col(c) }): _*)) {
      case (acc, ((c, lo, hi, nb), i)) =>
        val width = (hi - lo) / nb
        acc.withColumn(s"__b$i", least(greatest(
          floor((col(c).cast("double") - lo) / width), lit(0)),
          lit(nb - 1)).cast("int"))
    })
    val scored = features.zipWithIndex.foldLeft(binned) {
      case (acc, ((_, _, _, _), i)) =>
        val hist = binned.groupBy(col(s"__b$i"))
          .agg(count(lit(1)).as(s"c_$i"))
        acc.join(broadcast(hist), Seq(s"__b$i"))
    }
    val crit = features.indices
      .map(i => col(s"c_$i").cast(d38))
      .reduce(_ * _)
    val tot = binned.agg(count(lit(1)).cast("double").as("__n"))
    val score = features.indices
      .map(i => -log(col(s"c_$i").cast("double") / col("__n")))
      .reduce(_ + _)
    // asc_nulls_last: the DECIMAL(38,0) count product overflows to NULL
    // (non-ANSI) only at N^F >= 1e38; NULLs sorting FIRST ascending
    // would silently promote arbitrary rows into the top-k, so pin them
    // last (same magnitude-bound guard class as momentsSketch/cvm).
    scored.crossJoin(broadcast(tot))
      .withColumn("__crit", crit)
      .orderBy(col("__crit").asc_nulls_last, col("id"))
      .limit(k)
      .select((col("id").as(idCol) +:
        features.indices.map(i => col(s"c_$i"))) :+
        round(score, 6).as("score"): _*)
  }

  /** ECOD top-k outliers (Li et al., TKDE 2022): per numeric feature
    * the EMPIRICAL cdf, per row the tail probability on each side, and
    * the outlier score `O = max(Σ_f −ln F_f(x), Σ_f −ln(1−F̄_f(x)))`
    * (left-/right-tail log-sums, the paper's dimension-aggregated
    * form without the skew blend — documented simplification). The
    * parameter-free cousin of [[hbosOutliers]]: no bin width, no
    * histogram range — a point far into EITHER tail of any feature
    * floats to the top.
    *
    * Engine-exact: tail masses are exact integer counts over the value
    * grain (`left(v) = #{x ≤ v}` inclusive, `right(v) = #{x ≥ v}` —
    * both ≥ 1 at an observed value, so no `ln 0`), each per-feature
    * term is `round((ln n − ln tail)·10⁶)` micro-nats (integer `ln`
    * args, the q307 two-ln discipline), scores are exact integer sums,
    * and the top-k cut is TakeOrdered on (score desc, id) then a k-row
    * rank (the vocabCoverage discipline).
    *
    * Output: k rows `(id, <features>, score_left, score_right,
    * ecod_micro, rank)`.
    *
    * Scale: per feature ONE value-grain aggregate whose cumulative
    * count runs through [[PrefixScan.globalCumSum]] (range-partitioned prefix
    * sums — never a single-partition value window), then one fan-out-1
    * join back on the value key; F features = F such passes, no
    * corpus² anywhere.
    */
  def ecodOutliers(df: DataFrame, idCol: String, features: Seq[String],
      k: Int): DataFrame = Pins.scoped { s =>
    require(features.nonEmpty && k >= 1, "need features and k >= 1")
    val base = s.pin(df.filter(col(idCol).isNotNull &&
        features.map(col(_).isNotNull).reduce(_ && _))
      .select((col(idCol).as("id") +: features.map(col)): _*))
    val n1 = base.agg(count(lit(1)).as("__n"))
    var cur = base
    features.zipWithIndex.foreach { case (f, i) =>
      val vg = base.groupBy(col(f).as("__v"))
        .agg(count(lit(1)).as("__c"))
      val cum = globalCumSum(vg, Seq(col("__v")), col("__c") -> "__cum")
      cur = cur.join(cum.select(col("__v").as(f),
        col("__cum").as(s"__l$i"), col("__c").as(s"__k$i")), Seq(f))
    }
    def term(tail: String) =
      s"CAST(round((ln(CAST(__n AS DOUBLE)) - ln(CAST($tail AS DOUBLE)))" +
        " * 1000000) AS BIGINT)"
    val scoreL = features.indices
      .map(i => expr(term(s"__l$i"))).reduce(_ + _)
    val scoreR = features.indices
      .map(i => expr(term(s"__n - __l$i + __k$i"))).reduce(_ + _)
    cur.crossJoin(broadcast(n1))
      .withColumn("score_left", scoreL)
      .withColumn("score_right", scoreR)
      .withColumn("ecod_micro",
        greatest(col("score_left"), col("score_right")))
      .orderBy(col("ecod_micro").desc, col("id"))
      .limit(k)
      .withColumn("rank", row_number().over(
        Window.orderBy(col("ecod_micro").desc, col("id"))).cast("int"))
      .select((col("id").as(idCol) +: features.map(col)) ++
        Seq(col("score_left"), col("score_right"), col("ecod_micro"),
          col("rank")): _*)
  }

  /** Shared engine/oracle difference-in-differences fragments over the
    * exact integer cell statistics `(n11, s11, ss11, n10, s10, ss10,
    * n01, s01, ss01, n00, s00, ss00)` (first index = treated, second
    * = post) — see [[didEffect]]. */
  private def didMean(c: String): String =
    s"(CAST(s$c AS DOUBLE) / CAST(n$c AS DOUBLE))"
  private def didVarTerm(c: String): String =
    s"(CAST(n$c * ss$c - s$c * s$c AS DOUBLE)" +
      s" / CAST(n$c * n$c * (n$c - 1) AS DOUBLE))"
  private val didRawExpr: String = s"((${didMean("11")}" +
    s" - ${didMean("10")}) - (${didMean("01")} - ${didMean("00")}))"
  val didSeRawExpr: String = s"sqrt(${didVarTerm("11")}" +
    s" + ${didVarTerm("10")} + ${didVarTerm("01")}" +
    s" + ${didVarTerm("00")})"
  val didSql: String = s"round($didRawExpr, 6)"
  val didSeSql: String = s"round($didSeRawExpr, 6)"
  val didZSql: String = s"round($didRawExpr / $didSeRawExpr, 6)"

  /** Difference-in-differences (Card & Krueger, AER 1994 canonical
    * form): the treated group's pre→post change minus the control
    * group's — the parallel-trends estimator that nets out shared
    * time shocks a raw post-period comparison absorbs. Input is one
    * row per observation with treated and post 0/1 flags; all twelve
    * cell statistics (n, Σ, Σ² per 2×2 cell) are exact DECIMAL(38,0)
    * sums in ONE pass; `did` and its unpooled SE (per-cell sample
    * variances over cell n — OBSERVATION-grain, callers with
    * within-unit correlation should pre-collapse to unit grain, the
    * q326 posture) are shared fragments ([[didSql]]/[[didSeSql]]).
    * Any cell with n < 2 yields null effect columns. Output ONE row:
    * `(n_11, n_10, n_01, n_00, did, se, z)`.
    *
    * Scale: ONE map-side-combined aggregate.
    */
  def didEffect(df: DataFrame, treatCol: String, postCol: String,
      valCol: String): DataFrame = {
    val d38 = "decimal(38,0)"
    val t = when(col(treatCol) =!= 0, 1).otherwise(0)
    val p = when(col(postCol) =!= 0, 1).otherwise(0)
    def cell(ti: Int, pi: Int, what: String) = {
      val in = t === ti && p === pi
      val v = when(in, col(valCol)).otherwise(lit(0L))
      what match {
        case "n" => sum(when(in, 1L).otherwise(0L)).cast(d38)
          .as(s"n$ti$pi")
        case "s" => exactSum(v).as(s"s$ti$pi")
        case _ => exactSumProd(v, v).as(s"ss$ti$pi")
      }
    }
    val cells = for (ti <- Seq(1, 0); pi <- Seq(1, 0);
      w <- Seq("n", "s", "ss")) yield cell(ti, pi, w)
    val ok = Seq((1, 1), (1, 0), (0, 1), (0, 0))
      .map { case (ti, pi) => col(s"n$ti$pi") >= 2 }.reduce(_ && _)
    df.filter(col(valCol).isNotNull && col(treatCol).isNotNull &&
        col(postCol).isNotNull)
      .agg(cells.head, cells.tail: _*)
      .select(col("n11").cast("long").as("n_11"),
        col("n10").cast("long").as("n_10"),
        col("n01").cast("long").as("n_01"),
        col("n00").cast("long").as("n_00"),
        when(ok, expr(didSql)).as("did"),
        when(ok, expr(didSeSql)).as("se"),
        when(ok && expr(didSeRawExpr) > 0, expr(didZSql)).as("z"))
  }

  /** Restricted mean survival time (Irwin 1949; the modern
    * presentation in Royston & Parmar, Stat Med 2013): the area under
    * the [[kaplanMeier]] curve up to horizon `tau` — "expected
    * event-free time within the first τ periods", the survival
    * summary that stays meaningful when curves cross or the hazard is
    * non-proportional (where a single hazard ratio misleads). Input
    * IS the kaplanMeier output frame; since each `survival` value is
    * a 6 dp-rounded double, `round(S·10⁶)` recovers an exact integer
    * and the whole step integral is INTEGER micro-arithmetic:
    * `rmst_micro = min(t₁,τ)·10⁶ + Σ_{tᵢ<τ} S_i·10⁶·(min(tᵢ₊₁,τ) −
    * tᵢ)` — no float sum anywhere (`rmst` is the one rounded
    * readout). A group whose first event is past τ reports the full
    * τ·10⁶. Output per group: `(groupCols…, tau, rmst_micro, rmst)`.
    *
    * Scale: one lead window + one aggregate over the per-group EVENT
    * STEP axis (≤ |steps| rows per group, the kaplanMeier posture).
    */
  def rmst(km: DataFrame, groupCols: Seq[String], tau: Int): DataFrame = {
    require(tau >= 1, "need a positive horizon")
    val w = Window.partitionBy(groupCols.map(col): _*)
      .orderBy(col("step"))
    km.withColumn("__next",
        coalesce(lead(col("step"), 1).over(w), lit(tau)))
      .withColumn("__smic",
        expr("CAST(round(survival * 1000000) AS BIGINT)"))
      .withColumn("__seg", when(col("step") < tau,
        col("__smic") * (least(col("__next"), lit(tau)) - col("step")))
        .otherwise(lit(0L)))
      .groupBy(groupCols.map(col): _*)
      .agg(min(col("step")).as("__t1"), sum(col("__seg")).as("__s"))
      .select(groupCols.map(col) ++ Seq(lit(tau).as("tau"),
        (least(col("__t1"), lit(tau)).cast("long") * 1000000L +
          col("__s")).as("rmst_micro"),
        round((least(col("__t1"), lit(tau)).cast("long") * 1000000L +
          col("__s")).cast("double") / 1e6, 6).as("rmst")): _*)
  }

  /** Shared engine/oracle Wald-IV fragments over the exact integer
    * arm statistics `(nt, nc, syt, syc, sdt, sdc)` — see
    * [[ivWaldEffect]]. */
  private val ivIttExpr: String =
    "(CAST(syt AS DOUBLE) / CAST(nt AS DOUBLE)" +
      " - CAST(syc AS DOUBLE) / CAST(nc AS DOUBLE))"
  private val ivFsExpr: String =
    "(CAST(sdt AS DOUBLE) / CAST(nt AS DOUBLE)" +
      " - CAST(sdc AS DOUBLE) / CAST(nc AS DOUBLE))"
  val ivIttSql: String = s"round($ivIttExpr, 6)"
  val ivFsSql: String = s"round($ivFsExpr, 6)"
  val ivWaldSql: String = s"round($ivIttExpr / $ivFsExpr, 6)"

  /** Wald instrumental-variable estimate (Wald 1940; the
    * encouragement-design LATE of Imbens & Angrist 1994): with a
    * random instrument `Z` (the nudge), endogenous take-up `D` and
    * outcome `Y`, `λ = (Ȳ₁−Ȳ₀)/(D̄₁−D̄₀)` — the intent-to-treat
    * effect rescaled by the first stage, consistent for the
    * compliers' effect when the nudge moves take-up but only affects
    * Y through it. THE estimator for feature-nudge experiments where
    * exposure can't be forced. Input is one row per UNIT with the
    * instrument flag, 0/1 take-up and the outcome (integer units);
    * all six arm statistics are one exact DECIMAL(38,0) pass; the
    * weak-instrument guard is the INTEGER cross-product test
    * `sdt·nc ≠ sdc·nt` (no float-residue zero check); itt /
    * first_stage / wald are shared fragments. Output ONE row:
    * `(n_t, n_c, d_t, d_c, itt, first_stage, wald)`.
    *
    * Scale: ONE map-side-combined aggregate over the unit frame.
    */
  def ivWaldEffect(units: DataFrame, instrCol: String, takeupCol: String,
      yCol: String): DataFrame = {
    val d38 = "decimal(38,0)"
    val z = when(col(instrCol) =!= 0, 1L).otherwise(0L)
    units.filter(col(yCol).isNotNull && col(takeupCol).isNotNull)
      .agg(sum(z).cast(d38).as("nt"),
        sum(lit(1L) - z).cast(d38).as("nc"),
        sum(when(z === 1L && col(takeupCol) =!= 0, 1L).otherwise(0L))
          .cast(d38).as("sdt"),
        sum(when(z === 0L && col(takeupCol) =!= 0, 1L).otherwise(0L))
          .cast(d38).as("sdc"),
        exactSum(when(z === 1L, col(yCol)).otherwise(lit(0L))).as("syt"),
        exactSum(when(z === 0L, col(yCol)).otherwise(lit(0L))).as("syc"))
      .withColumn("__ok", col("nt") > 0 && col("nc") > 0)
      .withColumn("__fsok",
        col("sdt") * col("nc") =!= col("sdc") * col("nt"))
      .select(col("nt").cast("long").as("n_t"),
        col("nc").cast("long").as("n_c"),
        col("sdt").cast("long").as("d_t"),
        col("sdc").cast("long").as("d_c"),
        when(col("__ok"), expr(ivIttSql)).as("itt"),
        when(col("__ok"), expr(ivFsSql)).as("first_stage"),
        when(col("__ok") && col("__fsok"), expr(ivWaldSql)).as("wald"))
  }

  /** Two-group log-rank test (Mantel–Haenszel) — the significance
    * companion to [[kaplanMeier]]: two survival curves can LOOK apart
    * while the at-risk tail is too thin to support the claim; this is
    * the test that says so. Group 1 is `groupCol == oneValue`, group 2
    * is everything else. At each distinct event step `j` with `d_j`
    * events out of `n_j` at risk (`n1_j` of them in group 1):
    * `E1_j = d_j·n1_j/n_j` and `V_j = d_j·(n1_j/n_j)·(n2_j/n_j)·
    * (n_j−d_j)/(n_j−1)`; `Z = (O1 − ΣE1_j)/√(ΣV_j) ~ N(0,1)` under the
    * null of equal hazards.
    *
    * Exactness: per-step terms are INTEGER floor divisions in
    * micro-events — `e1_micro = (d·n1·10⁶) DIV n` and `v_micro =
    * (d·n1·(n−n1)·(n−d)·10⁶) DIV (n²·(n−1))` — products routed through
    * DECIMAL(38,0) (the v numerator is ~N⁴·10⁶: exact past 10⁷
    * subjects, the momentsSketch-s4 magnitude class, documented not
    * guarded), then plain integer sums; both engines floor identically
    * on non-negative operands, so everything up to the final `z` ratio
    * hashes engine-stable. Both at-risk counts are REVERSE cumulative
    * sums of the step-grain count frame from ONE two-column
    * [[PrefixScan.globalCumSum]] on the negated step — never a
    * corpus-grain window; a one-subject tail step
    * (`n = 1`) has a zero variance numerator, so the `n−1` guard never
    * divides by zero on a contributing row.
    *
    * Output ONE row: `(n1, n2, o1, o2, e1_micro, v_micro, z)` with `z`
    * null when no step has variance (e.g. a single-group input).
    */
  def logRank(df: DataFrame, groupCol: String, oneValue: String,
      stepCol: String, eventCol: String): DataFrame = {
    val one = col(groupCol).cast("string") === oneValue
    val ps = df.filter(col(stepCol).isNotNull)
      .groupBy(col(stepCol).cast("long").as("step"))
      .agg(count(lit(1)).as("__c"),
        sum(when(one, 1L).otherwise(0L)).as("__c1"),
        sum(col(eventCol).cast("long")).as("d"),
        sum(when(one, col(eventCol).cast("long")).otherwise(0L))
          .as("d1"))
    globalCumSum(ps, Seq(col("step") * -1),
        col("__c") -> "n_risk", col("__c1") -> "n1_risk")
      .withColumn("__e1m", expr(
        "(CAST(d AS DECIMAL(38,0)) * n1_risk * 1000000) DIV n_risk"))
      .withColumn("__vm", expr(
        "(CAST(d AS DECIMAL(38,0)) * n1_risk * (n_risk - n1_risk)" +
          " * (n_risk - d) * 1000000) DIV" +
          " (CAST(n_risk AS DECIMAL(38,0)) * n_risk" +
          " * (CASE WHEN n_risk > 1 THEN n_risk - 1 ELSE 1 END))"))
      .agg(sum(col("__c1")).cast("long").as("n1"),
        (sum(col("__c")) - sum(col("__c1"))).cast("long").as("n2"),
        sum(col("d1")).cast("long").as("o1"),
        (sum(col("d")) - sum(col("d1"))).cast("long").as("o2"),
        sum(col("__e1m")).cast("long").as("e1_micro"),
        sum(col("__vm")).cast("long").as("v_micro"))
      .withColumn("z", when(col("v_micro") > 0, round(
        (col("o1") * 1000000L - col("e1_micro")).cast("double") /
          (sqrt(col("v_micro").cast("double")) * 1000.0), 6)))
  }

  /** Benjamini–Hochberg FDR control (JRSS-B 1995) over a p-value
    * column: rank the `m` p-values ascending, find the largest rank
    * `k*` with `p_(i) ≤ i·α/m`, and flag ranks `≤ k*` as discoveries —
    * the multiple-testing step that belongs after any per-group test
    * family (Welch / KS / Mann-Whitney / ANOVA across thousands of
    * segments): without it, α·m of the "drifted" segments are noise by
    * construction. Ranks and `k*` are exact integers; the criterion
    * compare is one float multiply-divide per row (identical on both
    * engines), ties on `p` break by `idCol`.
    *
    * Output: `(id, p, rank, crit, discovery)` with `crit = rank·α/m`.
    *
    * Scale: the TEST table is m rows, one per hypothesis, not data
    * grain — but m itself is unbounded (a segment family at 100 TB can
    * run millions of tests), so since round 10 the rank is the
    * distributed two-level [[PrefixScan.globalRank]] and both scalars (`m`, the
    * step-up `k*`) are one-row aggregates broadcast back; no
    * single-partition window anywhere.
    */
  def bhFdr(df: DataFrame, idCol: String, pCol: String,
      alphaPct: Int): DataFrame =
    stepUp(rankedP(df, idCol, pCol, alphaPct,
      s"CAST(rank AS DOUBLE) * CAST($alphaPct AS DOUBLE) " +
        "/ (CAST(100 AS DOUBLE) * CAST(__m AS DOUBLE))"))

  /** The ranked-p frame of the p-value corrections ([[bhFdr]],
    * [[holmBonferroni]], [[byFdr]]): the non-null `(id, p)` rows, each
    * with its 1-based `rank` by `(p, id)` from the distributed
    * [[PrefixScan.globalRank]], the broadcast one-row `__m` count frame
    * (widened by `scalars`, e.g. BY's harmonic sum) and the correction's
    * critical value `crit`, a SQL expression over those columns.
    */
  private def rankedP(df: DataFrame, idCol: String, pCol: String,
      alphaPct: Int, crit: String,
      scalars: DataFrame => DataFrame = identity): DataFrame = {
    require(alphaPct >= 1 && alphaPct < 100, "need 1 <= alphaPct < 100")
    val base = df.filter(col(pCol).isNotNull)
      .select(col(idCol).as("id"), col(pCol).cast("double").as("p"))
    globalRank(base, Seq(col("p"), col("id")), "__gr")
      .withColumn("rank", col("__gr").cast("int")).drop("__gr")
      .crossJoin(broadcast(scalars(base.agg(count(lit(1)).as("__m")))))
      .withColumn("crit", expr(crit))
  }

  /** The corrections' output `(id, p, rank, crit, discovery)` over a
    * [[rankedP]] frame: `bound` is a one-row aggregate over it (`__k`,
    * broadcast back) and `discovery` compares each rank to `__k`.
    */
  private def discoveries(ranked: DataFrame, bound: Column,
      discovery: Column): DataFrame =
    ranked.crossJoin(broadcast(ranked.agg(bound.as("__k"))))
      .withColumn("discovery", discovery)
      .select(col("id"), col("p"), col("rank"), round(col("crit"), 6)
        .as("crit"), col("discovery"))

  /** The step-up rule of [[bhFdr]] and [[byFdr]]: every rank up to the
    * largest rank `k*` whose `p ≤ crit` is a discovery. */
  private def stepUp(ranked: DataFrame): DataFrame =
    discoveries(ranked, coalesce(max(when(col("p") <= col("crit"),
      col("rank"))), lit(0)), col("rank") <= col("__k"))

  /** Holm–Bonferroni step-down multiple-testing correction (Holm 1979)
    * — the FAMILY-WISE error-rate companion of [[bhFdr]] (BH bounds the
    * expected false-discovery FRACTION; Holm bounds the probability of
    * even ONE false rejection, the standard when any single false claim
    * is costly). Walk p-values ascending with per-rank critical value
    * `α/(m − rank + 1)`; the FIRST rank whose p exceeds its critical
    * value stops the walk, and everything before it is a discovery —
    * unlike BH, ranks after a failure are never rescued.
    *
    * Output: `(id, p, rank, crit, discovery)` — bhFdr's shape, so the
    * two corrections diff row-for-row.
    *
    * Scale: identical plan to bhFdr — the distributed [[PrefixScan.globalRank]]
    * (no single-partition window), one-row m / first-failure frames on
    * broadcast.
    */
  def holmBonferroni(df: DataFrame, idCol: String, pCol: String,
      alphaPct: Int): DataFrame = {
    val ranked = rankedP(df, idCol, pCol, alphaPct,
      s"CAST($alphaPct AS DOUBLE) " +
        "/ (CAST(100 AS DOUBLE) * CAST(__m - rank + 1 AS DOUBLE))")
    // the first failing rank stops the walk
    discoveries(ranked, coalesce(min(when(col("p") > col("crit"),
        col("rank"))), max(col("rank") + 1), lit(1)),
      col("rank") < col("__k"))
  }

  /** Column-profile diff between two table snapshots: for each named
    * numeric column, the row count, null share (ppm) and exact-stat
    * mean/std on BOTH sides plus the mean delta — the schema-drift
    * smoke report a pipeline runs between ingests before anything
    * downstream trusts the new snapshot. Counts and sums are exact
    * (DECIMAL); mean/std parse from one shared formula per engine.
    *
    * Output: one row per column:
    * `(colname, n_a, n_b, null_ppm_a, null_ppm_b, mean_a, mean_b,
    * mean_delta, std_a, std_b)`.
    *
    * Scale: each side is ONE scan producing |cols| stat rows (the
    * mergeable-partial-profile posture); the diff joins two
    * |cols|-row frames.
    */
  def profileDiff(dfA: DataFrame, dfB: DataFrame,
      cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "need at least one column")
    val dec = org.apache.spark.sql.types.DecimalType(38, 12)
    def side(df: DataFrame, suffix: String): DataFrame = {
      val stacked = cols.map { c =>
        df.select(lit(c).as("colname"),
          col(c).cast(org.apache.spark.sql.types.DecimalType(18, 6))
            .as("__x"))
      }.reduce(_ unionByName _)
      stacked.groupBy(col("colname"))
        .agg(count(lit(1)).as(s"n_$suffix"),
          sum(when(col("__x").isNull, 1L).otherwise(0L)).as("__nulls"),
          sum(col("__x")).cast(dec).as("__s"),
          sum(col("__x") * col("__x")).cast(dec).as("__ss"),
          count(col("__x")).as("__nv"))
        .withColumn(s"null_ppm_$suffix",
          expr(s"(__nulls * 1000000) DIV n_$suffix"))
        .withColumn(s"mean_$suffix", round(expr("CASE WHEN __nv > 0 " +
          s"THEN ${decToDoubleSql("__s", 12)} / CAST(__nv AS DOUBLE) " +
          "END"), 6))
        .withColumn(s"std_$suffix", round(expr("CASE WHEN __nv > 0 " +
          "THEN sqrt(greatest(CAST(0 AS DOUBLE), " +
          s"${decToDoubleSql("__ss", 12)} / CAST(__nv AS DOUBLE) " +
          s"- (${decToDoubleSql("__s", 12)} / CAST(__nv AS DOUBLE)) " +
          s"* (${decToDoubleSql("__s", 12)} / CAST(__nv AS DOUBLE)))) " +
          "END"), 6))
        .select(col("colname"), col(s"n_$suffix"),
          col(s"null_ppm_$suffix"), col(s"mean_$suffix"),
          col(s"std_$suffix"))
    }
    side(dfA, "a").join(side(dfB, "b"), Seq("colname"))
      .withColumn("mean_delta", round(col("mean_b") - col("mean_a"), 6))
      .select(col("colname"), col("n_a"), col("n_b"), col("null_ppm_a"),
        col("null_ppm_b"), col("mean_a"), col("mean_b"),
        col("mean_delta"), col("std_a"), col("std_b"))
  }

  /** Exact mode per group: the most frequent value of `valueCol`, ties
    * to the smallest value — the categorical imputation/summary
    * companion of the group-median imputer. Output
    * `(groupCols…, mode_value, n_mode)`.
    *
    * Scale: one (group, value)-grain count with map-side combine, one
    * group-keyed top-1 window over the distinct-value frame (the
    * WindowGroupLimit partial top-k shape). Nulls excluded.
    */
  def modePerGroup(df: DataFrame, groupCols: Seq[String],
      valueCol: String): DataFrame =
    df.filter(col(valueCol).isNotNull)
      .groupBy(groupCols.map(col) :+ col(valueCol).as("mode_value"): _*)
      .agg(count(lit(1)).as("n_mode"))
      .withColumn("__rk", row_number().over(Window
        .partitionBy(groupCols.map(col): _*)
        .orderBy(col("n_mode").desc, col("mode_value"))))
      .filter(col("__rk") === 1)
      .select(groupCols.map(col) ++ Seq(col("mode_value"),
        col("n_mode")): _*)

  /** Referential-integrity audit over declared FK→PK edges: for each
    * edge, the non-null child-key row count, the ORPHAN rows (child
    * keys absent from the parent), and the orphan share in ppm — the
    * exact face of [[graft.engine.Sketches.kmvInclusion]]'s sketch
    * discovery: discovery proposes edges, this audit enforces them per
    * ingest. All integers.
    *
    * Output: one row per edge: `(edge, n_child, n_orphan, orphan_ppm)`.
    *
    * Scale: per edge, one left-anti hash join of the child against the
    * DISTINCT parent keys (dimension-sized build side) and two counts.
    * Child rows are scanned once per edge; at 100 TB you run the edges
    * that share a child table in one pass — this report is the
    * per-edge contract.
    */
  def riAudit(edges: Seq[(String, DataFrame, String, DataFrame, String)])
      : DataFrame = {
    require(edges.nonEmpty, "need at least one edge")
    edges.map { case (name, child, fk, parent, pk) =>
      val c = child.filter(col(fk).isNotNull)
        .select(col(fk).as("__k"))
      val p = parent.filter(col(pk).isNotNull)
        .select(col(pk).as("__k")).distinct()
      val orphans = c.join(p, Seq("__k"), "left_anti")
        .agg(count(lit(1)).as("n_orphan"))
      c.agg(count(lit(1)).as("n_child"))
        .crossJoin(orphans)
        .select(lit(name).as("edge"), col("n_child"), col("n_orphan"),
          expr("CASE WHEN n_child > 0 THEN " +
            "(n_orphan * 1000000) DIV n_child ELSE 0 END")
            .as("orphan_ppm"))
    }.reduce(_ unionByName _)
  }

  /** Trimmed mean per group: drop the `trimPct`% smallest and largest
    * VALUES by rank (`k = (n · trimPct) DIV 100` from each end) and
    * take the exact-DECIMAL mean of the rest — the robust-location
    * companion of `winsorize` (which CLAMPS the tails instead of
    * dropping them). Tie order inside the rank window cannot change
    * the result: cutting the k lowest ranks always cuts the k smallest
    * values as a multiset. Groups that trim to nothing emit a null
    * mean.
    *
    * Output: `(groupCols…, n, n_trimmed, trimmed_mean)`.
    *
    * Scale: one value-ordered window per group (the exact-percentile
    * cost class — a group-keyed sort, no global order), then one
    * aggregate. Counts and sums exact; the single division is the
    * only float.
    */
  def trimmedMean(df: DataFrame, groupCols: Seq[String], valueCol: String,
      trimPct: Int): DataFrame = {
    require(trimPct >= 0 && trimPct < 50, "need 0 <= trimPct < 50")
    val dec = org.apache.spark.sql.types.DecimalType(38, 6)
    val w = Window.partitionBy(groupCols.map(col): _*)
      .orderBy(col("__x"))
    df.filter(col(valueCol).isNotNull)
      .select(groupCols.map(col) :+ col(valueCol)
        .cast(org.apache.spark.sql.types.DecimalType(18, 6))
        .as("__x"): _*)
      .withColumn("__rk", row_number().over(w))
      .withColumn("__n", count(lit(1)).over(
        Window.partitionBy(groupCols.map(col): _*)))
      .withColumn("__k", expr(s"(__n * $trimPct) DIV 100"))
      .groupBy(groupCols.map(col): _*)
      .agg(max(col("__n")).as("n"),
        (max(col("__k")) * 2).as("n_trimmed"),
        sum(when(col("__rk") > col("__k")
          && col("__rk") <= col("__n") - col("__k"), col("__x")))
          .cast(dec).as("__s"),
        sum(when(col("__rk") > col("__k")
          && col("__rk") <= col("__n") - col("__k"), 1L)
          .otherwise(0L)).as("__kept"))
      .withColumn("trimmed_mean", round(expr("CASE WHEN __kept > 0 THEN " +
        s"${decToDoubleSql("__s", 6)} / CAST(__kept AS DOUBLE) END"), 6))
      .select(groupCols.map(col) ++ Seq(col("n"), col("n_trimmed"),
        col("trimmed_mean")): _*)
  }

  /** Bucketed quantile normalization across sources: each row's value
    * is replaced by the POOLED distribution's value at the same
    * quantile position — the cross-source drift-correction transform
    * (microarray heritage; for corpus features it puts every source's
    * quality/length scores on one comparable scale). Discretized to
    * `nBuckets` equi-depth buckets: a row at per-source rank `r` of
    * `n_s` maps to pooled bucket `⌈r·B/n_s⌉` and takes that pooled
    * bucket's MAX value as its normalized value. Bucket boundaries are
    * tie-stable (equal values straddling a boundary contribute the
    * same max either way); per-source ranks break ties on `idCol`.
    *
    * Output: `(source, id, value, bucket, norm_value)`.
    *
    * Scale: the pooled boundary table is computed WITHOUT the global
    * `ntile` window it is defined by (round 10; a single-partition sort
    * of the whole corpus is the first casualty at 1000 executors).
    * `ntile(B)`'s bucket `i` holds rows at global ranks
    * `(r_{i-1}, r_i]` with `r_i = i·⌊N/B⌋ + min(i, N mod B)`, so
    * `groupBy(bucket).max(value)` is exactly "the value at global rank
    * `r_i`" — and the r-th smallest value is tie-stable (equal values
    * are interchangeable under any tie permutation, the property the
    * contract above already leaned on). So: collapse to VALUE grain
    * with counts (one hash aggregate), take a distributed inclusive
    * cum-count ([[PrefixScan.globalCumSum]] — range partitions + broadcast
    * offsets, no single-partition window), and pick each boundary rank
    * with a B-row broadcast range join (the audited dimension-BNLJ
    * class). Value-identical to the ntile form at every N, B, tie
    * pattern — including N < B, where ntile emits only N non-empty
    * buckets and the `__sz > 0` filter drops exactly the empty ones.
    * Remaining windows: one per-source rank (partitioned) and the
    * P-row offset pass inside globalCumSum.
    */
  def quantileNormalize(df: DataFrame, sourceCol: String, idCol: String,
      valueCol: String, nBuckets: Int = 100): DataFrame = {
    require(nBuckets >= 2, "need at least two buckets")
    val v = df.filter(col(valueCol).isNotNull)
      .select(col(sourceCol).as("source"), col(idCol).as("id"),
        col(valueCol).cast("double").as("value"))
    val vc = v.groupBy(col("value")).agg(count(lit(1)).as("__c"))
    val cumd = globalCumSum(vc, Seq(col("value")), col("__c") -> "__cum")
    val nRow = v.agg(count(lit(1)).as("__N"))
    val ranks = df.sparkSession.range(1, nBuckets + 1).toDF("__i")
      .crossJoin(broadcast(nRow))
      .select(col("__i").cast("int").as("__b"),
        (col("__i") * expr(s"__N DIV $nBuckets")
          + least(col("__i"), expr(s"__N % $nBuckets"))).as("__r"),
        (expr(s"__N DIV $nBuckets")
          + when(col("__i") <= expr(s"__N % $nBuckets"), lit(1L))
            .otherwise(lit(0L))).as("__sz"))
      .filter(col("__sz") > 0)
    val pooled = cumd.join(broadcast(ranks),
        col("__cum") >= col("__r") && col("__cum") - col("__c") < col("__r"))
      .select(col("__b"), col("value").as("norm_value"))
    val ranked = v
      .withColumn("__r", row_number().over(Window
        .partitionBy(col("source")).orderBy(col("value"), col("id"))))
      .withColumn("__n", count(lit(1)).over(Window
        .partitionBy(col("source"))))
      .withColumn("bucket", expr(
        s"CAST((__r * $nBuckets + __n - 1) DIV __n AS INT)"))
    ranked.join(broadcast(pooled), col("bucket") === col("__b"))
      .select(col("source"), col("id"), col("value"), col("bucket"),
        col("norm_value"))
  }

  /** Shared engine/oracle formula fragments for [[ols2]] — ONE copy
    * parsed by both engines. Inputs: exact sufficient stats
    * `(n, s1, s2, sy, s11, s22, s12, s1y, s2y, syy)`. */
  val ols2DerivedSql: Seq[(String, String)] = {
    val s1 = decToDoubleSql("s1", 12); val s2 = decToDoubleSql("s2", 12)
    val sy = decToDoubleSql("sy", 12)
    val s11 = decToDoubleSql("s11", 12)
    val s22 = decToDoubleSql("s22", 12)
    val s12 = decToDoubleSql("s12", 12)
    val s1y = decToDoubleSql("s1y", 12)
    val s2y = decToDoubleSql("s2y", 12)
    val syy = decToDoubleSql("syy", 12)
    Seq(
    "m1" -> s"$s1 / CAST(n AS DOUBLE)",
    "m2" -> s"$s2 / CAST(n AS DOUBLE)",
    "my" -> s"$sy / CAST(n AS DOUBLE)",
    "c11" -> s"$s11 - $s1 * $s1 / CAST(n AS DOUBLE)",
    "c22" -> s"$s22 - $s2 * $s2 / CAST(n AS DOUBLE)",
    "c12" -> s"$s12 - $s1 * $s2 / CAST(n AS DOUBLE)",
    "c1y" -> s"$s1y - $s1 * $sy / CAST(n AS DOUBLE)",
    "c2y" -> s"$s2y - $s2 * $sy / CAST(n AS DOUBLE)",
    "cyy" -> s"$syy - $sy * $sy / CAST(n AS DOUBLE)",
    "det" -> "c11 * c22 - c12 * c12",
    "b1" -> ("CASE WHEN det > 0 THEN (c1y * c22 - c2y * c12) / det " +
      "ELSE CAST(NULL AS DOUBLE) END"),
    "b2" -> ("CASE WHEN det > 0 THEN (c2y * c11 - c1y * c12) / det " +
      "ELSE CAST(NULL AS DOUBLE) END"),
    "icept" -> "my - b1 * m1 - b2 * m2",
    "r2" -> ("CASE WHEN det > 0 AND cyy > 0 THEN " +
      "(b1 * c1y + b2 * c2y) / cyy ELSE CAST(NULL AS DOUBLE) END"))
  }

  /** Two-feature OLS per group via the centered normal equations
    * (Cramer's rule on the 2×2 covariance system) — the multivariate
    * step past the per-group simple regression: sufficient stats
    * `(n, Σx₁, Σx₂, Σy, Σx₁², Σx₂², Σx₁x₂, Σx₁y, Σx₂y, Σy²)` accumulate
    * EXACT (DECIMAL) in one map-side-combined pass; every float op
    * downstream parses from the ONE [[ols2DerivedSql]] fragment list on
    * both engines. A singular design (collinear features, `det ≤ 0`)
    * emits null coefficients rather than an explosion.
    *
    * Output: `(groupCols…, n, b1, b2, intercept, r2)`, 6 dp.
    *
    * Scale: one aggregate at group grain — ten numbers of state per
    * group; a 100 TB regression costs one scan, the same contract as
    * [[welchTTest]].
    */
  def ols2(df: DataFrame, groupCols: Seq[String], yCol: String,
      x1Col: String, x2Col: String): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(38, 12)
    def d18(c: String) = col(c)
      .cast(org.apache.spark.sql.types.DecimalType(18, 6))
    val agg = df
      .filter(col(yCol).isNotNull && col(x1Col).isNotNull &&
        col(x2Col).isNotNull)
      .select(groupCols.map(col) ++ Seq(d18(yCol).as("__y"),
        d18(x1Col).as("__x1"), d18(x2Col).as("__x2")): _*)
      // r14: round-robin fan-out below the decimal(37,12)-product
      // aggregate (q201's BigDecimal-buffer cost; partial aggregation is
      // distribution-agnostic, and the group-key cardinality — a handful
      // of flags — can't spread the work by itself). No-op at scale.
      .transform(fanOut)
      .groupBy(groupCols.map(col): _*)
      .agg(count(lit(1)).as("n"),
        sum(col("__x1")).cast(dec).as("s1"),
        sum(col("__x2")).cast(dec).as("s2"),
        sum(col("__y")).cast(dec).as("sy"),
        sum(col("__x1") * col("__x1")).cast(dec).as("s11"),
        sum(col("__x2") * col("__x2")).cast(dec).as("s22"),
        sum(col("__x1") * col("__x2")).cast(dec).as("s12"),
        sum(col("__x1") * col("__y")).cast(dec).as("s1y"),
        sum(col("__x2") * col("__y")).cast(dec).as("s2y"),
        sum(col("__y") * col("__y")).cast(dec).as("syy"))
    ols2DerivedSql.foldLeft(agg) {
      case (acc, (name, formula)) => acc.withColumn(name, expr(formula))
    }.select(groupCols.map(col) ++ Seq(col("n"),
      round(col("b1"), 6).as("b1"), round(col("b2"), 6).as("b2"),
      round(col("icept"), 6).as("intercept"),
      round(col("r2"), 6).as("r2")): _*)
  }

  /** One-way ANOVA F statistic (Fisher, 1925) across the groups of
    * `groupCol`: between-group vs within-group variance ratio, the
    * k-sample generalization of the two-sample t — "did ANY source
    * drift" before pairwise tests say which. Sufficient stats per group
    * `(n_g, Σx, Σx²)` are exact DECIMAL; the only order-sensitive float
    * reduction — `T = Σ_g s_g²/n_g` — folds LEFT-TO-RIGHT over the
    * group-name-sorted term array (the [[kaplanMeier]] discipline:
    * association order is part of the contract, no float `sum()`
    * whose order the planner owns). Then `SSB = T − S²/N`,
    * `SSW = ΣΣx² − T`, `F = (SSB/(k−1)) / (SSW/(N−k))`.
    *
    * Output: ONE row `(k, n, ssb, ssw, f_stat)`, 6 dp.
    *
    * Scale: one group-grain aggregate (3 numbers per group) + a fold
    * over the k-element term array. One scan, any N.
    */
  def anovaF(df: DataFrame, groupCol: String,
      valueCol: String): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(38, 12)
    val x = col(valueCol).cast(org.apache.spark.sql.types
      .DecimalType(18, 6))
    val g = df.filter(col(valueCol).isNotNull && col(groupCol).isNotNull)
      .select(col(groupCol).cast("string").as("__g"), x.as("__x"))
      .groupBy(col("__g"))
      .agg(count(lit(1)).as("__n"), sum(col("__x")).cast(dec).as("__s"),
        sum(col("__x") * col("__x")).cast(dec).as("__ss"))
      .withColumn("__term", expr(s"${decToDoubleSql("__s", 12)} " +
        s"* ${decToDoubleSql("__s", 12)} / CAST(__n AS DOUBLE)"))
    orderedSum(g, Nil, Seq(col("__g")), col("__term"), "__t",
        count(lit(1)).cast("int").as("k"),
        sum(col("__n")).as("n"),
        sum(col("__s")).cast(dec).as("__stot"),
        sum(col("__ss")).cast(dec).as("__sstot"))
      .withColumn("ssb", round(expr(s"__t - ${decToDoubleSql("__stot", 12)} " +
        s"* ${decToDoubleSql("__stot", 12)} / CAST(n AS DOUBLE)"), 6))
      .withColumn("ssw", round(expr(
        s"${decToDoubleSql("__sstot", 12)} - __t"), 6))
      .withColumn("f_stat", round(expr(s"CASE WHEN k > 1 AND n > k " +
        s"AND (${decToDoubleSql("__sstot", 12)} - __t) > 0 THEN " +
        s"((__t - ${decToDoubleSql("__stot", 12)} " +
        s"* ${decToDoubleSql("__stot", 12)} " +
        s"/ CAST(n AS DOUBLE)) / CAST(k - 1 AS DOUBLE)) " +
        s"/ ((${decToDoubleSql("__sstot", 12)} - __t) " +
        s"/ CAST(n - k AS DOUBLE)) END"), 6))
      .select(col("k"), col("n"), col("ssb"), col("ssw"), col("f_stat"))
  }

  /** Brown–Forsythe variance-homogeneity test (Brown & Forsythe, 1974):
    * the [[anovaF]] statistic computed on `z = |x − med_g|`, the
    * median-centered absolute deviations — "is the SPREAD equal across
    * groups", the robust precondition check behind pooled-variance
    * tests (mean-centered Levene chases heavy tails; the median variant
    * is the recommended default). `valueCol` is an INTEGER lattice
    * (callers micro-quantize floats first, the [[giniReport]]
    * convention), so the group median — exact lower-median pick,
    * `min(x) where 2·cum ≥ n_g` — and every deviation are
    * engine-exact integers; deviations are then divided back by
    * `scale` into ORIGINAL units (exact at 6 dp — a lattice multiple
    * over 10⁶ is a terminating decimal) before the float F
    * composition, which rides anovaF's sorted-fold discipline
    * verbatim. The rescale is not cosmetic: micro-unit deviation
    * sums-of-squares reach 10¹⁹ at modest row counts, past the
    * magnitude where Spark's and DuckDB's DECIMAL→DOUBLE conversions
    * agree to the last ulp.
    *
    * Output: ONE row `(k, n, ssb, ssw, f_stat)`, 6 dp — anovaF's
    * contract on the deviation column.
    *
    * Scale: one value-grain collapse per group (the median from a
    * per-group cumulative window at (group, value) grain — partitioned,
    * never global), one broadcast-sized median frame joined back, then
    * anovaF's single aggregate. Two scans of the value column total.
    */
  def brownForsytheF(df: DataFrame, groupCol: String,
      valueCol: String, scale: Long = 1000000L): DataFrame = Pins.scoped { s =>
    require(scale > 0, "scale must be positive")
    val base = s.pin(df
      .filter(col(valueCol).isNotNull && col(groupCol).isNotNull)
      .select(col(groupCol).cast("string").as("__g"),
        col(valueCol).cast("long").as("__x")))
    val byVal = base.groupBy(col("__g"), col("__x"))
      .agg(count(lit(1)).as("__c"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__g")).orderBy(col("__x"))
    val med = byVal
      .withColumn("__cum", sum(col("__c")).over(w))
      .withColumn("__tot", sum(col("__c")).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("__g"))))
      .filter(col("__cum") * 2 >= col("__tot"))
      .groupBy(col("__g")).agg(min(col("__x")).as("__med"))
    val z = base.join(broadcast(med), Seq("__g"))
      .select(col("__g"),
        expr(s"CAST(CAST(abs(__x - __med) AS DECIMAL(32,6)) / $scale" +
          " AS DECIMAL(18,6))").as("__z"))
    anovaF(z, "__g", "__z")
  }

  /** Shared Spark/DuckDB fragment for the Cochran–Armitage z² — the
    * only float step, with EXPLICIT left-associated composition
    * (`((((n·a)/r)·a)/(n−r))/b`) so both engines walk the same ulp
    * path; everything upstream is exact integer moments.
    */
  val cochranArmitageZ2Sql: String =
    """CASE WHEN r > 0 AND r < n AND b > 0 THEN
      round(CAST(n AS DOUBLE) * CAST(a AS DOUBLE) / CAST(r AS DOUBLE)
        * CAST(a AS DOUBLE) / CAST(n - r AS DOUBLE)
        / CAST(b AS DOUBLE), 6) END"""

  /** Cochran–Armitage trend test (Cochran 1954, Armitage 1955) for a
    * binary outcome across ORDERED dose groups — "does the success rate
    * trend monotonically with dose", the 1-df refinement of the
    * unordered k×2 chi² ([[q312]]'s contingency face ignores order).
    * With per-row integer dose score `w` and success flag `s`, the
    * statistic is `z² = N·A² / (R(N−R)·B)` where `A = N·Σws − R·Σw`
    * and `B = N·Σw² − (Σw)²` — five integer sums from ONE pass, so A
    * and B are engine-exact BIGINTs (A ≤ 7N² passes 2⁶³ only past
    * N ≈ 10⁹ rows; the float fragment [[cochranArmitageZ2Sql]] is the
    * single rounding site). Degenerate inputs (all success, no
    * success, constant dose) report a null z².
    *
    * Output: ONE row `(n, r, sum_w, sum_ws, sum_w2, a, b, z2)`.
    *
    * Scale: one scan, eight numbers of state — the [[welchTTest]]
    * contract; no group axis survives to the output.
    */
  def cochranArmitage(df: DataFrame, doseCol: String,
      successCol: String): DataFrame = {
    df.filter(col(doseCol).isNotNull && col(successCol).isNotNull)
      .select(col(doseCol).cast("long").as("__w"),
        col(successCol).cast("long").as("__s"))
      .agg(count(lit(1)).as("n"), sum(col("__s")).as("r"),
        sum(col("__w")).as("sum_w"),
        sum(col("__w") * col("__s")).as("sum_ws"),
        sum(col("__w") * col("__w")).as("sum_w2"))
      .withColumn("a", col("n") * col("sum_ws") - col("r") * col("sum_w"))
      .withColumn("b",
        col("n") * col("sum_w2") - col("sum_w") * col("sum_w"))
      .withColumn("z2", expr(cochranArmitageZ2Sql))
      .select(col("n"), col("r"), col("sum_w"), col("sum_ws"),
        col("sum_w2"), col("a"), col("b"), col("z2"))
  }

  /** Exact CORPUS-GRAIN Gini concentration index of a non-negative
    * measure, in ppm — the global face of the per-group [[giniIndex]]
    * (whose partitioned rank window cannot run with an empty partition
    * spec at scale; this one exists precisely for the
    * whole-corpus/whole-source axis): 0 = perfectly uniform, →10⁶ = one
    * row holds everything. Uses the rank formula
    * `G = 2·Σᵢ i·xᵢ / (n·Σx) − (n+1)/n` over ascending x, computed as
    * two integral floor divisions in ppm (operands positive, so floor =
    * truncate on both engines); `Σ i·xᵢ` is tie-permutation-invariant
    * (equal x swap ranks without changing the sum), so the result is
    * deterministic under any tiebreak.
    *
    * Output: one row `(n_rows, total, gini_ppm)`; `gini_ppm` null on an
    * empty or zero-mass input.
    *
    * Scale: the global rank is the distributed
    * [[PrefixScan.globalRank]] (range exchange + broadcast offsets —
    * no single-partition window); the rank-weighted sum accumulates in
    * DECIMAL(38,0), exact to
    * `Σ i·xᵢ < 10³²` (10¹² rows of 10¹⁴ total mass — past the 100 TB
    * point by orders).
    */
  def giniReport(df: DataFrame, valueCol: String,
      idCol: String): DataFrame = {
    val v = df.filter(col(valueCol).isNotNull && col(valueCol) >= 0)
      .select(col(idCol).as("__gid"), col(valueCol).cast("long").as("__x"))
    globalRank(v, Seq(col("__x"), col("__gid")), "__rk")
      .agg(count(lit(1)).as("n_rows"),
        coalesce(sum(col("__x")), lit(0L)).cast("long").as("total"),
        exactSumProd(col("__rk"), col("__x")).as("__s"))
      .withColumn("gini_ppm", when(col("n_rows") > 0 && col("total") > 0,
        expr("""__s * 2000000 DIV (CAST(n_rows AS DECIMAL(38,0)) * total)
          - (CAST(n_rows AS DECIMAL(38,0)) + 1) * 1000000 DIV n_rows"""))
        .cast("long"))
      .select(col("n_rows"), col("total"), col("gini_ppm"))
  }

  /** Exact tie-aware Spearman rank correlation between two numeric
    * columns — the monotone-association audit (Pearson sees only linear
    * relationships; data-quality drift is usually monotone-but-curved).
    * Standard fractional (average) ranks under ties, carried as the
    * INTEGER `2·rank_avg = 2·cum − c + 1` (cum = inclusive cumulative
    * count at the row's value, c = the value's tie count — doubling
    * clears the ½, and the scale factor cancels in the correlation), so
    * every rank is exact; the sufficient statistics accumulate in
    * DECIMAL(38,0) and combine in DOUBLE with the discriminants kept
    * separate under their square roots (the [[correlationMatrix]]
    * discipline).
    *
    * Output: one row `(n, rho)`; rho null when either margin is
    * constant (zero rank variance).
    *
    * Scale: ranks come from value-grain count frames through
    * [[PrefixScan.globalCumSum]] (range exchange + broadcast offsets — no
    * single-partition window, no corpus-grain sort), joined back to
    * rows on the value key (fan-out 1; heavy-tie values are the AQE
    * skew-join class). Everything else is one aggregate.
    */
  def spearmanCorr(df: DataFrame, xCol: String, yCol: String): DataFrame = {
    val v = Pins.pin(df.filter(col(xCol).isNotNull && col(yCol).isNotNull)
      .select(col(xCol).as("__x"), col(yCol).as("__y")))
    def ranks(c: String): DataFrame = {
      val counts = v.groupBy(col(c)).agg(count(lit(1)).as("__c"))
      globalCumSum(counts, Seq(col(c)), col("__c") -> "__cum")
        .select(col(c), (col("__cum") * 2 - col("__c") + 1).as(s"__r$c"))
    }
    val rr = v.join(ranks("__x"), Seq("__x")).join(ranks("__y"), Seq("__y"))
    val stats = rr.agg(count(lit(1)).as("n"),
      exactSum(col("__r__x")).as("sx"),
      exactSum(col("__r__y")).as("sy"),
      // 128-bit products: 2·rank products pass 2⁶³ past ~2.3e9 rows
      exactSumProd(col("__r__x"), col("__r__y")).as("sxy"),
      exactSumProd(col("__r__x"), col("__r__x")).as("sxx"),
      exactSumProd(col("__r__y"), col("__r__y")).as("syy"))
    stats.select(col("n"), expr(spearmanRhoSql).as("rho"))
  }

  /** Shared engine/oracle rho fragment over the exact Spearman
    * sufficient statistics `(n, sx, sy, sxy, sxx, syy)` — ONE copy
    * parsed by both Spark `expr` and DuckDB so the IEEE association
    * order is identical by construction (the [[welchDerivedSql]]
    * discipline). Scale-0 decimal → double is a single
    * correctly-rounded conversion on both engines while the sums stay
    * below 2⁶⁴ (Σ(2·rank)² < 2⁶⁴ up to ~10⁶·⁷ rows per call — the
    * documented bit-parity bound; beyond it both engines remain
    * internally exact, only cross-engine ulp identity is unproven).
    */
  val spearmanRhoSql: String = {
    def cv(c: String) = s"CAST($c AS DOUBLE)"
    val dx = s"(CAST(n AS DOUBLE) * ${cv("sxx")} - ${cv("sx")} * ${cv("sx")})"
    val dy = s"(CAST(n AS DOUBLE) * ${cv("syy")} - ${cv("sy")} * ${cv("sy")})"
    s"""round(CASE WHEN n > 0 AND $dx > 0 AND $dy > 0 THEN
      (CAST(n AS DOUBLE) * ${cv("sxy")} - ${cv("sx")} * ${cv("sy")})
      / (sqrt($dx) * sqrt($dy)) END, 6)"""
  }

  /** k-anonymity violation worklist: every quasi-identifier combination
    * observed in FEWER than k rows (a group of size < k re-identifies
    * its members; the release gate suppresses or generalizes exactly
    * these groups). The per-group enforcement face of
    * [[graft.llm.Curation.kAnonymityAudit]]'s one-row summary — the
    * same split as riAudit (worklist) vs the sketch inclusion report.
    * Caller passes already-generalized quasi columns (bucketed ids,
    * truncated dates).
    *
    * Output: the violating quasi-identifier groups with their counts.
    *
    * Scale: one hash aggregate at quasi-group grain (map-side
    * combined), one filter — the output is the violation list, which at
    * 100 TB is exactly the small tail the audit exists to find.
    */
  def kAnonymityViolations(df: DataFrame, quasiCols: Seq[String],
      k: Int): DataFrame = {
    require(k >= 2, "k-anonymity needs k >= 2")
    df.groupBy(quasiCols.map(col): _*).agg(count(lit(1)).as("n"))
      .filter(col("n") < k)
  }

  /** l-diversity violation worklist — the attribute-disclosure
    * companion to [[kAnonymityViolations]]: a quasi-group can satisfy
    * k-anonymity and still leak its members' sensitive value when
    * (almost) every row in the group shares it. Flags every group
    * whose sensitive attribute takes FEWER than `l` distinct values,
    * with the dominant value's share as the homogeneity severity.
    *
    * Output per violating group: the quasi columns plus `(n,
    * l_distinct, top_share_ppm)` — `top_share_ppm = (max_count·10⁶)
    * DIV n`, integral floor of non-negative operands.
    *
    * Scale: two hash aggregates — (quasi, sensitive) cell grain (the
    * map-side-combined collapse; `count(*)` over it IS the distinct
    * count, no count-distinct shuffle), then quasi grain — and a
    * filter; like the k-anonymity face, the output is the small
    * suppression worklist the audit exists to find.
    */
  def lDiversityViolations(df: DataFrame, quasiCols: Seq[String],
      sensitiveCol: String, l: Int): DataFrame = {
    require(l >= 2, "l-diversity needs l >= 2")
    df.groupBy((quasiCols :+ sensitiveCol).map(col): _*)
      .agg(count(lit(1)).as("__c"))
      .groupBy(quasiCols.map(col): _*)
      .agg(sum(col("__c")).cast("long").as("n"),
        count(lit(1)).cast("long").as("l_distinct"),
        max(col("__c")).cast("long").as("__top"))
      .filter(col("l_distinct") < l)
      .withColumn("top_share_ppm", expr("(__top * 1000000) DIV n"))
      .drop("__top")
  }

  /** t-closeness violation worklist — the distributional third of the
    * privacy triple ([[kAnonymityViolations]] counts rows,
    * [[lDiversityViolations]] counts values; this one measures how far
    * a group's sensitive-value DISTRIBUTION sits from the corpus
    * distribution, the leak the other two can't see: a group can be
    * large and diverse yet still reveal "90% churned here"). Distance
    * is total variation `TVD = ½·Σ_v |p_g(v) − p(v)|` — the standard
    * t-closeness ground metric for categorical sensitive attributes —
    * flagged when `tvd_ppm > maxTvdPpm`.
    *
    * Exactness: with group cell counts `c`, group size `n`, global
    * value counts `gc`, corpus size `N`: present values contribute
    * `|c·N − gc·n|` and the values ABSENT from the group contribute
    * `(N − Σ_present gc)·n` in one closed form (no densification —
    * a group never materializes rows for values it doesn't have), so
    * `tvd_ppm = (Σ·10⁶) DIV (2·n·N)` is all-integer with products in
    * DECIMAL(38,0) (bound ~N²·|V|: exact past 10⁹ rows).
    *
    * Scale: cell-grain aggregate, the global value marginal rolls up
    * FROM the cell frame (no second scan) and is broadcast (sensitive
    * attributes are bounded-cardinality by construction — an audit
    * over a high-cardinality column is a different query), one
    * group-total join at quasi grain.
    */
  def tClosenessViolations(df: DataFrame, quasiCols: Seq[String],
      sensitiveCol: String, maxTvdPpm: Long): DataFrame = {
    require(maxTvdPpm >= 0, "threshold must be non-negative")
    val d38 = "decimal(38,0)"
    val cells = df
      .groupBy((quasiCols :+ sensitiveCol).map(col): _*)
      .agg(count(lit(1)).as("__c"))
    val glob = cells.groupBy(col(sensitiveCol))
      .agg(sum(col("__c")).as("__gc"))
    val tot = glob.agg(sum(col("__gc")).as("__N"))
    val gn = cells.groupBy(quasiCols.map(col): _*)
      .agg(sum(col("__c")).as("__gn"))
    cells.join(gn, quasiCols)
      .join(broadcast(glob), Seq(sensitiveCol))
      .crossJoin(broadcast(tot))
      .groupBy(quasiCols.map(col): _*)
      .agg(max(col("__gn")).cast("long").as("n"),
        sum(abs(col("__c").cast(d38) * col("__N")
          - col("__gc").cast(d38) * col("__gn"))).as("__np"),
        sum(col("__gc")).as("__pg"),
        max(col("__N")).as("__N2"))
      .withColumn("tvd_ppm", expr(
        "((__np + CAST(__N2 - __pg AS DECIMAL(38,0)) * n) * 1000000)" +
          " DIV (CAST(2 AS DECIMAL(38,0)) * n * __N2)"))
      .filter(col("tvd_ppm") > maxTvdPpm)
      .drop("__np", "__pg", "__N2")
  }

  /** Full contingency-table independence audit between two categorical
    * columns: Pearson chi-square with degrees of freedom and Cramér's V
    * — the table-level companion to the per-term chi2 ranking
    * ([[graft.llm.Lexical]] q158 scores terms; this one answers "are
    * these two columns associated AT ALL, and how strongly" in one
    * row). Uses the algebraic identity `χ² = Σ_cells o²·N/(r·c) − N`:
    * EMPTY cells (an observed-cell frame never materializes them)
    * contribute exactly 0 to the o² sum, so the identity covers the
    * full r×c table from present cells only — no densification.
    * `chi2_micro = max(Σ_present ((o²·N·10⁶) DIV (r·c)) − N·10⁶, 0)`:
    * per-cell integer floor in micro-units (established micro-term
    * discipline; the Σ's total floor deficit < #cells micro-units, so
    * the subtraction is clamped at the exact-χ² lower bound 0),
    * products through DECIMAL(38,0) (o²·N ~ N³: exact past 10¹⁰ rows).
    * `cramers_v = √(chi2/(N·min(r−1, c−1)))`, the one floating step.
    *
    * Output ONE row: `(n, r_levels, c_levels, dof, chi2_micro,
    * cramers_v)`; a single-level axis has dof 0 and null V.
    *
    * Scale: one cell-grain aggregate; both marginals roll up from the
    * cell frame and broadcast (categorical levels are bounded by
    * construction — the audit's contract, as in [[tClosenessViolations]]).
    */
  def contingencyAudit(df: DataFrame, aCol: String,
      bCol: String): DataFrame = {
    val cells = df.filter(col(aCol).isNotNull && col(bCol).isNotNull)
      .groupBy(col(aCol).as("__a"), col(bCol).as("__b"))
      .agg(count(lit(1)).as("__o"))
    val ra = cells.groupBy(col("__a")).agg(sum(col("__o")).as("__r"))
    val cb = cells.groupBy(col("__b")).agg(sum(col("__o")).as("__cc"))
    val tot = cells.agg(sum(col("__o")).as("__N"),
      countDistinct(col("__a")).as("__rl"),
      countDistinct(col("__b")).as("__cl"))
    cells.join(broadcast(ra), Seq("__a"))
      .join(broadcast(cb), Seq("__b"))
      .crossJoin(broadcast(tot))
      .withColumn("__t", expr(
        "(CAST(__o AS DECIMAL(38,0)) * __o * __N * 1000000)" +
          " DIV (CAST(__r AS DECIMAL(38,0)) * __cc)"))
      .groupBy()
      .agg(max(col("__N")).cast("long").as("n"),
        max(col("__rl")).cast("long").as("r_levels"),
        max(col("__cl")).cast("long").as("c_levels"),
        sum(col("__t")).cast("long").as("__s"))
      .withColumn("chi2_micro",
        greatest(col("__s") - col("n") * 1000000L, lit(0L)))
      .withColumn("dof",
        (col("r_levels") - 1) * (col("c_levels") - 1))
      .withColumn("cramers_v", when(col("dof") > 0 && col("n") > 0,
        round(sqrt(col("chi2_micro").cast("double") / 1e6 /
          (col("n").cast("double") *
            least(col("r_levels") - 1, col("c_levels") - 1)
              .cast("double"))), 6)))
      .select(col("n"), col("r_levels"), col("c_levels"), col("dof"),
        col("chi2_micro"), col("cramers_v"))
  }

  /** Effective sample size and design effect of a weighted sample, per
    * group: `ESS = (Σw)²/Σw²` (Kish) and `deff_ppm = (n·Σw²·10⁶) DIV
    * (Σw)²` — the number that says how much statistical power a
    * weighted mix ([[graft.llm.Shaping]]'s samplers, DSIR importance
    * weights, mix resampling) ACTUALLY retains: uniform weights give
    * ESS = n, one dominant weight collapses it toward 1. Weights are
    * taken as non-negative integers (caller scales, e.g. cents or
    * micro-weights); zero-weight rows count in `n` but carry no mass;
    * an all-zero group has null ESS.
    *
    * Exactness: `Σw` and `Σw²` accumulate in DECIMAL(38,0) (exact,
    * order-proof); `ess` is the one floating division, rounded 6 dp;
    * `deff_ppm` is integral floor of non-negative operands. Bound:
    * Σw² ≤ n·w_max² — inside DECIMAL(38,0) past 10⁹ rows of 10¹²
    * weights.
    *
    * Scale: ONE map-side-combined aggregate at group grain.
    */
  def effectiveSampleSize(df: DataFrame, groupCols: Seq[String],
      weightCol: String): DataFrame = {
    df.filter(col(weightCol).isNotNull && col(weightCol) >= 0)
      .groupBy(groupCols.map(col): _*)
      .agg(count(lit(1)).cast("long").as("n"),
        exactSum(col(weightCol)).as("__sw"),
        exactSumProd(col(weightCol), col(weightCol)).as("__sw2"))
      .withColumn("sum_w", col("__sw").cast("long"))
      .withColumn("ess", when(col("__sw2") > 0,
        round((col("__sw") * col("__sw")).cast("double") /
          col("__sw2").cast("double"), 6)))
      .withColumn("deff_ppm", when(col("__sw") > 0, expr(
        "(CAST(n AS DECIMAL(38,0)) * __sw2 * 1000000)" +
          " DIV (__sw * __sw)")))
      .select((groupCols.map(col) ++ Seq(col("n"), col("sum_w"),
        col("ess"), col("deff_ppm"))): _*)
  }

  /** Shared engine/oracle Wilson-bound fragments (Wilson, JASA 1927),
    * z = 1.96 written as the PRODUCT `1.96 * 1.96` so both engines
    * fold the same IEEE double (the literal 3.8416 is a different
    * bit pattern). Inputs are the exact integer cell counts `k`, `n`.
    */
  private def wilsonSql(sign: String): String = {
    val ph = "(CAST(k AS DOUBLE) / CAST(n AS DOUBLE))"
    val zz = "(1.96 * 1.96)"
    val nD = "CAST(n AS DOUBLE)"
    s"(($ph + $zz / (2.0 * $nD)) $sign 1.96 * sqrt(" +
      s"$ph * (1.0 - $ph) / $nD + $zz / (4.0 * $nD * $nD)))" +
      s" / (1.0 + $zz / $nD)"
  }
  val wilsonLoSql: String = wilsonSql("-")
  val wilsonHiSql: String = wilsonSql("+")

  /** Wilson 95 % score interval for a per-group binary rate — the
    * proportion CI that stays inside [0, 1] and behaves at k = 0 /
    * k = n where the Wald interval collapses; the ops-report face for
    * "what fraction of this source passes the filter", with honest
    * uncertainty at small n (a 3/3 source is NOT a proven 100 %).
    * Exact integer cells (`n`, `k`); the three floats are ONE shared
    * formula fragment ([[wilsonLoSql]]/[[wilsonHiSql]]) parsed
    * verbatim by both engines, rounded 6 dp; an empty group cannot
    * occur (group keys come from rows), so `n ≥ 1` always.
    *
    * Output per group: `(groupCols…, n, k, rate, lo, hi)`.
    *
    * Scale: ONE map-side-combined aggregate at group grain.
    */
  def wilsonRateReport(df: DataFrame, groupCols: Seq[String],
      successCol: String): DataFrame =
    df.filter(col(successCol).isNotNull)
      .groupBy(groupCols.map(col): _*)
      .agg(count(lit(1)).as("n"),
        sum(when(col(successCol) =!= 0, 1L).otherwise(0L)).as("k"))
      .select((groupCols.map(col) ++ Seq(col("n"), col("k"),
        round(expr("CAST(k AS DOUBLE) / CAST(n AS DOUBLE)"), 6)
          .as("rate"),
        round(greatest(expr(wilsonLoSql), lit(0d)), 6).as("lo"),
        round(least(expr(wilsonHiSql), lit(1d)), 6).as("hi"))): _*)

  /** Delete-one-group jackknife standard error of a ratio estimator
    * `θ = ΣY / ΣX` (Quenouille 1956; Tukey 1958) — the
    * design-honest uncertainty for ratio metrics (revenue per unit,
    * tokens per doc) where the naive per-row variance ignores that
    * BOTH totals are random: drop each group g, recompute the ratio
    * on the remainder, and read the spread. Engine-stable arithmetic:
    * `Y`, `X`, and every leave-one-out pair are exact integer sums;
    * each LOO ratio is micro-floored (`((Y−Y_g)·10⁶) DIV (X−X_g)`,
    * the q307 per-term discipline — non-negative by the metric's
    * contract, keeping DIV-vs-// floor semantics aligned) and the
    * variance reads the exact integer identity
    * `G²·Σ(r−r̄)² = G·Σr² − (Σr)²` off `Σr, Σr²` in DECIMAL(38,0) —
    * multiplied through by `G` so NO intermediate division exists
    * (Spark's decimal quotient and DuckDB's int-/-to-double disagree
    * in low bits); the one float is the final
    * `se = √((G−1)·(G·Σr² − (Σr)²)) / G / 10⁶` via the shared
    * [[jackknifeSeSql]] fragment. A group with `X − X_g ≤ 0` (one
    * group carries everything) yields a null SE rather than a
    * division blow-up.
    *
    * Output ONE row: `(n_groups, y_sum, x_sum, theta_micro, se_jack)`.
    *
    * Scale: one group-grain aggregate, one G-row broadcast total.
    */
  def jackknifeRatio(df: DataFrame, groupCol: String, yCol: String,
      xCol: String): DataFrame = {
    val d38 = "decimal(38,0)"
    val g = df.filter(col(yCol).isNotNull && col(xCol).isNotNull)
      .groupBy(col(groupCol).cast("string").as("__g"))
      .agg(exactSum(col(yCol)).as("__yg"),
        exactSum(col(xCol)).as("__xg"))
    val tot = g.agg(sum(col("__yg")).as("__y"), sum(col("__xg")).as("__x"),
      count(lit(1)).as("__gn"))
    g.crossJoin(broadcast(tot))
      .withColumn("__r", when(col("__x") - col("__xg") > 0,
        expr("((__y - __yg) * 1000000) DIV (__x - __xg)")))
      .agg(max(col("__gn")).cast(d38).as("gn"),
        max(col("__y")).as("__y2"), max(col("__x")).as("__x2"),
        count(col("__r")).as("__gok"),
        exactSum(col("__r")).as("sr"),
        exactSumProd(col("__r"), col("__r")).as("sr2"))
      .select(col("gn").cast("int").as("n_groups"),
        col("__y2").cast("long").as("y_sum"),
        col("__x2").cast("long").as("x_sum"),
        when(col("__x2") > 0, expr("(__y2 * 1000000) DIV __x2"))
          .cast("long").as("theta_micro"),
        when(col("__gok") === col("gn").cast("long") && col("gn") >= 2,
          expr(jackknifeSeSql)).as("se_jack"))
  }

  /** Shared engine/oracle jackknife-SE fragment over the exact integer
    * sufficient statistics `(gn, sr, sr2)` — see [[jackknifeRatio]]. */
  val jackknifeSeSql: String =
    "round(sqrt(CAST((gn * sr2 - sr * sr) * (gn - 1) AS DOUBLE))" +
      " / CAST(gn AS DOUBLE) / 1000000.0, 6)"

  /** Median-of-means robust mean (Nemirovsky & Yudin 1983; the
    * estimator inside [[Sketches.amsF2]]'s group layer, surfaced as a
    * first-class report): hash rows into `g` fixed buckets, average
    * each bucket, take the median — one adversarial bucket moves the
    * estimate by at most one bucket's worth, where the plain mean
    * follows a single huge outlier anywhere. Deterministic buckets
    * (the engine polyhash·Knuth mix on the id column — seedless,
    * partition-invariant); `g` ODD so the median is ONE bucket mean.
    * Engine-exact: bucket sums and counts are integers, each bucket
    * mean is micro-floored (`(Σ·10⁶) DIV n`), the median is a
    * row_number pick over the g-row frame (config-grain window), and
    * the plain mean is emitted alongside for the outlier-gap readout.
    * Output ONE row: `(g, n, mean_micro, mom_micro)`.
    *
    * Scale: ONE map-side-combined aggregate to g buckets; everything
    * after runs on g rows.
    */
  def medianOfMeans(df: DataFrame, idCol: String, valCol: String,
      g: Int = 15): DataFrame = {
    require(g >= 1 && g % 2 == 1, "need odd g >= 1")
    val b = df.filter(col(idCol).isNotNull && col(valCol).isNotNull)
      .select(pmod(graft.functions.PolyHash.polyhash(
          col(idCol).cast("string")) * lit(2654435761L),
        lit(1000000007L)).mod(g).as("__b"),
        col(valCol).as("__v"))
      .groupBy(col("__b"))
      .agg(exactSum(col("__v")).as("__s"), count(lit(1)).as("__n"))
      .withColumn("__bm", expr("(__s * 1000000) DIV __n"))
    val tot = b.agg(sum(col("__s")).as("__ts"), sum(col("__n")).as("__tn"),
      count(lit(1)).as("__gn"))
    b.withColumn("__rk", row_number().over(
        Window.orderBy(col("__bm"), col("__b"))))
      .crossJoin(broadcast(tot))
      .filter(col("__rk") === expr("(__gn + 1) DIV 2"))
      .select(lit(g).as("g"), col("__tn").cast("long").as("n"),
        expr("(__ts * 1000000) DIV __tn").cast("long").as("mean_micro"),
        col("__bm").cast("long").as("mom_micro"))
  }

  /** Mantel–Haenszel common odds ratio across stratified 2×2 tables
    * (Mantel & Haenszel, JNCI 1959) — the Simpson's-paradox-aware
    * exposure→outcome effect estimate: per stratum `s` with cells
    * `(a, b, c, d)` (exposed-positive, exposed-negative, unexposed-
    * positive, unexposed-negative), `OR_MH = Σ a·d/n / Σ b·c/n` —
    * strata weight by size, a confounder that differs across strata
    * can no longer manufacture the association. Per-stratum terms are
    * micro-floored integers (`(a·d·10⁶) DIV n`, the q307 discipline);
    * the ratio's floor (`or_micro`) and one rounded float (`mh_or`)
    * read off the two integer sums; a zero denominator (no b·c mass
    * anywhere) yields nulls, never a division blow-up. Output ONE
    * row: `(n_strata, num_micro, den_micro, or_micro, mh_or)`.
    *
    * Scale: ONE map-side-combined aggregate to stratum grain, then a
    * strata-count-sized reduce.
    */
  def mantelHaenszel(df: DataFrame, stratumCol: String,
      exposedCol: String, outcomeCol: String): DataFrame = {
    val d38 = "decimal(38,0)"
    val cell = df.filter(col(exposedCol).isNotNull &&
        col(outcomeCol).isNotNull)
      .groupBy(col(stratumCol).as("__s"))
      .agg(
        sum(when(col(exposedCol) =!= 0 && col(outcomeCol) =!= 0, 1L)
          .otherwise(0L)).as("__a"),
        sum(when(col(exposedCol) =!= 0 && col(outcomeCol) === 0, 1L)
          .otherwise(0L)).as("__bq"),
        sum(when(col(exposedCol) === 0 && col(outcomeCol) =!= 0, 1L)
          .otherwise(0L)).as("__c"),
        sum(when(col(exposedCol) === 0 && col(outcomeCol) === 0, 1L)
          .otherwise(0L)).as("__d"))
      .withColumn("__n",
        col("__a") + col("__bq") + col("__c") + col("__d"))
      .withColumn("__num", expr(
        s"(CAST(__a AS $d38) * __d * 1000000) DIV __n"))
      .withColumn("__den", expr(
        s"(CAST(__bq AS $d38) * __c * 1000000) DIV __n"))
    cell.agg(count(lit(1)).as("__k"),
        sum(col("__num")).as("__sn"), sum(col("__den")).as("__sd"))
      .select(col("__k").cast("int").as("n_strata"),
        col("__sn").cast("long").as("num_micro"),
        col("__sd").cast("long").as("den_micro"),
        when(col("__sd") > 0, expr("(__sn * 1000000) DIV __sd"))
          .cast("long").as("or_micro"),
        when(col("__sd") > 0, round(col("__sn").cast("double") /
          col("__sd").cast("double"), 6)).as("mh_or"))
  }

  /** Shared engine/oracle CUPED fragments over the exact integer
    * sufficient statistics `(nt, nc, sxt, sxc, syt, syc, sxy, sxx)`
    * — see [[cupedEffect]]. θ is the pooled OLS slope written with NO
    * intermediate division (`(N·Σxy − Σx·Σy) / (N·Σx² − (Σx)²)`);
    * three scalar fragments (not one struct — DuckDB has no
    * named_struct) parsed verbatim by both engines. */
  private val cupedThetaExpr: String = {
    val n = "CAST(nt + nc AS DOUBLE)"
    val sx = "CAST(sxt + sxc AS DOUBLE)"
    val sy = "CAST(syt + syc AS DOUBLE)"
    s"(($n * CAST(sxy AS DOUBLE) - $sx * $sy) / " +
      s"($n * CAST(sxx AS DOUBLE) - $sx * $sx))"
  }
  private val cupedRawExpr: String =
    "(CAST(syt AS DOUBLE) / CAST(nt AS DOUBLE)" +
      " - CAST(syc AS DOUBLE) / CAST(nc AS DOUBLE))"
  private val cupedDxExpr: String =
    "(CAST(sxt AS DOUBLE) / CAST(nt AS DOUBLE)" +
      " - CAST(sxc AS DOUBLE) / CAST(nc AS DOUBLE))"
  val cupedThetaSql: String = s"round($cupedThetaExpr, 6)"
  val cupedRawSql: String = s"round($cupedRawExpr, 6)"
  val cupedAdjSql: String =
    s"round($cupedRawExpr - $cupedThetaExpr * $cupedDxExpr, 6)"

  /** Best decision-stump split of a binary label on a numeric feature
    * (CART's one-level special case, Breiman et al. 1984): for every
    * candidate threshold `t` on the feature's value lattice (split =
    * `v ≤ t` left), the weighted-Gini criterion, maximized. Uses the
    * decomposition `N·(G_parent − G_split) = [(posL²+negL²)/nL +
    * (posR²+negR²)/nR] − (pos²+neg²)/N` — so MAXIMIZING
    * `crit = (posL²+negL²)/nL + (posR²+negR²)/nR` finds the best
    * split; each of the two ratios is micro-floored (the q307
    * discipline; the floored crit IS the statistic, documented) and
    * `gain_micro = crit − parent` is a pure integer SUBTRACTION (no
    * signed floor-division anywhere). The global max value is not a
    * candidate (its right side is empty); ties break toward the
    * smallest threshold, deterministic on both engines. Output ONE
    * row: `(n, n_pos, parent_micro, threshold, crit_micro,
    * gain_micro)`; an empty input yields an empty report.
    *
    * Scale: collapse to (value) grain first, one prefix-sum window
    * over the bounded score lattice (the [[equiDepthBins]] cost
    * class — at an unbounded domain route through the ecdfPaired
    * two-level trick), one lattice-grain argmax.
    */
  def bestSplitStump(df: DataFrame, featureCol: String,
      labelCol: String): DataFrame = {
    val d38 = "decimal(38,0)"
    val c = df.filter(col(featureCol).isNotNull && col(labelCol).isNotNull)
      .groupBy(col(featureCol).cast("long").as("__v"))
      .agg(sum(when(col(labelCol) =!= 0, 1L).otherwise(0L)).as("__p"),
        count(lit(1)).as("__a"))
    val w = Window.orderBy(col("__v"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val tot = c.agg(sum(col("__p")).cast(d38).as("__tp"),
      sum(col("__a")).cast(d38).as("__tn"))
    val scored = c
      .withColumn("__cp", sum(col("__p")).over(w))
      .withColumn("__ca", sum(col("__a")).over(w))
      .crossJoin(broadcast(tot))
      .filter(col("__ca") < col("__tn"))
      .withColumn("__crit", expr(
        s"((CAST(__cp AS $d38) * __cp + CAST(__ca - __cp AS $d38)" +
          s" * (__ca - __cp)) * 1000000) DIV __ca" +
          s" + ((CAST(__tp - __cp AS $d38) * (__tp - __cp)" +
          s" + CAST((__tn - __ca) - (__tp - __cp) AS $d38)" +
          s" * ((__tn - __ca) - (__tp - __cp))) * 1000000)" +
          s" DIV (__tn - __ca)"))
    scored
      .withColumn("__rk", row_number().over(
        Window.orderBy(col("__crit").desc, col("__v"))))
      .filter(col("__rk") === 1)
      .withColumn("__parent", expr(
        s"((__tp * __tp + (__tn - __tp) * (__tn - __tp)) * 1000000)" +
          " DIV __tn"))
      .select(col("__tn").cast("long").as("n"),
        col("__tp").cast("long").as("n_pos"),
        col("__parent").cast("long").as("parent_micro"),
        col("__v").as("threshold"),
        col("__crit").cast("long").as("crit_micro"),
        (col("__crit") - col("__parent")).cast("long").as("gain_micro"))
  }

  /** Shared engine/oracle standardized-mean-difference fragment over
    * the exact integer sufficient statistics `(nt, nc, st, sc, sst,
    * ssc)` — see [[smdBalance]]. Sample (n−1) variances, composed
    * with no intermediate integer division. */
  val smdSql: String = {
    val mt = "(CAST(st AS DOUBLE) / CAST(nt AS DOUBLE))"
    val mc = "(CAST(sc AS DOUBLE) / CAST(nc AS DOUBLE))"
    val vt = "(CAST(nt * sst - st * st AS DOUBLE)" +
      " / CAST(nt * (nt - 1) AS DOUBLE))"
    val vc = "(CAST(nc * ssc - sc * sc AS DOUBLE)" +
      " / CAST(nc * (nc - 1) AS DOUBLE))"
    s"round(($mt - $mc) / sqrt(($vt + $vc) / 2.0), 6)"
  }

  /** Covariate-balance audit via standardized mean differences
    * (Rosenbaum & Rubin 1985's balance diagnostic; |SMD| < 0.1 is the
    * conventional "balanced" bar): per covariate, the treated-vs-
    * control mean gap in pooled-SD units — THE pre-analysis table for
    * any observational comparison or weighted sample, read BEFORE
    * trusting an effect estimate. Input is long-form `(covariate,
    * treat, value)` (callers unpivot); all sufficient statistics are
    * exact DECIMAL(38,0) sums per covariate and the one float is the
    * shared [[smdSql]] fragment; an arm with n < 2 or zero pooled
    * variance yields a null SMD for that covariate. Output per
    * covariate: `(cov, n_t, n_c, smd)`.
    *
    * Scale: ONE map-side-combined aggregate at covariate grain.
    */
  def smdBalance(df: DataFrame, covCol: String, treatCol: String,
      valCol: String): DataFrame = {
    val d38 = "decimal(38,0)"
    val t = when(col(treatCol) =!= 0, 1L).otherwise(0L)
    val vt = when(t === 1L, col(valCol)).otherwise(lit(0L))
    val vc = when(t === 0L, col(valCol)).otherwise(lit(0L))
    df.filter(col(valCol).isNotNull && col(treatCol).isNotNull)
      .groupBy(col(covCol).as("cov"))
      .agg(sum(t).cast(d38).as("nt"), sum(lit(1L) - t).cast(d38).as("nc"),
        exactSum(vt).as("st"), exactSum(vc).as("sc"),
        exactSumProd(vt, vt).as("sst"), exactSumProd(vc, vc).as("ssc"))
      .select(col("cov"), col("nt").cast("long").as("n_t"),
        col("nc").cast("long").as("n_c"),
        when(col("nt") >= 2 && col("nc") >= 2 &&
          (col("nt") * col("sst") - col("st") * col("st")) * col("nc") +
            (col("nc") * col("ssc") - col("sc") * col("sc")) * col("nt")
            > 0,
          expr(smdSql)).as("smd"))
  }

  /** Shared engine/oracle Pearson-r fragment over exact integer sums
    * `(n, sa, sb, sab, saa, sbb)` with column names substituted — see
    * [[partialCorrelation]]. */
  def pearsonSql(n: String, sa: String, sb: String, sab: String,
      saa: String, sbb: String): String =
    s"(CAST($n * $sab - $sa * $sb AS DOUBLE) / " +
      s"sqrt(CAST($n * $saa - $sa * $sa AS DOUBLE) * " +
      s"CAST($n * $sbb - $sb * $sb AS DOUBLE)))"

  /** First-order partial correlation `r_xy·z` (Yule 1907): the x–y
    * Pearson correlation with the z channel regressed out of both —
    * `(r_xy − r_xz·r_yz)/√((1−r_xz²)(1−r_yz²))` — the confounder
    * check that answers "is x–y real, or do both just follow z".
    * All three pairwise correlations compose from ONE pass of exact
    * DECIMAL(38,0) sums via the shared [[pearsonSql]] fragment (no
    * intermediate integer division); degenerate marginals (zero
    * variance anywhere, or |r_·z| = 1) yield nulls. Output ONE row:
    * `(n, r_xy, r_xz, r_yz, r_xy_z)`.
    *
    * Scale: ONE map-side-combined aggregate.
    */
  def partialCorrelation(df: DataFrame, xCol: String, yCol: String,
      zCol: String): DataFrame = {
    val d38 = "decimal(38,0)"
    def s2(a: String, b: String) =
      exactSumProd(col(a), col(b)).as(s"s_${a}_$b")
    // no fanOut below this aggregate (r14, measured): spreading a GLOBAL
    // aggregate un-fuses its partial aggregate from the scan (raw rows
    // cross a round-robin exchange; warm medians went 1.5 → 1.7–7.9 s
    // erratic); correlationMatrix dropped its fanOut for the same reason
    val agg = df.filter(col(xCol).isNotNull && col(yCol).isNotNull &&
        col(zCol).isNotNull)
      .select(col(xCol).as("x"), col(yCol).as("y"), col(zCol).as("z"))
      .agg(count(lit(1)).cast(d38).as("n"),
        exactSum(col("x")).as("sx"), exactSum(col("y")).as("sy"),
        exactSum(col("z")).as("sz"),
        s2("x", "y"), s2("x", "z"), s2("y", "z"),
        s2("x", "x"), s2("y", "y"), s2("z", "z"))
    val rxy = pearsonSql("n", "sx", "sy", "s_x_y", "s_x_x", "s_y_y")
    val rxz = pearsonSql("n", "sx", "sz", "s_x_z", "s_x_x", "s_z_z")
    val ryz = pearsonSql("n", "sy", "sz", "s_y_z", "s_y_y", "s_z_z")
    val okVar = (col("n") * col("s_x_x") - col("sx") * col("sx")) > 0 &&
      (col("n") * col("s_y_y") - col("sy") * col("sy")) > 0 &&
      (col("n") * col("s_z_z") - col("sz") * col("sz")) > 0
    agg.select(col("n").cast("long").as("n"),
        when(okVar, expr(s"round($rxy, 6)")).as("r_xy"),
        when(okVar, expr(s"round($rxz, 6)")).as("r_xz"),
        when(okVar, expr(s"round($ryz, 6)")).as("r_yz"),
        when(okVar && expr(s"(1.0 - $rxz * $rxz) * (1.0 - $ryz * $ryz)")
            > 0,
          expr(s"round(($rxy - $rxz * $ryz) / " +
            s"sqrt((1.0 - $rxz * $rxz) * (1.0 - $ryz * $ryz)), 6)"))
          .as("r_xy_z"))
  }

  /** Shared engine/oracle Erlang-C composition over the double column
    * `a` (offered load in erlangs) for `c` agents — see
    * [[erlangCReport]]. Powers are explicit left-associated products
    * (never libm `pow`, whose last ulp differs across engines) and
    * factorials are exact integer literals; the whole fragment is one
    * string parsed by both engines.
    */
  def erlangCSql(c: Int): String = {
    require(c >= 1 && c <= 20, "need 1 <= c <= 20 agents")
    def fact(k: Int): Long = (1 to k).foldLeft(1L)(_ * _)
    def powA(k: Int): String =
      if (k == 0) "1.0" else Seq.fill(k)("a").mkString("(", " * ", ")")
    val s = (0 until c).map(k => s"${powA(k)} / ${fact(k)}.0")
      .mkString("(", " + ", ")")
    val tc = s"(${powA(c)} / ${fact(c)}.0)"
    s"CASE WHEN a / $c.0 < 1.0 THEN round($tc / ($tc + " +
      s"(1.0 - a / $c.0) * $s), 6) END"
  }

  /** Erlang-C staffing report (Erlang 1917): per group, the
    * probability an arrival must WAIT in an M/M/c queue with `c`
    * agents — the century-old closed form that still prices support
    * desks, GPU job queues, and connection pools. Arrival rate reads
    * the group's exact event count over the fixed observation window
    * (`hours`), service rate `mu` is per-agent-per-hour; offered
    * load `a = λ/μ`, utilization `ρ = a/c`, and an unstable queue
    * (`ρ ≥ 1`) reports a null wait probability rather than a
    * fabricated number. The float composition is ONE generated
    * fragment ([[erlangCSql]]) — explicit products, exact factorial
    * literals, no libm `pow`. Output per group: `(groupCols…, n,
    * offered_load, rho, erlang_c)`.
    *
    * Scale: ONE map-side-combined count aggregate; everything else is
    * per-group column arithmetic.
    */
  def erlangCReport(df: DataFrame, groupCols: Seq[String], c: Int,
      hours: Double, mu: Double): DataFrame = {
    require(hours > 0 && mu > 0, "need positive window and rate")
    df.groupBy(groupCols.map(col): _*)
      .agg(count(lit(1)).as("n"))
      .withColumn("a", col("n").cast("double") / hours / mu)
      .withColumn("erlang_c", expr(erlangCSql(c)))
      .select(groupCols.map(col) ++ Seq(col("n"),
        round(col("a"), 6).as("offered_load"),
        round(col("a") / c, 6).as("rho"), col("erlang_c")): _*)
  }

  /** CUPED variance-reduced treatment effect (Deng, Xu, Kohavi &
    * Walker, WSDM 2013): the A/B lift on metric `Y` after regressing
    * out the pre-period covariate `X` — `Δ_adj = Δ_Y − θ·Δ_X` with
    * `θ` the pooled OLS slope of Y on X, the one-line trick that cuts
    * experiment variance by the X–Y correlation squared and is the
    * default in every modern experimentation platform. Input is one
    * row per UNIT (user) with its treatment flag, pre-period X and
    * post-period Y (integer units — cents); all sufficient statistics
    * are exact DECIMAL(38,0) sums and θ is composed with NO
    * intermediate division; the three floats (θ, raw, adjusted) are
    * shared fragments ([[cupedThetaSql]]/[[cupedRawSql]]/
    * [[cupedAdjSql]]) parsed by both engines. A
    * degenerate X (zero pooled variance) or an empty arm yields null
    * effects. Output ONE row: `(n_t, n_c, sy_t, sy_c, theta,
    * raw_effect, adj_effect)`.
    *
    * Scale: ONE map-side-combined aggregate over the unit frame
    * (the unit collapse itself is the caller's upstream groupBy).
    */
  def cupedEffect(units: DataFrame, treatCol: String, xCol: String,
      yCol: String): DataFrame = {
    val t = when(col(treatCol) =!= 0, 1L).otherwise(0L)
    units.filter(col(xCol).isNotNull && col(yCol).isNotNull)
      .agg(sum(t).as("nt"), sum(lit(1L) - t).as("nc"),
        exactSum(when(t === 1L, col(xCol)).otherwise(lit(0L))).as("sxt"),
        exactSum(when(t === 0L, col(xCol)).otherwise(lit(0L))).as("sxc"),
        exactSum(when(t === 1L, col(yCol)).otherwise(lit(0L))).as("syt"),
        exactSum(when(t === 0L, col(yCol)).otherwise(lit(0L))).as("syc"),
        exactSumProd(col(xCol), col(yCol)).as("sxy"),
        exactSumProd(col(xCol), col(xCol)).as("sxx"))
      .withColumn("__ok", col("nt") > 0 && col("nc") > 0 &&
        (col("nt") + col("nc")) * col("sxx") -
          (col("sxt") + col("sxc")) * (col("sxt") + col("sxc")) > 0)
      .select(col("nt").cast("long").as("n_t"),
        col("nc").cast("long").as("n_c"),
        col("syt").cast("long").as("sy_t"),
        col("syc").cast("long").as("sy_c"),
        when(col("__ok"), expr(cupedThetaSql)).as("theta"),
        when(col("__ok"), expr(cupedRawSql)).as("raw_effect"),
        when(col("__ok"), expr(cupedAdjSql)).as("adj_effect"))
  }

  /** Chapman capture–recapture population estimate (Chapman 1951; the
    * bias-corrected Lincoln–Petersen index) from two overlapping
    * "detector" samples: `N̂ = (n_A+1)(n_B+1)/(m+1) − 1` where `m` is
    * the overlap — the audit that estimates how big a population
    * REALLY is from two independent partial views (how many
    * near-duplicates exist when each dedup pass catches only some;
    * how many active users when each channel sees a subset). The
    * exact population over the observation window is emitted
    * alongside with an `err_ppm` readout (the cmsTopK calibration
    * convention), so the report doubles as an independence check —
    * positively correlated detectors bias N̂ low. The estimate is a
    * floor division of positive counts; `err_ppm` is SIGNED, so it
    * routes through DOUBLE (the q268 lesson: Spark's DIV truncates
    * toward zero where DuckDB's // floors — they disagree exactly on
    * the negative values this readout routinely takes).
    *
    * Input: one row per entity with two 0/1 detector flags. Output
    * ONE row: `(n_a, n_b, m, n_hat, n_exact, err_ppm)`.
    *
    * Scale: ONE map-side-combined aggregate over the entity frame.
    */
  def captureRecapture(df: DataFrame, flagACol: String,
      flagBCol: String): DataFrame =
    df.agg(
        sum(when(col(flagACol) =!= 0, 1L).otherwise(0L)).as("n_a"),
        sum(when(col(flagBCol) =!= 0, 1L).otherwise(0L)).as("n_b"),
        sum(when(col(flagACol) =!= 0 && col(flagBCol) =!= 0, 1L)
          .otherwise(0L)).as("m"),
        count(lit(1)).as("n_exact"))
      .withColumn("n_hat",
        expr("((n_a + 1) * (n_b + 1)) DIV (m + 1) - 1"))
      .select(col("n_a"), col("n_b"), col("m"), col("n_hat"),
        col("n_exact"),
        when(col("n_exact") > 0, round(expr(
          "CAST(n_hat - n_exact AS DOUBLE) * 1000000.0" +
            " / CAST(n_exact AS DOUBLE)"), 6)).as("err_ppm"))

  /** Kruskal–Wallis H test (Kruskal & Wallis 1952) across k groups on
    * an integer-lattice value column — the k-sample generalization of
    * the Mann–Whitney (q194): "do these sources/splits draw from the
    * same distribution" without normality. Average ranks for ties,
    * carried exactly as DOUBLED ranks at VALUE grain: the rank of
    * value v is `r2_v = 2·cum(v) − c_v + 1` over the value-grain count
    * frame, so ranking costs one [[PrefixScan.globalCumSum]] over
    * DISTINCT values (bounded by the value domain, never the row count
    * — no global row sort anywhere). Per-group rank sums
    * `R2_g = Σ c_{v,g}·r2_v` are exact BIGINT; the `Σ R_g²/n_g` fold
    * rides the [[anovaF]] sorted-fold discipline (terms summed in
    * group order, both engines); tie mass `Σ(t³−t)` is exact DECIMAL(38,0).
    * `H = 12·T/(n(n+1)) − 3(n+1)`, tie-corrected
    * `H' = H / (1 − Σ(t³−t)/(n³−n))`. Output: ONE row
    * `(k, n, h_stat, tie_c, h_adj)` at 6 dp.
    *
    * Scale: two value-grain aggregates + the partition-local cumsum —
    * the q303 distributed-rank posture; nothing wider than
    * (distinct values × groups) is ever shuffled.
    */
  def kruskalWallis(df: DataFrame, groupCol: String,
      valueCol: String): DataFrame = {
    val d38 = "decimal(38,0)"
    val rows = df.filter(col(valueCol).isNotNull && col(groupCol).isNotNull)
      .select(col(groupCol).cast("string").as("__g"),
        col(valueCol).cast("long").as("__v"))
    val vGrain = rows.groupBy(col("__v")).agg(count(lit(1)).as("__c"))
    val ranked = globalCumSum(vGrain, Seq(col("__v")), col("__c") -> "__cum")
      .withColumn("__r2", col("__cum") * 2 - col("__c") + 1)
    val gvGrain = rows.groupBy(col("__g"), col("__v"))
      .agg(count(lit(1)).as("__cg"))
    val byG = gvGrain.join(ranked.select(col("__v"), col("__r2")), "__v")
      .groupBy(col("__g"))
      .agg(sum(col("__cg")).as("__ng"),
        sum(col("__cg") * col("__r2")).as("__R2"))
      // R2 <= 2n² stays double-exact below 2^53 (n <= ~6·10⁷ rows);
      // halve FIRST, then square in double — never a >10¹⁹ decimal
      // (the Brown–Forsythe DECIMAL→DOUBLE lesson)
      .withColumn("__term",
        (col("__R2").cast("double") / 2) * (col("__R2").cast("double") / 2)
          / col("__ng").cast("double"))
    val ties = vGrain.agg(coalesce(sum(
      col("__c").cast(d38) * col("__c") * col("__c") - col("__c")),
      lit(0L).cast(d38)).as("__ties"))
    orderedSum(byG, Nil, Seq(col("__g")), col("__term"), "__t",
        count(lit(1)).cast("int").as("k"), sum(col("__ng")).as("n"))
      .crossJoin(ties)
      .withColumn("h_stat", when(col("n") > 1, round(
        col("__t") * 12 / (col("n").cast("double") *
          (col("n").cast("double") + 1)) -
          (col("n").cast("double") + 1) * 3, 6)))
      .withColumn("tie_c", when(col("n") > 1, round(
        lit(1d) - col("__ties").cast("double") /
          (col("n").cast("double") * col("n").cast("double") *
            col("n").cast("double") - col("n").cast("double")), 6)))
      .withColumn("h_adj", when(col("n") > 1 &&
          col("__ties").cast("double") <
            col("n").cast("double") * col("n").cast("double") *
              col("n").cast("double") - col("n").cast("double"), round(
        (col("__t") * 12 / (col("n").cast("double") *
          (col("n").cast("double") + 1)) -
          (col("n").cast("double") + 1) * 3) /
        (lit(1d) - col("__ties").cast("double") /
          (col("n").cast("double") * col("n").cast("double") *
            col("n").cast("double") - col("n").cast("double"))), 6)))
      .select(col("k"), col("n"), col("h_stat"), col("tie_c"),
        col("h_adj"))
  }

  /** Friedman test (Friedman 1937) over a block × treatment design:
    * "does the treatment ordering hold up across blocks" — the
    * repeated-measures companion to [[kruskalWallis]] (which assumes
    * independent groups). Cells are the exact micro-mean
    * `S·10⁶ DIV c` of a NON-NEGATIVE integer-lattice value (the
    * [[giniReport]] caller contract); only COMPLETE blocks (all k
    * treatments present) enter, the standard requirement. Within-block
    * average ranks carried as exact doubled ranks (`r2 = 2·cum − c +
    * 1` over the block's value-grain counts — ties across treatments
    * share the average; [[blockRankSums]]); treatment rank sums `R2_j`
    * and `Σ R2_j²` are exact; `χ²_F = 3·ΣR2_j²/(b·k·(k+1)) −
    * 3·b·(k+1)` is one final double division at 6 dp. Output: ONE row
    * `(k, b, r2_sq_sum, chi2_f)`.
    *
    * Scale: block×treatment-grain aggregates with block-keyed windows
    * — block cardinality bounds every frame; no global ranking at all.
    */
  def friedmanTest(df: DataFrame, blockCol: String, treatmentCol: String,
      valueCol: String): DataFrame = {
    val d38 = "decimal(38,0)"
    blockRankSums(df, blockCol, treatmentCol, valueCol)
      .agg(count(lit(1)).cast("int").as("k"),
        max(col("__bt")).as("b"),
        coalesce(exactSumProd(col("__R2"), col("__R2")), lit(0L).cast(d38))
          .as("r2_sq_sum"))
      .withColumn("chi2_f", when(col("k") > 1 && col("b") > 0, round(
        col("r2_sq_sum").cast("double") * 3 /
          (col("b").cast("double") * col("k").cast("double") *
            (col("k").cast("double") + 1)) -
          col("b").cast("double") * (col("k").cast("double") + 1) * 3, 6)))
      .select(col("k"), col("b"), col("r2_sq_sum").cast("long")
        .as("r2_sq_sum"), col("chi2_f"))
  }

  /** The complete-block rank sums of [[friedmanTest]] and
    * [[pageTrendTest]]: cells are the exact micro-means
    * `S·10⁶ DIV c` per (block, treatment); only blocks holding all k
    * treatments enter; within a block the cells carry exact doubled
    * average ranks `r2 = 2·cum − c + 1` over the block's micro-mean
    * counts (ties share the average). Output per treatment
    * `(__t, __R2, __bt)`: the doubled rank sum and the block count.
    */
  private def blockRankSums(df: DataFrame, blockCol: String,
      treatmentCol: String, valueCol: String): DataFrame = {
    val cells = df.filter(col(valueCol).isNotNull &&
        col(blockCol).isNotNull && col(treatmentCol).isNotNull)
      .groupBy(col(blockCol).as("__b"), col(treatmentCol).as("__t"))
      .agg(sum(col(valueCol).cast("long")).as("__s"),
        count(lit(1)).as("__c"))
      .withColumn("__m", expr("__s * 1000000L DIV __c"))
    val k1 = cells.agg(countDistinct(col("__t")).as("__k"))
    val complete = cells.groupBy(col("__b"))
      .agg(count(lit(1)).as("__nt"))
      .crossJoin(k1)
      .filter(col("__nt") === col("__k"))
      .select(col("__b"))
    val kept = cells.join(complete, Seq("__b"))
    val mGrain = kept.groupBy(col("__b"), col("__m"))
      .agg(count(lit(1)).as("__cm"))
    val w = Window.partitionBy(col("__b")).orderBy(col("__m"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val ranked = mGrain.withColumn("__cum", sum(col("__cm")).over(w))
      .withColumn("__r2", col("__cum") * 2 - col("__cm") + 1)
    kept.join(ranked.select(col("__b"), col("__m"), col("__r2")),
        Seq("__b", "__m"))
      .groupBy(col("__t"))
      .agg(sum(col("__r2")).as("__R2"), count(lit(1)).as("__bt"))
  }

  /** Cliff's delta ordinal effect size (Cliff 1993) of every non-ref
    * split against the reference: `δ = [#(x_s > x_ref) − #(x_s <
    * x_ref)] / (n_s·n_ref)` — the assumption-free companion the
    * Mann–Whitney U's p-value needs (at 100 TB everything is
    * "significant"; δ says whether the shift is MATERIAL: |δ| < 0.147
    * is the conventional "negligible" bar).
    *
    * Exact at value grain: with the reference's cumulative counts
    * `cumA(v)` (one [[PrefixScan.globalCumSum]] over the union value-grain
    * frame), the numerator is `Σ_v c_{s,v}·(lessA(v) − greaterA(v))`
    * — exact BIGINT, never a row×row comparison. Output per split:
    * `(split, n_ref, n_split, num, delta)` at 6 dp.
    */
  def cliffsDelta(df: DataFrame, splitCol: String, refValue: String,
      valueCol: String): DataFrame = {
    val rows = df.filter(col(valueCol).isNotNull && col(splitCol).isNotNull)
      .select(col(splitCol).cast("string").as("__s"),
        col(valueCol).cast("long").as("__v"))
    val vGrain = rows.groupBy(col("__v"))
      .agg(sum(when(col("__s") === refValue, 1L).otherwise(0L))
        .as("__ca"))
    val nA = vGrain.agg(sum(col("__ca")).as("__na"))
    val cum = globalCumSum(vGrain, Seq(col("__v")), col("__ca") -> "__cumA")
    val other = rows.filter(col("__s") =!= refValue)
      .groupBy(col("__s"), col("__v")).agg(count(lit(1)).as("__cb"))
    other.join(cum.select(col("__v"), col("__ca"), col("__cumA")), "__v")
      .crossJoin(nA)
      .withColumn("__less", col("__cumA") - col("__ca"))
      .withColumn("__greater", col("__na") - col("__cumA"))
      .groupBy(col("__s"))
      .agg(max(col("__na")).as("n_ref"),
        sum(col("__cb")).as("n_split"),
        sum(col("__cb") * (col("__less") - col("__greater"))).as("num"))
      .select(col("__s").as("split"), col("n_ref"), col("n_split"),
        col("num"),
        when(col("n_ref") > 0 && col("n_split") > 0, round(
          col("num").cast("double") / (col("n_ref").cast("double") *
            col("n_split").cast("double")), 6)).as("delta"))
  }

  /** Hodges–Lehmann shift estimator (Hodges & Lehmann 1963) of every
    * non-ref split vs the reference: the MEDIAN of all n_s·n_ref
    * pairwise differences — the robust "how far did the distribution
    * move" in original units ([[cliffsDelta]] says whether, this says
    * how much).
    *
    * Never materializes row pairs: both sides collapse to value grain,
    * the reference grain is collected into ONE sorted array (bounded
    * by the value DOMAIN — the corpus-total broadcast pattern, row-
    * count-independent) and exploded against the split grains, so the
    * difference distribution is a |V_s|×|V_ref| frame of
    * `(d, weight = c_s·c_ref)` cells. The shift is the exact lower
    * weighted median (`min d with 2·cum ≥ T`, the Brown–Forsythe
    * median convention). Output per split:
    * `(split, n_pairs, hl_shift)` — all exact integers.
    */
  def hodgesLehmannShift(df: DataFrame, splitCol: String, refValue: String,
      valueCol: String): DataFrame = {
    val rows = df.filter(col(valueCol).isNotNull && col(splitCol).isNotNull)
      .select(col(splitCol).cast("string").as("__s"),
        col(valueCol).cast("long").as("__v"))
    val refArr = rows.filter(col("__s") === refValue)
      .groupBy(col("__v")).agg(count(lit(1)).as("__ca"))
      .agg(sort_array(collect_list(struct(col("__v").as("va"),
        col("__ca").as("ca")))).as("__ref"))
    val diffs = rows.filter(col("__s") =!= refValue)
      .groupBy(col("__s"), col("__v")).agg(count(lit(1)).as("__cb"))
      .crossJoin(refArr)
      .select(col("__s"), col("__v"), col("__cb"),
        explode(col("__ref")).as("__r"))
      .select(col("__s"), (col("__v") - col("__r.va")).as("__d"),
        (col("__cb") * col("__r.ca")).as("__w"))
      .groupBy(col("__s"), col("__d")).agg(sum(col("__w")).as("__wd"))
    val w = Window.partitionBy(col("__s")).orderBy(col("__d"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tot = Window.partitionBy(col("__s"))
    diffs.withColumn("__cum", sum(col("__wd")).over(w))
      .withColumn("__T", sum(col("__wd")).over(tot))
      .filter(col("__cum") * 2 >= col("__T"))
      .groupBy(col("__s"))
      .agg(max(col("__T")).as("n_pairs"), min(col("__d")).as("hl_shift"))
      .select(col("__s").as("split"), col("n_pairs"), col("hl_shift"))
  }

  /** Theil T inequality decomposition (Theil 1967) of a positive mass
    * column across groups: unlike the Gini ([[giniReport]]), Theil is
    * ADDITIVELY DECOMPOSABLE — `T = T_between + Σ_s share_s·T_s` — so
    * the report answers the question Gini can't: WHICH source drives
    * corpus inequality, and is it between sources (mixture skew, fix
    * with [[graft.llm.Shaping]] reweighting) or within one (that
    * source needs length curation).
    *
    * Per group: `share_ppm = 10⁶·X_s DIV X` (exact),
    * `between_term_micro = round(10⁶·(X_s/X)·ln(N·X_s/(n_s·X)))` and
    * the inner `theil_in_micro = Σ_i round(10⁶·x_i·ln(n_s·x_i/X_s)
    * / X_s)` — PER-TERM rounding before the sum keeps the reduce
    * commutative and engine-exact (the Adamic–Adar discipline); both
    * ln terms can be legitimately negative, so they route through
    * round-double, never DIV (the [[captureRecapture]] lesson).
    * Output: `(group, n_rows, sum_x, share_ppm, between_term_micro,
    * theil_in_micro)` for rows with x > 0.
    *
    * Scale: one group-grain aggregate, one 1-row global aggregate
    * broadcast back, one group-grain join onto the row frame — the
    * row frame is scanned twice and shuffled once (on the group key).
    */
  def theilDecomposition(df: DataFrame, groupCol: String,
      valCol: String): DataFrame = {
    val rows = df.filter(col(valCol).isNotNull && col(valCol) > 0)
      .select(col(groupCol).as("__g"), col(valCol).cast("long").as("__x"))
    val byG = rows.groupBy(col("__g"))
      .agg(count(lit(1)).as("n_rows"), sum(col("__x")).as("sum_x"))
    val glob = byG.agg(sum(col("n_rows")).as("__nn"),
      sum(col("sum_x")).as("__xx"))
    val inner = rows.join(byG, Seq("__g"))
      .groupBy(col("__g"))
      .agg(sum(expr("CAST(round(CAST(__x AS DOUBLE) " +
        "* ln(CAST(n_rows * __x AS DOUBLE) / CAST(sum_x AS DOUBLE)) " +
        "* 1000000 / CAST(sum_x AS DOUBLE)) AS BIGINT)"))
        .as("theil_in_micro"))
    byG.join(inner, Seq("__g")).crossJoin(glob)
      .select(col("__g").as(groupCol), col("n_rows"), col("sum_x"),
        expr("sum_x * 1000000L DIV __xx").as("share_ppm"),
        expr("CAST(round(CAST(sum_x AS DOUBLE) / CAST(__xx AS DOUBLE) " +
          "* ln(CAST(__nn * sum_x AS DOUBLE) " +
          "/ CAST(n_rows * __xx AS DOUBLE)) * 1000000) AS BIGINT)")
          .as("between_term_micro"),
        col("theil_in_micro"))
  }

  /** Wilcoxon signed-rank test per group (Wilcoxon 1945) over a
    * pre-built signed-difference column: the PAIRED companion to the
    * unpaired Mann–Whitney (q194) — "did the second measurement move
    * vs the first, per entity" with no normality assumption. Zero
    * differences are dropped (the standard convention); ties in |d|
    * get AVERAGE ranks, carried exactly as the DOUBLED rank
    * `r2 = a+b` (a tie block spanning ranks a..b), so `w2_plus =
    * Σ_{d>0} r2` is an exact integer, `E[W2] = n(n+1)/2` exact, and
    * the tie-corrected `12·Var[W2] = 2n(n+1)(2n+1) − Σ(t³−t)` exact
    * DECIMAL(38,0); `z = (W2 − E2)/√(V12/12)` is the single final
    * float at 6 dp. Output: `(group…, n_pairs, w2_plus, z)`.
    *
    * Scale: one (group,|d|)-grain count aggregate, one group-keyed
    * ordered window over DISTINCT |d| values (bounded by the value
    * domain, not the row count), one group aggregate.
    */
  def wilcoxonSignedRank(df: DataFrame, groupCols: Seq[String],
      dCol: String): DataFrame = {
    val d38 = "decimal(38,0)"
    val nz = df.filter(col(dCol).isNotNull && col(dCol) =!= 0)
      .select(groupCols.map(col) :+ abs(col(dCol)).cast("long").as("__a")
        :+ (col(dCol) > 0).cast("long").as("__p"): _*)
    val byA = nz.groupBy(groupCols.map(col) :+ col("__a"): _*)
      .agg(count(lit(1)).as("__c"), sum(col("__p")).as("__cp"))
    val w = Window.partitionBy(groupCols.map(col): _*)
      .orderBy(col("__a"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val ranked = byA.withColumn("__cum", sum(col("__c")).over(w))
      .withColumn("__r2", col("__cum") * 2 - col("__c") + 1)
    ranked.groupBy(groupCols.map(col): _*)
      .agg(sum(col("__c")).as("n_pairs"),
        sum(col("__cp") * col("__r2")).as("w2_plus"),
        sum(col("__c").cast(d38) * col("__c") * col("__c") - col("__c"))
          .as("__ties"))
      .withColumn("__n", col("n_pairs").cast(d38))
      .withColumn("__v12",
        col("__n") * (col("__n") + 1) * (col("__n") * 2 + 1) * 2
          - col("__ties"))
      .select(groupCols.map(col) :+ col("n_pairs") :+ col("w2_plus") :+
        when(col("__v12") > 0, round(
          (col("w2_plus").cast(d38) * 2 -
            col("__n") * (col("__n") + 1)).cast("double") / 2 /
          sqrt(col("__v12").cast("double") / 12d), 6)).as("z"): _*)
  }

  /** ROC AUC of an integer-lattice score against a binary label, exact
    * via the rank identity `AUC = P(s⁺ > s⁻) + ½·P(s⁺ = s⁻)` — the
    * threshold-free readout a quality-classifier audit wants before
    * anyone picks a filter cutoff. Never materializes pairs: at value
    * grain, `num2 = Σ_v c⁺_v·(2·less⁻(v) + c⁻_v)` (doubled so ties stay
    * integral) with `less⁻` from one [[PrefixScan.globalCumSum]] over
    * the negative counts; `AUC = num2 / (2·n⁺·n⁻)` is the single final
    * double at 6 dp. `num2 ≤ 2·n⁺·n⁻` assumes `n⁺·n⁻ < 2⁶²` (geometric mean
    * ≲ 2·10⁹ rows per class — any labeled eval set; the momentsSketch
    * magnitude-bound convention). Output: ONE row
    * `(n_pos, n_neg, num2, auc)`.
    *
    * Scale: one value-grain count aggregate, one distributed cumsum
    * over the value DOMAIN, one 1-row reduce — row-count-independent
    * after the first aggregate.
    */
  def aucRoc(df: DataFrame, posCol: String, valueCol: String): DataFrame = {
    val rows = df.filter(col(valueCol).isNotNull && col(posCol).isNotNull)
      .select(col(posCol).cast("boolean").as("__y"),
        col(valueCol).cast("long").as("__v"))
    val vGrain = rows.groupBy(col("__v"))
      .agg(sum(when(col("__y"), 0L).otherwise(1L)).as("__cn"),
        sum(when(col("__y"), 1L).otherwise(0L)).as("__cp"))
    val cum = globalCumSum(vGrain, Seq(col("__v")), col("__cn") -> "__cumN")
    cum.agg(sum(col("__cp")).as("n_pos"), sum(col("__cn")).as("n_neg"),
        coalesce(sum(col("__cp") *
          ((col("__cumN") - col("__cn")) * 2 + col("__cn"))), lit(0L))
          .as("num2"))
      .withColumn("auc", when(col("n_pos") > 0 && col("n_neg") > 0,
        round(col("num2").cast("double") /
          (col("n_pos").cast("double") * col("n_neg").cast("double") * 2),
          6)))
  }

  /** Calibration audit of a ppm-scale probability column against a
    * binary outcome: equal-width confidence bins with per-bin
    * confidence/accuracy gap, plus the two corpus scalars every
    * model-quality gate reads — ECE (expected calibration error,
    * bin-weighted |conf − acc|) and the Brier score. All exact
    * integers: `conf_ppm = Σp DIV n`, `acc_ppm = 10⁶·Σy DIV n`,
    * `brier_micro = Σ(p − 10⁶y)² DIV (N·10⁶)` in DECIMAL(38,0)
    * (p ∈ [0,10⁶] so each square ≤ 10¹², safe to N ~ 10²⁵ rows),
    * `ece_ppm = Σ_b n_b·gap_b DIV N`. Output: one row per non-empty
    * bin `(bin, n, conf_ppm, acc_ppm, gap_ppm, ece_ppm, brier_micro)`
    * — the two scalars repeated per row (bounded bins-row frame).
    *
    * Scale: one bin-grain aggregate (≤ `bins` rows) + a 1-row reduce
    * broadcast back — single exchange over the row frame.
    */
  def calibrationReport(df: DataFrame, probPpmCol: String,
      outcomeCol: String, bins: Int = 10): DataFrame = {
    val rows = df.filter(col(probPpmCol).isNotNull &&
        col(outcomeCol).isNotNull)
      .select(col(probPpmCol).cast("long").as("__p"),
        col(outcomeCol).cast("boolean").cast("long").as("__yy"))
    val byBin = rows
      .withColumn("__bin", least(floor(col("__p") * bins / 1000000L),
        lit(bins - 1L)).cast("long"))
      .groupBy(col("__bin"))
      .agg(count(lit(1)).as("n"), sum(col("__p")).as("__sp"),
        sum(col("__yy")).as("__sy"),
        exactSumProd(col("__p") - col("__yy") * 1000000L,
          col("__p") - col("__yy") * 1000000L).as("__sq"))
      .withColumn("conf_ppm", expr("__sp DIV n"))
      .withColumn("acc_ppm", expr("__sy * 1000000L DIV n"))
      .withColumn("gap_ppm", abs(col("conf_ppm") - col("acc_ppm")))
    val glob = byBin.agg(sum(col("n")).as("__N"),
        sum(col("__sq")).as("__SQ"),
        exactSumProd(col("n"), col("gap_ppm")).as("__G"))
      .select(expr("CAST(__G DIV __N AS BIGINT)").as("ece_ppm"),
        expr("CAST(__SQ DIV (CAST(__N AS DECIMAL(38,0)) * 1000000) " +
          "AS BIGINT)").as("brier_micro"))
    byBin.select(col("__bin").as("bin"), col("n"), col("conf_ppm"),
        col("acc_ppm"), col("gap_ppm"))
      .crossJoin(glob)
  }

  /** McNemar's paired-accuracy test (McNemar 1947): given per-row
    * correctness of two models on the SAME rows, the discordant
    * counts `b = #(A right, B wrong)`, `c = #(A wrong, B right)` carry
    * all the evidence — `χ² = (b−c)²/(b+c)` and the Edwards
    * continuity-corrected `(max(|b−c|−1,0))²/(b+c)` — the right test
    * for "is the new lang-ID better than the baseline" where the
    * unpaired χ² would waste the pairing. Output: ONE row
    * `(n, n_both, n_a_only, n_b_only, n_neither, chi2, chi2_cc)`;
    * χ² at 6 dp, null when `b + c = 0`.
    *
    * Scale: a single 1-row aggregate over the paired frame.
    */
  def mcnemarTest(df: DataFrame, aCol: String, bCol: String): DataFrame = {
    val rows = df.filter(col(aCol).isNotNull && col(bCol).isNotNull)
      .select(col(aCol).cast("boolean").as("__a"),
        col(bCol).cast("boolean").as("__b"))
    rows.agg(count(lit(1)).as("n"),
        sum(when(col("__a") && col("__b"), 1L).otherwise(0L))
          .as("n_both"),
        sum(when(col("__a") && !col("__b"), 1L).otherwise(0L))
          .as("n_a_only"),
        sum(when(!col("__a") && col("__b"), 1L).otherwise(0L))
          .as("n_b_only"),
        sum(when(!col("__a") && !col("__b"), 1L).otherwise(0L))
          .as("n_neither"))
      .withColumn("__d", col("n_a_only") - col("n_b_only"))
      .withColumn("__s", col("n_a_only") + col("n_b_only"))
      .withColumn("chi2", when(col("__s") > 0, round(
        (col("__d") * col("__d")).cast("double") /
          col("__s").cast("double"), 6)))
      .withColumn("chi2_cc", when(col("__s") > 0, round(
        (greatest(abs(col("__d")) - 1, lit(0L)) *
          greatest(abs(col("__d")) - 1, lit(0L))).cast("double") /
          col("__s").cast("double"), 6)))
      .drop("__d", "__s")
  }

  /** Page's trend test (Page 1963) for an ORDERED alternative across
    * a block × treatment design: where [[friedmanTest]] asks "do
    * treatments differ at all", Page asks "do they increase in the
    * GIVEN order" (dose, curriculum stage, model generation) — far
    * more powerful when the order is the hypothesis. Treatments are
    * ordered lexicographically (position j from a sort_array of the
    * bounded treatment set — the corpus-total broadcast pattern, no
    * global window); cells, complete-block filtering, and exact
    * doubled within-block ranks are [[friedmanTest]]'s
    * [[blockRankSums]]. `L2 = Σ_j j·R2_j` is exact; `z = (L2/2 − b·k(k+1)²/4)
    * / √(b·k²(k+1)(k²−1)/144)` is the one final double at 6 dp.
    * Output: ONE row `(k, b, l2_stat, z)`.
    *
    * Scale: block×treatment-grain aggregates with block-keyed windows;
    * the treatment array is bounded by k.
    */
  def pageTrendTest(df: DataFrame, blockCol: String, treatmentCol: String,
      valueCol: String): DataFrame = {
    val byT = blockRankSums(df, blockCol, treatmentCol, valueCol)
    val order = byT.agg(sort_array(collect_list(col("__t"))).as("__ord"))
    byT.crossJoin(order)
      .withColumn("__j", array_position(col("__ord"), col("__t")))
      .agg(count(lit(1)).cast("int").as("k"), max(col("__bt")).as("b"),
        sum(col("__j") * col("__R2")).as("l2_stat"))
      .withColumn("__kd", col("k").cast("double"))
      .withColumn("__bd", col("b").cast("double"))
      .withColumn("__var", col("__bd") * col("__kd") * col("__kd") *
        (col("__kd") + 1) * (col("__kd") * col("__kd") - 1) / 144d)
      .withColumn("z", when(col("__var") > 0, round(
        (col("l2_stat").cast("double") / 2 -
          col("__bd") * col("__kd") * (col("__kd") + 1) *
            (col("__kd") + 1) / 4) / sqrt(col("__var")), 6)))
      .select(col("k"), col("b"), col("l2_stat"), col("z"))
  }

  /** Gumbel extreme-value fit by the method of moments over
    * caller-grained block maxima (daily/hourly max volume): the
    * capacity question a mean-based forecast can't answer — "what
    * peak should we provision for once in T blocks". With exact block
    * maxima and exact `S, Q` over them, `σ = √((nQ − S²)/n²)`,
    * `β = σ·√6/π`, `μ = x̄ − γ·β` (Euler–Mascheroni γ as a shared
    * literal) and the return level
    * `x_T = μ − β·ln(−ln(1 − 1/T))` are one fixed double expression
    * tree — no float-sum ordering anywhere. Output: ONE row
    * `(n_blocks, max_of_max, beta, mu, rl)` at 6 dp.
    *
    * Scale: one block-grain max aggregate + a 1-row reduce.
    */
  def gumbelBlockMaxima(df: DataFrame, blockCol: String, xCol: String,
      returnT: Int): DataFrame = {
    require(returnT >= 2, "return period must be >= 2 blocks")
    val d38 = "decimal(38,0)"
    val maxima = df.filter(col(blockCol).isNotNull && col(xCol).isNotNull)
      .groupBy(col(blockCol)).agg(max(col(xCol).cast("long")).as("__m"))
    maxima.agg(count(lit(1)).as("n_blocks"), max(col("__m"))
        .as("max_of_max"),
        sum(col("__m")).as("__S"),
        exactSumProd(col("__m"), col("__m")).as("__Q"))
      .withColumn("__D", col("n_blocks").cast(d38) * col("__Q")
        - col("__S").cast(d38) * col("__S"))
      .withColumn("beta", when(col("__D") > 0, round(
        sqrt(col("__D").cast("double")) / col("n_blocks") *
          math.sqrt(6d) / math.Pi, 6)))
      .withColumn("mu", when(col("beta").isNotNull, round(
        col("__S").cast("double") / col("n_blocks") -
          lit(0.5772156649015329) * col("beta"), 6)))
      .withColumn("rl", when(col("beta").isNotNull, round(
        col("mu") - col("beta") *
          math.log(-math.log(1d - 1d / returnT)), 6)))
      .select(col("n_blocks"), col("max_of_max"), col("beta"),
        col("mu"), col("rl"))
  }

  /** SAX symbolization motifs (Lin et al., DMKD 2007) of an integer
    * series: z-normalize, piecewise-aggregate into `segLen`-point
    * segments, map each segment mean to a 4-letter alphabet at the
    * standard Gaussian breakpoints (±0.6745, 0 — shared literals),
    * and count the `wordLen`-segment words — the "what shapes does
    * this stream repeat" motif table that numeric aggregates can't
    * see. Segment sums are exact; the z-scored PAA mean is one double
    * expression over exact integers (global μ, σ² from a broadcast
    * 1-row reduce); the word is assembled by `wordLen` KEY-equi
    * self-joins on segment index (the mannKendall calendar-bound
    * argument — segments are time-DOMAIN-sized). Only COMPLETE
    * segments and words enter. Output per word:
    * `(word, n_occurrences)`.
    */
  def saxMotifs(df: DataFrame, tCol: String, xCol: String,
      segLen: Int, wordLen: Int, maxSeries: Int = 100000): DataFrame = {
    require(segLen >= 1 && wordLen >= 1, "positive segment/word sizes")
    require(maxSeries >= 1, "maxSeries must be positive")
    val d38 = "decimal(38,0)"
    // structural series bound (the mannKendall maxSeries discipline):
    // wordLen chained equi-self-joins on a corpus-grain frame are not
    // quadratic, but they ARE wordLen shuffles of the whole input — a
    // misfed corpus-grain frame should fail loudly, not grind
    // pinWith: the guard count is the materializing job (r13, VERDICT
    // #6 — ONE job, not a pin job plus a count job)
    val (series, nSeries) = Pins.pinWith(df
      .filter(col(tCol).isNotNull && col(xCol).isNotNull)
      .select(col(tCol).cast("long").as("__t"),
        col(xCol).cast("long").as("__xv")))(_.count())
    require(nSeries <= maxSeries,
      s"saxMotifs: series has $nSeries rows > maxSeries=$maxSeries - " +
        "feed a calendar-grain series or raise maxSeries deliberately")
    val t0g = series.agg(min(col("__t")).as("__t0"),
      count(lit(1)).as("__n"), sum(col("__xv")).as("__S"),
      exactSumProd(col("__xv"), col("__xv")).as("__Q"))
    val segs = series.crossJoin(broadcast(t0g))
      .withColumn("__seg", expr("(__t - __t0) DIV " + segLen))
      .groupBy(col("__seg"))
      .agg(count(lit(1)).as("__c"), sum(col("__xv")).as("__ss"),
        max(col("__n")).as("__n2"), max(col("__S")).as("__S2"),
        max(col("__Q")).as("__Q2"))
      .filter(col("__c") === segLen)
      // z-scored PAA mean: (ss/segLen − S/n) / sqrt((nQ − S²)/n²)
      .withColumn("__z", (col("__ss").cast("double") / segLen -
          col("__S2").cast("double") / col("__n2")) /
        sqrt((col("__n2").cast(d38) * col("__Q2") -
          col("__S2").cast(d38) * col("__S2")).cast("double")) *
        col("__n2").cast("double"))
      .withColumn("__sym", when(col("__z") < -0.6745, lit("a"))
        .when(col("__z") < 0d, lit("b"))
        .when(col("__z") < 0.6745, lit("c")).otherwise(lit("d")))
      .select(col("__seg"), col("__sym"))
    val word = (1 until wordLen).foldLeft(
      segs.select(col("__seg"), col("__sym").as("__w"))) { (acc, i) =>
      acc.join(segs.select((col("__seg") - i).as("__seg"),
          col("__sym").as(s"__s$i")), Seq("__seg"))
        .withColumn("__w", concat(col("__w"), col(s"__s$i")))
        .drop(s"__s$i")
    }
    word.groupBy(col("__w").as("word"))
      .agg(count(lit(1)).as("n_occurrences"))
  }

  /** Self-join matrix profile (Yeh et al., ICDM 2016) of an integer
    * series at window length `m`: for every window, the squared
    * Euclidean distance to its NEAREST non-trivial neighbor — low
    * profile = motif, high profile = discord (anomaly), the readout
    * that finds both without choosing a model. Window vectors are
    * assembled by m KEY-equi self-joins on the time index; the
    * all-pairs scan is a time-DOMAIN-bounded join (the mannKendall
    * calendar² argument) with a ±`exclusion` trivial-match zone; the
    * distance is an exact integer sum of squares, and the per-window
    * argmin ties break on the smaller neighbor index (min_by over the
    * exact (dist, index) pair). Output per window:
    * `(t, nn_t, dist2)`.
    */
  def matrixProfile(df: DataFrame, tCol: String, xCol: String,
      m: Int, exclusion: Int, maxSeries: Int = 20000): DataFrame = {
    require(m >= 2, "window length must be >= 2")
    require(maxSeries >= m, "maxSeries must be >= window length")
    // structural series bound (the mannKendall maxSeries discipline):
    // the all-pairs window scan is quadratic with an n-row broadcast —
    // a corpus-grain input must fail loudly before the BNLJ builds
    // pinWith: the guard count is the materializing job (r13, VERDICT
    // #6 — ONE job, not a pin job plus a count job)
    val (series, nSeries) = Pins.pinWith(df
      .filter(col(tCol).isNotNull && col(xCol).isNotNull)
      .select(col(tCol).cast("long").as("__t"),
        col(xCol).cast("long").as("__xv")))(_.count())
    require(nSeries <= maxSeries,
      s"matrixProfile: series has $nSeries rows > maxSeries=" +
        s"$maxSeries - the nearest-neighbor scan is quadratic in the " +
        "series length; feed a calendar-grain series or raise " +
        "maxSeries deliberately")
    val win = (1 until m).foldLeft(
      series.select(col("__t"), array(col("__xv")).as("__v"))) {
      (acc, i) =>
        acc.join(series.select((col("__t") - i).as("__t"),
            col("__xv").as("__xi")), Seq("__t"))
          .withColumn("__v", concat(col("__v"), array(col("__xi"))))
          .drop("__xi")
    }
    val a = win.select(col("__t").as("__ta"), col("__v").as("__va"))
    val b = win.select(col("__t").as("__tb"), col("__v").as("__vb"))
    // the window frame is time-DOMAIN-bounded (op contract) — broadcast
    // the probe side so the non-equi pair scan is a BNLJ, never a
    // CartesianProduct (post-aggregate stats won't prove it small)
    a.join(broadcast(b), abs(col("__ta") - col("__tb")) > exclusion)
      .withColumn("__d2", expr(
        "aggregate(zip_with(__va, __vb, (x, y) -> " +
          "CAST(x - y AS DECIMAL(38,0)) * (x - y)), " +
          "CAST(0 AS DECIMAL(38,0)), (acc, v) -> acc + v)"))
      .groupBy(col("__ta").as("t"))
      .agg(min(struct(col("__d2"), col("__tb"))).as("__best"))
      .select(col("t"), col("__best.__tb").as("nn_t"),
        col("__best.__d2").cast("long").as("dist2"))
  }

  /** Gaussian kernel density estimate at a fixed literal probe grid:
    * the distribution SHAPE readout (modes, gaps, tails) that
    * histograms quantize away. Per (row, probe) the kernel term
    * `exp(−((g − x)/h)²/2)` is rounded to micro BEFORE summing (the
    * Adamic–Adar rule — exp is the only 1-ulp surface and it is
    * per-term-bounded), the per-probe sums are exact BIGINTs, and the
    * density `Σterm/(n·h·√2π)` is one final double at 9 dp (micro
    * terms over n·h leave ~3 significant digits at corpus n; callers
    * read SHAPE, not mass). Output per probe:
    * `(grid_x, n, kernel_sum_micro, density)`.
    *
    * Scale: one grid-replicated map + grid-grain reduce — single
    * exchange; the grid is a literal array.
    */
  def kdeGrid(df: DataFrame, xCol: String, grid: Seq[Long],
      bandwidth: Double): DataFrame = {
    require(bandwidth > 0, "bandwidth must be positive")
    val rows = df.filter(col(xCol).isNotNull)
      .select(col(xCol).cast("long").as("__xv"))
      .withColumn("grid_x", explode(array(grid.map(lit(_)): _*)))
      .withColumn("__term", expr(
        s"CAST(round(exp(-((grid_x - __xv) / $bandwidth) * " +
          s"((grid_x - __xv) / $bandwidth) / 2) * 1000000) AS BIGINT)"))
    rows.groupBy(col("grid_x"))
      .agg(count(lit(1)).as("n"), sum(col("__term"))
        .as("kernel_sum_micro"))
      .withColumn("density", round(
        col("kernel_sum_micro").cast("double") / 1e6 /
          (col("n").cast("double") * bandwidth *
            math.sqrt(2 * math.Pi)), 9))
  }

  /** Chatterjee's ξ rank correlation (Chatterjee, JASA 2020): a
    * DEPENDENCE coefficient — 0 iff independent, 1 iff y is a
    * measurable function of x, and unlike Pearson/Spearman it sees
    * non-monotone relationships (a parabola scores high, not 0). The
    * ties-robust form: with rows ordered by `(x, tiebreak)`,
    * `ξ = 1 − n·Σ|r_{i+1} − r_i| / (2·Σ l_i·(n − l_i))` where
    * `r_i = #{j : y_j ≤ y_i}` and `l_i = #{j : y_j ≥ y_i}` — every
    * quantity an exact integer.
    *
    * Distributed shape: `r`/`l` come from ONE [[PrefixScan.globalCumSum]] over
    * the y value grain joined back at value grain (never a rank per
    * row); the x-order ADJACENCY sum needs consecutive rows, which no
    * shuffle-safe window gives corpus-wide — so rows are range-
    * partitioned on the x-order once, the within-partition lag runs
    * partition-locally, and the numShufflePartitions cross-boundary
    * pairs are closed with a broadcast of each partition's FIRST row
    * (the prefix scan's range pin, [[PrefixScan.rangePin]], applied
    * to adjacency).
    * Output: ONE row `(n, s_abs, xi)` — ξ at 6 dp; the ties
    * denominator `T = Σ l_i(n−l_i)` stays DECIMAL(38,0) internal
    * (n³-scale, past BIGINT at n ≳ 2·10⁶).
    *
    * Scale: one value-grain aggregate + cumsum, one range exchange of
    * the row frame, one bounded boundary broadcast.
    */
  def xiCorrelation(df: DataFrame, xCol: String, yCol: String,
      tiebreakCols: Seq[String]): DataFrame = {
    val d38 = "decimal(38,0)"
    val rows = df.filter(col(xCol).isNotNull && col(yCol).isNotNull)
      .select((col(xCol).as("__xo") +: tiebreakCols.map(col)) :+
        col(yCol).cast("long").as("__yv"): _*)
    val yGrain = rows.groupBy(col("__yv")).agg(count(lit(1)).as("__c"))
    val cum = globalCumSum(yGrain, Seq(col("__yv")), col("__c") -> "__le")
    val n = cum.agg(sum(col("__c")).as("__n"))
    // T = Σ_i l_i(n − l_i) at value grain: l = n − le + c per value
    val tRow = cum.crossJoin(broadcast(n))
      .withColumn("__l", col("__n") - col("__le") + col("__c"))
      .agg(sum(col("__c").cast(d38) * col("__l") *
        (col("__n") - col("__l"))).as("__T"),
        max(col("__n")).as("__n"))
    val withR = rows
      .join(cum.select(col("__yv"), col("__le")), Seq("__yv"))
    // the boundary closure below handles ANY partition count
    // (including 1, where it contributes zero pairs)
    val order = col("__xo") +: tiebreakCols.map(col)
    val part = PrefixScan.rangePin(withR, order, Pins.loopParts(rows))
    val pid = col(PrefixScan.PidCol)
    // ONE window pass yields the within-partition adjacency sum AND
    // both boundary endpoints (min_by/max_by on the order key) — the
    // ≤ numShufflePartitions result is pinned so its three readers
    // don't re-run the sort
    val w = Window.partitionBy(pid).orderBy(order: _*)
    val perPart = Pins.pin(part
      .withColumn("__prev", lag(col("__le"), 1).over(w))
      .groupBy(pid)
      .agg(coalesce(sum(when(col("__prev").isNotNull,
          abs(col("__le") - col("__prev")))), lit(0L)).as("__sl"),
        min_by(col("__le"), struct(order: _*)).as("__leF"),
        max_by(col("__le"), struct(order: _*)).as("__leL")))
    val localAbs = perPart
      .agg(coalesce(sum(col("__sl")), lit(0L)).as("__sLocal"))
    // cross-boundary pairs: |first(le) of the next non-empty partition
    // − last(le) of this one|
    val firsts = perPart
      .select(pid.as("__p2"), col("__leF"))
    val lasts = perPart
      .select(pid.as("__p1"), col("__leL"))
    // adjacency by NEXT NON-EMPTY partition (range partitioning may
    // leave empty pids, so __p1 + 1 equi-join would drop pairs): the
    // two frames are ≤ numShufflePartitions rows, so the non-equi
    // min-pick is a bounded broadcast join
    val boundary = lasts
      .join(broadcast(firsts), col("__p2") > col("__p1"))
      .groupBy(col("__p1"), col("__leL"))
      .agg(min_by(col("__leF"), col("__p2")).as("__leFn"))
      .agg(coalesce(sum(abs(col("__leFn") - col("__leL"))), lit(0L))
        .as("__sBound"))
    localAbs.crossJoin(boundary).crossJoin(tRow)
      .withColumn("s_abs", col("__sLocal") + col("__sBound"))
      .select(col("__n").as("n"), col("s_abs"),
        when(col("__T") > 0, round(lit(1d) -
          (col("__n").cast(d38) * col("s_abs")).cast("double") /
            (col("__T") * 2).cast("double"), 6)).as("xi"))
  }

  /** Mann–Kendall trend test (Mann 1945; Kendall 1975) over a
    * GRAIN-BOUNDED series: `S = Σ_{i<j} sgn(x_j − x_i)` in time order
    * with the tie-corrected variance
    * `Var = (n(n−1)(2n+5) − Σ t(t−1)(2t+5))/18` and the
    * continuity-corrected z — the distribution-free "is volume
    * trending" companion to the Theil–Sen slope (q207): same
    * hypothesis, this gives the test, that gives the magnitude.
    * The pair sum is a self-join on `t_i < t_j` — quadratic in the
    * SERIES length, which the caller contract bounds to a calendar
    * grain (hour/day buckets: calendar²-sized at any corpus volume,
    * the q134 argument squared); everything is exact integers until
    * the final z. Output: ONE row `(n, s_stat, z)`.
    *
    * `maxSeries` is the STRUCTURAL form of that contract (the
    * [[graft.llm.Density.epsNeighborPairs]] `maxCell` discipline): the
    * series is counted once (the 1-row driver read whose job pins
    * the frame — the timeBounds class) and a longer input
    * FAILS LOUDLY instead of broadcasting a corpus-grain frame into an
    * n²-pair BNLJ that no plan sweep can flag (the broadcast hint
    * legitimizes it). The pin also means the input dataflow runs
    * once, not once per self-join side.
    */
  def mannKendall(df: DataFrame, tCol: String, xCol: String,
      maxSeries: Int = 50000): DataFrame = {
    require(maxSeries >= 2, "maxSeries must be >= 2")
    val d38 = "decimal(38,0)"
    // pinWith: the guard count is the materializing job (r13, VERDICT
    // #6 — ONE job, not a pin job plus a count job)
    val (series, nSeries) = Pins.pinWith(df
      .filter(col(tCol).isNotNull && col(xCol).isNotNull)
      .select(col(tCol).cast("long").as("__t"),
        col(xCol).cast("long").as("__xv")))(_.count())
    require(nSeries <= maxSeries,
      s"mannKendall: series has $nSeries rows > maxSeries=$maxSeries - " +
        "the S pair sum is quadratic in the series length; feed a " +
        "calendar-grain series (hour/day buckets) or raise maxSeries " +
        "deliberately")
    val pairs = series.select(col("__t").as("__t1"),
        col("__xv").as("__x1"))
      .join(broadcast(series.select(col("__t").as("__t2"),
        col("__xv").as("__x2"))), col("__t1") < col("__t2"))
      .agg(coalesce(sum(signum(col("__x2") - col("__x1")).cast("long")),
        lit(0L)).as("s_stat"))
    val ties = series.groupBy(col("__xv")).agg(count(lit(1)).as("__c"))
      .agg(count(lit(1)).as("__nv"), sum(col("__c")).as("n"),
        coalesce(sum(col("__c").cast(d38) * (col("__c") - 1) *
          (col("__c") * 2 + 5)), lit(0).cast(d38)).as("__tc"))
    pairs.crossJoin(ties)
      .withColumn("__var", (col("n").cast(d38) * (col("n") - 1) *
        (col("n") * 2 + 5) - col("__tc")).cast("double") / 18d)
      .select(col("n"), col("s_stat"),
        when(col("__var") > 0 && col("s_stat") =!= 0, round(
          (col("s_stat").cast("double") -
            signum(col("s_stat")).cast("double")) /
            sqrt(col("__var")), 6))
          .when(col("__var") > 0, lit(0d)).as("z"))
  }

  /** Decile lift/gains table of a binary response against a score:
    * the campaign-targeting readout — "if we act on the top k/10 by
    * score, what share of responders do we capture and at what lift
    * over random". Deciles come from the distributed [[PrefixScan.globalRank]]
    * (`decile = (10·(rank−1)) DIV n + 1` — never an ntile window);
    * per decile `rate_ppm`, `lift_ppm = 10⁶·resp_d·N/(n_d·R)` (exact
    * DECIMAL DIV), and the cumulative gain closes over the ≤10-row
    * decile frame with a broadcast self-join (the hopHistogram cum
    * idiom — no unpartitioned window). Output per decile:
    * `(decile, n, n_resp, rate_ppm, lift_ppm, cum_gain_ppm)`.
    *
    * Scale: one globalRank exchange + decile-grain everything after.
    */
  def liftTable(df: DataFrame, scoreCol: String, respCol: String,
      tiebreakCols: Seq[String]): DataFrame = {
    val base = df.filter(col(scoreCol).isNotNull && col(respCol).isNotNull)
      .select(col(scoreCol).as("__sc") +:
        col(respCol).cast("boolean").cast("long").as("__r") +:
        tiebreakCols.map(col): _*)
    // deterministic total order: ties across a decile boundary with
    // mixed responses would otherwise make n_resp partition-dependent
    val ranked = globalRank(base,
      col("__sc").desc +: tiebreakCols.map(col), "__gr")
    // names stay case-distinct from __r: Spark's default resolver is
    // case-insensitive, so a `__R` total alongside `__r` is AMBIGUOUS
    val tot = ranked.agg(count(lit(1)).as("__nt"), sum(col("__r"))
      .as("__rt"))
    val byD = ranked.crossJoin(broadcast(tot))
      .withColumn("decile",
        expr("(10 * (__gr - 1)) DIV __nt + 1").cast("int"))
      .groupBy(col("decile"))
      .agg(count(lit(1)).as("n"), sum(col("__r")).as("n_resp"),
        max(col("__nt")).as("__nt2"), max(col("__rt")).as("__rt2"))
      .withColumn("rate_ppm", expr("n_resp * 1000000L DIV n"))
      .withColumn("lift_ppm", when(col("__rt2") > 0, expr(
        "(CAST(n_resp AS DECIMAL(38,0)) * __nt2 * 1000000) DIV " +
          "(CAST(n AS DECIMAL(38,0)) * __rt2)")))
    val cum = byD.select(col("decile").as("__d1"), col("n_resp")
        .as("__nr"))
      .join(broadcast(byD.select(col("decile").as("__d2"),
        col("n_resp").as("__nr2"))), col("__d2") <= col("__d1"))
      .groupBy(col("__d1")).agg(sum(col("__nr2")).as("__cumR"))
    byD.join(broadcast(cum), col("decile") === col("__d1"))
      .withColumn("cum_gain_ppm", when(col("__rt2") > 0,
        expr("__cumR * 1000000L DIV __rt2")))
      .select(col("decile"), col("n"), col("n_resp"), col("rate_ppm"),
        col("lift_ppm"), col("cum_gain_ppm"))
  }

  /** One-sample Kolmogorov–Smirnov uniformity test on a [0,1) column:
    * `D = max_i max(i/n − p_(i), p_(i) − (i−1)/n)` — "are these
    * pseudo-p-values actually uniform", the calibration check that
    * should PASS before anyone trusts the q286/q356/q416 multiple-
    * testing gates built on them. Ranks come from the distributed
    * [[PrefixScan.globalRank]]; each row's two gaps are exact-integer-derived
    * doubles and the statistic is a MAX (order-free, no float-sum
    * hazard). Output: ONE row `(n, d_stat, sqrt_n_d)` at 6 dp.
    *
    * Scale: one globalRank exchange + a 1-row max reduce.
    */
  def ksUniform(df: DataFrame, pCol: String): DataFrame = {
    val base = df.filter(col(pCol).isNotNull)
      .select(col(pCol).cast("double").as("__p"),
        monotonically_increasing_id().as("__mid"))
    val ranked = globalRank(base, Seq(col("__p"), col("__mid")), "__gr")
    val nRow = ranked.agg(count(lit(1)).as("__n"))
    ranked.crossJoin(broadcast(nRow))
      .select(col("__n"),
        greatest(
          col("__gr").cast("double") / col("__n") - col("__p"),
          col("__p") - (col("__gr") - 1).cast("double") / col("__n"))
          .as("__gap"))
      .groupBy(col("__n"))
      .agg(max(col("__gap")).as("__d"))
      .select(col("__n").as("n"), round(col("__d"), 6).as("d_stat"),
        round(sqrt(col("__n").cast("double")) * col("__d"), 6)
          .as("sqrt_n_d"))
  }

  /** Stratified average treatment effect: the blocked estimator
    * `ATE = Σ_s (n_s/N)·(ȳ_{t,s} − ȳ_{c,s})` over caller-provided
    * strata (propensity bins, cohorts) — the workhorse causal readout
    * when treatment assignment is only ignorable WITHIN a stratum
    * (the q326 CUPED/q325 Mantel–Haenszel sibling for a continuous
    * outcome). Exactness: integer outcome lattice; per stratum the
    * mean difference is ONE round-double of exact integer sums
    * (`round(10⁶·(S_t/n_t − S_c/n_c))`, signed so never DIV), and the
    * ATE weights each stratum term with one more round-double
    * (`round(n_s·diff_s/N)`) — per-term rounding end to end. Strata
    * missing either arm are excluded from the weighted sum (and
    * flagged in their row). Output per stratum: `(stratum, n_t, n_c,
    * diff_micro, ate_micro)` — the corpus scalar repeated on the
    * bounded stratum frame.
    *
    * Scale: one stratum-grain aggregate + a 1-row reduce broadcast
    * back — single exchange.
    */
  def stratifiedAte(df: DataFrame, stratumCol: String, treatCol: String,
      outcomeCol: String): DataFrame = {
    val byS = df.filter(col(stratumCol).isNotNull &&
        col(treatCol).isNotNull && col(outcomeCol).isNotNull)
      .groupBy(col(stratumCol).as("stratum"))
      .agg(sum(when(col(treatCol).cast("boolean"), 1L).otherwise(0L))
          .as("n_t"),
        sum(when(!col(treatCol).cast("boolean"), 1L).otherwise(0L))
          .as("n_c"),
        sum(when(col(treatCol).cast("boolean"),
          col(outcomeCol).cast("long")).otherwise(0L)).as("__st"),
        sum(when(!col(treatCol).cast("boolean"),
          col(outcomeCol).cast("long")).otherwise(0L)).as("__sc"))
      .withColumn("diff_micro", when(col("n_t") > 0 && col("n_c") > 0,
        expr("CAST(round((CAST(__st AS DOUBLE) / n_t " +
          "- CAST(__sc AS DOUBLE) / n_c) * 1000000) AS BIGINT)")))
    val tot = byS.filter(col("diff_micro").isNotNull)
      .agg(coalesce(sum(col("n_t") + col("n_c")), lit(0L)).as("__N"),
        sort_array(collect_list(struct(col("stratum").as("s"),
          (col("n_t") + col("n_c")).as("ns"),
          col("diff_micro").as("dm")))).as("__terms"))
      .select(when(col("__N") > 0, expr(
        "aggregate(__terms, CAST(0 AS BIGINT), (a, p) -> " +
          "a + CAST(round(CAST(p.ns AS DOUBLE) * p.dm / __N) " +
          "AS BIGINT))")).otherwise(lit(0L)).as("ate_micro"))
    byS.select(col("stratum"), col("n_t"), col("n_c"), col("diff_micro"))
      .crossJoin(broadcast(tot))
  }

  /** Benjamini–Yekutieli step-up correction (Benjamini & Yekutieli
    * 2001): [[bhFdr]] under ARBITRARY dependence — the same step-up
    * walk with every critical value shrunk by the harmonic number
    * `H_m = Σ 1/i` (the price of not assuming independence; the right
    * gate when the m tests share data, as corpus-slice tests always
    * do). `H` is accumulated as the exact integer
    * `h_micro = Σ_{i≤m} 10⁶ DIV i` (per-term floor — deterministic,
    * no float-sum order), so `crit = rank·α·10⁴/(m·h_micro)` is one
    * double expression. Output: bhFdr's `(id, p, rank, crit,
    * discovery)` shape, row-diffable against both siblings.
    *
    * Scale: the bhFdr plan plus one m-row sequence explode for the
    * harmonic sum — all on the tests frame, not the corpus.
    */
  def byFdr(df: DataFrame, idCol: String, pCol: String,
      alphaPct: Int): DataFrame =
    stepUp(rankedP(df, idCol, pCol, alphaPct,
      s"CAST(rank AS DOUBLE) * CAST($alphaPct AS DOUBLE) * 10000 " +
        "/ (CAST(__m AS DOUBLE) * CAST(__h AS DOUBLE))",
      _.select(col("__m"), explode(sequence(lit(1L), col("__m"))).as("__i"))
        .groupBy(col("__m"))
        .agg(sum(expr("1000000L DIV __i")).as("__h"))))

  /** Disparate-impact audit of a boolean pipeline decision across
    * groups (the EEOC four-fifths rule): per group the pass rate, the
    * ratio to the MOST-FAVORED group, and the 80% flag — the fairness
    * readout every curation filter (length, quality, lang-ID) owes its
    * corpus before shipping. Exact: the reference group is picked by
    * exact-rational rate comparison (`n_pass·n_ref vs n_pass_ref·n`
    * cross-products over the SORTED bounded group array — never a
    * ppm-rounded tie), and `di_ppm = 10⁶·n_pass_g·n_ref DIV
    * (n_g·n_pass_ref)` is one exact floor division. Output per group:
    * `(group, n, n_pass, rate_ppm, ref_group, di_ppm, below_80pct)`.
    *
    * Scale: one group-grain aggregate + the corpus-total broadcast
    * pattern over the bounded group frame.
    */
  def disparateImpact(df: DataFrame, groupCol: String,
      passCol: String): DataFrame = {
    val byG = df.filter(col(groupCol).isNotNull && col(passCol).isNotNull)
      .groupBy(col(groupCol).cast("string").as("group"))
      .agg(count(lit(1)).as("n"),
        sum(col(passCol).cast("boolean").cast("long")).as("n_pass"))
      .withColumn("rate_ppm", expr("n_pass * 1000000L DIV n"))
    val ref = byG
      .agg(sort_array(collect_list(struct(col("group").as("g"),
        col("n").as("nn"), col("n_pass").as("np")))).as("__gs"))
      .select(expr(
        // exact-rational argmax fold: keep the group whose rate beats
        // the incumbent by cross-product; ties keep the FIRST (lowest
        // group name — the sorted array pins the scan order)
        "aggregate(__gs, __gs[0], (best, p) -> " +
          "CASE WHEN CAST(p.np AS DECIMAL(38,0)) * best.nn " +
          "> CAST(best.np AS DECIMAL(38,0)) * p.nn THEN p " +
          "ELSE best END)").as("__ref"))
    byG.crossJoin(broadcast(ref))
      .withColumn("ref_group", col("__ref.g"))
      .withColumn("di_ppm", when(col("__ref.np") > 0, expr(
        "(CAST(n_pass AS DECIMAL(38,0)) * __ref.nn * 1000000) DIV " +
          "(CAST(n AS DECIMAL(38,0)) * __ref.np)")))
      .withColumn("below_80pct", col("di_ppm") < 800000L)
      .select(col("group"), col("n"), col("n_pass"), col("rate_ppm"),
        col("ref_group"), col("di_ppm"), col("below_80pct"))
  }

  /** Characteristic-function drift between a split and the rest
    * (the Epps–Singleton test's evidence, reported as exact distances
    * instead of its 4×4-covariance p-value): at caller-chosen
    * frequencies `t = k/100`, compare `E[cos(tX)], E[sin(tX)]`
    * between the two samples — a TWO-SAMPLE drift readout that works
    * on DISCRETE data where the KS/AD statistics lose power. Each
    * row's trig term is rounded to micro (per-term rule), the mean
    * difference is one round-double of exact integer sums (signed, so
    * never DIV — the hurstRs rule), and
    * `cf_dist2 = (Δcos)² + (Δsin)²` in micro² is exact BIGINT.
    * Output per frequency: `(k_centi, n_a, n_b, dcos_micro,
    * dsin_micro, cf_dist2)`.
    *
    * Scale: one k-replicated map + k-grain reduce — single exchange.
    */
  def cfDrift(df: DataFrame, splitCol: String, refValue: String,
      valueCol: String, ks: Seq[Int]): DataFrame = {
    val d38 = "decimal(38,0)"
    val rows = df.filter(col(valueCol).isNotNull && col(splitCol).isNotNull)
      .select((col(splitCol) === refValue).as("__a"),
        col(valueCol).cast("long").as("__x"))
      .withColumn("k_centi", explode(array(ks.map(lit(_)): _*)))
      .withColumn("__c", expr(
        "CAST(round(cos(__x * k_centi / 100) * 1000000) AS BIGINT)"))
      .withColumn("__s", expr(
        "CAST(round(sin(__x * k_centi / 100) * 1000000) AS BIGINT)"))
    rows.groupBy(col("k_centi"))
      .agg(sum(when(col("__a"), 1L).otherwise(0L)).as("n_a"),
        sum(when(!col("__a"), 1L).otherwise(0L)).as("n_b"),
        sum(when(col("__a"), col("__c")).otherwise(0L)).as("__ca"),
        sum(when(!col("__a"), col("__c")).otherwise(0L)).as("__cb"),
        sum(when(col("__a"), col("__s")).otherwise(0L)).as("__sa"),
        sum(when(!col("__a"), col("__s")).otherwise(0L)).as("__sb"))
      .filter(col("n_a") > 0 && col("n_b") > 0)
      // round-double means, never DIV: the trig sums are signed and
      // Spark DIV truncates while DuckDB // floors (the hurstRs rule)
      .withColumn("dcos_micro", expr(
        "CAST(round(CAST(__ca AS DOUBLE) / n_a " +
          "- CAST(__cb AS DOUBLE) / n_b) AS BIGINT)"))
      .withColumn("dsin_micro", expr(
        "CAST(round(CAST(__sa AS DOUBLE) / n_a " +
          "- CAST(__sb AS DOUBLE) / n_b) AS BIGINT)"))
      .select(col("k_centi"), col("n_a"), col("n_b"), col("dcos_micro"),
        col("dsin_micro"),
        (col("dcos_micro").cast(d38) * col("dcos_micro") +
          col("dsin_micro").cast(d38) * col("dsin_micro"))
          .cast("long").as("cf_dist2"))
  }

  /** Jonckheere–Terpstra ordered-alternative test (Jonckheere 1954;
    * Terpstra 1952) across CALLER-ORDERED groups: where
    * [[kruskalWallis]] asks "do the k samples differ at all", JT asks
    * "do they shift UP in the given dose order" — `JT = Σ_{i<j} U_ij`
    * over ordered group pairs, the k-sample ordered companion to
    * Mann–Whitney. Never materializes pairs: the value-grain frame
    * carries one count column PER GROUP (k is the bounded dose axis),
    * one k-column [[PrefixScan.globalCumSum]] (a single pass) yields
    * every group's `less_i(v)`, and
    * `JT2 = Σ_v Σ_{i<j} c_j,v·(2·less_i(v) + c_i,v)` is an exact
    * BIGINT (doubled so ties stay integral). The normal approximation
    * `z = (JT2/2 − μ)/σ` with `μ = (n² − Σn_i²)/4` and
    * `σ² = (n²(2n+3) − Σn_i²(2n_i+3))/72` (tie-free form — the
    * standard large-lattice approximation, documented) is the one
    * final double at 6 dp. Output: ONE row `(k, n, jt2, z)`.
    *
    * Scale: one value-grain aggregate, one distributed cumsum over the
    * value DOMAIN, one 1-row reduce — row-count-independent after the
    * first aggregate; k bounds the column fan, not a join.
    */
  def jonckheereTerpstra(df: DataFrame, groupCol: String,
      orderedGroups: Seq[String], valueCol: String): DataFrame = {
    val d38 = "decimal(38,0)"
    val k = orderedGroups.length
    require(k >= 2, "need at least two ordered groups")
    val rows = df.filter(col(valueCol).isNotNull &&
        col(groupCol).isin(orderedGroups.map(x => x: Any): _*))
      .select(col(groupCol).cast("string").as("__g"),
        col(valueCol).cast("long").as("__v"))
    val cAggs = orderedGroups.zipWithIndex.map { case (g, i) =>
      sum(when(col("__g") === g, 1L).otherwise(0L)).as(s"__c$i")
    }
    val vGrain = rows.groupBy(col("__v")).agg(cAggs.head, cAggs.tail: _*)
    // ONE multi-column prefix scan serves all k groups
    val cum = globalCumSum(vGrain, Seq(col("__v")),
      (0 until k).map(i => col(s"__c$i") -> s"__cum$i"): _*)
    // per-value JT contribution: Σ_{i<j} c_j·(2·less_i + c_i) with
    // less_i = inclusive-cum_i − c_i
    val termExprs = for {
      j <- 0 until k; i <- 0 until j
    } yield col(s"__c$j").cast(d38) *
      ((col(s"__cum$i") - col(s"__c$i")) * 2 + col(s"__c$i"))
    val perV = cum.withColumn("__jt",
      termExprs.reduce(_ + _))
    perV.agg(
        coalesce(sum(col("__jt")), lit(0).cast(d38)).as("__jt2"),
        (0 until k).map(i => sum(col(s"__c$i")).as(s"__N$i")): _*)
      .withColumn("n", (0 until k).map(i => col(s"__N$i"))
        .reduce(_ + _))
      .withColumn("__sn2", (0 until k).map(i =>
        col(s"__N$i").cast(d38) * col(s"__N$i")).reduce(_ + _))
      .withColumn("__sv", (0 until k).map(i =>
        col(s"__N$i").cast(d38) * col(s"__N$i") *
          (col(s"__N$i") * 2 + 3)).reduce(_ + _))
      .withColumn("__var", (col("n").cast(d38) * col("n") *
        (col("n") * 2 + 3) - col("__sv")).cast("double") / 72d)
      .select(lit(k).as("k"), col("n"),
        col("__jt2").cast("long").as("jt2"),
        when(col("__var") > 0, round(
          (col("__jt2").cast("double") / 2 -
            (col("n").cast(d38) * col("n") - col("__sn2"))
              .cast("double") / 4) / sqrt(col("__var")), 6)).as("z"))
  }

  /** Moran's I spatial autocorrelation (Moran 1950) over an integer
    * grid-cell frame with binary 8-neighbor (queen) weights, given the
    * DIRECTED neighbor-pair frame `(xi, xj)` from [[gridNeighborPairs]]
    * — "is high activity spatially clumped" for a tile layout / skew
    * audit. Entirely exact until one division: with `N, S = Σx,
    * Q = Σx²` and pair sums `W = #pairs, P = Σ xᵢxⱼ, T = Σ(xᵢ+xⱼ)`,
    * the mean-centered numerator expands to `numInt = N²P − NST + S²W`
    * and the denominator to `denInt = NQ − S²` (both DECIMAL(38,0)),
    * giving `I = numInt / (W·denInt)` — one final double at 6 dp,
    * plus the null expectation `E[I] = −1/(N−1)`. Output: ONE row
    * `(n_cells, w_pairs, sum_x, morans_i, e_i)`.
    *
    * Scale: two 1-row reduces (cell frame, pair frame) — the pair
    * frame is 8-bounded per cell by construction.
    */
  def moransI(cells: DataFrame, pairs: DataFrame): DataFrame = {
    val d38 = "decimal(38,0)"
    val g = cells.agg(count(lit(1)).as("__N"),
      sum(col("__x")).as("__S"),
      exactSumProd(col("__x"), col("__x")).as("__Q"))
    val p = pairs.agg(count(lit(1)).as("__W"),
      coalesce(exactSumProd(col("__xi"), col("__xj")), lit(0).cast(d38))
        .as("__P"),
      coalesce(exactSum(col("__xi") + col("__xj")),
        lit(0).cast(d38)).as("__T"))
    g.crossJoin(p)
      .withColumn("__num", col("__N").cast(d38) * col("__N") * col("__P")
        - col("__N").cast(d38) * col("__S") * col("__T")
        + col("__S").cast(d38) * col("__S") * col("__W"))
      .withColumn("__den", col("__N").cast(d38) * col("__Q")
        - col("__S").cast(d38) * col("__S"))
      .select(col("__N").as("n_cells"), col("__W").as("w_pairs"),
        col("__S").as("sum_x"),
        when(col("__W") > 0 && col("__den") =!= 0, round(
          col("__num").cast("double") /
            (col("__W").cast("double") * col("__den").cast("double")), 6))
          .as("morans_i"),
        when(col("__N") > 1, round(lit(-1d) /
          (col("__N").cast("double") - 1), 6)).as("e_i"))
  }

  /** Getis–Ord Gi* hotspot statistic (Getis & Ord 1992) per grid cell
    * with binary queen weights INCLUDING self (the star form): which
    * cells' neighborhoods run hot/cold vs the global mean, as a
    * z-score. From exact integers — neighborhood sum `G = xᵢ + Σ_j xⱼ`,
    * weight count `Wᵢ = 1 + #neighbors`, and globals `N, S, Q` — the
    * z collapses to `(N·G − S·Wᵢ) / √((NQ − S²)(N·Wᵢ − Wᵢ²)/(N−1))`:
    * integer numerator, one sqrt of an exact rational, 6 dp. Output
    * per cell: `(gx, gy, x, w_i, g_sum, gi_z)`.
    *
    * Scale: one 8-bounded neighbor aggregate + a broadcast 1-row
    * global — single exchange over the cell frame.
    */
  def getisOrdGi(cells: DataFrame, pairs: DataFrame): DataFrame = {
    val d38 = "decimal(38,0)"
    val g = cells.agg(count(lit(1)).as("__N"), sum(col("__x")).as("__S"),
      exactSumProd(col("__x"), col("__x")).as("__Q"))
    val nbr = pairs.groupBy(col("__gx"), col("__gy"))
      .agg(count(lit(1)).as("__nn"), sum(col("__xj")).as("__sn"))
    cells.join(nbr, Seq("__gx", "__gy"), "left")
      .withColumn("w_i", coalesce(col("__nn"), lit(0L)) + 1)
      .withColumn("g_sum", col("__x") + coalesce(col("__sn"), lit(0L)))
      .crossJoin(broadcast(g))
      .withColumn("__den", (col("__N").cast(d38) * col("__Q")
          - col("__S").cast(d38) * col("__S")).cast("double")
        * (col("__N").cast(d38) * col("w_i")
          - col("w_i").cast(d38) * col("w_i")).cast("double")
        / (col("__N").cast("double") - 1))
      .select(col("__gx").as("gx"), col("__gy").as("gy"),
        col("__x").as("x"), col("w_i"), col("g_sum"),
        when(col("__den") > 0, round(
          (col("__N").cast(d38) * col("g_sum")
            - col("__S").cast(d38) * col("w_i")).cast("double") /
            sqrt(col("__den")), 6)).as("gi_z"))
  }

  /** Periodogram of an integer-count series at CALLER-CHOSEN harmonics:
    * demeaned DFT power `|Σ_t (x_t − x̄)·e^{−2πikt/n}|²` — "does the
    * stream have a diurnal/weekly cycle" without materializing any
    * O(n²) DFT. Exactness discipline: the demeaned factor is carried
    * as the exact rational `(nobs·x_t − S)/nobs` and each trig term is
    * rounded to MICRO before the sum (the Adamic–Adar per-term rule),
    * so `a_micro, b_micro` are exact BIGINT reduces and
    * `power = (a² + b²)/10¹²` is deterministic given them. `t` is
    * re-based to the series start; `n = t_max − t_min + 1`. Output per
    * harmonic k: `(k, n_obs, a_micro, b_micro, power)` at 6 dp.
    *
    * Scale: one grain aggregate to (t, x), a 1-row bounds reduce
    * broadcast back, then a k-replicated map + k-grain reduce — the
    * series frame is bounded by the time DOMAIN, not the row count.
    */
  def dftPower(df: DataFrame, tCol: String, xCol: String,
      ks: Seq[Int]): DataFrame = {
    val d38 = "decimal(38,0)"
    val series = df.filter(col(tCol).isNotNull && col(xCol).isNotNull)
      .select(col(tCol).cast("long").as("__t"),
        col(xCol).cast("long").as("__xv"))
    val bounds = series.agg(min(col("__t")).as("__t0"),
      max(col("__t")).as("__t1"), count(lit(1)).as("__nobs"),
      sum(col("__xv")).as("__S"))
    val kArr = array(ks.map(k => lit(k)): _*)
    series.crossJoin(broadcast(bounds))
      .withColumn("__n", col("__t1") - col("__t0") + 1)
      .withColumn("k", explode(kArr))
      .withColumn("__ang", lit(2d) * lit(math.Pi) * col("k") *
        (col("__t") - col("__t0")) / col("__n"))
      .withColumn("__dev", (col("__nobs") * col("__xv") - col("__S"))
        .cast("double") / col("__nobs"))
      .withColumn("__ca", expr(
        "CAST(round(__dev * cos(__ang) * 1000000) AS BIGINT)"))
      .withColumn("__sa", expr(
        "CAST(round(__dev * sin(__ang) * 1000000) AS BIGINT)"))
      .groupBy(col("k"))
      .agg(max(col("__nobs")).as("n_obs"),
        sum(col("__ca")).as("a_micro"), sum(col("__sa")).as("b_micro"))
      .withColumn("power", round(
        (col("a_micro").cast(d38) * col("a_micro")
          + col("b_micro").cast(d38) * col("b_micro")).cast("double")
          / 1e12, 6))
  }

  /** Rescaled-range Hurst exponent (Hurst 1951; Mandelbrot & Wallis
    * 1969) of an integer series at dyadic block sizes: long-range
    * dependence of a stream's hourly volume — H ≈ 0.5 is memoryless,
    * H → 1 is trending/bursty (capacity planning reads this before
    * trusting any Poisson assumption). Per (size, block) the
    * cumulative deviation is carried n-SCALED and exact
    * (`Z'_i = n·Σx_{≤i} − i·S_b`, a block-keyed BOUNDED window ≤ n
    * rows), so `R' = max Z' − min(0, min Z')` and `n²σ² = nΣx² − S_b²`
    * are exact integers and `R/S = R'/√(nΣx² − S²)`; `ln(R/S)` is
    * rounded to micro per block (per-term rule), averaged exactly per
    * size, and the Hurst estimate is the 2-dp-exact OLS slope of
    * mean-ln(R/S) on ln(n) over the sizes. Only COMPLETE blocks enter.
    * Output per size: `(block_len, n_blocks, mean_ln_rs_micro,
    * hurst)` — the slope repeated on the bounded size frame.
    *
    * Scale: grain aggregate → block-keyed bounded windows → size-grain
    * reduce; nothing global except two 1-row broadcasts.
    */
  def hurstRs(df: DataFrame, tCol: String, xCol: String,
      blockSizes: Seq[Int]): DataFrame = {
    val d38 = "decimal(38,0)"
    val series = df.filter(col(tCol).isNotNull && col(xCol).isNotNull)
      .select(col(tCol).cast("long").as("__t"),
        col(xCol).cast("long").as("__xv"))
    val t0f = series.agg(min(col("__t")).as("__t0"))
    val sized = series.crossJoin(broadcast(t0f))
      .withColumn("__bs", explode(array(blockSizes.map(lit(_)): _*)))
      .withColumn("__blk", expr("(__t - __t0) DIV __bs"))
    val byBlk = sized.groupBy(col("__bs"), col("__blk"))
      .agg(count(lit(1)).as("__c"), sum(col("__xv")).as("__Sb"),
        exactSumProd(col("__xv"), col("__xv")).as("__Qb"))
      .filter(col("__c") === col("__bs"))
    val w = Window.partitionBy(col("__bs"), col("__blk"))
      .orderBy(col("__t"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val z = sized.join(byBlk, Seq("__bs", "__blk"))
      .withColumn("__i", count(lit(1)).over(w))
      .withColumn("__zp", sum(col("__xv")).over(w) * col("__bs")
        - col("__i") * col("__Sb"))
    val perBlk = z.groupBy(col("__bs"), col("__blk"))
      .agg(max(col("__zp")).as("__zmax"), min(col("__zp")).as("__zmin"),
        max(col("__Sb")).as("__Sb2"), max(col("__Qb")).as("__Qb2"))
      .withColumn("__s2", col("__Qb2") * col("__bs") -
        col("__Sb2").cast(d38) * col("__Sb2"))
      .filter(col("__s2") > 0)
      .withColumn("__rs", (greatest(col("__zmax"), lit(0L)) -
        least(col("__zmin"), lit(0L))).cast("double") /
        sqrt(col("__s2").cast("double")))
      .filter(col("__rs") > 0)
      .withColumn("__lrs", expr(
        "CAST(round(ln(__rs) * 1000000) AS BIGINT)"))
    // mean ln(R/S) per size: round-double, never DIV (ln(R/S) can be
    // negative and Spark DIV truncates while DuckDB // floors); the
    // OLS sums fold a SORTED bounded array (the kruskalWallis
    // discipline) so the double-addition order is pinned on both
    // engines.
    val bySize = perBlk.groupBy(col("__bs").as("block_len"))
      .agg(count(lit(1)).as("n_blocks"),
        expr("CAST(round(CAST(sum(__lrs) AS DOUBLE) / count(1)) " +
          "AS BIGINT)").as("mean_ln_rs_micro"))
    val slope = bySize
      .agg(count(lit(1)).cast("double").as("__m"),
        sort_array(collect_list(struct(col("block_len").as("bl"),
          col("mean_ln_rs_micro").as("mv")))).as("__pts"))
      .withColumn("__su", expr("aggregate(__pts, CAST(0.0 AS DOUBLE), " +
        "(a, p) -> a + ln(CAST(p.bl AS DOUBLE)))"))
      .withColumn("__sv", expr("aggregate(__pts, CAST(0.0 AS DOUBLE), " +
        "(a, p) -> a + CAST(p.mv AS DOUBLE) / 1000000)"))
      .withColumn("__suu", expr("aggregate(__pts, CAST(0.0 AS DOUBLE), " +
        "(a, p) -> a + ln(CAST(p.bl AS DOUBLE)) " +
        "* ln(CAST(p.bl AS DOUBLE)))"))
      .withColumn("__suv", expr("aggregate(__pts, CAST(0.0 AS DOUBLE), " +
        "(a, p) -> a + ln(CAST(p.bl AS DOUBLE)) " +
        "* (CAST(p.mv AS DOUBLE) / 1000000))"))
      .select(when(col("__m") * col("__suu") - col("__su") * col("__su")
          > 0, round((col("__m") * col("__suv") -
            col("__su") * col("__sv")) /
          (col("__m") * col("__suu") - col("__su") * col("__su")), 6))
        .as("hurst"))
    bySize.crossJoin(slope)
  }

  // -------------------------------- association / consistency family

  /** Mutual information + normalized MI between two CATEGORICAL
    * columns — "how much does knowing the language tell you about the
    * length bucket": the dependence readout for label/slice audits
    * that χ² significance can't size (MI is an effect measure in
    * nats). Per-value and per-cell log terms are integer-arg ln
    * differences rounded to micro BEFORE the weighted sum (the
    * Adamic–Adar per-term-bounded rule; four separate lns so no
    * product ever leaves exact-double integer range), weights are the
    * exact counts, and the 1/n normalization is one BIGINT floor:
    * `H(X) = Σ_x c_x·round(10⁶·(ln n − ln c_x)) DIV n`, `MI = Σ_xy
    * c_xy·round(10⁶·(ln n + ln c_xy − ln c_x − ln c_y)) DIV n`. NMI is
    * the final double `MI/√(H_x·H_y)` at 6 dp. Output: ONE row
    * `(n, h_x_micro, h_y_micro, mi_micro, nmi)`.
    *
    * Scale: one (x,y) cell aggregate (map-side combined), two marginal
    * re-aggregations of the CELL frame, 1-row broadcast total — the
    * contingency grain, never the corpus.
    */
  def mutualInformation(df: DataFrame, xCol: String,
      yCol: String): DataFrame = {
    val d38 = "decimal(38,0)"
    val cells = Pins.pin(df.filter(col(xCol).isNotNull && col(yCol).isNotNull)
      .groupBy(col(xCol).as("__x"), col(yCol).as("__y"))
      .agg(count(lit(1)).as("__c")))
    val tot = cells.agg(coalesce(sum(col("__c")), lit(0L)).as("n"))
    val margX = cells.groupBy(col("__x"))
      .agg(sum(col("__c")).as("__cx"))
    val margY = cells.groupBy(col("__y"))
      .agg(sum(col("__c")).as("__cy"))
    def entropyMicro(marg: DataFrame, cCol: String,
        outCol: String): DataFrame =
      marg.crossJoin(broadcast(tot))
        .withColumn("__t", expr(
          s"CAST(round((ln(n) - ln($cCol)) * 1000000) AS BIGINT)"))
        .agg(coalesce(exactSumProd(col(cCol), col("__t")),
          lit(0).cast(d38)).as(outCol))
    val hx = entropyMicro(margX, "__cx", "__hsx")
    val hy = entropyMicro(margY, "__cy", "__hsy")
    val mi = cells
      .join(margX, Seq("__x")).join(margY, Seq("__y"))
      .crossJoin(broadcast(tot))
      .withColumn("__t", expr(
        "CAST(round((ln(n) + ln(__c) - ln(__cx) - ln(__cy)) * 1000000) " +
          "AS BIGINT)"))
      .agg(coalesce(exactSumProd(col("__c"), col("__t")),
        lit(0).cast(d38)).as("__ms"))
    tot.crossJoin(hx).crossJoin(hy).crossJoin(mi)
      .select(col("n"),
        when(col("n") > 0, expr("CAST(__hsx DIV n AS BIGINT)"))
          .otherwise(lit(0L)).as("h_x_micro"),
        when(col("n") > 0, expr("CAST(__hsy DIV n AS BIGINT)"))
          .otherwise(lit(0L)).as("h_y_micro"),
        // per-term rounding can push an exactly-zero MI a few micro
        // NEGATIVE: divide sign-aware (|ms| DIV n) because Spark DIV
        // truncates while DuckDB // floors — they only agree on
        // non-negatives (the hurstRs discipline)
        when(col("n") > 0, expr("CAST(CASE WHEN __ms >= 0 " +
          "THEN __ms DIV n ELSE -((-__ms) DIV n) END AS BIGINT)"))
          .otherwise(lit(0L)).as("mi_micro"))
      .withColumn("nmi", when(col("h_x_micro") > 0 &&
          col("h_y_micro") > 0, round(
        col("mi_micro").cast("double") /
          sqrt(col("h_x_micro").cast("double") *
            col("h_y_micro").cast("double")), 6)))
  }

  /** Cohen's d and Hedges' g effect sizes between two groups of an
    * integer-lattice outcome — the MAGNITUDE companion to the Welch/
    * Mann–Whitney significance family ("is the difference big", not
    * "is it real"): pooled-SD standardized mean difference, with
    * Hedges' small-sample bias correction `g = d·(1 − 3/(4N − 9))`.
    * All sufficient statistics are exact (counts, sums, DECIMAL sums
    * of squares in ONE map-side-combined aggregate); the composition
    * is the final double at 6 dp. Output: ONE row
    * `(n_a, n_b, mean_a, mean_b, d, g)`.
    */
  def cohensD(df: DataFrame, groupCol: String, xCol: String,
      groupA: String, groupB: String): DataFrame = {
    val d38 = "decimal(38,0)"
    val base = df.filter(col(groupCol).isNotNull && col(xCol).isNotNull)
      .filter(col(groupCol).isin(groupA, groupB))
      .select(col(groupCol).as("__g"), col(xCol).cast("long").as("__v"))
    val isA = col("__g") === groupA
    val va = when(isA, col("__v")).otherwise(0L)
    val vb = when(!isA, col("__v")).otherwise(0L)
    base.agg(
        sum(when(isA, 1L).otherwise(0L)).as("n_a"),
        sum(when(!isA, 1L).otherwise(0L)).as("n_b"),
        sum(when(isA, col("__v")).otherwise(0L)).as("__sa"),
        sum(when(!isA, col("__v")).otherwise(0L)).as("__sb"),
        exactSumProd(va, va).as("__qa"), exactSumProd(vb, vb).as("__qb"))
      .withColumn("__vna",
        col("n_a").cast(d38) * col("__qa") -
          col("__sa").cast(d38) * col("__sa"))
      .withColumn("__vnb",
        col("n_b").cast(d38) * col("__qb") -
          col("__sb").cast(d38) * col("__sb"))
      // pooled variance = (vna/na + vnb/nb) / (na + nb - 2); each term
      // vn/n is n·var·(n−1)/n = (n−1)·var — the pooled-SD numerator
      .withColumn("__pool", when(col("n_a") >= 2 && col("n_b") >= 2,
        (col("__vna").cast("double") / col("n_a") +
          col("__vnb").cast("double") / col("n_b")) /
          (col("n_a") + col("n_b") - 2).cast("double")))
      .withColumn("mean_a", when(col("n_a") > 0,
        round(col("__sa").cast("double") / col("n_a"), 6)))
      .withColumn("mean_b", when(col("n_b") > 0,
        round(col("__sb").cast("double") / col("n_b"), 6)))
      .withColumn("d", when(col("__pool") > 0, round(
        (col("__sa").cast("double") / col("n_a") -
          col("__sb").cast("double") / col("n_b")) /
          sqrt(col("__pool")), 6)))
      .withColumn("g", when(col("__pool") > 0, round(
        (col("__sa").cast("double") / col("n_a") -
          col("__sb").cast("double") / col("n_b")) /
          sqrt(col("__pool")) *
          (lit(1d) - lit(3d) /
            ((col("n_a") + col("n_b")) * 4 - 9).cast("double")), 6)))
      .select(col("n_a"), col("n_b"), col("mean_a"), col("mean_b"),
        col("d"), col("g"))
  }

  /** Exact per-group discrete quantiles at literal percentages — the
    * p50/p90/p99 latency-style readout, computed as ORDER STATISTICS
    * on the value grain (the smallest value whose cumulative count
    * reaches `ceil(n·q/100)`), never an approximate sketch and never a
    * corpus sort: value-grain counts, a PARTITIONED cumulative window
    * (per group — shuffle-safe), and a min-pick per (group, q).
    * Output per (group, q): `(group..., q_pct, n, x_q)`.
    *
    * Scale: one (group, value) aggregate + one group-partitioned
    * window over the VALUE grain + a (group, q)-grain reduce. The
    * value grain is the operator contract (lattice-valued outcomes —
    * cents, counts, sizes); a truly continuous column routes through
    * the sketch family instead.
    */
  def quantileReport(df: DataFrame, groupCols: Seq[String], xCol: String,
      qsPct: Seq[Int]): DataFrame = {
    require(groupCols.nonEmpty, "need at least one group column " +
      "(a global quantile routes through the sketch family or a " +
      "constant group)")
    require(qsPct.nonEmpty && qsPct.forall(q => q >= 1 && q <= 100),
      "percentages must be in 1..100")
    val g = groupCols.map(col)
    val vals = df.filter(col(xCol).isNotNull &&
        groupCols.map(col(_).isNotNull).reduce(_ && _))
      .groupBy(g :+ col(xCol).cast("long").as("__v"): _*)
      .agg(count(lit(1)).as("__c"))
    val cum = vals.withColumn("__cum", sum(col("__c")).over(
        Window.partitionBy(g: _*).orderBy(col("__v"))
          .rowsBetween(Window.unboundedPreceding, 0)))
      .withColumn("__n", sum(col("__c")).over(
        Window.partitionBy(g: _*)))
    cum.withColumn("q_pct",
        explode(array(qsPct.map(q => lit(q)): _*)))
      .filter(col("__cum") * 100 >= col("__n") * col("q_pct"))
      .groupBy(g :+ col("q_pct"): _*)
      .agg(max(col("__n")).as("n"), min(col("__v")).as("x_q"))
      .select(g ++ Seq(col("q_pct"), col("n"), col("x_q")): _*)
  }

  /** Concentration audit of a weight over a key: Herfindahl–Hirschman
    * index and the top-k concentration ratio in exact ppm — "is this
    * corpus/revenue dominated by a few sources", the supplier-risk /
    * source-diversity readout. `HHI_ppm = 10⁶·Σ w_k² DIV W²` (exact
    * DECIMAL), `CR_k = 10⁶·(Σ of the k largest w) DIV W` with the
    * deterministic (weight desc, key asc) tie order and a
    * TakeOrdered-bounded top-k (never a global sort). Output: ONE row
    * `(n_keys, w_total, hhi_ppm, cr_ppm)`.
    *
    * CONTRACT: weights are non-negative (revenue, counts, bytes) —
    * shares of a signed measure are not concentration; with negative
    * weights the ppm floors keep both engines hash-equal but the
    * statistic itself is meaningless.
    */
  def concentrationReport(df: DataFrame, keyCol: String, wCol: String,
      topK: Int): DataFrame = {
    require(topK >= 1, "topK must be positive")
    val d38 = "decimal(38,0)"
    val byKey = Pins.pin(df.filter(col(keyCol).isNotNull && col(wCol).isNotNull)
      .groupBy(col(keyCol).as("__k"))
      .agg(sum(col(wCol).cast("long")).as("__w")))
    val tot = byKey.agg(count(lit(1)).as("n_keys"),
      coalesce(sum(col("__w")), lit(0L)).as("w_total"),
      coalesce(exactSumProd(col("__w"), col("__w")),
        lit(0).cast(d38)).as("__sq"))
    val top = byKey.orderBy(col("__w").desc, col("__k").asc)
      .limit(topK)
      .agg(coalesce(sum(col("__w")), lit(0L)).as("__topw"))
    tot.crossJoin(top)
      .select(col("n_keys"), col("w_total"),
        when(col("w_total") > 0, expr(
          "CAST((__sq * 1000000) DIV (CAST(w_total AS DECIMAL(38,0)) " +
            "* w_total) AS BIGINT)")).as("hhi_ppm"),
        // topw·10⁶ can pass int64 at corpus weight totals — DECIMAL
        when(col("w_total") > 0, expr(
          "CAST((CAST(__topw AS DECIMAL(38,0)) * 1000000) " +
            "DIV w_total AS BIGINT)")).as("cr_ppm"))
  }

  /** Cochran's Q test (Cochran 1950) over a long-format binary panel
    * `(item, treatment, success)` — "do my k binary labelers/filters
    * differ in pass rate on the same items": the k-treatment
    * generalization of McNemar (q399) and the binary sibling of
    * Friedman (q394). Only COMPLETE blocks enter (items rated under
    * every treatment — the fleissKappa discipline, k read from the
    * data as a 1-row frame). With row totals R_i, column totals C_j,
    * N = ΣR_i: `Q = (k−1)·(k·ΣC_j² − N²)/(k·N − ΣR_i²)` — every term
    * an exact integer, one final double at 6 dp (NULL when the
    * denominator is 0: all-constant rows). Output: ONE row
    * `(n_items, k, n_success, q_stat)`.
    *
    * Scale: (item, treatment) max-aggregate, item-grain and
    * treatment-grain reductions, 1-row cross joins — contingency
    * grain throughout.
    */
  def cochranQ(df: DataFrame, itemCol: String, treatCol: String,
      valCol: String): DataFrame = {
    val d38 = "decimal(38,0)"
    val cell = Pins.pin(df.filter(col(itemCol).isNotNull &&
        col(treatCol).isNotNull && col(valCol).isNotNull)
      .groupBy(col(itemCol).as("__it"), col(treatCol).as("__tr"))
      .agg(max(col(valCol).cast("boolean").cast("long")).as("__s")))
    val kf = cell.select(col("__tr")).distinct()
      .agg(count(lit(1)).as("k"))
    val perItem = cell.groupBy(col("__it"))
      .agg(count(lit(1)).as("__m"), sum(col("__s")).as("__r"))
    val kept = Pins.pin(perItem.crossJoin(broadcast(kf))
      .filter(col("__m") === col("k"))
      .select(col("__it"), col("__r")))
    val rows = kept.agg(count(lit(1)).as("n_items"),
      coalesce(sum(col("__r")), lit(0L)).as("n_success"),
      coalesce(exactSumProd(col("__r"), col("__r")),
        lit(0).cast(d38)).as("__sr2"))
    val cols = cell.join(kept.select(col("__it")), Seq("__it"))
      .groupBy(col("__tr")).agg(sum(col("__s")).as("__cj"))
      .agg(coalesce(exactSumProd(col("__cj"), col("__cj")),
        lit(0).cast(d38)).as("__sc2"))
    rows.crossJoin(cols).crossJoin(kf)
      .withColumn("__den",
        col("k").cast(d38) * col("n_success") - col("__sr2"))
      .select(col("n_items"), col("k"), col("n_success"),
        when(col("__den") > 0, round(
          ((col("k") - 1).cast(d38) *
            (col("k").cast(d38) * col("__sc2") -
              col("n_success").cast(d38) * col("n_success")))
            .cast("double") / col("__den").cast("double"), 6))
          .as("q_stat"))
  }

  /** Goodman–Kruskal gamma and Somers' D_yx ordinal association
    * between two LATTICE-valued columns — "does a bigger x go with a
    * bigger y" for ordered categories, where Pearson assumes interval
    * scale and Kendall needs a per-pair scan: concordant/discordant/
    * tied-in-y pair counts computed at the CELL grain (`C = Σ
    * n_c·n_c'` over cell pairs, never row pairs), so the quadratic is
    * in distinct-value-pair count, not corpus size. `gamma =
    * (C−D)/(C+D)`, `D_yx = (C−D)/(C+D+T_y)` — exact DECIMAL counts,
    * two final doubles at 6 dp. Output: ONE row
    * `(n, c_pairs, d_pairs, ty_pairs, gamma, somers_d)`.
    *
    * `maxCells` is the structural lattice-contract guard (the
    * mannKendall maxSeries discipline): the cell frame is counted once
    * (1-row driver read of the pinned frame) and a wider input
    * fails loudly before the cell-pair broadcast join builds.
    */
  def somersGamma(df: DataFrame, xCol: String, yCol: String,
      maxCells: Int = 2000): DataFrame = {
    require(maxCells >= 2, "maxCells must be >= 2")
    val d38 = "decimal(38,0)"
    val cells = Pins.pin(df.filter(col(xCol).isNotNull && col(yCol).isNotNull)
      .groupBy(col(xCol).cast("long").as("__x"),
        col(yCol).cast("long").as("__y"))
      .agg(count(lit(1)).as("__c")))
    val nCells = cells.count()
    require(nCells <= maxCells,
      s"somersGamma: $nCells distinct (x, y) cells > maxCells=" +
        s"$maxCells - the pair scan is quadratic in the cell count; " +
        "feed lattice-valued columns or raise maxCells deliberately")
    val a = cells.select(col("__x").as("__x1"), col("__y").as("__y1"),
      col("__c").as("__c1"))
    val b = cells.select(col("__x").as("__x2"), col("__y").as("__y2"),
      col("__c").as("__c2"))
    val pairs = a.join(broadcast(b), col("__x1") < col("__x2"))
      .withColumn("__w", col("__c1").cast(d38) * col("__c2"))
    val sums = pairs.agg(
      coalesce(sum(when(col("__y1") < col("__y2"), col("__w"))),
        lit(0).cast(d38)).as("__cp"),
      coalesce(sum(when(col("__y1") > col("__y2"), col("__w"))),
        lit(0).cast(d38)).as("__dp"),
      coalesce(sum(when(col("__y1") === col("__y2"), col("__w"))),
        lit(0).cast(d38)).as("__ty"))
    val tot = cells.agg(coalesce(sum(col("__c")), lit(0L)).as("n"))
    tot.crossJoin(sums)
      .select(col("n"),
        col("__cp").cast("long").as("c_pairs"),
        col("__dp").cast("long").as("d_pairs"),
        col("__ty").cast("long").as("ty_pairs"),
        when(col("__cp") + col("__dp") > 0, round(
          (col("__cp") - col("__dp")).cast("double") /
            (col("__cp") + col("__dp")).cast("double"), 6)).as("gamma"),
        when(col("__cp") + col("__dp") + col("__ty") > 0, round(
          (col("__cp") - col("__dp")).cast("double") /
            (col("__cp") + col("__dp") + col("__ty")).cast("double"), 6))
          .as("somers_d"))
  }

  /** Cronbach's alpha internal-consistency coefficient over a
    * long-format `(subject, item, score)` frame — "do my k quality
    * items measure one underlying thing": the reliability readout for
    * weak-labeler and rubric panels. Only COMPLETE cases enter
    * (subjects with every item exactly once — k read from the data);
    * with per-item variance numerators `v_i = n·Q_i − S_i²` and the
    * per-subject-total numerator `v_t = n·Q_t − S_t²` (the shared
    * (n−1) denominators cancel), `α = k/(k−1)·(1 − Σv_i/v_t)` — exact
    * DECIMAL integers into one final double at 6 dp (NULL when v_t =
    * 0). Output: ONE row `(n_subjects, k, alpha)`.
    *
    * Scale: (subject, item) aggregate, subject- and item-grain
    * reductions, 1-row cross joins — panel grain throughout.
    */
  def cronbachAlpha(df: DataFrame, idCol: String, itemCol: String,
      scoreCol: String): DataFrame = {
    val d38 = "decimal(38,0)"
    val cell = Pins.pin(df.filter(col(idCol).isNotNull &&
        col(itemCol).isNotNull && col(scoreCol).isNotNull)
      .groupBy(col(idCol).as("__id"), col(itemCol).as("__itm"))
      .agg(count(lit(1)).as("__dup"),
        sum(col(scoreCol).cast("long")).as("__v")))
    val kf = cell.select(col("__itm")).distinct()
      .agg(count(lit(1)).as("k"))
    val perSubj = cell.groupBy(col("__id"))
      .agg(count(lit(1)).as("__m"), max(col("__dup")).as("__dmax"),
        sum(col("__v")).as("__t"))
    val kept = Pins.pin(perSubj.crossJoin(broadcast(kf))
      .filter(col("__m") === col("k") && col("__dmax") === 1)
      .select(col("__id"), col("__t")))
    val nRow = kept.agg(count(lit(1)).as("n_subjects"),
      coalesce(sum(col("__t")), lit(0L)).as("__st"),
      coalesce(exactSumProd(col("__t"), col("__t")),
        lit(0).cast(d38)).as("__qt"))
    val items = cell.join(kept.select(col("__id")), Seq("__id"))
      .groupBy(col("__itm"))
      .agg(sum(col("__v")).as("__si"),
        exactSumProd(col("__v"), col("__v")).as("__qi"))
    val itemVar = items.crossJoin(broadcast(
        nRow.select(col("n_subjects").as("__n2"))))
      .agg(coalesce(sum(col("__n2").cast(d38) * col("__qi") -
        col("__si").cast(d38) * col("__si")), lit(0).cast(d38))
        .as("__vi"))
    nRow.crossJoin(itemVar).crossJoin(kf)
      .withColumn("__vt",
        col("n_subjects").cast(d38) * col("__qt") -
          col("__st").cast(d38) * col("__st"))
      .select(col("n_subjects"), col("k"),
        when(col("__vt") > 0 && col("k") >= 2, round(
          col("k").cast("double") / (col("k") - 1).cast("double") *
            (lit(1d) - col("__vi").cast("double") /
              col("__vt").cast("double")), 6)).as("alpha"))
  }

  /** One-way intraclass correlation ICC(1,1) (Shrout & Fleiss 1979)
    * over groups of EXACTLY `k` ratings — "how much of the score
    * variance is between subjects rather than within": the
    * reliability companion to [[cronbachAlpha]] when raters are
    * interchangeable. Groups with any other size are dropped (the
    * fleissKappa constant-n discipline). Exact scaled sums of squares
    * (`SSB·kN = N·ΣS_i² − k·T²`, `SSW·k = k·ΣQ_i − ΣS_i²`, all
    * DECIMAL) feed the final doubles `MSB = SSB/(n−1)`,
    * `MSW = SSW/(N−n)`, `ICC = (MSB−MSW)/(MSB+(k−1)·MSW)` at 6 dp.
    * Output: ONE row `(n_groups, k, msb, msw, icc)`.
    */
  def iccOneWay(df: DataFrame, groupCol: String, xCol: String,
      k: Int): DataFrame = {
    require(k >= 2, "need at least 2 ratings per group")
    val d38 = "decimal(38,0)"
    val per = df.filter(col(groupCol).isNotNull && col(xCol).isNotNull)
      .groupBy(col(groupCol).as("__g"))
      .agg(count(lit(1)).as("__m"),
        sum(col(xCol).cast("long")).as("__s"),
        exactSumProd(col(xCol), col(xCol)).as("__q"))
      .filter(col("__m") === k.toLong)
    per.agg(count(lit(1)).as("n_groups"),
        coalesce(sum(col("__s")), lit(0L)).as("__t"),
        coalesce(exactSumProd(col("__s"), col("__s")),
          lit(0).cast(d38)).as("__a"),
        coalesce(sum(col("__q")), lit(0).cast(d38)).as("__qq"))
      .withColumn("__nn", col("n_groups") * k.toLong)
      .withColumn("__ssbkn",
        col("__nn").cast(d38) * col("__a") -
          lit(k).cast(d38) * col("__t") * col("__t"))
      .withColumn("__sswk",
        lit(k).cast(d38) * col("__qq") - col("__a"))
      .withColumn("msb", when(col("n_groups") >= 2, round(
        col("__ssbkn").cast("double") /
          (col("__nn") * k).cast("double") /
          (col("n_groups") - 1).cast("double"), 6)))
      .withColumn("msw", when(col("__nn") > col("n_groups"), round(
        col("__sswk").cast("double") / k /
          (col("__nn") - col("n_groups")).cast("double"), 6)))
      .select(col("n_groups"), lit(k).as("k"), col("msb"), col("msw"),
        when(col("msb").isNotNull && col("msw").isNotNull &&
            col("msb") + col("msw") * (k - 1) > 0, round(
          (col("msb") - col("msw")) /
            (col("msb") + col("msw") * (k - 1)), 6)).as("icc"))
  }

  /** Two-sample Cramér–von Mises statistic from value-grain paired
    * ECDFs — the WHOLE-distribution two-sample test that weights every
    * quantile (KS reads only the max gap; CvM integrates the squared
    * gap, catching spread/tail differences KS misses). At value grain
    * with per-value counts `(c_A, c_B)` and inclusive cums from ONE
    * two-column [[PrefixScan.globalCumSum]]:
    * `T = Σ_v (c_A+c_B)·(cumA_v·n_B − cumB_v·n_A)² / (N²·n_A·n_B)` —
    * the integrand exact DECIMAL, one final double at 6 dp. Output: ONE
    * row `(n_a, n_b, t_stat)`.
    *
    * Scale: one value-grain conditional aggregate + one range
    * exchange of the VALUE frame (the prefix scan — no
    * single-partition window) + a 1-row reduce.
    */
  def cramerVonMises(df: DataFrame, groupCol: String, xCol: String,
      groupA: String, groupB: String): DataFrame = {
    val d38 = "decimal(38,0)"
    val isA = col(groupCol) === groupA
    val vals = df.filter(col(groupCol).isNotNull && col(xCol).isNotNull)
      .filter(col(groupCol).isin(groupA, groupB))
      .groupBy(col(xCol).cast("long").as("__v"))
      .agg(sum(when(isA, 1L).otherwise(0L)).as("__ca"),
        sum(when(!isA, 1L).otherwise(0L)).as("__cb"))
    val cum = globalCumSum(vals, Seq(col("__v")),
      col("__ca") -> "__cumA", col("__cb") -> "__cumB")
    val tot = vals.agg(coalesce(sum(col("__ca")), lit(0L)).as("n_a"),
      coalesce(sum(col("__cb")), lit(0L)).as("n_b"))
    val num = cum.crossJoin(broadcast(tot))
      .withColumn("__gap",
        col("__cumA").cast(d38) * col("n_b") -
          col("__cumB").cast(d38) * col("n_a"))
      .agg(coalesce(sum((col("__ca") + col("__cb")).cast(d38) *
        col("__gap") * col("__gap")), lit(0).cast(d38)).as("__tnum"))
    tot.crossJoin(num)
      .select(col("n_a"), col("n_b"),
        when(col("n_a") > 0 && col("n_b") > 0, round(
          col("__tnum").cast("double") /
            ((col("n_a") + col("n_b")).cast("double") *
              (col("n_a") + col("n_b")).cast("double") *
              col("n_a").cast("double") * col("n_b").cast("double")),
          6)).as("t_stat"))
  }

  /** Offline CUSUM mean-shift change point over a totally ordered
    * corpus-grain stream: with inclusive prefix sums `C_i` and counts
    * `i` (BOTH from one two-column [[PrefixScan.globalCumSum]], since
    * two separate passes could not be joined row-wise), the drift-free
    * CUSUM is `D_i = n·C_i − S·i` (exact
    * DECIMAL — no float mean subtraction), and the change point is
    * `argmax |D_i|` with the deterministic (|D| desc, i asc) tie rule
    * picked by a TakeOrdered limit — never a global sort. The scan
    * statistic `|D|/n²` normalizes to the classic
    * `max_t |mean_{≤t} − mean|·(t/n)` scale. Output: ONE row
    * `(n, s_total, t_star, i_star, cum_star, d_stat)`.
    *
    * Scale: one prefix scan of the row frame (`n` and `S` are its
    * last row, a grand aggregate of its output) + a 1-row TakeOrdered
    * pick.
    */
  def cusumMeanShift(df: DataFrame, tCol: String, xCol: String,
      tiebreakCols: Seq[String]): DataFrame = {
    val d38 = "decimal(38,0)"
    val base = df.filter(col(tCol).isNotNull && col(xCol).isNotNull)
      .select(col(tCol).as("__t") +: col(xCol).cast("long").as("__xv")
        +: tiebreakCols.map(col): _*)
    val scanned = globalCumSum(base, col("__t") +: tiebreakCols.map(col),
      col("__xv") -> "__cum", lit(1) -> "__i")
    // n and S are the last row's running count and sum
    val tot = scanned.agg(max(col("__i")).as("n"),
      max_by(col("__cum"), col("__i")).as("s_total"))
    scanned.crossJoin(broadcast(tot))
      .withColumn("__d",
        col("n").cast(d38) * col("__cum") -
          col("s_total").cast(d38) * col("__i"))
      .withColumn("__dabs", abs(col("__d")))
      .orderBy(col("__dabs").desc, col("__i").asc)
      .limit(1)
      .select(col("n"), col("s_total"), col("__t").as("t_star"),
        col("__i").as("i_star"), col("__cum").as("cum_star"),
        round(col("__dabs").cast("double") /
          (col("n").cast("double") * col("n").cast("double")), 6)
          .as("d_stat"))
  }

  /** Hash-deterministic paired sign-flip permutation test (Fisher
    * 1935's randomization test in its paired form): under H₀ the
    * paired differences are sign-symmetric, so each replicate `b`
    * flips every `d_i` by a DETERMINISTIC pseudo-random sign
    * `s_ib = ±1` derived from `(id, b)` integer hashing (the
    * bootstrapMeanCI discipline — no RNG state, engine-reproducible),
    * and the add-one Monte-Carlo p-value is
    * `p = (1 + #{b : |Σ s_ib·d_i| ≥ |Σ d_i|}) / (B + 1)` — the
    * distribution-free significance companion to the Wilcoxon
    * signed-rank (which tests ranks; this tests the MEAN difference
    * itself, no normality anywhere). All statistics exact BIGINTs;
    * the p is an exact ppm floor. Output: ONE row
    * `(n, d_sum, n_extreme, p_ppm)`.
    *
    * Sign hash: `(((id % p)·1103515245 + b·12345) % p) % 2` with
    * `p = 1000000007` — the id is reduced mod p BEFORE the multiply so
    * every product stays int64-safe at ANY id magnitude; mirrored
    * verbatim by the oracle.
    *
    * Scale: one corpus×B replicate map (B a bounded literal, default
    * 200) collapsing map-side to the B-grain replicate sums, then a
    * 1-row reduce — the amplification is a constant factor, never a
    * shuffle of pairs.
    */
  def signFlipTest(df: DataFrame, idCol: String, dCol: String,
      b: Int = 200): DataFrame = {
    require(b >= 1 && b <= 100000, "need 1 <= B <= 100000 replicates")
    val base = df.filter(col(idCol).isNotNull && col(dCol).isNotNull)
      .select(col(idCol).cast("long").as("__id"),
        col(dCol).cast("long").as("__d"))
    val obs = base.agg(count(lit(1)).as("n"),
      coalesce(sum(col("__d")), lit(0L)).as("d_sum"))
    val reps = base
      .withColumn("__b", explode(sequence(lit(1), lit(b))))
      .withColumn("__s", when(
        expr("(((__id % 1000000007L) * 1103515245L + __b * 12345L) " +
          "% 1000000007L) % 2") === 0, lit(1L)).otherwise(lit(-1L)))
      .groupBy(col("__b"))
      .agg(sum(col("__s") * col("__d")).as("__t"))
    obs.crossJoin(
        reps.crossJoin(broadcast(obs.select(col("d_sum").as("__o"))))
          .agg(coalesce(sum(when(abs(col("__t")) >= abs(col("__o")),
            1L).otherwise(0L)), lit(0L)).as("n_extreme")))
      .select(col("n"), col("d_sum"), col("n_extreme"),
        expr(s"(1 + n_extreme) * 1000000L DIV ${b + 1}").as("p_ppm"))
  }

  /** Qini uplift curve by score decile — the treatment-effect-model
    * evaluation that [[liftTable]] cannot do: lift ranks ONE response
    * column; Qini asks "did targeting by this score find the people
    * the TREATMENT actually moved", reading cumulative
    * `g(k) = R_T(k) − R_C(k)·N_T(k)/N_C(k)` (incremental responses
    * net of the control baseline, scaled to the treated volume) down
    * the score ranking. Deciles come from the distributed
    * [[PrefixScan.globalRank]] (never an ntile window); the cumulative closes
    * over the ≤10-row decile frame with a broadcast self-join (the
    * liftTable idiom); the Qini value is the exact DECIMAL
    * `10⁶·(R_T·N_C − R_C·N_T) DIV N_C` micro floor. Output per
    * decile: `(decile, n_t, n_c, resp_t, resp_c, qini_micro)` —
    * qini_micro NULL while the cumulative control arm is empty.
    *
    * Scale: one globalRank exchange + decile-grain everything after.
    */
  def qiniCurve(df: DataFrame, scoreCol: String, treatCol: String,
      respCol: String, tiebreakCols: Seq[String]): DataFrame = {
    val base = df.filter(col(scoreCol).isNotNull &&
        col(treatCol).isNotNull && col(respCol).isNotNull)
      .select(col(scoreCol).as("__sc") +:
        col(treatCol).cast("boolean").as("__tr") +:
        col(respCol).cast("boolean").cast("long").as("__r") +:
        tiebreakCols.map(col): _*)
    val ranked = globalRank(base,
      col("__sc").desc +: tiebreakCols.map(col), "__gr")
    val tot = ranked.agg(count(lit(1)).as("__nt"))
    val byD = ranked.crossJoin(broadcast(tot))
      .withColumn("decile",
        expr("(10 * (__gr - 1)) DIV __nt + 1").cast("int"))
      .groupBy(col("decile"))
      .agg(sum(when(col("__tr"), 1L).otherwise(0L)).as("n_t"),
        sum(when(!col("__tr"), 1L).otherwise(0L)).as("n_c"),
        sum(when(col("__tr"), col("__r")).otherwise(0L)).as("resp_t"),
        sum(when(!col("__tr"), col("__r")).otherwise(0L)).as("resp_c"))
    val cum = byD.select(col("decile").as("__d1"))
      .join(broadcast(byD.select(col("decile").as("__d2"), col("n_t")
          .as("__n2t"), col("n_c").as("__n2c"), col("resp_t")
          .as("__r2t"), col("resp_c").as("__r2c"))),
        col("__d2") <= col("__d1"))
      .groupBy(col("__d1"))
      .agg(sum(col("__n2t")).as("__cnt"), sum(col("__n2c")).as("__cnc"),
        sum(col("__r2t")).as("__crt"), sum(col("__r2c")).as("__crc"))
    byD.join(broadcast(cum), col("decile") === col("__d1"))
      .select(col("decile"), col("n_t"), col("n_c"), col("resp_t"),
        col("resp_c"),
        // negative uplift is real - divide sign-aware (Spark DIV
        // truncates, DuckDB // floors; they agree on non-negatives)
        when(col("__cnc") > 0, expr(
          "CAST(CASE WHEN __crt * CAST(__cnc AS DECIMAL(38,0)) >= " +
            "__crc * CAST(__cnt AS DECIMAL(38,0)) THEN " +
            "(1000000 * (CAST(__crt AS DECIMAL(38,0)) * __cnc " +
            "- CAST(__crc AS DECIMAL(38,0)) * __cnt)) DIV " +
            "CAST(__cnc AS DECIMAL(38,0)) ELSE " +
            "-((1000000 * (CAST(__crc AS DECIMAL(38,0)) * __cnt " +
            "- CAST(__crt AS DECIMAL(38,0)) * __cnc)) DIV " +
            "CAST(__cnc AS DECIMAL(38,0))) END AS BIGINT)"))
          .as("qini_micro"))
  }

  /** Murphy decomposition of the Brier score (Murphy 1973) at the
    * [[calibrationReport]] bin grain — the WHY behind a bad Brier:
    * `Brier ≈ REL − RES + UNC` with reliability (bins where the
    * forecast misstates the observed rate — lower is better),
    * resolution (how far bin outcomes spread from the base rate —
    * HIGHER is better), and uncertainty (the irreducible `ō(1−ō)`).
    * Exact-integer contract (explicit floors, mirrored by the
    * oracle): per bin `rel_b = (Σp − 10⁶·Σy)² DIV n_b`,
    * `res_b = n_b·(acc_ppm_b − ō_ppm)²` with both rates as DIV-floored
    * ppm, `rel/res_micro = Σ DIV (N·10⁶)`, `unc_micro =
    * (10⁶·K·(N−K)) DIV N²` (K = positives). Output: ONE row
    * `(n, n_pos, rel_micro, res_micro, unc_micro)`.
    *
    * Scale: the calibrationReport plan — one bin-grain aggregate +
    * 1-row reduce.
    */
  def brierDecomposition(df: DataFrame, probPpmCol: String,
      outcomeCol: String, bins: Int = 10): DataFrame = {
    require(bins >= 2, "need at least 2 bins")
    val d38 = "decimal(38,0)"
    val rows = df.filter(col(probPpmCol).isNotNull &&
        col(outcomeCol).isNotNull)
      .select(col(probPpmCol).cast("long").as("__p"),
        col(outcomeCol).cast("boolean").cast("long").as("__yy"))
    val byBin = rows
      .withColumn("__bin", least(floor(col("__p") * bins / 1000000L),
        lit(bins - 1L)).cast("long"))
      .groupBy(col("__bin"))
      .agg(count(lit(1)).as("__n"), sum(col("__p")).as("__sp"),
        sum(col("__yy")).as("__sy"))
      .withColumn("__acc", expr("__sy * 1000000L DIV __n"))
      .withColumn("__rel", expr(
        "(CAST(__sp - 1000000 * __sy AS DECIMAL(38,0)) * " +
          "(__sp - 1000000 * __sy)) DIV __n"))
    val glob = byBin.agg(sum(col("__n")).as("n"),
      sum(col("__sy")).as("n_pos"),
      coalesce(sum(col("__rel")), lit(0).cast(d38)).as("__relS"))
    val withBar = byBin.crossJoin(broadcast(
        glob.select(col("n").as("__N2"), col("n_pos").as("__K2"))))
      .withColumn("__obar", expr("__K2 * 1000000L DIV __N2"))
      .agg(coalesce(sum(col("__n").cast(d38) *
          (col("__acc") - col("__obar")) *
          (col("__acc") - col("__obar"))), lit(0).cast(d38))
        .as("__resS"))
    glob.crossJoin(withBar)
      .select(col("n"), col("n_pos"),
        when(col("n") > 0, expr(
          "CAST(__relS DIV (CAST(n AS DECIMAL(38,0)) * 1000000) " +
            "AS BIGINT)")).as("rel_micro"),
        when(col("n") > 0, expr(
          "CAST(__resS DIV (CAST(n AS DECIMAL(38,0)) * 1000000) " +
            "AS BIGINT)")).as("res_micro"),
        when(col("n") > 0, expr(
          "CAST((1000000 * CAST(n_pos AS DECIMAL(38,0)) * " +
            "(n - n_pos)) DIV (CAST(n AS DECIMAL(38,0)) * n) " +
            "AS BIGINT)")).as("unc_micro"))
  }
}

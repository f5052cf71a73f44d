package graft.engine

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** OP-WIN-1 sliding feature windows and OP-AGG-3 spatial coarsening. */
object Windows {

  /** `unix_micros` behind an explicit LTZ cast: the driver's parquet reads
    * back TIMESTAMP_NTZ under Spark 4's default inference, and ANSI mode
    * refuses the implicit NTZ→TIMESTAMP coercion non-ANSI applies
    * (AnsiFixtureSpec). Session TZ is UTC, so the cast is value-exact on
    * both timestamp families.
    */
  private def uMicros(c: Column): Column = unix_micros(c.cast("timestamp"))

  /** OP-WIN-1 — trailing `n`-step sliding window per spatial key
    * (`inference/carboninference/core.py:73-117`): for every row with ≥ n−1
    * predecessors in its partition, the ordered trailing slice of each
    * feature column as an array. Partitioning by the spatial key keeps the
    * shuffle to exactly one exchange; the window itself is a single sort
    * within partitions — at 100 TB the partition count follows the spatial
    * key cardinality (~1M ERA5 cells), far above executor count.
    */
  def slidingFeatures(df: DataFrame, partCols: Seq[String], timeCol: String,
      featureCols: Seq[String], n: Int = 32): DataFrame = {
    val w = Window.partitionBy(partCols.map(col): _*).orderBy(col(timeCol))
      .rowsBetween(-(n - 1), 0)
    // Collect ONE array of structs so null feature values keep their time
    // slot (collect_list over a bare column skips nulls, which would
    // time-misalign the per-feature arrays — the reference keeps NaN
    // positions in the tensor, `inference/core.py:98-117`). A struct is
    // never null even when all its fields are, so the array length is the
    // true row count of the frame.
    val packed = collect_list(struct(featureCols.map(col): _*)).over(w)
    val one = df.withColumn("__win", packed)
      .filter(size(col("__win")) === n)
    featureCols.foldLeft(one) { (d, c) =>
      d.withColumn(s"${c}_win", col(s"__win.$c"))
    }.drop("__win")
  }

  /** OP-AGG-3 — block-mean spatial downsample (`dataset.py:160-161`): mean
    * over `block`×`block` index blocks with `boundary="trim"` semantics
    * (partial edge blocks dropped via exact-count filter). Pure hash
    * aggregate — map-side partial aggregation makes this shuffle only one
    * row per block.
    */
  def coarsen(df: DataFrame, xIdx: String, yIdx: String,
      valueCols: Seq[String], block: Int, trim: Boolean = true,
      keyCols: Seq[String] = Nil): DataFrame = {
    // keyCols lets time/region/band participate in the group key — the
    // reference coarsens one 2-D raster at a time (`dataset.py:160-161`);
    // without the extra keys a time-stacked frame would mean-mix across
    // months.
    val blocks = Seq(floor(col(xIdx) / block).cast("long").as("block_x"),
      floor(col(yIdx) / block).cast("long").as("block_y"))
    val g = df.groupBy(keyCols.map(col) ++ blocks: _*)
      .agg(count(lit(1)).as("n_cells"),
        valueCols.map(c => avg(col(c)).as(s"${c}_mean")): _*)
    if (trim) g.filter(col("n_cells") === (block.toLong * block)) else g
  }

  /** Batch sessionization — split each key's event stream into sessions at
    * inactivity gaps > `gap` (an interval Column, e.g.
    * `expr("INTERVAL '4' HOUR")`), numbering sessions 1..k per key in time
    * order. The break-flag lag and the running sum share the SAME
    * (key, time) window sort, so Catalyst plans one exchange + one sort;
    * session numbering is per-key, so at 100 TB the window state is a
    * single counter per partition stream — nothing accumulates.
    */
  def sessionize(df: DataFrame, keyCol: String, timeCol: String,
      gap: Column, outCol: String = "session_idx"): DataFrame = {
    val byTime = Window.partitionBy(col(keyCol)).orderBy(col(timeCol))
    val brk = when(lag(col(timeCol), 1).over(byTime).isNull ||
      col(timeCol) - lag(col(timeCol), 1).over(byTime) > gap, 1).otherwise(0)
    df.withColumn(outCol,
      sum(brk).over(byTime.rowsBetween(Window.unboundedPreceding,
        Window.currentRow)).cast("int"))
  }

  /** Time-weighted average per key (the TWAP shape): each observation is
    * weighted by how long it remained "current" — the µs gap to the next
    * observation; the final observation of a key carries no interval and
    * drops out. All arithmetic until the last division is exact integer:
    * values are scaled to integer units (`round(v·scale)`), gaps are
    * integer µs, and the weighted sum of longs is order-independent —
    * a float Σ(v·dt) would hash-diverge across partitionings. One window
    * pass for the gap (running state only) + one hash aggregate.
    */
  def timeWeightedAvg(df: DataFrame, keyCols: Seq[String], timeCol: String,
      valueCol: String, tiebreakCols: Seq[String] = Nil,
      scale: Int = 100): DataFrame = {
    val byTime = Window.partitionBy(keyCols.map(col): _*)
      .orderBy((timeCol +: tiebreakCols).map(col): _*)
    val t = uMicros(col(timeCol))
    df.select(keyCols.map(col) :+
        round(col(valueCol) * scale).cast("long").as("__vs") :+
        (uMicros(lead(col(timeCol), 1).over(byTime)) - t)
          .as("__dt"): _*)
      .filter(col("__dt").isNotNull)
      .groupBy(keyCols.map(col): _*)
      .agg(round(sum(col("__vs") * col("__dt")).cast("double") /
          sum(col("__dt")).cast("double") / scale, 6).as("twap"),
        count(lit(1)).as("n_intervals"))
  }

  /** Within-group percentile rank of a (pre-rounded) score — the
    * calibration step that turns a raw quality score into "top X% of its
    * language". `percent_rank` over the rounded score: ties share a rank
    * on every engine, so no tiebreak column is needed for determinism.
    * Needs each group's total order — reporting/stratum grain, same
    * caveat as [[graft.engine.Relational.percentileSummary]].
    */
  def percentRankIn(df: DataFrame, groupCols: Seq[String],
      scoreCol: String, outCol: String = "pct_rank"): DataFrame =
    df.withColumn(outCol, round(percent_rank().over(
      Window.partitionBy(groupCols.map(col): _*)
        .orderBy(col(scoreCol))), 6))

  /** Lag/lead feature columns for model training: `value_lag{n}` /
    * `value_lead{n}` per key in time order — the feature-engineering
    * face of OP-WIN-1's array windows when the model wants flat columns.
    * Every offset shares the ONE (key, time) window sort: one exchange,
    * one sort, k projections.
    */
  def lagFeatures(df: DataFrame, keyCols: Seq[String], timeCol: String,
      valueCol: String, lags: Seq[Int], leads: Seq[Int] = Nil,
      tiebreakCols: Seq[String] = Nil): DataFrame = {
    val w = Window.partitionBy(keyCols.map(col): _*)
      .orderBy((timeCol +: tiebreakCols).map(col): _*)
    val withLags = lags.foldLeft(df)((d, n) =>
      d.withColumn(s"${valueCol}_lag$n", lag(col(valueCol), n).over(w)))
    leads.foldLeft(withLags)((d, n) =>
      d.withColumn(s"${valueCol}_lead$n", lead(col(valueCol), n).over(w)))
  }

  /** First-order Markov transition counts over each key's ordered event
    * stream: every consecutive (from_state → to_state) step, with the
    * transition probability in exact parts-per-million (integer floor
    * division of the count by the from-state's total outgoing steps — no
    * FP ratio, engine-exact). One lag window sharing the key partitioning
    * with everything else keyed this way, then a state-pair aggregate
    * (state-vocabulary-sized — tiny) whose from-state totals ride a
    * window over that aggregated frame. The behavioral-analytics face of
    * [[graft.engine.Relational.assocPairs]]: ordered steps, not
    * co-presence.
    */
  def transitionCounts(df: DataFrame, keyCol: String, timeCol: String,
      stateCol: String, tiebreakCols: Seq[String] = Nil): DataFrame = {
    val w = Window.partitionBy(col(keyCol))
      .orderBy((timeCol +: tiebreakCols).map(col): _*)
    val steps = df
      .withColumn("__from", lag(col(stateCol), 1).over(w))
      .filter(col("__from").isNotNull)
      .groupBy(col("__from").as("from_state"),
        col(stateCol).as("to_state"))
      .agg(count(lit(1)).as("n"))
    // from-state totals as a WINDOW over the aggregated (vocab²-sized)
    // frame, not a groupBy + join back — the join form would embed the
    // corpus lag-pass twice in the plan and scan the input twice
    steps
      .withColumn("__tot",
        sum(col("n")).over(Window.partitionBy(col("from_state"))))
      .select(col("from_state"), col("to_state"), col("n"),
        expr("(n * 1000000) DIV __tot").as("p_ppm"))
  }

  /** Cohort LTV curve: users grouped by their FIRST-activity day, the
    * cohort's cumulative revenue per user at each activity age — the
    * growth table that makes acquisition vintages comparable (day-30
    * LTV of the Jan-3 cohort vs the Jan-10 cohort) where raw revenue
    * curves just reflect cohort size. Exact integers end-to-end:
    * per-(cohort, age) revenue sums, an age-axis prefix sum, and the
    * per-user readout as micro floor division; cohort size counts
    * DISTINCT users once at cohort grain. Output per (cohort, age):
    * `(cohort_day, age, n_users, revenue, cum_revenue, ltv_micro)` —
    * ages only where the cohort had revenue (the curve's support).
    *
    * Scale: one user-grain aggregate (first day), one key-equi join
    * back to events, one (cohort, age)-grain aggregate, one prefix
    * sum over the bounded AGE axis per cohort.
    */
  def cohortLtv(df: DataFrame, userCol: String, tsCol: String,
      valCol: String): DataFrame = {
    val base = df.filter(col(userCol).isNotNull && col(tsCol).isNotNull &&
      col(valCol).isNotNull)
    val firstDay = base.groupBy(col(userCol).as("__u"))
      .agg(min(to_date(col(tsCol))).as("cohort_day"),
        count(lit(1)).as("__dummy"))
      .select(col("__u"), col("cohort_day"))
    val sized = firstDay.groupBy(col("cohort_day"))
      .agg(count(lit(1)).as("n_users"))
    val aged = base
      .join(firstDay, base(userCol) === firstDay("__u"))
      .withColumn("age", datediff(to_date(col(tsCol)), col("cohort_day")))
      .groupBy(col("cohort_day"), col("age"))
      .agg(sum(col(valCol).cast("long")).as("revenue"))
    val w = Window.partitionBy(col("cohort_day")).orderBy(col("age"))
      .rowsBetween(Window.unboundedPreceding, 0)
    aged
      .withColumn("cum_revenue", sum(col("revenue")).over(w))
      .join(broadcast(sized), Seq("cohort_day"))
      .select(col("cohort_day"), col("age").cast("int").as("age"),
        col("n_users").cast("long").as("n_users"), col("revenue"),
        col("cum_revenue"),
        expr("(cum_revenue * 1000000) DIV n_users").as("ltv_micro"))
  }

  /** In-sample top-1 accuracy of the Markov next-state predictor per
    * from-state, read directly off the [[transitionCounts]] matrix:
    * the argmax next-state (ties to the lexicographically smaller)
    * is the prediction, and its count over the row total IS the
    * in-sample hit rate — the one-number answer to "how predictable
    * is the next event", the baseline every sequence model must beat.
    * All-integer (`acc_micro` is a floor division); the IN-SAMPLE
    * caveat is the contract — fit, not generalization (hash-split by
    * q79 for the honest version). Output per from-state:
    * `(from_state, pred_next, n_total, n_correct, acc_micro)`.
    *
    * Scale: one top-1 window + one aggregate over the vocab²-sized
    * transition matrix.
    */
  def markovTopAccuracy(transitions: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("from_state"))
      .orderBy(col("n").desc, col("to_state"))
    val top = transitions
      .withColumn("__rk", row_number().over(w))
      .filter(col("__rk") === 1)
      .select(col("from_state"), col("to_state").as("pred_next"),
        col("n").as("n_correct"))
    val tot = transitions.groupBy(col("from_state"))
      .agg(sum(col("n")).as("n_total"))
    top.join(tot, Seq("from_state"))
      .select(col("from_state"), col("pred_next"), col("n_total"),
        col("n_correct"),
        expr("(n_correct * 1000000) DIV n_total").as("acc_micro"))
  }

  /** k-step absorption probability toward one `target` state over the
    * empirical [[transitionCounts]] chain — "what fraction of walks
    * starting at each state reach purchase within k hops", the
    * conversion-funnel readout an absorbing-Markov analysis gives that
    * raw funnel counts (q111) cannot (multi-path, loops, detours). The
    * recursion `a_k(s) = [s = target] ∨ Σ_t p(s,t)·a_{k−1}(t)` runs in
    * EXACT integer ppm: transition probabilities are the q156 floor
    * ppm, each round is one matrix-vector product with a single
    * `DIV 10⁶` floor (one floor per round is the documented contract;
    * the result lower-bounds the true truncated probability by < k
    * ppm). The target row is clamped to 10⁶ every round; states with
    * no outgoing mass stay 0; the in-sample caveat of q339 applies.
    *
    * Output: `(state, conv_ppm)` for every state in the chain.
    *
    * Scale: the chain lives at state² grain after transitionCounts'
    * one event scan — loop frames are alphabet-sized; rounds are k
    * joins of tiny frames (pinned per round, the pageRankPpm
    * lineage discipline).
    */
  /** Shared loop base of the ppm Markov-chain family ([[absorptionPpm]],
    * [[stationaryPpm]], [[markovEntropyRate]]): the transition matrix
    * pinned once (one job — cuts the event-scan window off
    * every round's plan, the r13 pageRankPpm lineage discipline) and the
    * state axis derived from it in one explode pass (the r13 single-pass
    * idiom — the union form read `tr` twice).
    */
  private def chainBase(df: DataFrame, keyCol: String, timeCol: String,
      stateCol: String, tiebreakCols: Seq[String])
      : (DataFrame, DataFrame) = {
    val tr = Pins.pin(
      transitionCounts(df, keyCol, timeCol, stateCol, tiebreakCols)
        .select(col("from_state"), col("to_state"), col("p_ppm")))
    val states = Pins.pin(tr.select(
        explode(array(col("from_state"), col("to_state"))).as("state"))
      .distinct())
    (tr, states)
  }

  def absorptionPpm(df: DataFrame, keyCol: String, timeCol: String,
      stateCol: String, tiebreakCols: Seq[String], target: String,
      steps: Int): DataFrame = {
    require(steps >= 1, "steps must be positive")
    val (tr, states) = chainBase(df, keyCol, timeCol, stateCol,
      tiebreakCols)
    // The loop frames are ALPHABET-sized at any input scale (the documented
    // contract above), so each round's vector side rides a broadcast into
    // the tr join (guide §3.1: the big side is never exchanged) and the
    // round result broadcasts into the states left join — zero exchanges
    // of tr per round, and with only `steps` rounds the plan grows
    // linearly, so the per-round pin jobs (r12 shape: one full
    // QueryExecution + one pinned RDD leaked per round) are gone;
    // the whole recursion is ONE lazily-planned query.
    var a = states.withColumn("a",
      when(col("state") === target, lit(1000000L)).otherwise(lit(0L)))
    for (_ <- 1 to steps) {
      val inflow = tr
        .join(broadcast(a.select(col("state").as("to_state"), col("a"))),
          Seq("to_state"))
        .groupBy(col("from_state").as("state"))
        .agg(sum(col("p_ppm") * col("a")).as("__s"))
      a = states.join(broadcast(inflow), Seq("state"), "left")
        .withColumn("a", when(col("state") === target, lit(1000000L))
          .otherwise(expr("coalesce(__s, CAST(0 AS BIGINT)) DIV 1000000")))
        .select(col("state"), col("a"))
    }
    a.select(col("state"), col("a").as("conv_ppm"))
  }

  /** k-round power approximation of the chain's STATIONARY distribution
    * — where session traffic settles under the empirical
    * [[transitionCounts]] kernel, the long-run load statement behind
    * staffing (q340) and mix (q200) decisions. `π_k(t) =
    * Σ_s π_{k−1}(s)·p(s,t) DIV 10⁶` in exact integer ppm from the
    * uniform start `10⁶ DIV |S|`; floor leakage (< |S| ppm per round)
    * is the price of engine-exactness and is NOT renormalized — the
    * documented contract, so Σπ drifts a few ppm under 10⁶. States
    * without outgoing mass absorb (their inflow stays put only if
    * self-looped; the empirical chain from q156 has no explicit sink
    * handling — in-sample semantics).
    *
    * Output: `(state, pi_ppm)`.
    *
    * Scale: identical alphabet-sized loop frames to [[absorptionPpm]].
    */
  def stationaryPpm(df: DataFrame, keyCol: String, timeCol: String,
      stateCol: String, tiebreakCols: Seq[String],
      steps: Int): DataFrame = {
    require(steps >= 1, "steps must be positive")
    val (tr, states) = chainBase(df, keyCol, timeCol, stateCol,
      tiebreakCols)
    stationaryFromChain(tr, states, steps)
  }

  /** Power-iterate over an already-checkpointed chain — the loop body of
    * [[stationaryPpm]], shared with [[markovEntropyRate]] so the entropy
    * composition scans the event stream ONCE instead of twice. Same
    * broadcast/lazy-round posture as [[absorptionPpm]] (alphabet-sized
    * loop frames; zero tr exchanges per round; one final query).
    */
  private def stationaryFromChain(tr: DataFrame, states: DataFrame,
      steps: Int): DataFrame = {
    val nRow = states.agg(count(lit(1)).as("__n"))
    var pi = states.crossJoin(broadcast(nRow))
      .select(col("state"), expr("1000000L DIV __n").as("pi"))
    for (_ <- 1 to steps) {
      val flow = tr
        .join(broadcast(pi.select(col("state").as("from_state"), col("pi"))),
          Seq("from_state"))
        .groupBy(col("to_state").as("state"))
        .agg(sum(col("p_ppm") * col("pi")).as("__s"))
      pi = states.join(broadcast(flow), Seq("state"), "left")
        .select(col("state"),
          expr("coalesce(__s, CAST(0 AS BIGINT)) DIV 1000000").as("pi"))
    }
    pi.select(col("state"), col("pi").as("pi_ppm"))
  }

  /** Entropy rate of the empirical first-order chain (Shannon 1948,
    * `H = −Σ_i π_i Σ_j p_ij ln p_ij` nats/step): how predictable the
    * NEXT event is given the current one — the single number that says
    * whether a session stream is worth a sequence model at all
    * (H → 0: deterministic funnels; H → ln k: the chain adds nothing
    * over the marginal). Composes the [[transitionCounts]] ppm matrix
    * with the [[stationaryPpm]] power-iterate (same `steps`
    * convention); per-cell conditional-entropy terms are rounded to
    * micro-nats BEFORE summing (`round(p_ppm·ln(10⁶/p_ppm))` — the
    * per-term rule), the per-state sums are exact BIGINTs, and the
    * rate contribution weights each state's entropy by its stationary
    * micro (`round(π_ppm·h_i/10⁶)`). Output per state:
    * `(state, pi_ppm, h_state_micro, entropy_rate_micro)` — the total
    * repeated on the bounded state frame.
    *
    * Scale: everything after [[transitionCounts]] is state²-grain —
    * a dimension axis, independent of the event volume.
    */
  def markovEntropyRate(df: DataFrame, keyCol: String, timeCol: String,
      stateCol: String, tiebreakCols: Seq[String],
      steps: Int): DataFrame = {
    // one chainBase call: tr is the pinned matrix, so the entropy
    // branch and the stationary iterate share ONE event scan (the
    // previous form called transitionCounts twice — two full scans+windows
    // of the input — because stationaryPpm rebuilt the chain internally)
    val (tr, states) = chainBase(df, keyCol, timeCol, stateCol,
      tiebreakCols)
    val pi = stationaryFromChain(tr, states, steps)
    val hState = tr.filter(col("p_ppm") > 0)
      .withColumn("__t", expr(
        "CAST(round(CAST(p_ppm AS DOUBLE) " +
          "* ln(1000000.0 / p_ppm)) AS BIGINT)"))
      .groupBy(col("from_state").as("state"))
      .agg(sum(col("__t")).as("h_state_micro"))
    // perState feeds BOTH the grand-total aggregate and the final
    // readout — pinning the (tiny, states-grain) frame
    // keeps the 6-round iterate's plan from executing once per reference
    val perState = Pins.pin(pi.join(hState, Seq("state"), "left")
      .withColumn("h_state_micro",
        coalesce(col("h_state_micro"), lit(0L))))
    val total = perState.agg(coalesce(sum(expr(
        "CAST(round(CAST(pi_ppm AS DOUBLE) * h_state_micro / 1000000) " +
          "AS BIGINT)")), lit(0L)).as("entropy_rate_micro"))
    perState.crossJoin(broadcast(total))
      .select(col("state"), col("pi_ppm"), col("h_state_micro"),
        col("entropy_rate_micro"))
  }

  /** Exact running total per key (ledger/balance semantics): cumulative
    * sum in scaled integer units so the partial order of additions can
    * never change the result — a float cumsum re-run after a partition
    * retry could emit different low bits row by row; an integer one
    * cannot. One (key, time) window, running state only; the division
    * back to units happens per row at the end.
    */
  def runningTotal(df: DataFrame, keyCols: Seq[String], timeCol: String,
      valueCol: String, tiebreakCols: Seq[String] = Nil,
      scale: Int = 100): DataFrame = {
    val w = Window.partitionBy(keyCols.map(col): _*)
      .orderBy((timeCol +: tiebreakCols).map(col): _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.withColumn("running_value",
      round(sum(round(col(valueCol) * scale).cast("long")).over(w)
        .cast("double") / scale, 6))
  }

  /** Regularize to a dense hourly grid + linear gap fill — the composed
    * resample-then-gapfill shape of the reference's central flow
    * (`dataset.py` resample + `core.py` gap fill), generalized to any
    * keyed event stream: per key, every hour between the first and last
    * observation exists in the output; hours with observations carry
    * their (rounded) mean, empty hours get the time-weighted blend of
    * the nearest observed hours ([[interpolateLinear]]), leading/
    * trailing holes stay null. The grid explode is bounded by each key's
    * time SPAN (never global calendar × keys), and the aggregate, join,
    * and window all share the key partitioning.
    */
  def resampleWithInterpolation(df: DataFrame, keyCols: Seq[String],
      timeCol: String, valueCol: String): DataFrame = {
    val hour = date_trunc("hour", col(timeCol))
    val hourly = df.groupBy(keyCols.map(col) :+ hour.as("ts"): _*)
      .agg(round(avg(col(valueCol)), 6).as("v_mean"))
    // r14: the key span comes off the HOURLY frame, not a second raw
    // scan — min/max of the truncated hour over the (key, hour) grain is
    // identical to min/max over the raw rows, the span aggregate's input
    // shrinks from event grain to hour grain, and both references to
    // `hourly` share one exchange (ReuseExchange), so the source is
    // scanned ONCE (guide §2.3/§2.4).
    // fan the whole interpolation pipeline out on the key axis (r14, the
    // q210 fanOutBy class): the window chain below is CPU-bound per row
    // while its shuffled bytes are tiny, so AQE's byte-targeted
    // coalescing collapses the span aggregate's exchange to ONE task and
    // the grid + windows run single-threaded (measured 6.4 s serial at
    // sf0.1). The pin must sit HERE, below the span aggregate: `hourly`
    // is (keys, ts)-partitioned, so this repartition is a REAL
    // non-elidable exchange, and the aggregate, broadcast join, and both
    // windows all inherit its pinned key partitioning (a fan-out ABOVE
    // the aggregate is partitioning-satisfied and silently removed —
    // plan-verified). Gauged on the raw scan: any realistically
    // partitioned input makes this a no-op and keeps AQE in charge.
    val spread = Relational.fanOutBy(hourly, keyCols.map(col), df)
    val grid = spread.groupBy(keyCols.map(col): _*)
      .agg(min(col("ts")).as("__t0"), max(col("ts")).as("__t1"))
      .select(keyCols.map(col) :+ explode(sequence(col("__t0"),
        col("__t1"), expr("INTERVAL 1 HOUR"))).as("ts"): _*)
    // Interpolate in 10⁻⁶-SCALED INTEGER space, not via round(blend, 6):
    // blends of 6-decimal means land exactly on 7th-decimal halfways
    // (dyadic grid fractions × rounded means), where fractional rounding
    // diverges across engines — a double whose shortest decimal prints
    // as the halfway rounds up under decimal-string half-up and down
    // under scaled-binary rounding. Integer-target rounding has no such
    // trap: z.5 is exactly representable, so identical input doubles
    // round identically everywhere (the q124 money lesson, one level
    // deeper).
    val joined = grid.join(hourly, keyCols :+ "ts", "left")
    val byTime = Window.partitionBy(keyCols.map(col): _*)
      .orderBy(col("ts"))
    val byTimeDesc = Window.partitionBy(keyCols.map(col): _*)
      .orderBy(col("ts").desc)
    val obs = when(col("v_mean").isNotNull,
      struct(uMicros(col("ts")).as("t"),
        round(col("v_mean") * 1e6).as("v6")))
    // growing frames only — see [[interpolateLinear]]'s O(n²) note
    val prev = last(obs, ignoreNulls = true)
      .over(byTime.rowsBetween(Window.unboundedPreceding, -1))
    val nxt = last(obs, ignoreNulls = true)
      .over(byTimeDesc.rowsBetween(Window.unboundedPreceding, -1))
    val t = uMicros(col("ts"))
    val blend6 = round(col("__p.v6") + (col("__n.v6") - col("__p.v6")) *
      (t - col("__p.t")).cast("double") /
      (col("__n.t") - col("__p.t")).cast("double"))
    joined.withColumn("__p", prev).withColumn("__n", nxt)
      .withColumn("value_interp",
        when(col("v_mean").isNotNull, col("v_mean"))
          .otherwise(blend6 / 1e6))
      .drop("__p", "__n")
  }

  /** OHLC bars: per (key, time-bucket) the opening/closing values (first/
    * last by a TOTAL (time, tiebreak) order) plus high/low/count. The two
    * opposite-direction row_numbers share one (key, bar) exchange —
    * Catalyst plans one shuffle, two in-partition sorts — and the final
    * aggregate reuses the same partitioning. No min_by-on-composite
    * trickery: an explicit rank keeps the open/close pick deterministic
    * under timestamp ties on any engine.
    */
  def ohlcBars(df: DataFrame, keyCols: Seq[String], timeCol: String,
      valueCol: String, tiebreakCols: Seq[String],
      bucket: String = "hour"): DataFrame = {
    val part = (keyCols.map(col) :+ col("__bar"))
    val ord = (timeCol +: tiebreakCols).map(col)
    val ranked = df
      .withColumn("__bar", date_trunc(bucket, col(timeCol)))
      .withColumn("__ra", row_number().over(
        Window.partitionBy(part: _*).orderBy(ord: _*)))
      .withColumn("__rd", row_number().over(
        Window.partitionBy(part: _*).orderBy(ord.map(_.desc): _*)))
    ranked.groupBy(keyCols.map(col) :+ col("__bar").as("bar"): _*)
      .agg(max(when(col("__ra") === 1, col(valueCol))).as("open"),
        max(col(valueCol)).as("high"),
        min(col(valueCol)).as("low"),
        max(when(col("__rd") === 1, col(valueCol))).as("close"),
        count(lit(1)).as("n_events"))
  }

  /** Daily reach curve: per day, the active key count, the first-seen
    * (new) key count, and the cumulative distinct reach. ONE fact scan:
    * distinct (key, day) projection → a key-partitioned `min(day)`
    * window tags each activity row with its key's first day (no second
    * aggregate-and-join pass over the fact table) → one day-grain
    * aggregate. The final cumsum windows over the DAY grain, whose
    * cardinality is calendar-sized, so its single partition is a
    * non-issue at any data scale.
    */
  def dailyReach(df: DataFrame, keyCol: String, timeCol: String): DataFrame = {
    val active = df
      .select(col(keyCol), date_trunc("day", col(timeCol)).as("day"))
      .distinct()
    active
      .withColumn("__first_day",
        min(col("day")).over(Window.partitionBy(col(keyCol))))
      .groupBy(col("day"))
      .agg(count(lit(1)).as("n_active"),
        count(when(col("day") === col("__first_day"), 1)).as("n_new"))
      .withColumn("n_cum", sum(col("n_new")).over(Window.orderBy(col("day"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
  }

  /** Session-level rollup on top of [[sessionize]]: bounds, event count,
    * and exact µs duration per (key, session). The aggregate reuses the
    * window's (key) partitioning — Catalyst plans one exchange for both.
    */
  def sessionStats(df: DataFrame, keyCol: String, timeCol: String,
      gap: Column): DataFrame =
    sessionize(df, keyCol, timeCol, gap)
      .groupBy(col(keyCol), col("session_idx"))
      .agg(min(col(timeCol)).as("session_start"),
        max(col(timeCol)).as("session_end"),
        count(lit(1)).as("n_events"),
        (uMicros(max(col(timeCol))) - uMicros(min(col(timeCol))))
          .as("duration_us"))

  /** Ordered funnel: for each key, the FIRST time each step completes
    * given the previous step already had (t₁ = first step-1 event,
    * tᵢ = first step-i event at-or-after tᵢ₋₁). A key that stalls at step
    * i has null tᵢ₊₁.. columns; `completed` = 1 iff the last step fired
    * within `windowMs` of t₁.
    *
    * Scale shape: NOT a per-user sorted scan — each step is one
    * conditional min-aggregate keyed on the funnel key, joined to the
    * previous step's frame on that same key. Every shuffle in the chain
    * uses the one key partitioning (Catalyst reuses it; the per-step
    * frames are one row per qualifying key, monotonically shrinking), so
    * a 3-step funnel over 100 TB is 3 key-partitioned aggregates over a
    * filtered event stream — no window sort, no state accumulation.
    */
  def funnel(df: DataFrame, keyCol: String, timeCol: String,
      stepCol: String, steps: Seq[String], windowMs: Long): DataFrame = {
    require(steps.nonEmpty, "funnel needs at least one step")
    val first = df.filter(col(stepCol) === steps.head)
      .groupBy(col(keyCol)).agg(min(col(timeCol)).as("t1"))
    val chained = steps.zipWithIndex.drop(1).foldLeft(first) {
      case (acc, (step, i)) =>
        val next = df.filter(col(stepCol) === step)
          .select(col(keyCol), col(timeCol))
          .join(acc.select(col(keyCol), col(s"t$i")), Seq(keyCol))
          .filter(col(timeCol) >= col(s"t$i"))
          .groupBy(col(keyCol)).agg(min(col(timeCol)).as(s"t${i + 1}"))
        acc.join(next, Seq(keyCol), "left")
    }
    val last = s"t${steps.size}"
    chained.withColumn("completed",
      when(col(last).isNotNull &&
        uMicros(col(last)) - uMicros(col("t1")) <= windowMs * 1000L,
        1).otherwise(0))
  }

  /** Linear gap interpolation per key: null `valueCol` rows get the
    * time-weighted linear blend of the nearest non-null neighbours on the
    * (key, time) ordering; rows with no neighbour on one side stay null
    * (no extrapolation — matching the conservative gap-fill posture of
    * the reference's worklist split, `processor.py:89-109`, where edge
    * gaps go to the model, not arithmetic).
    *
    * Scale shape: both neighbour lookups are running-state window
    * functions (`last ignoreNulls` backward, `first ignoreNulls`
    * forward) over the SAME (key, time) window sort, so Catalyst plans
    * one exchange + one sort and streams each partition with O(1) state
    * — no self-join against the non-null subset, which is the naive
    * two-shuffle form. `tiebreakCols` must make the ordering total when
    * the time column can tie within a key.
    *
    * Both neighbour lookups are GROWING frames (`unboundedPreceding..-1`
    * over the forward and the REVERSED ordering), which Spark evaluates
    * incrementally in O(n) per partition. The tempting direct form for
    * the next neighbour — `first ignoreNulls over (1,
    * unboundedFollowing)` — is a shrinking-from-above frame that Spark
    * re-scans per row: O(n²) per partition, measured 19 s of a 20 s
    * query on 720-row partitions before this was rewritten.
    */
  def interpolateLinear(df: DataFrame, keyCols: Seq[String], timeCol: String,
      valueCol: String, tiebreakCols: Seq[String] = Nil,
      outCol: String = "value_interp"): DataFrame = {
    val byTime = Window.partitionBy(keyCols.map(col): _*)
      .orderBy((timeCol +: tiebreakCols).map(col): _*)
    val byTimeDesc = Window.partitionBy(keyCols.map(col): _*)
      .orderBy((timeCol +: tiebreakCols).map(col(_).desc): _*)
    // Pack (t, v) as ONE struct per observed row so the neighbour's time
    // and value can never come from different rows; the struct is null
    // exactly when the value is, which is what ignoreNulls skips.
    val obs = when(col(valueCol).isNotNull,
      struct(uMicros(col(timeCol)).as("t"), col(valueCol).as("v")))
    val prev = last(obs, ignoreNulls = true)
      .over(byTime.rowsBetween(Window.unboundedPreceding, -1))
    // next-after in forward order == last-before in exact reverse order
    val nxt = last(obs, ignoreNulls = true)
      .over(byTimeDesc.rowsBetween(Window.unboundedPreceding, -1))
    val t = uMicros(col(timeCol))
    val blend = col("__p.v") + (col("__n.v") - col("__p.v")) *
      (t - col("__p.t")).cast("double") /
      (col("__n.t") - col("__p.t")).cast("double")
    df.withColumn("__p", prev).withColumn("__n", nxt)
      .withColumn(outCol, when(col(valueCol).isNotNull, col(valueCol))
        .otherwise(round(blend, 6)))
      .drop("__p", "__n")
  }

  /** Top event-type paths: sessionize on `gap`, keep each session's first
    * `maxLen` events in `(time, tiebreak)` order, join their types with
    * `>`, and rank the `topK` most frequent paths (count desc, path asc —
    * a total order, so ranks are engine-stable). The collected per-session
    * structs are sorted by `(time, tiebreak, type)` INSIDE the aggregate,
    * so the path string never depends on shuffle arrival order.
    *
    * CONTRACT: `typeCol` is expected non-null (null types are skipped by
    * the join, and a session of ONLY null types yields the empty-string
    * path, where SQL `string_agg` would yield NULL) — filter or coalesce
    * null types upstream if they exist.
    *
    * Scale: the heavy frames are one session window pass + one
    * (key, session)-grain aggregate; the path-count table is
    * distinct-path-sized and the final orderBy+limit is a TakeOrdered (no
    * global sort), with the rank window running only over the topK
    * survivors.
    */
  def topSessionPaths(df: DataFrame, keyCol: String, timeCol: String,
      typeCol: String, tiebreakCol: String, gap: Column, maxLen: Int,
      topK: Int): DataFrame = {
    val sess = sessionize(df, keyCol, timeCol, gap)
    val w = Window.partitionBy(col(keyCol), col("session_idx"))
      .orderBy(col(timeCol), col(tiebreakCol))
    val paths = sess.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= maxLen)
      .groupBy(col(keyCol), col("session_idx"))
      .agg(array_join(transform(array_sort(collect_list(struct(
        col(timeCol).as("t"), col(tiebreakCol).as("k"),
        col(typeCol).as("e")))), x => x.getField("e")), ">").as("path"))
    val order = Seq(col("n").desc, col("path").asc_nulls_last)
    paths.groupBy("path").agg(count(lit(1)).as("n"))
      .orderBy(order: _*).limit(topK)
      .withColumn("rank",
        row_number().over(Window.orderBy(order: _*)).cast("int"))
  }

  /** Rolling LOWER median of `valCol` over the trailing `nRows` rows per
    * key (in `orderCols` order — pass a tiebreak column; a tied frame
    * boundary would make the window contents engine-dependent). The frame
    * is collected and sorted per row, so this is O(nRows·log nRows) per
    * row — correct posture for the small fixed windows the operator is
    * for (7/30-day style smoothing), NOT for unbounded frames. Nulls are
    * excluded from the frame; an all-null frame yields a null median.
    */
  def rollingMedian(df: DataFrame, keyCols: Seq[String],
      orderCols: Seq[String], valCol: String, nRows: Int,
      outCol: String = "roll_med"): DataFrame = {
    require(nRows >= 1, "window must span at least the current row")
    val w = Window.partitionBy(keyCols.map(col): _*)
      .orderBy(orderCols.map(col): _*)
      .rowsBetween(-(nRows - 1L), Window.currentRow)
    val arr = array_sort(collect_list(col(valCol)).over(w))
    df.withColumn(outCol, when(size(arr) > 0,
      element_at(arr, ((size(arr) + 1) / 2).cast("int"))))
  }

  /** Exponentially weighted moving average over the trailing `nRows`
    * rows per key, with a RATIONAL smoothing factor
    * `α = alphaNum/alphaDen` kept exact: with `p = alphaDen − alphaNum`
    * and `q = alphaDen`, the weight of the value `i` steps back is
    * `(p/q)^i`, and scaling every weight by `q^(nRows−1)` makes both the
    * weighted sum and the weight total EXACT integers
    * (pandas-`adjust=true` normalization — the truncated weight tail is
    * renormalized away, so the first rows of a series are unbiased).
    * Only the final ratio is floating, rounded 6 dp. The integer weights
    * `p^i·q^(nRows−1−i)` must stay double-exact (< 2⁵³) for the oracle
    * lattice to agree — enforced, which bounds `nRows` at ~27 for
    * `q = 4`. Rows with a null value get a null ewma and
    * must be pre-filtered from the series (a null inside the window
    * would poison the prefix sums, so a null INSIDE the frame is a
    * contract violation, not a convention).
    *
    * CLOSED FORM, O(1) per row (the [[cusum]] discipline): the naive
    * frame-fold is O(nRows) per row. Instead the series is cut into
    * tumbling blocks of `w = nRows` rows, so any trailing window spans
    * at most two blocks. With in-block offset `o`, `e = (w−1)−o`, and
    * the weight table `CE(o) = p^e·q^o`, stage `c = x·CE(o)` (head) and
    * `d = x·CE(o−1)` for `o ≥ 1` (tail); then for each row
    *   `num·CE(o) = PrefixC·q^(w−1) + SuffixD·p^(w−1)`
    * where PrefixC is the in-block running sum of `c` and SuffixD is
    * the previous block's suffix sum of `d` from offset `o+1` — fetched
    * as `lag(F, w−1)` of the in-block suffix-inclusive scan `F`, which
    * lands exactly on (block−1, offset o+1) whenever o < w−1 (a row at
    * o = w−1 has a full in-block window and no tail). Every `c` with
    * `o_s ≤ o_t` carries `p^(e_s) ⋜ p^(e_t)` and every `d` with
    * `o_s > o_t` carries `q^(o_s−1) ⋜ q^(o_t)`, so the final `div` by
    * `CE(o)` is exact integer division and the recovered numerator is
    * IDENTICAL to the naive fold's — the oracle and the output lattice
    * are unchanged. Denominator: `Σ p^i·q^(w−1−i)` over `m = min(rn+1,
    * w)` terms, a per-`m` literal table. Two block-scoped window scans +
    * one lag that all reuse the per-key exchange (HashPartitioning on
    * the keys satisfies the (keys, block) clustering), no per-row array.
    * The recovered numerator must fit a long — subsumed by the < 2⁵³
    * double-exactness the oracle lattice already requires.
    */
  def ewma(df: DataFrame, keyCols: Seq[String], orderCols: Seq[String],
      valCol: String, nRows: Int, alphaNum: Int, alphaDen: Int,
      outCol: String = "ewma"): DataFrame = {
    require(nRows >= 1, "window must span at least the current row")
    require(alphaNum > 0 && alphaNum < alphaDen, "need 0 < alpha < 1")
    require(math.pow(alphaDen, nRows - 1.0) < math.pow(2, 52),
      s"q^(nRows-1) must stay double-exact; shrink nRows or alphaDen")
    val d38 = "decimal(38,0)"
    val p = alphaDen - alphaNum
    val q = alphaDen
    val w = nRows
    def dec(b: BigInt): Column =
      lit(new java.math.BigDecimal(b.bigInteger)).cast(d38)
    // CE(o) = p^(w−1−o) · q^o — the weight of the element o slots into a
    // block (equivalently: the frame weight at distance (w−1)−o).
    val ceTab = (0 until w).map(o =>
      BigInt(p).pow(w - 1 - o) * BigInt(q).pow(o))
    val ceArr = array(ceTab.map(dec): _*)
    // DEN(m) = Σ_{i=0..m−1} p^i·q^(w−1−i): the warmup-renormalized
    // weight total for an m-row frame.
    val denArr = array((1 to w).map(m =>
      dec((0 until m).map(i =>
        BigInt(p).pow(i) * BigInt(q).pow(w - 1 - i)).sum)): _*)
    val wk = Window.partitionBy(keyCols.map(col): _*)
      .orderBy(orderCols.map(col): _*)
    val wb = Window.partitionBy((keyCols :+ "__blk").map(col): _*)
      .orderBy(orderCols.map(col): _*)
    // fanOutBy on the key axis (r14, the q154/q210 class): the decimal
    // window chain below is CPU-bound per row over tiny shuffled bytes,
    // so AQE's byte-targeted coalescing ran the whole series single-task
    // (profiled 1.11 s serial at sf0.1/32c). The pinned key exchange
    // replaces the windows' own ENSURE_REQUIREMENTS exchange (both wk
    // and wb cluster on a superset of the keys), so no exchange is
    // added — and any realistically partitioned input gauges as healthy
    // and keeps AQE in charge.
    val staged = Relational.fanOutBy(df, keyCols.map(col))
      .withColumn("__rn", row_number().over(wk).cast("long") - 1L)
      .withColumn("__blk", expr(s"__rn div $w"))
      .withColumn("__o", (col("__rn") % w).cast("int"))
      .withColumn("__c",
        col(valCol).cast(d38) * element_at(ceArr, col("__o") + 1))
      .withColumn("__d", when(col("__o") > 0,
        col(valCol).cast(d38) * element_at(ceArr, col("__o")))
        .otherwise(lit(0).cast(d38)))
    val prefixC =
      sum(col("__c")).over(wb.rowsBetween(Window.unboundedPreceding, 0))
    val suffD =
      sum(col("__d")).over(wb.rowsBetween(0, Window.unboundedFollowing))
    staged
      .withColumn("__f", suffD)
      .withColumn("__tail", when(col("__o") === w - 1, lit(0).cast(d38))
        .otherwise(coalesce(lag(col("__f"), w - 1).over(wk),
          lit(0).cast(d38))))
      .withColumn("__nsc", prefixC * dec(BigInt(q).pow(w - 1)) +
        col("__tail") * dec(BigInt(p).pow(w - 1)))
      .withColumn("__sc", element_at(ceArr, col("__o") + 1))
      .withColumn("__num", expr("__nsc div __sc"))
      .withColumn("__den", element_at(denArr,
        least(col("__rn") + 1L, lit(w.toLong)).cast("int")))
      .withColumn(outCol, when(col(valCol).isNotNull,
        round(col("__num").cast("double") / col("__den").cast("double"), 6)))
      .drop("__rn", "__blk", "__o", "__c", "__d", "__f", "__tail",
        "__sc", "__nsc", "__num", "__den")
  }

  /** Two-sided CUSUM change detector per key, in closed window form: the
    * recursion `S⁺ₜ = max(0, S⁺ₜ₋₁ + (xₜ − target − slack))` has the
    * exact prefix-sum solution `S⁺ₜ = aₜ − min(0, min_{j≤t} aⱼ)` with
    * `aₜ = Pₜ − slack·t` over the running sum `Pₜ = Σ(xᵢ − target)`
    * (and mirrored `S⁻ₜ = max(0, max_{j≤t} bⱼ) − bₜ`,
    * `bₜ = Pₜ + slack·t`), so the stateful detector becomes two window
    * passes sharing one sort — no recursion, no UDAF, engine-exact
    * integer arithmetic throughout (`valCol` must be integral; the `0`
    * terms are the empty-prefix case the plain running min misses).
    * Emits per row: the running sum, both CUSUM sides, and alarm flags
    * against `threshold`. Null values are rejected by precondition
    * (a null would silently freeze the prefix); filter first.
    */
  def cusum(df: DataFrame, keyCols: Seq[String], orderCols: Seq[String],
      valCol: String, target: Long, slack: Long,
      threshold: Long): DataFrame = {
    require(slack >= 0 && threshold > 0, "slack >= 0 and threshold > 0")
    val w = Window.partitionBy(keyCols.map(col): _*)
      .orderBy(orderCols.map(col): _*)
    val run = w.rowsBetween(Window.unboundedPreceding, 0)
    val staged = df
      .withColumn("__rn", row_number().over(w).cast("long"))
      .withColumn("__p", sum(col(valCol) - target).over(run))
      .withColumn("__a", col("__p") - lit(slack) * col("__rn"))
      .withColumn("__b", col("__p") + lit(slack) * col("__rn"))
    staged
      .withColumn("cusum_pos",
        col("__a") - least(lit(0L), min(col("__a")).over(run)))
      .withColumn("cusum_neg",
        greatest(lit(0L), max(col("__b")).over(run)) - col("__b"))
      .withColumn("alarm_pos", (col("cusum_pos") > threshold).cast("boolean"))
      .withColumn("alarm_neg", (col("cusum_neg") > threshold).cast("boolean"))
      .drop("__rn", "__a", "__b")
      .withColumnRenamed("__p", "run_sum")
  }

  /** Maximum drawdown per key: the largest peak-to-trough drop
    * `max_t (max_{j≤t} xⱼ − xₜ)` of the series in `orderCols` order —
    * the standard worst-regression summary for a monitored metric
    * (revenue, throughput, score). One running-max window + one
    * aggregate, integer-exact for integral `valCol`. Output per key:
    * `(keys…, n, peak, max_drawdown)`.
    */
  def maxDrawdown(df: DataFrame, keyCols: Seq[String],
      orderCols: Seq[String], valCol: String): DataFrame = {
    val w = Window.partitionBy(keyCols.map(col): _*)
      .orderBy(orderCols.map(col): _*)
      .rowsBetween(Window.unboundedPreceding, 0)
    df.filter(col(valCol).isNotNull)
      .withColumn("__dd", max(col(valCol)).over(w) - col(valCol))
      .groupBy(keyCols.map(col): _*)
      .agg(count(lit(1)).as("n"), max(col(valCol)).as("peak"),
        max(col("__dd")).as("max_drawdown"))
  }

  /** Lag-`k` autocorrelation per key: Pearson correlation of the paired
    * series `(xₜ, xₜ₋ₖ)` in `orderCols` order —
    * `r = (nΣxy − ΣxΣy) / √((nΣx² − (Σx)²)(nΣy² − (Σy)²))`, the
    * same integer-exact sufficient-statistics discipline as
    * `Relational.groupRegression`: every sum accumulates in
    * DECIMAL(38,0), both variance discriminants are exact (a constant
    * side is an exact zero → null r, never a float-residue explosion),
    * and only the final ratio is floating, rounded 6 dp. Pairs with a
    * null on either side are dropped (SQL corr convention). One lag
    * window + one aggregate; output is key-grain
    * `(keys…, n_pairs, acf)`.
    */
  def autocorr(df: DataFrame, keyCols: Seq[String], orderCols: Seq[String],
      valCol: String, lagK: Int): DataFrame = {
    require(lagK >= 1, "lag must be positive")
    val d38 = "decimal(38,0)"
    val w = Window.partitionBy(keyCols.map(col): _*)
      .orderBy(orderCols.map(col): _*)
    val paired = df
      .withColumn("__y", lag(col(valCol), lagK).over(w))
      .filter(col(valCol).isNotNull && col("__y").isNotNull)
      .select(keyCols.map(col) :+ col(valCol).cast(d38).as("__x") :+
        col("__y").cast(d38).as("__y"): _*)
    paired.groupBy(keyCols.map(col): _*)
      .agg(count(lit(1)).as("n_pairs"),
        sum(col("__x")).as("__sx"), sum(col("__y")).as("__sy"),
        sum(col("__x") * col("__y")).as("__sxy"),
        sum(col("__x") * col("__x")).as("__sxx"),
        sum(col("__y") * col("__y")).as("__syy"))
      .withColumn("__n", col("n_pairs").cast(d38))
      .withColumn("__dx", col("__n") * col("__sxx") - col("__sx") * col("__sx"))
      .withColumn("__dy", col("__n") * col("__syy") - col("__sy") * col("__sy"))
      .withColumn("acf", when(col("__dx") > 0 && col("__dy") > 0,
        round((col("__n") * col("__sxy") - col("__sx") * col("__sy"))
          .cast("double") /
          sqrt(col("__dx").cast("double") * col("__dy").cast("double")), 6)))
      .select((keyCols.map(col) :+ col("n_pairs") :+ col("acf")): _*)
  }

  /** Goh–Barabási burstiness index (Goh & Barabási 2008) of
    * inter-arrival times per group: `B = (σ − μ)/(σ + μ)` of the gap
    * distribution — −1 is a metronome, 0 is Poisson, → 1 is bursty;
    * the one number that says whether event volume can be capacity-
    * planned with Poisson math (the [[graft.engine.Relational.hurstRs]]
    * sibling at the inter-arrival grain). Gaps are exact integer µs
    * from one key-ordered lag window; with exact `S = Σg, Q = Σg²`,
    * `B = (√D − S)/(√D + S)` where `D = nQ − S²` (both n-scaled, the
    * scale cancels) — one sqrt, one ratio, 6 dp. Output per group:
    * `(group, n_gaps, mean_gap_us, b_index)`.
    *
    * Scale: one (key)-windowed lag + one group-grain aggregate.
    */
  def interarrivalBurstiness(df: DataFrame, groupCol: String,
      keyCol: String, timeCol: String,
      tiebreakCols: Seq[String]): DataFrame = {
    val d38 = "decimal(38,0)"
    val w = Window.partitionBy(col(groupCol), col(keyCol))
      .orderBy((timeCol +: tiebreakCols).map(col): _*)
    val gaps = df.filter(col(timeCol).isNotNull)
      .withColumn("__prev", lag(uMicros(col(timeCol)), 1).over(w))
      .filter(col("__prev").isNotNull)
      .select(col(groupCol).as("group"),
        (uMicros(col(timeCol)) - col("__prev")).as("__g"))
    gaps.groupBy(col("group"))
      .agg(count(lit(1)).as("n_gaps"), sum(col("__g")).as("__S"),
        sum(col("__g").cast(d38) * col("__g")).as("__Q"))
      .withColumn("__D", col("n_gaps").cast(d38) * col("__Q")
        - col("__S").cast(d38) * col("__S"))
      .withColumn("mean_gap_us", expr("__S DIV n_gaps"))
      .withColumn("b_index", when(col("__D") >= 0 && col("__S") > 0,
        round((sqrt(col("__D").cast("double")) -
            col("__S").cast("double")) /
          (sqrt(col("__D").cast("double")) +
            col("__S").cast("double")), 6)))
      .select(col("group"), col("n_gaps"), col("mean_gap_us"),
        col("b_index"))
  }

  /** Partial autocorrelation at lags 1–3 per key via the
    * Durbin–Levinson recursion on the lag-1..3 ACFs: the AR-order
    * diagnostic — `pacf_k` is the lag-k correlation AFTER the shorter
    * lags explain their share, so an AR(p) series cuts off sharply
    * after lag p where the raw ACF ([[autocorr]]) just decays. All
    * three lag pairings ride ONE key-ordered window pass (three lag
    * columns, per-lag null masks), every sufficient statistic is
    * exact DECIMAL(38,0), the per-lag `r_k` are the [[autocorr]]
    * formula at 6 dp, and the recursion
    * `φ22 = (r2 − r1²)/(1 − r1²)`,
    * `φ33 = (r3 − φ21·r2 − φ22·r1)/(1 − φ21·r1 − φ22·r2)` (with
    * `φ21 = r1·(1 − φ22)`) is a fixed scalar expression tree over the
    * rounded ACFs — no float-sum ordering anywhere. Output per key:
    * `(keys…, n_pairs1, r1, r2, r3, pacf2, pacf3)` (pacf1 = r1).
    *
    * Scale: one window pass + one group aggregate over the (bounded)
    * per-key series.
    */
  def pacf3(df: DataFrame, keyCols: Seq[String], orderCols: Seq[String],
      valCol: String): DataFrame = {
    val d38 = "decimal(38,0)"
    val w = Window.partitionBy(keyCols.map(col): _*)
      .orderBy(orderCols.map(col): _*)
    val lagged = df.filter(col(valCol).isNotNull)
      .select(keyCols.map(col) ++ orderCols.map(col) :+
        col(valCol).cast(d38).as("__x"): _*)
      .withColumn("__y1", lag(col("__x"), 1).over(w))
      .withColumn("__y2", lag(col("__x"), 2).over(w))
      .withColumn("__y3", lag(col("__x"), 3).over(w))
    def statsFor(k: Int): Seq[Column] = {
      val y = col(s"__y$k")
      val m = y.isNotNull
      Seq(
        sum(when(m, 1L).otherwise(0L)).as(s"__n$k"),
        sum(when(m, col("__x")).otherwise(lit(0).cast(d38)))
          .as(s"__sx$k"),
        sum(when(m, y).otherwise(lit(0).cast(d38))).as(s"__sy$k"),
        sum(when(m, col("__x") * y).otherwise(lit(0).cast(d38)))
          .as(s"__sxy$k"),
        sum(when(m, col("__x") * col("__x"))
          .otherwise(lit(0).cast(d38))).as(s"__sxx$k"),
        sum(when(m, y * y).otherwise(lit(0).cast(d38))).as(s"__syy$k"))
    }
    val allStats = (1 to 3).flatMap(statsFor)
    val agg = lagged.groupBy(keyCols.map(col): _*)
      .agg(allStats.head, allStats.tail: _*)
    def rFor(k: Int): Column = {
      val n = col(s"__n$k").cast(d38)
      val dx = n * col(s"__sxx$k") - col(s"__sx$k") * col(s"__sx$k")
      val dy = n * col(s"__syy$k") - col(s"__sy$k") * col(s"__sy$k")
      when(dx > 0 && dy > 0, round(
        (n * col(s"__sxy$k") - col(s"__sx$k") * col(s"__sy$k"))
          .cast("double") /
          sqrt(dx.cast("double") * dy.cast("double")), 6))
    }
    agg
      .withColumn("r1", rFor(1)).withColumn("r2", rFor(2))
      .withColumn("r3", rFor(3))
      .withColumn("pacf2", when(col("r1").isNotNull &&
          col("r2").isNotNull && col("r1") * col("r1") =!= 1d, round(
        (col("r2") - col("r1") * col("r1")) /
          (lit(1d) - col("r1") * col("r1")), 6)))
      .withColumn("__p21", col("r1") * (lit(1d) - col("pacf2")))
      .withColumn("pacf3", when(col("pacf2").isNotNull &&
          col("r3").isNotNull &&
          lit(1d) - col("__p21") * col("r1") -
            col("pacf2") * col("r2") =!= 0d, round(
        (col("r3") - col("__p21") * col("r2") -
          col("pacf2") * col("r1")) /
          (lit(1d) - col("__p21") * col("r1") -
            col("pacf2") * col("r2")), 6)))
      .select(keyCols.map(col) :+ col("__n1").as("n_pairs1") :+
        col("r1") :+ col("r2") :+ col("r3") :+ col("pacf2") :+
        col("pacf3"): _*)
  }

  /** Interval coverage (gaps-and-islands): merge each key's overlapping /
    * touching `[start, end]` intervals into islands and report
    * `(keys…, n_intervals, n_islands, covered_us)` — the union length in
    * exact integer µs (uptime, sensor-coverage, SLA math). An interval
    * opens a new island iff its start exceeds the running max end of all
    * PRIOR intervals in `(start, end, tiebreak)` order — the running max
    * (not `lag(end)`) is what makes an interval that ends inside an
    * earlier, longer one stay in that island. Two window passes sharing
    * one sort order + two aggregates; all arithmetic integer µs, so the
    * result is engine-exact. A null endpoint is missing data — the row is
    * DROPPED, matching how every SQL aggregate treats null input — while
    * `end < start` is a logic error and still rejected loudly.
    */
  def intervalCoverage(df0: DataFrame, keyCols: Seq[String],
      startCol: String, endCol: String,
      tiebreakCols: Seq[String]): DataFrame = {
    val df = df0.filter(col(startCol).isNotNull && col(endCol).isNotNull)
    val bad = df.filter(col(endCol) < col(startCol)).limit(1).count()
    require(bad == 0,
      s"inverted [$startCol, $endCol] interval in input")
    val s = uMicros(col(startCol))
    val e = uMicros(col(endCol))
    val w = Window.partitionBy(keyCols.map(col): _*)
      .orderBy((col(startCol).asc +: col(endCol).asc +:
        tiebreakCols.map(col(_).asc)): _*)
    val priorMax = max(e).over(w.rowsBetween(Window.unboundedPreceding, -1))
    val isNew = when(priorMax.isNull || (s > priorMax), 1).otherwise(0)
    df.withColumn("__island",
        sum(isNew).over(w.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy((keyCols :+ "__island").map(col): _*)
      .agg(count(lit(1)).as("__n"), min(s).as("__is"), max(e).as("__ie"))
      .groupBy(keyCols.map(col): _*)
      .agg(sum(col("__n")).as("n_intervals"),
        count(lit(1)).as("n_islands"),
        sum(col("__ie") - col("__is")).as("covered_us"))
  }

  /** Rolling z-score anomaly flags over the trailing `nRows` rows per key:
    * `z = (x − μ)/σ` against the frame's own population stats, computed
    * as `(n·x − S₁)/√(n·S₂ − S₁²)` — numerator and discriminant are
    * EXACT integers (DECIMAL(38,0) sums; `n·S₂` passes 2⁶³ near 10⁹-row
    * frames of ~10³ values, the ANSI-overflow class), so "constant frame"
    * is an exact `D = 0` test (→ null z), never a float-residue near-zero
    * that would explode the ratio; only the final division/√ is floating,
    * rounded 6 dp. Null values are excluded from the frame stats and get
    * a null z. One window pass (three running aggregates share the
    * frame), no self-joins.
    */
  def rollingZScore(df: DataFrame, keyCols: Seq[String],
      orderCols: Seq[String], valCol: String, nRows: Int,
      outCol: String = "z"): DataFrame = {
    require(nRows >= 2, "a one-row frame has no spread")
    val d38 = "decimal(38,0)"
    val w = Window.partitionBy(keyCols.map(col): _*)
      .orderBy(orderCols.map(col): _*)
      .rowsBetween(-(nRows - 1L), Window.currentRow)
    val x = col(valCol).cast(d38)
    val n = count(col(valCol)).over(w).cast(d38)
    val s1 = sum(x).over(w)
    val s2 = sum(x * x).over(w)
    val disc = n * s2 - s1 * s1
    // DECIMAL(38) window sums are CPU-bound at tiny bytes (r13, the
    // q210 single-task-window class) — fan out before the window
    Relational.fanOutBy(df, keyCols.map(col))
      .withColumn(outCol, when(col(valCol).isNotNull && disc > 0,
        round((n * x - s1).cast("double") / sqrt(disc.cast("double")), 6)))
  }

  /** Retention cohort matrix: users bucketed by their FIRST-activity week,
    * counted in each later week they were active. Weeks are absolute
    * 7-day epoch buckets (integer `µs ÷ week` division — no calendar or
    * timezone arithmetic to drift between engines). Output one row per
    * (cohort_week, week_offset) with the distinct-user count.
    *
    * Scale: one user-keyed aggregate for cohorts (map-side combined), one
    * distinct (user, week) projection joined back on the user key, and a
    * final count keyed by the (cohort, offset) matrix — cardinality
    * ≈ weeks², tiny. The user-keyed shuffle partitioning is shared
    * between the cohort aggregate and the join.
    */
  def retentionCohorts(df: DataFrame, keyCol: String,
      timeCol: String): DataFrame = {
    val weekUs = 7L * 86400L * 1000000L
    val wk = (uMicros(col(timeCol)) / weekUs).cast("bigint")
    val active = df.select(col(keyCol), wk.as("week")).distinct()
    val cohort = active.groupBy(col(keyCol))
      .agg(min(col("week")).as("cohort_week"))
    active.join(cohort, Seq(keyCol))
      .groupBy(col("cohort_week"),
        (col("week") - col("cohort_week")).as("week_offset"))
      .agg(count(lit(1)).as("n_users"))
  }

  /** Seasonal-baseline residuals: each row's value against the trailing
    * mean of the SAME weekly slot (day-of-week × hour) for its key — the
    * "is 3 AM Sunday traffic normal for 3 AM Sunday" monitor that a plain
    * trailing window gets wrong on anything with a daily/weekly cycle.
    * The window partitions by `(keys…, dow, hour)` ordered by time over
    * the `nPrior` PRECEDING same-slot values (the current row never sees
    * itself), `baseline = Σ/n` with integer sums and `residual = v −
    * baseline`, both rounded 6 dp; rows with no same-slot history carry
    * null baseline/residual but stay in the output. Day-of-week is
    * engine-proof integer math — days since Monday 1970-01-05 mod 7
    * (0 = Monday) — never an engine's dow() convention (Spark counts
    * Sunday = 1, DuckDB Sunday = 0; memory: convention mismatches hash-
    * fail whole queries).
    *
    * Scale: ONE window pass; the slot partitioning multiplies key
    * cardinality by up to 168, which SHRINKS partitions — the sort is
    * per (key, slot) and no state outlives the frame. Null values join
    * the ride-along rows (excluded from sums by the count(v)/sum(v)
    * null rule).
    */
  /** Hampel outlier filter over the trailing `nRows` rows per key:
    * flag `|x − med| > k·MAD`, where `med` is the frame's lower median
    * and `MAD` the lower median of absolute deviations — the robust
    * cousin of [[rollingZScore]] (a single previous spike inflates a
    * z-score's σ and masks the next one; the median absolute deviation
    * barely moves). For INTEGER values every comparison here is exact
    * integer arithmetic end-to-end — median and MAD are element PICKS,
    * not averages — so the outlier verdict is engine-stable with no
    * float tolerance at all. A constant frame has MAD = 0 and flags any
    * deviation (the standard Hampel degeneracy; callers who want slack
    * add it to k). Null values must be pre-filtered: Spark's
    * `collect_list` drops frame nulls while SQL `list()` keeps them, so
    * a null inside the frame is a contract violation (the [[ewma]]
    * convention) — pre-filter the series, as the registered query does.
    *
    * Scale: one window pass, O(nRows log nRows) per row for the two
    * in-frame sorts — smoothing-window posture like [[rollingMedian]],
    * sized for nRows in the tens, not thousands.
    */
  def hampelOutliers(df: DataFrame, keyCols: Seq[String],
      orderCols: Seq[String], valCol: String, nRows: Int,
      k: Long = 3L): DataFrame = {
    require(nRows >= 2, "a one-row frame has no deviation scale")
    val w = Window.partitionBy(keyCols.map(col): _*)
      .orderBy(orderCols.map(col): _*)
      .rowsBetween(-(nRows - 1L), Window.currentRow)
    val arr = array_sort(collect_list(col(valCol)).over(w))
    val mid = ((size(arr) + 1) / 2).cast("int")
    val med = element_at(arr, mid)
    val mad = element_at(array_sort(transform(arr,
      x => abs(x - med))), mid)
    // per-row double sort + transform makes this window CPU-bound at
    // tiny bytes — fan it out before the window (r13, see fanOutBy)
    Relational.fanOutBy(df, keyCols.map(col))
      .withColumn("med", med).withColumn("mad", mad)
      .withColumn("outlier", abs(col(valCol) - med) > lit(k) * mad)
  }

  /** Running distinct count per key: for each row, how many DISTINCT
    * `valCol` values this key has produced up to and including now —
    * the exact form of the "new vs returning behavior" curve (first
    * session with a new event type bumps it; repeats do not). Two
    * passes: a first-occurrence flag (`row_number = 1` over
    * `(key, val)` ordered by `orderCols`) and a running sum of that
    * flag at key grain. `orderCols` must be a TOTAL order per key
    * (include a unique tiebreak) or the first-occurrence pick is
    * nondeterministic; null values form their own "value" by window
    * partitioning, so pre-filter them if that is not wanted (the
    * registered query does).
    *
    * Scale: two window shuffles — `(key, val)` grain then `key` grain
    * — which is the exact-answer floor (a running COUNT(DISTINCT)
    * cannot partial-aggregate); the approximate alternative at 100 TB
    * is a per-key [[graft.engine.Sketches]] register set carried as
    * state, which trades that second shuffle for an estimate.
    */
  def runningDistinctCount(df: DataFrame, keyCols: Seq[String],
      orderCols: Seq[String], valCol: String): DataFrame = {
    val wFirst = Window.partitionBy((keyCols :+ valCol).map(col): _*)
      .orderBy(orderCols.map(col): _*)
    val wRun = Window.partitionBy(keyCols.map(col): _*)
      .orderBy(orderCols.map(col): _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.withColumn("__first",
        when(row_number().over(wFirst) === 1, 1L).otherwise(0L))
      .withColumn("n_distinct_so_far", sum(col("__first")).over(wRun))
      .drop("__first")
  }

  def seasonalResiduals(df: DataFrame, keyCols: Seq[String],
      timeCol: String, tiebreakCols: Seq[String], valCol: String,
      nPrior: Int = 4): DataFrame = {
    require(nPrior >= 1, "need at least one prior slot value")
    val dow = pmod(datediff(to_date(col(timeCol)), lit("1970-01-05")
      .cast("date")), lit(7))
    val hr = hour(col(timeCol))
    val w = Window
      .partitionBy((keyCols.map(col) :+ dow :+ hr): _*)
      .orderBy((col(timeCol).asc +: tiebreakCols.map(col(_).asc)): _*)
      .rowsBetween(-nPrior.toLong, -1)
    val n = count(col(valCol)).over(w)
    val s = sum(col(valCol)).over(w)
    df.withColumn("slot_dow", dow.cast("int"))
      .withColumn("slot_hour", hr.cast("int"))
      .withColumn("n_prior", n)
      .withColumn("baseline", when(n > 0,
        round(s.cast("double") / n.cast("double"), 6)))
      .withColumn("residual", when(n > 0 && col(valCol).isNotNull,
        round(col(valCol) - s.cast("double") / n.cast("double"), 6)))
  }

  /** Ordered funnel analysis — for each entity, the earliest time it
    * completed each step of `steps` IN ORDER (step i+1 must occur
    * strictly after the chosen step-i time; the standard product-funnel
    * definition). Output: `(key, t1..tk, n_completed)` with nulls from
    * the first uncompleted step on — the per-entity frame a conversion
    * report aggregates, kept at entity grain so drop-off DIAGNOSIS
    * (which users stalled where, at what timestamps) stays possible.
    *
    * Earliest-first semantics are greedy per step: t1 is the global min
    * of step 1, t2 the min step-2 event after t1, and so on. Greedy
    * first times can miss orderings a backtracking match would find
    * (e.g. a later step-1 event enabling an earlier step 2) — that
    * variant needs a per-entity sequence scan; this one is the
    * aggregate-only industry default.
    *
    * Scale: one pinned pass over `(key, ts, type)`; per step, one
    * equi-join at ENTITY grain against the step's filtered events plus
    * a conditional-min aggregate — k small and fixed. No windows, no
    * per-entity sort; skew on hot entities is one aggregate key.
    */
  def funnelSteps(events: DataFrame, keyCol: String, timeCol: String,
      typeCol: String, steps: Seq[String]): DataFrame = Pins.scoped { s =>
    require(steps.nonEmpty, "need at least one funnel step")
    val base = s.pin(events.select(col(keyCol), col(timeCol), col(typeCol)))
    var cur = base.filter(col(typeCol) === steps.head)
      .groupBy(col(keyCol)).agg(min(col(timeCol)).as("t1"))
    for (i <- 2 to steps.size) {
      val stepEv = base.filter(col(typeCol) === steps(i - 1))
        .select(col(keyCol), col(timeCol).as("__ts"))
      cur = cur.join(stepEv, Seq(keyCol), "left")
        .groupBy(col(keyCol) +: (1 until i).map(j => col(s"t$j")): _*)
        .agg(min(when(col("__ts") > col(s"t${i - 1}"), col("__ts")))
          .as(s"t$i"))
    }
    cur.withColumn("n_completed",
        steps.indices.map(i => when(col(s"t${i + 1}").isNotNull, 1)
          .otherwise(0)).reduce(_ + _))
  }

  /** Rolling Pearson correlation over a trailing `n`-row window per
    * group: exact DECIMAL sufficient stats accumulate in ONE ordered
    * window pass and the correlation is the closed form on them (all
    * conversions floor-split via
    * [[graft.engine.Relational.decToDoubleSql]]) — co-movement drift
    * between two metrics as a continuously-updated series, the
    * windowed face of the one-scan Pearson matrix. Rows are ordered by
    * `orderCols`, which must be a TOTAL order within each group (ties
    * would make the window contents engine-dependent); only rows with
    * a full window emit a correlation (`corr` null on the warm-up
    * prefix and on zero-variance windows).
    *
    * Output: input group/order columns + `(x, y, corr)`.
    *
    * Scale: one group-keyed sort, one frame-bounded window — state per
    * row is five running sums; no second pass, no self-join.
    */
  def rollingCorr(df: DataFrame, groupCols: Seq[String],
      orderCols: Seq[String], xCol: String, yCol: String,
      n: Int): DataFrame = {
    require(n >= 2, "need window n >= 2")
    val dec = org.apache.spark.sql.types.DecimalType(38, 12)
    def d18(c: String) = col(c)
      .cast(org.apache.spark.sql.types.DecimalType(18, 6))
    val w = Window.partitionBy(groupCols.map(col): _*)
      .orderBy(orderCols.map(col): _*)
      .rowsBetween(-(n - 1), Window.currentRow)
    def cv(c: String) = Relational.decToDoubleSql(c, 12)
    val nn = s"CAST($n AS DOUBLE)"
    val num = s"($nn * ${cv("__sxy")} - ${cv("__sx")} * ${cv("__sy")})"
    val vx = s"($nn * ${cv("__sxx")} - ${cv("__sx")} * ${cv("__sx")})"
    val vy = s"($nn * ${cv("__syy")} - ${cv("__sy")} * ${cv("__sy")})"
    df.filter(col(xCol).isNotNull && col(yCol).isNotNull)
      .withColumn("__x", d18(xCol)).withColumn("__y", d18(yCol))
      .withColumn("__cnt", count(lit(1)).over(w))
      .withColumn("__sx", sum(col("__x")).over(w).cast(dec))
      .withColumn("__sy", sum(col("__y")).over(w).cast(dec))
      .withColumn("__sxx", sum(col("__x") * col("__x")).over(w).cast(dec))
      .withColumn("__syy", sum(col("__y") * col("__y")).over(w).cast(dec))
      .withColumn("__sxy", sum(col("__x") * col("__y")).over(w).cast(dec))
      .withColumn("corr", round(expr(s"CASE WHEN __cnt = $n " +
        s"AND $vx > 0 AND $vy > 0 THEN $num / sqrt($vx * $vy) END"), 6))
      .select(groupCols.map(col) ++ orderCols.map(col) ++
        Seq(col(xCol).cast("double").as("x"),
          col(yCol).cast("double").as("y"), col("corr")): _*)
  }

  /** Funnel step-latency report: for each adjacent step pair of the
    * greedy-earliest funnel ([[funnelSteps]]' semantics), the exact
    * microsecond latency distribution over the keys that reached the
    * later step — n, min, lower median, nearest-rank p90, max, all
    * exact-integer rank picks (the percentile discipline of the exact
    * percentile summary, applied to funnel dwell times). The question
    * after "how many convert" is always "how long do they take".
    *
    * Output: one row per step pair:
    * `(step, from_type, to_type, n, min_s, med_s, p90_s, max_s)` —
    * seconds as integers (microsecond diff DIV 10⁶).
    *
    * Scale: rides [[funnelSteps]] (key-grain); the latency table is
    * (converted keys × step pairs) rows with one rank window per pair.
    */
  def funnelStepLatency(events: DataFrame, keyCol: String,
      timeCol: String, typeCol: String,
      steps: Seq[String]): DataFrame = {
    require(steps.size >= 2, "need at least two steps")
    val f = funnelSteps(events, keyCol, timeCol, typeCol, steps)
    val deltas = (2 to steps.size).map { i =>
      f.filter(col(s"t$i").isNotNull)
        .select(lit(i).as("step"), lit(steps(i - 2)).as("from_type"),
          lit(steps(i - 1)).as("to_type"),
          expr(s"(unix_micros(cast(t$i as timestamp)) - unix_micros(cast(t${i - 1} as timestamp))) " +
            "DIV 1000000").as("__d"))
    }.reduce(_ unionByName _)
    val w = Window.partitionBy(col("step"))
    deltas
      .withColumn("__rk", row_number().over(w.orderBy(col("__d"))))
      .withColumn("__n", count(lit(1)).over(w))
      .groupBy(col("step"), col("from_type"), col("to_type"))
      .agg(max(col("__n")).as("n"), min(col("__d")).as("min_s"),
        max(when(col("__rk") === expr("(__n + 1) DIV 2"), col("__d")))
          .as("med_s"),
        max(when(col("__rk") === expr("(__n * 90 + 99) DIV 100"),
          col("__d"))).as("p90_s"),
        max(col("__d")).as("max_s"))
  }

  /** Shared SSE-of-a-segment fragment for [[changepoint]]: the
    * closed-form least-squares residual of a segment from its exact
    * sufficient-stat columns `(n$s, st$s, sy$s, stt$s, sty$s, syy$s)` —
    * `SSE = Syy − Sy²/n − (Sty − St·Sy/n)² / (Stt − St²/n)`, falling
    * back to the mean-only residual when the segment has no t-variance.
    * Decimal stats convert through the floor-split
    * [[graft.engine.Relational.decToDoubleSql]] fragment; ONE copy
    * parsed by both engines. */
  def sseSql(s: String): String = {
    def cv(c: String) = Relational.decToDoubleSql(c + s, 12)
    val n = s"CAST(n$s AS DOUBLE)"
    val varT = s"(${cv("stt")} - ${cv("st")} * ${cv("st")} / $n)"
    val covTy = s"(${cv("sty")} - ${cv("st")} * ${cv("sy")} / $n)"
    val sseMean = s"(${cv("syy")} - ${cv("sy")} * ${cv("sy")} / $n)"
    s"(CASE WHEN $varT > 0 THEN $sseMean - $covTy * $covTy / $varT " +
      s"ELSE $sseMean END)"
  }

  /** Single-changepoint detection by segmented regression (the
    * binary-segmentation step of Scott & Knott 1974 / the CUSUM-of-
    * squares family): per group, scan every split position of the
    * t-ordered series and pick the one minimizing
    * `SSE(left fit) + SSE(right fit)` for two independent linear fits —
    * where did the trend break. Sufficient stats
    * `(n, Σt, Σy, Σt², Σty, Σy²)` accumulate EXACT (DECIMAL) as prefix
    * sums in one ordered window; each candidate split's SSE is the
    * closed-form [[sseSql]] on (prefix, total−prefix) — O(T) candidates
    * for O(T) total work, not O(T²). The argmin compares 6dp-rounded
    * SSEs (ties → earlier split). Both segments must hold ≥ 2 points.
    *
    * `tCol` must be unique per group (pre-aggregate to your time grain
    * first — that is also what makes the scan deterministic).
    *
    * Output: one row per group with ≥ 4 points:
    * `(groupCols…, n, split_t, rmse_split, rmse_single, gain)` —
    * `split_t` is the LAST t of the left segment; the fit quality is
    * reported as RMSE (√(SSE/n)), not raw SSE: SSE magnitudes blow
    * past 2⁵³/10⁶, where `round(x, 6)` itself stops being
    * cross-engine-stable (Spark rounds through BigDecimal, DuckDB
    * through ×10⁶/÷10⁶ — an ulp apart out there), while the √
    * compresses the report into the range where 6 dp rounding is a
    * real quantization. `gain` = rmse_single − rmse_split.
    *
    * Scale: one group-keyed ordered window (prefix sums), group-grain
    * totals, one argmin window. A 100 TB daily series costs its time
    * grain, not its row count — pre-aggregation does the heavy lifting.
    */
  def changepoint(df: DataFrame, groupCols: Seq[String], tCol: String,
      yCol: String): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(38, 12)
    def d18(c: Column) = c.cast(
      org.apache.spark.sql.types.DecimalType(18, 6))
    val w = Window.partitionBy(groupCols.map(col): _*)
      .orderBy(col("__t"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy(groupCols.map(col): _*)
    val pre = df
      .filter(col(tCol).isNotNull && col(yCol).isNotNull)
      .select(groupCols.map(col) ++ Seq(d18(col(tCol)).as("__t"),
        d18(col(yCol)).as("__y")): _*)
      .withColumn("__i", row_number().over(Window
        .partitionBy(groupCols.map(col): _*).orderBy(col("__t"))))
      .withColumn("nl", col("__i").cast("long"))
      .withColumn("stl", sum(col("__t")).over(w).cast(dec))
      .withColumn("syl", sum(col("__y")).over(w).cast(dec))
      .withColumn("sttl", sum(col("__t") * col("__t")).over(w).cast(dec))
      .withColumn("styl", sum(col("__t") * col("__y")).over(w).cast(dec))
      .withColumn("syyl", sum(col("__y") * col("__y")).over(w).cast(dec))
      .withColumn("na", count(lit(1)).over(wAll))
      .withColumn("sta", sum(col("__t")).over(wAll).cast(dec))
      .withColumn("sya", sum(col("__y")).over(wAll).cast(dec))
      .withColumn("stta", sum(col("__t") * col("__t")).over(wAll)
        .cast(dec))
      .withColumn("stya", sum(col("__t") * col("__y")).over(wAll)
        .cast(dec))
      .withColumn("syya", sum(col("__y") * col("__y")).over(wAll)
        .cast(dec))
    val cand = pre
      .withColumn("nr", col("na") - col("nl"))
      .withColumn("str", (col("sta") - col("stl")).cast(dec))
      .withColumn("syr", (col("sya") - col("syl")).cast(dec))
      .withColumn("sttr", (col("stta") - col("sttl")).cast(dec))
      .withColumn("styr", (col("stya") - col("styl")).cast(dec))
      .withColumn("syyr", (col("syya") - col("syyl")).cast(dec))
      .filter(col("nl") >= 2 && col("nr") >= 2)
      .withColumn("__rmse", round(expr("sqrt(greatest(" +
        s"CAST(0 AS DOUBLE), (${sseSql("l")} + ${sseSql("r")}) " +
        "/ CAST(na AS DOUBLE)))"), 6))
      .withColumn("__rmse1", round(expr("sqrt(greatest(" +
        s"CAST(0 AS DOUBLE), ${sseSql("a")} / CAST(na AS DOUBLE)))"), 6))
      .withColumn("__rk", row_number().over(Window
        .partitionBy(groupCols.map(col): _*)
        .orderBy(col("__rmse"), col("__t"))))
      .filter(col("__rk") === 1)
    cand.select(groupCols.map(col) ++ Seq(col("na").as("n"),
      col("__t").cast("double").as("split_t"),
      col("__rmse").as("rmse_split"), col("__rmse1").as("rmse_single"),
      round(col("__rmse1") - col("__rmse"), 6).as("gain")): _*)
  }

  /** Linear multi-touch attribution: every conversion event splits one
    * unit of credit (as exact ppm integers) equally across the user's
    * touch events in the `windowSec` seconds strictly before it —
    * `weight = 10⁶ DIV n` per touch, with the division remainder
    * assigned to the LATEST touch (tie → larger touch id) so each
    * conversion's weights sum to exactly 1,000,000. The marketing /
    * funnel credit model between first-touch and last-touch (both of
    * which are the existing as-of join).
    *
    * Output: one row per (conversion, touch):
    * `(user_id, conv_id, conv_ts, touch_id, touch_ts, n_touches,
    * weight_ppm)`. Conversions with no in-window touch emit nothing
    * (no credit to assign).
    *
    * Scale: one user-keyed equi-join with a range post-filter (the
    * batch interval-join shape — never a cross product), then a
    * per-conversion count/rank window whose key cardinality is the
    * conversion count. All integers.
    */
  def multiTouchAttribution(events: DataFrame, userCol: String,
      idCol: String, tsCol: String, typeCol: String,
      convType: String, touchTypes: Seq[String],
      windowSec: Long): DataFrame = {
    require(windowSec > 0 && touchTypes.nonEmpty,
      "need a positive window and touch types")
    val conv = events.filter(col(typeCol) === convType)
      .select(col(userCol).as("user_id"), col(idCol).as("conv_id"),
        col(tsCol).as("conv_ts"))
    val touch = events.filter(col(typeCol).isin(touchTypes: _*))
      .select(col(userCol).as("user_id"), col(idCol).as("touch_id"),
        col(tsCol).as("touch_ts"))
    val joined = conv.join(touch, Seq("user_id"))
      .filter(col("touch_ts") < col("conv_ts") &&
        col("touch_ts") >= col("conv_ts") - expr(s"INTERVAL $windowSec SECOND"))
    val w = Window.partitionBy(col("user_id"), col("conv_id"))
    joined
      .withColumn("n_touches", count(lit(1)).over(w).cast("int"))
      .withColumn("__last", row_number().over(w.orderBy(
        col("touch_ts").desc, col("touch_id").desc)))
      .withColumn("weight_ppm", expr("1000000 DIV n_touches") +
        when(col("__last") === 1, expr("1000000 % n_touches"))
          .otherwise(0L))
      .select(col("user_id"), col("conv_id"), col("conv_ts"),
        col("touch_id"), col("touch_ts"), col("n_touches"),
        col("weight_ppm"))
  }

  /** Peak concurrency per key over an interval table: the classic
    * sweep — `+1` at each start, `−1` at each end, running sum in
    * `(ts, delta)` order (ends sort before starts at the same instant,
    * so touching intervals do NOT overlap), peak = max running sum,
    * with the EARLIEST instant attaining it. Capacity sizing /
    * concurrent-sessions gauge; the max-overlap dual of the
    * gaps-and-islands union coverage.
    *
    * Output: one row per key: `(key…, n_intervals, peak, peak_ts)`.
    *
    * Scale: one key-partitioned ordered window over 2×intervals rows,
    * then one aggregate. Exact integers throughout.
    */
  def maxConcurrency(df: DataFrame, keyCols: Seq[String],
      startCol: String, endCol: String): DataFrame = {
    val base = df.filter(col(startCol).isNotNull && col(endCol).isNotNull)
    val pts = base
      .select(keyCols.map(col) ++ Seq(col(startCol).as("__ts"),
        lit(1).as("__d")): _*)
      .unionByName(base.select(keyCols.map(col) ++
        Seq(col(endCol).as("__ts"), lit(-1).as("__d")): _*))
    val w = Window.partitionBy(keyCols.map(col): _*)
      .orderBy(col("__ts"), col("__d"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    pts
      .withColumn("__run", sum(col("__d")).over(w))
      .withColumn("__peak", max(col("__run")).over(
        Window.partitionBy(keyCols.map(col): _*)))
      .groupBy(keyCols.map(col): _*)
      .agg((count(lit(1)) / 2).cast("long").as("n_intervals"),
        max(col("__run")).as("peak"),
        min(when(col("__run") === col("__peak"), col("__ts")))
          .as("peak_ts"))
  }

  // --------------------------- time-series diagnostics (q385–q388)

  /** Ljung–Box portmanteau statistic (Ljung & Box, Biometrika 1978)
    * per group at lags `1..maxLag`: `Q = n(n+2) Σ_k ρ̂_k²/(n−k)` — the
    * "is this series white noise" omnibus the per-lag [[autocorr]]
    * can't answer (3 marginally-positive lags can be jointly
    * significant).
    *
    * Exactness: each lag-k autocovariance is carried as the exact
    * scaled integer `C_k = n²·Σx_t x_{t−k} − n·S·(H_k+T_k) + (n−k)·S²`
    * (H/T = head/tail partial sums, all DECIMAL(38,0)), `C_0 = n²·ΣX²
    * − n·S²`; the only floats are the final `ρ_k = C_k/C_0` divisions,
    * summed in FIXED lag order — engine-exact to the 6-dp round.
    * Integer values with |x| ≤ ~10⁴ stay inside DECIMAL(38,0) to
    * n ≈ 10⁷ rows per group.
    *
    * Output: one row per group `(keys…, n_obs, q_stat)`; groups with
    * n ≤ maxLag or zero variance emit NULL q_stat.
    *
    * Scale: ONE ordered window pass materializes all `maxLag` lag
    * columns, then one group aggregate — per-group cost is O(n·maxLag)
    * with no second shuffle; group cardinality bounds the output.
    */
  def ljungBox(df: DataFrame, keyCols: Seq[String],
      orderCols: Seq[String], valCol: String, maxLag: Int): DataFrame = {
    require(maxLag >= 1, "maxLag must be positive")
    val d38 = "decimal(38,0)"
    val w = Window.partitionBy(keyCols.map(col): _*)
      .orderBy(orderCols.map(col): _*)
    val lagged = (1 to maxLag).foldLeft(
      df.filter(col(valCol).isNotNull)
        .withColumn("__x", col(valCol).cast(d38))) { (acc, k) =>
      acc.withColumn(s"__l$k", lag(col("__x"), k).over(w))
    }
    val aggs = Seq(count(lit(1)).cast(d38).as("__n"),
      sum(col("__x")).as("__s"),
      sum(col("__x") * col("__x")).as("__ss")) ++
      (1 to maxLag).flatMap { k =>
        Seq(sum(col("__x") * col(s"__l$k")).as(s"__sxy$k"),
          sum(when(col(s"__l$k").isNotNull, col("__x"))).as(s"__t$k"),
          sum(when(col(s"__l$k").isNotNull, col(s"__l$k")))
            .as(s"__h$k"))
      }
    val g = lagged.groupBy(keyCols.map(col): _*).agg(aggs.head,
      aggs.tail: _*)
      .withColumn("__c0",
        col("__n") * col("__n") * col("__ss")
          - col("__n") * col("__s") * col("__s"))
    val withC = (1 to maxLag).foldLeft(g) { (acc, k) =>
      acc.withColumn(s"__c$k",
        col("__n") * col("__n") * col(s"__sxy$k")
          - col("__n") * col("__s") * (col(s"__h$k") + col(s"__t$k"))
          + (col("__n") - k) * col("__s") * col("__s"))
    }
    // fixed-order lag sum: rho_1 term + rho_2 term + ... (both engines
    // evaluate the same association order)
    val qSum = (1 to maxLag).map { k =>
      (col(s"__c$k").cast("double") / col("__c0").cast("double")) *
        (col(s"__c$k").cast("double") / col("__c0").cast("double")) /
        (col("__n") - k).cast("double")
    }.reduce(_ + _)
    withC.select(keyCols.map(col) :+
      col("__n").cast("long").as("n_obs") :+
      when(col("__n") > maxLag && col("__c0") > 0,
        round(col("__n").cast("double") * (col("__n") + 2).cast("double")
          * qSum, 6)).as("q_stat"): _*)
  }

  /** Wald–Wolfowitz runs test per group: observations above/below the
    * group's exact MEDIAN (equal-to-median dropped, the standard
    * convention), `R` = number of sign runs, and the normal
    * approximation `z = (R − μ)/σ`, `μ = 1 + 2n₁n₂/n`,
    * `σ² = 2n₁n₂(2n₁n₂ − n)/(n²(n−1))` — the distribution-free
    * "is the sequence random vs trending/oscillating" check that
    * complements [[autocorr]] (which only sees LINEAR lag-1
    * dependence). `n₁, n₂, R` are exact integers; z is the one float,
    * built from them in one fixed expression. Output:
    * `(keys…, n_above, n_below, runs, z)`.
    *
    * Scale: one exact-median aggregate (single-pass, group-grain) +
    * an equi-join back + one ordered window pass for the run breaks.
    * The join's build side is group-grain — broadcastable.
    */
  def runsTest(df: DataFrame, keyCols: Seq[String],
      orderCols: Seq[String], valCol: String): DataFrame = {
    val med = df.filter(col(valCol).isNotNull)
      .groupBy(keyCols.map(col): _*)
      .agg(median(col(valCol).cast("double")).as("__med"))
    val w = Window.partitionBy(keyCols.map(col): _*)
      .orderBy(orderCols.map(col): _*)
    val signed = df.filter(col(valCol).isNotNull)
      .join(med, keyCols)
      .filter(col(valCol).cast("double") =!= col("__med"))
      .withColumn("__s", (col(valCol).cast("double") > col("__med"))
        .cast("int"))
      .withColumn("__brk",
        when(lag(col("__s"), 1).over(w).isNull ||
          lag(col("__s"), 1).over(w) =!= col("__s"), 1L).otherwise(0L))
    signed.groupBy(keyCols.map(col): _*)
      .agg(sum(col("__s").cast("long")).as("n_above"),
        sum(lit(1L) - col("__s")).as("n_below"),
        sum(col("__brk")).as("runs"))
      .withColumn("__n", (col("n_above") + col("n_below")).cast("double"))
      .withColumn("__p", col("n_above").cast("double") *
        col("n_below").cast("double") * 2d)
      .withColumn("z",
        when(col("n_above") > 0 && col("n_below") > 0 &&
            col("__n") > 2 && col("__p") > col("__n"),
          round((col("runs").cast("double") - (col("__p") / col("__n")
            + 1d)) /
            sqrt(col("__p") * (col("__p") - col("__n")) /
              (col("__n") * col("__n") * (col("__n") - 1d))), 6)))
      .select(keyCols.map(col) :+ col("n_above") :+ col("n_below") :+
        col("runs") :+ col("z"): _*)
  }

  /** Durbin–Watson statistic per group on the residuals of the
    * group's own OLS-on-time-index trend line: `DW = Σ(e_t −
    * e_{t−1})²/Σe_t²` — the serial-correlation-of-residuals audit
    * run after every [[Relational.groupRegression]]-style fit (a
    * great R² with DW → 0 means the trend line hides an AR process).
    *
    * Exact-integer core via two identities: with unit time steps the
    * residual DIFFERENCE is `Δe_t = Δy_t − b`, so the numerator never
    * needs per-row residuals; and with the centered integer time axis
    * `T = 2t − (n+1)`: `b = 2B/D` (`B = ΣTy`, `D = ΣT²`), so scaling
    * both sides by `n·D²` gives the all-integer pair
    * `num = n·(D²·ΣΔy² − 4·D·B·ΣΔy + 4(n−1)·B²)` and
    * `den = D·(D·(n·Σy² − S²) − n·B²)` — every term DECIMAL(38,0)-exact for
    * |y| ≤ ~10³ up to n ≈ 2·10⁴ rows per group (documented bound, the
    * momentsSketch discipline); DW is the single final double
    * division at 6 dp. Output: `(keys…, n_obs, dw)`; dw NULL when the
    * residual variance is 0 or n < 3.
    *
    * Scale: one ordered window pass (row index + Δy lag), one group
    * aggregate — no join-back of per-group coefficients, because the
    * identities eliminate the residual materialization entirely.
    */
  def durbinWatson(df: DataFrame, keyCols: Seq[String],
      orderCols: Seq[String], valCol: String): DataFrame = {
    val d38 = "decimal(38,0)"
    val w = Window.partitionBy(keyCols.map(col): _*)
      .orderBy(orderCols.map(col): _*)
    val cw = Window.partitionBy(keyCols.map(col): _*)
    val rows = df.filter(col(valCol).isNotNull)
      .withColumn("__y", col(valCol).cast(d38))
      .withColumn("__t", row_number().over(w).cast(d38))
      .withColumn("__cnt", count(lit(1)).over(cw).cast(d38))
      .withColumn("__T", col("__t") * 2 - col("__cnt") - 1)
      .withColumn("__dy", col("__y") - lag(col("__y"), 1).over(w))
    val g = rows.groupBy(keyCols.map(col): _*)
      .agg(count(lit(1)).cast(d38).as("__n"),
        sum(col("__y")).as("__sy"),
        sum(col("__y") * col("__y")).as("__syy"),
        sum(col("__T") * col("__y")).as("__B"),
        sum(col("__T") * col("__T")).as("__D"),
        sum(col("__dy")).as("__sdy"),
        sum(col("__dy") * col("__dy")).as("__sdyy"))
    // num×n·D² = n·(D²·ΣΔy² − 4·D·B·ΣΔy + 4(n−1)·B²)
    // den×n·D² = D·(D·(n·Σy² − S²) − n·B²)
    g.withColumn("__num",
        col("__n") * (col("__D") * col("__D") * col("__sdyy")
          - col("__D") * col("__B") * col("__sdy") * 4
          + (col("__n") - 1) * col("__B") * col("__B") * 4))
      .withColumn("__den",
        col("__D") * (col("__D") * (col("__n") * col("__syy")
          - col("__sy") * col("__sy"))
          - col("__n") * col("__B") * col("__B")))
      .select(keyCols.map(col) :+ col("__n").cast("long").as("n_obs") :+
        when(col("__n") >= 3 && col("__den") > 0,
          round(col("__num").cast("double") / col("__den").cast("double"),
            6)).as("dw"): _*)
  }

  /** Lo–MacKinlay variance ratio per group at horizon `q`:
    * `VR(q) = Var(x_t − x_{t−q}) / (q · Var(x_t − x_{t−1}))` with
    * overlapping differences — the random-walk diagnostic (VR ≈ 1
    * under a random walk; < 1 mean-reverting, > 1 trending).
    *
    * Both variances are carried as the exact scaled integers
    * `V_k × n_k² = n_k·Σd² − (Σd)²` over the `n_k = n − k` overlapping
    * k-differences (DECIMAL(38,0)); the emitted
    * `vr = (V_q·n₁²)/(q·V₁·n_q²)` is one final double division at
    * 6 dp. Output: `(keys…, n_obs, vr)`; NULL when either variance
    * degenerates or n ≤ q.
    *
    * Scale: one ordered window pass (two lag columns), one group
    * aggregate — the [[ljungBox]] plan shape.
    */
  def varianceRatio(df: DataFrame, keyCols: Seq[String],
      orderCols: Seq[String], valCol: String, q: Int): DataFrame = {
    require(q >= 2, "horizon q must be >= 2")
    val d38 = "decimal(38,0)"
    val w = Window.partitionBy(keyCols.map(col): _*)
      .orderBy(orderCols.map(col): _*)
    val rows = df.filter(col(valCol).isNotNull)
      .withColumn("__x", col(valCol).cast(d38))
      .withColumn("__d1", col("__x") - lag(col("__x"), 1).over(w))
      .withColumn("__dq", col("__x") - lag(col("__x"), q).over(w))
    val g = rows.groupBy(keyCols.map(col): _*)
      .agg(count(lit(1)).cast(d38).as("__n"),
        count(col("__d1")).cast(d38).as("__n1"),
        sum(col("__d1")).as("__s1"),
        sum(col("__d1") * col("__d1")).as("__ss1"),
        count(col("__dq")).cast(d38).as("__nq"),
        sum(col("__dq")).as("__sq"),
        sum(col("__dq") * col("__dq")).as("__ssq"))
      .withColumn("__v1",
        col("__n1") * col("__ss1") - col("__s1") * col("__s1"))
      .withColumn("__vq",
        col("__nq") * col("__ssq") - col("__sq") * col("__sq"))
    g.select(keyCols.map(col) :+ col("__n").cast("long").as("n_obs") :+
      when(col("__nq") > 1 && col("__v1") > 0,
        round((col("__vq") * col("__n1") * col("__n1")).cast("double") /
          (col("__v1") * col("__nq") * col("__nq")).cast("double") /
          q.toDouble, 6)).as("vr"): _*)
  }

  /** Multi-touch conversion attribution over per-user event journeys:
    * first-touch, last-touch, and LINEAR credit per channel, read from
    * the touches strictly BEFORE each user's first conversion event —
    * the "which channels actually feed conversions" readout that
    * last-touch-only reporting distorts. Exact-integer credit: each
    * converting user distributes 10⁶ micro over their n touches as
    * `10⁶ DIV n` each, with the floor remainder assigned to the FIRST
    * touch (credit sums to exactly 10⁶ per user, deterministic under
    * the (time, tiebreak) total order). Output per channel:
    * `(channel, n_touches, n_first, n_last, credit_micro)`.
    *
    * Scale: one user-grain reduction for the first-conversion key, a
    * key-bounded join back, user- and (user, channel)-grain
    * aggregates, then a channel-grain rollup — nothing wider than the
    * events frame shuffles, and only on user/channel keys.
    */
  def linearAttribution(df: DataFrame, userCol: String, tCol: String,
      typeCol: String, convType: String,
      tiebreakCols: Seq[String]): DataFrame = {
    val base = df.filter(col(userCol).isNotNull && col(tCol).isNotNull
        && col(typeCol).isNotNull)
      .select(col(userCol).as("__u"), col(typeCol).as("__ty"),
        struct(col(tCol) +: tiebreakCols.map(col): _*).as("__k"))
    val conv = base.filter(col("__ty") === convType)
      .groupBy(col("__u")).agg(min(col("__k")).as("__ck"))
    val touches = base.filter(col("__ty") =!= convType)
      .join(conv, Seq("__u"))
      .filter(col("__k") < col("__ck"))
    val perUser = touches.groupBy(col("__u"))
      .agg(count(lit(1)).as("__n"),
        min(struct(col("__k"), col("__ty"))).as("__ft"),
        max(struct(col("__k"), col("__ty"))).as("__lt"))
      .select(col("__u"), col("__n"),
        col("__ft").getField("__ty").as("__fty"),
        col("__lt").getField("__ty").as("__lty"))
    val credits = touches.groupBy(col("__u"), col("__ty"))
      .agg(count(lit(1)).as("__c"))
      .join(perUser, Seq("__u"))
      .withColumn("__cr", col("__c") * expr("1000000L DIV __n") +
        when(col("__ty") === col("__fty"),
          lit(1000000L) - col("__n") * expr("1000000L DIV __n"))
          .otherwise(lit(0L)))
    val rolled = credits.groupBy(col("__ty").as("channel"))
      .agg(sum(col("__c")).as("n_touches"),
        sum(col("__cr")).as("credit_micro"))
    val firsts = perUser.groupBy(col("__fty").as("channel"))
      .agg(count(lit(1)).as("n_first"))
    val lasts = perUser.groupBy(col("__lty").as("channel"))
      .agg(count(lit(1)).as("n_last"))
    rolled.join(firsts, Seq("channel"), "left")
      .join(lasts, Seq("channel"), "left")
      .select(col("channel"), col("n_touches"),
        coalesce(col("n_first"), lit(0L)).as("n_first"),
        coalesce(col("n_last"), lit(0L)).as("n_last"),
        col("credit_micro"))
  }

  /** Temporal-precedence matrix over per-key event journeys: for every
    * ORDERED type pair `(a, b)`, the number (and ppm share) of keys
    * with some a-event strictly before some b-event — the "what
    * usually precedes what" readout between the Markov transition
    * table (adjacent steps only) and the funnel (one declared path):
    * precedence sees long-range order without committing to a path.
    * Existence is exact set algebra on per-(key, type) FIRST/LAST
    * occurrence keys: a precedes b for a key iff
    * `min_key(a) < max_key(b)` under the (time, tiebreak) total
    * order. Output per pair: `(type_a, type_b, n_keys, support_ppm)`
    * — support over the keys holding BOTH types; pairs that co-occur
    * for no key are absent.
    *
    * Scale: one (key, type) min/max aggregate, then a per-key self
    * join at TYPE grain (the type axis is a dimension — event
    * vocabularies are O(10..100)), then a (type, type) rollup.
    * Nothing joins at event grain.
    */
  def sequencePairSupport(df: DataFrame, keyCol: String, tCol: String,
      typeCol: String, tiebreakCols: Seq[String]): DataFrame = {
    val perKT = df.filter(col(keyCol).isNotNull && col(tCol).isNotNull
        && col(typeCol).isNotNull)
      .select(col(keyCol).as("__u"), col(typeCol).as("__ty"),
        struct(col(tCol) +: tiebreakCols.map(col): _*).as("__k"))
      .groupBy(col("__u"), col("__ty"))
      .agg(min(col("__k")).as("__kmin"), max(col("__k")).as("__kmax"))
    val pairs = perKT.select(col("__u"), col("__ty").as("type_a"),
        col("__kmin").as("__amin"))
      .join(perKT.select(col("__u"), col("__ty").as("type_b"),
        col("__kmax").as("__bmax")), Seq("__u"))
      .filter(col("type_a") =!= col("type_b"))
    pairs.groupBy(col("type_a"), col("type_b"))
      .agg(count(lit(1)).as("n_keys"),
        sum(when(col("__amin") < col("__bmax"), 1L).otherwise(0L))
          .as("__np"))
      .select(col("type_a"), col("type_b"), col("n_keys"),
        expr("__np * 1000000L DIV n_keys").as("support_ppm"))
  }
}

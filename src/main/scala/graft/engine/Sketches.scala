package graft.engine

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Fixed-memory cardinality sketches. Everything here is ENGINE-EXACT by
  * construction: the sketch state (which of `m` hash buckets are occupied)
  * is a deterministic function of the value set under the engine's shared
  * polynomial hash, so two engines that mirror the formula produce
  * bit-identical estimates — unlike library HLLs, whose register layouts
  * and hash seeds are implementation details no oracle can follow.
  */
object Sketches {

  /** Linear-counting distinct estimate per group (Whang et al.,
    * "A Linear-Time Probabilistic Counting Algorithm", TODS 1990):
    * hash each value into one of `m` buckets, count occupied buckets per
    * group, and estimate `n̂ = m · ln(m / empty)`. Output
    * `(groupCols…, occupied, est_distinct)`; a saturated sketch
    * (`empty = 0`, meaning `m` was sized below the true cardinality)
    * yields a null estimate rather than a fabricated number.
    *
    * Scale: the only wide op is one `(group, bucket)` DISTINCT — partial
    * (map-side) aggregation caps per-task state at `m` buckets per group,
    * and the post-distinct rowcount is ≤ `m · |groups|` regardless of
    * input size. That is the whole point: distinct-counting a 100 TB
    * column costs a bounded-size shuffle instead of a value-grain one.
    * Nulls are excluded (SQL COUNT DISTINCT convention). Estimate error
    * is the standard-error of linear counting (≈ √m·(e^t−t−1)/n for load
    * t = n/m); size `m` comfortably above the expected cardinality.
    */
  def linearCountDistinct(df: DataFrame, groupCols: Seq[String],
      valueCol: String, m: Int = 4096): DataFrame = {
    require(m >= 2, "need at least two buckets")
    val bucket: Column = pmod(
      graft.functions.PolyHash.polyhash(col(valueCol).cast("string")), lit(m))
    df.filter(col(valueCol).isNotNull)
      .select(groupCols.map(col) :+ bucket.as("__b"): _*)
      .distinct()
      .groupBy(groupCols.map(col): _*)
      .agg(count(lit(1)).as("occupied"))
      .withColumn("est_distinct", when(col("occupied") < m,
        round(lit(m.toDouble) * log(lit(m.toDouble) /
          (lit(m.toLong) - col("occupied")).cast("double"))).cast("bigint")))
  }

  /** Count-min-sketch heavy hitters (Cormode & Muthukrishnan, J.Alg 2005):
    * `d` hash rows × `w` buckets, bucket of row i = `polyhash("i#key") %
    * w`, estimate = min over the d rows of the bucket totals — a
    * one-sided overestimate (`est ≥ n` always, equality when no
    * collision in some row). Emits the top `k` keys by ESTIMATE
    * (`est DESC, key` total order) with the exact count alongside, so
    * the report doubles as sketch calibration: `est − n` is the
    * collision inflation at this (d, w).
    *
    * Engine-exact by the same argument as [[linearCountDistinct]]: the
    * sketch state is integer bucket totals under the shared portable
    * hash, so the estimate is deterministic and oracle-checkable, unlike
    * library CMS implementations with private seeds.
    *
    * Scale: the input collapses to key grain in ONE scan (map-side
    * partial aggregation does the heavy lifting); everything downstream
    * — the d-way explode, the `(row, bucket)` totals (≤ d·w rows
    * regardless of input), the min-join — runs on that key-grain frame,
    * which is pinned because two plan branches read it (the audit
    * rule). On a true stream the same
    * bucket totals would accumulate in `d·w` integers of state; this is
    * the batch face of that sketch.
    */
  def cmsTopK(df: DataFrame, keyCol: String, d: Int = 4, w: Int = 1024,
      k: Int = 50): DataFrame = Pins.scoped { s =>
    require(d >= 1 && w >= 2 && k >= 1, "need d >= 1, w >= 2, k >= 1")
    val counts = s.pin(df.filter(col(keyCol).isNotNull)
      .groupBy(col(keyCol).cast("string").as("key"))
      .agg(count(lit(1)).as("n")))
    val hashed = counts.select(col("key"), col("n"),
        explode(sequence(lit(0), lit(d - 1))).as("row"))
      .withColumn("bucket", pmod(graft.functions.PolyHash.polyhash(
        concat(col("row").cast("string"), lit("#"), col("key"))), lit(w)))
    val btot = hashed.groupBy(col("row"), col("bucket"))
      .agg(sum(col("n")).as("btot"))
    val est = hashed.join(btot, Seq("row", "bucket"))
      .groupBy(col("key")).agg(max(col("n")).as("n"),
        min(col("btot")).as("est"))
    // TakeOrdered-then-rank: the global cut is per-partition top-k + one
    // k-row merge, so the rank window only ever sees k rows — never the
    // full distinct-key frame (the vocabCoverage discipline).
    est
      .orderBy(col("est").desc, col("key").asc).limit(k)
      .withColumn("rank", row_number().over(org.apache.spark.sql.expressions
        .Window.orderBy(col("est").desc, col("key").asc)).cast("int"))
      .select(col("key"), col("n"), col("est"), col("rank"))
  }

  /** Bloom-filter membership audit — build a `d`-hash / `mBits`-bucket
    * Bloom filter over `members`, probe it with `probes`, and report the
    * one-row calibration summary: probe count, true members among
    * probes, filter hits, false positives, and the false-positive rate
    * (ppm over the non-member probes). No false negatives by
    * construction — every member probe hits — so `n_hits − n_members`
    * IS the false-positive count, and the report tells a user whether
    * (d, mBits) is sized right for their key cardinality BEFORE they
    * wire the filter into a join pre-screen.
    *
    * Engine-exact: the filter state is "which (row, bucket) cells are
    * set" under the shared portable hash (the [[cmsTopK]] salt
    * convention `row#key`), so the oracle rebuilds the identical bit
    * set in SQL.
    *
    * Scale: members collapse to key grain in one aggregate; the bit-set
    * frame is ≤ `d·mBits` rows REGARDLESS of member cardinality — that
    * bound is the entire point of a Bloom filter — and broadcasts to
    * the probe side, so probes are never shuffled; the exact-membership
    * check joins at probe-key grain. The one-row output ends the plan.
    */
  def bloomAudit(members: DataFrame, memberCol: String, probes: DataFrame,
      probeCol: String, d: Int = 3,
      mBits: Int = 4096): DataFrame = Pins.scoped { s =>
    require(d >= 1 && mBits >= 2, "need d >= 1, mBits >= 2")
    val keys = s.pin(members.filter(col(memberCol).isNotNull)
      .select(col(memberCol).cast("string").as("pkey")).distinct())
    val bits = keys
      .select(col("pkey"), explode(sequence(lit(0), lit(d - 1))).as("row"))
      .select(col("row"), pmod(graft.functions.PolyHash.polyhash(
        concat(col("row").cast("string"), lit("#"), col("pkey"))),
        lit(mBits)).as("bucket"))
      .distinct()
    val p = probes.filter(col(probeCol).isNotNull)
      .select(col(probeCol).cast("string").as("pkey")).distinct()
    val hits = p
      .select(col("pkey"), explode(sequence(lit(0), lit(d - 1))).as("row"))
      .withColumn("bucket", pmod(graft.functions.PolyHash.polyhash(
        concat(col("row").cast("string"), lit("#"), col("pkey"))),
        lit(mBits)))
      .join(broadcast(bits), Seq("row", "bucket"), "left_semi")
      .groupBy(col("pkey")).agg(count(lit(1)).as("__set"))
      .filter(col("__set") === d)
      .select(col("pkey")).withColumn("__h", lit(1L))
    p
      .join(keys.withColumn("__m", lit(1L)), Seq("pkey"), "left")
      .join(hits, Seq("pkey"), "left")
      .agg(count(lit(1)).as("n_probes"),
        sum(coalesce(col("__m"), lit(0L))).as("n_members"),
        sum(coalesce(col("__h"), lit(0L))).as("n_hits"),
        sum(when(col("__h") === 1L && col("__m").isNull, 1L)
          .otherwise(0L)).as("n_false_pos"))
      .withColumn("fp_ppm", expr("""CASE WHEN n_probes > n_members
        THEN (n_false_pos * 1000000) DIV (n_probes - n_members)
        ELSE NULL END"""))
  }

  /** HyperLogLog registers (Flajolet/Fusy/Gandouet/Meunier, AofA 2007)
    * under the engine hash: with `m = 2^p` buckets, a value's MIXED
    * hash `h < 2³⁰` splits into `bucket = h mod m` and quotient
    * `q = h div m` of width `W = 30 − p` bits; its rank is
    * `ρ = W + 1 − bitlength(q)` (all-zero quotient → `W + 1`), and
    * register `M_j` is the max ρ seen in bucket `j`.
    *
    * The mix is load-bearing: raw `polyhash` of a SHORT string is just
    * its base-31 value — small, so its quotient's "leading zeros" are
    * length, not randomness (measured 7.8× overestimate on numeric
    * ids). Multiplying by the Knuth constant mod the same prime (the
    * [[graft.llm.Shaping.rendezvousAssign]] mix) is a BIJECTION of
    * [0, P) that scatters those values, restoring the geometric rank
    * distribution (measured 1.7 % error at p = 8 on the same ids).
    * This table IS the
    * sketch's mergeable state: union of two corpora = elementwise max
    * of their register tables, and duplicates are absorbed by the max
    * — no distinct pass anywhere. Output is the FULL `m`-row axis
    * (absent buckets at register 0), engine-exact: bitlength is
    * integer `length(bin(q))`, no float enters the table.
    *
    * Scale: one map-side pass to (bucket, ρ) and a max-aggregate whose
    * state is ≤ `m` registers per task — distinct-counting a 100 TB
    * column costs an m-row shuffle. Nulls excluded (COUNT DISTINCT
    * convention).
    */
  def hllRegisters(df: DataFrame, valueCol: String,
      p: Int = 8): DataFrame = {
    require(p >= 4 && p <= 16, "need 4 <= p <= 16")
    val m = 1 << p
    val w = 30 - p
    val spark = df.sparkSession
    val regs = df.filter(col(valueCol).isNotNull)
      .select(pmod(graft.functions.PolyHash.polyhash(
          col(valueCol).cast("string")) * lit(2654435761L),
        lit(1000000007L)).as("__h"))
      .select(pmod(col("__h"), lit(m.toLong)).as("bucket"),
        expr(s"__h DIV $m").as("__q"))
      .select(col("bucket"), when(col("__q") === 0L, lit(w + 1))
        .otherwise(lit(w + 1) - length(bin(col("__q")))).as("__rho"))
      .groupBy(col("bucket")).agg(max(col("__rho")).as("__r"))
    spark.range(m).select(col("id").as("bucket"))
      .join(regs, Seq("bucket"), "left")
      .select(col("bucket").cast("int").as("bucket"),
        coalesce(col("__r"), lit(0)).cast("int").as("register"))
  }

  /** HyperLogLog cardinality estimate over [[hllRegisters]]: the raw
    * estimate `α_m·m²/Σ 2^(−M_j)` with the standard small-range
    * (linear-counting) correction when `raw ≤ 2.5m` and empty buckets
    * remain. The indicator sum is EXACT — every term is a dyadic
    * 2^(−M) with `M ≤ 23` and the sum of ≤ 2¹⁶ such terms needs < 40
    * mantissa bits, so IEEE addition is exact in ANY order and the
    * estimate is engine-stable; only the correction's `ln` is libm
    * territory, rounded 6 dp like every float the gate hashes. Output
    * one row `(m, n_zero, raw_est, est)`.
    */
  def hllEstimate(df: DataFrame, valueCol: String,
      p: Int = 8): DataFrame = {
    val m = 1 << p
    val alpha = lit(0.7213) / (lit(1.0) + lit(1.079) / m)
    hllRegisters(df, valueCol, p)
      .agg(sum(pow(lit(2.0), -col("register"))).as("__s"),
        sum(when(col("register") === 0, 1L).otherwise(0L)).as("n_zero"))
      .withColumn("raw_est", round(alpha * m * m / col("__s"), 6))
      .withColumn("est", round(
        when(col("raw_est") <= 2.5 * m && col("n_zero") > 0,
          lit(m.toDouble) * log(lit(m.toDouble) /
            col("n_zero").cast("double")))
          .otherwise(alpha * m * m / col("__s")), 6))
      .select(lit(m).as("m"), col("n_zero"), col("raw_est"), col("est"))
  }

  /** Grouped HyperLogLog estimate — one distinct-cardinality estimate per
    * group from per-group register state, WITHOUT materializing the full
    * `m`-row register axis per group: an occupied bucket always has rank
    * ρ ≥ 1 (the quotient's bitlength is ≤ W, so `ρ = W + 1 − bitlength`
    * never hits 0), so the indicator sum over the full axis decomposes as
    * `Σ_occupied 2^(−ρ) + (m − occupied)·2⁰` and `n_zero = m − occupied`
    * — two scalars per group, no grid join. The dyadic-sum exactness
    * argument of [[hllEstimate]] applies unchanged, and the per-group
    * state is still the mergeable register table (union = elementwise
    * max, absorbed by the max-aggregate).
    *
    * Output: `(groupCols…, m, n_zero, raw_est, est)` — groups with no
    * non-null values are absent (GROUP BY convention).
    *
    * Scale: one map-side pass to (group, bucket, ρ) with partial max,
    * then a ≤ `m`-rows-per-group aggregate — per-group distinct counts
    * over a 100 TB table cost an `m·|groups|`-row shuffle, the entire
    * point of running the sketch instead of COUNT DISTINCT per group.
    */
  def hllGroupedEstimate(df: DataFrame, groupCols: Seq[String],
      valueCol: String, p: Int = 8): DataFrame = {
    require(p >= 4 && p <= 16, "need 4 <= p <= 16")
    val m = 1 << p
    val w = 30 - p
    val alpha = lit(0.7213) / (lit(1.0) + lit(1.079) / m)
    df.filter(col(valueCol).isNotNull)
      .select(groupCols.map(col) :+
        pmod(graft.functions.PolyHash.polyhash(
            col(valueCol).cast("string")) * lit(2654435761L),
          lit(1000000007L)).as("__h"): _*)
      .select(groupCols.map(col) :+ pmod(col("__h"), lit(m.toLong))
        .as("__bucket") :+ expr(s"__h DIV $m").as("__q"): _*)
      .select(groupCols.map(col) :+ col("__bucket") :+
        (when(col("__q") === 0L, lit(w + 1))
          .otherwise(lit(w + 1) - length(bin(col("__q"))))).as("__rho"): _*)
      .groupBy((groupCols :+ "__bucket").map(col): _*)
      .agg(max(col("__rho")).as("__r"))
      .groupBy(groupCols.map(col): _*)
      .agg(count(lit(1)).as("__occ"),
        sum(pow(lit(2.0), -col("__r"))).as("__so"))
      .withColumn("n_zero", (lit(m.toLong) - col("__occ")))
      .withColumn("__s", col("__so") + col("n_zero").cast("double"))
      .withColumn("raw_est", round(alpha * m * m / col("__s"), 6))
      .withColumn("est", round(
        when(col("raw_est") <= 2.5 * m && col("n_zero") > 0,
          lit(m.toDouble) * log(lit(m.toDouble) /
            col("n_zero").cast("double")))
          .otherwise(alpha * m * m / col("__s")), 6))
      .select(groupCols.map(col) ++ Seq(lit(m).as("m"), col("n_zero"),
        col("raw_est"), col("est")): _*)
  }

  // ---- moments sketch (Gan et al., "Moment-Based Quantile Sketches for
  // Efficient High-Cardinality Aggregation Queries", VLDB 2018) ----

  /** Shared engine/oracle formula fragments for [[momentsQuantiles]] —
    * ONE copy parsed by BOTH Spark (`expr`) and DuckDB, so the IEEE
    * association order is identical by construction (the repo's shared-
    * fragment rule: a drifted copy would silently red only its gate).
    */
  val momentsDerivedSql: Seq[(String, String)] = Seq(
    "m1" -> "CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)",
    "m2" -> "CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE)",
    "m3" -> "CAST(s3 AS DOUBLE) / CAST(n AS DOUBLE)",
    "sigma" -> "sqrt(greatest(m2 - m1 * m1, CAST(0 AS DOUBLE)))",
    "skew" -> ("CASE WHEN sigma > 0 THEN (m3 - 3 * m1 * m2 + 2 * m1 * m1 * m1)" +
      " / (sigma * sigma * sigma) ELSE CAST(0 AS DOUBLE) END"),
    "w" -> "z + (z * z - CAST(1 AS DOUBLE)) / CAST(6 AS DOUBLE) * skew",
    "q_est" -> ("round(greatest(CAST(vmin AS DOUBLE), least(CAST(vmax AS DOUBLE)," +
      " m1 + sigma * w)), 6)"))

  /** Standard-normal quantiles for the default probe set (Cornish-Fisher
    * `z_p` constants; full-precision doubles shared with the oracle). */
  val quantileZ: Seq[(String, Double)] = Seq(
    "p25" -> -0.6744897501960817, "p50" -> 0.0,
    "p75" -> 0.6744897501960817, "p90" -> 1.2815515655446004)

  /** Moments sketch: per-group power sums `(n, Σx, Σx², Σx³, Σx⁴, min,
    * max)` over an INTEGER-VALUED column — the classic mergeable quantile
    * sketch state (Gan et al., VLDB 2018): constant size per group, union
    * of two sketches = elementwise sum (plus min/max), and quantiles are
    * recovered downstream ([[momentsQuantiles]]) without touching the
    * data again. Values are cast to DECIMAL(9,0) and every power sum
    * accumulates in DECIMAL(38,0), so the state is EXACT INTEGERS —
    * order-invariant under any partitioning, unlike a double sum whose
    * low bits depend on reduction order (the repo's float-determinism
    * discipline applied to sketch state).
    *
    * Output: `(groupCols…, n, s1, s2, s3, s4, vmin, vmax)`.
    *
    * Scale: ONE map-side-combined aggregate; per-group state is 7
    * numbers. This is the cheapest possible quantile-support sketch — a
    * 100 TB column collapses to |groups| rows in a single pass, vs the
    * value-grain shuffle an exact percentile needs.
    *
    * Magnitude contract (the batch twin of [[graft.streaming.Streaming
    * .momentsStream]]'s documented `|x| ≤ ~55k` long-sum bound): inputs
    * are clamped to DECIMAL(9,0), so the binding term is the s4 sum —
    * per-group it must satisfy `n · |x|⁴ < 10³⁸`. At the 10⁹ input cap
    * that is only ~100 rows; at |x| ≤ 10⁶ it holds past 10¹⁴ rows, and
    * at |x| ≤ 10⁷ past 10¹⁰. Past the bound a non-ANSI session returns
    * NULL power sums SILENTLY (ANSI mode raises); callers with
    * wide-magnitude columns should pre-scale to ≤10⁷ units before
    * sketching. The gate column (events.amount cents) sits at ≤10⁶.
    */
  def momentsSketch(df: DataFrame, groupCols: Seq[String],
      valueCol: String): DataFrame = {
    val v = col(valueCol).cast(org.apache.spark.sql.types.DecimalType(9, 0))
    val d38 = org.apache.spark.sql.types.DecimalType(38, 0)
    df.filter(col(valueCol).isNotNull)
      .select(groupCols.map(col) :+ v.as("__x"): _*)
      .groupBy(groupCols.map(col): _*)
      .agg(count(lit(1)).as("n"),
        sum(col("__x")).cast(d38).as("s1"),
        sum(col("__x") * col("__x")).cast(d38).as("s2"),
        sum(col("__x") * col("__x") * col("__x")).cast(d38).as("s3"),
        sum(col("__x") * col("__x") * col("__x") * col("__x")).cast(d38)
          .as("s4"),
        min(col("__x")).cast("bigint").as("vmin"),
        max(col("__x")).cast("bigint").as("vmax"))
  }

  /** Quantile estimates from a [[momentsSketch]] frame via the
    * Cornish-Fisher expansion: for each probe `p`, `q̂ = μ + σ·(z_p +
    * (z_p² − 1)/6 · γ)` clamped to the sketch's [min, max], where μ/σ/γ
    * derive from the exact integer moments. Every float op parses from
    * [[momentsDerivedSql]] on both engines, so association order — and
    * thus the 6-dp-rounded estimate — is bitwise shared. A zero-variance
    * group degenerates to `q̂ = μ` for every probe (skew forced to 0).
    *
    * Output: one row per (group, probe): `(groupCols…, q, q_est)`.
    *
    * Scale: pure arithmetic on the |groups|-row sketch frame; the probe
    * explode is a literal ≤ |probes| fan-out. Nothing rescans the data.
    */
  def momentsQuantiles(sketch: DataFrame, groupCols: Seq[String],
      probes: Seq[(String, Double)] = quantileZ): DataFrame = {
    val probeRows = array(probes.map { case (nm, z) =>
      struct(lit(nm).as("q"), lit(z).as("z"))
    }: _*)
    val derived = momentsDerivedSql.foldLeft(
      sketch.withColumn("__p", explode(probeRows))
        .withColumn("q", col("__p.q")).withColumn("z", col("__p.z"))) {
      case (acc, (name, formula)) => acc.withColumn(name, expr(formula))
    }
    derived.select(groupCols.map(col) ++ Seq(col("q"), col("q_est")): _*)
  }

  // ---- KMV / theta sketch (Bar-Yossef et al., "Counting Distinct
  // Elements in a Data Stream", RANDOM 2002; Beyer et al., SIGMOD 2007) --

  private def kmvHash(c: Column): Column =
    pmod(graft.functions.PolyHash.polyhash(c.cast("string"))
      * lit(2654435761L), lit(1000000007L))

  /** K-minimum-values sketch: per group, the `k` smallest DISTINCT mixed
    * hash values of `valueCol` — the theta-sketch family's state. The
    * sketch is mergeable (union = k smallest of the concatenation) and
    * engine-exact: integer hashes under the shared Knuth-mixed polyhash
    * (the [[hllRegisters]] mix — uniformity is load-bearing for the
    * estimator), deterministic ascending ranks. Hash collisions merge
    * values (both engines identically).
    *
    * Output: `(groupCols…, pos (1-based ascending), h)`, ≤ k rows/group.
    *
    * Scale: the value grain collapses to (group, h) DISTINCT with
    * map-side partials, then a per-group window bounded by the group's
    * distinct count; downstream consumers only ever see ≤ k·|groups|
    * rows. The dedup exchange is pinned at the data-derived
    * [[graft.engine.Pins.loopParts]] count: with few groups, AQE's
    * byte-targeted coalescing collapsed the final dedup + the partial
    * WindowGroupLimit sort (CPU-bound, tiny-bytes — the q210/q195 class)
    * to 2 tasks; the pin keeps them parallel and clamps to the session
    * constant at scale (today's behavior). The rank-limit partial then
    * bounds the per-group window's input at k rows per dedup partition.
    */
  def kmvSketch(df: DataFrame, groupCols: Seq[String], valueCol: String,
      k: Int = 64): DataFrame = {
    require(k >= 2, "need k >= 2")
    val pre = df.filter(col(valueCol).isNotNull)
      .select(groupCols.map(col) :+ kmvHash(col(valueCol)).as("h"): _*)
    val keys = groupCols.map(col) :+ col("h")
    pre.repartition(graft.engine.Pins.loopParts(pre), keys: _*)
      .dropDuplicates(groupCols :+ "h")
      .withColumn("pos", row_number().over(org.apache.spark.sql.expressions
        .Window.partitionBy(groupCols.map(col): _*).orderBy(col("h")))
        .cast("int"))
      .filter(col("pos") <= k)
      .select(groupCols.map(col) ++ Seq(col("pos"), col("h")): _*)
  }

  /** Distinct-count estimate from a [[kmvSketch]]: with a full sketch the
    * k-th minimum hash `h_k` estimates `n̂ = (k−1)·P / h_k` (P = the hash
    * modulus); an unsaturated sketch (fewer than `k` distinct hashes) IS
    * the exact distinct set, so the estimate is its size. Output
    * `(groupCols…, n_kept, kth_min, est_distinct)`.
    */
  def kmvDistinct(df: DataFrame, groupCols: Seq[String], valueCol: String,
      k: Int = 64): DataFrame =
    kmvSketch(df, groupCols, valueCol, k)
      .groupBy(groupCols.map(col): _*)
      .agg(count(lit(1)).cast("int").as("n_kept"), max(col("h")).as("kth_min"))
      .withColumn("est_distinct", round(
        when(col("n_kept") < k, col("n_kept").cast("double"))
          .otherwise(expr(s"CAST(${k - 1} AS DOUBLE) * 1000000007" +
            " / CAST(kth_min AS DOUBLE)")), 6))

  /** Pairwise set-similarity estimate between groups from their
    * [[kmvSketch]]es (the theta-sketch intersection trick, Beyer et al.
    * SIGMOD 2007): for each group pair (a < b), take the `k` smallest
    * hashes of the UNION of the two sketches; the fraction of those also
    * present in BOTH sketches estimates the Jaccard similarity. All-
    * integer until the final ratio. Output: `(ga, gb, n_union, n_common,
    * jaccard_est)` for every group pair.
    *
    * Scale: runs entirely on the ≤ k·|groups|-row sketch — |groups|²/2
    * pairs × ≤ 2k rows, INDEPENDENT of corpus size. That is the point:
    * pairwise source overlap on a 100 TB corpus costs one sketch pass
    * plus sketch-grain joins (the sketch frame broadcasts).
    */
  def kmvPairSimilarity(df: DataFrame, groupCol: String, valueCol: String,
      k: Int = 64): DataFrame = {
    val sk = Pins.pin(kmvSketch(df, Seq(groupCol), valueCol, k)
      .select(col(groupCol).as("g"), col("h")))
    val gs = sk.select(col("g")).distinct()
    val pairs = gs.select(col("g").as("ga"))
      .join(gs.select(col("g").as("gb")), col("ga") < col("gb"))
    val ua = pairs.join(broadcast(sk), col("ga") === col("g"))
      .select(col("ga"), col("gb"), col("h"), lit(1).as("ia"), lit(0).as("ib"))
    val ub = pairs.join(broadcast(sk), col("gb") === col("g"))
      .select(col("ga"), col("gb"), col("h"), lit(0).as("ia"), lit(1).as("ib"))
    ua.unionByName(ub)
      .groupBy(col("ga"), col("gb"), col("h"))
      .agg(max(col("ia")).as("ia"), max(col("ib")).as("ib"))
      .withColumn("pos", row_number().over(org.apache.spark.sql.expressions
        .Window.partitionBy(col("ga"), col("gb")).orderBy(col("h"))))
      .filter(col("pos") <= k)
      .groupBy(col("ga"), col("gb"))
      .agg(count(lit(1)).cast("int").as("n_union"),
        sum(col("ia") * col("ib")).cast("int").as("n_common"))
      .withColumn("jaccard_est", round(
        expr("CAST(n_common AS DOUBLE) / CAST(n_union AS DOUBLE)"), 6))
  }

  // ---- log-bucket histogram sketch (DDSketch-style relative-error
  // quantiles — Masson/Rim/Lee, "DDSketch: A Fast and Fully-Mergeable
  // Quantile Sketch with Relative-Error Guarantees", VLDB 2019 — on an
  // integer-exact bucket lattice) ----

  /** Log-bucket histogram over a positive INTEGER-VALUED column: bucket
    * of `x ≥ 1` is `(e, sub)` with `e = ⌊log₂ x⌋` and
    * `sub = ⌊(x − 2^e)·s / 2^e⌋ ∈ [0, s)` — `s` geometric sub-buckets
    * per octave, i.e. a DDSketch with `γ = 2^(1/s)` whose bucket
    * mapping is EXACT INTEGER arithmetic (`e` from `length(bin(x))`,
    * `sub` from one integer multiply-divide) instead of a libm
    * `⌈log_γ x⌉` — no float enters the state, so two engines bucket
    * bit-identically, which no floating DDSketch can promise.
    * Non-positive values collapse into the sentinel bucket
    * `(e, sub) = (−1, 0)`. Relative error of a bucket-midpoint read is
    * ≤ (γ−1)/2 ≈ ln2/(2s).
    *
    * Output: `(groupCols…, e, sub, pw = 2^e (0 for the sentinel),
    * cnt)` — mergeable state (union = summed cnt on the shared lattice).
    *
    * Scale: ONE map-side-combined aggregate; per-group state is
    * ≤ s·64 + 1 buckets regardless of input size — quantiles over a
    * 100 TB column for the cost of a bounded-width shuffle, the same
    * contract as [[momentsSketch]] but with relative-error control
    * instead of moment-model assumptions.
    */
  def logHistogramSketch(df: DataFrame, groupCols: Seq[String],
      valueCol: String, s: Int = 8): DataFrame = {
    require(s >= 1 && s <= 4096, "need 1 <= s <= 4096")
    df.filter(col(valueCol).isNotNull)
      .select(groupCols.map(col) :+
        col(valueCol).cast("bigint").as("__x"): _*)
      .withColumn("e", when(col("__x") < 1L, lit(-1))
        .otherwise(length(bin(col("__x"))) - 1).cast("int"))
      .withColumn("pw", when(col("e") < 0, lit(0L))
        .otherwise(expr("shiftleft(CAST(1 AS BIGINT), e)")))
      .withColumn("sub", when(col("e") < 0, lit(0))
        .otherwise(expr(s"((__x - pw) * $s) DIV pw")).cast("int"))
      .groupBy(groupCols.map(col) ++ Seq(col("e"), col("sub"),
        col("pw")): _*)
      .agg(count(lit(1)).as("cnt"))
  }

  /** Shared engine/oracle formula for the [[logHistogramSketch]] bucket
    * midpoint estimate at sub-bucket width `s` (ONE copy parsed by both
    * engines — the repo's shared-fragment rule). The bucket spans
    * `[pw·(s+sub)/s, pw·(s+sub+1)/s)`; the midpoint numerator
    * `pw·(2(s+sub)+1)` is exact integer, so the single divide is the
    * only float op. */
  def logHistMidpointSql(s: Int): String =
    s"CASE WHEN e < 0 THEN CAST(0 AS DOUBLE) ELSE " +
      s"round(CAST(pw * (2 * ($s + sub) + 1) AS DOUBLE) " +
      s"/ CAST(${2 * s} AS DOUBLE), 6) END"

  /** Quantile estimates from a [[logHistogramSketch]] frame: for each
    * probe `p = num/1000`, the target rank is `r = ⌈p·n⌉` (exact
    * integer: `(num·n + 999) DIV 1000`) and the answer is the midpoint
    * of the FIRST lattice bucket (ascending `(e, sub)`) whose
    * cumulative count reaches `r` — an integer-exact selection; the
    * midpoint formula is [[logHistMidpointSql]] on both engines.
    *
    * Output: one row per (group, probe): `(groupCols…, q, q_est)`.
    *
    * Scale: pure bucket-grain arithmetic — one window over ≤ s·64
    * rows per group and a ≤ |probes| literal fan-out; the data is
    * never rescanned.
    */
  def logHistogramQuantiles(sketch: DataFrame, groupCols: Seq[String],
      s: Int = 8,
      probes: Seq[(String, Int)] = Seq("p25" -> 250, "p50" -> 500,
        "p75" -> 750, "p90" -> 900, "p99" -> 990)): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(groupCols.map(col): _*)
      .orderBy(col("e"), col("sub"))
    val cum = sketch
      .withColumn("__cum", sum(col("cnt")).over(w))
      .withColumn("__n", sum(col("cnt")).over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(groupCols.map(col): _*)))
    val probeRows = array(probes.map { case (nm, num) =>
      struct(lit(nm).as("q"), lit(num).as("num"))
    }: _*)
    val hit = cum.withColumn("__p", explode(probeRows))
      .withColumn("q", col("__p.q")).withColumn("num", col("__p.num"))
      .withColumn("__r", expr("(num * __n + 999) DIV 1000"))
      .filter(col("__cum") >= col("__r"))
      .withColumn("__pick", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(groupCols.map(col) :+ col("q"): _*)
          .orderBy(col("e"), col("sub"))))
      .filter(col("__pick") === 1)
    hit.withColumn("q_est", expr(logHistMidpointSql(s)))
      .select(groupCols.map(col) ++ Seq(col("q"), col("q_est")): _*)
  }

  // ---- AMS / tug-of-war F₂ sketch (Alon, Matias, Szegedy, "The Space
  // Complexity of Approximating the Frequency Moments", STOC 1996) ----

  /** AMS second-frequency-moment sketch over a key column (the STOC
    * 1996 median-of-means shape): `d · g` tug-of-war estimators, each
    * `z_j = Σ_key s_j(key) · f(key)` with sign `s_j(key) ∈ {−1,+1}`
    * from the parity of the Knuth-mixed engine hash of `"j#key"`;
    * estimators are averaged in `d` groups of `g` (each `z²` is an
    * unbiased F₂ estimate with variance ≤ 2F₂², so a g-mean halves the
    * spread g-fold) and the F₂ estimate is the MEDIAN of the group
    * means — a plain median of single `z²`s would sit ~45 % low, since
    * `z²` is F₂·χ²₁ and χ²₁'s median is 0.455.
    *
    * The sign is the parity of a DEGREE-3 polynomial
    * `a₃x³ + a₂x² + a₁x + a₀ mod P` in the mixed key hash `x`, with
    * per-estimator coefficients hashed from `"ai#j"` — the 4-wise-
    * independent family the AMS variance bound actually requires. The
    * first cut used the parity of the linear mix itself and measured
    * 88 % LOW: adding an odd constant mod an odd prime flips parity
    * except on wraparound, so consecutive integer keys got alternating
    * signs and their near-equal counts telescoped — a textbook
    * linear-hash failure worth keeping on record. F₂ = Σ f² is exactly
    * the self-join row count on `keyCol` — this sketch prices `R ⋈ R`
    * (and, with two frames, `R ⋈ S`) before anyone runs it, which at
    * 100 TB is the difference between planning a join and discovering
    * a key blow-up in production. The exact F₂ is emitted alongside
    * (the [[cmsTopK]] calibration convention), so the report doubles
    * as an estimator-quality check at this `(d, g)`.
    *
    * Engine-exact estimator internals: counts, signs, `z_j`, squares,
    * the `DIV g` group mean and the median pick are all integers under
    * the shared hash. Only the final `err_ppm` readout is a rounded
    * DOUBLE ratio (a BIGINT ppm would wrap past F₂ ≈ 9.2e12).
    *
    * Output: ONE row `(d, g, f2_est, f2_exact, err_ppm)` where
    * `err_ppm` is the signed estimate error in ppm of the exact value.
    *
    * Scale: the input collapses to key grain in one map-side-combined
    * aggregate; the `d·g`-way explode and everything after run on that
    * key-grain frame, and each estimator's state is ONE integer — on a
    * true stream the whole sketch is `d·g` longs.
    */
  def amsF2(df: DataFrame, keyCol: String, d: Int = 5,
      g: Int = 16): DataFrame = Pins.scoped { s =>
    require(d >= 1 && d % 2 == 1, "need odd d >= 1")
    require(g >= 1, "need g >= 1")
    val counts = s.pin(df.filter(col(keyCol).isNotNull)
      .groupBy(col(keyCol).cast("string").as("key"))
      .agg(count(lit(1)).as("n")))
    val P = 1000000007L
    val K = 2654435761L
    def coef(i: Int): Column = pmod(graft.functions.PolyHash.polyhash(
      concat(lit(s"a$i#"), col("j").cast("string"))) * lit(K), lit(P))
    val z = counts
      .select(col("key"), col("n"),
        explode(sequence(lit(0), lit(d * g - 1))).as("j"))
      .withColumn("__x", pmod(graft.functions.PolyHash.polyhash(
        col("key")) * lit(K), lit(P)))
      .withColumn("__x2", pmod(col("__x") * col("__x"), lit(P)))
      .withColumn("__x3", pmod(col("__x2") * col("__x"), lit(P)))
      .withColumn("__s", pmod(pmod(coef(0)
          + pmod(coef(1) * col("__x"), lit(P))
          + pmod(coef(2) * col("__x2"), lit(P))
          + pmod(coef(3) * col("__x3"), lit(P)), lit(P)),
        lit(2L)) * 2L - 1L)
      .groupBy(col("j")).agg(sum(col("__s") * col("n")).as("z"))
      .withColumn("__grp", expr(s"j DIV $g"))
      .groupBy(col("__grp"))
      .agg(expr(s"sum(z * z) DIV $g").as("gm"))
      .withColumn("__rk", row_number().over(org.apache.spark.sql
        .expressions.Window.orderBy(col("gm"), col("__grp"))))
      .filter(col("__rk") === (d + 1) / 2)
      .select(col("gm").as("f2_est"))
    // Purely defensive coalesce: when counts is empty, z is empty too,
    // so the crossJoin below yields zero rows either way.
    val exact = counts.agg(
      coalesce(sum(col("n") * col("n")), lit(0L)).as("f2_exact"))
    // err_ppm through DOUBLE: a BIGINT (est - exact) * 1000000 wraps
    // silently once F2 passes ~9.2e12 — well inside the 100 TB regime.
    // The double ratio stays a faithful ppm readout at any magnitude.
    z.crossJoin(exact)
      .select(lit(d).as("d"), lit(g).as("g"), col("f2_est"),
        col("f2_exact"),
        expr("CASE WHEN f2_exact > 0 THEN round(CAST(f2_est - f2_exact " +
          "AS DOUBLE) * 1000000.0 / CAST(f2_exact AS DOUBLE), 6) END")
          .as("err_ppm"))
  }

  /** Equi-join cardinality estimate from count-min inner products
    * (Alon/Gibbons/Matias/Szegedy, PODS 1999 for the inner-product
    * view; Cormode & Muthukrishnan, J.Alg 2005 for the CM form):
    * sketch BOTH join sides into `d × w` bucket-count tables under the
    * shared salted hash (`row#key`, the [[cmsTopK]] convention), and
    * estimate `|A ⋈ B| = Σ_k f_A(k)·f_B(k)` as the MIN over the `d`
    * rows of `Σ_b ctA[r,b]·ctB[r,b]` — a one-sided overestimate
    * (collisions only add mass), exact when no row has a cross-key
    * collision. The exact join size is emitted alongside (the
    * [[cmsTopK]] calibration convention). This is the two-table
    * companion of [[amsF2]]: price a fact⋈fact join from two
    * `d·w`-integer sketches BEFORE running it — at 100 TB the
    * difference between planning a join and discovering a key blow-up
    * in production.
    *
    * Engine-exact estimator internals: bucket totals and products are
    * integers under the shared hash. Only the final `err_ppm` readout
    * is a rounded DOUBLE ratio (BIGINT ppm wraps past ~9.2e12).
    *
    * Output: ONE row `(d, w, est, exact, err_ppm)`.
    *
    * Scale: each side collapses to key grain in one map-side-combined
    * aggregate; the sketch tables are ≤ d·w rows REGARDLESS of input,
    * the inner product joins them on (row, bucket), and the exact term
    * joins the two key-grain frames on the key — the only shuffle
    * proportional to data is the two key-grain collapses.
    */
  def cmsJoinSize(dfA: DataFrame, keyA: String, dfB: DataFrame,
      keyB: String, d: Int = 4, w: Int = 256): DataFrame = Pins.scoped { s =>
    require(d >= 1 && w >= 2, "need d >= 1, w >= 2")
    def keyCounts(df: DataFrame, k: String): DataFrame =
      df.filter(col(k).isNotNull)
        .groupBy(col(k).cast("string").as("key"))
        .agg(count(lit(1)).as("n"))
    def table(counts: DataFrame): DataFrame = counts
      .select(col("key"), col("n"),
        explode(sequence(lit(0), lit(d - 1))).as("row"))
      .withColumn("bucket", pmod(graft.functions.PolyHash.polyhash(
        concat(col("row").cast("string"), lit("#"), col("key"))),
        lit(w)))
      .groupBy(col("row"), col("bucket"))
      .agg(sum(col("n")).as("ct"))
    val ca = s.pin(keyCounts(dfA, keyA))
    val cb = s.pin(keyCounts(dfB, keyB))
    val ipRows = table(ca).withColumnRenamed("ct", "cta")
      .join(table(cb).withColumnRenamed("ct", "ctb"),
        Seq("row", "bucket"))
      .groupBy(col("row")).agg(sum(col("cta") * col("ctb")).as("ip"))
    // Left-join from the full d-row axis: a hash row whose bucket sets
    // share nothing has inner product 0 (and must drive est to 0, e.g.
    // when one side is empty) — the bare inner join would drop it and
    // min(ip) would silently range over fewer than d rows.
    val rowAxis = dfA.sparkSession.range(d)
      .select(col("id").cast("int").as("row"))
    val est = rowAxis.join(ipRows, Seq("row"), "left")
      .agg(min(coalesce(col("ip"), lit(0L))).as("est"))
    val exact = ca.join(cb.withColumnRenamed("n", "nb"), Seq("key"))
      .agg(coalesce(sum(col("n") * col("nb")), lit(0L)).as("exact"))
    // err_ppm through DOUBLE: BIGINT (est - exact) * 1000000 wraps
    // silently once the join size passes ~9.2e12 — well inside the
    // 100 TB regime (same rationale as [[amsF2]]).
    est.crossJoin(exact)
      .select(lit(d).as("d"), lit(w).as("w"), col("est"), col("exact"),
        expr("CASE WHEN exact > 0 THEN round(CAST(est - exact " +
          "AS DOUBLE) * 1000000.0 / CAST(exact AS DOUBLE), 6) END")
          .as("err_ppm"))
  }

  /** Cross-column inclusion coefficients from KMV/theta sketches —
    * join-key discovery over a lake (Zhu et al., "LSH Ensemble:
    * Internet-Scale Domain Search", VLDB 2016 frames the problem;
    * estimator is the theta-sketch θ-restriction of Beyer et al.,
    * SIGMOD 2007): sketch every named column once, then for each
    * ordered pair (a, b) restrict BOTH sketches to hashes below
    * `θ = min(θ_a, θ_b)` (θ_g = the g-sketch's k-th minimum, or the
    * full hash modulus when unsaturated) — within that common window
    * the sketches are exact distinct samples, so
    * `containment(a ⊆ b) ≈ |A∩B below θ| / |A below θ|` is a ratio of
    * plain integer counts (θ cancels). A high-containment pair IS a
    * foreign-key candidate.
    *
    * Output: `(col_a, col_b, n_a, n_common, containment_est)` for
    * every ordered pair of distinct column names.
    *
    * Scale: each column costs one sketch pass (map-side distinct on
    * ≤ k hashes/group); the pair stage runs on the ≤ k·|cols| sketch
    * frame ONLY — profiling every candidate join edge of a 100 TB
    * lake never touches value grain again, which is the entire reason
    * catalogs sketch columns instead of joining them to find out.
    */
  def kmvInclusion(cols: Seq[(String, DataFrame, String)],
      k: Int = 128): DataFrame = {
    require(cols.size >= 2, "need at least two columns")
    require(cols.map(_._1).distinct.size == cols.size,
      "column names must be unique")
    val prime = 1000000007L
    val union = cols.map { case (name, df, c) =>
      df.filter(col(c).isNotNull)
        .select(lit(name).as("colname"), col(c).cast("string").as("v"))
    }.reduce(_ unionByName _)
    val sk = Pins.pin(kmvSketch(union, Seq("colname"), "v", k)
      .select(col("colname"), col("h")))
    val theta = sk.groupBy(col("colname"))
      .agg(count(lit(1)).as("__nk"), max(col("h")).as("__kth"))
      .withColumn("__theta",
        when(col("__nk") < k, lit(prime)).otherwise(col("__kth")))
      .select(col("colname"), col("__theta"))
    val names = theta.select(col("colname"), col("__theta"))
    val pairs = names.select(col("colname").as("col_a"),
        col("__theta").as("__ta"))
      .join(names.select(col("colname").as("col_b"),
        col("__theta").as("__tb")), col("col_a") =!= col("col_b"))
      .withColumn("__theta", least(col("__ta"), col("__tb")))
    val aIn = pairs.join(broadcast(sk), col("col_a") === col("colname"))
      .filter(col("h") < col("__theta"))
      .select(col("col_a"), col("col_b"), col("h"))
    val common = aIn.join(broadcast(sk.select(col("colname").as("col_b"),
        col("h"))), Seq("col_b", "h"), "left_semi")
      .groupBy(col("col_a"), col("col_b"))
      .agg(count(lit(1)).as("n_common"))
    aIn.groupBy(col("col_a"), col("col_b"))
      .agg(count(lit(1)).as("n_a"))
      .join(common, Seq("col_a", "col_b"), "left")
      .withColumn("n_common", coalesce(col("n_common"), lit(0L)))
      .withColumn("containment_est", round(
        expr("CAST(n_common AS DOUBLE) / CAST(n_a AS DOUBLE)"), 6))
  }
}

package graft.engine

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The three genuine join semantics in the reference (SURVEY §2.3) plus the
  * many-regions bbox clip, each expressed so Catalyst picks a scalable
  * physical plan: broadcast for dimension-sized sides, shuffle hash/SMJ for
  * fact-fact.
  */
object Joins {

  /** OP-JOIN-1 — nearest-neighbor 1-D coordinate match
    * (`dataset.py:122-136`, `:224-235`): for each distinct left coordinate,
    * the closest right coordinate. Both coordinate sets are *distinct value
    * lists* (≤ thousands at planetary grid resolution), so the scalable plan
    * is a broadcast cross product of the two small distinct sets + a
    * row_number(=1) over (|Δ|, right value) — the value tiebreak replicates
    * the reference's deterministic nearest choice while staying
    * order-stable. Returns a 2-column mapping table to equi-join back onto
    * the fact table (which is where the 100 TB lives — the heavy side is
    * never shuffled by this operator).
    */
  def nearestCoordMapping(left: DataFrame, leftCol: String, right: DataFrame,
      rightCol: String, outCol: String): DataFrame = {
    val l = left.select(col(leftCol)).distinct()
    val r = right.select(col(rightCol)).distinct()
    val w = Window.partitionBy(col(leftCol))
      .orderBy(abs(col(leftCol) - col(rightCol)), col(rightCol))
    l.join(broadcast(r))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .select(col(leftCol), col(rightCol).as(outCol))
  }

  /** OP-JOIN-2 — enrichment equi-join of the hourly fact cube against a
    * small monthly side table (CO₂/WTD pattern, `dataset.py:36-114`): side
    * is months × coarse grid ⇒ always broadcast; the fact table streams
    * through a BroadcastHashJoin with zero shuffle.
    */
  def enrich(fact: DataFrame, side: DataFrame, keys: Seq[String],
      broadcastSide: Boolean = true): DataFrame =
    // broadcastSide=false opts out of the hint when the side table outgrows
    // the broadcast bound (months × 0.25° global grid × decades ≈ 10⁸ rows);
    // Spark then falls back to a shuffled hash/SMJ which AQE can still
    // convert back to broadcast at runtime if stats allow.
    fact.join(if (broadcastSide) broadcast(side) else side, keys, "left")

  /** OP-JOIN-3 — gap-fill alignment join (`core.py:276-295`): station frame
    * left-joined with converted ERA5 predictors on timestamp. Both sides are
    * keyed by the same hourly timestamps; at scale this is a co-partitioned
    * sort-merge join on the time key.
    */
  def gapfillAlign(station: DataFrame, era5: DataFrame,
      timeCol: String): DataFrame =
    station.join(era5, Seq(timeCol), "left")

  /** OP-FLT-5 generalized — many-regions bounding-box clip as a range join:
    * grid point ∈ [s,n]×[w,e]. Regions are dimension-sized ⇒ broadcast
    * nested-loop with the range predicate; each grid partition scans the
    * (tiny) region list, no shuffle of the grid.
    */
  def bboxClip(grid: DataFrame, regions: DataFrame, latCol: String,
      lonCol: String): DataFrame =
    grid.join(broadcast(regions),
      col(latCol).between(col("s"), col("n")) &&
        col(lonCol).between(col("w"), col("e")), "inner")

  /** Corner-snap coordinate pair: for each region, snap `hiCol` to the
    * nearest distinct grid value, then snap `loCol` to the nearest grid
    * value EXCLUDING the hi snap (the reference's `prev` exclusion,
    * `dataset.py:225-230` — guarantees the two corners land on distinct
    * grid points); a single-valued grid falls back to that one point, as
    * the reference does when the exclusion filters the axis empty. Ties on
    * |Δ| break toward the smaller coordinate (order-stable; the reference
    * inherits numpy array order, which tie-free data makes identical).
    * Everything here is distinct-coordinate-sized — planetary-grid axes
    * are ≤ thousands of values, so these are broadcast cross products.
    */
  private def cornerSnapPair(regions: DataFrame, idCol: String,
      hiCol: String, loCol: String, gridVals: DataFrame,
      outHi: String, outLo: String): DataFrame = {
    val v = broadcast(gridVals)
    val hiW = Window.partitionBy(col(idCol))
      .orderBy(abs(col("v") - col(hiCol)), col("v"))
    val hi = regions.select(col(idCol), col(hiCol)).join(v)
      .withColumn("__rn", row_number().over(hiW))
      .filter(col("__rn") === 1)
      .select(col(idCol), col("v").as(outHi))
    val loW = Window.partitionBy(col(idCol))
      .orderBy(abs(col("v") - col(loCol)), col("v"))
    val lo = regions.select(col(idCol), col(loCol)).join(v)
      .join(broadcast(hi), Seq(idCol))
      .filter(col("v") =!= col(outHi))
      .withColumn("__rn", row_number().over(loW))
      .filter(col("__rn") === 1)
      .select(col(idCol), col("v").as(outLo))
    hi.join(broadcast(lo), Seq(idCol), "left")
      .select(col(idCol), col(outHi),
        coalesce(col(outLo), col(outHi)).as(outLo))
  }

  /** OP-FLT-5 exact variant — the reference's snap-corners-then-remap clip
    * (`filter_coordinates`, `dataset.py:171-230`): each region's bbox
    * corners snap to grid coordinates via [[cornerSnapPair]] (with the
    * `prev`-exclusion tie rule), the 2×2 corner cells are selected, and
    * the snapped coordinates are REMAPPED to the region's true bbox values
    * (`coord_mapping`, `dataset.py:196-210` — lo wins a hi/lo collision,
    * matching the dict's last-write). `regions` must carry `idCol`,
    * lat_max/lat_min/lon_max/lon_min.
    *
    * Scale shape: snaps are distinct-coordinate × regions (dimension-sized
    * broadcast work); the grid — where the 100 TB lives — is touched once
    * by a broadcast join on the per-region corner spec and never shuffled.
    *
    * @note the coordinate-axis extraction scan EXECUTES EAGERLY when this
    *       method is called (driver-collected axis lists), not when the
    *       returned frame is consumed. Coordinates must be grid-quantized
    *       (bounded distinct values per axis) — see the body comment.
    */
  def cornerSnapClip(grid: DataFrame, regions: DataFrame, idCol: String,
      latCol: String, lonCol: String): DataFrame = {
    // ONE fact scan extracts BOTH coordinate axes: collect_set partial
    // aggregation keeps every per-partition set bounded by axis cardinality
    // (a planetary grid has ≤ thousands of distinct values per axis), so
    // the shuffle moves axis-sized sets, not rows. The axes then live as
    // driver-local dimension tables — catalog-sized, the same contract as
    // the anchors/regions collects elsewhere — so the snap passes are pure
    // broadcast work with no cache to pin or checkpoint. The fact is thus
    // touched exactly twice (axis scan + final broadcast clip), never
    // shuffled. Null coordinates never snap (collect_set drops nulls).
    //
    // PRECONDITION (the reference's too, dataset.py:171-230): coordinates
    // are GRID-QUANTIZED — corner snapping is only meaningful against a
    // shared axis. Jittered point clouds (unbounded distinct coordinates)
    // don't fit this operator; match them with nearestCoordMapping, whose
    // distinct() stays distributed. Note the axis scan runs EAGERLY when
    // this function is called (.head()), not when the result is consumed.
    val spark = grid.sparkSession
    val axesRow = grid.agg(collect_set(col(latCol)).as("lats"),
      collect_set(col(lonCol)).as("lons")).head()
    def axisFrame(values: Seq[Any], dt: org.apache.spark.sql.types.DataType) =
      spark.createDataFrame(
        java.util.Arrays.asList(values.map(org.apache.spark.sql.Row(_)): _*),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("v", dt, nullable = false))))
    val lats = axisFrame(axesRow.getSeq[Any](0), grid.schema(latCol).dataType)
    val lons = axisFrame(axesRow.getSeq[Any](1), grid.schema(lonCol).dataType)
    val latSpec = cornerSnapPair(regions, idCol, "lat_max", "lat_min", lats,
      "lat_hi_snap", "lat_lo_snap")
    val lonSpec = cornerSnapPair(regions, idCol, "lon_max", "lon_min", lons,
      "lon_hi_snap", "lon_lo_snap")
    val spec = regions.join(broadcast(latSpec), Seq(idCol))
      .join(broadcast(lonSpec), Seq(idCol))
    grid.join(broadcast(spec),
      (col(latCol) === col("lat_hi_snap") ||
        col(latCol) === col("lat_lo_snap")) &&
      (col(lonCol) === col("lon_hi_snap") ||
        col(lonCol) === col("lon_lo_snap")), "inner")
      .withColumn("latitude",
        when(col(latCol) === col("lat_lo_snap"), col("lat_min"))
          .otherwise(col("lat_max")))
      .withColumn("longitude",
        when(col(lonCol) === col("lon_lo_snap"), col("lon_min"))
          .otherwise(col("lon_max")))
      .drop("lat_hi_snap", "lat_lo_snap", "lon_hi_snap", "lon_lo_snap",
        "lat_max", "lat_min", "lon_max", "lon_min")
  }

  /** OP-FLT-7 — temporal-eligibility semi-join (`dataset.py:49-50`): keep
    * fact months present in the eligibility set.
    */
  def semiOnKeys(fact: DataFrame, eligible: DataFrame,
      keys: Seq[String]): DataFrame =
    fact.join(eligible, keys, "left_semi")

  /** Salted equi-join for skewed fact keys joining a side too large to
    * broadcast: the fact side gets a DETERMINISTIC salt (hash of the whole
    * row — `rand()` would break retries and re-runs), the side is exploded
    * across all salt buckets, and the join key becomes (keys..., salt).
    * A hot fact key thus spreads over `buckets` reducers instead of one.
    * AQE's skew-join split handles moderate skew automatically; this is
    * the explicit tool for the pathological hot-key case.
    */
  def saltedEquiJoin(fact: DataFrame, side: DataFrame, keys: Seq[String],
      buckets: Int, joinType: String = "inner"): DataFrame = {
    // right/full outer would emit one null-padded row PER SALT for every
    // unmatched side row (the side is exploded `buckets` times)
    require(Set("inner", "left", "leftouter", "leftsemi", "leftanti", "cross")
      .contains(joinType.toLowerCase.replace("_", "")),
      s"saltedEquiJoin supports fact-preserving join types only, got $joinType")
    val saltedFact = fact.withColumn("__salt",
      pmod(xxhash64(fact.columns.map(col): _*), lit(buckets)).cast("int"))
    val saltedSide = side.withColumn("__salt",
      explode(sequence(lit(0), lit(buckets - 1))))
    saltedFact.join(saltedSide, keys :+ "__salt", joinType).drop("__salt")
  }

  private val pow2: Array[Long] = Array.tabulate(64)(i => 1L << i)

  /** Bloom-pruned equi-join: filter the fact side through a Bloom filter
    * of the dim side's join keys BEFORE the join, then join exactly. The
    * result is IDENTICAL to the plain inner join (a Bloom filter has no
    * false negatives; false positives just reach the join and miss), so
    * the oracle for this operator is the plain join itself — what the
    * filter buys is that the shuffle after a selective dim predicate
    * carries only `fpRate + matchRate` of the fact rows instead of all of
    * them, the classic semi-join reduction when the dim side is too big
    * to broadcast whole but its KEY SET fits a few KB of bits.
    *
    * Build shape: k positions per distinct dim key (Kirsch–Mitzenmacher
    * double hashing over [[graft.functions.PolyHash]] — portable, unlike
    * xxhash64), bit-packed DISTRIBUTED via a (word → bit_or) aggregate
    * that stays a RELATION: the packed words never land on the driver.
    * The membership test is `nHashes` broadcast left-joins of the fact's
    * (word, mask) stage columns against that words relation (each a
    * ≤ `mBits/64`-row broadcast — dimension-sized by CONFIG, reused
    * across the hash probes by exchange reuse), then one conjunctive
    * filter `(bits & mask) != 0` per probe; a missing word row is an
    * all-zero word (coalesce 0). Everything stays whole-stage codegen
    * and the fact side never shuffles before the filter.
    *
    * Size `mBits` ≈ 10–15 bits per distinct dim key for ~1% fp; an
    * undersized filter stays CORRECT (it only prunes less).
    */
  def bloomPrunedJoin(fact: DataFrame, dim: DataFrame, key: String,
      mBits: Int = 1 << 17, nHashes: Int = 3): DataFrame = {
    require(mBits >= 64 && mBits % 64 == 0, "mBits must be a multiple of 64")
    require(nHashes >= 1 && nHashes <= 8, "1..8 hash functions")
    val words = bloomBits(dim, key, mBits, nHashes)
    val pruned = (0 until nHashes).foldLeft(fact) { (f, i) =>
      val pos = bloomPositions(col(key), mBits, nHashes)(i)
      f.withColumn(s"__bw$i", shiftright(pos, 6).cast("int"))
        .withColumn(s"__bm$i",
          element_at(lit(pow2), pmod(pos, lit(64L)).cast("int") + 1))
        .join(broadcast(words.select(col("__w").as(s"__ww$i"),
          col("__bits").as(s"__bb$i"))),
          col(s"__bw$i") === col(s"__ww$i"), "left")
        .filter(coalesce(col(s"__bb$i"), lit(0L))
          .bitwiseAND(col(s"__bm$i")) =!= 0L)
        .drop(s"__bw$i", s"__bm$i", s"__ww$i", s"__bb$i")
    }
    pruned.join(dim, Seq(key))
  }

  /** The packed Bloom filter of `dim`'s key set as a RELATION of
    * (`__w` word index, `__bits` packed long) — at most `mBits/64` rows,
    * absent words meaning zero; [[bloomPrunedJoin]] broadcasts it.
    */
  def bloomBits(dim: DataFrame, key: String, mBits: Int = 1 << 17,
      nHashes: Int = 3): DataFrame = {
    require(mBits >= 64 && mBits % 64 == 0, "mBits must be a multiple of 64")
    require(nHashes >= 1 && nHashes <= 8, "1..8 hash functions")
    dim.select(col(key).as("__k")).filter(col("__k").isNotNull)
      .distinct()
      .select(explode(array(
        bloomPositions(col("__k"), mBits, nHashes): _*)).as("__pos"))
      .groupBy(shiftright(col("__pos"), 6).cast("int").as("__w"))
      .agg(bit_or(element_at(lit(pow2),
        pmod(col("__pos"), lit(64L)).cast("int") + 1)).as("__bits"))
  }

  private def bloomPositions(c: Column, mBits: Int,
      nHashes: Int): Seq[Column] = {
    import graft.functions.PolyHash.polyhash
    val s = c.cast("string")
    val h1 = polyhash(s)
    val h2 = polyhash(concat(s, lit("#")))
    (0 until nHashes).map(i =>
      pmod(h1 + lit(i.toLong) * h2 + lit(i.toLong * i), lit(mBits.toLong)))
  }

  /** As-of join — for each left row, the LATEST right row with
    * `right.time <= left.time` on the same key (point-in-time enrichment:
    * trade/quote, event/last-context). Spark has no native as-of join; the
    * scalable shape is NOT a per-row range subquery (quadratic per key) but
    * a single union + running-window pass: tag both sides, shuffle once on
    * the key, sort by (time, side-tag) within partitions, and carry the
    * last-seen right payload forward with `last(ignoreNulls)`. Each row is
    * touched once, state per partition is one payload struct — this
    * survives 100 TB because cost is O(n log n) per key partition with one
    * exchange total, independent of how many right rows precede a left row.
    *
    * The right payload travels as ONE struct so the match is atomic: a
    * matched row whose payload FIELDS are null still stops the
    * carry-forward (a bare-column fill would reach past it to an older
    * row). At equal timestamps the right row is visible to the left row
    * (at-or-before, inclusive) — the side tag orders right before left
    * within a timestamp. Right-side (key, time) should be unique, as in
    * any point-in-time table; duplicate right timestamps make the winner
    * order-dependent.
    *
    * `tolerance`: optional max staleness — a match older than
    * `left.time - tolerance` is nulled out (all output payload fields,
    * including `<prefix>time`).
    * Output = every left column + each payload column as `<prefix><name>`
    * + the matched right timestamp as `<prefix><timeCol>`.
    */
  def asOfJoin(left: DataFrame, right: DataFrame, keyCol: String,
      timeCol: String, payloadCols: Seq[String], prefix: String = "asof_",
      tolerance: Option[Column] = None): DataFrame = {
    val tag = "__asof_is_left"
    val pay = "__asof_payload"
    val r = right.select(col(keyCol), col(timeCol), lit(0).as(tag),
      struct((timeCol +: payloadCols).map(col): _*).as(pay))
    val l = left.withColumn(tag, lit(1))
      .withColumn(pay, lit(null).cast(r.schema(pay).dataType))
    val w = Window.partitionBy(col(keyCol))
      .orderBy(col(timeCol), col(tag))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val filled = l.unionByName(r, allowMissingColumns = true)
      .withColumn(pay, last(col(pay), ignoreNulls = true).over(w))
      .filter(col(tag) === 1)
    val bounded = tolerance match {
      case Some(tol) => filled.withColumn(pay,
        when(col(s"$pay.$timeCol") >= col(timeCol) - tol, col(pay)))
      case None => filled
    }
    val expanded = (timeCol +: payloadCols).foldLeft(bounded) { (d, c) =>
      d.withColumn(s"$prefix$c", col(s"$pay.$c"))
    }
    expanded.drop(tag, pay)
  }

  /** OP-JOIN-5 — batch interval join: pair each left row with the right
    * rows of the SAME key whose timestamp lands in
    * `[left.ts + lowerMs, left.ts + upperMs]` (attribution windows,
    * sensor-correlation, event causality).
    *
    * Scale shape: the key equality makes this a plain equi-join — one
    * shuffle per side on the key, sort-merge within each key partition,
    * and the time range applied as a join-time filter. No cross product
    * ever materializes beyond a key group, and AQE's skew-join splitting
    * still applies because the range lives in the join CONDITION, not a
    * post-filter. The time bound is compared in integer microseconds on
    * both engines — no interval-arithmetic or float drift.
    *
    * Column naming: left columns keep their names; right columns arrive
    * `<prefix><name>` (the shared key is emitted once, unprefixed).
    */
  def intervalJoin(left: DataFrame, right: DataFrame, keyCol: String,
      leftTs: String, rightTs: String, lowerMs: Long, upperMs: Long,
      prefix: String = "r_"): DataFrame = {
    require(lowerMs <= upperMs, s"empty interval [$lowerMs, $upperMs]")
    val r = right.columns.foldLeft(right) { (d, c) =>
      if (c == keyCol) d else d.withColumnRenamed(c, s"$prefix$c")
    }
    // explicit LTZ cast: ANSI refuses the implicit NTZ coercion the
    // driver's parquet schemas otherwise need (AnsiFixtureSpec)
    val lt = unix_micros(left(leftTs).cast("timestamp"))
    val rt = unix_micros(r(s"$prefix$rightTs").cast("timestamp"))
    left.join(r,
      left(keyCol) === r(keyCol) &&
        rt >= lt + lit(lowerMs * 1000L) && rt <= lt + lit(upperMs * 1000L))
      .drop(r(keyCol))
  }

  /** Point-in-time dimension lookup against an SCD-2 change table
    * ([[graft.engine.Relational.scd2]]'s output shape): each fact row
    * gets the dimension state whose validity interval covers the fact
    * time. For a well-formed SCD-2 table (intervals partition time from
    * the first change, `valid_from` inclusive) that is exactly "latest
    * state at-or-before the fact time", so this rides [[asOfJoin]]'s
    * single union + window pass — no interval predicate join, no range
    * explosion, one key-partitioned exchange. The dimension's (key,
    * valid_from) must be unique — true by construction for [[scd2]].
    * Output = fact columns + `<prefix>valid_from`-equivalent time +
    * `<prefix><payload>` columns.
    */
  def temporalLookup(fact: DataFrame, dim: DataFrame, keyCol: String,
      factTime: String, validFromCol: String, payloadCols: Seq[String],
      prefix: String = "dim_"): DataFrame =
    asOfJoin(fact,
      dim.select((keyCol +: validFromCol +: payloadCols).map(col): _*)
        .withColumnRenamed(validFromCol, factTime),
      keyCol, factTime, payloadCols, prefix)

  /** Geo nearest-neighbor join: each point gets its haversine-closest
    * site within `maxKm`, via degree-cell bucketing — the 2-D analog of
    * [[bandJoin]]: sites replicate to their 3×3 cell neighborhood (the
    * SMALL side carries the fan-out), points sit in one cell, one
    * equi-join on the cell key, exact distance filter + per-point
    * argmin. Correctness bound: every site within `maxKm` must land
    * inside ±1 cell, so `cellDeg` must be ≥ maxKm / (111·cos(maxAbsLat))
    * — the longitude shrink factor, the caller's one geometry fact to
    * supply. At scale the shuffle keys on cells (occupancy-bounded
    * fan-out); a dimension-sized site table just broadcasts. The argmin
    * is a lexicographic min on (ROUNDED distance, site key) —
    * deterministic across engines.
    */
  def nearestSpatialJoin(points: DataFrame, sites: DataFrame,
      pointKeys: Seq[String], pLat: String, pLon: String,
      siteKey: String, sLat: String, sLon: String,
      maxKm: Double, cellDeg: Double): DataFrame = {
    require(maxKm > 0 && cellDeg > 0, "maxKm and cellDeg must be positive")
    // r14: replicate the SITE side to its 3×3 neighborhood, not the
    // points — a pair lands in a shared cell iff the point's own cell is
    // in the site's neighborhood (offset symmetry), so the candidate set
    // is identical, but the 9× fan-out now costs 9·|sites| rows instead
    // of 9·|points| (guide §8: move the small rows). The per-point argmin
    // is a min-of-struct AGGREGATE — (dist_km, siteKey) lexicographic min
    // ≡ the former rank-1 pick on (dist_km, siteKey) — which partial-
    // aggregates map-side, replacing the rank window's full sort exchange
    // of every candidate with an exchange of one row per point per task
    // (guide §2.3 "aggregate before you shuffle").
    val cells = array((for {di <- -1 to 1; dj <- -1 to 1} yield struct(
      (floor(col(sLat) / cellDeg).cast("long") + di).as("ci"),
      (floor(col(sLon) / cellDeg).cast("long") + dj).as("cj"))): _*)
    val s = sites.withColumn("__cell", explode(cells))
    val p = points.withColumn("__cell",
      struct(floor(col(pLat) / cellDeg).cast("long").as("ci"),
        floor(col(pLon) / cellDeg).cast("long").as("cj")))
    p.join(s, Seq("__cell"))
      .withColumn("dist_km", round(Geometry.haversineKm(col(pLat),
        col(pLon), col(sLat), col(sLon)), 6))
      .filter(col("dist_km") <= maxKm)
      .groupBy(pointKeys.map(col): _*)
      .agg(min(struct(col("dist_km"), col(siteKey))).as("__best"))
      .select(pointKeys.map(col) :+
        col(s"__best.$siteKey").as(siteKey) :+
        col("__best.dist_km").as("dist_km"): _*)
  }

  /** ε-band join: pairs with |left.v − right.v| ≤ eps, WITHOUT the cross
    * product a naive range join plans. Values bucket into ε-cells; the
    * (smaller) left side replicates to its cell ±1 — any in-band pair
    * lands in a shared cell — then one equi-join on the cell key and the
    * exact band filter. At 100 TB the shuffle keys on the cell: per-task
    * fan-out is bounded by cell occupancy × 3, so a dense value region
    * costs its own density, never |L|×|R|; a pathological hot cell gets
    * the same salting answer as any hot join key ([[saltedEquiJoin]]).
    */
  def bandJoin(left: DataFrame, right: DataFrame, leftVal: String,
      rightVal: String, eps: Double): DataFrame = {
    require(eps > 0, s"eps must be positive, got $eps")
    require(left.columns.intersect(right.columns).isEmpty,
      "band join sides must have disjoint column names; got overlap: " +
        left.columns.intersect(right.columns).mkString(", "))
    val cells = array((-1 to 1).map(o =>
      floor(col(leftVal) / eps).cast("long") + o): _*)
    left.withColumn("__cell", explode(cells))
      .join(right.withColumn("__cell",
        floor(col(rightVal) / eps).cast("long")), Seq("__cell"))
      .filter(abs(col(leftVal) - col(rightVal)) <= eps)
      .drop("__cell")
  }

  /** Blocked fuzzy (record-linkage) join: candidate pairs share a
    * caller-defined BLOCK key, then verify by Levenshtein distance ≤
    * `maxDist` — the cross-TABLE face of the edit-distance dedup
    * (entity resolution: dirty names against a master list). Blocking
    * is the standard recall/cost dial: a good key (length + suffix,
    * phonetic code, sorted-token prefix) keeps blocks small while
    * catching the expected error pattern; typos that CHANGE the block
    * key escape — the documented blocking trade-off, mitigated by
    * unioning several `blockKeys` passes.
    *
    * Scale: the cross product is confined to each block (choose keys so
    * blocks stay 10²–10³); the verify distance is computed once per
    * candidate, behind two lossless cheapeners — a length pre-filter
    * (edit distance is at least the length difference, so
    * `|len(l)−len(r)| > maxDist` candidates drop before any DP table)
    * and the THRESHOLDED Levenshtein (the 3-arg form abandons the DP as
    * soon as the banded minimum exceeds `maxDist`, turning the verify
    * from O(|l|·|r|) to O(maxDist·min(|l|,|r|)) per candidate — the
    * term that dominates when a dense block makes candidates plentiful
    * and matches rare). Skewed blocks are an AQE skew-join case; a
    * degenerate key (every row one block) reintroduces O(n²) — that is
    * a key bug, not an operator mode.
    */
  def blockedFuzzyJoin(left: DataFrame, right: DataFrame, lCol: String,
      rCol: String, blockKeys: Column => Seq[Column],
      maxDist: Int): DataFrame = {
    require(maxDist >= 0, "maxDist must be non-negative")
    val lb = left.select(col(lCol).as("l"),
      struct(blockKeys(col(lCol)): _*).as("__bk"))
    val rb = right.select(col(rCol).as("r"),
      struct(blockKeys(col(rCol)): _*).as("__bk"))
    lb.join(rb, "__bk")
      .filter(abs(length(col("l")) - length(col("r"))) <= maxDist)
      .withColumn("dist", levenshtein(col("l"), col("r"), maxDist))
      .filter(col("dist") >= 0 && col("dist") <= maxDist)
      .select(col("l"), col("r"), col("dist"))
  }

  /** Skew-salted sort-merge equi-join: the manual escape hatch for the
    * hot-key stratum AQE's skew splitter can't always save (one key
    * carrying 10% of a 100 TB fact table lands one reducer no matter
    * how many partitions exist). The LEFT (fact) side scatters each row
    * to one of `salt` sub-keys by a deterministic row hash; the RIGHT
    * (dimension-ish, or the skewed stratum of an equally-big side) is
    * replicated `salt`× so every sub-key finds its match — the output
    * multiset is IDENTICAL to the plain equi-join (the oracle is the
    * plain join), only the shuffle key changes: each formerly-hot
    * reducer becomes `salt` even ones, at the price of a `salt`×
    * build-side replication. Use on the skewed stratum only; plain
    * keys should keep the unsalted path.
    *
    * The salt hash covers ALL left columns (row identity), so equal
    * fact rows spread uniformly even when the join key itself is the
    * only skewed attribute.
    */
  def saltedEquiJoin(left: DataFrame, right: DataFrame, keyCol: String,
      salt: Int): DataFrame = {
    require(salt >= 2, "salt must be >= 2 (1 is the plain join)")
    val lSalted = left.withColumn("__salt",
      pmod(hash(left.columns.map(col).toIndexedSeq: _*), lit(salt)))
    val rSalted = right.withColumn("__salt",
      explode(array((0 until salt).map(lit): _*)))
    lSalted.join(rSalted, Seq(keyCol, "__salt")).drop("__salt")
  }
}

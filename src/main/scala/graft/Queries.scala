package graft

import scala.collection.immutable.ListMap
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.engine._

/** The driver-contract query registry: one entry per implemented operator
  * from SURVEY §2 plus the LLM-pipeline extensions, each with a DuckDB
  * oracle in ANSI SQL over the same parquet tables.
  *
  * Oracle-safety rules observed throughout (cross-engine hash equality):
  *   - float aggregates use integer-valued doubles (sums exact in IEEE754
  *     regardless of order) or are rounded to 6 dp on BOTH sides;
  *   - orderings are always total (tie-free) before any row_number/limit;
  *   - DuckDB `date_trunc('day'|'month')` returns DATE — oracles cast back
  *     to TIMESTAMP to match Spark;
  *   - numeric literals in oracles are forced to DOUBLE (DuckDB parses bare
  *     decimals as DECIMAL, whose arithmetic differs from Spark's doubles).
  */
object Queries {

  type QFn = (SparkSession, String) => DataFrame
  final case class Spec(name: String, fn: QFn, oracle: Option[String])

  /** Table loader. `events.ts` has shipped in two vintages: parquet
    * TIMESTAMP(NANOS) (Spark 4 reads it only as a raw long via the
    * nanosAsLong legacy flag — convert back with integer division; ns
    * epochs exceed 2^53, so a double-division cast would corrupt them)
    * and TIMESTAMP(MICROS) with isAdjustedToUTC=false (read as an LTZ
    * instant via inferTimestampNTZ=false: the session TZ is pinned UTC
    * engine-wide, so the stored micros surface unchanged — same value
    * and type as the nanos derivation, and native parquet range
    * pushdown works with no post-scan conversion to see through).
    *
    * Both flags are SCOPED to this one read — saved, set, and restored
    * around the `spark.read` call — so loading `events` cannot change
    * how NTZ/nanos timestamp columns in other tables read later in the
    * same session are typed (no load-order dependence). Restoring
    * immediately after `spark.read.parquet` is safe because the flags
    * act at schema-inference time: the relation's resolved schema is
    * captured in the returned DataFrame and governs the later lazy scan
    * (verified empirically — post-restore actions return correct LTZ
    * values while a fresh read reverts to NTZ typing).
    */
  def T(spark: SparkSession, dir: String, name: String): DataFrame =
    if (name == "events") {
      val prevNanos =
        spark.conf.getOption("spark.sql.legacy.parquet.nanosAsLong")
      val prevNtz =
        spark.conf.getOption("spark.sql.parquet.inferTimestampNTZ.enabled")
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      try {
        val raw = spark.read.parquet(s"$dir/$name.parquet")
        raw.schema("ts").dataType match {
          case org.apache.spark.sql.types.LongType =>
            raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
          case _ => raw
        }
      } finally {
        def restore(key: String, prev: Option[String]): Unit = prev match {
          case Some(v) => spark.conf.set(key, v)
          case None    => spark.conf.unset(key)
        }
        restore("spark.sql.legacy.parquet.nanosAsLong", prevNanos)
        restore("spark.sql.parquet.inferTimestampNTZ.enabled", prevNtz)
      }
    } else spark.read.parquet(s"$dir/$name.parquet")

  private def tmp(name: String): String =
    s"${sys.props("java.io.tmpdir")}/graft_sink/$name"

  // ------------------------------------------------------------------
  // Sources / sinks
  // ------------------------------------------------------------------

  /** OP-SRC-1 — multi-path parquet scan + technical-column drop. */
  private val src1 = Spec("q01_src1_scan_drop",
    (s, d) => Relational.dropCols(T(s, d, "lineitem"), "l_tax", "l_linestatus"),
    Some("""SELECT l_orderkey, l_partkey, l_suppkey, l_linenumber, l_quantity,
       l_extendedprice, l_discount, l_returnflag, l_shipdate FROM lineitem"""))

  /** OP-SRC-1 native — the NetCDF classic DataSource V2
    * ([[graft.sources.NetCDFDataSource]]): a deterministic packed cube
    * (CF scale/offset shorts with fill holes, CF time coordinate) is
    * written with the pure-JVM CDF-1 writer, scanned back through
    * `spark.read.format("netcdf")` across multiple slab partitions, and
    * hash-compared against the closed-form cube reconstructed in SQL —
    * exercising header parse, slab seeks, CF unpack, fill→null, and time
    * decode end-to-end.
    */
  private val src6 = Spec("q72_src1_netcdf_scan",
    (s, d) => {
      import graft.sources.NetCDF
      import graft.sources.NetCDF.{Att, Dim, VarSpec}
      val (nT, nLat, nLon) = (5, 4, 3)
      val path = tmp("cube_q72.nc")
      java.nio.file.Files.createDirectories(
        java.nio.file.Paths.get(tmp("")))
      NetCDF.write(path,
        dims = Seq(Dim("time", nT), Dim("latitude", nLat),
          Dim("longitude", nLon)),
        vars = Seq(
          "time" -> VarSpec(Seq("time"), NetCDF.NC_INT,
            Array.tabulate(nT)(_.toDouble),
            Seq(Att("units", NetCDF.NC_CHAR,
              Left("hours since 2021-03-01 00:00:00")))),
          "latitude" -> VarSpec(Seq("latitude"), NetCDF.NC_DOUBLE,
            Array.tabulate(nLat)(i => 40.0 + 0.25 * i)),
          "longitude" -> VarSpec(Seq("longitude"), NetCDF.NC_DOUBLE,
            Array.tabulate(nLon)(j => -80.0 + 0.25 * j)),
          "t2m" -> VarSpec(Seq("time", "latitude", "longitude"),
            NetCDF.NC_SHORT,
            Array.tabulate(nT * nLat * nLon)(i =>
              if (i % 13 == 5) -32767.0 else (i * 10).toDouble),
            Seq(Att("scale_factor", NetCDF.NC_DOUBLE, Right(Seq(0.5))),
              Att("add_offset", NetCDF.NC_DOUBLE, Right(Seq(250.0))),
              Att("_FillValue", NetCDF.NC_SHORT, Right(Seq(-32767.0))))),
          "tp" -> VarSpec(Seq("time", "latitude", "longitude"),
            NetCDF.NC_DOUBLE,
            Array.tabulate(nT * nLat * nLon)(_ * 0.25))))
      s.read.format("netcdf").option("targetRowsPerPartition", "12")
        .load(path)
    },
    Some("""WITH t AS (SELECT unnest(range(5)) AS ti),
        la AS (SELECT unnest(range(4)) AS lai),
        lo AS (SELECT unnest(range(3)) AS loi),
        g AS (SELECT ti, lai, loi, ti*12 + lai*3 + loi AS idx FROM t, la, lo)
        SELECT TIMESTAMP '2021-03-01 00:00:00' + ti * INTERVAL 1 HOUR
          AS time,
          CAST(40.0 AS DOUBLE) + CAST(0.25 AS DOUBLE) * lai AS latitude,
          CAST(-80.0 AS DOUBLE) + CAST(0.25 AS DOUBLE) * loi AS longitude,
          CASE WHEN idx % 13 = 5 THEN NULL
            ELSE CAST(idx * 10 AS DOUBLE) * CAST(0.5 AS DOUBLE)
              + CAST(250.0 AS DOUBLE) END AS t2m,
          CAST(idx AS DOUBLE) * CAST(0.25 AS DOUBLE) AS tp FROM g"""))

  /** OP-SRC-3 native — the GeoTIFF DataSource V2
    * ([[graft.sources.GeoTIFFDataSource]]): two deterministic monthly
    * rasters (float32, GDAL nodata holes, 0.25° north-up georeference —
    * the WTD archive's shape) written with the fixture writer, scanned
    * back as (file, y, x, lat, lon, value) with nodata masked to NULL,
    * and the reference's filename→month-end date parse composed on the
    * `file` column (`downloader.py:52-121` + `dataset.py:153-166`).
    */
  private val src7 = Spec("q73_src3_geotiff_scan",
    (s, d) => {
      import graft.sources.GeoTIFF
      val dir = tmp("tiff_q73")
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
      Seq(("20200131", 0f), ("20200229", 100f)).foreach { case (ds, off) =>
        GeoTIFF.writeFloat32(s"$dir/wtd-v1-$ds.tif", 6, 4,
          Array.tabulate(24)(i =>
            if (i % 7 == 3) -9999f else i * 0.5f + off),
          originLon = -80.0, originLat = 45.0, scale = 0.25,
          nodata = Some(-9999f))
      }
      s.read.format("geotiff").load(dir)
        .withColumn("obs_date", to_date(regexp_extract(col("file"),
          "wtd-.*-(\\d{8})\\.tif", 1), "yyyyMMdd").cast("timestamp"))
    },
    Some("""WITH f AS (SELECT unnest([
          {'file': 'wtd-v1-20200131.tif', 'd': TIMESTAMP '2020-01-31', 'off': 0},
          {'file': 'wtd-v1-20200229.tif', 'd': TIMESTAMP '2020-02-29', 'off': 100}],
          recursive := true)),
        yy AS (SELECT unnest(range(4)) AS y), xx AS (SELECT unnest(range(6)) AS x),
        g AS (SELECT file, d, off, CAST(y AS INT) AS y, CAST(x AS INT) AS x,
          y*6 + x AS idx FROM f, yy, xx)
        SELECT file, y, x,
          CAST(45.0 AS DOUBLE) - CAST(0.25 AS DOUBLE) * y AS latitude,
          CAST(-80.0 AS DOUBLE) + CAST(0.25 AS DOUBLE) * x AS longitude,
          CASE WHEN idx % 7 = 3 THEN NULL
            ELSE CAST(idx AS DOUBLE) * CAST(0.5 AS DOUBLE) + off END AS value,
          d AS obs_date FROM g"""))

  /** OP-SRC-2 — CSV parse with bad-line drop (DROPMALFORMED semantics):
    * events serialized to CSV lines (1-in-97 corrupted), parsed back, bad
    * lines dropped.
    */
  private val src2 = Spec("q02_src2_csv_badlines",
    (s, d) => {
      // explicit concat, not concat_ws: concat_ws silently DROPS null
      // fields, which would shift columns; an explicit empty slot keeps
      // nulls round-tripping as empty CSV fields
      val csvField = (c: Column) => coalesce(c.cast("string"), lit(""))
      val lines = T(s, d, "events").select(
        when(col("event_id") % 97 === 0, lit("garbage,x,y"))
          .otherwise(concat(csvField(col("event_id")), lit(","),
            csvField(col("user_id")), lit(","),
            csvField(col("value")))).as("line"))
      lines
        .select(from_csv(col("line"),
          org.apache.spark.sql.types.StructType.fromDDL(
            "event_id BIGINT, user_id BIGINT, value DOUBLE"),
          Map.empty[String, String]).as("p"))
        .filter(col("p.event_id").isNotNull)
        .select(col("p.event_id").as("event_id"), col("p.user_id").as("user_id"),
          col("p.value").as("value"))
    },
    Some("""SELECT event_id, user_id, value FROM events WHERE event_id % 97 <> 0"""))

  /** OP-SRC-4 — GeoJSON FeatureCollection scan: a FeatureCollection is
    * synthesized from the region table (catalog-sized, driver-side by
    * design — GeoJSON region files are config artifacts, not data), then
    * read through the engine's reader.
    */
  private val src4 = Spec("q03_src4_geojson",
    (s, d) => {
      val rows = T(s, d, "region")
        .select(col("r_name"), col("r_regionkey")).collect()
        .sortBy(_.getInt(1))
      val feats = rows.map { r =>
        val k = r.getInt(1)
        s"""{"type":"Feature","properties":{"id":"${r.getString(0)}"},""" +
          s""""geometry":{"type":"Point","coordinates":[${k + 0.5},${k * 2 + 0.25}]}}"""
      }.mkString(",")
      val path = tmp("geo.json")
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(tmp("")))
      java.nio.file.Files.writeString(java.nio.file.Paths.get(path),
        s"""{"type":"FeatureCollection","features":[$feats]}""")
      Geometry.readGeoJson(s, path)
    },
    Some("""SELECT r_name AS region_id, 'Point' AS geom_type,
        '[' || CAST(r_regionkey + CAST(0.5 AS DOUBLE) AS VARCHAR) || ',' ||
        CAST(r_regionkey * 2 + CAST(0.25 AS DOUBLE) AS VARCHAR) || ']'
        AS coordinates_json FROM region"""))

  /** OP-SNK-1 — compressed parquet sink with float32 downcast, read back. */
  private val snk1 = Spec("q04_snk1_f32_sink",
    (s, d) => {
      val out = Sinks.downcast(
        T(s, d, "lineitem").select(col("l_orderkey"), col("l_linenumber"),
          col("l_extendedprice").as("price_f32")), Seq("price_f32"))
      Sinks.writeCompressed(out, tmp("snk1"), Nil)
      s.read.parquet(tmp("snk1"))
    },
    Some("""SELECT l_orderkey, l_linenumber,
        CAST(l_extendedprice AS REAL) AS price_f32 FROM lineitem"""))

  /** OP-SNK-2 — CSV sink round-trip. */
  private val snk2 = Spec("q05_snk2_csv_sink",
    (s, d) => {
      Sinks.writeCsv(T(s, d, "lineitem").select(col("l_orderkey"),
        col("l_linenumber"), col("l_quantity"), col("l_returnflag")),
        tmp("snk2"))
      s.read.option("header", "true")
        .schema("l_orderkey BIGINT, l_linenumber INT, l_quantity DOUBLE, l_returnflag STRING")
        .csv(tmp("snk2"))
    },
    Some("SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag FROM lineitem"))

  /** OP-SNK-3 — partitioned chunk sink + re-read via partition discovery. */
  private val snk3 = Spec("q06_snk3_partitioned_sink",
    (s, d) => {
      Sinks.writePartitioned(T(s, d, "lineitem").select(col("l_orderkey"),
        col("l_quantity"), col("l_returnflag")), tmp("snk3"),
        Seq("l_returnflag"))
      Sinks.readPartitioned(s, tmp("snk3"))
        .groupBy(col("l_returnflag")).agg(count(lit(1)).as("n"),
          max(col("l_quantity")).as("max_qty"))
    },
    Some("""SELECT l_returnflag, count(*) AS n, max(l_quantity) AS max_qty
        FROM lineitem GROUP BY l_returnflag"""))

  // ------------------------------------------------------------------
  // Projections / filters
  // ------------------------------------------------------------------

  /** OP-PRJ-1 — bulk rename via the shortname→longname registry. */
  private val prj1 = Spec("q07_prj1_bulk_rename",
    (s, d) => Relational.applyRename(
      T(s, d, "lineitem").select(col("l_orderkey"), col("l_linenumber"),
        col("l_extendedprice").as("u10"), col("l_discount").as("v10")),
      Predictors.shortnameToFullname),
    Some("""SELECT l_orderkey, l_linenumber,
        l_extendedprice AS "10m_u_component_of_wind",
        l_discount AS "10m_v_component_of_wind" FROM lineitem"""))

  /** OP-PRJ-2 + OP-PRJ-3 — column drop; literal/derived adds. */
  private val prj23 = Spec("q08_prj23_drop_derive",
    (s, d) => Relational.addColumns(
      Relational.dropCols(T(s, d, "orders"), "o_orderpriority", "o_orderstatus",
        "o_totalprice", "o_custkey"),
      "region_id" -> lit("r0"),
      "year_month" -> date_trunc("month", col("o_orderdate"))),
    Some("""SELECT o_orderkey, o_orderdate, 'r0' AS region_id,
        CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS year_month
        FROM orders"""))

  /** OP-FLT-1 — time-range filter. */
  private val flt1 = Spec("q09_flt1_time_range",
    (s, d) => Relational.timeRange(T(s, d, "events"), "ts",
      "2024-01-01 12:00:00", "2024-01-02 12:00:00")
      .select(col("event_id"), col("ts"), col("value")),
    Some("""SELECT event_id, ts, value FROM events WHERE ts BETWEEN
        TIMESTAMP '2024-01-01 12:00:00' AND TIMESTAMP '2024-01-02 12:00:00'"""))

  /** OP-FLT-2 — top-of-hour filter (true hour rows injected 1-in-7 so the
    * filter has deterministic survivors).
    */
  private val flt2 = Spec("q10_flt2_top_of_hour",
    (s, d) => Relational.topOfHour(
      T(s, d, "events").select(col("event_id"),
        when(col("event_id") % 7 === 0, date_trunc("hour", col("ts")))
          .otherwise(col("ts")).as("ts2")), "ts2"),
    Some("""SELECT event_id, ts2 FROM (SELECT event_id,
        CASE WHEN event_id % 7 = 0 THEN date_trunc('hour', ts) ELSE ts END ts2
        FROM events) WHERE minute(ts2) = 0 AND date_part('second', ts2) = 0"""))

  /** OP-FLT-3 — any-null row filter (the gap-fill worklist). */
  private val flt3 = Spec("q11_flt3_any_null",
    (s, d) => {
      val df = T(s, d, "events").select(col("event_id"),
        when(col("value") <= 100, col("value")).as("v2"),
        when(col("user_id") % 11 =!= 0, col("props")).as("p2"))
      Relational.anyNull(df, Seq("v2", "p2"))
    },
    Some("""SELECT event_id, v2, p2 FROM (SELECT event_id,
        CASE WHEN value <= 100 THEN value END v2,
        CASE WHEN user_id % 11 <> 0 THEN props END p2 FROM events)
        WHERE v2 IS NULL OR p2 IS NULL"""))

  /** OP-FLT-4 — sentinel-to-null. */
  private val flt4 = Spec("q12_flt4_sentinel_null",
    (s, d) => Relational.sentinelToNull(
      T(s, d, "lineitem").select(col("l_orderkey"), col("l_linenumber"),
        col("l_extendedprice")), "l_extendedprice", 50000d),
    Some("""SELECT l_orderkey, l_linenumber,
        CASE WHEN l_extendedprice < CAST(50000 AS DOUBLE) THEN l_extendedprice END
        AS l_extendedprice FROM lineitem"""))

  /** OP-FLT-5 — many-regions bbox clip as a broadcast range join. */
  private val flt5 = Spec("q13_flt5_bbox_range_join",
    (s, d) => {
      val regions = T(s, d, "nation").select(col("n_nationkey"),
        (col("n_nationkey") * 2.0).as("s"), (col("n_nationkey") * 2.0 + 4.0).as("n"),
        (col("n_nationkey") * 3.0).as("w"), (col("n_nationkey") * 3.0 + 6.0).as("e"))
      val grid = T(s, d, "lineitem").select(col("l_orderkey"),
        col("l_linenumber"), col("l_quantity"),
        (col("l_discount") * 100).as("lon"))
      Joins.bboxClip(grid, regions, "l_quantity", "lon")
        .select(col("l_orderkey"), col("l_linenumber"), col("n_nationkey"))
    },
    Some("""SELECT l.l_orderkey, l.l_linenumber, r.n_nationkey
        FROM lineitem l JOIN (SELECT n_nationkey,
          n_nationkey * CAST(2 AS DOUBLE) AS s,
          n_nationkey * CAST(2 AS DOUBLE) + 4 AS n,
          n_nationkey * CAST(3 AS DOUBLE) AS w,
          n_nationkey * CAST(3 AS DOUBLE) + 6 AS e FROM nation) r
        ON l.l_quantity BETWEEN r.s AND r.n
          AND (l.l_discount * 100) BETWEEN r.w AND r.e"""))

  /** OP-FLT-5 exact variant — corner-snap clip with the prev-exclusion tie
    * rule and snap→true coordinate remap (`dataset.py:171-230`). Region
    * bboxes are built with fractional offsets so every |Δ| comparison is
    * tie-free, and several regions' lon corners are close enough that both
    * would snap to the SAME grid value — exercising the prev-exclusion
    * branch (lon_min re-snaps to the nearest value ≠ lon_max's snap).
    */
  private val flt5b = Spec("q71_flt5_corner_snap",
    (s, d) => {
      val regions = T(s, d, "nation").select(col("n_nationkey").as("region_id"),
        (col("n_nationkey") * 2.0 + 4.3).as("lat_max"),
        (col("n_nationkey") * 2.0 + 0.7).as("lat_min"),
        (col("n_nationkey") * 0.3 + 2.61).as("lon_max"),
        (col("n_nationkey") * 0.28 + 2.41).as("lon_min"))
      val grid = T(s, d, "lineitem").select(col("l_orderkey"),
        col("l_linenumber"), col("l_quantity").as("glat"),
        (col("l_discount") * 100).as("glon"))
      Joins.cornerSnapClip(grid, regions, "region_id", "glat", "glon")
        .select(col("region_id"), col("latitude"), col("longitude"),
          col("l_orderkey"), col("l_linenumber"))
    },
    Some("""WITH regions AS (SELECT n_nationkey AS region_id,
          n_nationkey * CAST(2 AS DOUBLE) + CAST(4.3 AS DOUBLE) AS lat_max,
          n_nationkey * CAST(2 AS DOUBLE) + CAST(0.7 AS DOUBLE) AS lat_min,
          n_nationkey * CAST(0.3 AS DOUBLE) + CAST(2.61 AS DOUBLE) AS lon_max,
          n_nationkey * CAST(0.28 AS DOUBLE) + CAST(2.41 AS DOUBLE) AS lon_min
          FROM nation),
        grid AS (SELECT l_orderkey, l_linenumber, l_quantity AS glat,
          l_discount * 100 AS glon FROM lineitem),
        lats AS (SELECT DISTINCT glat AS v FROM grid),
        lons AS (SELECT DISTINCT glon AS v FROM grid),
        lat_hi AS (SELECT region_id, v AS lat_hi_snap FROM (
          SELECT r.region_id, l.v, row_number() OVER (PARTITION BY r.region_id
            ORDER BY abs(l.v - r.lat_max), l.v) rn FROM regions r, lats l)
          WHERE rn = 1),
        lat_lo0 AS (SELECT region_id, v AS lat_lo_snap FROM (
          SELECT r.region_id, l.v, row_number() OVER (PARTITION BY r.region_id
            ORDER BY abs(l.v - r.lat_min), l.v) rn
          FROM regions r JOIN lat_hi h USING (region_id), lats l
          WHERE l.v != h.lat_hi_snap) WHERE rn = 1),
        lat_lo AS (SELECT region_id,
          coalesce(lat_lo_snap, lat_hi_snap) AS lat_lo_snap
          FROM lat_hi LEFT JOIN lat_lo0 USING (region_id)),
        lon_hi AS (SELECT region_id, v AS lon_hi_snap FROM (
          SELECT r.region_id, l.v, row_number() OVER (PARTITION BY r.region_id
            ORDER BY abs(l.v - r.lon_max), l.v) rn FROM regions r, lons l)
          WHERE rn = 1),
        lon_lo0 AS (SELECT region_id, v AS lon_lo_snap FROM (
          SELECT r.region_id, l.v, row_number() OVER (PARTITION BY r.region_id
            ORDER BY abs(l.v - r.lon_min), l.v) rn
          FROM regions r JOIN lon_hi h USING (region_id), lons l
          WHERE l.v != h.lon_hi_snap) WHERE rn = 1),
        lon_lo AS (SELECT region_id,
          coalesce(lon_lo_snap, lon_hi_snap) AS lon_lo_snap
          FROM lon_hi LEFT JOIN lon_lo0 USING (region_id)),
        spec AS (SELECT * FROM regions
          JOIN lat_hi USING (region_id) JOIN lat_lo USING (region_id)
          JOIN lon_hi USING (region_id) JOIN lon_lo USING (region_id))
        SELECT s.region_id,
          CASE WHEN g.glat = s.lat_lo_snap THEN s.lat_min ELSE s.lat_max END
            AS latitude,
          CASE WHEN g.glon = s.lon_lo_snap THEN s.lon_min ELSE s.lon_max END
            AS longitude,
          g.l_orderkey, g.l_linenumber
        FROM grid g JOIN spec s
          ON (g.glat = s.lat_hi_snap OR g.glat = s.lat_lo_snap)
          AND (g.glon = s.lon_hi_snap OR g.glon = s.lon_lo_snap)"""))

  /** OP-FLT-6 — dropDuplicates on a key subset (keys-only projection keeps
    * the survivor-choice deterministic).
    */
  private val flt6 = Spec("q14_flt6_drop_duplicates",
    (s, d) => Relational.dropDupOnKeys(T(s, d, "lineitem"),
      Seq("l_orderkey")).select(col("l_orderkey")),
    Some("SELECT DISTINCT l_orderkey FROM lineitem"))

  /** Deterministic full-row dedup (min_by tiebreak) — the engine's scalable
    * alternative to arbitrary-survivor dropDuplicates.
    */
  private val flt6b = Spec("q15_flt6_dedup_deterministic",
    (s, d) => Relational.dedupDeterministic(
      T(s, d, "events").select(col("user_id"), col("ts"), col("event_id"),
        col("value")), Seq("user_id"), "ts"),
    Some("""SELECT user_id, arg_min(ts, ts) AS ts,
        arg_min(event_id, ts) AS event_id, arg_min(value, ts) AS value
        FROM events GROUP BY user_id"""))

  /** OP-FLT-7 — temporal-eligibility semi-join. */
  private val flt7 = Spec("q16_flt7_semi_join",
    (s, d) => {
      val eligible = Relational.distinctValues(
        T(s, d, "lineitem").filter(col("l_returnflag") === "R")
          .withColumn("year_month", date_trunc("month", col("l_shipdate"))),
        Seq("year_month"))
      Joins.semiOnKeys(
        T(s, d, "orders").withColumn("year_month",
          date_trunc("month", col("o_orderdate")))
          .select(col("o_orderkey"), col("year_month")),
        eligible, Seq("year_month"))
    },
    Some("""SELECT o_orderkey, CAST(date_trunc('month', o_orderdate) AS TIMESTAMP)
        AS year_month FROM orders WHERE date_trunc('month', o_orderdate) IN
        (SELECT DISTINCT date_trunc('month', l_shipdate) FROM lineitem
         WHERE l_returnflag = 'R')"""))

  // ------------------------------------------------------------------
  // Joins
  // ------------------------------------------------------------------

  /** OP-JOIN-1 — nearest-neighbor 1-D coordinate match. */
  private val join1 = Spec("q17_join1_nearest_coord",
    (s, d) => Joins.nearestCoordMapping(T(s, d, "lineitem"), "l_quantity",
      T(s, d, "supplier"), "s_acctbal", "nearest_bal"),
    Some("""WITH l AS (SELECT DISTINCT l_quantity FROM lineitem),
        r AS (SELECT DISTINCT s_acctbal FROM supplier),
        x AS (SELECT l_quantity, s_acctbal, row_number() OVER
          (PARTITION BY l_quantity ORDER BY abs(l_quantity - s_acctbal), s_acctbal) rn
          FROM l, r)
        SELECT l_quantity, s_acctbal AS nearest_bal FROM x WHERE rn = 1"""))

  /** OP-JOIN-2 — broadcast enrichment equi-join against a monthly side. */
  private val join2 = Spec("q18_join2_enrich",
    (s, d) => {
      val side = T(s, d, "orders")
        .groupBy(date_trunc("month", col("o_orderdate")).as("year_month"))
        .agg(count(lit(1)).as("n_orders"), max(col("o_totalprice")).as("max_price"))
      val fact = T(s, d, "lineitem").select(col("l_orderkey"),
        col("l_linenumber"), date_trunc("month", col("l_shipdate")).as("year_month"))
      Joins.enrich(fact, side, Seq("year_month"))
    },
    Some("""SELECT l.l_orderkey, l.l_linenumber,
        CAST(date_trunc('month', l.l_shipdate) AS TIMESTAMP) AS year_month,
        s.n_orders, s.max_price FROM lineitem l LEFT JOIN
        (SELECT date_trunc('month', o_orderdate) ym, count(*) n_orders,
         max(o_totalprice) max_price FROM orders GROUP BY 1) s
        ON date_trunc('month', l.l_shipdate) = s.ym"""))

  /** OP-JOIN-3 — gap-fill alignment join on the time key. */
  private val join3 = Spec("q19_join3_align",
    (s, d) => {
      val ev = T(s, d, "events")
      val amf = ev.filter(col("user_id") % 2 === 0)
        .groupBy(date_trunc("hour", col("ts")).as("hr"))
        .agg(count(lit(1)).as("n_a"))
      val era5 = ev.filter(col("user_id") % 2 === 1)
        .groupBy(date_trunc("hour", col("ts")).as("hr"))
        .agg(count(lit(1)).as("n_b"))
      Joins.gapfillAlign(amf, era5, "hr")
    },
    Some("""SELECT a.hr, a.n_a, b.n_b FROM
        (SELECT date_trunc('hour', ts) hr, count(*) n_a FROM events
         WHERE user_id % 2 = 0 GROUP BY 1) a LEFT JOIN
        (SELECT date_trunc('hour', ts) hr, count(*) n_b FROM events
         WHERE user_id % 2 = 1 GROUP BY 1) b ON a.hr = b.hr"""))

  /** As-of join: each click/view (plus injected rows that land EXACTLY on a
    * purchase timestamp — the equal-ts inclusivity probe) takes its user's
    * latest at-or-before purchase, nulled when staler than 2 h. Every 4th
    * purchase carries a NULL payload value, pinning the struct-atomic
    * match semantics: a matched-but-null payload row must STOP the
    * carry-forward (asof_ts set, asof_pval null), not reach past it.
    * Oracle: DuckDB's native ASOF LEFT JOIN + the same staleness CASE.
    */
  private val join4 = Spec("q96_join4_asof",
    (s, d) => {
      val ev = T(s, d, "events")
      val right = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"),
          when(col("event_id") % 4 =!= 0, col("value")).as("pval"))
      val left = ev.filter(col("event_type").isin("click", "view"))
        .select(col("event_id"), col("user_id"), col("ts"))
        .unionByName(ev.filter(col("event_type") === "purchase")
          .select((col("event_id") + 10000000L).as("event_id"),
            col("user_id"), col("ts")))
      Joins.asOfJoin(left, right, "user_id", "ts", Seq("pval"),
        tolerance = Some(expr("INTERVAL '2' HOUR")))
    },
    Some("""WITH r AS (SELECT user_id, ts,
          CASE WHEN event_id % 4 != 0 THEN value END AS pval
          FROM events WHERE event_type = 'purchase'),
        l AS (SELECT event_id, user_id, ts FROM events
          WHERE event_type IN ('click', 'view')
          UNION ALL SELECT event_id + 10000000, user_id, ts FROM events
          WHERE event_type = 'purchase'),
        j AS (SELECT l.event_id, l.user_id, l.ts, r.ts AS rts, r.pval
          FROM l ASOF LEFT JOIN r
          ON l.user_id = r.user_id AND l.ts >= r.ts)
        SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts,
          CAST(CASE WHEN rts >= ts - INTERVAL 2 HOUR THEN rts END
            AS TIMESTAMP) AS asof_ts,
          CASE WHEN rts >= ts - INTERVAL 2 HOUR THEN pval END AS asof_pval
        FROM j"""))

  /** OP-JOIN-5 — batch interval join: click→purchase attribution within a
    * 10-minute per-user window. The time bound is integer microseconds on
    * both engines (no interval/float drift); the equi-key keeps it a
    * plain shuffled equi-join at scale.
    */
  private val join5 = Spec("q102_join5_interval",
    (s, d) => {
      val ev = T(s, d, "events")
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("event_id").as("click_id"),
          col("ts").as("click_ts"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id").as("purchase_id"),
          col("ts").as("purchase_ts"))
      Joins.intervalJoin(clicks, purchases, "user_id", "click_ts",
        "purchase_ts", lowerMs = 0L, upperMs = 10 * 60 * 1000L,
        prefix = "")
    },
    Some("""SELECT c.user_id, c.event_id AS click_id,
        CAST(c.ts AS TIMESTAMP) AS click_ts,
        p.event_id AS purchase_id, CAST(p.ts AS TIMESTAMP) AS purchase_ts
        FROM events c JOIN events p ON c.user_id = p.user_id
          AND CAST(p.ts AS TIMESTAMP) >= CAST(c.ts AS TIMESTAMP)
          AND CAST(p.ts AS TIMESTAMP) <= CAST(c.ts AS TIMESTAMP)
            + INTERVAL 10 MINUTE
        WHERE c.event_type = 'click' AND p.event_type = 'purchase'"""))

  // ------------------------------------------------------------------
  // Aggregations
  // ------------------------------------------------------------------

  /** OP-AGG-1 — monthly mean keeping group keys. */
  private val agg1 = Spec("q20_agg1_monthly_mean",
    (s, d) => Relational.monthlyMean(T(s, d, "lineitem"), "l_shipdate",
      Seq("l_returnflag"), Seq("l_quantity")),
    Some("""SELECT CAST(date_trunc('month', l_shipdate) AS TIMESTAMP) AS year_month,
        l_returnflag, avg(l_quantity) AS l_quantity_mean
        FROM lineitem GROUP BY 1, 2"""))

  /** OP-AGG-2 — declarative resample incl. the last-wins RH_mean collision
    * (VPD's daily mean overwrites RH's, as the reference's dict
    * comprehension does) and the SWC delta aggregate.
    */
  private val agg2 = Spec("q21_agg2_resample_daily",
    (s, d) => {
      val df = T(s, d, "events").select(col("ts").as("valid_time"),
        col("event_type"),
        floor(col("value")).cast("double").as("TA"),
        floor(col("value") * 2).cast("double").as("RH"),
        floor(col("value") * 5).cast("double").as("VPD"),
        floor(col("value") * 7).cast("double").as("P"),
        floor(col("value") * 3).cast("double").as("SWC_1"))
      val res = AggSchema.resample(df, AggSchema.Daily, "valid_time",
        Seq("event_type"))
      res.select(res.columns.map {
        case c if c.endsWith("_std") => round(col(c), 6).as(c)
        case c => col(c)
      }: _*)
    },
    Some("""SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS period, event_type,
        avg(floor(value)) AS TA_mean, round(stddev_samp(floor(value)), 6) AS TA_std,
        min(floor(value)) AS TA_min, max(floor(value)) AS TA_max,
        avg(floor(value * 5)) AS RH_mean,
        round(stddev_samp(floor(value * 2)), 6) AS RH_std,
        max(floor(value * 2)) AS RH_max, min(floor(value * 2)) AS RH_min,
        round(stddev_samp(floor(value * 5)), 6) AS VPD_std,
        max(floor(value * 5)) AS VPD_max,
        sum(floor(value * 7)) AS P_sum, max(floor(value * 7)) AS P_max,
        avg(floor(value * 3)) AS SWC_1_mean, min(floor(value * 3)) AS SWC_1_min,
        arg_max(floor(value * 3), ts) - arg_min(floor(value * 3), ts) AS SWC_1_delta
        FROM events GROUP BY 1, 2"""))

  /** OP-AGG-3 — block-mean coarsen with trim. */
  private val agg3 = Spec("q22_agg3_coarsen",
    (s, d) => Windows.coarsen(
      T(s, d, "events").select((col("event_id") % 50).as("x_idx"),
        col("user_id").as("y_idx"), floor(col("value")).cast("double").as("v")),
      "x_idx", "y_idx", Seq("v"), 5),
    Some("""SELECT CAST(floor((event_id % 50) / CAST(5 AS DOUBLE)) AS BIGINT) AS block_x,
        CAST(floor(user_id / CAST(5 AS DOUBLE)) AS BIGINT) AS block_y,
        count(*) AS n_cells, avg(floor(value)) AS v_mean
        FROM events GROUP BY 1, 2 HAVING count(*) = 25"""))

  /** OP-AGG-4 — grouped bbox (min/max extent) aggregation. */
  private val agg4 = Spec("q23_agg4_bbox_extent",
    (s, d) => Geometry.bboxAgg(T(s, d, "customer"), "c_acctbal", "c_custkey",
      Seq("c_mktsegment")),
    Some("""SELECT c_mktsegment, max(c_acctbal) AS n, min(c_custkey) AS w,
        min(c_acctbal) AS s, max(c_custkey) AS e FROM customer
        GROUP BY c_mktsegment"""))

  /** OP-AGG-5 — distinct values. */
  private val agg5 = Spec("q24_agg5_distinct",
    (s, d) => Relational.distinctValues(T(s, d, "lineitem"),
      Seq("l_returnflag", "l_linestatus")),
    Some("SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem"))

  private val eventTypes = Seq("click", "view", "purchase", "error", "signup")

  /** OP-AGG-6 — explicit-value pivot: per-user event-type count matrix as
    * ONE conditional-count aggregate (no discovery distinct pass, schema
    * static).
    */
  private val agg6 = Spec("q107_pivot_counts",
    (s, d) => Relational.pivotCounts(T(s, d, "events"), Seq("user_id"),
      "event_type", eventTypes),
    Some(s"""SELECT user_id, ${eventTypes.map(v =>
        s"count(CASE WHEN event_type = '$v' THEN 1 END) AS $v")
        .mkString(", ")}
        FROM events GROUP BY user_id"""))

  /** OP-SET-3 — unpivot/melt to long form (explode, shuffle-free). */
  private val set3 = Spec("q108_unpivot_long",
    (s, d) => Relational.unpivot(T(s, d, "lineitem"),
      Seq("l_orderkey", "l_linenumber", "l_partkey"),
      Seq("l_quantity", "l_extendedprice", "l_discount")),
    Some(Seq("l_quantity", "l_extendedprice", "l_discount").map(c =>
      s"""SELECT l_orderkey, l_linenumber, l_partkey, '$c' AS variable,
          CAST($c AS DOUBLE) AS value FROM lineitem""")
      .mkString(" UNION ALL ")))

  /** OP-AGG-7 — exact linear-interpolated percentiles per event type
    * (reporting grain; the corpus-wide form is the approx sketch).
    */
  private val agg7 = Spec("q109_percentile_summary",
    (s, d) => Relational.percentileSummary(T(s, d, "events"),
      Seq("event_type"), "value", Seq(0.5, 0.95, 0.99)),
    Some("""SELECT event_type,
        round(quantile_cont(value, 0.5), 6) AS p50,
        round(quantile_cont(value, 0.95), 6) AS p95,
        round(quantile_cont(value, 0.99), 6) AS p99
        FROM events GROUP BY event_type"""))

  /** OP-AGG-8 — hierarchical rollup with grouping-id disambiguation;
    * quantities are integer-valued so the sums are exact.
    */
  private val agg8 = Spec("q110_rollup_totals",
    (s, d) => Relational.rollupAgg(T(s, d, "lineitem"),
      Seq("l_returnflag", "l_linestatus"),
      "sum_qty" -> sum(col("l_quantity")),
      "n_rows" -> count(lit(1))),
    Some("""SELECT l_returnflag, l_linestatus, sum(l_quantity) AS sum_qty,
        count(*) AS n_rows,
        CAST(GROUPING(l_returnflag, l_linestatus) AS INT) AS gid
        FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)"""))

  /** OP-WIN-4 — ordered funnel (signup → click → purchase, 48 h budget):
    * chained conditional min-aggregates on the shared user-key
    * partitioning; comparisons at µs resolution on both engines.
    */
  private val win4 = Spec("q111_funnel_steps",
    (s, d) => Windows.funnel(T(s, d, "events"), "user_id", "ts",
      "event_type", Seq("signup", "click", "purchase"),
      windowMs = 48L * 3600 * 1000),
    Some("""WITH s1 AS (SELECT user_id, min(CAST(ts AS TIMESTAMP)) AS t1
          FROM events WHERE event_type = 'signup' GROUP BY user_id),
        s2 AS (SELECT e.user_id, min(CAST(e.ts AS TIMESTAMP)) AS t2
          FROM events e JOIN s1 USING (user_id)
          WHERE e.event_type = 'click' AND CAST(e.ts AS TIMESTAMP) >= s1.t1
          GROUP BY e.user_id),
        s3 AS (SELECT e.user_id, min(CAST(e.ts AS TIMESTAMP)) AS t3
          FROM events e JOIN s2 USING (user_id)
          WHERE e.event_type = 'purchase' AND CAST(e.ts AS TIMESTAMP) >= s2.t2
          GROUP BY e.user_id)
        SELECT s1.user_id, t1, t2, t3,
          CASE WHEN t3 IS NOT NULL
            AND epoch_us(t3) - epoch_us(t1) <= 172800000000 THEN 1
            ELSE 0 END AS completed
        FROM s1 LEFT JOIN s2 USING (user_id) LEFT JOIN s3 USING (user_id)"""))

  /** OP-WIN-5 — retention cohort matrix over absolute 7-day epoch weeks
    * (integer µs division — calendar-free, tz-free, engine-exact).
    */
  private val win5 = Spec("q112_retention_cohorts",
    (s, d) => Windows.retentionCohorts(T(s, d, "events"), "user_id", "ts"),
    Some("""WITH a AS (SELECT DISTINCT user_id,
          epoch_us(CAST(ts AS TIMESTAMP)) // 604800000000 AS week
          FROM events),
        c AS (SELECT user_id, min(week) AS cohort_week FROM a
          GROUP BY user_id)
        SELECT cohort_week, week - cohort_week AS week_offset,
          count(*) AS n_users
        FROM a JOIN c USING (user_id) GROUP BY 1, 2"""))

  /** OP-WIN-6 — per-key linear gap interpolation (the arithmetic face of
    * the reference's gap-fill split: interior gaps blend, edge gaps stay
    * null). Values are nulled on a deterministic id predicate so both
    * engines interpolate the same holes; (ts, event_id) makes the
    * neighbour ordering total.
    */
  private val win6 = Spec("q113_interpolate_linear",
    (s, d) => Windows.interpolateLinear(
      T(s, d, "events").select(col("event_id"), col("user_id"), col("ts"),
        when(col("event_id") % 7 === 3, lit(null))
          .otherwise(col("value")).as("v")),
      Seq("user_id"), "ts", "v", Seq("event_id")),
    Some("""WITH e AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts,
          CASE WHEN event_id % 7 = 3 THEN NULL ELSE value END AS v
          FROM events),
        w AS (SELECT event_id, user_id, ts, v,
          last_value(CASE WHEN v IS NOT NULL
              THEN {'t': epoch_us(ts), 'v': v} END IGNORE NULLS)
            OVER (PARTITION BY user_id ORDER BY ts, event_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS p,
          first_value(CASE WHEN v IS NOT NULL
              THEN {'t': epoch_us(ts), 'v': v} END IGNORE NULLS)
            OVER (PARTITION BY user_id ORDER BY ts, event_id
              ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS n
          FROM e)
        SELECT event_id, user_id, ts, v,
          CASE WHEN v IS NOT NULL THEN v
            ELSE round(p.v + (n.v - p.v) *
              CAST(epoch_us(ts) - p.t AS DOUBLE)
              / CAST(n.t - p.t AS DOUBLE), 6) END AS value_interp
        FROM w"""))

  /** The q114/q137 update batch (10% in-place updates + sparse inserts)
    * and its merged-snapshot SQL — ONE copy each, shared by the merge
    * query and the snapshot-diff query.
    */
  private def ordersUpdates(base: DataFrame): DataFrame =
    base.filter(col("o_orderkey") % 10 === 0)
      .withColumn("o_orderstatus", lit("U"))
      .withColumn("o_totalprice", col("o_totalprice") + 1000.0)
      .unionByName(base.filter(col("o_orderkey") % 97 === 0)
        .select((col("o_orderkey") + 1000000000L).as("o_orderkey"),
          col("o_custkey"), lit("N").as("o_orderstatus"),
          lit(100.0).as("o_totalprice"), col("o_orderdate"),
          col("o_orderpriority")))

  private val orderCols = Seq("o_custkey", "o_orderstatus", "o_totalprice",
    "o_orderdate", "o_orderpriority")

  private val mergedOrdersCtesSql = s"""upd AS (
        SELECT o_orderkey, o_custkey, 'U' AS o_orderstatus,
          o_totalprice + CAST(1000 AS DOUBLE) AS o_totalprice,
          o_orderdate, o_orderpriority
        FROM orders WHERE o_orderkey % 10 = 0
        UNION ALL
        SELECT o_orderkey + 1000000000, o_custkey, 'N',
          CAST(100 AS DOUBLE), o_orderdate, o_orderpriority
        FROM orders WHERE o_orderkey % 97 = 0),
      merged AS (
        SELECT coalesce(u.o_orderkey, b.o_orderkey) AS o_orderkey,
          ${orderCols.map(c => s"coalesce(u.$c, b.$c) AS $c")
            .mkString(", ")}
        FROM orders b FULL JOIN upd u ON b.o_orderkey = u.o_orderkey)"""

  /** OP-MISC-4 — CDC merge/upsert: a derived update batch merged into
    * `orders` on the order key.
    */
  private val misc4 = Spec("q114_merge_upsert",
    (s, d) => {
      val base = T(s, d, "orders")
      Relational.mergeUpsert(base, ordersUpdates(base), Seq("o_orderkey"))
    },
    Some(s"WITH $mergedOrdersCtesSql SELECT * FROM merged"))

  /** OP-MISC-6 — snapshot diff (change-data-feed generator): old `orders`
    * vs the merged snapshot with every 13th key deleted → I/U/D rows
    * only, unchanged keys dropped.
    */
  private val misc6 = Spec("q137_snapshot_diff",
    (s, d) => {
      val base = T(s, d, "orders")
      val merged = Relational
        .mergeUpsert(base, ordersUpdates(base), Seq("o_orderkey"))
        .filter(col("o_orderkey") % 13 =!= 0)
      Relational.snapshotDiff(base, merged, Seq("o_orderkey"))
    },
    Some({
      val changed = orderCols
        .map(c => s"(o.$c IS DISTINCT FROM n.$c)").mkString(" OR ")
      s"""WITH $mergedOrdersCtesSql,
        ns AS (SELECT * FROM merged WHERE o_orderkey % 13 != 0),
        cls AS (SELECT
          coalesce(n.o_orderkey, o.o_orderkey) AS o_orderkey,
          CASE WHEN o.o_orderkey IS NULL THEN 'I'
            WHEN n.o_orderkey IS NULL THEN 'D'
            WHEN $changed THEN 'U' END AS op,
          ${orderCols.map(c => s"n.$c AS new_$c").mkString(", ")},
          ${orderCols.map(c => s"o.$c AS old_$c").mkString(", ")}
          FROM orders o FULL JOIN ns n ON n.o_orderkey = o.o_orderkey)
        SELECT * FROM cls WHERE op IS NOT NULL"""
    }))

  /** OP-AGG-9 — fixed-width histogram of event values ([0,200) in 40
    * bins); the > 200 tail exercises the edge-bin clamp.
    */
  private val agg9 = Spec("q115_histogram",
    (s, d) => Relational.histogram(T(s, d, "events"), "value",
      0.0, 200.0, 40),
    Some("""WITH b AS (SELECT CAST(least(greatest(
          floor((value - CAST(0 AS DOUBLE)) / CAST(5 AS DOUBLE)),
          CAST(0 AS DOUBLE)), CAST(39 AS DOUBLE)) AS INT) AS bin
        FROM events WHERE value IS NOT NULL)
        SELECT bin, count(*) AS n,
          round(CAST(0 AS DOUBLE) + bin * CAST(5 AS DOUBLE), 6) AS bin_lo,
          round(CAST(0 AS DOUBLE) + (bin + 1) * CAST(5 AS DOUBLE), 6)
            AS bin_hi
        FROM b GROUP BY bin"""))

  /** OP-AGG-10 — numeric column profiling report (long form). */
  private val agg10 = Spec("q116_profile_numeric",
    (s, d) => Relational.profileNumeric(T(s, d, "lineitem"),
      Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")),
    Some(Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax").map(c =>
      s"""SELECT '$c' AS col_name, count($c) AS n_values,
          count(*) - count($c) AS n_nulls,
          count(DISTINCT $c) AS n_distinct,
          CAST(min($c) AS DOUBLE) AS min_value,
          CAST(max($c) AS DOUBLE) AS max_value FROM lineitem""")
      .mkString(" UNION ALL ")))

  /** OP-AGG-11 — skew-safe per-key distinct-value list: two-phase
    * value-salted set collection (a hot key's row traffic spreads over
    * the salt range; phase 2 merges only per-salt partial sets). CSV
    * output — arrays don't survive the driver comparator.
    */
  private val agg11 = Spec("q121_distinct_values_per_key",
    (s, d) => Relational.skewSafeDistinctList(T(s, d, "events"),
      Seq("user_id"), "event_type"),
    Some("""SELECT user_id,
        array_to_string(list_sort(list_distinct(list(event_type))), ',')
          AS values_csv,
        CAST(count(DISTINCT event_type) AS INT) AS n_distinct
        FROM events GROUP BY user_id"""))

  /** Z-order (Morton) clustering key over a 1024×1024 grid projection of
    * (l_partkey, l_suppkey) — the layout key that makes parquet min/max
    * skipping work on BOTH dimensions of a bbox-style predicate
    * ([[graft.engine.Layout]]).
    */
  private val lay1 = Spec("q122_zorder_key",
    (s, d) => T(s, d, "lineitem").select(col("l_orderkey"),
      col("l_linenumber"), pmod(col("l_partkey"), lit(1024)).as("gx"),
      pmod(col("l_suppkey"), lit(1024)).as("gy"))
      .withColumn("zkey", Layout.zorderKey(col("gx"), col("gy"), 10)),
    Some({
      val terms = (0 until 10).map(k =>
        s"((((gx >> $k) & 1) << ${2 * k}) | " +
          s"(((gy >> $k) & 1) << ${2 * k + 1}))")
        .mkString(" | ")
      s"""WITH g AS (SELECT l_orderkey, l_linenumber,
          l_partkey % 1024 AS gx, l_suppkey % 1024 AS gy FROM lineitem)
          SELECT l_orderkey, l_linenumber, gx, gy, $terms AS zkey FROM g"""
    }))

  /** OP-WIN-9 — hourly OHLC bars per user (deterministic open/close via
    * total-order ranks sharing one exchange).
    */
  private val win9 = Spec("q133_ohlc_bars",
    (s, d) => Windows.ohlcBars(
      T(s, d, "events").select(col("user_id"), col("ts"), col("event_id"),
        col("value")),
      Seq("user_id"), "ts", "value", Seq("event_id")),
    Some("""WITH e AS (SELECT user_id,
          CAST(date_trunc('hour', CAST(ts AS TIMESTAMP)) AS TIMESTAMP)
            AS bar,
          CAST(ts AS TIMESTAMP) AS ts, event_id, value FROM events),
        w AS (SELECT *, row_number() OVER (PARTITION BY user_id, bar
            ORDER BY ts, event_id) AS ra,
          row_number() OVER (PARTITION BY user_id, bar
            ORDER BY ts DESC, event_id DESC) AS rd FROM e)
        SELECT user_id, bar, max(CASE WHEN ra = 1 THEN value END) AS open,
          max(value) AS high, min(value) AS low,
          max(CASE WHEN rd = 1 THEN value END) AS close,
          count(*) AS n_events
        FROM w GROUP BY 1, 2"""))

  /** OP-WIN-10 — daily active / new / cumulative reach curve. */
  private val win10 = Spec("q134_daily_reach",
    (s, d) => Windows.dailyReach(T(s, d, "events"), "user_id", "ts"),
    Some("""WITH a AS (SELECT DISTINCT user_id,
          CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS TIMESTAMP)
            AS day
          FROM events),
        t AS (SELECT day,
          min(day) OVER (PARTITION BY user_id) AS fd FROM a),
        g AS (SELECT day, count(*) AS n_active,
          count(CASE WHEN day = fd THEN 1 END) AS n_new FROM t
          GROUP BY day)
        SELECT day, n_active, n_new,
          CAST(sum(n_new) OVER (ORDER BY day
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
            AS n_cum
        FROM g"""))

  /** OP-JOIN-7 — point-in-time SCD-2 lookup: every event enriched with
    * the state interval covering its timestamp (rides the as-of union +
    * window pass — no interval-predicate join).
    */
  private val join7 = Spec("q136_temporal_lookup",
    (s, d) => {
      val ev = T(s, d, "events")
      val dim = Relational.scd2(
        ev.select(col("user_id"), col("ts"), col("event_id"),
          col("event_type")),
        Seq("user_id"), "ts", "event_type", Seq("event_id"))
      Joins.temporalLookup(
        ev.select(col("event_id"), col("user_id"), col("ts")),
        dim, "user_id", "ts", "valid_from", Seq("event_type"))
    },
    Some("""WITH e AS (SELECT user_id, event_type,
          CAST(ts AS TIMESTAMP) AS ts, event_id FROM events),
        c AS (SELECT *, lag(event_type) OVER
            (PARTITION BY user_id ORDER BY ts, event_id) AS prev,
          row_number() OVER
            (PARTITION BY user_id ORDER BY ts, event_id) AS rn FROM e),
        chg AS (SELECT user_id, event_type, ts, event_id FROM c
          WHERE rn = 1 OR prev IS DISTINCT FROM event_type),
        iv AS (SELECT user_id, event_type, ts AS valid_from,
          lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
            AS valid_to FROM chg)
        SELECT f.event_id, f.user_id, f.ts, iv.valid_from AS dim_ts,
          iv.event_type AS dim_event_type
        FROM e f JOIN iv ON iv.user_id = f.user_id
          AND iv.valid_from <= f.ts
          AND (iv.valid_to IS NULL OR f.ts < iv.valid_to)"""))

  /** OP-WIN-11 — exact running balance per user (scaled-integer cumsum). */
  private val win11 = Spec("q138_running_total",
    (s, d) => Windows.runningTotal(
      T(s, d, "events").select(col("event_id"), col("user_id"), col("ts"),
        col("value")),
      Seq("user_id"), "ts", "value", Seq("event_id")),
    Some("""SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, value,
        round(CAST(sum(CAST(round(value * 100) AS BIGINT))
          OVER (PARTITION BY user_id ORDER BY ts, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
          / 100, 6) AS running_value
        FROM events"""))

  /** OP-JOIN-8 — geo nearest-site join (haversine, degree-cell
    * candidates): synthesized planar coords in [0,50]° keep the q13
    * convention; maxAbsLat 50° → cos ≈ 0.64 → cellDeg 300/70 ≈ 4.29
    * satisfies the ±1-cell bound.
    */
  private val join8 = Spec("q140_nearest_spatial",
    (s, d) => Joins.nearestSpatialJoin(
      T(s, d, "lineitem").select(col("l_orderkey"), col("l_linenumber"),
        col("l_quantity").as("plat"), (col("l_discount") * 500).as("plon")),
      T(s, d, "nation").select(col("n_nationkey"),
        (col("n_nationkey") * 2.0).as("slat"),
        (col("n_nationkey") * 2.0).as("slon")),
      Seq("l_orderkey", "l_linenumber"), "plat", "plon",
      "n_nationkey", "slat", "slon", maxKm = 300.0, cellDeg = 300.0 / 70),
    Some("""WITH p AS (SELECT l_orderkey, l_linenumber,
          l_quantity AS plat, l_discount * 500 AS plon FROM lineitem),
        st AS (SELECT n_nationkey,
          n_nationkey * CAST(2 AS DOUBLE) AS slat,
          n_nationkey * CAST(2 AS DOUBLE) AS slon FROM nation),
        dd AS (SELECT p.l_orderkey, p.l_linenumber, st.n_nationkey,
          round(CAST(12742 AS DOUBLE) * asin(sqrt(
            sin(radians(slat - plat) / 2) * sin(radians(slat - plat) / 2)
            + cos(radians(plat)) * cos(radians(slat))
              * sin(radians(slon - plon) / 2)
              * sin(radians(slon - plon) / 2))), 6) AS dist_km
          FROM p CROSS JOIN st),
        f AS (SELECT *, row_number() OVER
            (PARTITION BY l_orderkey, l_linenumber
             ORDER BY dist_km, n_nationkey) AS rk
          FROM dd WHERE dist_km <= CAST(300 AS DOUBLE))
        SELECT l_orderkey, l_linenumber, n_nationkey, dist_km
        FROM f WHERE rk = 1"""))

  /** OP-MISC-7 — data-quality expectation report over lineitem. */
  private val misc7 = Spec("q141_quality_checks",
    (s, d) => Relational.qualityChecks(T(s, d, "lineitem"), Seq(
      "quantity_in_range" -> col("l_quantity").between(1, 50),
      "discount_bounded" -> (col("l_discount") <= 0.1),
      "shipdate_present" -> col("l_shipdate").isNotNull,
      "price_positive" -> (col("l_extendedprice") > 0))),
    Some(Seq(
      ("quantity_in_range", "l_quantity BETWEEN 1 AND 50"),
      ("discount_bounded", "l_discount <= CAST(0.1 AS DOUBLE)"),
      ("shipdate_present", "l_shipdate IS NOT NULL"),
      ("price_positive", "l_extendedprice > 0")).map { case (n, p) =>
      s"""SELECT '$n' AS check_name,
          count(CASE WHEN NOT coalesce($p, false) THEN 1 END)
            AS n_violations,
          count(*) AS n_rows FROM lineitem"""
    }.mkString(" UNION ALL ")))

  /** OP-WIN-12 — flat lag/lead feature columns sharing one window sort. */
  private val win12 = Spec("q142_lag_features",
    (s, d) => Windows.lagFeatures(
      T(s, d, "events").select(col("event_id"), col("user_id"), col("ts"),
        col("value")),
      Seq("user_id"), "ts", "value", lags = Seq(1, 2), leads = Seq(1),
      tiebreakCols = Seq("event_id")),
    Some("""SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, value,
        lag(value, 1) OVER w AS value_lag1,
        lag(value, 2) OVER w AS value_lag2,
        lead(value, 1) OVER w AS value_lead1
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)"""))

  /** OP-WIN-14 — dense hourly regrid + interpolation per user (the
    * composed resample-then-gapfill flagship over the event stream).
    */
  private val win14 = Spec("q154_resample_interpolate",
    (s, d) => Windows.resampleWithInterpolation(
      T(s, d, "events").select(col("user_id"), col("ts"), col("value")),
      Seq("user_id"), "ts", "value"),
    Some("""WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value
          FROM events),
        h AS (SELECT user_id, date_trunc('hour', ts) AS ts,
          round(avg(value), 6) AS v_mean FROM e GROUP BY 1, 2),
        span AS (SELECT user_id, min(date_trunc('hour', ts)) AS t0,
          max(date_trunc('hour', ts)) AS t1 FROM e GROUP BY 1),
        grid AS (SELECT user_id,
          unnest(generate_series(t0, t1, INTERVAL 1 HOUR)) AS ts
          FROM span),
        j AS (SELECT g.user_id, g.ts, h.v_mean
          FROM grid g LEFT JOIN h ON h.user_id = g.user_id
            AND h.ts = g.ts),
        w AS (SELECT user_id, ts, v_mean,
          last_value(CASE WHEN v_mean IS NOT NULL
              THEN {'t': epoch_us(ts), 'v6': round(v_mean * 1000000)}
              END IGNORE NULLS)
            OVER (PARTITION BY user_id ORDER BY ts
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS p,
          first_value(CASE WHEN v_mean IS NOT NULL
              THEN {'t': epoch_us(ts), 'v6': round(v_mean * 1000000)}
              END IGNORE NULLS)
            OVER (PARTITION BY user_id ORDER BY ts
              ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS n
          FROM j)
        SELECT user_id, ts, v_mean,
          CASE WHEN v_mean IS NOT NULL THEN v_mean
            ELSE round(p.v6 + (n.v6 - p.v6) *
              CAST(epoch_us(ts) - p.t AS DOUBLE)
              / CAST(n.t - p.t AS DOUBLE))
              / CAST(1000000 AS DOUBLE) END AS value_interp
        FROM w"""))

  /** OP-AGG-13 — group-median imputation over deterministically-nulled
    * event values.
    */
  private val agg13 = Spec("q147_impute_median",
    (s, d) => Relational.imputeByGroup(
      T(s, d, "events").select(col("event_id"), col("event_type"),
        when(col("event_id") % 11 === 5, lit(null))
          .otherwise(col("value")).as("v")),
      Seq("event_type"), "v"),
    Some("""WITH e AS (SELECT event_id, event_type,
          CASE WHEN event_id % 11 = 5 THEN NULL ELSE value END AS v
          FROM events),
        m AS (SELECT event_type, round(quantile_cont(v, 0.5), 6) AS med
          FROM e GROUP BY 1)
        SELECT event_id, e.event_type, v, coalesce(v, med) AS v_filled
        FROM e JOIN m ON m.event_type = e.event_type"""))

  /** OP-PRJ-4 — one-hot to an explicit vocabulary; 'signup' left out so
    * the `_other` catch-all is exercised.
    */
  private val prj4 = Spec("q148_one_hot",
    (s, d) => Relational.oneHot(
      T(s, d, "events").select(col("event_id"), col("event_type")),
      "event_type", eventTypes.filterNot(_ == "signup")),
    Some(s"""SELECT event_id, event_type,
        ${eventTypes.filterNot(_ == "signup").map(v =>
          s"CASE WHEN event_type = '$v' THEN 1 ELSE 0 END AS event_type_$v")
          .mkString(", ")},
        CASE WHEN event_type IS NOT NULL AND event_type NOT IN
          (${eventTypes.filterNot(_ == "signup")
            .map(v => s"'$v'").mkString(", ")})
          THEN 1 ELSE 0 END AS event_type_other
        FROM events"""))

  /** OP-AGG-14 — smoothed target encoding of event_type against the
    * value column (exact-cents sums; m = 10 pseudo-counts).
    */
  private val agg14 = Spec("q149_target_encode",
    (s, d) => Relational.targetEncode(
      T(s, d, "events").select(col("event_id"), col("event_type"),
        col("value")),
      "event_type", "value"),
    Some("""WITH c AS (SELECT event_type,
          CAST(sum(CAST(round(value * 100) AS BIGINT)) AS DOUBLE) AS s,
          count(value) AS n FROM events GROUP BY 1),
        g AS (SELECT CAST(sum(CAST(round(value * 100) AS BIGINT))
            AS DOUBLE) / (count(value) * 100) AS gmean FROM events),
        enc AS (SELECT event_type,
          round((s / 100 + CAST(10 AS DOUBLE) * gmean)
            / (n + CAST(10 AS DOUBLE)), 6) AS event_type_enc
          FROM c CROSS JOIN g)
        SELECT event_id, e.event_type, value, event_type_enc
        FROM events e JOIN enc ON enc.event_type = e.event_type"""))

  /** OP-WIN-13 — within-language quality percentile rank (rounded score,
    * rank ties shared — the score-calibration step).
    */
  private val win13 = Spec("q150_percent_rank",
    (s, d) => Windows.percentRankIn(
      T(s, d, "events").select(col("event_id"), col("event_type"),
        round(col("value"), 1).as("score")),
      Seq("event_type"), "score"),
    Some("""SELECT event_id, event_type, round(value, 1) AS score,
        round(percent_rank() OVER (PARTITION BY event_type
          ORDER BY round(value, 1)), 6) AS pct_rank
        FROM events"""))

  /** OP-SNK-4 — JSONL round trip: the documents table through the
    * training-data interchange format (2 deterministic range shards,
    * explicit read schema) must come back value-identical.
    */
  private val snk4 = Spec("q146_jsonl_roundtrip",
    (s, d) => {
      Sinks.writeJsonl(T(s, d, "documents"), tmp("snk4"),
        shardOn = Some(("doc_id", 2)))
      Sinks.readJsonl(s, tmp("snk4"),
        "doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT")
    },
    Some("SELECT doc_id, text, lang, source, n_chars FROM documents"))

  /** OP-MISC-8 — ray-casting point-in-polygon against a non-convex
    * L-shaped polygon (literal vertex arrays; synthesized [0,10]² point
    * coords per the q13 convention).
    */
  private val misc8 = Spec("q143_point_in_polygon",
    (s, d) => {
      val px = Seq(0.0, 8.0, 8.0, 4.0, 4.0, 0.0)
      val py = Seq(0.0, 0.0, 4.0, 4.0, 8.0, 8.0)
      T(s, d, "lineitem").select(col("l_orderkey"), col("l_linenumber"),
        Geometry.pointInPolygonLiteral(col("l_quantity") / 5.0,
          col("l_discount") * 100, px, py).as("inside"))
    },
    Some({
      val xv = Seq(0.0, 8.0, 8.0, 4.0, 4.0, 0.0)
      val yv = Seq(0.0, 0.0, 4.0, 4.0, 8.0, 8.0)
      def D(v: Double) = s"CAST($v AS DOUBLE)"
      val terms = (0 until 6).map { i =>
        val j = (i + 1) % 6
        s"""(CASE WHEN ((${D(yv(i))} > py) != (${D(yv(j))} > py))
            AND px < (${D(xv(j))} - ${D(xv(i))}) * (py - ${D(yv(i))})
              / (${D(yv(j))} - ${D(yv(i))}) + ${D(xv(i))}
            THEN 1 ELSE 0 END)"""
      }.mkString(" + ")
      s"""WITH p AS (SELECT l_orderkey, l_linenumber,
          l_quantity / CAST(5 AS DOUBLE) AS px,
          l_discount * 100 AS py FROM lineitem)
          SELECT l_orderkey, l_linenumber, ($terms) % 2 = 1 AS inside
          FROM p"""
    }))

  /** OP-JOIN-6 — ε-band join on account balance: cell-bucketed candidate
    * generation + exact band filter, never a cross product.
    */
  private val join6 = Spec("q131_band_join",
    (s, d) => Joins.bandJoin(
      T(s, d, "supplier").select(col("s_suppkey"), col("s_acctbal")),
      T(s, d, "customer").select(col("c_custkey"), col("c_acctbal")),
      "s_acctbal", "c_acctbal", eps = 100.0),
    Some("""SELECT s_suppkey, s_acctbal, c_custkey, c_acctbal
        FROM supplier JOIN customer
          ON abs(s_acctbal - c_acctbal) <= CAST(100 AS DOUBLE)"""))

  /** Star-schema revenue cube: fact⋈fact on the order key, dim chain to
    * region, (region, month) rollup in exact integer cents.
    */
  private val pipe4 = Spec("q124_star_revenue",
    (s, d) => Pipeline.revenueByRegionMonth(T(s, d, "lineitem"),
      T(s, d, "orders"), T(s, d, "customer"), T(s, d, "nation"),
      T(s, d, "region")),
    Some("""SELECT r_name AS region_name,
        CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS year_month,
        floor((CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT) *
          (100 - CAST(round(l_discount * 100) AS BIGINT))) AS DOUBLE)
          + CAST(50 AS DOUBLE)) / CAST(100 AS DOUBLE))
          / CAST(100 AS DOUBLE) AS revenue,
        count(*) AS n_items
        FROM lineitem JOIN orders ON o_orderkey = l_orderkey
          JOIN customer ON c_custkey = o_custkey
          JOIN nation ON n_nationkey = c_nationkey
          JOIN region ON r_regionkey = n_regionkey
        GROUP BY 1, 2"""))

  /** OP-WIN-7 — time-weighted average per user (integer-exact Σ(v·dt)). */
  private val win7 = Spec("q125_time_weighted_avg",
    (s, d) => Windows.timeWeightedAvg(
      T(s, d, "events").select(col("user_id"), col("ts"), col("event_id"),
        col("value")),
      Seq("user_id"), "ts", "value", Seq("event_id")),
    Some("""WITH l AS (SELECT user_id,
          CAST(round(value * 100) AS BIGINT) AS vs,
          epoch_us(CAST(ts AS TIMESTAMP)) AS t,
          lead(epoch_us(CAST(ts AS TIMESTAMP))) OVER
            (PARTITION BY user_id ORDER BY ts, event_id) AS nt
        FROM events)
        SELECT user_id,
          round(CAST(sum(vs * (nt - t)) AS DOUBLE)
            / CAST(sum(nt - t) AS DOUBLE) / 100, 6) AS twap,
          count(*) AS n_intervals
        FROM l WHERE nt IS NOT NULL GROUP BY user_id"""))

  /** OP-MISC-5 — SCD-2 validity intervals from the event change log
    * (consecutive unchanged states collapsed).
    */
  private val misc5 = Spec("q126_scd2_intervals",
    (s, d) => Relational.scd2(
      T(s, d, "events").select(col("user_id"), col("ts"), col("event_id"),
        col("event_type")),
      Seq("user_id"), "ts", "event_type", Seq("event_id")),
    Some("""WITH e AS (SELECT user_id, event_type,
          CAST(ts AS TIMESTAMP) AS ts, event_id FROM events),
        c AS (SELECT *, lag(event_type) OVER
            (PARTITION BY user_id ORDER BY ts, event_id) AS prev,
          row_number() OVER
            (PARTITION BY user_id ORDER BY ts, event_id) AS rn
          FROM e),
        chg AS (SELECT user_id, event_type, ts, event_id FROM c
          WHERE rn = 1 OR prev IS DISTINCT FROM event_type)
        SELECT user_id, event_type, ts AS valid_from,
          lead(ts) OVER w AS valid_to,
          CASE WHEN lead(ts) OVER w IS NULL THEN 1 ELSE 0 END AS is_current
        FROM chg WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)"""))

  /** OP-AGG-12 — per-group winsorization at the exact [p5, p95] bounds. */
  private val agg12 = Spec("q127_winsorize",
    (s, d) => Relational.winsorize(
      T(s, d, "events").select(col("event_id"), col("event_type"),
        col("value")),
      Seq("event_type"), "value", 0.05, 0.95),
    Some("""WITH b AS (SELECT event_type,
          round(quantile_cont(value, 0.05), 6) AS lo,
          round(quantile_cont(value, 0.95), 6) AS hi
        FROM events GROUP BY event_type)
        SELECT event_id, e.event_type, value,
          CASE WHEN lo IS NULL THEN value
               ELSE least(greatest(value, lo), hi) END AS value_w
        FROM events e LEFT JOIN b ON b.event_type = e.event_type"""))

  /** OP-WIN-8 — session-level rollup over the q97 sessionization. */
  private val win8 = Spec("q128_session_stats",
    (s, d) => Windows.sessionStats(
      T(s, d, "events").select(col("user_id"), col("ts")),
      "user_id", "ts", expr("INTERVAL '30' MINUTE")),
    Some("""WITH b AS (SELECT user_id, ts,
          CASE WHEN lag(ts) OVER w IS NULL
            OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE
            THEN 1 ELSE 0 END AS brk
          FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
        s AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts,
          CAST(sum(brk) OVER (PARTITION BY user_id ORDER BY ts
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS INT)
            AS session_idx FROM b)
        SELECT user_id, session_idx, min(ts) AS session_start,
          max(ts) AS session_end, count(*) AS n_events,
          epoch_us(max(ts)) - epoch_us(min(ts)) AS duration_us
        FROM s GROUP BY 1, 2"""))

  // ------------------------------------------------------------------
  // Windows / sort / sets
  // ------------------------------------------------------------------

  /** OP-WIN-1 — trailing sliding window per key (n=16). Gate shape: the
    * window array is pos-exploded to scalar rows — the driver's comparator
    * cannot sort ARRAY cells, and float→string serialization is not
    * cross-engine stable, while the raw doubles themselves are bit-exact
    * parquet passthrough on both engines.
    */
  private val win1 = Spec("q25_win1_sliding_window",
    (s, d) => Windows.slidingFeatures(T(s, d, "events")
      .select(col("user_id"), col("ts"), col("value")),
      Seq("user_id"), "ts", Seq("value"), 16)
      .select(col("user_id"), col("ts"), posexplode(col("value_win")))
      .withColumnRenamed("col", "win_value"),
    Some("""WITH w AS (SELECT user_id, ts,
          list(value) OVER (PARTITION BY user_id ORDER BY ts
            ROWS BETWEEN 15 PRECEDING AND CURRENT ROW) AS value_win
          FROM events)
        SELECT user_id, ts, CAST(i.i AS INT) AS pos,
          value_win[CAST(i.i AS INT) + 1] AS win_value
        FROM w CROSS JOIN (SELECT unnest(range(16)) AS i) i
        WHERE len(value_win) = 16"""))

  /** OP-WIN-2 — first/last-in-group delta via order-free max_by/min_by. */
  private val win2 = Spec("q26_win2_group_delta",
    (s, d) => T(s, d, "events").groupBy(col("user_id"))
      .agg((max_by(col("value"), col("ts")) -
        min_by(col("value"), col("ts"))).as("value_delta")),
    Some("""SELECT user_id, arg_max(value, ts) - arg_min(value, ts)
        AS value_delta FROM events GROUP BY user_id"""))

  /** Batch sessionization: per-user session numbering at 30-min inactivity
    * gaps. Oracle: the textbook lag-break + running-sum window pair — the
    * same two-window shape the operator plans, so the gate pins the break
    * strictness (gap must EXCEED the interval) and the 1-based numbering.
    */
  private val win3 = Spec("q97_win3_sessionize",
    (s, d) => Windows.sessionize(
      T(s, d, "events").select(col("event_id"), col("user_id"), col("ts")),
      "user_id", "ts", expr("INTERVAL '30' MINUTE")),
    Some("""WITH b AS (SELECT event_id, user_id, ts,
          CASE WHEN lag(ts) OVER w IS NULL
            OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE
            THEN 1 ELSE 0 END AS brk
          FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts))
        SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts,
          CAST(sum(brk) OVER (PARTITION BY user_id ORDER BY ts
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS INT)
          AS session_idx FROM b"""))

  /** OP-SORT-1 — multi-key total-order sort + limit. */
  private val sort1 = Spec("q27_sort1_multikey",
    (s, d) => Relational.sortBy(T(s, d, "lineitem")
      .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity")),
      Seq("l_orderkey" -> true, "l_linenumber" -> true)).limit(1000),
    Some("""SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
        ORDER BY l_orderkey, l_linenumber LIMIT 1000"""))

  /** OP-SET-1 — aligned union of splits reassembles the table. */
  private val set1 = Spec("q28_set1_union",
    (s, d) => {
      val li = T(s, d, "lineitem").select(col("l_orderkey"),
        col("l_linenumber"), col("l_quantity"))
      Relational.unionAligned(Seq(li.filter(col("l_orderkey") % 2 === 0),
        li.filter(col("l_orderkey") % 2 === 1)))
    },
    Some("SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem"))

  /** OP-SET-2 — concat along a new dimension. */
  private val set2 = Spec("q29_set2_concat_dim",
    (s, d) => {
      val o = T(s, d, "orders").select(col("o_orderkey"), col("o_orderstatus"))
      Relational.concatAlong(Seq(
        (lit("open"), o.filter(col("o_orderstatus") === "O")),
        (lit("done"), o.filter(col("o_orderstatus") === "F"))), "batch")
    },
    Some("""SELECT o_orderkey, o_orderstatus, 'open' AS batch FROM orders
        WHERE o_orderstatus = 'O' UNION ALL
        SELECT o_orderkey, o_orderstatus, 'done' AS batch FROM orders
        WHERE o_orderstatus = 'F'"""))

  // ------------------------------------------------------------------
  // Dates / strings / misc
  // ------------------------------------------------------------------

  /** OP-DT-1 — two-format timestamp parse with fallback. */
  private val dt1 = Spec("q30_dt1_two_format_parse",
    (s, d) => T(s, d, "events").select(col("event_id"),
      Dates.parseTimestamp(
        when(col("event_id") % 2 === 0, date_format(col("ts"), "yyyy-MM-dd HH:mm:ss"))
          .otherwise(date_format(col("ts"), "yyyyMMddHHmm"))).as("parsed")),
    Some("""SELECT event_id, CASE WHEN event_id % 2 = 0
        THEN date_trunc('second', ts) ELSE date_trunc('minute', ts) END
        AS parsed FROM events"""))

  /** OP-DT-2 — date parts. */
  private val dt2 = Spec("q31_dt2_date_parts",
    (s, d) => {
      val parts = Dates.dateParts(col("o_orderdate"))
      T(s, d, "orders").select(col("o_orderkey") +:
        parts.map { case (n, c) => c.as(n) }: _*)
    },
    Some("""SELECT o_orderkey, CAST(date_part('year', o_orderdate) AS INT) AS year,
        CAST(date_part('month', o_orderdate) AS INT) AS month,
        CAST(date_part('day', o_orderdate) AS INT) AS day,
        CAST(date_part('doy', o_orderdate) AS INT) AS doy,
        CAST(date_part('hour', o_orderdate) AS INT) AS hod,
        strftime(o_orderdate, '%H:%M:%S') AS hms FROM orders"""))

  /** OP-DT-3 — calendar sequence generation (monthly series spanning the
    * order-date range).
    */
  private val dt3 = Spec("q32_dt3_calendar_series",
    (s, d) => T(s, d, "orders")
      .agg(min(col("o_orderdate")).as("t0"), max(col("o_orderdate")).as("t1"))
      .select(Dates.timeSeries(col("t0"), col("t1"), "month").as("month_start")),
    Some("""SELECT unnest(generate_series(
        (SELECT min(o_orderdate) FROM orders),
        (SELECT max(o_orderdate) FROM orders), INTERVAL 1 MONTH))
        AS month_start"""))

  /** OP-DT-4 — month-end / month-truncate. */
  private val dt4 = Spec("q33_dt4_month_end",
    (s, d) => T(s, d, "orders").select(col("o_orderkey"),
      Dates.monthEnd(col("o_orderdate")).cast("timestamp").as("m_end"),
      Dates.monthStart(col("o_orderdate")).as("m_start")),
    Some("""SELECT o_orderkey, CAST(last_day(o_orderdate) AS TIMESTAMP) AS m_end,
        CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS m_start
        FROM orders"""))

  /** OP-STR-1 — region-id synthesis (printf on half-degree-safe values). */
  private val str1 = Spec("q34_str1_region_id",
    (s, d) => T(s, d, "nation").select(col("n_nationkey"),
      format_string("r%d_%.1fto%.1f_%.1fto%.1f", col("n_nationkey"),
        col("n_nationkey") * 1.5 - 10, col("n_nationkey") * 1.5 - 10 + 2.3,
        col("n_nationkey") * 2.5 - 30, col("n_nationkey") * 2.5 - 30 + 5.7)
        .as("region_id")),
    Some("""SELECT n_nationkey, printf('r%d_%.1fto%.1f_%.1fto%.1f', n_nationkey,
        n_nationkey * CAST(1.5 AS DOUBLE) - 10,
        n_nationkey * CAST(1.5 AS DOUBLE) - 10 + CAST(2.3 AS DOUBLE),
        n_nationkey * CAST(2.5 AS DOUBLE) - 30,
        n_nationkey * CAST(2.5 AS DOUBLE) - 30 + CAST(5.7 AS DOUBLE))
        AS region_id FROM nation"""))

  /** OP-STR-2 — filename parse → date. */
  private val str2 = Spec("q35_str2_filename_date",
    (s, d) => T(s, d, "orders").select(col("o_orderkey"),
      Dates.filenameDate(concat(lit("wtd-v1-"),
        date_format(col("o_orderdate"), "yyyyMMdd"), lit(".tif")))
        .cast("timestamp").as("file_date")),
    Some("SELECT o_orderkey, o_orderdate AS file_date FROM orders"))

  /** OP-MISC-1 — request-group planner, hourly mode: the plan exploded back
    * to hours must cover exactly the requested range (the coverage
    * invariant IS the oracle).
    */
  private val misc1 = Spec("q36_misc1_planner_hourly",
    (s, d) => {
      val groups = Planner.requestGroups(
        java.time.LocalDateTime.of(2020, 2, 15, 5, 0),
        java.time.LocalDateTime.of(2020, 5, 10, 17, 0), monthly = false)
      val hours = for {
        g <- groups; m <- g.months; day <- g.days; h <- g.hours
      } yield (g.year.toInt, m.toInt, day.toInt, h.take(2).toInt)
      import s.implicits._
      hours.toDF("y", "mo", "dy", "h")
    },
    Some("""SELECT CAST(date_part('year', ts) AS INT) AS y,
        CAST(date_part('month', ts) AS INT) AS mo,
        CAST(date_part('day', ts) AS INT) AS dy,
        CAST(date_part('hour', ts) AS INT) AS h
        FROM generate_series(TIMESTAMP '2020-02-15 05:00:00',
          TIMESTAMP '2020-05-10 17:00:00', INTERVAL 1 HOUR) t(ts)"""))

  /** OP-MISC-1 — monthly mode: one group per fully-contained month. */
  private val misc1b = Spec("q37_misc1_planner_monthly",
    (s, d) => {
      val groups = Planner.requestGroups(
        java.time.LocalDateTime.of(2019, 3, 1, 0, 0),
        java.time.LocalDateTime.of(2020, 11, 30, 23, 0), monthly = true)
      import s.implicits._
      groups.map(g => (g.year.toInt, g.months.head.toInt, g.days.size))
        .toDF("y", "mo", "n_days")
    },
    Some("""SELECT CAST(date_part('year', m) AS INT) AS y,
        CAST(date_part('month', m) AS INT) AS mo,
        CAST(date_part('day', last_day(CAST(m AS DATE))) AS INT) AS n_days
        FROM generate_series(TIMESTAMP '2019-03-01', TIMESTAMP '2020-11-01',
          INTERVAL 1 MONTH) t(m)"""))

  /** OP-MISC-2 — point→bbox kernel with min-span expansion as data-side
    * Column math (span 0.25 < 0.251 always expands, `geometry_processor
    * .py:85-137`).
    */
  private val misc2 = Spec("q38_misc2_point_bbox",
    (s, d) => {
      val half = Geometry.MinBboxSpan / 2
      T(s, d, "customer").select(col("c_custkey"),
        ((col("c_acctbal") % 80) + half).as("n"),
        ((col("c_custkey") % 170).cast("double") - half).as("w"),
        ((col("c_acctbal") % 80) - half).as("s"),
        ((col("c_custkey") % 170).cast("double") + half).as("e"))
    },
    Some("""SELECT c_custkey,
        (c_acctbal % 80) + CAST(0.251 AS DOUBLE) / 2 AS n,
        CAST(c_custkey % 170 AS DOUBLE) - CAST(0.251 AS DOUBLE) / 2 AS w,
        (c_acctbal % 80) - CAST(0.251 AS DOUBLE) / 2 AS s,
        CAST(c_custkey % 170 AS DOUBLE) + CAST(0.251 AS DOUBLE) / 2 AS e
        FROM customer"""))

  /** OP-MISC-3 — two-source wide restructure. */
  private val misc3 = Spec("q39_misc3_two_source_wide",
    (s, d) => Pipeline.twoSourceWide(
      T(s, d, "events").select(col("ts").as("timestamp"),
        floor(col("value")).cast("double").as("TA"),
        floor(col("value") * 7).cast("double").as("P"),
        (col("value") / 2).as("ta_e"), floor(col("value")).cast("double").as("p_e")),
      "timestamp", Seq("TA", "P"),
      Map("TA" -> col("ta_e"), "P" -> (col("p_e") / 2))),
    Some("""SELECT ts AS timestamp, floor(value * 7) AS P_AMF,
        floor(value) / CAST(2 AS DOUBLE) AS P_ERA5, floor(value) AS TA_AMF,
        value / CAST(2 AS DOUBLE) AS TA_ERA5 FROM events"""))

  // ------------------------------------------------------------------
  // Conversion library (OP-FN-*) over lineitem stand-in physics columns
  // ------------------------------------------------------------------

  private def t2m: Column = col("l_quantity") + 248.15 // straddles 0 °C
  private def d2m: Column = t2m - col("l_discount") * 30
  private def sp: Column = col("l_extendedprice") / 10 + 90000.0
  private val t2mSql = "(l_quantity + CAST(248.15 AS DOUBLE))"
  private val d2mSql = s"($t2mSql - l_discount * 30)"
  private val spSql = "(l_extendedprice / CAST(10 AS DOUBLE) + CAST(90000.0 AS DOUBLE))"
  private val keys: Seq[Column] = Seq(col("l_orderkey"), col("l_linenumber"))

  /** OP-FN-1/2/3/15 — unit conversions + identity passthrough. */
  private val fn1 = Spec("q40_fn_units",
    (s, d) => T(s, d, "lineitem").select(keys :+
      Conversions.kelvinToCelsius(t2m).as("ta_c") :+
      Conversions.paToKpa(sp).as("pa_kpa") :+
      Conversions.volumetricSoilWater(col("l_discount") * 4).as("swc") :+
      Conversions.identity(col("l_tax")).as("p_passthrough"): _*),
    Some(s"""SELECT l_orderkey, l_linenumber,
        $t2mSql - CAST(273.15 AS DOUBLE) AS ta_c,
        $spSql / CAST(1000 AS DOUBLE) AS pa_kpa,
        (l_discount * 4) * CAST(100 AS DOUBLE) AS swc,
        l_tax AS p_passthrough FROM lineitem"""))

  /** OP-FN-4/5 — wind magnitude (exact) and direction (rounded — atan2 is
    * libm-dependent).
    */
  private val fn2 = Spec("q41_fn_wind",
    (s, d) => {
      val u = col("l_discount") * 100 - 5
      val v = col("l_tax") * 100 - 4
      T(s, d, "lineitem").select(keys :+
        Conversions.windSpeedMagnitude(u, v).as("ws") :+
        round(Conversions.windSpeedDirection(u, v), 6).as("wd"): _*)
    },
    Some("""SELECT l_orderkey, l_linenumber,
        sqrt((l_discount*100-5)*(l_discount*100-5) + (l_tax*100-4)*(l_tax*100-4)) AS ws,
        round((degrees(atan2(l_discount*100-5, l_tax*100-4)) + 360) % 360, 6) AS wd
        FROM lineitem"""))

  /** OP-FN-6/7/8 — Magnus RH, Tetens es (both branch arms), VPD. */
  private val fn3 = Spec("q42_fn_humidity",
    (s, d) => T(s, d, "lineitem").select(keys :+
      round(Conversions.relativeHumidity(t2m, d2m), 6).as("rh") :+
      round(Conversions.saturatedVaporPressure(
        Conversions.kelvinToCelsius(t2m)), 6).as("es_kpa") :+
      round(Conversions.vaporPressureDeficit(t2m, d2m), 6).as("vpd_hpa"): _*),
    Some(s"""WITH x AS (SELECT l_orderkey, l_linenumber,
          $t2mSql - CAST(273.15 AS DOUBLE) AS tc,
          $d2mSql - CAST(273.15 AS DOUBLE) AS tdc FROM lineitem),
        y AS (SELECT *,
          exp((tdc * CAST(17.625 AS DOUBLE)) / (tdc + CAST(243.04 AS DOUBLE)) -
              (tc * CAST(17.625 AS DOUBLE)) / (tc + CAST(243.04 AS DOUBLE)))
            * CAST(100 AS DOUBLE) AS rh_raw,
          CASE WHEN tc >= 0 THEN exp(tc * CAST(17.27 AS DOUBLE) / (tc + CAST(237.3 AS DOUBLE)))
               ELSE exp(tc * CAST(21.875 AS DOUBLE) / (tc + CAST(265.5 AS DOUBLE)))
          END * CAST(0.61078 AS DOUBLE) AS es_raw FROM x)
        SELECT l_orderkey, l_linenumber, round(rh_raw, 6) AS rh,
          round(es_raw, 6) AS es_kpa,
          round((es_raw * (1 - rh_raw / CAST(100 AS DOUBLE))) * CAST(10 AS DOUBLE), 6)
            AS vpd_hpa FROM y"""))

  /** OP-FN-9/10/11/13 — radiation & energy-balance chain (pure arithmetic,
    * exact).
    */
  private val fn4 = Spec("q43_fn_radiation",
    (s, d) => {
      val sdswrf = col("l_extendedprice") / 100
      val sdlwrf = col("l_extendedprice") / 200
      val snlwrf = col("l_extendedprice") / 300
      val fal = col("l_discount") * 5
      val ishf = col("l_tax") * 1000
      val slhtf = col("l_quantity") * 3
      T(s, d, "lineitem").select(keys :+
        Conversions.shortwaveOut(sdswrf, fal).as("sw_out") :+
        Conversions.longwaveOut(sdlwrf, snlwrf).as("lw_out") :+
        Conversions.netRadiation(sdswrf, sdlwrf, snlwrf, fal).as("netrad") :+
        Conversions.soilHeatFlux(ishf, slhtf, sdswrf, sdlwrf, snlwrf, fal)
          .as("g"): _*)
    },
    Some("""WITH x AS (SELECT l_orderkey, l_linenumber,
          l_extendedprice / CAST(100 AS DOUBLE) AS sdswrf,
          l_extendedprice / CAST(200 AS DOUBLE) AS sdlwrf,
          l_extendedprice / CAST(300 AS DOUBLE) AS snlwrf,
          l_discount * 5 AS fal, l_tax * 1000 AS ishf,
          l_quantity * 3 AS slhtf FROM lineitem)
        SELECT l_orderkey, l_linenumber, sdswrf * fal AS sw_out,
          snlwrf - sdlwrf AS lw_out,
          sdswrf + sdlwrf - (sdswrf * fal) - (snlwrf - sdlwrf) AS netrad,
          (sdswrf + sdlwrf - (sdswrf * fal) - (snlwrf - sdlwrf)) - ishf - slhtf AS g
        FROM x"""))

  /** OP-FN-12 — dry→wet CO₂ mole-fraction conversion. */
  private val fn5 = Spec("q44_fn_co2",
    (s, d) => T(s, d, "lineitem").select(keys :+
      round(Conversions.dryToWetCo2Fraction(t2m, d2m, sp,
        col("l_tax") * 100 + 400), 6).as("co2_wet"): _*),
    Some(s"""WITH x AS (SELECT l_orderkey, l_linenumber,
          $t2mSql - CAST(273.15 AS DOUBLE) AS tc,
          $d2mSql - CAST(273.15 AS DOUBLE) AS tdc,
          $spSql AS sp, l_tax * 100 + 400 AS xco2 FROM lineitem),
        y AS (SELECT *,
          exp((tdc * CAST(17.625 AS DOUBLE)) / (tdc + CAST(243.04 AS DOUBLE)) -
              (tc * CAST(17.625 AS DOUBLE)) / (tc + CAST(243.04 AS DOUBLE)))
            * CAST(100 AS DOUBLE) AS rh,
          CASE WHEN tc >= 0 THEN exp(tc * CAST(17.27 AS DOUBLE) / (tc + CAST(237.3 AS DOUBLE)))
               ELSE exp(tc * CAST(21.875 AS DOUBLE) / (tc + CAST(265.5 AS DOUBLE)))
          END * CAST(0.61078 AS DOUBLE) * CAST(1000 AS DOUBLE) AS es_pa FROM x),
        z AS (SELECT *, (rh / CAST(100 AS DOUBLE)) * es_pa / sp AS xh2o_wet FROM y)
        SELECT l_orderkey, l_linenumber,
          round(xco2 / (CAST(0.9996 AS DOUBLE) + xco2 / CAST(1000000.0 AS DOUBLE) +
            (xh2o_wet / (1 - xh2o_wet))), 6) AS co2_wet FROM z"""))

  /** OP-FN-14 — PPFD 1-arg and 2-arg forms (exact affine arithmetic). */
  private val fn6 = Spec("q45_fn_ppfd",
    (s, d) => {
      val sdswrf = col("l_extendedprice") / 100
      val fal = col("l_discount") * 5
      T(s, d, "lineitem").select(keys :+
        Conversions.ppfd(sdswrf).as("ppfd_in") :+
        Conversions.ppfd(sdswrf, fal).as("ppfd_out"): _*)
    },
    Some("""SELECT l_orderkey, l_linenumber,
        (l_extendedprice / CAST(100 AS DOUBLE)) * CAST(1.741 AS DOUBLE)
          + CAST(1.45 AS DOUBLE) AS ppfd_in,
        (l_extendedprice / CAST(100 AS DOUBLE)) * CAST(1.741 AS DOUBLE)
          * (l_discount * 5) + CAST(1.45 AS DOUBLE) AS ppfd_out
        FROM lineitem"""))

  // ------------------------------------------------------------------
  // Composed pipelines + streaming-shaped windows
  // ------------------------------------------------------------------

  /** §3.3 — the composed gap-fill pipeline: two-format parse → top-of-hour
    * → any-null worklist → time join → two-source wide output.
    */
  private val pipe1 = Spec("q46_pipeline_gapfill",
    (s, d) => {
      // fanOut on this frame was tried and REVERTED (r14, measured): the
      // station branch IS a serial format→parse chain fused into the
      // single-file scan's one task (solo profile 2.43 → 1.61 s), but in
      // the fully-JIT-warm bench session that serial chain only costs
      // ~0.8 s and the two added round-robin exchanges (one per branch —
      // ReuseExchange doesn't fire across their different projections)
      // net SLOWER there (bench median 0.89 → 1.48 on a 1.22×-slow box).
      val ev = T(s, d, "events")
      val tsx = expr("date_trunc('hour', ts) + (event_id % 3) * INTERVAL '1' MINUTE")
      val station = ev.select(
        when(col("event_id") % 2 === 0, date_format(tsx, "yyyy-MM-dd HH:mm:ss"))
          .otherwise(date_format(tsx, "yyyyMMddHHmm")).as("timestamp"),
        when(col("value") <= 400, floor(col("value")).cast("double")).as("TA"),
        when(col("user_id") % 13 =!= 0, floor(col("value") * 7).cast("double"))
          .as("P"))
      val era5 = ev.groupBy(date_trunc("hour", col("ts")).as("timestamp"))
        .agg(max(floor(col("value")).cast("double")).as("ta_e"),
          count(lit(1)).cast("double").as("p_e"))
      Pipeline.gapFill(station, era5, "timestamp", Seq("TA", "P"),
        Map("TA" -> col("ta_e"), "P" -> col("p_e")))
    },
    Some("""WITH station AS (SELECT
          date_trunc('hour', ts) + (event_id % 3) * INTERVAL 1 MINUTE tsx,
          CASE WHEN value <= 400 THEN floor(value) END ta,
          CASE WHEN user_id % 13 <> 0 THEN floor(value * 7) END p
        FROM events),
        worklist AS (SELECT tsx AS ts2, ta, p FROM station
          WHERE minute(tsx) = 0 AND (ta IS NULL OR p IS NULL)),
        era5 AS (SELECT date_trunc('hour', ts) ts2, max(floor(value)) ta_e,
          CAST(count(*) AS DOUBLE) p_e FROM events GROUP BY 1)
        SELECT w.ts2 AS timestamp, w.p AS P_AMF, e.p_e AS P_ERA5,
          w.ta AS TA_AMF, e.ta_e AS TA_ERA5
        FROM worklist w LEFT JOIN era5 e ON w.ts2 = e.ts2"""))

  /** §3.2 — the composed AREA pipeline (the reference's flagship flow):
    * rename → broadcast-enrich with a monthly side → bbox range-join clip →
    * AMF conversion → declarative daily resample. Grid shape synthesized
    * from events (lat/lon keys on a 0.25° raster).
    */
  private val pipe2 = Spec("q66_pipeline_area",
    (s, d) => {
      val ev = T(s, d, "events")
      val grid = ev.select(
        ((col("user_id") % 20) * 0.25).as("latitude"),
        ((col("event_id") % 40) * 0.25).as("longitude"),
        col("ts").as("valid_time"),
        (col("value") + 248.15).as("t2m"),
        (col("value") + 248.15 - 5.0).as("d2m"),
        (col("value") / 10).as("u10"), (col("value") / 20).as("v10"),
        floor(col("value") * 7).cast("double").as("tp"))
      val side = ev.groupBy(date_trunc("month", col("ts")).as("year_month"))
        .agg(max(floor(col("value")).cast("double")).as("xco2"))
      val regions = T(s, d, "region").select(
        concat(lit("r"), col("r_regionkey")).as("region_id"),
        (col("r_regionkey") * 1.0).as("s"), (col("r_regionkey") * 1.0 + 2.0).as("n"),
        (col("r_regionkey") * 2.0).as("w"), (col("r_regionkey") * 2.0 + 4.0).as("e"))
      val withMonth = grid.withColumn("year_month",
        date_trunc("month", col("valid_time")))
      val out = Pipeline.areaProcess(withMonth, Predictors.shortnameToFullname,
        Seq((side, Seq("year_month"))), Some(regions), "latitude", "longitude",
        "valid_time",
        Map(
          "TA" -> Conversions.kelvinToCelsius(col("2m_temperature")),
          "RH" -> Conversions.relativeHumidity(col("2m_temperature"),
            col("2m_dewpoint_temperature")),
          "WS" -> Conversions.windSpeedMagnitude(
            col("10m_u_component_of_wind"), col("10m_v_component_of_wind")),
          "P" -> col("total_precipitation")),
        Some(AggSchema.Daily))
      // round: transcendental per-row values (RH) and all float means/stds
      // (sum order is engine-dependent); min/max of exact-arithmetic values
      // (TA bounds, WS_max, P_*) stay unrounded.
      out.select(out.columns.map {
        case c @ ("RH_mean" | "RH_std" | "RH_max" | "RH_min" | "TA_mean" |
          "TA_std" | "WS_mean" | "WS_std") => round(col(c), 6).as(c)
        case c => col(c)
      }: _*)
    },
    Some("""WITH grid AS (SELECT (user_id % 20) * CAST(0.25 AS DOUBLE) lat,
          (event_id % 40) * CAST(0.25 AS DOUBLE) lon, ts,
          (value + CAST(248.15 AS DOUBLE)) t2m,
          (value + CAST(248.15 AS DOUBLE) - CAST(5.0 AS DOUBLE)) d2m,
          value / CAST(10 AS DOUBLE) u10, value / CAST(20 AS DOUBLE) v10,
          floor(value * 7) tp,
          CAST(date_trunc('month', ts) AS TIMESTAMP) ym FROM events),
        side AS (SELECT CAST(date_trunc('month', ts) AS TIMESTAMP) ym,
          max(floor(value)) xco2 FROM events GROUP BY 1),
        regions AS (SELECT 'r' || r_regionkey region_id,
          r_regionkey * CAST(1 AS DOUBLE) s, r_regionkey * CAST(1 AS DOUBLE) + 2 n,
          r_regionkey * CAST(2 AS DOUBLE) w, r_regionkey * CAST(2 AS DOUBLE) + 4 e
          FROM region),
        conv AS (SELECT r.region_id, g.lat, g.lon, g.ts,
          g.t2m - CAST(273.15 AS DOUBLE) AS ta,
          exp(((g.d2m - CAST(273.15 AS DOUBLE)) * CAST(17.625 AS DOUBLE)) /
                ((g.d2m - CAST(273.15 AS DOUBLE)) + CAST(243.04 AS DOUBLE)) -
              ((g.t2m - CAST(273.15 AS DOUBLE)) * CAST(17.625 AS DOUBLE)) /
                ((g.t2m - CAST(273.15 AS DOUBLE)) + CAST(243.04 AS DOUBLE)))
            * CAST(100 AS DOUBLE) AS rh,
          sqrt(g.u10 * g.u10 + g.v10 * g.v10) AS ws, g.tp AS p
          FROM grid g JOIN regions r
          ON g.lat BETWEEN r.s AND r.n AND g.lon BETWEEN r.w AND r.e)
        SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS period, region_id,
          lat AS latitude, lon AS longitude,
          sum(p) AS P_sum, max(p) AS P_max,
          round(stddev_samp(rh), 6) AS RH_std, round(max(rh), 6) AS RH_max,
          round(min(rh), 6) AS RH_min, round(avg(ta), 6) AS TA_mean,
          round(stddev_samp(ta), 6) AS TA_std, min(ta) AS TA_min,
          max(ta) AS TA_max, round(avg(ws), 6) AS WS_mean,
          round(stddev_samp(ws), 6) AS WS_std, max(ws) AS WS_max,
          round(avg(rh), 6) AS RH_mean
        FROM conv GROUP BY 1, 2, 3, 4"""))

  /** The inference feature-builder composition (SURVEY §3's fourth
    * surface, `inference/carboninference/core.py:37-140`): derive DOY/TOD,
    * broadcast-join a static per-key label (the IGBP analog), build
    * trailing sliding-window feature tensors, keep only full windows.
    */
  private val pipe3 = Spec("q67_pipeline_inference",
    (s, d) => {
      val ev = T(s, d, "events")
      val static = T(s, d, "customer").select(col("c_custkey").as("user_id"),
        col("c_mktsegment").as("igbp"))
      val withParts = ev.select(col("user_id"), col("ts"), col("value"),
        dayofyear(col("ts")).as("doy"), hour(col("ts")).as("tod"))
      val labeled = Joins.enrich(withParts, static, Seq("user_id"))
      // Gate shape: pos-explode the feature window (see q25's comment).
      Windows.slidingFeatures(labeled, Seq("user_id"), "ts", Seq("value"), 8)
        .select(col("user_id"), col("ts"), col("doy"), col("tod"),
          col("igbp"), posexplode(col("value_win")))
        .withColumnRenamed("col", "win_value")
    },
    Some("""WITH w AS (
        SELECT e.user_id, e.ts,
          CAST(date_part('doy', e.ts) AS INT) AS doy,
          CAST(date_part('hour', e.ts) AS INT) AS tod, c.c_mktsegment AS igbp,
          list(e.value) OVER (PARTITION BY e.user_id ORDER BY e.ts
            ROWS BETWEEN 7 PRECEDING AND CURRENT ROW) AS value_win
        FROM events e LEFT JOIN customer c ON e.user_id = c.c_custkey)
        SELECT user_id, ts, doy, tod, igbp, CAST(i.i AS INT) AS pos,
          value_win[CAST(i.i AS INT) + 1] AS win_value
        FROM w CROSS JOIN (SELECT unnest(range(8)) AS i) i
        WHERE len(value_win) = 8"""))

  /** OP-SRC-5 — manifest catalog write → read-modify-append → DataFrame
    * read-back, built from the region table.
    */
  private val src5 = Spec("q49_src5_manifest",
    (s, d) => {
      val rows = T(s, d, "region").select(col("r_name"), col("r_regionkey"))
        .collect().sortBy(_.getInt(1))
      val feats = rows.map { r =>
        val k = r.getInt(1)
        Manifest.Feature(r.getString(0), "2020-01-01", "2020-12-31",
          "Polygon", Seq(s"region_${r.getString(0)}"), Seq("TA", "P", "RH"),
          Map(r.getString(0) -> Seq(k + 4.0, k - 4.0, k - 2.0, k + 2.0)),
          data_file = Some("station.csv"))
      }
      val path = tmp("manifest.json")
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(tmp("")))
      java.nio.file.Files.deleteIfExists(java.nio.file.Paths.get(path))
      Manifest.write(Manifest.Spec("IndividualPolygons", Some("DAILY"),
        gapfilling = false, feats.take(2)), path)
      Manifest.append(path, feats.toSeq) // replaces the 2, appends the rest
      Manifest.readFeatures(s, path)
    },
    Some("""SELECT 'IndividualPolygons' AS processing_type,
        FALSE AS gapfilling, r_name AS region_id,
        '2020-01-01' AS start_date, '2020-12-31' AS end_date,
        'Polygon' AS geometry, 3 AS n_preds, 'station.csv' AS data_file
        FROM region"""))

  /** Streaming-shaped tumbling window aggregation (batch face; the
    * streaming face with watermark is covered by the spec suite).
    */
  private val strm1 = Spec("q47_stream_tumbling_window",
    (s, d) => graft.streaming.Streaming.windowedCounts(
      T(s, d, "events").withColumn("value", floor(col("value")).cast("double")),
      "ts", "1 hour"),
    Some("""SELECT date_trunc('hour', ts) AS w_start,
        date_trunc('hour', ts) + INTERVAL 1 HOUR AS w_end, event_type,
        count(*) AS n, sum(floor(value)) AS sum_value
        FROM events GROUP BY 1, 2, 3"""))

  /** Sliding (2h window, 1h slide) epoch-aligned windows. */
  private val strm2 = Spec("q48_stream_sliding_window",
    (s, d) => graft.streaming.Streaming.slidingCounts(T(s, d, "events"),
      "ts", "2 hours", "1 hour"),
    Some("""SELECT w_start, count(*) AS n FROM (
        SELECT date_trunc('hour', ts) AS w_start FROM events UNION ALL
        SELECT date_trunc('hour', ts) - INTERVAL 1 HOUR FROM events)
        GROUP BY w_start"""))

  /** The shared CDC feed fixture: key = user_id mod 100, every 3rd
    * event a delete (dense enough that several keys END in a delete at
    * every SF, so the tombstone branch is actually exercised — probed:
    * ≥ 2 tombstones at sf0.001/0.01/0.1),
    * payload = event_type:floor(value) (null payload
    * when either part is null — Spark `concat` and DuckDB `||` agree).
    * NOTE: `cdcFeedSql` must precede the specs that splice it — a
    * forward val reference inside an object is null at init.
    */
  private def cdcFeed(s: SparkSession, d: String): DataFrame =
    T(s, d, "events").select(
      (col("user_id") % 100).as("key"), col("ts"), col("event_id"),
      when(col("event_id") % 3 === 0, lit("D")).otherwise(lit("U"))
        .as("op"),
      concat(col("event_type"), lit(":"),
        floor(col("value")).cast("long").cast("string")).as("payload"))
  private val cdcFeedSql =
    """WITH f AS (SELECT user_id % 100 AS key, CAST(ts AS TIMESTAMP) AS ts,
          event_id,
          CASE WHEN event_id % 3 = 0 THEN 'D' ELSE 'U' END AS op,
          event_type || ':' ||
            CAST(CAST(floor(value) AS BIGINT) AS VARCHAR) AS payload
        FROM events),
      p1 AS (SELECT key, ts, op, payload FROM (SELECT *, row_number()
          OVER (PARTITION BY key ORDER BY ts DESC, event_id DESC) AS rn
          FROM f WHERE ts < TIMESTAMP '2024-01-16 00:00:00') WHERE rn = 1),
      live1 AS (SELECT key FROM p1 WHERE op != 'D'),
      p2 AS (SELECT key, ts, op, payload FROM (SELECT *, row_number()
          OVER (PARTITION BY key ORDER BY ts DESC, event_id DESC) AS rn
          FROM f WHERE ts >= TIMESTAMP '2024-01-16 00:00:00') WHERE rn = 1)"""

  /** Tombstone-visible CDC batch face (see [[graft.streaming.Streaming
    * .cdcApplyBatch]]): an I/U/D feed derived from events, replayed as
    * two micro-batches split mid-month — the oracle checks batch 2's
    * exact emission, tombstones included. event_id tie-breaks
    * same-timestamp rows per key on BOTH engines.
    */
  private val strm4 = Spec("q239_cdc_batch2_emission",
    (s, d) => graft.streaming.Streaming.cdcApplyBatch(
      cdcFeed(s, d), "key", "ts", "op", "payload",
      lit("2024-01-16 00:00:00").cast("timestamp"), Seq("event_id")),
    Some(s"""$cdcFeedSql
        SELECT p2.key, p2.ts,
          CASE WHEN p2.op != 'D' THEN p2.payload END AS payload,
          (p2.op != 'D') AS live
        FROM p2 LEFT JOIN live1 ON p2.key = live1.key
        WHERE p2.op != 'D' OR live1.key IS NOT NULL"""))

  /** The materialized current table after the same two-batch replay —
    * untouched batch-1 keys plus batch 2's live rows.
    */
  private val strm5 = Spec("q240_cdc_state_table",
    (s, d) => graft.streaming.Streaming.cdcStateTable(
      cdcFeed(s, d), "key", "ts", "op", "payload",
      lit("2024-01-16 00:00:00").cast("timestamp"), Seq("event_id")),
    Some(s"""$cdcFeedSql
        SELECT p1.key, p1.ts, p1.payload, TRUE AS live FROM p1
          LEFT JOIN p2 ON p1.key = p2.key
          WHERE p1.op != 'D' AND p2.key IS NULL
        UNION ALL
        SELECT key, ts, payload, TRUE AS live FROM p2 WHERE op != 'D'"""))

  /** OP-WIN-15 — first-order Markov transitions over each user's ordered
    * event stream, probabilities in exact integer ppm.
    */
  private val win15 = Spec("q156_event_transitions",
    (s, d) => Windows.transitionCounts(T(s, d, "events"), "user_id", "ts",
      "event_type", tiebreakCols = Seq("event_id")),
    Some("""WITH s AS (SELECT user_id, event_type, lag(event_type) OVER
          (PARTITION BY user_id ORDER BY ts, event_id) AS from_state
          FROM events),
        c AS (SELECT from_state, event_type AS to_state, count(*) AS n
          FROM s WHERE from_state IS NOT NULL GROUP BY 1, 2),
        t AS (SELECT from_state, CAST(sum(n) AS BIGINT) AS tot
          FROM c GROUP BY 1)
        SELECT from_state, to_state, n, (n * 1000000) // tot AS p_ppm
        FROM c JOIN t USING (from_state)"""))

  /** OP-AGG-15 — market-basket association pairs over (user, event_type)
    * co-presence; confidence/lift in exact integer ppm.
    */
  private val agg15 = Spec("q157_assoc_pairs",
    (s, d) => Relational.assocPairs(T(s, d, "events"), "user_id",
      "event_type", minSupport = 2L),
    Some("""WITH ti AS (SELECT DISTINCT user_id AS t, event_type AS i
          FROM events WHERE event_type IS NOT NULL),
        nt AS (SELECT count(DISTINCT t) AS n FROM ti),
        cnt AS (SELECT i, count(*) AS c FROM ti GROUP BY i),
        p AS (SELECT l.i AS item_a, r.i AS item_b, count(*) AS n_ab
          FROM ti l JOIN ti r ON l.t = r.t AND l.i < r.i
          GROUP BY 1, 2 HAVING count(*) >= 2)
        SELECT item_a, item_b, n_ab,
          CAST((CAST(n_ab AS HUGEINT) * 1000000) // ca.c AS BIGINT)
            AS conf_ppm,
          CAST((CAST(n_ab AS HUGEINT) * nt.n * 1000000)
            // (CAST(ca.c AS HUGEINT) * cb.c) AS BIGINT) AS lift_ppm
        FROM p CROSS JOIN nt
        JOIN cnt ca ON ca.i = item_a JOIN cnt cb ON cb.i = item_b"""))

  /** OP-AGG-16 — robust (median/MAD) outlier flags per event type. */
  private val agg16 = Spec("q159_mad_outliers",
    (s, d) => Relational.madOutliers(
      T(s, d, "events").select(col("event_id"), col("event_type"),
        col("value")),
      Seq("event_type"), "value", zCut = 3.5),
    Some("""WITH e AS (SELECT event_id, event_type, value FROM events),
        m AS (SELECT event_type, quantile_cont(value, 0.5) AS med
          FROM e GROUP BY 1),
        md AS (SELECT e.event_type, any_value(med) AS med,
          quantile_cont(abs(value - med), 0.5) AS mad
          FROM e JOIN m USING (event_type) GROUP BY e.event_type)
        SELECT event_id, e.event_type, value,
          CASE WHEN mad > 0 THEN
            round(CAST(0.6745 AS DOUBLE) * (value - med) / mad, 6)
          END AS robust_z,
          coalesce(CASE WHEN mad > 0 THEN
            abs(round(CAST(0.6745 AS DOUBLE) * (value - med) / mad, 6))
              > CAST(3.5 AS DOUBLE) END, FALSE) AS is_outlier
        FROM e LEFT JOIN md USING (event_type)"""))

  /** OP-AGG-17 — per-group linear regression from integer-exact
    * sufficient statistics (price cents vs quantity per return flag).
    */
  private val agg17 = Spec("q160_group_regression",
    (s, d) => Relational.groupRegression(T(s, d, "lineitem"),
      Seq("l_returnflag"), round(col("l_quantity")),
      round(col("l_extendedprice") * 100)),
    Some("""WITH s AS (SELECT l_returnflag,
          CAST(round(l_quantity) AS BIGINT) AS x,
          CAST(round(l_extendedprice * 100) AS BIGINT) AS y FROM lineitem),
        a AS (SELECT l_returnflag, count(*) AS n,
          CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
          CAST(sum(CAST(x AS HUGEINT) * y) AS HUGEINT) AS sxy,
          CAST(sum(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx,
          CAST(sum(CAST(y AS HUGEINT) * y) AS HUGEINT) AS syy
          FROM s GROUP BY 1),
        f AS (SELECT l_returnflag, n, sx, sy,
          CAST(n AS HUGEINT) * sxy - CAST(sx AS HUGEINT) * sy AS num,
          CAST(n AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx AS denx,
          CAST(n AS HUGEINT) * syy - CAST(sy AS HUGEINT) * sy AS deny
          FROM a)
        SELECT l_returnflag, n,
          CASE WHEN denx > 0 THEN
            round(CAST(num AS DOUBLE) / CAST(denx AS DOUBLE), 6)
          END AS slope,
          CASE WHEN denx > 0 THEN round((CAST(sy AS DOUBLE)
            - (CAST(num AS DOUBLE) / CAST(denx AS DOUBLE))
              * CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE), 6)
          END AS intercept,
          CASE WHEN denx > 0 AND deny > 0 THEN
            round(CAST(num AS DOUBLE) * CAST(num AS DOUBLE)
              / (CAST(denx AS DOUBLE) * CAST(deny AS DOUBLE)), 6)
          END AS r2
        FROM f"""))

  /** OP-JOIN-9 — Bloom-pruned equi-join; the oracle is the PLAIN join
    * (no false negatives), which is exactly the operator's contract.
    */
  private val join9 = Spec("q161_bloom_join",
    (s, d) => Joins.bloomPrunedJoin(
      T(s, d, "lineitem").select(col("l_orderkey"), col("l_linenumber"),
        col("l_quantity"), col("l_partkey").as("p_partkey")),
      T(s, d, "part").filter(col("p_size") === 1)
        .select(col("p_partkey"), col("p_brand")),
      "p_partkey"),
    Some("""SELECT l_orderkey, l_linenumber, l_quantity,
          l_partkey AS p_partkey, p_brand
        FROM lineitem JOIN part ON p_partkey = l_partkey
        WHERE p_size = 1"""))

  /** OP-MISC-9 — integer-exact PageRank (3 synchronous rounds, ppm
    * ranks) over the supplier→customer shipment graph.
    */
  private val misc9 = Spec("q162_pagerank",
    (s, d) => Graph.pageRankPpm(shipmentEdges(s, d), "src", "dst",
      iters = 3),
    Some("""WITH e AS (SELECT DISTINCT
          's' || CAST(l_suppkey AS VARCHAR) AS src,
          'c' || CAST(o_custkey AS VARCHAR) AS dst
          FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        nodes AS (SELECT src AS id FROM e UNION SELECT dst FROM e),
        deg AS (SELECT src, count(*) AS outdeg FROM e GROUP BY 1),
        r0 AS (SELECT id, CAST(1000000 AS BIGINT) AS rank FROM nodes),
        c1 AS (SELECT dst AS id, CAST(sum(rank // outdeg) AS BIGINT) AS s
          FROM e JOIN deg USING (src) JOIN r0 ON r0.id = e.src GROUP BY dst),
        r1 AS (SELECT n.id, 150000 + (85 * coalesce(s, 0)) // 100 AS rank
          FROM nodes n LEFT JOIN c1 USING (id)),
        c2 AS (SELECT dst AS id, CAST(sum(rank // outdeg) AS BIGINT) AS s
          FROM e JOIN deg USING (src) JOIN r1 ON r1.id = e.src GROUP BY dst),
        r2 AS (SELECT n.id, 150000 + (85 * coalesce(s, 0)) // 100 AS rank
          FROM nodes n LEFT JOIN c2 USING (id)),
        c3 AS (SELECT dst AS id, CAST(sum(rank // outdeg) AS BIGINT) AS s
          FROM e JOIN deg USING (src) JOIN r2 ON r2.id = e.src GROUP BY dst),
        r3 AS (SELECT n.id, 150000 + (85 * coalesce(s, 0)) // 100 AS rank
          FROM nodes n LEFT JOIN c3 USING (id))
        SELECT id, rank FROM r3"""))

  /** OP-AGG-18 — full CUBE with per-dimension grouping markers (the
    * packed grouping_id's bit order is an engine convention; the 0/1
    * marker per column is not).
    */
  private val agg18 = Spec("q164_cube_quantity",
    (s, d) => Relational.cubeAgg(T(s, d, "lineitem"),
      Seq("l_returnflag", "l_linestatus"),
      "sum_qty" -> sum(col("l_quantity")), "n" -> count(lit(1))),
    Some("""SELECT l_returnflag, l_linestatus, sum(l_quantity) AS sum_qty,
          count(*) AS n, CAST(GROUPING(l_returnflag) AS INT) AS g_l_returnflag,
          CAST(GROUPING(l_linestatus) AS INT) AS g_l_linestatus
        FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)"""))

  /** OP-AGG-19 — lower weighted median per group, integer-exact pick. */
  private val agg19 = Spec("q165_weighted_median",
    (s, d) => Relational.weightedMedian(
      T(s, d, "events").select(col("event_type"),
        floor(col("value")).cast("long").as("v"),
        (pmod(col("event_id"), lit(7)) + 1).as("w")),
      Seq("event_type"), "v", "w"),
    Some("""WITH e AS (SELECT event_type, CAST(floor(value) AS BIGINT) AS v,
          event_id % 7 + 1 AS w FROM events WHERE value IS NOT NULL),
        gv AS (SELECT event_type, v, CAST(sum(w) AS BIGINT) AS w
          FROM e GROUP BY 1, 2),
        c AS (SELECT event_type, v,
          sum(w) OVER (PARTITION BY event_type ORDER BY v) AS cw,
          sum(w) OVER (PARTITION BY event_type) AS tw FROM gv)
        SELECT event_type, min(v) AS weighted_median FROM c
        WHERE cw * 2 >= tw GROUP BY 1"""))

  /** OP-MISC-10 — hot-key skew report (the salt-or-not decision input). */
  private val misc10 = Spec("q166_key_skew",
    (s, d) => Relational.keySkewReport(T(s, d, "events"), Seq("user_id"),
      topK = 10),
    Some("""WITH c AS (SELECT user_id, count(*) AS n FROM events GROUP BY 1),
        t AS (SELECT count(*) AS nn FROM events),
        r AS (SELECT user_id, n, row_number() OVER
          (ORDER BY n DESC, user_id) AS rank FROM c)
        SELECT user_id, n, (n * 1000000) // nn AS share_ppm,
          CAST(rank AS INT) AS rank FROM r CROSS JOIN t
        WHERE rank <= 10"""))

  /** The co-purchase part graph: parts appearing on the same order are
    * linked. `% 3` keeps the demo subgraph a fixed ninth of the pair
    * volume; the operators themselves take any edge list.
    *
    * Session-memoized CANONICAL (pa < pb, distinct) edge list — the
    * within-order pair self-join is the expensive half of seven graph
    * queries (q171/q172/q216/q217/q218-family here, q281/q282/q287 in
    * LlmQueries), and every consumer routes the frame through
    * [[graft.engine.Graph.undirected]] (a distinct), so handing them the
    * already-distinct checkpoint leaves values and gate hashes unchanged.
    */
  /** Session-memoized paired price-cents ECDF frame (split = order-key
    * third, reference s0): the expensive shared half of the KS (q193)
    * and Wasserstein (q306) drift reports — one `ecdfPaired`
    * materialization serves both (already pinned by the builder, so the
    * memo only prevents the rebuild). */
  private[graft] def pricePairedEcdf(s: SparkSession, d: String): DataFrame =
    Pins.memo(s, d, "pricePairedEcdf")(
      graft.engine.Relational.ecdfPaired(
        T(s, d, "lineitem").select(
          concat(lit("s"), (col("l_orderkey") % 3).cast("string"))
            .as("split"),
          round(col("l_extendedprice") * 100).cast("long").as("cents")),
        "split", "s0", "cents", lo = 0d, hi = 11000000d, nBuckets = 64))

  /** DuckDB mirror of [[graft.engine.Relational.ecdfPaired]] over an
    * `e(s, v)` CTE with body `eSql`: the (split, value) counts `c`, the
    * union support × split grid `f0` and the inclusive cums `f` — a WITH
    * list the caller continues after the trailing comma.
    */
  private[graft] def ecdfPairedSql(eSql: String): String =
    s"""WITH e AS ($eSql),
        c AS (SELECT s, v, CAST(count(*) AS HUGEINT) AS t FROM e
          GROUP BY 1, 2),
        f0 AS (SELECT sp.s, g.v, coalesce(c.t, 0) AS t
          FROM (SELECT DISTINCT v FROM c) g
          CROSS JOIN (SELECT DISTINCT s FROM c) sp
          LEFT JOIN c ON c.s = sp.s AND c.v = g.v),
        f AS (SELECT s, v, t,
          sum(t) OVER (PARTITION BY s ORDER BY v) AS cum FROM f0),"""

  /** Oracle of a drift report over [[pricePairedEcdf]] (q193, q306,
    * q314–q317), the mirror of `Relational.pairedReport`: per-split
    * totals `tot`, the pair rows `j` (`jCols` plus both totals), the
    * per-split aggregate `a` (`aggs` beside `nr`/`nc`) and the output
    * `(split, n_ref, n_cur, num, stat)`, with `stat = round(ratio, 6)`
    * when both samples are non-empty.
    */
  private[graft] def priceDriftSql(jCols: String, aggs: String,
      num: String, stat: String, ratio: String): String =
    ecdfPairedSql("""SELECT
          's' || CAST(l_orderkey % 3 AS VARCHAR) AS s,
          CAST(round(l_extendedprice * 100) AS BIGINT) AS v
          FROM lineitem WHERE l_extendedprice IS NOT NULL""") + s"""
        tot AS (SELECT s, sum(t) AS n FROM c GROUP BY 1),
        j AS (SELECT $jCols,
          tc.n AS nc, tr.n AS nr
          FROM f cur JOIN f r ON r.s = 's0' AND r.v = cur.v
          JOIN tot tc ON tc.s = cur.s
          JOIN tot tr ON tr.s = 's0'
          WHERE cur.s <> 's0'),
        a AS (SELECT s, max(nr) AS nr, max(nc) AS nc,
          $aggs FROM j GROUP BY 1)
        SELECT s AS split, CAST(nr AS BIGINT) AS n_ref,
          CAST(nc AS BIGINT) AS n_cur, $num,
          CASE WHEN nr > 0 AND nc > 0 THEN round($ratio, 6)
          END AS $stat FROM a"""

  private[graft] def coPurchaseEdges(s: SparkSession, d: String,
      modFilter: Boolean): DataFrame =
    Pins.memo(s, d, s"coPurchase$modFilter") {
      val li = (if (modFilter)
          T(s, d, "lineitem").filter(col("l_partkey") % 3 === 0)
        else T(s, d, "lineitem"))
        .select(col("l_orderkey").as("o"), col("l_partkey"))
      Pins.pin(li.select(col("o"), col("l_partkey").as("pa"))
        .join(li.select(col("o"), col("l_partkey").as("pb")), "o")
        .filter(col("pa") < col("pb"))
        .select(col("pa"), col("pb"))
        .distinct())
    }

  /** Session-memoized per-edge triangle support of the (mod-filtered)
    * co-purchase graph — the shared input of q371 (the support readout
    * itself) and q374 (the k-truss peel, whose round-1 support this
    * IS): the full O(m^1.5) enumeration runs once per (session,
    * input), the landmarkBfs/edge-memo discipline.
    */
  private[graft] def coPurchaseSupport(s: SparkSession,
      d: String): DataFrame =
    Pins.memo(s, d, "coPurchaseSupport")(
      graft.engine.Graph.edgeTriangleSupport(
        coPurchaseEdges(s, d, modFilter = true), "pa", "pb"))

  /** Session-memoized supplier→customer shipment edges (distinct): the
    * lineitem⋈orders derivation behind q162 (PageRank) and q173 (BFS).
    * PageRank distincts its input internally and BFS min-hop labels are
    * duplicate-edge-insensitive, so the distinct here changes nothing
    * observable — it only lets ONE join serve both iterative queries. */
  private[graft] def shipmentEdges(s: SparkSession, d: String): DataFrame =
    Pins.memo(s, d, "shipmentEdges")(Pins.pin(
      T(s, d, "lineitem").select(col("l_orderkey"), col("l_suppkey"))
        .join(T(s, d, "orders").select(col("o_orderkey"), col("o_custkey")),
          col("l_orderkey") === col("o_orderkey"))
        .select(concat(lit("s"), col("l_suppkey").cast("string")).as("src"),
          concat(lit("c"), col("o_custkey").cast("string")).as("dst"))
        .distinct()))

  /** OP-MISC-11 — per-node triangle counts over the co-purchase part
    * graph (degree-oriented enumeration; the oracle enumerates the same
    * triangle set with the naive id-ordered joins — method differs,
    * output is the same set, which is the point of orienting).
    */
  private val misc11 = Spec("q171_triangle_counts",
    (s, d) => Graph.triangleCounts(coPurchaseEdges(s, d, modFilter = true),
      "pa", "pb"),
    Some("""WITH e AS (SELECT DISTINCT a.l_partkey AS lo, b.l_partkey AS hi
          FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey
            AND a.l_partkey < b.l_partkey
          WHERE a.l_partkey % 3 = 0 AND b.l_partkey % 3 = 0),
        tri AS (SELECT e1.lo AS x, e1.hi AS y, e2.hi AS z
          FROM e e1 JOIN e e2 ON e2.lo = e1.hi
          JOIN e e3 ON e3.lo = e1.lo AND e3.hi = e2.hi),
        n AS (SELECT x AS node FROM tri UNION ALL SELECT y FROM tri
          UNION ALL SELECT z FROM tri)
        SELECT node, count(*) AS triangles FROM n GROUP BY 1"""))

  /** OP-MISC-12 — undirected degree histogram of the full co-purchase
    * graph.
    */
  private val misc12 = Spec("q172_degree_histogram",
    (s, d) => Graph.degreeHistogram(coPurchaseEdges(s, d, modFilter = false),
      "pa", "pb"),
    Some("""WITH e AS (SELECT DISTINCT a.l_partkey AS lo, b.l_partkey AS hi
          FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey
            AND a.l_partkey < b.l_partkey),
        deg AS (SELECT n, count(*) AS degree FROM
          (SELECT lo AS n FROM e UNION ALL SELECT hi FROM e) GROUP BY 1)
        SELECT degree, count(*) AS n_nodes FROM deg GROUP BY 1"""))

  /** OP-MISC-13 — BFS min-hop labels (3 rounds) over the undirected
    * supplier↔customer shipment graph from seed suppliers
    * `s_suppkey % 10 = 1`.
    */
  private val misc13 = Spec("q173_bfs_hops",
    (s, d) => {
      val ed = shipmentEdges(s, d)
      // both directions in ONE pass over the memoized frame (a two-branch
      // union would read the checkpoint once per branch)
      val e = ed.select(explode(array(
          struct(col("src"), col("dst")),
          struct(col("dst").as("src"), col("src").as("dst")))).as("p"))
        .select(col("p.src").as("src"), col("p.dst").as("dst"))
      val seeds = T(s, d, "supplier").filter(col("s_suppkey") % 10 === 1)
        .select(concat(lit("s"), col("s_suppkey").cast("string")).as("id"))
      Graph.bfsHops(e, "src", "dst", seeds, "id", maxHops = 3)
    },
    Some("""WITH ed AS (SELECT DISTINCT
          's' || CAST(l_suppkey AS VARCHAR) AS src,
          'c' || CAST(o_custkey AS VARCHAR) AS dst
          FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        e AS (SELECT src, dst FROM ed UNION SELECT dst, src FROM ed),
        d0 AS (SELECT DISTINCT 's' || CAST(s_suppkey AS VARCHAR) AS id,
          0 AS hop FROM supplier WHERE s_suppkey % 10 = 1),
        f1 AS (SELECT e.dst AS id, 1 AS hop FROM d0 JOIN e ON e.src = d0.id),
        d1 AS (SELECT id, min(hop) AS hop FROM
          (SELECT * FROM d0 UNION ALL SELECT * FROM f1) GROUP BY 1),
        f2 AS (SELECT e.dst AS id, 2 AS hop FROM d1
          JOIN e ON e.src = d1.id WHERE d1.hop = 1),
        d2 AS (SELECT id, min(hop) AS hop FROM
          (SELECT * FROM d1 UNION ALL SELECT * FROM f2) GROUP BY 1),
        f3 AS (SELECT e.dst AS id, 3 AS hop FROM d2
          JOIN e ON e.src = d2.id WHERE d2.hop = 2),
        d3 AS (SELECT id, min(hop) AS hop FROM
          (SELECT * FROM d2 UNION ALL SELECT * FROM f3) GROUP BY 1)
        SELECT id, CAST(hop AS INT) AS hop FROM d3"""))

  /** OP-WIN-16 — top-20 session event-type paths (30-minute gap, first 5
    * events per session in `(ts, event_id)` order).
    */
  private val win16 = Spec("q174_session_paths",
    (s, d) => Windows.topSessionPaths(
      T(s, d, "events").select(col("event_id"), col("user_id"), col("ts"),
        col("event_type")),
      "user_id", "ts", "event_type", "event_id",
      expr("INTERVAL '30' MINUTE"), maxLen = 5, topK = 20),
    Some("""WITH b AS (SELECT event_id, user_id, ts, event_type,
          CASE WHEN lag(ts) OVER w IS NULL
            OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE
            THEN 1 ELSE 0 END AS brk
          FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
        sess AS (SELECT *, sum(brk) OVER (PARTITION BY user_id ORDER BY ts
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_idx
          FROM b),
        r AS (SELECT *, row_number() OVER (PARTITION BY user_id, session_idx
            ORDER BY ts, event_id) AS rn FROM sess),
        p AS (SELECT user_id, session_idx,
            string_agg(event_type, '>' ORDER BY ts, event_id) AS path
          FROM r WHERE rn <= 5 GROUP BY 1, 2),
        c AS (SELECT path, count(*) AS n FROM p GROUP BY 1),
        k AS (SELECT path, n,
            row_number() OVER (ORDER BY n DESC, path) AS rank FROM c)
        SELECT path, n, CAST(rank AS INT) AS rank FROM k
        WHERE rank <= 20"""))

  /** OP-WIN-17 — rolling lower median of `floor(value)` over each user's
    * trailing 7 events.
    */
  private val win17 = Spec("q175_rolling_median",
    (s, d) => Windows.rollingMedian(
      T(s, d, "events").filter(col("value").isNotNull)
        .select(col("event_id"), col("user_id"), col("ts"),
          floor(col("value")).cast("long").as("v")),
      Seq("user_id"), Seq("ts", "event_id"), "v", nRows = 7),
    Some("""WITH e AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts,
          CAST(floor(value) AS BIGINT) AS v FROM events
          WHERE value IS NOT NULL),
        l AS (SELECT event_id, user_id, ts, v,
          list_sort(list(v) OVER (PARTITION BY user_id ORDER BY ts, event_id
            ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)) AS ls FROM e)
        SELECT event_id, user_id, ts, v,
          ls[(len(ls) + 1) // 2] AS roll_med FROM l"""))

  /** OP-AGG-20 — equi-depth decile report of extended price per return
    * flag (ANSI ntile over a total order).
    */
  private val agg20 = Spec("q179_equidepth_bins",
    (s, d) => Relational.equiDepthBins(
      T(s, d, "lineitem").select(col("l_returnflag"),
        col("l_extendedprice"), col("l_orderkey"), col("l_linenumber")),
      Seq("l_returnflag"), "l_extendedprice",
      Seq("l_orderkey", "l_linenumber"), nBins = 10),
    Some("""WITH b AS (SELECT l_returnflag, l_extendedprice,
          CAST(ntile(10) OVER (PARTITION BY l_returnflag
            ORDER BY l_extendedprice, l_orderkey, l_linenumber) AS INT)
            AS bin
          FROM lineitem)
        SELECT l_returnflag, bin, count(*) AS n,
          min(l_extendedprice) AS lo, max(l_extendedprice) AS hi
        FROM b GROUP BY 1, 2"""))

  /** OP-AGG-21 — Gini concentration of per-user activity within each
    * event type (the "is this stream dominated by a few users" report).
    */
  private val agg21 = Spec("q180_gini_activity",
    (s, d) => Relational.giniIndex(
      T(s, d, "events").groupBy(col("event_type"), col("user_id"))
        .agg(count(lit(1)).as("x")),
      Seq("event_type"), "x", Seq("user_id")),
    Some("""WITH ux AS (SELECT event_type, user_id, count(*) AS x
          FROM events GROUP BY 1, 2),
        r AS (SELECT event_type, x, row_number() OVER
          (PARTITION BY event_type ORDER BY x, user_id) AS i FROM ux),
        a AS (SELECT event_type, count(*) AS n,
          CAST(sum(x) AS BIGINT) AS sum_x,
          sum(CAST(i AS HUGEINT) * CAST(x AS HUGEINT)) AS ix
          FROM r GROUP BY 1)
        SELECT event_type, n, sum_x,
          CASE WHEN sum_x > 0 THEN
            round(CAST(2 * ix - CAST(n + 1 AS HUGEINT) * sum_x AS DOUBLE)
              / (CAST(n AS DOUBLE) * CAST(sum_x AS DOUBLE)), 6)
          END AS gini FROM a"""))

  /** OP-WIN-18 — rolling z-score anomaly flags over each user's trailing
    * 30 events (exact-integer discriminant; see
    * [[graft.engine.Windows.rollingZScore]]).
    */
  private val win18 = Spec("q183_rolling_zscore",
    (s, d) => Windows.rollingZScore(
      T(s, d, "events").filter(col("value").isNotNull)
        .select(col("event_id"), col("user_id"), col("ts"),
          floor(col("value")).cast("long").as("v")),
      Seq("user_id"), Seq("ts", "event_id"), "v", nRows = 30),
    Some("""WITH e AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts,
          CAST(floor(value) AS BIGINT) AS v FROM events
          WHERE value IS NOT NULL),
        s AS (SELECT event_id, user_id, ts, v,
          CAST(count(v) OVER fr AS HUGEINT) AS n,
          sum(CAST(v AS HUGEINT)) OVER fr AS s1,
          sum(CAST(v AS HUGEINT) * CAST(v AS HUGEINT)) OVER fr AS s2
          FROM e WINDOW fr AS (PARTITION BY user_id ORDER BY ts, event_id
            ROWS BETWEEN 29 PRECEDING AND CURRENT ROW))
        SELECT event_id, user_id, ts, v,
          CASE WHEN n * s2 - s1 * s1 > 0 THEN
            round(CAST(n * v - s1 AS DOUBLE)
              / sqrt(CAST(n * s2 - s1 * s1 AS DOUBLE)), 6)
          END AS z FROM s"""))

  /** OP-MISC-14 — connected components of the sparsified shipment graph
    * (every 50th order): min-node component labels, oracle = recursive
    * reachability closure.
    */
  private val misc14 = Spec("q184_connected_components",
    (s, d) => {
      val e = T(s, d, "lineitem").select(col("l_orderkey"), col("l_suppkey"))
        .join(T(s, d, "orders").select(col("o_orderkey"), col("o_custkey"))
          .filter(col("o_orderkey") % 50 === 0),
          col("l_orderkey") === col("o_orderkey"))
        .select(concat(lit("s"), col("l_suppkey").cast("string")).as("a"),
          concat(lit("c"), col("o_custkey").cast("string")).as("b"))
      Graph.connectedComponents(e, "a", "b")
    },
    Some("""WITH e0 AS (SELECT DISTINCT
          's' || CAST(l_suppkey AS VARCHAR) AS a,
          'c' || CAST(o_custkey AS VARCHAR) AS b
          FROM lineitem JOIN orders ON l_orderkey = o_orderkey
          WHERE o_orderkey % 50 = 0),
        e AS (SELECT a AS src, b AS dst FROM e0
          UNION SELECT b, a FROM e0),
        r AS (WITH RECURSIVE reach(id, lab) AS (
            SELECT src, src FROM e
            UNION
            SELECT e.dst, reach.lab FROM reach JOIN e ON e.src = reach.id)
          SELECT id, lab FROM reach)
        SELECT id AS node, min(lab) AS component FROM r GROUP BY 1"""))

  /** OP-WIN-19 — interval union coverage per user: each event opens a
    * `[ts, ts + (1 + event_id%7) minutes]` activity interval; overlapping
    * intervals merge into islands, coverage in exact µs.
    */
  private val win19 = Spec("q185_interval_coverage",
    (s, d) => Windows.intervalCoverage(
      T(s, d, "events").select(col("user_id"), col("event_id"),
        col("ts").as("ivs"),
        expr("timestampadd(MINUTE, CAST(event_id % 7 + 1 AS INT), ts)")
          .as("ive")),
      Seq("user_id"), "ivs", "ive", Seq("event_id")),
    Some("""WITH iv AS (SELECT user_id, event_id,
          CAST(ts AS TIMESTAMP) AS ivs,
          CAST(ts AS TIMESTAMP)
            + to_minutes(CAST(event_id % 7 + 1 AS BIGINT)) AS ive
          FROM events),
        m AS (SELECT user_id, event_id, epoch_us(ivs) AS s, epoch_us(ive) AS e,
          max(epoch_us(ive)) OVER (PARTITION BY user_id
            ORDER BY ivs, ive, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmax
          FROM iv),
        f AS (SELECT user_id, s, e,
          sum(CASE WHEN pmax IS NULL OR s > pmax THEN 1 ELSE 0 END)
            OVER (PARTITION BY user_id ORDER BY s, e, event_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
          FROM m),
        g AS (SELECT user_id, island, count(*) AS n, min(s) AS i_s,
          max(e) AS i_e FROM f GROUP BY 1, 2)
        SELECT user_id, CAST(sum(n) AS BIGINT) AS n_intervals,
          count(*) AS n_islands,
          CAST(sum(i_e - i_s) AS BIGINT) AS covered_us
        FROM g GROUP BY 1"""))

  /** OP-WIN-20 — lag-1 autocorrelation of each user's value series. */
  private val win20 = Spec("q186_autocorr",
    (s, d) => Windows.autocorr(
      T(s, d, "events").filter(col("value").isNotNull)
        .select(col("user_id"), col("event_id"), col("ts"),
          floor(col("value")).cast("long").as("v")),
      Seq("user_id"), Seq("ts", "event_id"), "v", lagK = 1),
    Some("""WITH e AS (SELECT user_id, event_id, ts,
          CAST(floor(value) AS BIGINT) AS v FROM events
          WHERE value IS NOT NULL),
        p AS (SELECT user_id, v AS x, lag(v, 1) OVER
          (PARTITION BY user_id ORDER BY ts, event_id) AS y FROM e),
        f AS (SELECT user_id, CAST(x AS HUGEINT) AS x,
          CAST(y AS HUGEINT) AS y FROM p WHERE y IS NOT NULL),
        a AS (SELECT user_id, count(*) AS n, sum(x) AS sx, sum(y) AS sy,
          sum(x * y) AS sxy, sum(x * x) AS sxx, sum(y * y) AS syy
          FROM f GROUP BY 1),
        dd AS (SELECT *, n * sxx - sx * sx AS dx, n * syy - sy * sy AS dy
          FROM a)
        SELECT user_id, CAST(n AS BIGINT) AS n_pairs,
          CASE WHEN dx > 0 AND dy > 0 THEN
            round(CAST(n * sxy - sx * sy AS DOUBLE)
              / sqrt(CAST(dx AS DOUBLE) * CAST(dy AS DOUBLE)), 6)
          END AS acf FROM dd"""))

  /** OP-AGG-22 — PSI drift report: extended-price distribution of each
    * order-key-third against the first, 20 fixed bins.
    */
  private val agg22 = Spec("q187_psi_drift",
    (s, d) => Relational.psiReport(
      T(s, d, "lineitem").select(col("l_extendedprice"),
        concat(lit("s"), (col("l_orderkey") % 3).cast("string"))
          .as("split")),
      "split", "s0", "l_extendedprice", lo = 0d, hi = 110000d, nBins = 20),
    Some("""WITH b AS (SELECT
          's' || CAST(l_orderkey % 3 AS VARCHAR) AS split,
          CAST(least(greatest(floor((l_extendedprice - 0.0) / 5500.0),
            0.0), 19.0) AS INT) AS bin
          FROM lineitem WHERE l_extendedprice IS NOT NULL),
        c AS (SELECT split, bin, count(*) AS n FROM b GROUP BY 1, 2),
        t AS (SELECT *, sum(n) OVER (PARTITION BY split) AS tot FROM c),
        pp AS (SELECT split, bin,
          CAST((n * 1000000) // tot AS BIGINT) AS ppm FROM t),
        r AS (SELECT bin, ppm AS ref_ppm FROM pp WHERE split = 's0'),
        cu AS (SELECT split, bin, ppm AS cur_ppm FROM pp
          WHERE split <> 's0'),
        j AS (SELECT cu.split, cu.bin,
          coalesce(r.ref_ppm, 0) AS ref_ppm, cu.cur_ppm
          FROM cu LEFT JOIN r USING (bin)),
        k AS (SELECT *, CASE WHEN ref_ppm > 0 AND cur_ppm > 0 THEN
            round(CAST(cur_ppm - ref_ppm AS DOUBLE) / 1000000
              * ln(CAST(cur_ppm AS DOUBLE) / CAST(ref_ppm AS DOUBLE)), 6)
          ELSE CAST(0 AS DOUBLE) END AS psi_term FROM j)
        SELECT split, bin, ref_ppm, cur_ppm, psi_term,
          round(sum(psi_term) OVER (PARTITION BY split), 6) AS psi
        FROM k"""))

  /** OP-AGG-23 — Benford first-digit audit of price cents per return
    * flag.
    */
  private val agg23 = Spec("q188_benford_prices",
    (s, d) => Relational.benfordReport(
      T(s, d, "lineitem").select(col("l_returnflag"),
        round(col("l_extendedprice") * 100).cast("long").as("cents")),
      Seq("l_returnflag"), "cents"),
    Some("""WITH v AS (SELECT l_returnflag,
          CAST(round(l_extendedprice * 100) AS BIGINT) AS c
          FROM lineitem WHERE l_extendedprice IS NOT NULL),
        d AS (SELECT l_returnflag,
          CAST(substr(CAST(c AS VARCHAR), 1, 1) AS INT) AS digit
          FROM v WHERE c > 0),
        c2 AS (SELECT l_returnflag, digit, count(*) AS n FROM d
          GROUP BY 1, 2),
        t AS (SELECT *, sum(n) OVER (PARTITION BY l_returnflag) AS tot
          FROM c2),
        x AS (SELECT l_returnflag, digit, n,
          CAST((n * 1000000) // tot AS BIGINT) AS obs_ppm,
          CAST(CASE digit WHEN 1 THEN 301030 WHEN 2 THEN 176091
            WHEN 3 THEN 124939 WHEN 4 THEN 96910 WHEN 5 THEN 79181
            WHEN 6 THEN 66947 WHEN 7 THEN 57992 WHEN 8 THEN 51153
            ELSE 45757 END AS BIGINT) AS expected_ppm FROM t)
        SELECT l_returnflag, digit, n, obs_ppm, expected_ppm,
          obs_ppm - expected_ppm AS excess_ppm FROM x"""))

  /** OP-MISC-15 — pairwise missingness matrix over three derived
    * columns with deterministic null patterns.
    */
  private val misc15 = Spec("q189_missingness",
    (s, d) => Relational.missingnessMatrix(
      T(s, d, "events").select(
        when(col("value") >= 10, col("value")).as("a"),
        when(col("event_type") =!= "click", col("event_type")).as("b"),
        when(col("user_id") % 7 =!= 0, col("user_id")).as("c")),
      Seq("a", "b", "c")),
    Some("""WITH e AS (SELECT
          CASE WHEN value >= 10 THEN value END AS a,
          CASE WHEN event_type <> 'click' THEN event_type END AS b,
          CASE WHEN user_id % 7 <> 0 THEN user_id END AS c
          FROM events),
        m AS (SELECT count(*) AS n_rows,
          count(*) FILTER (a IS NULL AND b IS NULL) AS ab_both,
          count(*) FILTER (a IS NULL OR b IS NULL) AS ab_any,
          count(*) FILTER (a IS NULL AND c IS NULL) AS ac_both,
          count(*) FILTER (a IS NULL OR c IS NULL) AS ac_any,
          count(*) FILTER (b IS NULL AND c IS NULL) AS bc_both,
          count(*) FILTER (b IS NULL OR c IS NULL) AS bc_any
          FROM e)
        SELECT 'a' AS col_a, 'b' AS col_b, ab_both AS n_both_null,
          ab_any AS n_any_null, n_rows FROM m
        UNION ALL SELECT 'a', 'c', ac_both, ac_any, n_rows FROM m
        UNION ALL SELECT 'b', 'c', bc_both, bc_any, n_rows FROM m"""))

  /** Streaming-face windowed PSI (batch face for the oracle): daily
    * value-distribution drift against a fixed 5-bin reference histogram.
    */
  private val strm3 = Spec("q190_stream_psi_windowed",
    (s, d) => graft.streaming.Streaming.psiWindowed(
      T(s, d, "events"), "ts", "value", "1 day",
      refPpm = Seq(300000L, 250000L, 200000L, 150000L, 100000L),
      lo = 0d, hi = 350d),
    Some("""WITH b AS (SELECT date_trunc('day', ts) AS w_start,
          CAST(least(greatest(floor((value - 0.0) / 70.0), 0.0), 4.0)
            AS INT) AS bin
          FROM events WHERE value IS NOT NULL),
        a AS (SELECT w_start,
          count(*) FILTER (bin = 0) AS c0,
          count(*) FILTER (bin = 1) AS c1,
          count(*) FILTER (bin = 2) AS c2,
          count(*) FILTER (bin = 3) AS c3,
          count(*) FILTER (bin = 4) AS c4
          FROM b GROUP BY 1),
        p AS (SELECT w_start, c0 + c1 + c2 + c3 + c4 AS n,
          CAST((c0 * 1000000) // (c0 + c1 + c2 + c3 + c4) AS BIGINT) AS p0,
          CAST((c1 * 1000000) // (c0 + c1 + c2 + c3 + c4) AS BIGINT) AS p1,
          CAST((c2 * 1000000) // (c0 + c1 + c2 + c3 + c4) AS BIGINT) AS p2,
          CAST((c3 * 1000000) // (c0 + c1 + c2 + c3 + c4) AS BIGINT) AS p3,
          CAST((c4 * 1000000) // (c0 + c1 + c2 + c3 + c4) AS BIGINT) AS p4
          FROM a)
        SELECT w_start, n, round(
          (CASE WHEN p0 > 0 THEN CAST(p0 - 300000 AS DOUBLE) / 1000000
            * ln(CAST(p0 AS DOUBLE) / 300000.0) ELSE 0.0 END)
          + (CASE WHEN p1 > 0 THEN CAST(p1 - 250000 AS DOUBLE) / 1000000
            * ln(CAST(p1 AS DOUBLE) / 250000.0) ELSE 0.0 END)
          + (CASE WHEN p2 > 0 THEN CAST(p2 - 200000 AS DOUBLE) / 1000000
            * ln(CAST(p2 AS DOUBLE) / 200000.0) ELSE 0.0 END)
          + (CASE WHEN p3 > 0 THEN CAST(p3 - 150000 AS DOUBLE) / 1000000
            * ln(CAST(p3 AS DOUBLE) / 150000.0) ELSE 0.0 END)
          + (CASE WHEN p4 > 0 THEN CAST(p4 - 100000 AS DOUBLE) / 1000000
            * ln(CAST(p4 AS DOUBLE) / 100000.0) ELSE 0.0 END), 6) AS psi
        FROM p"""))

  /** OP-AGG-24 — two-sample KS drift: price-cents ECDF of each
    * order-key-third against the first (same splits as the PSI report,
    * binning-free statistic).
    */
  private val agg24 = Spec("q193_ks_drift",
    (s, d) => Relational.ksReportFromPaired(pricePairedEcdf(s, d)),
    Some(priceDriftSql("cur.s, cur.cum AS cumc, r.cum AS cumr",
      "max(abs(cumr * nc - cumc * nr)) AS dnum",
      "CAST(dnum AS BIGINT) AS d_num", "ks",
      "CAST(dnum AS DOUBLE) / (CAST(nr AS DOUBLE) * CAST(nc AS DOUBLE))")))

  /** OP-AGG-25 — Mann–Whitney U: event-value distribution of odd-id
    * users against even-id users, tie-corrected, doubled-U exact.
    */
  private val agg25 = Spec("q194_mann_whitney",
    (s, d) => Relational.mannWhitneyReport(
      T(s, d, "events").select(
        concat(lit("g"), (col("user_id") % 2).cast("string")).as("grp"),
        floor(col("value")).cast("long").as("v")),
      "grp", "g0", "v", lo = 0d, hi = 350d, nBuckets = 16),
    Some(ecdfPairedSql("""SELECT 'g' || CAST(user_id % 2 AS VARCHAR) AS s,
          CAST(floor(value) AS BIGINT) AS v FROM events
          WHERE value IS NOT NULL AND user_id IS NOT NULL""") + """
        j AS (SELECT cur.s, cur.t AS tc, r.t AS tr,
          (cur.cum - cur.t) + (r.cum - r.t) AS cb, cur.t + r.t AS ta
          FROM f cur JOIN f r ON r.s = 'g0' AND r.v = cur.v
          WHERE cur.s <> 'g0'),
        a AS (SELECT s, sum(tr) AS nr, sum(tc) AS nc,
          sum(tc * (cb * 2 + ta + 1)) AS r2,
          sum(ta * ta * ta - ta) AS tie FROM j GROUP BY 1),
        b AS (SELECT s, nr, nc, r2 - nc * (nc + 1) AS u2, nr + nc AS nn,
          tie FROM a)
        SELECT s AS split, CAST(nr AS BIGINT) AS n_ref,
          CAST(nc AS BIGINT) AS n_cur, CAST(u2 AS BIGINT) AS u2,
          CASE WHEN nr > 0 AND nc > 0
              AND (nn + 1) * nn * (nn - 1) - tie > 0 THEN
            round(CAST(u2 - nr * nc AS DOUBLE)
              / sqrt(CAST(nr AS DOUBLE) * CAST(nc AS DOUBLE)
                * (CAST((nn + 1) * nn * (nn - 1) - tie AS DOUBLE)
                  / CAST(3 * nn * (nn - 1) AS DOUBLE))), 6)
          END AS z FROM b"""))

  /** OP-WIN-21 — exact-rational EWMA (α = 1/4, 8-row frame) of each
    * user's value series.
    */
  private val win21 = Spec("q195_ewma",
    (s, d) => Windows.ewma(
      T(s, d, "events").filter(col("value").isNotNull)
        .select(col("event_id"), col("user_id"), col("ts"),
          floor(col("value")).cast("long").as("v")),
      Seq("user_id"), Seq("ts", "event_id"), "v", nRows = 8,
      alphaNum = 1, alphaDen = 4),
    Some("""WITH e AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts,
          CAST(floor(value) AS BIGINT) AS v FROM events
          WHERE value IS NOT NULL),
        l AS (SELECT event_id, user_id, ts, v,
          list(v) OVER (PARTITION BY user_id ORDER BY ts, event_id
            ROWS BETWEEN 7 PRECEDING AND CURRENT ROW) AS ls FROM e)
        SELECT event_id, user_id, ts, v,
          round(CAST(list_sum([CAST(ls[j+1] AS HUGEINT)
              * CAST(round(pow(3, len(ls)-1-j)
                * pow(4, 7-(len(ls)-1-j))) AS HUGEINT)
              for j in range(len(ls))]) AS DOUBLE)
            / CAST(list_sum([CAST(round(pow(3, len(ls)-1-j)
              * pow(4, 7-(len(ls)-1-j))) AS HUGEINT)
              for j in range(len(ls))]) AS DOUBLE), 6) AS ewma
        FROM l"""))

  /** OP-WIN-22 — two-sided CUSUM drift alarms on each user's value
    * series (target 175, slack 10, threshold 400), closed window form.
    */
  private val win22 = Spec("q196_cusum",
    (s, d) => Windows.cusum(
      T(s, d, "events").filter(col("value").isNotNull)
        .select(col("event_id"), col("user_id"), col("ts"),
          floor(col("value")).cast("long").as("v")),
      Seq("user_id"), Seq("ts", "event_id"), "v",
      target = 175L, slack = 10L, threshold = 400L),
    Some("""WITH e AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts,
          CAST(floor(value) AS BIGINT) AS v FROM events
          WHERE value IS NOT NULL),
        s AS (SELECT event_id, user_id, ts, v,
          CAST(sum(v - 175) OVER run AS BIGINT) AS p,
          row_number() OVER (PARTITION BY user_id
            ORDER BY ts, event_id) AS rn
          FROM e WINDOW run AS (PARTITION BY user_id
            ORDER BY ts, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        ab AS (SELECT *, p - 10 * rn AS a, p + 10 * rn AS b FROM s),
        f AS (SELECT event_id, user_id, ts, v, p,
          CAST(a - least(0, min(a) OVER run) AS BIGINT) AS cusum_pos,
          CAST(greatest(0, max(b) OVER run) - b AS BIGINT) AS cusum_neg
          FROM ab WINDOW run AS (PARTITION BY user_id
            ORDER BY ts, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
        SELECT event_id, user_id, ts, v, p AS run_sum,
          cusum_pos, cusum_neg,
          cusum_pos > 400 AS alarm_pos, cusum_neg > 400 AS alarm_neg
        FROM f"""))

  /** OP-WIN-23 — maximum drawdown of each customer's order-price
    * series in date order.
    */
  private val win23 = Spec("q197_max_drawdown",
    (s, d) => Windows.maxDrawdown(
      T(s, d, "orders").select(col("o_custkey"), col("o_orderdate"),
        col("o_orderkey"),
        round(col("o_totalprice") * 100).cast("long").as("cents")),
      Seq("o_custkey"), Seq("o_orderdate", "o_orderkey"), "cents"),
    Some("""WITH o AS (SELECT o_custkey,
          CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
          o_orderdate, o_orderkey FROM orders
          WHERE o_totalprice IS NOT NULL),
        m AS (SELECT o_custkey, cents,
          max(cents) OVER (PARTITION BY o_custkey
            ORDER BY o_orderdate, o_orderkey
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - cents
            AS dd FROM o)
        SELECT o_custkey, CAST(count(*) AS BIGINT) AS n,
          CAST(max(cents) AS BIGINT) AS peak,
          CAST(max(dd) AS BIGINT) AS max_drawdown FROM m GROUP BY 1"""))

  /** OP-AGG-26 — pairwise Pearson correlation matrix of the four
    * lineitem value columns, one scan, exact decimal sufficient stats.
    * The oracle states the same per-pair formula over HUGEINT sums,
    * keeping the two discriminants under SEPARATE square roots exactly
    * like the engine (their product overflows both DECIMAL(38,0) and
    * int128 at volumes where the factors are fine).
    */
  private val agg26 = {
    val pairCols = Seq("qty", "cents", "disc_ppm", "tax_ppm")
    val pairSql = (for {
      i <- pairCols.indices; j <- pairCols.indices if i < j
    } yield {
      val (a, b) = (pairCols(i), pairCols(j))
      s"""SELECT '$a' AS col_a, '$b' AS col_b, CAST(n AS BIGINT) AS n,
        CASE WHEN n*sxx - sx*sx > 0 AND n*syy - sy*sy > 0 THEN
          round(CAST(n*sxy - sx*sy AS DOUBLE) /
            (sqrt(CAST(n*sxx - sx*sx AS DOUBLE)) *
             sqrt(CAST(n*syy - sy*sy AS DOUBLE))), 6) END AS corr
        FROM (SELECT CAST(count(*) AS HUGEINT) AS n,
          sum(CAST($a AS HUGEINT)) AS sx, sum(CAST($b AS HUGEINT)) AS sy,
          sum(CAST($a AS HUGEINT)*CAST($b AS HUGEINT)) AS sxy,
          sum(CAST($a AS HUGEINT)*CAST($a AS HUGEINT)) AS sxx,
          sum(CAST($b AS HUGEINT)*CAST($b AS HUGEINT)) AS syy
          FROM e WHERE $a IS NOT NULL AND $b IS NOT NULL)"""
    }).mkString("\n        UNION ALL\n        ")
    Spec("q201_corr_matrix",
      (s, d) => Relational.correlationMatrix(
        T(s, d, "lineitem").select(
          floor(col("l_quantity")).cast("long").as("qty"),
          round(col("l_extendedprice") * 100).cast("long").as("cents"),
          round(col("l_discount") * 1000000).cast("long").as("disc_ppm"),
          round(col("l_tax") * 1000000).cast("long").as("tax_ppm")),
        pairCols),
      Some(s"""WITH e AS (SELECT
          CAST(floor(l_quantity) AS BIGINT) AS qty,
          CAST(round(l_extendedprice * 100) AS BIGINT) AS cents,
          CAST(round(l_discount * 1000000) AS BIGINT) AS disc_ppm,
          CAST(round(l_tax * 1000000) AS BIGINT) AS tax_ppm FROM lineitem)
        $pairSql"""))
  }

  /** OP-AGG-27 — pointwise mutual information of (source, lang) cells
    * over the documents table: which languages over/under-index in
    * which sources relative to independence.
    */
  private val agg27 = Spec("q202_pmi_cells",
    (s, d) => Relational.pmiReport(
      T(s, d, "documents"), "source", "lang", minCount = 1L),
    Some("""WITH c AS (SELECT source, lang, CAST(count(*) AS BIGINT) AS n_ab
          FROM documents WHERE source IS NOT NULL AND lang IS NOT NULL
          GROUP BY 1, 2),
        m AS (SELECT source, lang, n_ab,
          CAST(sum(n_ab) OVER (PARTITION BY source) AS BIGINT) AS n_a,
          CAST(sum(n_ab) OVER (PARTITION BY lang) AS BIGINT) AS n_b,
          CAST(sum(n_ab) OVER () AS BIGINT) AS n_total FROM c)
        SELECT source, lang, n_ab, n_a, n_b,
          round(ln(CAST(CAST(n_ab AS HUGEINT) * CAST(n_total AS HUGEINT)
              AS DOUBLE)
            / CAST(CAST(n_a AS HUGEINT) * CAST(n_b AS HUGEINT)
              AS DOUBLE)), 6) AS pmi
        FROM m"""))

  /** OP-MISC-16 — per-brand Pareto frontier of parts maximizing both
    * retail price and size: the running-max window rule against the
    * oracle's independent NOT-EXISTS dominance definition.
    */
  private val misc16 = Spec("q203_pareto_frontier",
    (s, d) => Relational.paretoFrontier2d(
      T(s, d, "part").filter(col("p_brand").isNotNull)
        .select(col("p_brand"),
          round(col("p_retailprice") * 100).cast("long").as("cents"),
          col("p_size").cast("long").as("sz")),
      Seq("p_brand"), "cents", "sz"),
    Some("""WITH e AS (SELECT p_brand,
          CAST(round(p_retailprice * 100) AS BIGINT) AS cents,
          CAST(p_size AS BIGINT) AS sz FROM part
          WHERE p_brand IS NOT NULL AND p_retailprice IS NOT NULL
            AND p_size IS NOT NULL),
        g AS (SELECT p_brand, cents, sz, CAST(count(*) AS BIGINT)
          AS n_points FROM e GROUP BY 1, 2, 3)
        SELECT g.* FROM g WHERE NOT EXISTS (SELECT 1 FROM g o
          WHERE o.p_brand = g.p_brand AND o.cents >= g.cents
            AND o.sz >= g.sz
            AND (o.cents > g.cents OR o.sz > g.sz))"""))

  /** OP-WIN-24 — seasonal-baseline residuals: each event's value against
    * the trailing mean of the same (event_type, day-of-week, hour) slot.
    * Day-of-week is integer date math on both sides — never an engine
    * dow() convention.
    */
  private val win24 = Spec("q206_seasonal_residuals",
    (s, d) => Windows.seasonalResiduals(
      T(s, d, "events").filter(col("ts").isNotNull)
        .select(col("event_id"), col("event_type"), col("ts"),
          floor(col("value")).cast("long").as("v")),
      Seq("event_type"), "ts", Seq("event_id"), "v", nPrior = 4),
    Some("""WITH e AS (SELECT event_id, event_type,
          CAST(ts AS TIMESTAMP) AS ts, CAST(floor(value) AS BIGINT) AS v
          FROM events WHERE ts IS NOT NULL),
        w AS (SELECT event_id, event_type, ts, v,
          CAST((CAST(ts AS DATE) - DATE '1970-01-05') % 7 AS INT)
            AS slot_dow,
          CAST(hour(ts) AS INT) AS slot_hour FROM e),
        r AS (SELECT *,
          CAST(count(v) OVER f AS BIGINT) AS n_prior,
          CAST(sum(v) OVER f AS BIGINT) AS s
          FROM w WINDOW f AS (PARTITION BY event_type, slot_dow, slot_hour
            ORDER BY ts, event_id
            ROWS BETWEEN 4 PRECEDING AND 1 PRECEDING))
        SELECT event_id, event_type, ts, v, slot_dow, slot_hour, n_prior,
          CASE WHEN n_prior > 0 THEN
            round(CAST(s AS DOUBLE) / CAST(n_prior AS DOUBLE), 6)
          END AS baseline,
          CASE WHEN n_prior > 0 AND v IS NOT NULL THEN
            round(v - CAST(s AS DOUBLE) / CAST(n_prior AS DOUBLE), 6)
          END AS residual
        FROM r"""))

  /** OP-AGG-28 — Theil–Sen robust spend trend per customer: lower-median
    * pairwise slope of order cents over epoch days. The oracle
    * enumerates the same rank-identified pairs and picks the same
    * positional median.
    */
  private val agg28 = Spec("q207_theil_sen",
    (s, d) => Relational.theilSen(
      T(s, d, "orders")
        .filter(col("o_orderdate").isNotNull && col("o_totalprice").isNotNull)
        .select(col("o_custkey"),
          datediff(to_date(col("o_orderdate")), lit("1970-01-01")
            .cast("date")).cast("long").as("x"),
          round(col("o_totalprice") * 100).cast("long").as("y"),
          col("o_orderkey")),
      Seq("o_custkey"), "x", "y", Seq("o_orderkey")),
    Some("""WITH o AS (SELECT o_custkey,
          CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS BIGINT)
            AS x,
          CAST(round(o_totalprice * 100) AS BIGINT) AS y, o_orderkey
          FROM orders
          WHERE o_orderdate IS NOT NULL AND o_totalprice IS NOT NULL),
        r AS (SELECT *, row_number() OVER (PARTITION BY o_custkey
            ORDER BY x, o_orderkey) AS rn FROM o),
        p AS (SELECT a.o_custkey, a.rn AS ra, b.rn AS rb,
          round(CAST(b.y - a.y AS DOUBLE)
            / CAST(b.x - a.x AS DOUBLE), 6) AS slope
          FROM r a JOIN r b ON a.o_custkey = b.o_custkey
            AND a.rn < b.rn AND a.x <> b.x),
        k AS (SELECT o_custkey, slope,
          row_number() OVER (PARTITION BY o_custkey
            ORDER BY slope, ra, rb) AS k,
          count(*) OVER (PARTITION BY o_custkey) AS np FROM p)
        SELECT o_custkey, CAST(np AS BIGINT) AS n_pairs, slope
        FROM k WHERE k = (np + 1) // 2"""))

  /** OP-WIN-25 — Hampel outlier flags on each user's value series:
    * trailing-7 lower median ± 3·MAD, exact integer arithmetic
    * end-to-end (median and MAD are element picks, never averages).
    */
  private val win25 = Spec("q210_hampel_outliers",
    (s, d) => Windows.hampelOutliers(
      T(s, d, "events")
        .filter(col("value").isNotNull && col("ts").isNotNull)
        .select(col("event_id"), col("user_id"), col("ts"),
          floor(col("value")).cast("long").as("v")),
      Seq("user_id"), Seq("ts", "event_id"), "v", nRows = 7, k = 3L),
    Some("""WITH e AS (SELECT event_id, user_id,
          CAST(ts AS TIMESTAMP) AS ts, CAST(floor(value) AS BIGINT) AS v
          FROM events WHERE value IS NOT NULL AND ts IS NOT NULL),
        l AS (SELECT event_id, user_id, ts, v,
          list_sort(list(v) OVER (PARTITION BY user_id
            ORDER BY ts, event_id
            ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)) AS ls FROM e),
        m AS (SELECT *, ls[(len(ls) + 1) // 2] AS med FROM l),
        d AS (SELECT *, list_sort([abs(x - med) for x in ls])
          [(len(ls) + 1) // 2] AS mad FROM m)
        SELECT event_id, user_id, ts, v, CAST(med AS BIGINT) AS med,
          CAST(mad AS BIGINT) AS mad,
          abs(v - med) > 3 * mad AS outlier
        FROM d"""))

  /** Functional-dependency violation profiler: does `l_partkey` determine
    * `l_suppkey` in lineitem? (It does not — each part has several
    * suppliers — so the output enumerates the per-part evidence.)
    */
  private val misc17 = Spec("q213_fd_violations",
    (s, d) => Relational.fdViolations(
      T(s, d, "lineitem"), Seq("l_partkey"), "l_suppkey"),
    Some("""SELECT l_partkey, CAST(count(*) AS BIGINT) AS n_rows,
          CAST(count(DISTINCT l_suppkey) AS BIGINT) AS n_distinct_rhs
        FROM lineitem WHERE l_partkey IS NOT NULL
        GROUP BY 1 HAVING count(DISTINCT l_suppkey) > 1"""))

  /** OP-WIN-26 — running distinct event-type count per user (the
    * "behavioral breadth so far" curve), exact via the first-occurrence
    * flag + running sum construction.
    */
  private val win26 = Spec("q214_running_distinct",
    (s, d) => Windows.runningDistinctCount(
      T(s, d, "events")
        .filter(col("event_type").isNotNull && col("ts").isNotNull)
        .select(col("event_id"), col("user_id"), col("ts"),
          col("event_type")),
      Seq("user_id"), Seq("ts", "event_id"), "event_type"),
    Some("""WITH e AS (SELECT event_id, user_id,
          CAST(ts AS TIMESTAMP) AS ts, event_type FROM events
          WHERE event_type IS NOT NULL AND ts IS NOT NULL),
        f AS (SELECT *, CASE WHEN row_number() OVER (
            PARTITION BY user_id, event_type ORDER BY ts, event_id) = 1
            THEN 1 ELSE 0 END AS ff FROM e)
        SELECT event_id, user_id, ts, event_type,
          CAST(sum(ff) OVER (PARTITION BY user_id ORDER BY ts, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
            AS n_distinct_so_far
        FROM f"""))

  /** k-core peel (k = 3, 3 rounds) over the filtered co-purchase part
    * graph; the oracle unrolls the identical synchronous peel as chained
    * CTEs.
    */
  private val misc18 = Spec("q216_kcore",
    (s, d) => Graph.kCorePeel(coPurchaseEdges(s, d, modFilter = true),
      "pa", "pb", k = 3, rounds = 3),
    Some {
      val peel = (1 to 3).map(i =>
        s"""d$i AS (SELECT n, count(*) AS c FROM (SELECT u AS n FROM e${i - 1}
              UNION ALL SELECT v FROM e${i - 1}) GROUP BY 1),
          s$i AS (SELECT n FROM d$i WHERE c >= 3),
          e$i AS (SELECT e.u, e.v FROM e${i - 1} e JOIN s$i a ON e.u = a.n
            JOIN s$i b ON e.v = b.n)""").mkString(", ")
      s"""WITH e0 AS (SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
          FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey
            AND a.l_partkey < b.l_partkey
          WHERE a.l_partkey % 3 = 0 AND b.l_partkey % 3 = 0),
        $peel
        SELECT node, CAST(count(*) AS BIGINT) AS degree FROM
          (SELECT u AS node FROM e3 UNION ALL SELECT v FROM e3) GROUP BY 1"""
    })

  /** Label propagation (2 clamped-seed rounds, neighbor majority, min-
    * label ties) over the filtered co-purchase graph; seeds are every
    * 7th part labeled by partkey mod 5. The oracle unrolls both rounds.
    */
  private val misc19 = Spec("q228_label_prop",
    (s, d) => {
      val seeds = T(s, d, "lineitem")
        .filter(col("l_partkey") % 3 === 0 && col("l_partkey") % 7 === 0)
        .select(col("l_partkey").as("node"),
          (col("l_partkey") % 5).as("label")).distinct()
      Graph.labelPropagation(coPurchaseEdges(s, d, modFilter = true),
        "pa", "pb", seeds, "node", "label", rounds = 2)
    },
    Some {
      val round = (i: Int) =>
        s"""v$i AS (SELECT nb.n, l.label, count(*) AS c FROM nb
              JOIN l${i - 1} l ON nb.m = l.n GROUP BY 1, 2),
          p$i AS (SELECT n, label FROM (SELECT *, row_number() OVER
              (PARTITION BY n ORDER BY c DESC, label) AS rk FROM v$i)
            WHERE rk = 1),
          l$i AS (SELECT * FROM seed UNION ALL
            SELECT p.n, p.label FROM p$i p LEFT JOIN seed s ON p.n = s.n
            WHERE s.n IS NULL)"""
      s"""WITH e0 AS (SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
          FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey
            AND a.l_partkey < b.l_partkey
          WHERE a.l_partkey % 3 = 0 AND b.l_partkey % 3 = 0),
        nb AS (SELECT u AS n, v AS m FROM e0
          UNION ALL SELECT v, u FROM e0),
        seed AS (SELECT DISTINCT l_partkey AS n, l_partkey % 5 AS label
          FROM lineitem WHERE l_partkey % 3 = 0 AND l_partkey % 7 = 0),
        l0 AS (SELECT * FROM seed),
        ${round(1)}, ${round(2)}
        SELECT n AS node, CAST(label AS BIGINT) AS label FROM l2"""
    })

  /** Neighbor-set Jaccard over the co-purchase graph (pairs sharing ≥ 2
    * neighbors).
    */
  private val misc20 = Spec("q231_neighbor_jaccard",
    (s, d) => Graph.neighborJaccard(coPurchaseEdges(s, d, modFilter = true),
      "pa", "pb", minCommon = 2),
    Some("""WITH e0 AS (SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
          FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey
            AND a.l_partkey < b.l_partkey
          WHERE a.l_partkey % 3 = 0 AND b.l_partkey % 3 = 0),
        nb AS (SELECT u AS n, v AS m FROM e0
          UNION ALL SELECT v, u FROM e0),
        deg AS (SELECT n, CAST(count(*) AS BIGINT) AS deg
          FROM nb GROUP BY 1),
        pr AS (SELECT x.n AS a, y.n AS b, CAST(count(*) AS BIGINT)
            AS common
          FROM nb x JOIN nb y ON x.m = y.m AND x.n < y.n
          GROUP BY 1, 2 HAVING count(*) >= 2)
        SELECT a, b, common, round(CAST(common AS DOUBLE)
          / CAST(da.deg + db.deg - common AS DOUBLE), 6) AS jaccard
        FROM pr JOIN deg da ON da.n = pr.a JOIN deg db ON db.n = pr.b"""))

  /** Per-user Shannon entropy of the event-type distribution. */
  private val agg29 = Spec("q233_user_entropy",
    (s, d) => Relational.categoricalEntropy(T(s, d, "events"),
      Seq("user_id"), "event_type"),
    Some("""WITH c AS (SELECT user_id, event_type,
          CAST(count(*) AS BIGINT) AS n FROM events
          WHERE event_type IS NOT NULL GROUP BY 1, 2),
        t AS (SELECT c.*, sum(n) OVER (PARTITION BY user_id) AS tot
          FROM c)
        SELECT user_id, CAST(count(*) AS BIGINT) AS n_categories,
          CAST(max(tot) AS BIGINT) AS n_rows,
          round(0 - sum((CAST(n AS DOUBLE) / CAST(tot AS DOUBLE))
            * ln(CAST(n AS DOUBLE) / CAST(tot AS DOUBLE))), 6) AS entropy
        FROM t GROUP BY 1"""))

  /** Blocked fuzzy record linkage: dirty customer names (middle char
    * replaced) matched back to the master list, blocking on
    * (length, last-2) — the key that survives middle-of-string typos.
    */
  private val misc21 = Spec("q238_fuzzy_link",
    (s, d) => {
      val names = T(s, d, "customer").select(col("c_name"))
      val dirty = T(s, d, "customer").filter(col("c_custkey") % 7 === 0)
        .select(concat(substring(col("c_name"), 1, 9), lit("x"),
          substring(col("c_name"), 11, 1000)).as("c_dirty"))
      Joins.blockedFuzzyJoin(names, dirty, "c_name", "c_dirty",
        n => Seq(length(n), substring(n, -2, 2)), maxDist = 1)
    },
    Some("""WITH dirty AS (SELECT substr(c_name, 1, 9) || 'x'
            || substr(c_name, 11) AS r FROM customer
          WHERE c_custkey % 7 = 0),
        lb AS (SELECT c_name AS l, length(c_name) AS bl,
          right(c_name, 2) AS bs FROM customer),
        rb AS (SELECT r, length(r) AS bl, right(r, 2) AS bs FROM dirty)
        SELECT l, r, CAST(levenshtein(l, r) AS INT) AS dist
        FROM lb JOIN rb USING (bl, bs)
        WHERE levenshtein(l, r) <= 1"""))

  // ---- time-series diagnostics wave (q385–q388): per-user event
  // series, the q186 construction (floor(value), ordered ts,event_id)

  /** OP-WIN-27 — Ljung–Box portmanteau (lags 1..3) per user series. */
  private val win27 = Spec("q385_ljung_box",
    (s, d) => Windows.ljungBox(
      T(s, d, "events").filter(col("value").isNotNull)
        .select(col("user_id"), col("event_id"), col("ts"),
          floor(col("value")).cast("long").as("v")),
      Seq("user_id"), Seq("ts", "event_id"), "v", maxLag = 3),
    Some("""WITH e AS (SELECT user_id, ts, event_id,
          CAST(floor(value) AS BIGINT) AS v FROM events
          WHERE value IS NOT NULL),
        p AS (SELECT user_id, CAST(v AS HUGEINT) AS x,
          CAST(lag(v, 1) OVER w AS HUGEINT) AS l1,
          CAST(lag(v, 2) OVER w AS HUGEINT) AS l2,
          CAST(lag(v, 3) OVER w AS HUGEINT) AS l3
          FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        g AS (SELECT user_id, CAST(count(*) AS HUGEINT) AS n,
          sum(x) AS s, sum(x * x) AS ss,
          sum(x * l1) AS sxy1, sum(x * l2) AS sxy2, sum(x * l3) AS sxy3,
          sum(CASE WHEN l1 IS NOT NULL THEN x END) AS t1,
          sum(CASE WHEN l2 IS NOT NULL THEN x END) AS t2,
          sum(CASE WHEN l3 IS NOT NULL THEN x END) AS t3,
          sum(l1) AS h1, sum(l2) AS h2, sum(l3) AS h3
          FROM p GROUP BY 1),
        c AS (SELECT user_id, n,
          n * n * ss - n * s * s AS c0,
          n * n * sxy1 - n * s * (h1 + t1) + (n - 1) * s * s AS c1,
          n * n * sxy2 - n * s * (h2 + t2) + (n - 2) * s * s AS c2,
          n * n * sxy3 - n * s * (h3 + t3) + (n - 3) * s * s AS c3
          FROM g)
        SELECT user_id, CAST(n AS BIGINT) AS n_obs,
          CASE WHEN n > 3 AND c0 > 0 THEN
            round(CAST(n AS DOUBLE) * CAST(n + 2 AS DOUBLE) * (
              (CAST(c1 AS DOUBLE) / CAST(c0 AS DOUBLE))
                * (CAST(c1 AS DOUBLE) / CAST(c0 AS DOUBLE))
                / CAST(n - 1 AS DOUBLE)
              + (CAST(c2 AS DOUBLE) / CAST(c0 AS DOUBLE))
                * (CAST(c2 AS DOUBLE) / CAST(c0 AS DOUBLE))
                / CAST(n - 2 AS DOUBLE)
              + (CAST(c3 AS DOUBLE) / CAST(c0 AS DOUBLE))
                * (CAST(c3 AS DOUBLE) / CAST(c0 AS DOUBLE))
                / CAST(n - 3 AS DOUBLE)), 6)
          END AS q_stat FROM c"""))

  /** OP-WIN-28 — Wald–Wolfowitz runs test per user series (exact
    * median threshold, equal-to-median dropped). */
  private val win28 = Spec("q386_runs_test",
    (s, d) => Windows.runsTest(
      T(s, d, "events").filter(col("value").isNotNull)
        .select(col("user_id"), col("event_id"), col("ts"),
          floor(col("value")).cast("long").as("v")),
      Seq("user_id"), Seq("ts", "event_id"), "v"),
    Some("""WITH e AS (SELECT user_id, ts, event_id,
          CAST(floor(value) AS BIGINT) AS v FROM events
          WHERE value IS NOT NULL),
        m AS (SELECT user_id, median(CAST(v AS DOUBLE)) AS med FROM e
          GROUP BY 1),
        f AS (SELECT e.user_id, e.ts, e.event_id,
          CASE WHEN CAST(v AS DOUBLE) > med THEN 1 ELSE 0 END AS s
          FROM e JOIN m USING (user_id)
          WHERE CAST(v AS DOUBLE) <> med),
        b AS (SELECT user_id, s, CASE WHEN lag(s) OVER
            (PARTITION BY user_id ORDER BY ts, event_id)
            IS DISTINCT FROM s THEN 1 ELSE 0 END AS brk FROM f),
        g AS (SELECT user_id, CAST(sum(s) AS BIGINT) AS n_above,
          CAST(sum(1 - s) AS BIGINT) AS n_below,
          CAST(sum(brk) AS BIGINT) AS runs FROM b GROUP BY 1)
        SELECT user_id, n_above, n_below, runs,
          CASE WHEN n_above > 0 AND n_below > 0
              AND n_above + n_below > 2
              AND CAST(n_above AS DOUBLE) * CAST(n_below AS DOUBLE) * 2
                > CAST(n_above + n_below AS DOUBLE) THEN
            round((CAST(runs AS DOUBLE)
              - (CAST(n_above AS DOUBLE) * CAST(n_below AS DOUBLE) * 2
                / CAST(n_above + n_below AS DOUBLE) + 1))
              / sqrt((CAST(n_above AS DOUBLE) * CAST(n_below AS DOUBLE)
                  * 2)
                * ((CAST(n_above AS DOUBLE) * CAST(n_below AS DOUBLE)
                  * 2) - CAST(n_above + n_below AS DOUBLE))
                / (CAST(n_above + n_below AS DOUBLE)
                  * CAST(n_above + n_below AS DOUBLE)
                  * (CAST(n_above + n_below AS DOUBLE) - 1))), 6)
          END AS z FROM g"""))

  /** OP-WIN-29 — Durbin–Watson on per-user detrended residuals
    * (all-integer identity core; one final division). */
  private val win29 = Spec("q387_durbin_watson",
    (s, d) => Windows.durbinWatson(
      T(s, d, "events").filter(col("value").isNotNull)
        .select(col("user_id"), col("event_id"), col("ts"),
          floor(col("value")).cast("long").as("v")),
      Seq("user_id"), Seq("ts", "event_id"), "v"),
    Some("""WITH e AS (SELECT user_id, ts, event_id,
          CAST(floor(value) AS BIGINT) AS v FROM events
          WHERE value IS NOT NULL),
        p AS (SELECT user_id, CAST(v AS HUGEINT) AS y,
          CAST(row_number() OVER w AS HUGEINT) AS t,
          CAST(count(*) OVER (PARTITION BY user_id) AS HUGEINT) AS cnt,
          CAST(v - lag(v, 1) OVER w AS HUGEINT) AS dy
          FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        p2 AS (SELECT user_id, y, 2 * t - cnt - 1 AS tc, dy FROM p),
        g AS (SELECT user_id, CAST(count(*) AS HUGEINT) AS n,
          sum(y) AS sy, sum(y * y) AS syy, sum(tc * y) AS b,
          sum(tc * tc) AS d, sum(dy) AS sdy, sum(dy * dy) AS sdyy
          FROM p2 GROUP BY 1),
        c AS (SELECT user_id, n,
          n * (d * d * sdyy - d * b * sdy * 4 + (n - 1) * b * b * 4)
            AS num,
          d * (d * (n * syy - sy * sy) - n * b * b) AS den FROM g)
        SELECT user_id, CAST(n AS BIGINT) AS n_obs,
          CASE WHEN n >= 3 AND den > 0 THEN
            round(CAST(num AS DOUBLE) / CAST(den AS DOUBLE), 6)
          END AS dw FROM c"""))

  /** OP-WIN-30 — Lo–MacKinlay variance ratio (horizon 4, overlapping
    * differences) per user series. */
  private val win30 = Spec("q388_variance_ratio",
    (s, d) => Windows.varianceRatio(
      T(s, d, "events").filter(col("value").isNotNull)
        .select(col("user_id"), col("event_id"), col("ts"),
          floor(col("value")).cast("long").as("v")),
      Seq("user_id"), Seq("ts", "event_id"), "v", q = 4),
    Some("""WITH e AS (SELECT user_id, ts, event_id,
          CAST(floor(value) AS BIGINT) AS v FROM events
          WHERE value IS NOT NULL),
        p AS (SELECT user_id,
          CAST(v - lag(v, 1) OVER w AS HUGEINT) AS d1,
          CAST(v - lag(v, 4) OVER w AS HUGEINT) AS dq
          FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        g AS (SELECT user_id, CAST(count(*) AS HUGEINT) AS n,
          CAST(count(d1) AS HUGEINT) AS n1, sum(d1) AS s1,
          sum(d1 * d1) AS ss1,
          CAST(count(dq) AS HUGEINT) AS nq, sum(dq) AS sq,
          sum(dq * dq) AS ssq FROM p GROUP BY 1),
        c AS (SELECT user_id, n, n1, nq,
          n1 * ss1 - s1 * s1 AS v1, nq * ssq - sq * sq AS vq FROM g)
        SELECT user_id, CAST(n AS BIGINT) AS n_obs,
          CASE WHEN nq > 1 AND v1 > 0 THEN
            round(CAST(vq * n1 * n1 AS DOUBLE)
              / CAST(v1 * nq * nq AS DOUBLE) / 4, 6)
          END AS vr FROM c"""))

  /** OP-JOIN-10 — skew-salted equi-join face: lineitem ⋈ orders on
    * the order key through [[Joins.saltedEquiJoin]] (salt 8), then a
    * priority-grain aggregate. The oracle is the PLAIN join — the
    * point of the operator is that salting changes the shuffle key,
    * never the result multiset. */
  private val join10 = Spec("q389_salted_join",
    (s, d) => {
      val li = T(s, d, "lineitem").select(col("l_orderkey").as("okey"),
        col("l_quantity").cast("long").as("qty"),
        round(col("l_extendedprice") * 100).cast("long").as("cents"))
      val ords = T(s, d, "orders").select(col("o_orderkey").as("okey"),
        col("o_orderpriority"))
      Joins.saltedEquiJoin(li, ords, "okey", salt = 8)
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_items"), sum(col("qty")).as("sum_qty"),
          sum(col("cents")).as("revenue_cents"))
    },
    Some("""SELECT o_orderpriority,
          CAST(count(*) AS BIGINT) AS n_items,
          CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
          CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
            AS BIGINT) AS revenue_cents
        FROM lineitem JOIN orders ON o_orderkey = l_orderkey
        GROUP BY 1"""))

  /** OP-AGG-30 — Wilcoxon signed-rank test per event type: paired
    * consecutive per-user events (odd row → its successor), exact
    * doubled-rank core, tie-corrected z. */
  private val agg30 = Spec("q392_wilcoxon_signed_rank",
    (s, d) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val pairs = T(s, d, "events").filter(col("value").isNotNull)
        .select(col("user_id"), col("event_id"), col("ts"),
          col("event_type"), floor(col("value")).cast("long").as("v"))
        .withColumn("__rn", row_number().over(w))
        .withColumn("__nx", lead(col("v"), 1).over(w))
        .filter(col("__rn") % 2 === 1 && col("__nx").isNotNull)
        .select(col("event_type"), (col("__nx") - col("v")).as("__diff"))
      Relational.wilcoxonSignedRank(pairs, Seq("event_type"), "__diff")
    },
    Some("""WITH e AS (SELECT user_id, ts, event_id, event_type,
          CAST(floor(value) AS BIGINT) AS v FROM events
          WHERE value IS NOT NULL),
        p0 AS (SELECT event_type, v,
          row_number() OVER w AS rn, lead(v, 1) OVER w AS nx
          FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        pr AS (SELECT event_type, nx - v AS diff FROM p0
          WHERE rn % 2 = 1 AND nx IS NOT NULL),
        nz AS (SELECT event_type, abs(diff) AS a,
          CASE WHEN diff > 0 THEN 1 ELSE 0 END AS pos FROM pr
          WHERE diff <> 0),
        ba AS (SELECT event_type, a, CAST(count(*) AS BIGINT) AS c,
          CAST(sum(pos) AS BIGINT) AS cp FROM nz GROUP BY 1, 2),
        rk AS (SELECT *, sum(c) OVER (PARTITION BY event_type
            ORDER BY a ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            AS cum FROM ba),
        r2 AS (SELECT event_type, c, cp, cum * 2 - c + 1 AS r2 FROM rk),
        g AS (SELECT event_type, CAST(sum(c) AS BIGINT) AS n_pairs,
          CAST(sum(cp * r2) AS BIGINT) AS w2_plus,
          CAST(sum(CAST(c AS HUGEINT) * c * c - c) AS HUGEINT) AS ties
          FROM r2 GROUP BY 1),
        v AS (SELECT *, CAST(n_pairs AS HUGEINT) AS n,
          CAST(n_pairs AS HUGEINT) * (n_pairs + 1)
            * (CAST(n_pairs AS HUGEINT) * 2 + 1) * 2 - ties AS v12
          FROM g)
        SELECT event_type, n_pairs, w2_plus,
          CASE WHEN v12 > 0 THEN
            round(CAST(CAST(w2_plus AS HUGEINT) * 2
                - n * (n + 1) AS DOUBLE) / 2
              / sqrt(CAST(v12 AS DOUBLE) / 12), 6)
          END AS z FROM v"""))

  /** OP-AGG-31 — Kruskal–Wallis H across event types (value-grain
    * doubled ranks on the distributed cumsum; tie-corrected). */
  private val agg31 = Spec("q393_kruskal_wallis",
    (s, d) => Relational.kruskalWallis(
      T(s, d, "events").filter(col("value").isNotNull)
        .select(col("event_type"), floor(col("value")).cast("long")
          .as("v")),
      "event_type", "v"),
    Some("""WITH r AS (SELECT event_type AS g,
          CAST(floor(value) AS BIGINT) AS v FROM events
          WHERE value IS NOT NULL AND event_type IS NOT NULL),
        vg AS (SELECT v, CAST(count(*) AS BIGINT) AS c FROM r GROUP BY 1),
        rk AS (SELECT v, c, sum(c) OVER (ORDER BY v) AS cum FROM vg),
        r2 AS (SELECT v, cum * 2 - c + 1 AS r2 FROM rk),
        gv AS (SELECT g, v, CAST(count(*) AS BIGINT) AS cg FROM r
          GROUP BY 1, 2),
        bg AS (SELECT g, CAST(sum(cg) AS BIGINT) AS ng,
          CAST(sum(cg * r2) AS BIGINT) AS rr FROM gv JOIN r2 USING (v)
          GROUP BY 1),
        tm AS (SELECT g, ng, (CAST(rr AS DOUBLE) / 2)
          * (CAST(rr AS DOUBLE) / 2) / CAST(ng AS DOUBLE) AS term
          FROM bg),
        ag AS (SELECT CAST(count(*) AS INT) AS k,
          CAST(sum(ng) AS BIGINT) AS n, list(term ORDER BY g) AS terms
          FROM tm),
        tt AS (SELECT k, n, list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
          terms), (a, b) -> a + b) AS t FROM ag),
        ti AS (SELECT CAST(coalesce(sum(CAST(c AS HUGEINT) * c * c - c),
          0) AS HUGEINT) AS ties FROM vg)
        SELECT k, n,
          CASE WHEN n > 1 THEN round(t * 12 / (CAST(n AS DOUBLE)
            * (CAST(n AS DOUBLE) + 1)) - (CAST(n AS DOUBLE) + 1) * 3, 6)
          END AS h_stat,
          CASE WHEN n > 1 THEN round(1 - CAST(ties AS DOUBLE)
            / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
              - CAST(n AS DOUBLE)), 6) END AS tie_c,
          CASE WHEN n > 1 AND CAST(ties AS DOUBLE) < CAST(n AS DOUBLE)
              * CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
              - CAST(n AS DOUBLE) THEN
            round((t * 12 / (CAST(n AS DOUBLE)
              * (CAST(n AS DOUBLE) + 1)) - (CAST(n AS DOUBLE) + 1) * 3)
              / (1 - CAST(ties AS DOUBLE) / (CAST(n AS DOUBLE)
                * CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
                - CAST(n AS DOUBLE))), 6)
          END AS h_adj
        FROM tt CROSS JOIN ti"""))

  /** The block design of the Friedman (q394) and Page (q400) tests:
    * user blocks × event-type treatments over floored event values. */
  private def blockDesign(s: SparkSession, d: String): DataFrame =
    T(s, d, "events").filter(col("value").isNotNull)
      .select(col("user_id"), col("event_type"),
        floor(col("value")).cast("long").as("v"))

  /** Oracle prefix of q394/q400, the mirror of
    * `Relational.blockRankSums`: micro-mean cells `ce`, complete blocks
    * `ke`, doubled within-block ranks `r2` and per-treatment rank sums
    * `bt(t, rr, nb)` — a WITH list the caller continues.
    */
  private val blockRankSql =
    """WITH r AS (SELECT user_id AS b, event_type AS t,
          CAST(floor(value) AS BIGINT) AS v FROM events
          WHERE value IS NOT NULL AND user_id IS NOT NULL
            AND event_type IS NOT NULL),
        cl AS (SELECT b, t, CAST(sum(v) AS BIGINT) AS s,
          CAST(count(*) AS BIGINT) AS c FROM r GROUP BY 1, 2),
        ce AS (SELECT b, t, s * 1000000 // c AS m FROM cl),
        kk AS (SELECT CAST(count(DISTINCT t) AS BIGINT) AS k FROM ce),
        co AS (SELECT b FROM ce GROUP BY b
          HAVING count(*) = (SELECT k FROM kk)),
        ke AS (SELECT ce.* FROM ce JOIN co USING (b)),
        mg AS (SELECT b, m, CAST(count(*) AS BIGINT) AS cm FROM ke
          GROUP BY 1, 2),
        rk AS (SELECT b, m, cm, sum(cm) OVER (PARTITION BY b
          ORDER BY m) AS cum FROM mg),
        r2 AS (SELECT b, m, cum * 2 - cm + 1 AS r2 FROM rk),
        bt AS (SELECT t, CAST(sum(r2) AS BIGINT) AS rr,
          CAST(count(*) AS BIGINT) AS nb FROM ke JOIN r2 USING (b, m)
          GROUP BY 1),"""

  /** OP-AGG-32 — Friedman test: user blocks × event-type treatments
    * on exact micro-mean cells, complete blocks only. */
  private val agg32 = Spec("q394_friedman",
    (s, d) => Relational.friedmanTest(blockDesign(s, d),
      "user_id", "event_type", "v"),
    Some(blockRankSql + """
        ag AS (SELECT CAST(count(*) AS INT) AS k,
          CAST(max(nb) AS BIGINT) AS b,
          CAST(coalesce(sum(CAST(rr AS HUGEINT) * rr), 0) AS HUGEINT)
            AS r2sq FROM bt)
        SELECT k, b, CAST(r2sq AS BIGINT) AS r2_sq_sum,
          CASE WHEN k > 1 AND b > 0 THEN
            round(CAST(r2sq AS DOUBLE) * 3 / (CAST(b AS DOUBLE)
              * CAST(k AS DOUBLE) * (CAST(k AS DOUBLE) + 1))
              - CAST(b AS DOUBLE) * (CAST(k AS DOUBLE) + 1) * 3, 6)
          END AS chi2_f
        FROM ag"""))

  /** OP-AGG-33 — Cliff's delta of each user-third split vs s0 (exact
    * value-grain dominance counts). */
  private val agg33 = Spec("q395_cliffs_delta",
    (s, d) => Relational.cliffsDelta(
      T(s, d, "events").filter(col("value").isNotNull)
        .select(concat(lit("s"), (col("user_id") % 3).cast("string"))
          .as("split"), floor(col("value")).cast("long").as("v")),
      "split", "s0", "v"),
    Some("""WITH r AS (SELECT 's' || CAST(user_id % 3 AS VARCHAR) AS s,
          CAST(floor(value) AS BIGINT) AS v FROM events
          WHERE value IS NOT NULL AND user_id IS NOT NULL),
        vg AS (SELECT v, CAST(sum(CASE WHEN s = 's0' THEN 1 ELSE 0 END)
          AS BIGINT) AS ca FROM r GROUP BY 1),
        na AS (SELECT CAST(sum(ca) AS BIGINT) AS na FROM vg),
        cm AS (SELECT v, ca, sum(ca) OVER (ORDER BY v) AS cuma FROM vg),
        ot AS (SELECT s, v, CAST(count(*) AS BIGINT) AS cb FROM r
          WHERE s <> 's0' GROUP BY 1, 2),
        j AS (SELECT ot.s, ot.cb, cm.cuma - cm.ca AS less,
          na.na - cm.cuma AS greater, na.na
          FROM ot JOIN cm USING (v) CROSS JOIN na)
        SELECT s AS split, CAST(max(na) AS BIGINT) AS n_ref,
          CAST(sum(cb) AS BIGINT) AS n_split,
          CAST(sum(cb * (less - greater)) AS BIGINT) AS num,
          CASE WHEN max(na) > 0 AND sum(cb) > 0 THEN
            round(CAST(sum(cb * (less - greater)) AS DOUBLE)
              / (CAST(max(na) AS DOUBLE) * CAST(sum(cb) AS DOUBLE)), 6)
          END AS delta
        FROM j GROUP BY 1"""))

  /** OP-AGG-34 — Hodges–Lehmann shift of each user-third split vs s0
    * (value-grain difference convolution, exact lower weighted
    * median). */
  private val agg34 = Spec("q396_hodges_lehmann",
    (s, d) => Relational.hodgesLehmannShift(
      T(s, d, "events").filter(col("value").isNotNull)
        .select(concat(lit("s"), (col("user_id") % 3).cast("string"))
          .as("split"), floor(col("value")).cast("long").as("v")),
      "split", "s0", "v"),
    Some("""WITH r AS (SELECT 's' || CAST(user_id % 3 AS VARCHAR) AS s,
          CAST(floor(value) AS BIGINT) AS v FROM events
          WHERE value IS NOT NULL AND user_id IS NOT NULL),
        ra AS (SELECT v AS va, CAST(count(*) AS BIGINT) AS ca FROM r
          WHERE s = 's0' GROUP BY 1),
        ob AS (SELECT s, v, CAST(count(*) AS BIGINT) AS cb FROM r
          WHERE s <> 's0' GROUP BY 1, 2),
        df AS (SELECT s, ob.v - ra.va AS d,
          CAST(sum(cb * ca) AS BIGINT) AS wd
          FROM ob CROSS JOIN ra GROUP BY 1, 2),
        cw AS (SELECT s, d, wd,
          sum(wd) OVER (PARTITION BY s ORDER BY d) AS cum,
          sum(wd) OVER (PARTITION BY s) AS tt FROM df)
        SELECT s AS split, CAST(max(tt) AS BIGINT) AS n_pairs,
          CAST(min(d) AS BIGINT) AS hl_shift
        FROM cw WHERE cum * 2 >= tt GROUP BY 1"""))

  /** OP-AGG-35 — ROC AUC of the cents-lattice event value as a
    * purchase-vs-rest score (exact rank identity, pair-free). */
  private val agg35 = Spec("q397_auc_roc",
    (s, d) => Relational.aucRoc(
      T(s, d, "events").filter(col("value").isNotNull &&
        col("event_type").isNotNull)
        .select((col("event_type") === "purchase").as("y"),
          round(col("value") * 100).cast("long").as("v")),
      "y", "v"),
    Some("""WITH r AS (SELECT event_type = 'purchase' AS y,
          CAST(round(value * 100) AS BIGINT) AS v FROM events
          WHERE value IS NOT NULL AND event_type IS NOT NULL),
        vg AS (SELECT v,
          CAST(sum(CASE WHEN y THEN 0 ELSE 1 END) AS BIGINT) AS cn,
          CAST(sum(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT) AS cp
          FROM r GROUP BY 1),
        cm AS (SELECT v, cn, cp, sum(cn) OVER (ORDER BY v) AS cumn
          FROM vg)
        SELECT CAST(sum(cp) AS BIGINT) AS n_pos,
          CAST(sum(cn) AS BIGINT) AS n_neg,
          CAST(coalesce(sum(cp * ((cumn - cn) * 2 + cn)), 0) AS BIGINT)
            AS num2,
          CASE WHEN sum(cp) > 0 AND sum(cn) > 0 THEN
            round(CAST(sum(cp * ((cumn - cn) * 2 + cn)) AS DOUBLE)
              / (CAST(sum(cp) AS DOUBLE) * CAST(sum(cn) AS DOUBLE) * 2),
              6) END AS auc
        FROM cm"""))

  /** OP-AGG-36 — calibration audit of the length-based "is English"
    * score (p = min(n_chars/2000, 1)) in 10 ppm bins + ECE + Brier. */
  private val agg36 = Spec("q398_calibration",
    (s, d) => Relational.calibrationReport(
      T(s, d, "documents").filter(col("lang").isNotNull &&
        col("n_chars").isNotNull)
        .select(least(col("n_chars"), lit(2000L)).cast("long")
          .multiply(500L).as("p_ppm"),
          (col("lang") === "en").as("y")),
      "p_ppm", "y", bins = 10),
    Some("""WITH r AS (SELECT least(n_chars, 2000) * 500 AS p,
          lang = 'en' AS y FROM documents
          WHERE lang IS NOT NULL AND n_chars IS NOT NULL),
        b AS (SELECT least(p * 10 // 1000000, 9) AS bin,
          CAST(count(*) AS BIGINT) AS n,
          CAST(sum(p) AS BIGINT) AS sp,
          CAST(sum(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT) AS sy,
          CAST(sum(CAST(p - (CASE WHEN y THEN 1000000 ELSE 0 END)
            AS HUGEINT) * (p - (CASE WHEN y THEN 1000000 ELSE 0 END)))
            AS HUGEINT) AS sq
          FROM r GROUP BY 1),
        pb AS (SELECT bin, n, sp // n AS conf_ppm,
          sy * 1000000 // n AS acc_ppm, sq FROM b),
        pg AS (SELECT bin, n, conf_ppm, acc_ppm,
          abs(conf_ppm - acc_ppm) AS gap_ppm, sq FROM pb),
        g AS (SELECT CAST(sum(CAST(n AS HUGEINT) * gap_ppm)
            // sum(n) AS BIGINT) AS ece_ppm,
          CAST(sum(sq) // (CAST(sum(n) AS HUGEINT) * 1000000)
            AS BIGINT) AS brier_micro FROM pg)
        SELECT bin, n, conf_ppm, acc_ppm, gap_ppm, ece_ppm, brier_micro
        FROM pg CROSS JOIN g"""))

  /** OP-AGG-37 — Page's L trend test: do event-type micro-mean ranks
    * increase in lexicographic dose order across user blocks. */
  private val agg37 = Spec("q400_page_trend",
    (s, d) => Relational.pageTrendTest(blockDesign(s, d),
      "user_id", "event_type", "v"),
    Some(blockRankSql + """
        oj AS (SELECT t, rr, nb,
          CAST(row_number() OVER (ORDER BY t) AS BIGINT) AS j FROM bt),
        ag AS (SELECT CAST(count(*) AS INT) AS k,
          CAST(max(nb) AS BIGINT) AS b,
          CAST(sum(j * rr) AS BIGINT) AS l2 FROM oj)
        SELECT k, b, l2 AS l2_stat,
          CASE WHEN k > 1 AND b > 0 THEN
            round((CAST(l2 AS DOUBLE) / 2 - CAST(b AS DOUBLE)
              * k * (k + 1) * (k + 1) / 4)
              / sqrt(CAST(b AS DOUBLE) * k * k * (k + 1)
                * (CAST(k AS DOUBLE) * k - 1) / 144), 6)
          END AS z
        FROM ag"""))

  /** Session-memoized 40×40 quantity grid over lineitem
    * (`gx = l_partkey % 40, gy = l_suppkey % 40, x = Σ l_quantity`):
    * the shared cell frame of the spatial-statistics pair q401/q402. */
  private[graft] def quantityGridCells(s: SparkSession,
      d: String): DataFrame =
    Pins.memo(s, d, "quantityGridCells")(Pins.pin(
      T(s, d, "lineitem")
        .select((col("l_partkey") % 40).as("__gx"),
          (col("l_suppkey") % 40).as("__gy"),
          col("l_quantity").cast("long").as("__q"))
        .groupBy(col("__gx"), col("__gy"))
        .agg(sum(col("__q")).as("__x"))))

  /** Session-memoized DIRECTED queen-neighbor pair frame of that grid
    * (`(center gx, gy, xi) × (neighbor xj)`, 8-bounded per cell): the
    * offset list is exploded so the JOIN KEY itself bounds fan-out
    * (the skipgramPmi discipline — never a filter after a wide join). */
  private[graft] def quantityGridPairs(s: SparkSession,
      d: String): DataFrame =
    Pins.memo(s, d, "quantityGridPairs") {
      val cells = quantityGridCells(s, d)
      val offs = for { dx <- -1 to 1; dy <- -1 to 1
        if dx != 0 || dy != 0 } yield (dx, dy)
      val withOff = cells.select(col("__gx"), col("__gy"),
          col("__x").as("__xi"))
        .withColumn("__o", explode(array(offs.map { case (dx, dy) =>
          struct(lit(dx).as("dx"), lit(dy).as("dy")) }: _*)))
        .withColumn("__nx", col("__gx") + col("__o.dx"))
        .withColumn("__ny", col("__gy") + col("__o.dy"))
      Pins.pin(withOff.join(cells.select(col("__gx").as("__nx"),
          col("__gy").as("__ny"), col("__x").as("__xj")),
          Seq("__nx", "__ny"))
        .select(col("__gx"), col("__gy"), col("__xi"), col("__xj")))
    }

  /** Shared DuckDB fragment for the grid + queen-neighbor pairs. */
  private val gridSql =
    """c AS (SELECT l_partkey % 40 AS gx, l_suppkey % 40 AS gy,
          CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS x
          FROM lineitem GROUP BY 1, 2),
        p AS (SELECT a.gx, a.gy, a.x AS xi, b.x AS xj
          FROM c a JOIN c b ON abs(a.gx - b.gx) <= 1
            AND abs(a.gy - b.gy) <= 1
            AND NOT (a.gx = b.gx AND a.gy = b.gy))"""

  /** OP-AGG-38 — Moran's I spatial autocorrelation of part-quantity
    * mass on the 40×40 grid (queen weights, exact-integer expansion). */
  private val agg38 = Spec("q401_morans_i",
    (s, d) => Relational.moransI(quantityGridCells(s, d),
      quantityGridPairs(s, d)),
    Some(s"""WITH $gridSql,
        g AS (SELECT CAST(count(*) AS HUGEINT) AS n,
          CAST(sum(x) AS HUGEINT) AS s,
          CAST(sum(CAST(x AS HUGEINT) * x) AS HUGEINT) AS q FROM c),
        pp AS (SELECT CAST(count(*) AS HUGEINT) AS w,
          CAST(coalesce(sum(CAST(xi AS HUGEINT) * xj), 0) AS HUGEINT)
            AS pr,
          CAST(coalesce(sum(CAST(xi AS HUGEINT) + xj), 0) AS HUGEINT)
            AS t FROM p)
        SELECT CAST(n AS BIGINT) AS n_cells, CAST(w AS BIGINT) AS w_pairs,
          CAST(s AS BIGINT) AS sum_x,
          CASE WHEN w > 0 AND n * q - s * s <> 0 THEN
            round(CAST(n * n * pr - n * s * t + s * s * w AS DOUBLE)
              / (CAST(w AS DOUBLE) * CAST(n * q - s * s AS DOUBLE)), 6)
          END AS morans_i,
          CASE WHEN n > 1 THEN round(-1.0 / CAST(n - 1 AS DOUBLE), 6)
          END AS e_i
        FROM g CROSS JOIN pp"""))

  /** OP-AGG-39 — Getis–Ord Gi* hotspot z-score per grid cell (star
    * weights, integer numerator over one sqrt). */
  private val agg39 = Spec("q402_getis_ord",
    (s, d) => Relational.getisOrdGi(quantityGridCells(s, d),
      quantityGridPairs(s, d)),
    Some(s"""WITH $gridSql,
        g AS (SELECT CAST(count(*) AS HUGEINT) AS n,
          CAST(sum(x) AS HUGEINT) AS s,
          CAST(sum(CAST(x AS HUGEINT) * x) AS HUGEINT) AS q FROM c),
        nb AS (SELECT gx, gy, CAST(count(*) AS BIGINT) AS nn,
          CAST(sum(xj) AS BIGINT) AS sn FROM p GROUP BY 1, 2),
        j AS (SELECT c.gx, c.gy, c.x,
          coalesce(nn, 0) + 1 AS w_i, c.x + coalesce(sn, 0) AS g_sum
          FROM c LEFT JOIN nb USING (gx, gy))
        SELECT gx, gy, x, w_i, g_sum,
          CASE WHEN CAST(n * q - s * s AS DOUBLE)
              * CAST(n * w_i - CAST(w_i AS HUGEINT) * w_i AS DOUBLE)
              / (CAST(n AS DOUBLE) - 1) > 0 THEN
            round(CAST(n * g_sum - s * w_i AS DOUBLE)
              / sqrt(CAST(n * q - s * s AS DOUBLE)
                * CAST(n * w_i - CAST(w_i AS HUGEINT) * w_i AS DOUBLE)
                / (CAST(n AS DOUBLE) - 1)), 6)
          END AS gi_z
        FROM j CROSS JOIN g"""))

  /** OP-AGG-40 — periodogram of hourly event volume at the harmonics
    * that matter for a 30-day window (k=30 is the diurnal cycle). */
  private val agg40 = Spec("q403_periodogram",
    (s, d) => Relational.dftPower(
      T(s, d, "events").filter(col("ts").isNotNull)
        .groupBy(floor(unix_timestamp(col("ts")) / 3600).as("t"))
        .agg(count(lit(1)).as("x")),
      "t", "x", ks = Seq(1, 2, 3, 7, 15, 30, 60, 90)),
    Some("""WITH s AS (SELECT CAST(floor(epoch(ts) / 3600) AS BIGINT) AS t,
          CAST(count(*) AS BIGINT) AS x FROM events
          WHERE ts IS NOT NULL GROUP BY 1),
        b AS (SELECT min(t) AS t0, max(t) AS t1,
          CAST(count(*) AS BIGINT) AS nobs,
          CAST(sum(x) AS BIGINT) AS sm FROM s),
        e AS (SELECT k, t, x, t0, nobs, sm, t1 - t0 + 1 AS n
          FROM s CROSS JOIN b
          CROSS JOIN (SELECT unnest([1, 2, 3, 7, 15, 30, 60, 90]) AS k)),
        m AS (SELECT k, nobs,
          CAST(round(CAST(nobs * x - sm AS DOUBLE) / nobs
            * cos(2 * pi() * k * (t - t0) / n) * 1000000) AS BIGINT)
            AS ca,
          CAST(round(CAST(nobs * x - sm AS DOUBLE) / nobs
            * sin(2 * pi() * k * (t - t0) / n) * 1000000) AS BIGINT)
            AS sa
          FROM e)
        SELECT k, CAST(max(nobs) AS BIGINT) AS n_obs,
          CAST(sum(ca) AS BIGINT) AS a_micro,
          CAST(sum(sa) AS BIGINT) AS b_micro,
          round(CAST(CAST(sum(ca) AS HUGEINT) * sum(ca)
            + CAST(sum(sa) AS HUGEINT) * sum(sa) AS DOUBLE) / 1e12, 6)
            AS power
        FROM m GROUP BY 1"""))

  /** OP-AGG-41 — rescaled-range Hurst exponent of hourly event volume
    * at dyadic block sizes 16/32/64. */
  private val agg41 = Spec("q404_hurst_rs",
    (s, d) => Relational.hurstRs(
      T(s, d, "events").filter(col("ts").isNotNull)
        .groupBy(floor(unix_timestamp(col("ts")) / 3600).as("t"))
        .agg(count(lit(1)).as("x")),
      "t", "x", blockSizes = Seq(16, 32, 64)),
    Some("""WITH s AS (SELECT CAST(floor(epoch(ts) / 3600) AS BIGINT) AS t,
          CAST(count(*) AS BIGINT) AS x FROM events
          WHERE ts IS NOT NULL GROUP BY 1),
        t0f AS (SELECT min(t) AS t0 FROM s),
        sz AS (SELECT t, x, bs, (t - t0) // bs AS blk
          FROM s CROSS JOIN t0f
          CROSS JOIN (SELECT unnest([16, 32, 64]) AS bs)),
        bb AS (SELECT bs, blk, CAST(count(*) AS BIGINT) AS c,
          CAST(sum(x) AS BIGINT) AS sb,
          CAST(sum(CAST(x AS HUGEINT) * x) AS HUGEINT) AS qb
          FROM sz GROUP BY 1, 2 HAVING count(*) = bs),
        z AS (SELECT sz.bs, sz.blk,
          sum(x) OVER (PARTITION BY sz.bs, sz.blk ORDER BY t) * sz.bs
            - (row_number() OVER (PARTITION BY sz.bs, sz.blk ORDER BY t))
              * sb AS zp,
          sb, qb FROM sz JOIN bb USING (bs, blk)),
        pb AS (SELECT bs, blk, max(zp) AS zmax, min(zp) AS zmin,
          max(sb) AS sb, max(qb) AS qb FROM z GROUP BY 1, 2),
        rs AS (SELECT bs, CAST(greatest(zmax, 0) - least(zmin, 0)
            AS DOUBLE)
            / sqrt(CAST(qb * bs - CAST(sb AS HUGEINT) * sb AS DOUBLE))
            AS rsv
          FROM pb WHERE qb * bs - CAST(sb AS HUGEINT) * sb > 0),
        lr AS (SELECT bs, CAST(round(ln(rsv) * 1000000) AS BIGINT)
            AS lrs FROM rs WHERE rsv > 0),
        bysz AS (SELECT bs AS block_len,
          CAST(count(*) AS BIGINT) AS n_blocks,
          CAST(round(CAST(sum(lrs) AS DOUBLE) / count(*)) AS BIGINT)
            AS mean_ln_rs_micro
          FROM lr GROUP BY 1),
        sl AS (SELECT CAST(count(*) AS DOUBLE) AS m,
          list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
            list(ln(CAST(block_len AS DOUBLE)) ORDER BY block_len)),
            (a, b) -> a + b) AS su,
          list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
            list(CAST(mean_ln_rs_micro AS DOUBLE) / 1000000
              ORDER BY block_len)), (a, b) -> a + b) AS sv,
          list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
            list(ln(CAST(block_len AS DOUBLE))
              * ln(CAST(block_len AS DOUBLE)) ORDER BY block_len)),
            (a, b) -> a + b) AS suu,
          list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
            list(ln(CAST(block_len AS DOUBLE))
              * (CAST(mean_ln_rs_micro AS DOUBLE) / 1000000)
              ORDER BY block_len)), (a, b) -> a + b) AS suv
          FROM bysz)
        SELECT block_len, n_blocks, mean_ln_rs_micro,
          CASE WHEN m * suu - su * su > 0 THEN
            round((m * suv - su * sv) / (m * suu - su * su), 6)
          END AS hurst
        FROM bysz CROSS JOIN sl"""))

  /** OP-AGG-42 — Jonckheere–Terpstra ordered trend across event types
    * in lexicographic dose order (exact value-grain doubled U-sum). */
  private val agg42 = Spec("q406_jonckheere", {
    val groups = Seq("click", "error", "purchase", "signup", "view")
    (s, d) => Relational.jonckheereTerpstra(
      T(s, d, "events").filter(col("value").isNotNull)
        .select(col("event_type"),
          floor(col("value")).cast("long").as("v")),
      "event_type", groups, "v")
  }, Some {
    val groups = Seq("click", "error", "purchase", "signup", "view")
    val k = groups.length
    val cs = groups.zipWithIndex.map { case (g, i) =>
      s"CAST(sum(CASE WHEN g = '$g' THEN 1 ELSE 0 END) AS BIGINT) AS c$i"
    }.mkString(",\n          ")
    val ms = (0 until k).map(i =>
      s"sum(c$i) OVER (ORDER BY v) AS m$i").mkString(",\n          ")
    val terms = (for { j <- 0 until k; i <- 0 until j } yield
      s"CAST(c$j AS HUGEINT) * ((m$i - c$i) * 2 + c$i)").mkString(" + ")
    val ns = (0 until k).map(i =>
      s"CAST(sum(c$i) AS BIGINT) AS n$i").mkString(", ")
    val nSum = (0 until k).map(i => s"n$i").mkString(" + ")
    val sn2 = (0 until k).map(i =>
      s"CAST(n$i AS HUGEINT) * n$i").mkString(" + ")
    val sv = (0 until k).map(i =>
      s"CAST(n$i AS HUGEINT) * n$i * (n$i * 2 + 3)").mkString(" + ")
    s"""WITH r AS (SELECT event_type AS g,
          CAST(floor(value) AS BIGINT) AS v FROM events
          WHERE value IS NOT NULL AND event_type IN
            (${groups.map(g => s"'$g'").mkString(", ")})),
        vg AS (SELECT v, $cs FROM r GROUP BY 1),
        cm AS (SELECT v,
          ${(0 until k).map(i => s"c$i").mkString(", ")},
          $ms FROM vg),
        pv AS (SELECT CAST(coalesce(sum($terms), 0) AS HUGEINT) AS jt2
          FROM cm),
        gn AS (SELECT $ns FROM vg),
        ag AS (SELECT $nSum AS n, jt2, $sn2 AS sn2, $sv AS sv
          FROM pv CROSS JOIN gn)
        SELECT CAST($k AS INT) AS k, CAST(n AS BIGINT) AS n,
          CAST(jt2 AS BIGINT) AS jt2,
          CASE WHEN CAST(CAST(n AS HUGEINT) * n * (n * 2 + 3) - sv
              AS DOUBLE) / 72 > 0 THEN
            round((CAST(jt2 AS DOUBLE) / 2
              - CAST(CAST(n AS HUGEINT) * n - sn2 AS DOUBLE) / 4)
              / sqrt(CAST(CAST(n AS HUGEINT) * n * (n * 2 + 3) - sv
                AS DOUBLE) / 72), 6)
          END AS z
        FROM ag"""
  })

  /** OP-MISC-30 — Katz centrality (4 attenuated-walk rounds, β = 1/8
    * exact DIV) on the undirected co-purchase graph: the
    * degree-unnormalized companion to q162's PageRank. */
  private val misc26 = Spec("q412_katz", {
    val iters = 4
    (s, d) => {
      val e = coPurchaseEdges(s, d, modFilter = true)
      val und = e.select(col("pa").as("src"), col("pb").as("dst"))
        .unionByName(e.select(col("pb").as("src"), col("pa").as("dst")))
      Graph.katzCentralityPpm(und, "src", "dst", iters = iters,
        attenDiv = 8)
    }
  }, Some {
    val iters = 4
    val rounds = (1 to iters).map { k =>
      s"""c$k AS (SELECT dst AS id, CAST(sum(katz // 8) AS BIGINT) AS s
          FROM e JOIN x${k - 1} ON x${k - 1}.id = e.src GROUP BY dst),
        x$k AS (SELECT n.id, 1000000 + coalesce(s, 0) AS katz
          FROM nodes n LEFT JOIN c$k USING (id))"""
    }.mkString(",\n        ")
    s"""WITH e0 AS (SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
          FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey
            AND a.l_partkey < b.l_partkey
          WHERE a.l_partkey % 3 = 0 AND b.l_partkey % 3 = 0),
        e AS (SELECT u AS src, v AS dst FROM e0
          UNION ALL SELECT v, u FROM e0),
        nodes AS (SELECT DISTINCT src AS id FROM e),
        x0 AS (SELECT id, CAST(1000000 AS BIGINT) AS katz FROM nodes),
        $rounds
        SELECT id, katz FROM x$iters"""
  })

  /** OP-AGG-43 — stratified ATE of the even-user "treatment" on cents
    * outcome across user-id strata (blocked causal estimator). */
  private val agg43 = Spec("q413_stratified_ate",
    (s, d) => Relational.stratifiedAte(
      T(s, d, "events").filter(col("value").isNotNull &&
        col("user_id").isNotNull)
        .select(((col("user_id") / 10).cast("long") % 10).as("stratum"),
          (col("user_id") % 2 === 0).as("treated"),
          round(col("value") * 100).cast("long").as("cents")),
      "stratum", "treated", "cents"),
    Some("""WITH r AS (SELECT (user_id // 10) % 10 AS stratum,
          user_id % 2 = 0 AS tr,
          CAST(round(value * 100) AS BIGINT) AS y FROM events
          WHERE value IS NOT NULL AND user_id IS NOT NULL),
        bs AS (SELECT stratum,
          CAST(sum(CASE WHEN tr THEN 1 ELSE 0 END) AS BIGINT) AS n_t,
          CAST(sum(CASE WHEN tr THEN 0 ELSE 1 END) AS BIGINT) AS n_c,
          CAST(sum(CASE WHEN tr THEN y ELSE 0 END) AS BIGINT) AS st,
          CAST(sum(CASE WHEN tr THEN 0 ELSE y END) AS BIGINT) AS sc
          FROM r GROUP BY 1),
        dm AS (SELECT stratum, n_t, n_c,
          CASE WHEN n_t > 0 AND n_c > 0 THEN
            CAST(round((CAST(st AS DOUBLE) / n_t
              - CAST(sc AS DOUBLE) / n_c) * 1000000) AS BIGINT)
          END AS diff_micro FROM bs),
        vv AS (SELECT stratum AS s2, n_t + n_c AS ns, diff_micro AS dm2
          FROM dm WHERE diff_micro IS NOT NULL),
        nn AS (SELECT CAST(coalesce(sum(ns), 0) AS BIGINT) AS n
          FROM vv),
        -- plain (GROUP-BY-free) aggregate so the all-single-arm
        -- degenerate case (vv empty) still yields ONE ate_micro = 0 row,
        -- matching Relational.stratifiedAte's grand-aggregate tot frame
        at AS (SELECT CAST(coalesce(sum(
            CAST(round(CAST(ns AS DOUBLE) * dm2 / (SELECT n FROM nn))
              AS BIGINT)), 0) AS BIGINT) AS ate_micro FROM vv)
        SELECT stratum, n_t, n_c, diff_micro, ate_micro
        FROM dm CROSS JOIN at"""))

  /** OP-WIN-31 — Goh–Barabási burstiness of per-user inter-arrival
    * gaps, read per event type. */
  private val win31 = Spec("q414_burstiness",
    (s, d) => Windows.interarrivalBurstiness(
      T(s, d, "events").filter(col("ts").isNotNull &&
        col("user_id").isNotNull),
      "event_type", "user_id", "ts", Seq("event_id")),
    Some("""WITH g AS (SELECT event_type AS grp,
          epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY
            event_type, user_id ORDER BY ts, event_id) AS gap
          FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL),
        a AS (SELECT grp, CAST(count(*) AS BIGINT) AS n_gaps,
          CAST(sum(gap) AS BIGINT) AS s,
          CAST(sum(CAST(gap AS HUGEINT) * gap) AS HUGEINT) AS q
          FROM g WHERE gap IS NOT NULL GROUP BY 1)
        SELECT grp AS "group", n_gaps, CAST(s // n_gaps AS BIGINT)
            AS mean_gap_us,
          CASE WHEN n_gaps * q - CAST(s AS HUGEINT) * s >= 0 AND s > 0
            THEN round((sqrt(CAST(n_gaps * q - CAST(s AS HUGEINT) * s
                AS DOUBLE)) - CAST(s AS DOUBLE))
              / (sqrt(CAST(n_gaps * q - CAST(s AS HUGEINT) * s
                AS DOUBLE)) + CAST(s AS DOUBLE)), 6)
          END AS b_index
        FROM a"""))

  /** OP-WIN-32 — PACF lags 1–3 of the hourly volume series per event
    * type (Durbin–Levinson on exact-stat ACFs). */
  private val win32 = Spec("q415_pacf",
    (s, d) => Windows.pacf3(
      T(s, d, "events").filter(col("ts").isNotNull &&
        col("event_type").isNotNull)
        .groupBy(col("event_type"),
          floor(unix_timestamp(col("ts")) / 3600).as("t"))
        .agg(count(lit(1)).as("x")),
      Seq("event_type"), Seq("t"), "x"),
    Some("""WITH s AS (SELECT event_type,
          CAST(floor(epoch(ts) / 3600) AS BIGINT) AS t,
          CAST(count(*) AS BIGINT) AS x FROM events
          WHERE ts IS NOT NULL AND event_type IS NOT NULL GROUP BY 1, 2),
        l AS (SELECT event_type, x,
          lag(x, 1) OVER (PARTITION BY event_type ORDER BY t) AS y1,
          lag(x, 2) OVER (PARTITION BY event_type ORDER BY t) AS y2,
          lag(x, 3) OVER (PARTITION BY event_type ORDER BY t) AS y3
          FROM s),
        a AS (SELECT event_type,
          CAST(sum(CASE WHEN y1 IS NOT NULL THEN 1 ELSE 0 END)
            AS BIGINT) AS n1,
          CAST(sum(CASE WHEN y1 IS NOT NULL THEN x ELSE 0 END)
            AS HUGEINT) AS sx1,
          CAST(sum(CASE WHEN y1 IS NOT NULL THEN y1 ELSE 0 END)
            AS HUGEINT) AS sy1,
          CAST(sum(CASE WHEN y1 IS NOT NULL THEN CAST(x AS HUGEINT) * y1
            ELSE 0 END) AS HUGEINT) AS sxy1,
          CAST(sum(CASE WHEN y1 IS NOT NULL THEN CAST(x AS HUGEINT) * x
            ELSE 0 END) AS HUGEINT) AS sxx1,
          CAST(sum(CASE WHEN y1 IS NOT NULL THEN CAST(y1 AS HUGEINT) * y1
            ELSE 0 END) AS HUGEINT) AS syy1,
          CAST(sum(CASE WHEN y2 IS NOT NULL THEN 1 ELSE 0 END)
            AS BIGINT) AS n2,
          CAST(sum(CASE WHEN y2 IS NOT NULL THEN x ELSE 0 END)
            AS HUGEINT) AS sx2,
          CAST(sum(CASE WHEN y2 IS NOT NULL THEN y2 ELSE 0 END)
            AS HUGEINT) AS sy2,
          CAST(sum(CASE WHEN y2 IS NOT NULL THEN CAST(x AS HUGEINT) * y2
            ELSE 0 END) AS HUGEINT) AS sxy2,
          CAST(sum(CASE WHEN y2 IS NOT NULL THEN CAST(x AS HUGEINT) * x
            ELSE 0 END) AS HUGEINT) AS sxx2,
          CAST(sum(CASE WHEN y2 IS NOT NULL THEN CAST(y2 AS HUGEINT) * y2
            ELSE 0 END) AS HUGEINT) AS syy2,
          CAST(sum(CASE WHEN y3 IS NOT NULL THEN 1 ELSE 0 END)
            AS BIGINT) AS n3,
          CAST(sum(CASE WHEN y3 IS NOT NULL THEN x ELSE 0 END)
            AS HUGEINT) AS sx3,
          CAST(sum(CASE WHEN y3 IS NOT NULL THEN y3 ELSE 0 END)
            AS HUGEINT) AS sy3,
          CAST(sum(CASE WHEN y3 IS NOT NULL THEN CAST(x AS HUGEINT) * y3
            ELSE 0 END) AS HUGEINT) AS sxy3,
          CAST(sum(CASE WHEN y3 IS NOT NULL THEN CAST(x AS HUGEINT) * x
            ELSE 0 END) AS HUGEINT) AS sxx3,
          CAST(sum(CASE WHEN y3 IS NOT NULL THEN CAST(y3 AS HUGEINT) * y3
            ELSE 0 END) AS HUGEINT) AS syy3
          FROM l GROUP BY 1),
        rr AS (SELECT event_type, n1 AS n_pairs1,
          CASE WHEN n1 * sxx1 - sx1 * sx1 > 0
              AND n1 * syy1 - sy1 * sy1 > 0 THEN
            round(CAST(n1 * sxy1 - sx1 * sy1 AS DOUBLE)
              / sqrt(CAST(n1 * sxx1 - sx1 * sx1 AS DOUBLE)
                * CAST(n1 * syy1 - sy1 * sy1 AS DOUBLE)), 6) END AS r1,
          CASE WHEN n2 * sxx2 - sx2 * sx2 > 0
              AND n2 * syy2 - sy2 * sy2 > 0 THEN
            round(CAST(n2 * sxy2 - sx2 * sy2 AS DOUBLE)
              / sqrt(CAST(n2 * sxx2 - sx2 * sx2 AS DOUBLE)
                * CAST(n2 * syy2 - sy2 * sy2 AS DOUBLE)), 6) END AS r2,
          CASE WHEN n3 * sxx3 - sx3 * sx3 > 0
              AND n3 * syy3 - sy3 * sy3 > 0 THEN
            round(CAST(n3 * sxy3 - sx3 * sy3 AS DOUBLE)
              / sqrt(CAST(n3 * sxx3 - sx3 * sx3 AS DOUBLE)
                * CAST(n3 * syy3 - sy3 * sy3 AS DOUBLE)), 6) END AS r3
          FROM a),
        p2 AS (SELECT *, CASE WHEN r1 IS NOT NULL AND r2 IS NOT NULL
            AND r1 * r1 <> 1 THEN
          round((r2 - r1 * r1) / (1 - r1 * r1), 6) END AS pacf2
          FROM rr),
        p3 AS (SELECT *, r1 * (1 - pacf2) AS p21 FROM p2)
        SELECT event_type, n_pairs1, r1, r2, r3, pacf2,
          CASE WHEN pacf2 IS NOT NULL AND r3 IS NOT NULL
              AND 1 - p21 * r1 - pacf2 * r2 <> 0 THEN
            round((r3 - p21 * r2 - pacf2 * r1)
              / (1 - p21 * r1 - pacf2 * r2), 6) END AS pacf3
        FROM p3"""))

  /** OP-AGG-44 — Chatterjee's ξ of cents value against arrival time:
    * is value a FUNCTION of time at all (non-monotone included). */
  private val agg44 = Spec("q417_xi_correlation",
    (s, d) => Relational.xiCorrelation(
      T(s, d, "events").filter(col("ts").isNotNull &&
        col("value").isNotNull)
        .select(col("ts"), col("event_id"),
          round(col("value") * 100).cast("long").as("cents")),
      "ts", "cents", Seq("event_id")),
    Some("""WITH r AS (SELECT ts, event_id,
          CAST(round(value * 100) AS BIGINT) AS y FROM events
          WHERE ts IS NOT NULL AND value IS NOT NULL),
        yg AS (SELECT y, CAST(count(*) AS BIGINT) AS c FROM r
          GROUP BY 1),
        cm AS (SELECT y, c, CAST(sum(c) OVER (ORDER BY y) AS BIGINT)
          AS le FROM yg),
        nn AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM yg),
        tt AS (SELECT CAST(sum(CAST(c AS HUGEINT) * (n - le + c)
            * (n - (n - le + c))) AS HUGEINT) AS t
          FROM cm CROSS JOIN nn),
        o AS (SELECT le, lag(le) OVER (ORDER BY ts, event_id) AS prev
          FROM r JOIN cm USING (y)),
        sa AS (SELECT CAST(coalesce(sum(abs(le - prev)), 0) AS BIGINT)
          AS s_abs FROM o WHERE prev IS NOT NULL)
        SELECT n, s_abs,
          CASE WHEN t > 0 THEN round(1 - CAST(CAST(n AS HUGEINT)
            * s_abs AS DOUBLE) / CAST(t * 2 AS DOUBLE), 6) END AS xi
        FROM sa CROSS JOIN nn CROSS JOIN tt"""))

  /** OP-AGG-45 — Mann–Kendall trend of hourly event volume
    * (calendar²-bounded pair sum, tie-corrected z). */
  private val agg45 = Spec("q418_mann_kendall",
    (s, d) => Relational.mannKendall(
      T(s, d, "events").filter(col("ts").isNotNull)
        .groupBy(floor(unix_timestamp(col("ts")) / 3600).as("t"))
        .agg(count(lit(1)).as("x")),
      "t", "x"),
    Some("""WITH s AS (SELECT CAST(floor(epoch(ts) / 3600) AS BIGINT)
          AS t, CAST(count(*) AS BIGINT) AS x FROM events
          WHERE ts IS NOT NULL GROUP BY 1),
        p AS (SELECT CAST(coalesce(sum(CASE WHEN b.x > a.x THEN 1
            WHEN b.x < a.x THEN -1 ELSE 0 END), 0) AS BIGINT) AS s_stat
          FROM s a JOIN s b ON a.t < b.t),
        vg AS (SELECT x, CAST(count(*) AS BIGINT) AS c FROM s
          GROUP BY 1),
        tv AS (SELECT CAST(sum(c) AS BIGINT) AS n,
          CAST(coalesce(sum(CAST(c AS HUGEINT) * (c - 1)
            * (c * 2 + 5)), 0) AS HUGEINT) AS tc FROM vg)
        SELECT n, s_stat,
          CASE WHEN CAST(CAST(n AS HUGEINT) * (n - 1) * (n * 2 + 5)
              - tc AS DOUBLE) / 18 > 0 AND s_stat <> 0 THEN
            round((CAST(s_stat AS DOUBLE) - CASE WHEN s_stat > 0
                THEN 1 ELSE -1 END)
              / sqrt(CAST(CAST(n AS HUGEINT) * (n - 1) * (n * 2 + 5)
                - tc AS DOUBLE) / 18), 6)
          WHEN CAST(CAST(n AS HUGEINT) * (n - 1) * (n * 2 + 5)
              - tc AS DOUBLE) / 18 > 0 THEN 0.0
          END AS z
        FROM p CROSS JOIN tv"""))

  /** OP-AGG-46 — decile lift/gains of per-user spend against the
    * "ever purchased" response (distributed-rank deciles). */
  private val agg46 = Spec("q419_lift_table",
    (s, d) => Relational.liftTable(
      T(s, d, "events").filter(col("value").isNotNull &&
        col("user_id").isNotNull)
        .groupBy(col("user_id"))
        .agg(sum(round(col("value") * 100).cast("long")).as("spend"),
          max((col("event_type") === "purchase").cast("long"))
            .as("resp")),
      "spend", "resp", Seq("user_id")),
    Some("""WITH u AS (SELECT user_id,
          CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
            AS spend,
          CAST(max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
            AS BIGINT) AS r
          FROM events WHERE value IS NOT NULL AND user_id IS NOT NULL
          GROUP BY 1),
        rk AS (SELECT r, CAST(row_number() OVER (ORDER BY spend DESC,
          user_id) AS BIGINT) AS rank, count(*) OVER () AS n,
          sum(r) OVER () AS rr FROM u),
        bd AS (SELECT CAST((10 * (rank - 1)) // n + 1 AS INT)
            AS decile,
          CAST(count(*) AS BIGINT) AS n,
          CAST(sum(r) AS BIGINT) AS n_resp,
          CAST(max(rk.n) AS BIGINT) AS nn,
          CAST(max(rr) AS BIGINT) AS rtot
          FROM rk GROUP BY 1),
        lf AS (SELECT decile, n, n_resp,
          CAST(n_resp * 1000000 // n AS BIGINT) AS rate_ppm,
          CASE WHEN rtot > 0 THEN
            CAST(CAST(n_resp AS HUGEINT) * nn * 1000000
              // (CAST(n AS HUGEINT) * rtot) AS BIGINT) END AS lift_ppm,
          rtot FROM bd),
        cg AS (SELECT a.decile, CAST(sum(b.n_resp) AS BIGINT) AS cum
          FROM lf a JOIN lf b ON b.decile <= a.decile GROUP BY 1)
        SELECT lf.decile, lf.n, lf.n_resp, lf.rate_ppm, lf.lift_ppm,
          CASE WHEN rtot > 0 THEN CAST(cum * 1000000 // rtot AS BIGINT)
          END AS cum_gain_ppm
        FROM lf JOIN cg ON cg.decile = lf.decile"""))

  /** OP-AGG-47 — one-sample KS uniformity of the q286 pseudo-p
    * column: the calibration check under the FDR gates. */
  private val agg47 = Spec("q420_ks_uniform",
    (s, d) => Relational.ksUniform(
      T(s, d, "events").filter(col("event_type") === "error" &&
        col("value").isNotNull)
        .withColumn("p", col("value") - floor(col("value"))),
      "p"),
    Some("""WITH t AS (SELECT CAST(value AS DOUBLE)
          - floor(CAST(value AS DOUBLE)) AS p FROM events
          WHERE event_type = 'error' AND value IS NOT NULL),
        r AS (SELECT p, CAST(row_number() OVER (ORDER BY p) AS BIGINT)
          AS rk, count(*) OVER () AS n FROM t),
        g AS (SELECT CAST(max(n) AS BIGINT) AS n,
          max(greatest(CAST(rk AS DOUBLE) / n - p,
            p - CAST(rk - 1 AS DOUBLE) / n)) AS d FROM r)
        SELECT n, round(d, 6) AS d_stat,
          round(sqrt(CAST(n AS DOUBLE)) * d, 6) AS sqrt_n_d
        FROM g"""))

  /** OP-AGG-48 — Gumbel fit on daily maxima of hourly volume, with
    * the 30-day return level (peak-provisioning readout). */
  private val agg48 = Spec("q421_extreme_value",
    (s, d) => Relational.gumbelBlockMaxima(
      T(s, d, "events").filter(col("ts").isNotNull)
        .groupBy(col("ts").cast("date").as("day"),
          floor(unix_timestamp(col("ts")) / 3600).as("hr"))
        .agg(count(lit(1)).as("x")),
      "day", "x", returnT = 30),
    Some {
    val rlc = math.log(-math.log(1 - 1d / 30)) // shared literal
    s"""WITH h AS (SELECT CAST(ts AS DATE) AS day,
          CAST(floor(epoch(ts) / 3600) AS BIGINT) AS hr,
          CAST(count(*) AS BIGINT) AS x FROM events
          WHERE ts IS NOT NULL GROUP BY 1, 2),
        m AS (SELECT day, CAST(max(x) AS BIGINT) AS mx FROM h
          GROUP BY 1),
        a AS (SELECT CAST(count(*) AS BIGINT) AS n_blocks,
          CAST(max(mx) AS BIGINT) AS max_of_max,
          CAST(sum(mx) AS BIGINT) AS s,
          CAST(sum(CAST(mx AS HUGEINT) * mx) AS HUGEINT) AS q FROM m)
        SELECT n_blocks, max_of_max,
          CASE WHEN n_blocks * q - CAST(s AS HUGEINT) * s > 0 THEN
            round(sqrt(CAST(n_blocks * q - CAST(s AS HUGEINT) * s
                AS DOUBLE)) / n_blocks
              * 2.449489742783178 / 3.141592653589793, 6) END AS beta,
          CASE WHEN n_blocks * q - CAST(s AS HUGEINT) * s > 0 THEN
            round(CAST(s AS DOUBLE) / n_blocks - 0.5772156649015329
              * round(sqrt(CAST(n_blocks * q - CAST(s AS HUGEINT) * s
                AS DOUBLE)) / n_blocks
                * 2.449489742783178 / 3.141592653589793, 6), 6)
          END AS mu,
          CASE WHEN n_blocks * q - CAST(s AS HUGEINT) * s > 0 THEN
            round(round(CAST(s AS DOUBLE) / n_blocks - 0.5772156649015329
              * round(sqrt(CAST(n_blocks * q - CAST(s AS HUGEINT) * s
                AS DOUBLE)) / n_blocks
                * 2.449489742783178 / 3.141592653589793, 6), 6)
              - round(sqrt(CAST(n_blocks * q - CAST(s AS HUGEINT) * s
                AS DOUBLE)) / n_blocks
                * 2.449489742783178 / 3.141592653589793, 6)
              * ($rlc), 6)
          END AS rl
        FROM a"""
    })

  /** OP-AGG-49 — SAX motif table of hourly volume (6-hour segments,
    * 4-segment words, 4-letter Gaussian alphabet). */
  private val agg49 = Spec("q422_sax_motifs",
    (s, d) => Relational.saxMotifs(
      T(s, d, "events").filter(col("ts").isNotNull)
        .groupBy(floor(unix_timestamp(col("ts")) / 3600).as("t"))
        .agg(count(lit(1)).as("x")),
      "t", "x", segLen = 6, wordLen = 4),
    Some("""WITH s AS (SELECT CAST(floor(epoch(ts) / 3600) AS BIGINT)
          AS t, CAST(count(*) AS BIGINT) AS x FROM events
          WHERE ts IS NOT NULL GROUP BY 1),
        g AS (SELECT min(t) AS t0, CAST(count(*) AS BIGINT) AS n,
          CAST(sum(x) AS BIGINT) AS sm,
          CAST(sum(CAST(x AS HUGEINT) * x) AS HUGEINT) AS q FROM s),
        sg AS (SELECT (t - t0) // 6 AS seg,
          CAST(count(*) AS BIGINT) AS c,
          CAST(sum(x) AS BIGINT) AS ss,
          max(n) AS n2, max(sm) AS s2, max(q) AS q2
          FROM s CROSS JOIN g GROUP BY 1 HAVING count(*) = 6),
        z AS (SELECT seg,
          (CAST(ss AS DOUBLE) / 6 - CAST(s2 AS DOUBLE) / n2)
            / sqrt(CAST(n2 * q2 - CAST(s2 AS HUGEINT) * s2 AS DOUBLE))
            * CAST(n2 AS DOUBLE) AS zv FROM sg),
        sy AS (SELECT seg, CASE WHEN zv < -0.6745 THEN 'a'
          WHEN zv < 0 THEN 'b' WHEN zv < 0.6745 THEN 'c'
          ELSE 'd' END AS sym FROM z),
        w AS (SELECT a.seg, a.sym || b.sym || c.sym || d.sym AS word
          FROM sy a JOIN sy b ON b.seg = a.seg + 1
          JOIN sy c ON c.seg = a.seg + 2
          JOIN sy d ON d.seg = a.seg + 3)
        SELECT word, CAST(count(*) AS BIGINT) AS n_occurrences
        FROM w GROUP BY 1"""))

  /** OP-AGG-50 — self-join matrix profile of hourly volume (window 4,
    * exclusion zone 2): motifs read low, discords read high. */
  private val agg50 = Spec("q423_matrix_profile",
    (s, d) => Relational.matrixProfile(
      T(s, d, "events").filter(col("ts").isNotNull)
        .groupBy(floor(unix_timestamp(col("ts")) / 3600).as("t"))
        .agg(count(lit(1)).as("x")),
      "t", "x", m = 4, exclusion = 2),
    Some("""WITH s AS (SELECT CAST(floor(epoch(ts) / 3600) AS BIGINT)
          AS t, CAST(count(*) AS BIGINT) AS x FROM events
          WHERE ts IS NOT NULL GROUP BY 1),
        w AS (SELECT a.t, [a.x, b.x, c.x, d.x] AS v
          FROM s a JOIN s b ON b.t = a.t + 1
          JOIN s c ON c.t = a.t + 2 JOIN s d ON d.t = a.t + 3),
        p AS (SELECT a.t AS ta, b.t AS tb,
          CAST(list_reduce([CAST(a.v[i+1] - b.v[i+1] AS HUGEINT)
              * (a.v[i+1] - b.v[i+1]) for i in range(4)],
            (x, y) -> x + y) AS HUGEINT) AS d2
          FROM w a JOIN w b ON abs(a.t - b.t) > 2),
        r AS (SELECT ta, tb, d2, row_number() OVER (PARTITION BY ta
          ORDER BY d2, tb) AS rk FROM p)
        SELECT ta AS t, tb AS nn_t, CAST(d2 AS BIGINT) AS dist2
        FROM r WHERE rk = 1"""))

  /** OP-AGG-51 — Gaussian KDE of document length at a literal probe
    * grid (bandwidth 25 chars): the shape readout between histogram
    * bins. */
  private val agg51 = Spec("q424_kde_grid", {
    val grid = (1 to 11).map(i => i * 50L)
    (s, d) => Relational.kdeGrid(
      T(s, d, "documents").select(col("n_chars")),
      "n_chars", grid, bandwidth = 25.0)
  }, Some("""WITH r AS (SELECT CAST(n_chars AS BIGINT) AS x,
          CAST(g AS BIGINT) AS grid_x FROM documents
          CROSS JOIN (SELECT unnest([50, 100, 150, 200, 250, 300, 350,
            400, 450, 500, 550]) AS g)
          WHERE n_chars IS NOT NULL),
        m AS (SELECT grid_x,
          CAST(round(exp(-((grid_x - x) / 25.0) * ((grid_x - x) / 25.0)
            / 2) * 1000000) AS BIGINT) AS term FROM r)
        SELECT grid_x, CAST(count(*) AS BIGINT) AS n,
          CAST(sum(term) AS BIGINT) AS kernel_sum_micro,
          round(CAST(sum(term) AS DOUBLE) / 1000000.0
            / (CAST(count(*) AS DOUBLE) * 25.0
              * 2.5066282746310002), 9) AS density
        FROM m GROUP BY 1"""))

  /** OP-AGG-52 — mutual information / NMI between document language
    * and length bucket (the label×slice dependence audit). */
  private val agg52 = Spec("q425_mutual_information",
    (s, d) => Relational.mutualInformation(
      T(s, d, "documents").filter(col("lang").isNotNull &&
        col("n_chars").isNotNull)
        .select(col("lang"), expr("n_chars DIV 100").as("len_bucket")),
      "lang", "len_bucket"),
    Some("""WITH r AS (SELECT lang AS x, n_chars // 100 AS y
          FROM documents WHERE lang IS NOT NULL AND n_chars IS NOT NULL),
        c AS (SELECT x, y, CAST(count(*) AS BIGINT) AS c
          FROM r GROUP BY 1, 2),
        nn AS (SELECT CAST(coalesce(sum(c), 0) AS BIGINT) AS n FROM c),
        mx AS (SELECT x, CAST(sum(c) AS BIGINT) AS cx FROM c GROUP BY 1),
        my AS (SELECT y, CAST(sum(c) AS BIGINT) AS cy FROM c GROUP BY 1),
        hx AS (SELECT coalesce(sum(CAST(cx AS HUGEINT)
            * CAST(round((ln(n) - ln(cx)) * 1000000) AS BIGINT)), 0)
            AS hsx FROM mx CROSS JOIN nn),
        hy AS (SELECT coalesce(sum(CAST(cy AS HUGEINT)
            * CAST(round((ln(n) - ln(cy)) * 1000000) AS BIGINT)), 0)
            AS hsy FROM my CROSS JOIN nn),
        mi AS (SELECT coalesce(sum(CAST(c.c AS HUGEINT)
            * CAST(round((ln(n) + ln(c.c) - ln(cx) - ln(cy)) * 1000000)
              AS BIGINT)), 0) AS ms
          FROM c JOIN mx USING (x) JOIN my USING (y) CROSS JOIN nn),
        o AS (SELECT n,
          CAST(CASE WHEN n > 0 THEN hsx // n ELSE 0 END AS BIGINT)
            AS h_x_micro,
          CAST(CASE WHEN n > 0 THEN hsy // n ELSE 0 END AS BIGINT)
            AS h_y_micro,
          CAST(CASE WHEN n > 0 THEN (CASE WHEN ms >= 0 THEN ms // n
            ELSE -((-ms) // n) END) ELSE 0 END AS BIGINT) AS mi_micro
          FROM nn CROSS JOIN hx CROSS JOIN hy CROSS JOIN mi)
        SELECT n, h_x_micro, h_y_micro, mi_micro,
          CASE WHEN h_x_micro > 0 AND h_y_micro > 0 THEN
            round(CAST(mi_micro AS DOUBLE)
              / sqrt(CAST(h_x_micro AS DOUBLE)
                * CAST(h_y_micro AS DOUBLE)), 6) END AS nmi
        FROM o"""))

  /** OP-AGG-53 — Cohen's d / Hedges' g of the even-user "treatment" on
    * cents outcome (the magnitude companion to the q413 ATE). */
  private val agg53 = Spec("q426_cohens_d",
    (s, d) => Relational.cohensD(
      T(s, d, "events").filter(col("user_id").isNotNull &&
        col("value").isNotNull)
        .select(when(col("user_id") % 2 === 0, lit("even"))
          .otherwise(lit("odd")).as("grp"),
          round(col("value") * 100).cast("long").as("cents")),
      "grp", "cents", "even", "odd"),
    Some("""WITH r AS (SELECT CASE WHEN user_id % 2 = 0 THEN 'even'
            ELSE 'odd' END AS g,
          CAST(round(value * 100) AS BIGINT) AS v FROM events
          WHERE user_id IS NOT NULL AND value IS NOT NULL),
        a AS (SELECT
          CAST(sum(CASE WHEN g = 'even' THEN 1 ELSE 0 END) AS BIGINT)
            AS n_a,
          CAST(sum(CASE WHEN g = 'odd' THEN 1 ELSE 0 END) AS BIGINT)
            AS n_b,
          CAST(sum(CASE WHEN g = 'even' THEN v ELSE 0 END) AS BIGINT)
            AS sa,
          CAST(sum(CASE WHEN g = 'odd' THEN v ELSE 0 END) AS BIGINT)
            AS sb,
          coalesce(sum(CASE WHEN g = 'even'
            THEN CAST(v AS HUGEINT) * v END), 0) AS qa,
          coalesce(sum(CASE WHEN g = 'odd'
            THEN CAST(v AS HUGEINT) * v END), 0) AS qb
          FROM r),
        b AS (SELECT *,
          CAST(n_a AS HUGEINT) * qa - CAST(sa AS HUGEINT) * sa AS vna,
          CAST(n_b AS HUGEINT) * qb - CAST(sb AS HUGEINT) * sb AS vnb
          FROM a),
        p AS (SELECT *, CASE WHEN n_a >= 2 AND n_b >= 2 THEN
            (CAST(vna AS DOUBLE) / n_a + CAST(vnb AS DOUBLE) / n_b)
              / CAST(n_a + n_b - 2 AS DOUBLE) END AS pool FROM b)
        SELECT n_a, n_b,
          CASE WHEN n_a > 0 THEN round(CAST(sa AS DOUBLE) / n_a, 6) END
            AS mean_a,
          CASE WHEN n_b > 0 THEN round(CAST(sb AS DOUBLE) / n_b, 6) END
            AS mean_b,
          CASE WHEN pool > 0 THEN round((CAST(sa AS DOUBLE) / n_a
            - CAST(sb AS DOUBLE) / n_b) / sqrt(pool), 6) END AS d,
          CASE WHEN pool > 0 THEN round((CAST(sa AS DOUBLE) / n_a
            - CAST(sb AS DOUBLE) / n_b) / sqrt(pool)
            * (1.0 - 3.0 / CAST((n_a + n_b) * 4 - 9 AS DOUBLE)), 6) END
            AS g
        FROM p"""))

  /** OP-AGG-54 — exact per-flag order-statistic quantiles of lineitem
    * quantity (p50/p90/p99 on the value grain, never a corpus sort). */
  private val agg54 = Spec("q427_quantile_report",
    (s, d) => Relational.quantileReport(
      T(s, d, "lineitem"), Seq("l_returnflag"), "l_quantity",
      Seq(50, 90, 99)),
    Some("""WITH v AS (SELECT l_returnflag,
          CAST(l_quantity AS BIGINT) AS x, CAST(count(*) AS BIGINT) AS c
          FROM lineitem WHERE l_returnflag IS NOT NULL
            AND l_quantity IS NOT NULL GROUP BY 1, 2),
        cum AS (SELECT l_returnflag, x, c,
          sum(c) OVER (PARTITION BY l_returnflag ORDER BY x) AS cum,
          sum(c) OVER (PARTITION BY l_returnflag) AS n FROM v),
        e AS (SELECT l_returnflag, x, cum, n, q
          FROM cum CROSS JOIN (SELECT unnest([50, 90, 99]) AS q)
          WHERE cum * 100 >= n * q)
        SELECT l_returnflag, q AS q_pct, CAST(max(n) AS BIGINT) AS n,
          CAST(min(x) AS BIGINT) AS x_q
        FROM e GROUP BY 1, 2"""))

  /** OP-AGG-55 — supplier revenue concentration: HHI + CR-10 in exact
    * ppm (the source-diversity audit). */
  private val agg55 = Spec("q428_concentration",
    (s, d) => Relational.concentrationReport(
      T(s, d, "lineitem").filter(col("l_suppkey").isNotNull &&
        col("l_extendedprice").isNotNull)
        .select(col("l_suppkey"),
          round(col("l_extendedprice") * 100).cast("long").as("cents")),
      "l_suppkey", "cents", topK = 10),
    Some("""WITH bk AS (SELECT l_suppkey AS k,
          CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
            AS BIGINT) AS w
          FROM lineitem WHERE l_suppkey IS NOT NULL
            AND l_extendedprice IS NOT NULL GROUP BY 1),
        tot AS (SELECT CAST(count(*) AS BIGINT) AS n_keys,
          CAST(coalesce(sum(w), 0) AS BIGINT) AS w_total,
          coalesce(sum(CAST(w AS HUGEINT) * w), 0) AS sq FROM bk),
        tp AS (SELECT CAST(coalesce(sum(w), 0) AS BIGINT) AS topw
          FROM (SELECT w FROM bk ORDER BY w DESC, k LIMIT 10))
        SELECT n_keys, w_total,
          CASE WHEN w_total > 0 THEN CAST((sq * 1000000)
            // (CAST(w_total AS HUGEINT) * w_total) AS BIGINT) END
            AS hhi_ppm,
          CASE WHEN w_total > 0 THEN CAST((CAST(topw AS HUGEINT)
            * 1000000) // w_total AS BIGINT) END AS cr_ppm
        FROM tot CROSS JOIN tp"""))

  /** OP-AGG-56 — Goodman–Kruskal gamma + Somers' D of lineitem
    * quantity against line number (cell-grain ordinal association). */
  private val agg56 = Spec("q430_somers_gamma",
    (s, d) => Relational.somersGamma(
      T(s, d, "lineitem").filter(col("l_quantity").isNotNull &&
        col("l_linenumber").isNotNull),
      "l_quantity", "l_linenumber"),
    Some("""WITH c AS (SELECT CAST(l_quantity AS BIGINT) AS x,
          CAST(l_linenumber AS BIGINT) AS y,
          CAST(count(*) AS BIGINT) AS c FROM lineitem
          WHERE l_quantity IS NOT NULL AND l_linenumber IS NOT NULL
          GROUP BY 1, 2),
        p AS (SELECT
          coalesce(sum(CASE WHEN a.y < b.y
            THEN CAST(a.c AS HUGEINT) * b.c END), 0) AS cp,
          coalesce(sum(CASE WHEN a.y > b.y
            THEN CAST(a.c AS HUGEINT) * b.c END), 0) AS dp,
          coalesce(sum(CASE WHEN a.y = b.y
            THEN CAST(a.c AS HUGEINT) * b.c END), 0) AS ty
          FROM c a JOIN c b ON a.x < b.x),
        nn AS (SELECT CAST(coalesce(sum(c), 0) AS BIGINT) AS n FROM c)
        SELECT n, CAST(cp AS BIGINT) AS c_pairs,
          CAST(dp AS BIGINT) AS d_pairs, CAST(ty AS BIGINT) AS ty_pairs,
          CASE WHEN cp + dp > 0 THEN round(CAST(cp - dp AS DOUBLE)
            / CAST(cp + dp AS DOUBLE), 6) END AS gamma,
          CASE WHEN cp + dp + ty > 0 THEN round(CAST(cp - dp AS DOUBLE)
            / CAST(cp + dp + ty AS DOUBLE), 6) END AS somers_d
        FROM nn CROSS JOIN p"""))

  /** OP-AGG-57 — Cronbach's alpha of per-user activity scores across
    * event types (the panel-consistency readout; complete cases). */
  private val agg57 = Spec("q431_cronbach_alpha",
    (s, d) => Relational.cronbachAlpha(
      T(s, d, "events").filter(col("user_id").isNotNull &&
        col("event_type").isNotNull)
        .groupBy(col("user_id"), col("event_type"))
        .agg(count(lit(1)).as("score")),
      "user_id", "event_type", "score"),
    Some("""WITH cell AS (SELECT user_id AS id, event_type AS itm,
          CAST(count(*) AS BIGINT) AS v FROM events
          WHERE user_id IS NOT NULL AND event_type IS NOT NULL
          GROUP BY 1, 2),
        kk AS (SELECT CAST(count(DISTINCT itm) AS BIGINT) AS k
          FROM cell),
        ps AS (SELECT id, CAST(count(*) AS BIGINT) AS m,
          CAST(sum(v) AS BIGINT) AS t FROM cell GROUP BY 1),
        kept AS (SELECT id, t FROM ps CROSS JOIN kk WHERE m = k),
        nr AS (SELECT CAST(count(*) AS BIGINT) AS n_subjects,
          CAST(coalesce(sum(t), 0) AS BIGINT) AS st,
          coalesce(sum(CAST(t AS HUGEINT) * t), 0) AS qt FROM kept),
        iv AS (SELECT coalesce(sum(CAST(n_subjects AS HUGEINT)
            * (SELECT sum(CAST(v AS HUGEINT) * v) FROM cell c2
               WHERE c2.itm = i.itm AND c2.id IN (SELECT id FROM kept))
            - CAST(si AS HUGEINT) * si), 0) AS vi
          FROM (SELECT itm, CAST(sum(v) AS BIGINT) AS si FROM cell
            JOIN kept USING (id) GROUP BY 1) i CROSS JOIN nr)
        SELECT n_subjects, k,
          CASE WHEN CAST(n_subjects AS HUGEINT) * qt
              - CAST(st AS HUGEINT) * st > 0 AND k >= 2 THEN
            round(CAST(k AS DOUBLE) / CAST(k - 1 AS DOUBLE)
              * (1.0 - CAST(vi AS DOUBLE)
                / CAST(CAST(n_subjects AS HUGEINT) * qt
                  - CAST(st AS HUGEINT) * st AS DOUBLE)), 6) END
            AS alpha
        FROM nr CROSS JOIN iv CROSS JOIN kk"""))

  /** OP-AGG-58 — one-way ICC(1,1) of cents ratings over users with
    * exactly 3 rated events (between- vs within-subject variance). */
  private val agg58 = Spec("q432_icc",
    (s, d) => Relational.iccOneWay(
      T(s, d, "events").filter(col("user_id").isNotNull &&
        col("value").isNotNull)
        .select(col("user_id"),
          round(col("value") * 100).cast("long").as("cents")),
      "user_id", "cents", k = 3),
    Some("""WITH r AS (SELECT user_id AS g,
          CAST(round(value * 100) AS BIGINT) AS v FROM events
          WHERE user_id IS NOT NULL AND value IS NOT NULL),
        per AS (SELECT g, CAST(count(*) AS BIGINT) AS m,
          CAST(sum(v) AS BIGINT) AS s,
          coalesce(sum(CAST(v AS HUGEINT) * v), 0) AS q
          FROM r GROUP BY 1),
        kept AS (SELECT * FROM per WHERE m = 3),
        a AS (SELECT CAST(count(*) AS BIGINT) AS n_groups,
          CAST(coalesce(sum(s), 0) AS BIGINT) AS t,
          coalesce(sum(CAST(s AS HUGEINT) * s), 0) AS aa,
          coalesce(sum(q), 0) AS qq FROM kept),
        b AS (SELECT *, n_groups * 3 AS nn,
          CAST(n_groups * 3 AS HUGEINT) * aa
            - 3 * CAST(t AS HUGEINT) * t AS ssbkn,
          3 * qq - aa AS sswk FROM a),
        msf AS (SELECT *,
          CASE WHEN n_groups >= 2 THEN round(CAST(ssbkn AS DOUBLE)
            / CAST(nn * 3 AS DOUBLE) / CAST(n_groups - 1 AS DOUBLE), 6)
            END AS msb,
          CASE WHEN nn > n_groups THEN round(CAST(sswk AS DOUBLE) / 3
            / CAST(nn - n_groups AS DOUBLE), 6) END AS msw FROM b)
        SELECT n_groups, 3 AS k, msb, msw,
          CASE WHEN msb IS NOT NULL AND msw IS NOT NULL
              AND msb + msw * 2 > 0 THEN
            round((msb - msw) / (msb + msw * 2), 6) END AS icc
        FROM msf"""))

  /** OP-AGG-59 — two-sample Cramér–von Mises of cents value between
    * even- and odd-user populations (whole-distribution gap). */
  private val agg59 = Spec("q433_cramer_von_mises",
    (s, d) => Relational.cramerVonMises(
      T(s, d, "events").filter(col("user_id").isNotNull &&
        col("value").isNotNull)
        .select(when(col("user_id") % 2 === 0, lit("even"))
          .otherwise(lit("odd")).as("grp"),
          round(col("value") * 100).cast("long").as("cents")),
      "grp", "cents", "even", "odd"),
    Some("""WITH r AS (SELECT CASE WHEN user_id % 2 = 0 THEN 'even'
            ELSE 'odd' END AS g,
          CAST(round(value * 100) AS BIGINT) AS v FROM events
          WHERE user_id IS NOT NULL AND value IS NOT NULL),
        vals AS (SELECT v,
          CAST(sum(CASE WHEN g = 'even' THEN 1 ELSE 0 END) AS BIGINT)
            AS ca,
          CAST(sum(CASE WHEN g = 'odd' THEN 1 ELSE 0 END) AS BIGINT)
            AS cb
          FROM r GROUP BY 1),
        tot AS (SELECT CAST(coalesce(sum(ca), 0) AS BIGINT) AS n_a,
          CAST(coalesce(sum(cb), 0) AS BIGINT) AS n_b FROM vals),
        cums AS (SELECT v, ca, cb,
          sum(ca) OVER (ORDER BY v) AS cuma,
          sum(cb) OVER (ORDER BY v) AS cumb FROM vals),
        num AS (SELECT coalesce(sum(CAST(ca + cb AS HUGEINT)
            * (CAST(cuma AS HUGEINT) * n_b - CAST(cumb AS HUGEINT)
              * n_a)
            * (CAST(cuma AS HUGEINT) * n_b - CAST(cumb AS HUGEINT)
              * n_a)), 0) AS tnum
          FROM cums CROSS JOIN tot)
        SELECT n_a, n_b,
          CASE WHEN n_a > 0 AND n_b > 0 THEN
            round(CAST(tnum AS DOUBLE)
              / (CAST(n_a + n_b AS DOUBLE) * CAST(n_a + n_b AS DOUBLE)
                * CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)), 6) END
            AS t_stat
        FROM tot CROSS JOIN num"""))

  /** OP-WIN-33 — offline CUSUM mean-shift change point of the cents
    * stream in (ts, event_id) order (corpus-grain, via one two-column
    * prefix scan + a TakeOrdered argmax). */
  private val win33 = Spec("q435_cusum_changepoint",
    (s, d) => Relational.cusumMeanShift(
      T(s, d, "events").filter(col("ts").isNotNull &&
        col("value").isNotNull && col("event_id").isNotNull)
        .select(col("ts"), col("event_id"),
          round(col("value") * 100).cast("long").as("cents")),
      "ts", "cents", Seq("event_id")),
    Some("""WITH r AS (SELECT ts, event_id,
          CAST(round(value * 100) AS BIGINT) AS v FROM events
          WHERE ts IS NOT NULL AND value IS NOT NULL
            AND event_id IS NOT NULL),
        tt AS (SELECT CAST(count(*) AS BIGINT) AS n,
          CAST(coalesce(sum(v), 0) AS BIGINT) AS s FROM r),
        c AS (SELECT ts, event_id,
          CAST(sum(v) OVER (ORDER BY ts, event_id) AS BIGINT) AS cum,
          CAST(row_number() OVER (ORDER BY ts, event_id) AS BIGINT)
            AS i FROM r),
        dd AS (SELECT ts, i, cum, n, s,
          abs(CAST(n AS HUGEINT) * cum - CAST(s AS HUGEINT) * i)
            AS dabs FROM c CROSS JOIN tt)
        SELECT n, s AS s_total, ts AS t_star, i AS i_star,
          cum AS cum_star,
          round(CAST(dabs AS DOUBLE)
            / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)), 6) AS d_stat
        FROM dd ORDER BY dabs DESC, i LIMIT 1"""))

  /** OP-AGG-60 — Qini uplift curve of the even-user "treatment" on
    * the value>=50 response, ranked by a deterministic score. */
  private val agg60 = Spec("q438_qini",
    (s, d) => Relational.qiniCurve(
      T(s, d, "events").filter(col("value").isNotNull &&
        col("user_id").isNotNull && col("event_id").isNotNull)
        .select((col("event_id") % 97).as("score"),
          (col("user_id") % 2 === 0).as("treated"),
          (col("value") >= 50.0).as("resp"), col("event_id")),
      "score", "treated", "resp", Seq("event_id")),
    Some("""WITH r AS (SELECT event_id % 97 AS sc,
          user_id % 2 = 0 AS tr, value >= 50.0 AS resp,
          event_id AS eid FROM events
          WHERE value IS NOT NULL AND user_id IS NOT NULL
            AND event_id IS NOT NULL),
        rk AS (SELECT *, row_number() OVER (ORDER BY sc DESC, eid)
          AS gr, count(*) OVER () AS nt FROM r),
        byd AS (SELECT CAST((10 * (gr - 1)) // nt + 1 AS INT)
            AS decile,
          CAST(sum(CASE WHEN tr THEN 1 ELSE 0 END) AS BIGINT) AS n_t,
          CAST(sum(CASE WHEN tr THEN 0 ELSE 1 END) AS BIGINT) AS n_c,
          CAST(sum(CASE WHEN tr AND resp THEN 1 ELSE 0 END)
            AS BIGINT) AS resp_t,
          CAST(sum(CASE WHEN NOT tr AND resp THEN 1 ELSE 0 END)
            AS BIGINT) AS resp_c
          FROM rk GROUP BY 1),
        cum AS (SELECT a.decile, CAST(sum(b.n_t) AS BIGINT) AS cnt,
          CAST(sum(b.n_c) AS BIGINT) AS cnc,
          CAST(sum(b.resp_t) AS BIGINT) AS crt,
          CAST(sum(b.resp_c) AS BIGINT) AS crc
          FROM byd a JOIN byd b ON b.decile <= a.decile GROUP BY 1)
        SELECT byd.decile, n_t, n_c, resp_t, resp_c,
          CASE WHEN cnc > 0 THEN CAST(CASE WHEN
              CAST(crt AS HUGEINT) * cnc >= CAST(crc AS HUGEINT) * cnt
            THEN (1000000 * (CAST(crt AS HUGEINT) * cnc
              - CAST(crc AS HUGEINT) * cnt)) // CAST(cnc AS HUGEINT)
            ELSE -((1000000 * (CAST(crc AS HUGEINT) * cnt
              - CAST(crt AS HUGEINT) * cnc)) // CAST(cnc AS HUGEINT))
            END AS BIGINT) END AS qini_micro
        FROM byd JOIN cum USING (decile)"""))

  /** OP-WIN-34 — first/last/linear multi-touch attribution of
    * pre-purchase channel touches per user journey. */
  private val win34 = Spec("q439_attribution",
    (s, d) => graft.engine.Windows.linearAttribution(
      T(s, d, "events").filter(col("ts").isNotNull &&
        col("event_id").isNotNull),
      "user_id", "ts", "event_type", "purchase", Seq("event_id")),
    Some("""WITH r AS (SELECT user_id AS u, event_type AS ty, ts,
          event_id AS eid FROM events
          WHERE user_id IS NOT NULL AND ts IS NOT NULL
            AND event_type IS NOT NULL AND event_id IS NOT NULL),
        cv AS (SELECT u, ts AS cts, eid AS ceid FROM (SELECT u, ts,
          eid, row_number() OVER (PARTITION BY u ORDER BY ts, eid)
            AS rn FROM r WHERE ty = 'purchase') WHERE rn = 1),
        tch AS (SELECT r.u, r.ty, r.ts, r.eid FROM r JOIN cv USING (u)
          WHERE r.ty != 'purchase' AND (r.ts < cts
            OR (r.ts = cts AND r.eid < ceid))),
        ft AS (SELECT u, ty AS fty FROM (SELECT u, ty, row_number()
          OVER (PARTITION BY u ORDER BY ts, eid) AS rn FROM tch)
          WHERE rn = 1),
        lt AS (SELECT u, ty AS lty FROM (SELECT u, ty, row_number()
          OVER (PARTITION BY u ORDER BY ts DESC, eid DESC) AS rn
          FROM tch) WHERE rn = 1),
        pu AS (SELECT u, CAST(count(*) AS BIGINT) AS n FROM tch
          GROUP BY 1),
        uc AS (SELECT u, ty, CAST(count(*) AS BIGINT) AS c FROM tch
          GROUP BY 1, 2),
        cr AS (SELECT uc.u, uc.ty, uc.c,
          uc.c * (1000000 // pu.n) + CASE WHEN uc.ty = ft.fty
            THEN 1000000 - pu.n * (1000000 // pu.n) ELSE 0 END AS cr
          FROM uc JOIN pu USING (u) JOIN ft USING (u)),
        rolled AS (SELECT ty AS channel,
          CAST(sum(c) AS BIGINT) AS n_touches,
          CAST(sum(cr) AS BIGINT) AS credit_micro FROM cr GROUP BY 1),
        fc AS (SELECT fty AS channel, CAST(count(*) AS BIGINT)
          AS n_first FROM ft GROUP BY 1),
        lc AS (SELECT lty AS channel, CAST(count(*) AS BIGINT)
          AS n_last FROM lt GROUP BY 1)
        SELECT rolled.channel, n_touches,
          coalesce(n_first, 0) AS n_first,
          coalesce(n_last, 0) AS n_last, credit_micro
        FROM rolled LEFT JOIN fc USING (channel)
        LEFT JOIN lc USING (channel)"""))

  /** OP-AGG-61 — Murphy decomposition of the q398 length-predictor
    * Brier score (reliability / resolution / uncertainty). */
  private val agg61 = Spec("q440_brier_decomposition",
    (s, d) => Relational.brierDecomposition(
      T(s, d, "documents").filter(col("lang").isNotNull &&
        col("n_chars").isNotNull)
        .select(least(col("n_chars"), lit(2000L)).cast("long")
          .multiply(500L).as("p_ppm"),
          (col("lang") === "en").as("y")),
      "p_ppm", "y", bins = 10),
    Some("""WITH r AS (SELECT least(n_chars, 2000) * 500 AS p,
          lang = 'en' AS y FROM documents
          WHERE lang IS NOT NULL AND n_chars IS NOT NULL),
        b AS (SELECT least(p * 10 // 1000000, 9) AS bin,
          CAST(count(*) AS BIGINT) AS n, CAST(sum(p) AS BIGINT) AS sp,
          CAST(sum(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT) AS sy
          FROM r GROUP BY 1),
        bb AS (SELECT *, sy * 1000000 // n AS acc,
          (CAST(sp - 1000000 * sy AS HUGEINT)
            * (sp - 1000000 * sy)) // n AS rel FROM b),
        g AS (SELECT CAST(sum(n) AS BIGINT) AS n,
          CAST(sum(sy) AS BIGINT) AS n_pos,
          coalesce(sum(rel), 0) AS rels FROM bb),
        ob AS (SELECT n_pos * 1000000 // n AS obar FROM g),
        res AS (SELECT coalesce(sum(CAST(bb.n AS HUGEINT)
            * (acc - obar) * (acc - obar)), 0) AS ress
          FROM bb CROSS JOIN ob)
        SELECT n, n_pos,
          CASE WHEN n > 0 THEN CAST(rels
            // (CAST(n AS HUGEINT) * 1000000) AS BIGINT) END
            AS rel_micro,
          CASE WHEN n > 0 THEN CAST(ress
            // (CAST(n AS HUGEINT) * 1000000) AS BIGINT) END
            AS res_micro,
          CASE WHEN n > 0 THEN CAST((1000000
            * CAST(n_pos AS HUGEINT) * (n - n_pos))
            // (CAST(n AS HUGEINT) * n) AS BIGINT) END AS unc_micro
        FROM g CROSS JOIN res"""))

  /** OP-WIN-35 — temporal-precedence matrix: per ordered event-type
    * pair, share of users seeing a strictly before b. */
  private val win35 = Spec("q441_sequence_pairs",
    (s, d) => graft.engine.Windows.sequencePairSupport(
      T(s, d, "events").filter(col("event_id").isNotNull),
      "user_id", "ts", "event_type", Seq("event_id")),
    Some("""WITH r AS (SELECT user_id AS u, event_type AS ty, ts,
          event_id AS eid FROM events
          WHERE user_id IS NOT NULL AND ts IS NOT NULL
            AND event_type IS NOT NULL AND event_id IS NOT NULL),
        kt AS (SELECT u, ty,
          min(ROW(ts, eid)) AS kmin, max(ROW(ts, eid)) AS kmax
          FROM r GROUP BY 1, 2),
        p AS (SELECT a.ty AS type_a, b.ty AS type_b,
          CASE WHEN a.kmin < b.kmax THEN 1 ELSE 0 END AS prec
          FROM kt a JOIN kt b ON a.u = b.u AND a.ty != b.ty)
        SELECT type_a, type_b, CAST(count(*) AS BIGINT) AS n_keys,
          CAST(sum(prec) AS BIGINT) * 1000000
            // CAST(count(*) AS BIGINT) AS support_ppm
        FROM p GROUP BY 1, 2"""))

  /** OP-WIN-36 — composed: conversion-lag quantiles by first-touch
    * channel (linearAttribution's journey carving feeding
    * quantileReport — operator reuse, no new dataflow). */
  private val win36 = Spec("q442_conversion_lag",
    (s, d) => {
      val r = T(s, d, "events").filter(col("ts").isNotNull &&
          col("user_id").isNotNull && col("event_type").isNotNull &&
          col("event_id").isNotNull)
        .select(col("user_id").as("u"), col("event_type").as("ty"),
          col("ts"), col("event_id").as("eid"))
      val k = struct(col("ts"), col("eid"))
      val conv = r.filter(col("ty") === "purchase")
        .groupBy(col("u")).agg(min(k).as("ck"))
      val touches = r.filter(col("ty") =!= "purchase")
        .join(conv, Seq("u")).filter(k < col("ck"))
      val firsts = touches.groupBy(col("u"))
        .agg(min(struct(k.as("tk"), col("ty").as("fty"))).as("f"),
          min(col("ck")).as("ck2"))
        .select(col("f").getField("fty").as("channel"),
          (expr("unix_micros(CAST(ck2.ts AS TIMESTAMP))") -
            expr("unix_micros(CAST(f.tk.ts AS TIMESTAMP))"))
            .as("lag_us"))
      Relational.quantileReport(firsts, Seq("channel"), "lag_us",
        Seq(50, 90))
    },
    Some("""WITH r AS (SELECT user_id AS u, event_type AS ty, ts,
          event_id AS eid FROM events
          WHERE user_id IS NOT NULL AND ts IS NOT NULL
            AND event_type IS NOT NULL AND event_id IS NOT NULL),
        cv AS (SELECT u, ts AS cts, eid AS ceid FROM (SELECT u, ts,
          eid, row_number() OVER (PARTITION BY u ORDER BY ts, eid)
            AS rn FROM r WHERE ty = 'purchase') WHERE rn = 1),
        tch AS (SELECT r.u, r.ty, r.ts, r.eid FROM r JOIN cv USING (u)
          WHERE r.ty != 'purchase' AND (r.ts < cts
            OR (r.ts = cts AND r.eid < ceid))),
        ft AS (SELECT t.u, t.ty AS channel,
          epoch_us(cv.cts) - epoch_us(t.ts) AS lag_us
          FROM (SELECT u, ty, ts, row_number() OVER
            (PARTITION BY u ORDER BY ts, eid) AS rn FROM tch) t
          JOIN cv ON cv.u = t.u WHERE t.rn = 1),
        v AS (SELECT channel, lag_us AS x, CAST(count(*) AS BIGINT)
          AS c FROM ft GROUP BY 1, 2),
        cum AS (SELECT channel, x, c,
          sum(c) OVER (PARTITION BY channel ORDER BY x) AS cum,
          sum(c) OVER (PARTITION BY channel) AS n FROM v),
        e AS (SELECT channel, x, cum, n, q
          FROM cum CROSS JOIN (SELECT unnest([50, 90]) AS q)
          WHERE cum * 100 >= n * q)
        SELECT channel, q AS q_pct, CAST(max(n) AS BIGINT) AS n,
          CAST(min(x) AS BIGINT) AS x_q
        FROM e GROUP BY 1, 2"""))

  /** OP-AGG-62 — hash-deterministic paired sign-flip permutation test
    * of the per-user even-vs-odd-event cents difference. */
  private val agg62 = Spec("q443_sign_flip_test",
    (s, d) => Relational.signFlipTest(
      T(s, d, "events").filter(col("value").isNotNull &&
        col("user_id").isNotNull && col("event_id").isNotNull)
        .groupBy(col("user_id"))
        .agg(sum(when(col("event_id") % 2 === 0,
          round(col("value") * 100).cast("long"))
          .otherwise(-round(col("value") * 100).cast("long")))
          .as("d")),
      "user_id", "d", b = 200),
    Some("""WITH r AS (SELECT user_id AS id,
          CAST(sum(CASE WHEN event_id % 2 = 0
            THEN CAST(round(value * 100) AS BIGINT)
            ELSE -CAST(round(value * 100) AS BIGINT) END) AS BIGINT)
            AS d
          FROM events WHERE user_id IS NOT NULL AND value IS NOT NULL
            AND event_id IS NOT NULL GROUP BY 1),
        obs AS (SELECT CAST(count(*) AS BIGINT) AS n,
          CAST(coalesce(sum(d), 0) AS BIGINT) AS d_sum FROM r),
        reps AS (SELECT b, CAST(sum(CASE WHEN (((id % 1000000007)
            * 1103515245 + b * 12345) % 1000000007) % 2 = 0
            THEN d ELSE -d END) AS BIGINT) AS t
          FROM r CROSS JOIN (SELECT unnest(range(1, 201)) AS b)
          GROUP BY 1),
        ex AS (SELECT CAST(coalesce(sum(CASE WHEN abs(t) >= abs(d_sum)
            THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_extreme
          FROM reps CROSS JOIN obs)
        SELECT n, d_sum, n_extreme,
          (1 + n_extreme) * 1000000 // 201 AS p_ppm
        FROM obs CROSS JOIN ex"""))

  /** Session-memoized sampled-landmark BFS distance frame over the
    * co-purchase graph (seeds = nodes ≡ 0 mod 300, horizon 4): the
    * shared input of the whole sampled-centrality family — closeness
    * (q381), harmonic (q382), and the neighborhood function (q384)
    * are all pure aggregates of this ONE frame, so the iterative BFS
    * cost is paid once per (session, input) like the edge memos. */
  private[graft] def landmarkBfs(s: SparkSession, d: String): DataFrame =
    Pins.memo(s, d, "landmarkBfs") {
      val edges = coPurchaseEdges(s, d, modFilter = true)
      val seeds = edges.select(col("pa").as("n"))
        .unionByName(edges.select(col("pb").as("n")))
        .distinct().filter(col("n") % 300 === 0)
      Graph.multiSourceBfs(edges, "pa", "pb", seeds, "n", maxHops = 4)
    }

  /** Shared DuckDB fragment: co-purchase undirected edges + landmark
    * BFS (recursive CTE) → `m(seed, id, hop)`, `nodes(n)`. */
  private val msBfsSql =
    """e0 AS (SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
          FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey
            AND a.l_partkey < b.l_partkey
          WHERE a.l_partkey % 3 = 0 AND b.l_partkey % 3 = 0),
        ue AS (SELECT u, v FROM e0 UNION ALL SELECT v, u FROM e0),
        nodes AS (SELECT DISTINCT u AS n FROM ue),
        seeds AS (SELECT n AS s FROM nodes WHERE n % 300 = 0),
        r AS (SELECT s AS seed, s AS id, 0 AS d FROM seeds
          UNION
          SELECT r.seed, ue.v AS id, r.d + 1 AS d FROM r
          JOIN ue ON ue.u = r.id WHERE r.d < 4),
        m AS (SELECT seed, id, CAST(min(d) AS INT) AS hop FROM r
          GROUP BY 1, 2)"""

  /** OP-MISC-26 — bounded-horizon closeness centrality of the landmark
    * seeds (Wasserman–Faust normalization, exact integer micro). */
  private val misc22 = Spec("q381_closeness",
    (s, d) => {
      val edges = coPurchaseEdges(s, d, modFilter = true)
      val nNodes = edges.select(col("pa").as("n"))
        .unionByName(edges.select(col("pb").as("n"))).distinct().count()
      Graph.closenessFromBfs(landmarkBfs(s, d), nNodes)
    },
    Some(s"""WITH RECURSIVE $msBfsSql,
        nn AS (SELECT CAST(count(*) AS BIGINT) AS nn FROM nodes),
        agg AS (SELECT seed, CAST(count(*) AS BIGINT) AS n_reached,
          CAST(sum(hop) AS BIGINT) AS sum_hops FROM m GROUP BY 1)
        SELECT seed, n_reached, sum_hops,
          CASE WHEN sum_hops > 0 THEN
            CAST(CAST(n_reached - 1 AS HUGEINT) * (n_reached - 1)
              * 1000000 // ((nn - 1) * sum_hops) AS BIGINT)
          ELSE 0 END AS closeness_micro
        FROM agg CROSS JOIN nn"""))

  /** OP-MISC-27 — harmonic centrality of the same seeds (per-term
    * floor 10⁶ DIV d — disconnected-safe, engine-exact). */
  private val misc23 = Spec("q382_harmonic",
    (s, d) => Graph.harmonicFromBfs(landmarkBfs(s, d)),
    Some(s"""WITH RECURSIVE $msBfsSql
        SELECT seed, CAST(count(*) AS BIGINT) AS n_reached,
          CAST(sum(CASE WHEN hop > 0 THEN 1000000 // hop ELSE 0 END)
            AS BIGINT) AS harmonic_micro
        FROM m GROUP BY 1"""))

  /** OP-MISC-28 — Adamic–Adar link prediction on the co-purchase
    * graph (per-term-rounded 10⁶/ln deg, non-adjacent pairs only). */
  private val misc24 = Spec("q383_adamic_adar",
    (s, d) => Graph.adamicAdar(coPurchaseEdges(s, d, modFilter = true),
      "pa", "pb", minCommon = 2),
    Some("""WITH e AS (SELECT DISTINCT a.l_partkey AS u,
            b.l_partkey AS v
          FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey
            AND a.l_partkey < b.l_partkey
          WHERE a.l_partkey % 3 = 0 AND b.l_partkey % 3 = 0),
        nb AS (SELECT u AS n, v AS m FROM e UNION ALL SELECT v, u FROM e),
        deg AS (SELECT n, CAST(count(*) AS BIGINT) AS deg
          FROM nb GROUP BY 1),
        pr AS (SELECT x.n AS a, y.n AS b,
            CAST(count(*) AS BIGINT) AS common,
            CAST(sum(CAST(round(1000000
              / ln(CAST(dz.deg AS DOUBLE))) AS BIGINT)) AS BIGINT)
              AS aa_micro
          FROM nb x JOIN nb y ON y.m = x.m AND x.n < y.n
          JOIN deg dz ON dz.n = x.m
          GROUP BY 1, 2 HAVING count(*) >= 2)
        SELECT a, b, common, aa_micro FROM pr
        WHERE NOT EXISTS (SELECT 1 FROM e
          WHERE e.u = pr.a AND e.v = pr.b)"""))

  /** OP-MISC-29 — sampled neighborhood function: hop histogram +
    * cumulative ppm of the landmark BFS frame (the ANF readout whose
    * 90% crossing is the effective diameter). */
  private val misc25 = Spec("q384_hop_histogram",
    (s, d) => Graph.hopHistogram(landmarkBfs(s, d)),
    Some(s"""WITH RECURSIVE $msBfsSql,
        h AS (SELECT hop, CAST(count(*) AS BIGINT) AS n_pairs FROM m
          GROUP BY 1),
        tot AS (SELECT CAST(sum(n_pairs) AS BIGINT) AS tot FROM h),
        c AS (SELECT a.hop, a.n_pairs,
          CAST(sum(b.n_pairs) AS BIGINT) AS cum_pairs
          FROM h a JOIN h b ON b.hop <= a.hop GROUP BY 1, 2)
        SELECT hop, n_pairs, cum_pairs,
          CAST(cum_pairs * 1000000 // tot AS BIGINT) AS cum_ppm
        FROM c CROSS JOIN tot"""))

  val specs: Vector[Spec] = Vector(
    src1, src2, src4, snk1, snk2, snk3,
    prj1, prj23, flt1, flt2, flt3, flt4, flt5, flt5b, flt6, flt6b, flt7,
    join1, join2, join3, join4, join5,
    agg1, agg2, agg3, agg4, agg5, agg6, agg7, agg8, agg9, agg10, agg11,
    agg12,
    win1, win2, win3, win4, win5, win6, win7, win8,
    sort1, set1, set2, set3,
    misc4, misc5, misc6, misc7, misc8, lay1, pipe4, join6, join7, join8,
    win9, win10, win11, win12, win13, win14, snk4, agg13, agg14, prj4,
    dt1, dt2, dt3, dt4, str1, str2,
    misc1, misc1b, misc2, misc3,
    fn1, fn2, fn3, fn4, fn5, fn6,
    pipe1, pipe2, pipe3, src5, src6, src7, strm1, strm2, strm4, strm5,
    win15, agg15, agg16, agg17, join9, misc9, agg18, agg19,
    misc10, misc11, misc12, misc13, win16, win17, agg20,
    agg21, win18, misc14, win19, win20, agg22, agg23,
    misc15, strm3, agg24, agg25, win21, win22, win23,
    agg26, agg27, misc16, win24, agg28, win25, misc17,
    win26, misc18, misc19, misc20, agg29, misc21,
    misc22, misc23, misc24, misc25,
    win27, win28, win29, win30, join10, agg30,
    agg31, agg32, agg33, agg34, agg35, agg36, agg37, agg38, agg39,
    agg40, agg41, agg42, agg43, agg44, agg45, agg46, agg47,
    agg48, agg49, agg50, agg51,
    agg52, agg53, agg54, agg55, agg56, agg57, agg58, agg59, win33,
    agg60, win34, agg61, win35, win36, agg62,
    win31, win32, misc26) ++ LlmQueries.specs

  val queries: ListMap[String, QFn] =
    ListMap(specs.map(sp => sp.name -> sp.fn): _*)

  val oracleSql: ListMap[String, String] =
    ListMap(specs.collect { case Spec(n, _, Some(o)) => n -> o }: _*)
}

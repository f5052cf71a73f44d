package graft

import java.nio.file.Files
import java.sql.Timestamp
import org.apache.spark.sql.functions._
import graft.sources.NetCDF
import graft.sources.NetCDF.{Att, Dim, VarSpec}

/** NetCDF classic codec + DataSource V2: write→read round trip, CF
  * decoding (scale/offset, fill→null, time units), column pruning, slab
  * partitioning, multi-file union.
  */
class SourcesSpec extends SparkSpec {

  private def tmpDir(): String = {
    val d = Files.createTempDirectory("graft_nc").toString
    d
  }

  /** 3×2×2 (time, lat, lon) cube: t2m packed short with scale/offset and a
    * fill hole; tp plain double. time = hours since 2021-03-01.
    */
  private def writeCube(path: String, hourOffset: Int = 0): Unit = {
    val nT = 3; val nLat = 2; val nLon = 2
    val t2mPacked = Array.tabulate(nT * nLat * nLon)(i =>
      if (i == 5) -32767.0 else (i * 10 + hourOffset).toDouble)
    val tp = Array.tabulate(nT * nLat * nLon)(i => i * 0.25 + hourOffset)
    NetCDF.write(path,
      dims = Seq(Dim("time", nT), Dim("latitude", nLat), Dim("longitude", nLon)),
      vars = Seq(
        "time" -> VarSpec(Seq("time"), NetCDF.NC_INT,
          Array.tabulate(nT)(i => (i + hourOffset).toDouble),
          Seq(Att("units", NetCDF.NC_CHAR,
            Left("hours since 2021-03-01 00:00:00")))),
        "latitude" -> VarSpec(Seq("latitude"), NetCDF.NC_DOUBLE,
          Array(45.25, 45.5)),
        "longitude" -> VarSpec(Seq("longitude"), NetCDF.NC_FLOAT,
          Array(-73.5, -73.25)),
        "t2m" -> VarSpec(Seq("time", "latitude", "longitude"), NetCDF.NC_SHORT,
          t2mPacked, Seq(
            Att("scale_factor", NetCDF.NC_DOUBLE, Right(Seq(0.5))),
            Att("add_offset", NetCDF.NC_DOUBLE, Right(Seq(250.0))),
            Att("_FillValue", NetCDF.NC_SHORT, Right(Seq(-32767.0))))),
        "tp" -> VarSpec(Seq("time", "latitude", "longitude"), NetCDF.NC_DOUBLE,
          tp)),
      gatts = Seq(Att("source", NetCDF.NC_CHAR, Left("graft test fixture"))))
  }

  test("header round trip: dims, attrs, vars, offsets") {
    val d = tmpDir(); val p = s"$d/cube.nc"
    writeCube(p)
    val h = NetCDF.readHeader(p)
    assert(h.dims.map(_.name) == Seq("time", "latitude", "longitude"))
    assert(h.dims.map(_.length) == Seq(3, 2, 2))
    assert(h.vars.map(_.name) ==
      Seq("time", "latitude", "longitude", "t2m", "tp"))
    assert(h.gatts.head.str.contains("graft test fixture"))
    val t2m = h.vars.find(_.name == "t2m").get
    assert(t2m.ncType == NetCDF.NC_SHORT)
    assert(t2m.att("scale_factor").flatMap(_.num).contains(0.5))
    // offsets are 4-aligned and strictly increasing
    val begins = h.vars.map(_.begin)
    assert(begins == begins.sorted && begins.forall(_ % 4 == 0))
  }

  test("DataSource reads the cube with CF decode and fill→null") {
    val d = tmpDir(); val p = s"$d/cube.nc"
    writeCube(p)
    val df = spark.read.format("netcdf").load(p)
    assert(df.schema.map(f => f.name -> f.dataType.typeName) == Seq(
      "time" -> "timestamp", "latitude" -> "double",
      "longitude" -> "double", "t2m" -> "double", "tp" -> "double"))
    val rows = df.orderBy("time", "latitude", "longitude").collect()
    assert(rows.length == 12)
    assert(rows(0).getAs[Timestamp]("time") ==
      Timestamp.valueOf("2021-03-01 00:00:00"))
    assert(rows(0).getAs[Double]("latitude") == 45.25)
    assert(rows(0).getAs[Double]("longitude") == -73.5)
    assert(rows(0).getAs[Double]("t2m") == 0 * 0.5 + 250.0)
    assert(rows(0).getAs[Double]("tp") == 0.0)
    // row-major ordinal 5 = (t=1, lat=0, lon=1) is the fill hole
    val hole = rows.find(r => r.getAs[Timestamp]("time") ==
      Timestamp.valueOf("2021-03-01 01:00:00") &&
      r.getAs[Double]("latitude") == 45.25 &&
      r.getAs[Double]("longitude") == -73.25).get
    assert(hole.isNullAt(hole.fieldIndex("t2m")))
    assert(rows(11).getAs[Double]("t2m") == 11 * 10 * 0.5 + 250.0)
    assert(rows(11).getAs[Double]("tp") == 11 * 0.25)
  }

  test("column pruning reaches the reader; count(*) touches no data vars") {
    val d = tmpDir(); val p = s"$d/cube.nc"
    writeCube(p)
    val df = spark.read.format("netcdf").load(p)
    val plan = df.select("tp").queryExecution.executedPlan.toString
    assert(plan.contains("vars=[tp]"), s"pruning not pushed down:\n$plan")
    assert(df.select("tp").collect().map(_.getDouble(0)).sum ==
      (0 until 12).map(_ * 0.25).sum)
    assert(df.count() == 12)
  }

  test("slab partitioning splits the outer dim; rows unchanged") {
    val d = tmpDir(); val p = s"$d/cube.nc"
    writeCube(p)
    // 4 rows per time step → targetRowsPerPartition=4 gives 3 partitions
    val df = spark.read.format("netcdf")
      .option("targetRowsPerPartition", "4").load(p)
    assert(df.rdd.getNumPartitions == 3)
    assert(df.count() == 12)
    val full = spark.read.format("netcdf").load(p)
      .orderBy("time", "latitude", "longitude").collect().toSeq
    val slabbed = df.orderBy("time", "latitude", "longitude").collect().toSeq
    assert(full == slabbed)
  }

  test("multi-file directory scan unions cubes (the OP-SRC-1 merge)") {
    val d = tmpDir()
    writeCube(s"$d/a.nc", hourOffset = 0)
    writeCube(s"$d/b.nc", hourOffset = 3)
    val df = spark.read.format("netcdf").load(d)
    assert(df.count() == 24)
    assert(df.select(countDistinct(col("time"))).head.getLong(0) == 6)
    // vars option restricts the data variables
    val only = spark.read.format("netcdf").option("vars", "tp").load(d)
    assert(only.columns.toSeq ==
      Seq("time", "latitude", "longitude", "tp"))
  }

  test("GeoTIFF: masked scan with georeference and filename→date compose") {
    import graft.sources.GeoTIFF
    val d = tmpDir()
    // 3×2 raster: value = y*10 + x, nodata hole at (1,1); 0.25° grid from
    // (-80, 45) north-up
    val vals = Array.tabulate(6)(i => if (i == 4) -9999f else (i / 3 * 10 + i % 3).toFloat)
    GeoTIFF.writeFloat32(s"$d/wtd-v1-20200131.tif", 3, 2, vals,
      originLon = -80.0, originLat = 45.0, scale = 0.25,
      nodata = Some(-9999f))
    GeoTIFF.writeFloat32(s"$d/wtd-v1-20200229.tif", 3, 2,
      vals.map(v => if (v == -9999f) v else v + 100f),
      originLon = -80.0, originLat = 45.0, scale = 0.25,
      nodata = Some(-9999f))
    val df = spark.read.format("geotiff").load(d)
    assert(df.count() == 12)
    val r = df.filter(col("file") === "wtd-v1-20200131.tif")
      .orderBy("y", "x").collect()
    assert(r.map(x => (x.getAs[Int]("y"), x.getAs[Int]("x"))).toSeq ==
      (for { y <- 0 until 2; x <- 0 until 3 } yield (y, x)))
    assert(r(0).getAs[Double]("longitude") == -80.0)
    assert(r(0).getAs[Double]("latitude") == 45.0)
    assert(r(5).getAs[Double]("longitude") == -80.0 + 2 * 0.25)
    assert(r(5).getAs[Double]("latitude") == 45.0 - 1 * 0.25)
    assert(r(1).getAs[Double]("value") == 1.0)
    assert(r(4).isNullAt(r(4).fieldIndex("value"))) // nodata masked
    // the reference's filename→date (OP-STR-2) composes on the file column
    val dates = df.select(to_date(regexp_extract(col("file"),
      "wtd-.*-(\\d{8})\\.tif", 1), "yyyyMMdd").as("d"))
      .distinct().orderBy("d").collect().map(_.getDate(0).toString)
    assert(dates.toSeq == Seq("2020-01-31", "2020-02-29"))
    // column pruning reaches the scan description
    val plan = df.select("value").queryExecution.executedPlan.toString
    assert(plan.contains("cols=[value]"), s"pruning not pushed:\n$plan")
  }

  test("GeoTIFF: short nodata strings round-trip inline per TIFF 6.0") {
    import graft.sources.GeoTIFF
    val d = tmpDir()
    // "0\0" is a 2-byte ASCII payload → must live inline in the IFD value
    // field; a count-sized read buffer used to BufferOverflow on it
    for ((nd, name) <- Seq(0f -> "z.tif", -1f -> "m.tif", 7f -> "s.tif")) {
      val vals = Array(nd, 1f, 2f, 3f)
      GeoTIFF.writeFloat32(s"$d/$name", 2, 2, vals, 0.0, 0.0, 1.0,
        nodata = Some(nd))
      val t = GeoTIFF.readHeader(s"$d/$name")
      assert(t.nodata.contains(nd.toDouble),
        s"$name: nodata ${t.nodata} != $nd")
      val df = spark.read.format("geotiff").load(s"$d/$name")
      assert(df.filter(col("value").isNull).count() == 1) // masked hole
    }
  }

  test("NetCDF reader names the NetCDF-4/HDF5 case explicitly") {
    val d = tmpDir(); val p = s"$d/h5.nc"
    java.nio.file.Files.write(java.nio.file.Paths.get(p),
      Array[Byte](0x89.toByte, 'H', 'D', 'F', '\r', '\n', 0x1a, '\n') ++
        new Array[Byte](64))
    val e = intercept[IllegalArgumentException] {
      graft.sources.NetCDF.readHeader(p)
    }
    assert(e.getMessage.contains("NetCDF-4/HDF5"), e.getMessage)
    assert(e.getMessage.contains("classic"), e.getMessage)
  }

  test("record (UNLIMITED) time dim: interleaved records read correctly") {
    val d = tmpDir(); val p = s"$d/rec.nc"
    // time is the record dim; TWO record vars exercise per-record
    // interleaving (t2m shorts get padding, tp doubles don't need it)
    val nT = 4; val nX = 3
    NetCDF.write(p,
      dims = Seq(Dim("time", 0), Dim("x", nX)),
      vars = Seq(
        "time" -> VarSpec(Seq("time"), NetCDF.NC_INT,
          Array.tabulate(nT)(_.toDouble),
          Seq(Att("units", NetCDF.NC_CHAR,
            Left("hours since 2021-03-01 00:00:00")))),
        "x" -> VarSpec(Seq("x"), NetCDF.NC_DOUBLE, Array(0.0, 1.0, 2.0)),
        "t2m" -> VarSpec(Seq("time", "x"), NetCDF.NC_SHORT,
          Array.tabulate(nT * nX)(i => (i * 3).toDouble)),
        "tp" -> VarSpec(Seq("time", "x"), NetCDF.NC_DOUBLE,
          Array.tabulate(nT * nX)(_ * 0.5))),
      numRecs = nT)
    val h = NetCDF.readHeader(p)
    assert(h.numRecs == nT && h.dims.head.isRecord)
    val df = spark.read.format("netcdf")
      .option("targetRowsPerPartition", "3").load(p) // one slab per record
    assert(df.rdd.getNumPartitions == nT)
    val rows = df.orderBy("time", "x").collect()
    assert(rows.length == nT * nX)
    assert(rows.map(_.getAs[Double]("t2m")).toSeq ==
      (0 until nT * nX).map(i => (i * 3).toDouble))
    assert(rows.map(_.getAs[Double]("tp")).toSeq ==
      (0 until nT * nX).map(_ * 0.5))
    assert(rows(3).getAs[java.sql.Timestamp]("time") ==
      java.sql.Timestamp.valueOf("2021-03-01 01:00:00"))
    // single-record-var exception: only t2m over the record dim
    val p1 = s"$d/rec1.nc"
    NetCDF.write(p1, dims = Seq(Dim("time", 0), Dim("x", 2)),
      vars = Seq("t2m" -> VarSpec(Seq("time", "x"), NetCDF.NC_SHORT,
        Array.tabulate(6)(_.toDouble))), numRecs = 3)
    val r1 = spark.read.format("netcdf").load(p1).orderBy("time", "x")
      .collect().map(_.getAs[Double]("t2m")).toSeq
    assert(r1 == (0 until 6).map(_.toDouble))
  }

  test("writer rejects a record dim in non-first position") {
    val d = tmpDir()
    intercept[IllegalArgumentException] {
      NetCDF.write(s"$d/bad.nc", dims = Seq(Dim("time", 0), Dim("x", 3)),
        vars = Seq("v" -> VarSpec(Seq("x", "time"), NetCDF.NC_DOUBLE,
          Array(1.0, 2.0, 3.0))), numRecs = 2)
    }
  }

  test("TIFF writers emit IFD entries in ascending tag order") {
    import graft.sources.GeoTIFF
    val d = tmpDir()
    GeoTIFF.writeFloat32(s"$d/s.tif", 2, 2, Array(1f, 2f, 3f, 4f),
      0, 0, 1.0, Some(-1f))
    GeoTIFF.writeFloat32Tiled(s"$d/t.tif", 2, 2, Array(1f, 2f, 3f, 4f), 2, 1)
    Seq(s"$d/s.tif", s"$d/t.tif").foreach { p =>
      val bytes = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(p))
      val bb = java.nio.ByteBuffer.wrap(bytes)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      val ifd = bb.getInt(4)
      val n = bb.getShort(ifd) & 0xFFFF
      val tags = (0 until n).map(i => bb.getShort(ifd + 2 + i * 12) & 0xFFFF)
      assert(tags == tags.sorted, s"$p IFD tags unsorted: $tags")
    }
  }

  test("tiled TIFF: blocks clamp at edges; values match the strip layout") {
    import graft.sources.GeoTIFF
    val d = tmpDir()
    // 7×5 raster with 3×2 tiles → 3×3 tile grid incl. ragged edges
    val vals = Array.tabulate(35)(i => (i * 2).toFloat)
    GeoTIFF.writeFloat32Tiled(s"$d/tiled.tif", 7, 5, vals, 3, 2)
    GeoTIFF.writeFloat32(s"$d/strip.tif", 7, 5, vals,
      originLon = 0, originLat = 0, scale = 1.0, nodata = None)
    val t = GeoTIFF.readHeader(s"$d/tiled.tif")
    assert(t.blocks.size == 9)
    assert(t.blocks.last.w == 1 && t.blocks.last.h == 1) // clamped corner
    def readAll(p: String) = spark.read.format("geotiff").load(p)
      .select("y", "x", "value").orderBy("y", "x").collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getDouble(2))).toSeq
    assert(readAll(s"$d/tiled.tif") == readAll(s"$d/strip.tif"))
  }

  test("GeoTIFF tiled/strip layouts agree on randomized rasters (property)") {
    import org.scalacheck.{Gen, Prop}
    import org.scalacheck.Prop.forAll
    import graft.sources.GeoTIFF
    val d = tmpDir()
    var n = 0
    val gen = for {
      w <- Gen.choose(1, 9); h <- Gen.choose(1, 9)
      tw <- Gen.choose(1, 5); th <- Gen.choose(1, 5)
      seed <- Gen.choose(0, 1 << 20)
    } yield (w, h, tw, th, seed)
    val prop = forAll(gen) { case (w, h, tw, th, seed) =>
      n += 1
      val vals = Array.tabulate(w * h)(i => ((seed + i * 13) % 997).toFloat)
      val sp = s"$d/ps_$n.tif"; val tp = s"$d/pt_$n.tif"
      GeoTIFF.writeFloat32(sp, w, h, vals, 0, 0, 1.0, None)
      GeoTIFF.writeFloat32Tiled(tp, w, h, vals, tw, th)
      def cells(p: String): Seq[(Int, Int, Double)] = {
        val t = GeoTIFF.readHeader(p)
        val ch = java.nio.channels.FileChannel.open(
          java.nio.file.Paths.get(p),
          java.nio.file.StandardOpenOption.READ)
        try t.blocks.flatMap { b =>
          val data = GeoTIFF.readBlock(ch, t, b)
          for (r <- 0 until b.h; c <- 0 until b.w)
            yield (b.y0 + r, b.x0 + c, data(r * b.w + c))
        }.sortBy(x => (x._1, x._2))
        finally ch.close()
      }
      Prop(cells(sp) == cells(tp))
    }
    val res = org.scalacheck.Test.check(
      org.scalacheck.Test.Parameters.default.withMinSuccessfulTests(30), prop)
    assert(res.passed, s"GeoTIFF layout property failed: ${res.status}")
  }

  test("NetCDF codec round-trips randomized cubes (property)") {
    import org.scalacheck.{Gen, Prop}
    import org.scalacheck.Prop.forAll
    val d = tmpDir()
    var n = 0
    val classicTypes = Seq(NetCDF.NC_SHORT, NetCDF.NC_INT, NetCDF.NC_FLOAT,
      NetCDF.NC_DOUBLE)
    val cdf5Types = classicTypes ++ Seq(NetCDF.NC_UBYTE, NetCDF.NC_USHORT,
      NetCDF.NC_UINT, NetCDF.NC_INT64, NetCDF.NC_UINT64)
    val gen = for {
      nDims <- Gen.choose(1, 3)
      sizes <- Gen.listOfN(nDims, Gen.choose(1, 5))
      nVars <- Gen.choose(1, 3)
      version <- Gen.oneOf(1, 2, 5) // CDF-1/2 + CDF-5 (64-bit data)
      types <- Gen.listOfN(nVars,
        Gen.oneOf(if (version == 5) cdf5Types else classicTypes))
      seed <- Gen.choose(0, 1 << 20)
    } yield (sizes, types, seed, version)
    // small integers exactly representable in every nc_type; unsigned
    // types get their (smaller) non-negative range
    def valFor(t: Int, raw: Int): Double = t match {
      case NetCDF.NC_UBYTE => math.abs(raw % 200).toDouble
      case NetCDF.NC_USHORT | NetCDF.NC_UINT | NetCDF.NC_UINT64 =>
        math.abs(raw % 1000).toDouble
      case _ => (raw % 1000 - 500).toDouble
    }
    val prop = forAll(gen) { case (sizes, types, seed, version) =>
      n += 1
      val path = s"$d/prop_$n.nc"
      val dims = sizes.zipWithIndex.map { case (s, i) => Dim(s"d$i", s) }
      val total = sizes.product
      val varSpecs = types.zipWithIndex.map { case (t, vi) =>
        s"v$vi" -> VarSpec(dims.map(_.name), t,
          Array.tabulate(total)(j => valFor(t, seed + j * 7 + vi)))
      }
      NetCDF.write(path, dims, varSpecs, version = version)
      val h = NetCDF.readHeader(path)
      val ch = java.nio.channels.FileChannel.open(
        java.nio.file.Paths.get(path),
        java.nio.file.StandardOpenOption.READ)
      try Prop(varSpecs.forall { case (name, sp) =>
        val v = h.vars.find(_.name == name).get
        val got = NetCDF.readSlab(ch, h, v, 0, sizes.head)
        got.sameElements(sp.values)
      } && h.dims.map(_.length) == sizes)
      finally ch.close()
    }
    val res = org.scalacheck.Test.check(
      org.scalacheck.Test.Parameters.default.withMinSuccessfulTests(30), prop)
    assert(res.passed, s"NetCDF round-trip property failed: ${res.status}")
  }

  test("CDF-5 ingest road: wide header + 64-bit types reach parquet") {
    // the NetCDF-4 bridge: `nccopy -k cdf5` output is exactly this format
    // — wide (INT64) header fields, unsigned/64-bit types, record dim —
    // and the documented road into the lake is DSv2 scan → parquet
    val d = tmpDir(); val p = s"$d/wide.nc"
    val nT = 3; val nX = 2
    NetCDF.write(p,
      dims = Seq(Dim("time", 0), Dim("x", nX)),
      vars = Seq(
        "time" -> VarSpec(Seq("time"), NetCDF.NC_INT64,
          Array.tabulate(nT)(_.toDouble),
          Seq(Att("units", NetCDF.NC_CHAR,
            Left("hours since 2021-03-01 00:00:00")))),
        "x" -> VarSpec(Seq("x"), NetCDF.NC_DOUBLE, Array(0.0, 1.0)),
        "counts" -> VarSpec(Seq("time", "x"), NetCDF.NC_UINT,
          Array(0.0, 3000000000.0, 7.0, 9.0, 11.0, 4294967295.0)),
        "big" -> VarSpec(Seq("time", "x"), NetCDF.NC_INT64,
          Array.tabulate(nT * nX)(i => (1L << 40).toDouble + i))),
      numRecs = nT, version = 5)
    val h = NetCDF.readHeader(p)
    assert(h.numRecs == nT && h.dims.head.isRecord)
    assert(h.vars.find(_.name == "counts").get.ncType == NetCDF.NC_UINT)
    val out = s"$d/lake"
    spark.read.format("netcdf").load(p).write.parquet(out)
    val back = spark.read.parquet(out).orderBy("time", "x").collect()
    assert(back.length == nT * nX)
    // unsigned values above Int.MaxValue survive the whole road
    assert(back(1).getAs[Double]("counts") == 3000000000.0)
    assert(back(5).getAs[Double]("counts") == 4294967295.0)
    assert(back(0).getAs[Double]("big") == (1L << 40).toDouble)
    assert(back(0).getAs[Timestamp]("time") ==
      Timestamp.valueOf("2021-03-01 00:00:00"))
  }

  test("classic writer refuses CDF-5-only types outside version 5") {
    val e = intercept[IllegalArgumentException] {
      NetCDF.write(s"${tmpDir()}/bad.nc", dims = Seq(Dim("x", 2)),
        vars = Seq("v" -> VarSpec(Seq("x"), NetCDF.NC_INT64,
          Array(1.0, 2.0))))
    }
    assert(e.getMessage.contains("CDF-5"), e.getMessage)
  }

  test("index dim fallback when a dimension has no coordinate variable") {
    val d = tmpDir(); val p = s"$d/noidx.nc"
    NetCDF.write(p, dims = Seq(Dim("y", 2), Dim("x", 3)),
      vars = Seq("v" -> VarSpec(Seq("y", "x"), NetCDF.NC_FLOAT,
        Array.tabulate(6)(_.toDouble))))
    val rows = spark.read.format("netcdf").load(p)
      .orderBy("y", "x").collect()
    assert(rows.map(r => (r.getInt(0), r.getInt(1), r.getDouble(2))).toSeq ==
      (for { y <- 0 until 2; x <- 0 until 3 }
        yield (y, x, (y * 3 + x).toDouble)))
  }
}

package graft

import graft.engine.Relational

/** Hand-value pins for the q401–q404 spatial/spectral wave: Moran's I
  * (perfect anti-correlation and a clumped line), Getis–Ord Gi*
  * (hot/cold symmetry on a line), periodogram (flat series is
  * powerless, a planted cosine concentrates at its harmonic), Hurst
  * R/S (alternating series pins H = 0, trending ramp matches the
  * formula-computed slope).
  */
class SpatialSpectralWaveSpec extends SparkSpec {
  import spark.implicits._

  private def cells(rows: Seq[(Int, Int, Long)]) =
    rows.toDF("__gx", "__gy", "__x")

  private def pairsOf(rows: Seq[(Int, Int, Long)]) = {
    val m = rows.map { case (x, y, v) => (x, y) -> v }.toMap
    val p = for {
      (x, y, v) <- rows; dx <- -1 to 1; dy <- -1 to 1
      if dx != 0 || dy != 0
      w <- m.get((x + dx, y + dy))
    } yield (x, y, v, w)
    p.toDF("__gx", "__gy", "__xi", "__xj")
  }

  test("moransI: two-cell opposition gives I = -1 = E[I]; a clumped " +
      "half-half line gives +1/3") {
    val two = Seq((0, 0, 0L), (0, 1, 2L))
    val r2 = Relational.moransI(cells(two), pairsOf(two)).head()
    assert(r2.getAs[Long]("n_cells") == 2L &&
      r2.getAs[Long]("w_pairs") == 2L)
    assert(math.abs(r2.getAs[Double]("morans_i") + 1.0) < 1e-9)
    assert(math.abs(r2.getAs[Double]("e_i") + 1.0) < 1e-9)

    val line = Seq((0, 0, 5L), (0, 1, 5L), (0, 2, 0L), (0, 3, 0L))
    val rl = Relational.moransI(cells(line), pairsOf(line)).head()
    assert(rl.getAs[Long]("w_pairs") == 6L)
    assert(math.abs(rl.getAs[Double]("morans_i") - 0.333333) < 1e-6)
  }

  test("getisOrdGi: hot end +sqrt(3), interior +/-1, cold end " +
      "-sqrt(3) on the 5-5-0-0 line") {
    val line = Seq((0, 0, 5L), (0, 1, 5L), (0, 2, 0L), (0, 3, 0L))
    val out = Relational.getisOrdGi(cells(line), pairsOf(line))
      .collect().map(r => r.getAs[Int]("gy") -> r).toMap
    assert(out(0).getAs[Long]("w_i") == 2L &&
      out(0).getAs[Long]("g_sum") == 10L)
    assert(math.abs(out(0).getAs[Double]("gi_z") - 1.732051) < 1e-6)
    assert(math.abs(out(1).getAs[Double]("gi_z") - 1.0) < 1e-9)
    assert(math.abs(out(2).getAs[Double]("gi_z") + 1.0) < 1e-9)
    assert(math.abs(out(3).getAs[Double]("gi_z") + 1.732051) < 1e-6)
  }

  test("dftPower: constant series has zero power everywhere; a " +
      "planted period-8 cosine concentrates at k=1 with b=0") {
    val flat = (0L until 16L).map(t => (t, 7L)).toDF("t", "x")
    val rf = Relational.dftPower(flat, "t", "x", Seq(1, 2, 3))
    assert(rf.collect().forall(_.getAs[Double]("power") == 0.0))

    val wave = (0L until 8L).map { t =>
      (t, 100L + math.round(50.0 * math.cos(2 * math.Pi * t / 8)))
    }.toDF("t", "x")
    val out = Relational.dftPower(wave, "t", "x", Seq(1, 2))
      .collect().map(r => r.getAs[Int]("k") -> r).toMap
    // expected a_micro from the same per-term-rounded formula
    val xs = (0L until 8L).map(t =>
      100L + math.round(50.0 * math.cos(2 * math.Pi * t / 8)))
    val mean = xs.sum.toDouble / 8
    val aExp = (0L until 8L).map { t =>
      math.round((8 * xs(t.toInt) - xs.sum).toDouble / 8 *
        math.cos(2 * math.Pi * 1 * t / 8) * 1e6)
    }.sum
    assert(out(1).getAs[Long]("a_micro") == aExp)
    assert(out(1).getAs[Long]("b_micro") == 0L)
    assert(out(1).getAs[Double]("power") > 1000 *
      out(2).getAs[Double]("power"))
    assert(mean == 100.0)
  }

  test("hurstRs: strictly alternating volume pins R/S = 1 at every " +
      "size (H = 0); a linear ramp matches the formula-computed slope") {
    val alt = (0L until 64L).map(t => (t, t % 2)).toDF("t", "x")
    val ra = Relational.hurstRs(alt, "t", "x", Seq(4, 8))
      .collect().map(r => r.getAs[Long]("block_len") -> r).toMap
    assert(ra(4L).getAs[Long]("n_blocks") == 16L)
    assert(ra(4L).getAs[Long]("mean_ln_rs_micro") == 0L)
    assert(ra(8L).getAs[Long]("mean_ln_rs_micro") == 0L)
    assert(ra(4L).getAs[Double]("hurst") == 0.0)

    // ramp: every size-n block is a shifted copy, so R/S is constant
    // per size: R/S(4) = 8/sqrt(20), R/S(8) = 64/sqrt(336)
    val ramp = (0L until 32L).map(t => (t, t)).toDF("t", "x")
    val rr = Relational.hurstRs(ramp, "t", "x", Seq(4, 8))
      .collect().map(r => r.getAs[Long]("block_len") -> r).toMap
    val v4 = math.round(math.log(8.0 / math.sqrt(20.0)) * 1e6)
    val v8 = math.round(math.log(64.0 / math.sqrt(336.0)) * 1e6)
    assert(rr(4L).getAs[Long]("mean_ln_rs_micro") == v4)
    assert(rr(8L).getAs[Long]("mean_ln_rs_micro") == v8)
    val slope = (v8 - v4).toDouble / 1e6 / math.log(2.0)
    assert(math.abs(rr(4L).getAs[Double]("hurst") - slope) < 1e-5)
    assert(rr(4L).getAs[Double]("hurst") > 0.9) // trending
  }
}

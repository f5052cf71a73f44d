package graft.engine

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Physical-layout helpers: space-filling-curve keys for multi-dimensional
  * data clustering.
  *
  * Why this matters at 100 TB: parquet data-skipping prunes row groups by
  * per-column min/max, which a sort on ONE column only tightens for that
  * column. Writing the lake ordered by a Z-order (Morton) key over the two
  * query dimensions (lat/lon grid cells, time/key, …) makes BOTH columns'
  * min/max ranges tight in every file, so a bbox-style predicate (the
  * reference's clip pipelines, `engine/Joins.bboxClip`) skips all but the
  * touched tiles instead of scanning the full fact table.
  */
object Layout {

  /** Morton (Z-order) key: interleave the low `bitsPerDim` bits of two
    * non-negative integer grid coordinates — x on even bits, y on odd.
    * Pure codegen'd bit arithmetic (shift/mask/or fold), no UDF; callers
    * quantize continuous dimensions to a grid first (e.g.
    * `floor(lat / cell)` — the 0.25° ERA5 grid is already integral).
    */
  def zorderKey(x: Column, y: Column, bitsPerDim: Int = 16): Column = {
    require(bitsPerDim >= 1 && bitsPerDim <= 31,
      s"bitsPerDim must be in [1,31], got $bitsPerDim")
    (0 until bitsPerDim).map { k =>
      shiftleft(shiftrightunsigned(x.cast("long"), k).bitwiseAND(lit(1L)),
        2 * k).bitwiseOR(
        shiftleft(shiftrightunsigned(y.cast("long"), k).bitwiseAND(lit(1L)),
          2 * k + 1))
    }.reduce(_ bitwiseOR _)
  }

  /** Hilbert-curve index of non-negative grid coordinates — the
    * stronger locality twin of [[zorderKey]] (Z-order's bit interleave
    * has long diagonal jumps between quadrant boundaries; the Hilbert
    * walk is Manhattan-adjacent at EVERY step, so range scans over the
    * key touch tighter (x, y) tiles — the Hilbert-vs-Z tradeoff every
    * table-layout paper measures). Standard Wikipedia xy→d algorithm
    * (per-level quadrant code `(3·rx) XOR ry`, flip+swap rotation),
    * unrolled `order` levels as a chain of per-level projections —
    * column-name chaining, not one nested Column, because each level
    * reads the previous level's x twice and y twice (a single
    * expression tree would grow 4^order nodes; named columns keep it
    * linear until codegen, which shares subexpressions). Pure integer
    * bit arithmetic — engine-exact.
    *
    * Inputs must lie on `[0, 2^order)`; callers quantize/mod upstream
    * (the zorderKey contract). Key range `[0, 4^order)`.
    */
  def withHilbertKey(df: DataFrame, xCol: String, yCol: String,
      order: Int, outCol: String): DataFrame = {
    require(order >= 1 && order <= 31,
      s"order must be in [1,31], got $order")
    var cur = df.withColumns(Map(
      "__hx" -> col(xCol).cast("long"),
      "__hy" -> col(yCol).cast("long"),
      outCol -> lit(0L)))
    var s = 1L << (order - 1)
    while (s > 0) {
      // ONE projection per level (r14): the former 6-withColumn chain was
      // 6 analyzer passes per level (an __rx/__ry/__nx temp-column ladder
      // to sequence the simultaneous (x, y) update) — `order` levels cost
      // O(order²) plan-analysis work before a single row moved, dwarfing
      // the per-row bit arithmetic at any fixture size. withColumns
      // evaluates every entry against the SAME input frame, so the
      // simultaneous update needs no temps; rx/ry inline (trivial
      // bit-test expressions — codegen CSE shares them) and the level
      // still materializes as one named-column Project, which is what
      // keeps the optimized expression tree linear in `order` (the
      // 4^order blowup guard documented above).
      val rx = when(col("__hx").bitwiseAND(lit(s)) > 0, lit(1L))
        .otherwise(lit(0L))
      val ry = when(col("__hy").bitwiseAND(lit(s)) > 0, lit(1L))
        .otherwise(lit(0L))
      cur = cur.withColumns(Map(
        outCol -> (col(outCol) + lit(s) * lit(s) *
          (lit(3L) * rx).bitwiseXOR(ry)),
        "__hx" -> when(ry === 0,
          when(rx === 1, lit(s - 1) - col("__hy"))
            .otherwise(col("__hy"))).otherwise(col("__hx")),
        "__hy" -> when(ry === 0,
          when(rx === 1, lit(s - 1) - col("__hx"))
            .otherwise(col("__hx"))).otherwise(col("__hy"))))
      s >>= 1
    }
    cur.drop("__hx", "__hy")
  }
}

package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{FloatType, StructType}

/** OP-SNK-1/2/3 — sinks. The reference's NetCDF writers map to Parquet
  * (columnar, compressed, splittable — the lake format the engine's scans
  * assume); its storage optimizations (float32 downcast, zlib) map to an
  * explicit cast + codec choice.
  */
object Sinks {

  /** OP-SNK-1 — compressed sink with float64→float32 downcast and timestamp
    * normalization (`core.py:325-369`: zlib-4 NetCDF, `datetime64[ns]`).
    * Key columns stay double (coordinates must round-trip exactly);
    * only VALUE columns downcast — pass them explicitly.
    */
  def writeCompressed(df: DataFrame, path: String, downcastCols: Seq[String],
      codec: String = "snappy"): Unit =
    downcast(df, downcastCols)
      .write.mode("overwrite").option("compression", codec).parquet(path)

  /** The float32 downcast as a standalone transform (testable without IO). */
  def downcast(df: DataFrame, downcastCols: Seq[String]): DataFrame = {
    val casts = downcastCols.filter(df.columns.contains).map { c =>
      c -> col(c).cast(FloatType)
    }
    df.withColumns(casts.toMap)
  }

  /** OP-SNK-2 — CSV sink (`dataset.py:314-318`). */
  def writeCsv(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").option("header", "true").csv(path)

  /** OP-SNK-3 — partitioned chunk sink (`dataset.py:270-295`) + re-read
    * (`dataset.py:297-312`). The reference re-opens every per-region file
    * and coordinate-merges them; in Spark the re-concat is partition
    * discovery — a single `read.parquet` of the root path.
    */
  def writePartitioned(df: DataFrame, path: String,
      partitionCols: Seq[String]): Unit =
    df.write.mode("overwrite").partitionBy(partitionCols: _*).parquet(path)

  /** Read a [[writePartitioned]] directory back with `schema`, the schema
    * of the written frame: a partition column keeps its written type (a
    * string region `"01"` does not come back as the int 1, as directory
    * name inference would type it) and no footer-read job runs. Data
    * columns come first, then the partition columns.
    */
  def readPartitioned(spark: SparkSession, path: String,
      schema: StructType): DataFrame =
    spark.read.schema(schema).parquet(path)

  /** OP-SNK-4 — JSONL sink/source: the training-data interchange format
    * (one JSON object per line — what tokenizer and trainer tooling
    * ingest). Writing is a plain per-partition serialization, no
    * shuffle; `shardOn` optionally range-partitions on a key first so
    * shard membership is DETERMINISTIC (a bare `repartition(n)` would
    * round-robin rows differently per run — unacceptable for a dataset
    * artifact that gets content-addressed or diffed). Reads take an
    * explicit schema: schema inference is a full extra pass AND makes
    * the result depend on which shards were sampled.
    */
  def writeJsonl(df: DataFrame, path: String,
      shardOn: Option[(String, Int)] = None): Unit = {
    val out = shardOn match {
      case Some((c, n)) => df.repartitionByRange(n, col(c))
      case None         => df
    }
    out.write.mode("overwrite").json(path)
  }

  def readJsonl(spark: SparkSession, path: String, schema: String): DataFrame =
    spark.read.schema(schema).json(path)
}

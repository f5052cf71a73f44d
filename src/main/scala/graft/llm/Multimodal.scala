package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Multimodal columns: image/audio/video payloads travel as opaque
  * `BinaryType` columns with a typed metadata struct; decode /
  * feature-extract / frame-sample / patch-grid operate on the binary
  * payloads and their metadata.
  *
  * The decode step itself is STUBBED (no image/audio codecs in this
  * environment) behind [[decodeStub]] — a deterministic fake that hashes
  * payload bytes into a fixed-size feature vector. Everything around it —
  * schema, batch iteration, partitioning, metadata plumbing — is the real
  * Spark-side design: at 100 TB the payloads dominate, so every operator
  * here avoids shuffling binary columns (metadata-only projections shuffle;
  * payload transforms stay map-side).
  */
object Multimodal {

  /** Wrap a payload expression as (payload BINARY, meta STRUCT). Width /
    * height / frame count normally come from container headers; the stub
    * derives them deterministically from a caller-supplied non-negative
    * content hash (`seed`, typically `polyhash` of the source field) so the
    * values are stable AND closed-form reproducible in ANSI SQL.
    */
  def attach(payload: Column, modality: Column, seed: Column): Column =
    struct(
      payload.as("payload"),
      struct(
        modality.as("modality"),
        length(payload).cast("long").as("byte_len"),
        (pmod(seed, lit(1280)) + 64).cast("int").as("width"),
        (pmod(seed, lit(720)) + 64).cast("int").as("height"),
        (pmod(seed, lit(240)) + 1).cast("int").as("n_frames")).as("meta"))

  /** Deterministic fake "decode → feature vector": featureᵢ =
    * ((seed·(i+1)) mod 997) / 997. Closed-form (oracle-checkable) and
    * shaped exactly like a real embedding head's output; a real codec
    * replaces it with a per-partition decode of the payload bytes.
    */
  def decodeStub(seed: Column, dim: Int): Column =
    transform(sequence(lit(0), lit(dim - 1)),
      i => pmod(seed * (i + 1), lit(997)).cast("double") / 997d)

  /** Frame sampling: explode `n` evenly-spaced frame indices from the
    * metadata frame count — a metadata-only operation (the payload column
    * is carried, not transformed; Parquet's columnar layout means unsampled
    * frames are never materialized).
    */
  def sampleFrames(df: DataFrame, mmCol: String, n: Int): DataFrame = {
    val frames = col(s"$mmCol.meta.n_frames")
    df.withColumn("frame_idx",
      explode(transform(sequence(lit(0), lit(n - 1)),
        i => (i * frames / n).cast("int"))))
  }

  /** Patches along one dimension under the full-fit convention — shared
    * by [[patchGrid]] (which explodes them) and [[patchCount]] (which
    * only needs the total). Integer floor-div via double: dims < 2^31,
    * so the double is exact.
    */
  private def fitsDim(dim: Column, patch: Int, stride: Int): Column =
    when(dim >= patch,
      floor((dim - patch).cast("double") / stride).cast("int") + 1)
      .otherwise(lit(0))

  /** Number of ViT patches an image contributes WITHOUT exploding them —
    * the context-budget cost of the image for sequence packing
    * ([[graft.llm.Shaping.packByCost]]): a multimodal training sequence
    * spends one token per patch, so `text_tokens + patchCount` is the
    * document's footprint. Pure metadata arithmetic, codegen'd.
    */
  def patchCount(mmCol: Column, patch: Int, stride: Int): Column = {
    require(patch >= 1 && stride >= 1, "patch and stride must be positive")
    (fitsDim(mmCol.getField("meta").getField("width"), patch, stride) *
      fitsDim(mmCol.getField("meta").getField("height"), patch, stride))
      .cast("long")
  }

  /** ViT-style patch grid: one row per `patch × patch` window at `stride`
    * spacing over the image metadata — the tokenization step of an image
    * encoder, as a METADATA-ONLY explode (the payload column is carried
    * by reference; actual pixel extraction belongs in a codec's decode
    * stage, which consumes these coordinates). Patches are emitted only
    * where they fit entirely (`x0 + patch ≤ width`, ViT convention — no
    * ragged edge padding);
    * an image smaller than one patch yields no rows. Grid coordinates
    * come from ONE `patch_idx` explode with div/mod recovery, not a
    * nested double explode.
    */
  def patchGrid(df: DataFrame, mmCol: String, patch: Int,
      stride: Int): DataFrame = {
    require(patch >= 1 && stride >= 1, "patch and stride must be positive")
    val w = col(s"$mmCol.meta.width")
    val h = col(s"$mmCol.meta.height")
    def fits(dim: Column) = fitsDim(dim, patch, stride)
    val nx = fits(w)
    val ny = fits(h)
    val n = nx * ny
    df.withColumn("__nx", nx)
      .withColumn("patch_idx",
        explode(when(n > 0, sequence(lit(0), n - 1))
          .otherwise(array().cast("array<int>"))))
      .withColumn("grid_x", pmod(col("patch_idx"), col("__nx")))
      .withColumn("grid_y", floor(col("patch_idx").cast("double") /
        col("__nx")).cast("int"))
      .withColumn("x0", col("grid_x") * stride)
      .withColumn("y0", col("grid_y") * stride)
      .drop("__nx")
  }
}

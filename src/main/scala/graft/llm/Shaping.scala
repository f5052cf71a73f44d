package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.PolyHash.polyhash
import graft.engine.Pins

/** Sequence shaping for training-data preparation: fixed-token-window
  * chunking, contiguous sequence packing into context-window bins, and
  * deterministic stratified sampling. These are the operators that sit
  * between a curated corpus and a tokenizer/trainer: the corpus is sharded
  * into model-context-sized pieces, packed to minimize padding, and
  * sampled to a target language/source mix.
  *
  * Scale posture (100 TB): chunking is pure map-side work (tokenize →
  * slice → explode — no shuffle, no state); packing shuffles once on the
  * group key and runs one window cumsum per group; sampling is a
  * map-side hash predicate (no RNG, no sort, reproducible under retries
  * and across engines).
  */
object Shaping {

  /** Split each document into fixed-size token windows with overlap — the
    * standard pre-tokenization shard step (context window `chunkSize`,
    * step `stride`; `stride < chunkSize` gives `chunkSize - stride`
    * tokens of overlap between consecutive chunks, the usual trick to
    * avoid learning-boundary artifacts).
    *
    * Chunk `i` covers tokens `[i*stride, i*stride + chunkSize)`; the last
    * chunk may be shorter but never empty; documents with zero tokens
    * produce no chunks. One pass: the token array is staged behind a
    * projection boundary once, then each chunk is a codegen'd `slice` —
    * payload text is never shuffled.
    */
  def chunkByTokens(docs: DataFrame, idCol: String, textCol: String,
      chunkSize: Int, stride: Int): DataFrame = {
    require(chunkSize > 0 && stride > 0 && stride <= chunkSize,
      s"need 0 < stride <= chunkSize, got chunkSize=$chunkSize stride=$stride")
    val staged = docs.select(col(idCol),
      graft.functions.Tokens.tokens(col(textCol)).as("__toks"))
    val n = size(col("__toks"))
    // integer ceil((n - chunkSize)/stride) via exact double division of
    // small non-negative ints; +1 for the chunk at offset 0
    val nChunks = (lit(1) +
      ((greatest(n - chunkSize, lit(0)) + (stride - 1)) / stride)
        .cast("int"))
    staged.filter(n > 0)
      .select(col(idCol), col("__toks"),
        explode(sequence(lit(0), nChunks - 1)).as("chunk_id"))
      .select(col(idCol), col("chunk_id"),
        slice(col("__toks"), col("chunk_id") * stride + 1, lit(chunkSize))
          .as("__chunk"))
      .select(col(idCol), col("chunk_id"),
        size(col("__chunk")).as("n_tokens"),
        array_join(col("__chunk"), " ").as("chunk_text"))
  }

  /** Contiguous greedy sequence packing: within each `groupCol` shard,
    * documents in `idCol` order are laid end-to-end and cut into bins of
    * `budgetTokens` — `bin = floor(running_start / budget)` where
    * `running_start` is the token count of all preceding documents. This
    * is the deterministic streaming form of packing (what a sharded
    * tokenizer worker does); true first-fit bin packing is
    * order-dependent and unstable under retries, so large pipelines use
    * exactly this contiguous variant.
    *
    * Documents longer than the budget still occupy (at least) one bin —
    * run [[chunkByTokens]] first if hard truncation is required. One
    * shuffle on the group key; the cumsum is a single window pass.
    */
  def packSequences(docs: DataFrame, idCol: String, textCol: String,
      groupCol: String, budgetTokens: Int): DataFrame =
    packByCost(docs.select(col(groupCol), col(idCol),
        graft.functions.TokenCount.tokenCount(col(textCol))
          .as("n_tokens")),
      idCol, "n_tokens", groupCol, budgetTokens.toLong)

  /** [[packSequences]] generalized to an arbitrary precomputed cost
    * column — the form a MULTIMODAL packer needs, where a document's
    * context footprint is text tokens PLUS image patch tokens
    * ([[graft.llm.Multimodal.patchCount]]) plus any fixed separator
    * overhead. Same contiguous-cumsum contract: within each group, rows
    * in `idCol` order are laid end-to-end and `bin = floor(running_start
    * / budget)`. One shuffle on the group key, one window pass.
    */
  def packByCost(docs: DataFrame, idCol: String, costCol: String,
      groupCol: String, budget: Long): DataFrame = {
    require(budget > 0, s"budget must be > 0, got $budget")
    val w = Window.partitionBy(col(groupCol)).orderBy(col(idCol))
      .rowsBetween(Window.unboundedPreceding, -1)
    docs.select(col(groupCol), col(idCol), col(costCol))
      .withColumn("__start", coalesce(sum(col(costCol)).over(w), lit(0L)))
      // exact: both sides are non-negative ints far below 2^53
      .withColumn("bin", (col("__start") / budget).cast("bigint"))
      .drop("__start")
  }

  /** Packing-efficiency report for the contiguous-cumsum packing
    * contract ([[packByCost]]): for each candidate context budget `L`,
    * the exact bin count, padding waste, number of documents that span
    * a bin boundary (each span = one attention-mask split a trainer
    * pays for), and the count of documents longer than `L` outright
    * (chunk-first candidates) — the report that picks a context length
    * BEFORE committing a 100 TB tokenization run.
    *
    * All integer-exact: with per-group running starts `s` (computed
    * ONCE — they don't depend on `L`) and doc costs `n`, a doc spans
    * `(s+n−1) DIV L − s DIV L` boundaries, group waste is
    * `ceil(T/L)·L − T`. One shuffle + one window per group (shared
    * across all budgets), then an explode over the small budget list.
    * Output one row per (group, budget): `(group, budget, n_docs,
    * total_tokens, n_bins, padding, pad_ppm, n_crossings, n_oversize)`.
    */
  def packingEfficiency(docs: DataFrame, idCol: String, textCol: String,
      groupCol: String, budgets: Seq[Int]): DataFrame = {
    require(budgets.nonEmpty && budgets.forall(_ > 0),
      "need at least one positive budget")
    val w = Window.partitionBy(col(groupCol)).orderBy(col(idCol))
      .rowsBetween(Window.unboundedPreceding, -1)
    val staged = docs.select(col(groupCol), col(idCol),
        graft.functions.TokenCount.tokenCount(col(textCol)).cast("long")
          .as("__n"))
      .withColumn("__s", coalesce(sum(col("__n")).over(w), lit(0L)))
      .withColumn("budget",
        explode(array(budgets.map(b => lit(b.toLong)): _*)))
    staged
      .withColumn("__span", when(col("__n") > 0L,
        expr("(__s + __n - 1) DIV budget - __s DIV budget"))
        .otherwise(lit(0L)))
      .groupBy(col(groupCol), col("budget"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("__n")).as("total_tokens"),
        sum(col("__span")).as("n_crossings"),
        sum(when(col("__n") > col("budget"), 1L).otherwise(0L))
          .as("n_oversize"))
      .withColumn("n_bins", when(col("total_tokens") > 0L,
        expr("(total_tokens + budget - 1) DIV budget")).otherwise(lit(0L)))
      .withColumn("padding",
        col("n_bins") * col("budget") - col("total_tokens"))
      .withColumn("pad_ppm", when(col("n_bins") > 0L,
        expr("(padding * 1000000) DIV (n_bins * budget)"))
        .otherwise(lit(0L)))
      .select(col(groupCol), col("budget"), col("n_docs"),
        col("total_tokens"), col("n_bins"), col("padding"),
        col("pad_ppm"), col("n_crossings"), col("n_oversize"))
  }

  /** Deterministic stratified sampling to a target per-stratum rate:
    * keep a document iff `polyhash(key) mod 1000 < permille(stratum)`.
    * Content-hash gating (not RNG) makes the sample reproducible across
    * runs, engines, and partitionings — the property that matters when a
    * 100 TB sampling job is retried per-partition. Rates are a small
    * literal config, compiled into a codegen'd CASE chain (no join, no
    * broadcast, no shuffle).
    */
  def stratifiedSample(docs: DataFrame, keyCol: String, stratumCol: String,
      permille: Seq[(String, Int)], defaultPermille: Int = 0): DataFrame = {
    permille.foreach { case (s, p) =>
      require(p >= 0 && p <= 1000, s"permille for '$s' out of [0,1000]: $p")
    }
    val rate = permille.foldRight(lit(defaultPermille)) {
      case ((stratum, p), acc) =>
        when(col(stratumCol) === stratum, lit(p)).otherwise(acc)
    }
    docs.filter(pmod(polyhash(col(keyCol)), lit(1000)) < rate)
  }

  /** Assemble packed bins into final training sequences: within each
    * (group, bin) from [[packSequences]], concatenate the member texts
    * in id order with a separator token — the last shaping step before
    * tokenization. One (group, bin)-keyed aggregate; `sort_array` of
    * (id, text) structs makes the concatenation order deterministic
    * under any partitioning (`collect_list` alone has no order
    * contract).
    */
  def assembleSequences(packed: DataFrame, groupCol: String, binCol: String,
      idCol: String, textCol: String,
      separator: String = "<|eos|>"): DataFrame =
    packed.groupBy(col(groupCol), col(binCol))
      .agg(count(lit(1)).as("n_docs"),
        array_join(sort_array(collect_list(struct(col(idCol),
          col(textCol)))).getField(textCol), separator).as("sequence_text"))

  /** Budget-constrained greedy selection: walk each group's docs in
    * priority order, keep while the running token total stays within
    * `budgetTokens` — "take the best N tokens per source", the mixing
    * primitive behind every per-source token budget. One (group,
    * priority) window cumsum; rows after the budget line drop out, the
    * straddling doc is excluded (conservative — the budget is a cap,
    * not a target). Priority must be totally ordered (pass a rounded
    * score + id tiebreak).
    */
  def selectToBudget(docs: DataFrame, groupCol: String,
      priorityCols: Seq[String], tokenCol: String,
      budgetTokens: Long): DataFrame = {
    val w = Window.partitionBy(col(groupCol))
      .orderBy(priorityCols.map(col): _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    docs.withColumn("__cum", sum(col(tokenCol)).over(w))
      .filter(col("__cum") <= budgetTokens)
      .withColumnRenamed("__cum", "cum_tokens")
  }

  /** Per-row weighted sampling: keep a row with probability `weight`
    * (a Column in [0,1], e.g. a quality score or a length ramp) — the
    * continuous-weight generalization of [[stratifiedSample]]'s per-
    * stratum rates, for "sample proportional to quality" curation mixes.
    * The coin is `mix(polyhash(id:salt)) mod 10⁶` against `⌊weight·10⁶⌋`:
    * deterministic per row (reproducible under retries, engines,
    * repartitioning), and `salt` decorrelates successive sampling passes
    * over the same corpus. The multiplicative mix (Knuth's 2654435761,
    * still mod the polyhash prime — int64-safe in any engine) matters:
    * raw polyhash is LINEAR, so sequential ids land on a step-31² lattice
    * whose residues mod 10⁶ are grossly non-uniform against a fixed
    * threshold. Pure map-side predicate — no RNG state, no shuffle,
    * fuses into whole-stage codegen.
    */
  def weightedSample(docs: DataFrame, idCol: String, weight: Column,
      salt: String = "s1"): DataFrame = {
    val h = polyhash(concat(col(idCol).cast("string"), lit(":" + salt)))
    docs.filter(pmod(pmod(h * lit(2654435761L), lit(Dedup.P)),
      lit(1000000L)) < floor(weight * 1000000.0))
  }

  /** Fixed-size weighted sampling WITHOUT replacement (Efraimidis &
    * Spirakis, IPL 2006, the A-ES scheme): each row draws the seedless
    * uniform `u = (mix(polyhash(id:salt)) + 1) / (P + 1)` and ranks by
    * `key = ln(u) / w` — the top `k` per group ARE a weighted sample
    * without replacement (each row's inclusion probability tracks its
    * weight share). The fixed-SIZE counterpart of [[weightedSample]]'s
    * Bernoulli thinning: one pass, one per-group top-k, deterministic
    * under retries/repartitioning/engines — the "pick exactly k docs
    * per language, proportional to quality" primitive. Keys are
    * 6 dp-rounded before ranking (ties → smaller id) so the boundary
    * is engine-stable; rows with non-positive weight are excluded
    * (zero weight = never sampled).
    *
    * Output: `(groupCols…, id, weight, skey, rank)`, ≤ k rows/group.
    *
    * Scale: one map-side key computation + one group-keyed top-k
    * window (the WindowGroupLimit partial-top-k shape) — no shuffle
    * beyond the group key, no RNG state.
    */
  def weightedSampleTopK(docs: DataFrame, idCol: String, weight: Column,
      k: Int, groupCols: Seq[String] = Nil,
      salt: String = "s1"): DataFrame = {
    require(k >= 1, "need k >= 1")
    val u = (pmod(polyhash(concat(col(idCol).cast("string"),
      lit(":" + salt))) * lit(2654435761L), lit(Dedup.P)) + 1)
      .cast("double") / lit(1000000008.0)
    val ranked = docs
      .withColumn("weight", weight.cast("double"))
      .filter(col("weight") > 0)
      .withColumn("skey", round(log(u) / col("weight"), 6))
      .withColumn("rank", row_number().over(Window
        .partitionBy(groupCols.map(col): _*)
        .orderBy(col("skey").desc, col(idCol))).cast("int"))
      .filter(col("rank") <= k)
    ranked.select(groupCols.map(col) ++ Seq(col(idCol), col("weight"),
      col("skey"), col("rank")): _*)
  }

  /** Rendezvous (highest-random-weight) shard assignment: each row goes
    * to the shard `s ∈ [0, k)` maximizing `polyhash(id # s)` (ties —
    * possible, the hash range is finite — break to the HIGHER shard, a
    * fixed total order). The HRW property is why this beats `hash % k`
    * for shard maps that get resized: growing k to k+1 moves ONLY the
    * rows whose new shard wins their argmax (≈ 1/(k+1) of them), where
    * modulo reshuffles nearly everything. Pure map-side expression over
    * a k-element literal array — fuses into codegen, no shuffle, no
    * state; null ids get a null shard rather than a fabricated bucket.
    *
    * The score is the Knuth-mixed hash (same decorrelation as
    * [[weightedSample]], and for the same reason): raw polyhash is
    * LINEAR, so `hash(id#s)` for adjacent shard digits differs only by
    * the digit — argmax would pick the HIGHEST digit for virtually every
    * id (measured: 500/500 rows on one shard). The multiplicative mix
    * breaks the lattice; the assignment is uniform after it.
    */
  def rendezvousAssign(docs: DataFrame, idCol: String, k: Int,
      outCol: String = "shard"): DataFrame = {
    require(k >= 1, "need at least one shard")
    val scored = transform(sequence(lit(0), lit(k - 1)), s =>
      struct(pmod(polyhash(concat(col(idCol).cast("string"), lit("#"),
        s.cast("string"))) * lit(2654435761L), lit(Dedup.P)).as("h"),
        s.as("s")))
    docs.withColumn(outCol, when(col(idCol).isNotNull,
      array_max(scored).getField("s").cast("int")))
  }

  /** Temperature-τ=½ sampling weights per source — the standard
    * multilingual/multi-source rebalancing step (`w_s ∝ p_s^τ`,
    * up-weighting tail sources, down-weighting the head): token share
    * per source as exact integer ppm, then `√share` as an INTEGER floor
    * square root and the final weights as exact ppm of the √-share
    * total. The floor-√ stays engine-exact because IEEE `sqrt` is
    * correctly rounded and non-square integers ≤ 10⁶ sit ≥ 5·10⁻⁴ away
    * from any integer — so the whole report hashes engine-stable with
    * no floating residue at all. τ is fixed at ½ precisely because it is
    * the one classic temperature with an exact integer form; other τ
    * need a float `pow` whose cross-engine stability this report
    * refuses to gamble on.
    *
    * Scale: one corpus scan (map-side token counting — the counting
    * expression never materializes a token array) into a source-grain
    * aggregate, pinned (it is read by its own total twice
    * — the single-pass audit rule), then arithmetic on the tiny frame.
    */
  /** Multi-epoch repetition schedule to a target source mix — the
    * UP-sampling dual of [[resampleToMix]] (which discards from
    * over-represented sources; this repeats under-represented ones —
    * what trainers do when the tail data is too valuable to leave at
    * one epoch). Per source, `n_epochs = max(1, weight_ppm DIV
    * share_ppm)`: the floor of the over-sampling ratio, so a source
    * already at/above its target runs one epoch and a 3× under-served
    * source runs 3. Output repeats every doc once per epoch with an
    * `epoch` index — the frame a shard-writer partitions by (doc,
    * epoch). Deterministic; a source below 1 ppm of docs has share 0,
    * which an explicit guard clamps to one epoch (the division is never
    * evaluated — under ANSI mode, default-on in Spark 4, `DIV 0` would
    * otherwise throw rather than yield null).
    *
    * Scale: one source-grain count (pinned — three derivations
    * read it), a dimension-sized repeat frame broadcast to the corpus,
    * and one `sequence` explode — the corpus is scanned once and never
    * shuffled.
    */
  def epochPlan(docs: DataFrame, srcCol: String, idCol: String,
      weights: DataFrame): DataFrame = {
    val counts = Pins.pin(
      docs.groupBy(col(srcCol)).agg(count(lit(1)).as("__n")))
    val tot = counts.select(sum(col("__n")).as("__tot"))
    val reps = Pins.pin(counts.crossJoin(broadcast(tot))
      .withColumn("__share", expr("(__n * 1000000) DIV __tot"))
      .join(weights.select(col("source").as(srcCol),
        col("weight_ppm").as("__w")), srcCol)
      .withColumn("n_epochs", when(col("__share") === 0L, lit(1L))
        .otherwise(greatest(lit(1L), expr("__w DIV __share"))))
      .select(col(srcCol), col("n_epochs")))
    docs.select(col(srcCol), col(idCol))
      .join(broadcast(reps), srcCol)
      .withColumn("epoch", explode(sequence(lit(1L), col("n_epochs"))))
  }

  def temperatureMixWeights(docs: DataFrame, srcCol: String,
      textCol: String): DataFrame = {
    val per = Pins.pin(docs.groupBy(col(srcCol).as("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(Text.tokenCount(col(textCol)).cast("long")).as("n_tokens")))
    val tot = per.select(sum(col("n_tokens")).as("__tot"))
    // Zero-denominator guards (ANSI mode, default-on in Spark 4, makes
    // DIV 0 a runtime error): __tot = 0 when every doc tokenizes empty
    // (all shares/weights 0 — callers like resampleToMix then emit
    // nothing, the sensible fixpoint); __stot = 0 when every share
    // floors to 0 ppm (> 10⁶ sub-ppm sources), same clamp.
    val shared = per.crossJoin(broadcast(tot))
      .withColumn("share_ppm", when(col("__tot") > 0L,
        expr("(n_tokens * 1000000) DIV __tot")).otherwise(lit(0L)))
      .withColumn("__s",
        floor(sqrt(col("share_ppm").cast("double"))).cast("long"))
    val stot = shared.select(sum(col("__s")).as("__stot"))
    shared.crossJoin(broadcast(stot))
      .withColumn("weight_ppm", when(col("__stot") > 0L,
        expr("(__s * 1000000) DIV __stot")).otherwise(lit(0L)))
      .select(col("source"), col("n_docs"), col("n_tokens"),
        col("share_ppm"), col("weight_ppm"))
  }

  /** Deterministic round-robin interleave across sources: global
    * position 1 goes to round-1 of the first source, position 2 to
    * round-1 of the second, … cycling until short sources exhaust — the
    * curriculum-shuffle a trainer wants when a corpus must mix sources
    * evenly WITHOUT a random permutation (reproducible, resumable,
    * engine-stable). `orderCols` must totally order rows within a
    * source (include a unique id).
    *
    * The global position is computed ARITHMETICALLY, not with a global
    * window: a row at within-source round `r` of source `s` is preceded
    * by `Σ_{s'} min(r−1, n_{s'})` rows from earlier rounds plus the
    * same-round rows of sources ordered before `s` that are long enough
    * to still participate — so one within-source window (parallel at
    * source grain) plus a broadcast of the tiny per-source-count frame
    * replaces the single-partition ORDER BY that would serialize a
    * 100 TB corpus through one task. The broadcast join is keyless by
    * construction (every row meets all #sources counts — fan-out =
    * #sources, dimension-sized, an audited BNLJ like the corpus-total
    * joins).
    */
  def interleaveSources(docs: DataFrame, srcCol: String,
      orderCols: Seq[String]): DataFrame = {
    val w = Window.partitionBy(col(srcCol)).orderBy(orderCols.map(col): _*)
    val ranked = docs.withColumn("round", row_number().over(w).cast("long"))
    val sizes = docs.groupBy(col(srcCol).as("__s"))
      .agg(count(lit(1)).as("__n"))
    ranked.crossJoin(broadcast(sizes))
      .groupBy((srcCol +: orderCols).map(col) :+ col("round"): _*)
      .agg(sum(least(col("round") - 1L, col("__n"))).as("__before"),
        sum(when(col("__s") < col(srcCol) && col("__n") >= col("round"),
          1L).otherwise(0L)).as("__peers"))
      .withColumn("pos", col("__before") + col("__peers") + 1L)
      .drop("__before", "__peers")
  }

  /** Exact deterministic downsample to a target source mix. Given
    * per-source target weights (ppm, e.g. [[temperatureMixWeights]]
    * output or hand-set), find the LARGEST corpus the current data can
    * supply at exactly that mix — the binding source is the one with the
    * least data relative to its weight (λ = min_s n_s·10⁶ / w_s) — and
    * keep exactly `floor(λ·w_s/10⁶)` docs per source, chosen by content
    * hash order (reproducible under retries, no RNG, engine-portable).
    *
    * Scale: the weights frame is source-grain (broadcast); selection is
    * one within-source window rank over `(polyhash(id), id)` — parallel
    * at source grain, never a global sort. The hash order also makes the
    * kept set STABLE as the corpus grows: a new doc displaces at most
    * one old doc per source, which is what incremental re-mixes want.
    *
    * Sources absent from `weights` are EXCLUDED from the output (the
    * count-weight join is inner): an unweighted source has no quota,
    * and emitting it unsampled would silently break the mix. Same
    * contract in [[epochPlan]]. Sources with `weight_ppm = 0` — which
    * [[temperatureMixWeights]] legitimately emits for sub-ppm sources
    * (`floor(√0) = 0`) — are excluded the same way: zero weight is zero
    * quota, and keeping them in the λ scan would divide by zero (a
    * runtime error under ANSI mode, default-on in Spark 4).
    */
  def resampleToMix(docs: DataFrame, srcCol: String, idCol: String,
      weights: DataFrame): DataFrame = {
    // λ over the joined (count, weight) frame: both sides source-grain.
    // Pinned — three consumers (λ, quota, and λ's own
    // crossJoin back) would otherwise re-execute the corpus count and
    // the whole weights subtree per branch (the single-pass audit rule;
    // q218's plan sweep showed 7 BNLJ before, 1 after).
    val counts = Pins.pin(docs.groupBy(col(srcCol)).agg(count(lit(1)).as("__n"))
      .join(weights.select(col("source").as(srcCol),
        col("weight_ppm").as("__w")).filter(col("__w") > 0L), srcCol))
    val lam = counts.select(min(expr("(__n * 1000000) DIV __w"))
      .as("__lam"))
    val quota = counts.crossJoin(broadcast(lam))
      .select(col(srcCol), expr("(__lam * __w) DIV 1000000").as("__keep"))
    val w = Window.partitionBy(col(srcCol))
      .orderBy(polyhash(col(idCol).cast("string")), col(idCol))
    docs.join(broadcast(quota), srcCol)
      .withColumn("__r", row_number().over(w).cast("long"))
      .filter(col("__r") <= col("__keep"))
      .drop("__r", "__keep")
  }
}

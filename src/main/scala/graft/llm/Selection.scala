package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.PolyHash.polyhash
import graft.engine.Pins
import graft.engine.Relational.orderedSum

/** Data-selection operators: the published techniques a training run uses
  * to CHOOSE documents, on top of the dedup/quality filters —
  * importance-resampling weights against a target domain (DSIR, Xie et
  * al. 2023 style: hashed-n-gram bag features, log likelihood ratio),
  * a hashed-token Naive Bayes classifier (the fastText-classifier shape
  * of the quality/domain filters in public corpus pipelines, train +
  * score wholly in aggregates), and global curriculum ordering (a total
  * position over the corpus by difficulty bucket without a global sort).
  *
  * Scale posture (100 TB): every model here is bucket- or label-grain —
  * hundreds of rows, broadcast — and every corpus pass is one explode +
  * one hash aggregate at (doc, bucket) grain with map-side combine.
  * Per-document float folds run over bucket-sorted arrays (≤ `nBuckets`
  * entries) so the IEEE summation order is deterministic under ANY
  * partitioning — results are retry- and engine-stable, which is what
  * makes them oracle-checkable by hash.
  */
object Selection {

  private val d38 = "decimal(38,0)"

  /** Per-document hashed-token bucket counts: one row per (doc, bucket)
    * with the token-instance count, plus the `extraCols` carried at doc
    * grain. Zero-token documents produce no rows (no evidence, no
    * likelihood) — callers re-attach them if their contract needs it.
    */
  private def docBucketCounts(docs: DataFrame, idCol: String,
      textCol: String, nBuckets: Int,
      extra: Seq[(Column, String)]): DataFrame =
    docs.select(col(idCol) +: explode(Text.tokens(col(textCol))).as("__w")
        +: extra.map { case (c, n) => c.as(n) }: _*)
      .withColumn("__b", pmod(polyhash(col("__w")), lit(nBuckets))
        .cast("int"))
      .drop("__w")
      .groupBy(col(idCol) +: col("__b") +: extra.map(e => col(e._2)): _*)
      .agg(count(lit(1)).as("__n"))

  /** DSIR-style importance weights: per-document log importance
    * `log p_target(doc) − log p_raw(doc)` under hashed-unigram bag
    * models with add-one smoothing — the Data Selection via Importance
    * Resampling recipe (hashed n-gram features; unigram grain here, the
    * caller pre-concatenates grams for higher orders). `targetPred`
    * marks the target-domain rows (e.g. a trusted source); the raw
    * model is the whole corpus. Documents that tokenize empty carry a
    * null `logw` (no evidence either way). Per-bucket log-ratios are
    * rounded 6 dp BEFORE the per-doc fold and the fold runs in bucket
    * order, so the output is bitwise engine-stable.
    *
    * Scale: two bucket-grain aggregates (≤ `nBuckets` rows each) build
    * the model, which broadcasts; the corpus sees one tokenize-explode
    * pass collapsed to (doc, bucket) grain with map-side combine, one
    * broadcast join, one doc-grain fold. Count totals follow the
    * repo-wide DECIMAL(38,0) discipline — not because raw totals
    * approach 2⁶³ (a 100 TB corpus is ~10¹³–10¹⁴ tokens), but so any
    * derived PRODUCT of two count frames stays out of the ANSI
    * long-overflow class without per-site analysis. The (doc,
    * bucket) frame is pinned: it has
    * three readers (raw model, target model, scoring), and storing the
    * ≤ 64-rows-per-doc counts once is strictly cheaper than
    * re-tokenizing the corpus per reader — the single-pass audit rule
    * applied to a corpus-grain (not dimension-grain) frame.
    */
  def dsirImportanceWeights(docs: DataFrame, idCol: String,
      textCol: String, targetPred: Column,
      nBuckets: Int = 64): DataFrame = {
    require(nBuckets >= 2, "need at least two hash buckets")
    val pd = Pins.pin(docBucketCounts(docs, idCol, textCol, nBuckets,
      Seq(targetPred -> "__tgt")))
    val raw = pd.groupBy("__b").agg(sum(col("__n")).cast(d38).as("__r"))
    val tgt = pd.filter(col("__tgt")).groupBy("__b")
      .agg(sum(col("__n")).cast(d38).as("__t"))
    val tot = raw.agg(sum(col("__r")).cast(d38).as("__rt"))
      .crossJoin(tgt.agg(coalesce(sum(col("__t")), lit(0)).cast(d38)
        .as("__tt")))
    val model = raw.join(tgt, Seq("__b"), "left").crossJoin(tot)
      .select(col("__b"), round(
        log((coalesce(col("__t"), lit(0)) + 1).cast("double") /
          (col("__tt") + nBuckets).cast("double")) -
        log((col("__r") + 1).cast("double") /
          (col("__rt") + nBuckets).cast("double")), 6).as("__lr"))
    val contrib = pd.join(broadcast(model), Seq("__b"))
      .withColumn("__c", col("__n").cast("double") * col("__lr"))
    // token total rides the SAME doc-grain aggregate as the fold — a
    // separate count + id-keyed join would shuffle the corpus twice
    val scored = orderedSum(contrib, Seq(col(idCol)), Seq(col("__b")),
      col("__c"), "__s", sum(col("__n")).as("__nt"))
    docs.select(col(idCol))
      .join(scored, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("__nt"), lit(0L)).cast("long").as("n_tokens"),
        round(col("__s"), 6).as("logw"))
  }

  /** Hashed-token Naive Bayes: train a multinomial NB model on the
    * `trainPred` rows (labels from `labelCol`, features = token counts
    * in `nBuckets` hash buckets, add-one smoothing over the bucket
    * vocabulary) and score the REMAINING rows, emitting the argmax
    * label per document — the classifier shape behind public
    * quality/domain filters, with train and inference both expressed as
    * aggregates (no driver-side model object; the "model" is a
    * labels×buckets broadcast frame).
    *
    * Output: one row per scored document with ≥ 1 token —
    * `(id, label, pred_label, score)` where `label` is the true value,
    * `score` the winning joint log-likelihood `ln prior + Σ_b n_b·ll_lb`
    * rounded 6 dp, and ties on the rounded score break toward the
    * smaller label string. Per-(label,bucket) log-likelihoods and
    * priors are rounded 6 dp before use and folds run in bucket order —
    * engine-stable like [[dsirImportanceWeights]].
    *
    * Scale: the model grid is |labels|×`nBuckets` (broadcast); scoring
    * is (doc, bucket) grain joined to the grid — fan-out |labels|,
    * collapsed immediately by the doc-grain fold; the rank window is
    * keyed per document over |labels| rows.
    */
  def nbTrainScore(docs: DataFrame, idCol: String, textCol: String,
      labelCol: String, trainPred: Column,
      nBuckets: Int = 64): DataFrame = {
    require(nBuckets >= 2, "need at least two hash buckets")
    val pd = Pins.pin(docBucketCounts(docs, idCol, textCol, nBuckets,
      Seq(col(labelCol) -> "__l", trainPred -> "__tr")))
    // class priors over TRAIN DOCS (token-bearing ones — the same rows
    // the likelihood model sees)
    val trainDocs = pd.filter(col("__tr"))
      .select(col(idCol), col("__l")).distinct()
    val prior = trainDocs.groupBy(col("__l"))
      .agg(count(lit(1)).cast(d38).as("__dl"))
    val nTrain = prior.agg(sum(col("__dl")).cast(d38).as("__dt"))
    val priors = prior.crossJoin(nTrain)
      .select(col("__l"), round(log(col("__dl").cast("double") /
        col("__dt").cast("double")), 6).as("__prior"))
    // per-(label, bucket) token counts on the FULL bucket grid, so
    // unseen (label, bucket) cells get the smoothed default
    val cnt = pd.filter(col("__tr")).groupBy(col("__l"), col("__b"))
      .agg(sum(col("__n")).cast(d38).as("__c"))
    val grid = priors.select(col("__l"))
      .crossJoin(spark_range_df(priors.sparkSession, nBuckets))
    val totL = cnt.groupBy(col("__l"))
      .agg(sum(col("__c")).cast(d38).as("__tl"))
    val model = grid.join(cnt, Seq("__l", "__b"), "left")
      .join(totL, Seq("__l"), "left")
      .select(col("__l"), col("__b"), round(log(
        (coalesce(col("__c"), lit(0)) + 1).cast("double") /
          (coalesce(col("__tl"), lit(0)) + nBuckets).cast("double")), 6)
        .as("__ll"))
    // score the held-out docs against every label
    val held = pd.filter(!col("__tr"))
      .select(col(idCol), col("__l").as("__true"), col("__b"), col("__n"))
    val folded = orderedSum(
      held.join(broadcast(model.withColumnRenamed("__l", "__pl")),
          Seq("__b"))
        .withColumn("__c2", col("__n").cast("double") * col("__ll")),
      Seq(col(idCol), col("__true"), col("__pl")), Seq(col("__b")),
      col("__c2"), "__s")
    val scoredAll = folded
      .join(broadcast(priors.withColumnRenamed("__l", "__pl")),
        Seq("__pl"))
      .withColumn("__score", round(col("__prior") + col("__s"), 6))
    val w = Window.partitionBy(col(idCol))
      .orderBy(col("__score").desc, col("__pl").asc)
    scoredAll.withColumn("__rk", row_number().over(w))
      .filter(col("__rk") === 1)
      .select(col(idCol), col("__true").as("label"),
        col("__pl").as("pred_label"), col("__score").as("score"))
  }

  /** Tiny 0..n-1 integer frame (bucket axis of the NB grid). */
  private def spark_range_df(spark: org.apache.spark.sql.SparkSession,
      n: Int): DataFrame =
    spark.range(n).select(col("id").cast("int").as("__b"))

  /** Global curriculum order: a TOTAL position over the corpus by
    * (difficulty bucket asc, deterministic hash shuffle within bucket)
    * — short-to-long length curriculum with reproducible within-level
    * shuffling — computed with NO global sort: per-bucket counts (a
    * bucket-grain frame) give broadcast exclusive prefix offsets, a
    * within-bucket window numbers rows, `pos = offset + row_number`.
    * The same two-level-numbering discipline as `interleaveSources`;
    * the only unpartitioned window runs over the bucket-grain counts
    * frame (≤ a few thousand rows at any corpus size with a sane
    * `bucketWidth`).
    *
    * Difficulty = whitespace token count; bucket = `n_tokens DIV
    * bucketWidth`. Output `(id, n_tokens, bucket, pos)`, `pos` 1-based
    * and dense over the whole corpus.
    */
  def curriculumOrder(docs: DataFrame, idCol: String, textCol: String,
      bucketWidth: Int = 32): DataFrame = {
    require(bucketWidth >= 1, "bucket width must be positive")
    // two readers (counts aggregate + final join) — materialize the
    // ~32-bytes/doc frame once rather than re-tokenizing the corpus
    // per reader (the single-pass audit rule)
    val staged = Pins.pin(docs.select(col(idCol),
        Text.tokenCount(col(textCol)).cast("long").as("n_tokens"))
      .withColumn("bucket", expr(s"n_tokens DIV $bucketWidth"))
      .withColumn("__h", polyhash(concat(lit("cur:"),
        col(idCol).cast("string")))))
    val counts = staged.groupBy(col("bucket"))
      .agg(count(lit(1)).as("__c"))
    val offs = counts.withColumn("__off", coalesce(
        sum(col("__c")).over(Window.orderBy(col("bucket"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("bucket"), col("__off"))
    val wIn = Window.partitionBy(col("bucket"))
      .orderBy(col("__h").asc, col(idCol).asc)
    staged.join(broadcast(offs), Seq("bucket"))
      .withColumn("pos", col("__off") + row_number().over(wIn))
      .select(col(idCol), col("n_tokens"), col("bucket"), col("pos"))
  }

  /** Leakage-safe sharding: route every document to a shard by the
    * rendezvous hash of its DUPLICATE-CLUSTER REPRESENTATIVE (its own
    * id when unclustered), so all members of a near-dup cluster land
    * in the SAME shard — the property that lets per-shard workers
    * finish dedup locally, and that keeps a later shard-level
    * train/eval split from placing a document's near-copy across the
    * boundary. `clusters` is the `(doc, cluster)` output of
    * [[Dedup.duplicateClusters]]. Output `(id, rep, shard)`.
    *
    * Scale: one id-keyed left join of the cluster map (pairs-grain,
    * ≪ corpus) onto the id projection, then the map-side rendezvous
    * scoring — no other shuffle; same-cluster co-location is exact by
    * construction (same rep → same hash → same shard).
    */
  def leakageSafeShards(docs: DataFrame, idCol: String,
      clusters: DataFrame, clusterIdCol: String, clusterCol: String,
      k: Int): DataFrame = {
    require(k >= 1, "need at least one shard")
    val reps = clusters.select(col(clusterIdCol).as(idCol),
      col(clusterCol).as("__cl"))
    val withRep = docs.select(col(idCol))
      .join(reps, Seq(idCol), "left")
      .withColumn("rep", coalesce(col("__cl"), col(idCol)))
    Shaping.rendezvousAssign(withRep, "rep", k)
      .select(col(idCol), col("rep"), col("shard"))
  }

  /** Contrastive pair mining over an embedding corpus: for each query,
    * its best POSITIVE (most similar non-self neighbor with cosine ≥
    * `posThr`) and the top-`k` HARD NEGATIVES (most similar neighbors
    * with cosine < `negCeil` — close enough to be hard, far enough to
    * be wrong) — the batch that contrastive embedding training mines
    * from its own corpus. Output `(query_id, role, rank, neighbor_id,
    * cos)` with role ∈ {'pos','neg'}, rank 1-based within role, cosine
    * rounded 6 dp, ties toward the smaller neighbor id.
    *
    * Scale: ONE scored pass (queries broadcast against the corpus, the
    * [[Similarity.bruteForceTopK]] discipline — the corpus is scanned
    * once and every cosine is evaluated once). The two roles are
    * DISJOINT (`posThr > negCeil`), so each candidate row is tagged
    * with its role map-side and ranked by a single window keyed on
    * (query_id, role); rows in the dead band `[negCeil, posThr)` — the
    * bulk of a typical corpus — never reach the exchange at all, and
    * the `rank <= k` filter's `WindowGroupLimit` pushdown truncates
    * what does. For corpus-×-corpus mining swap the broadcast side for
    * the LSH-bucketed candidates path (`Similarity.annTopK`) — same
    * output contract.
    */
  def contrastiveMine(corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, queryIdCol: String, k: Int,
      posThr: Double, negCeil: Double): DataFrame = {
    require(k >= 1 && posThr > negCeil,
      "need k >= 1 and a positive threshold above the negative ceiling")
    val q = broadcast(queries.select(col(queryIdCol).as("query_id"),
      col(vecCol).as("__qv")))
    val role = when(col("neighbor_id") =!= col("query_id") &&
        col("__cos") >= posThr, "pos")
      .when(col("__cos") < negCeil, "neg")
    val tagged = corpus.select(col(idCol).as("neighbor_id"),
        col(vecCol).as("__cv"))
      .join(q)
      .select(col("query_id"), col("neighbor_id"),
        Similarity.cosine(col("__qv"), col("__cv")).as("__cos"))
      .withColumn("role", role)
      .filter(col("role").isNotNull)
    val w = Window.partitionBy(col("query_id"), col("role"))
      .orderBy(col("__cos").desc, col("neighbor_id").asc)
    tagged.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .filter(col("role") === "neg" || col("rank") === 1)
      .select(col("query_id"), col("role"), col("rank"),
        col("neighbor_id"), round(col("__cos"), 6).as("cos"))
  }

  /** Stratified k-fold assignment: every row gets a fold in `0..k-1`,
    * dealt round-robin within its stratum in CONTENT-HASH order
    * (`fold = (hash-rank − 1) mod k`) — per-stratum fold sizes differ
    * by at most one, so label/source balance survives the split, and
    * the assignment is seedless: rerunning on the same data (any
    * partitioning, any row order) deals identical folds, which is what
    * makes a 100 TB cross-validation split reproducible without a
    * materialized assignment table.
    *
    * Output: `(id, stratum, fold)` — one row per input row.
    *
    * Scale: one hash-ordered window per stratum (group-keyed sort, no
    * global order), nothing else.
    */
  def kfoldAssign(df: DataFrame, stratumCol: String, idCol: String,
      k: Int): DataFrame = {
    require(k >= 2, "need k >= 2")
    df.select(col(idCol).as("id"),
        col(stratumCol).cast("string").as("stratum"))
      .withColumn("__h", pmod(polyhash(col("id").cast("string"))
        * lit(2654435761L), lit(1000000007L)))
      .withColumn("fold", expr(s"CAST((row_number() OVER (" +
        s"PARTITION BY stratum ORDER BY __h, id) - 1) % $k AS INT)"))
      .select(col("id"), col("stratum"), col("fold"))
  }

  /** Neyman-optimal stratified sample allocation (Neyman, JRSS 1934):
    * split a sampling `budget` across strata proportionally to
    * `n_h · σ_h` — the allocation that minimizes the variance of the
    * stratified mean estimator, i.e. how a pipeline decides WHERE to
    * spend its eval/annotation budget over sources before drawing the
    * sample (the drawing itself is [[stratifiedSample]]'s job).
    * σ_h is the population standard deviation from exact DECIMAL
    * sufficient stats; the weight total folds LEFT-TO-RIGHT over the
    * stratum-name-sorted weight array (the shared-association
    * discipline — no float `sum()` whose order the planner owns), and
    * integer seats are dealt by LARGEST REMAINDER (floor share, then
    * +1 to the largest fractional remainders, ties to the lexicographic
    * smaller stratum) so allocations sum EXACTLY to `budget`.
    *
    * Output: `(stratum, n, sigma, alloc)`; Σ alloc = budget.
    *
    * Scale: one group-grain aggregate (3 numbers per stratum), then
    * pure stratum-grain arithmetic — |strata| rows with one global
    * window over them. One scan, any N.
    */
  def neymanAllocation(df: DataFrame, stratumCol: String,
      valueCol: String, budget: Long): DataFrame = {
    require(budget >= 0, "need budget >= 0")
    val dec = org.apache.spark.sql.types.DecimalType(38, 12)
    val x = col(valueCol).cast(org.apache.spark.sql.types
      .DecimalType(18, 6))
    val g = df.filter(col(valueCol).isNotNull && col(stratumCol).isNotNull)
      .select(col(stratumCol).cast("string").as("stratum"), x.as("__x"))
      .groupBy(col("stratum"))
      .agg(count(lit(1)).as("n"), sum(col("__x")).cast(dec).as("__s"),
        sum(col("__x") * col("__x")).cast(dec).as("__ss"))
      .withColumn("__sigma", expr {
        val cs = graft.engine.Relational.decToDoubleSql("__s", 12)
        val css = graft.engine.Relational.decToDoubleSql("__ss", 12)
        s"sqrt(greatest(CAST(0 AS DOUBLE), " +
          s"$css / CAST(n AS DOUBLE) " +
          s"- ($cs / CAST(n AS DOUBLE)) " +
          s"* ($cs / CAST(n AS DOUBLE))))"
      })
      .withColumn("__w", expr("CAST(n AS DOUBLE) * __sigma"))
    // all-sigma-zero degenerates Neyman to PROPORTIONAL allocation
    // (equal variances make any split optimal; n-proportional is the
    // canonical choice and keeps the seat-dealing total-correct)
    val tot = orderedSum(g, Nil, Seq(col("stratum")), col("__w"), "__wtot",
      sum(col("n")).as("__ntot"))
    val shared = g.crossJoin(broadcast(tot))
      .withColumn("__share", expr(s"CASE WHEN __wtot > 0 THEN " +
        s"CAST($budget AS DOUBLE) * __w / __wtot " +
        s"ELSE CAST($budget AS DOUBLE) * CAST(n AS DOUBLE) " +
        s"/ CAST(__ntot AS DOUBLE) END"))
      .withColumn("__base", expr("CAST(floor(__share) AS BIGINT)"))
      .withColumn("__rem", expr("__share - floor(__share)"))
    val wAll = Window.partitionBy(lit(1))
    shared
      .withColumn("__deficit", lit(budget) - sum(col("__base")).over(wAll))
      .withColumn("__rk", row_number().over(Window.partitionBy(lit(1))
        .orderBy(col("__rem").desc, col("stratum"))))
      .withColumn("alloc", col("__base") +
        when(col("__rk") <= col("__deficit"), 1L).otherwise(0L))
      .select(col("stratum"), col("n"), round(col("__sigma"), 6)
        .as("sigma"), col("alloc"))
  }
}

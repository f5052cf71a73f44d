package graft.llm

import org.apache.spark.sql.{DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.engine.Pins
import graft.engine.Relational.orderedSum

/** Evaluation operators — the quality-measurement faces a training-data
  * pipeline runs AGAINST its own artifacts: clustering quality
  * (silhouette), retrieval quality (nDCG@k, complementing
  * [[Similarity.recallAtK]]), and classifier calibration (per-bin
  * reliability + ECE contributions). All three are probe-sampled or
  * candidate-grain: the corpus is scanned, never pairwise-exploded.
  */
object Eval {

  /** Shared engine/oracle formula fragments (ONE copy parsed by both
    * Spark `expr` and DuckDB — the repo's shared-fragment rule). */
  val silhouetteSql: String =
    "CASE WHEN greatest(a, b) > 0 THEN (b - a) / greatest(a, b) " +
      "ELSE CAST(0 AS DOUBLE) END"
  val dcgTermSql: String =
    "CASE WHEN nl = ql THEN CAST(1 AS DOUBLE) " +
      "/ (ln(CAST(rank + 1 AS DOUBLE)) / ln(CAST(2 AS DOUBLE))) " +
      "ELSE CAST(0 AS DOUBLE) END"
  val idcgTermSql: String =
    "CAST(1 AS DOUBLE) / (ln(CAST(i + 2 AS DOUBLE)) " +
      "/ ln(CAST(2 AS DOUBLE)))"
  val accSql: String = "CAST(n_correct AS DOUBLE) / CAST(n AS DOUBLE)"
  val confSql: String = "CAST(bin AS DOUBLE) / CAST(kk AS DOUBLE)"

  /** Probe-sampled silhouette score per label cluster (Rousseeuw, JCAM
    * 1987): for each probe, `a` = mean cosine distance (1 − cos) to its
    * own cluster's OTHER members, `b` = the nearest other cluster's mean
    * distance, `s = (b − a)/max(a, b)` (0 for the degenerate both-zero
    * case). Probes whose cluster has no other member, or that see no
    * other cluster, are skipped (the standard |C| > 1 proviso). Output:
    * `(label, n_probes, mean_sil)` — the per-cluster cohesion report a
    * user reads before trusting k-means/PQ cell assignments.
    *
    * Scale: probes broadcast ([[Similarity.bruteForceTopK]] posture —
    * the corpus is scanned ONCE and never shuffled); per-probe state
    * collapses to |labels| means before the tiny a/b reduction. Probe
    * count buys estimator precision, not asymptotics.
    */
  def silhouetteSampled(corpus: DataFrame, probes: DataFrame,
      idCol: String, vecCol: String, labelCol: String): DataFrame = {
    val p = broadcast(probes.select(col(idCol).as("qid"),
      col(vecCol).as("qv"), col(labelCol).as("ql")))
    val scored = corpus.select(col(idCol).as("nid"), col(vecCol).as("cv"),
        col(labelCol).as("nl"))
      .join(p)
      .filter(col("nid") =!= col("qid"))
      .select(col("qid"), col("ql"), col("nl"),
        round(Similarity.cosine(col("qv"), col("cv")), 6).as("cos"))
    val means = scored.groupBy(col("qid"), col("ql"), col("nl"))
      .agg(avg(lit(1.0) - col("cos")).as("d"))
    val ab = means.groupBy(col("qid"), col("ql"))
      .agg(max(when(col("nl") === col("ql"), col("d"))).as("a"),
        min(when(col("nl") =!= col("ql"), col("d"))).as("b"))
      .filter(col("a").isNotNull && col("b").isNotNull)
      .withColumn("s", expr(silhouetteSql))
    ab.groupBy(col("ql").as("label"))
      .agg(count(lit(1)).cast("int").as("n_probes"),
        round(avg(col("s")), 6).as("mean_sil"))
  }

  /** The probe frame `(query_id, qv, ql)` of `queries` and each probe's
    * cosine top-k over the corpus, self excluded, with both labels:
    * `(query_id, ql, neighbor_id, nl, cos, rank)` for rank ≤ k
    * ([[Similarity.cosineTopK]]) — the ranked list every rank metric
    * below grades.
    * The broadcast hint sits at the PROBE join only (r13, VERDICT
    * "what's wrong" #1): a frame-level broadcast of the probes rode into
    * the metrics' final left join with the probes as the OUTER side,
    * where Spark cannot build the left — the hint was logged dropped
    * (HintErrorLogger) and the intended broadcast silently became a
    * shuffle join.
    */
  private def labeledTopK(corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, labelCol: String, queryIdCol: String,
      k: Int): (DataFrame, DataFrame) = {
    val q = queries.select(col(queryIdCol).as("query_id"),
      col(vecCol).as("qv"), col(labelCol).as("ql"))
    (q, Similarity.cosineTopK(corpus.select(col(idCol).as("neighbor_id"),
        col(vecCol).as("cv"), col(labelCol).as("nl"))
      .join(broadcast(q))
      .filter(col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("ql"), col("neighbor_id"), col("nl"),
        Similarity.cosine(col("qv"), col("cv")).as("cos")), k))
  }

  /** nDCG@k retrieval quality (Järvelin & Kekäläinen, TOIS 2002) with
    * binary same-label relevance: each query retrieves its cosine top-k
    * (self excluded), DCG discounts hits by 1/log₂(rank+1), and the
    * ideal DCG normalizes by the best achievable ordering given the
    * query's total relevant count. Output: `(query_id, n_rel, dcg,
    * idcg, ndcg)` — the graded companion to [[Similarity.recallAtK]]
    * (recall counts hits; nDCG also charges for WHERE they ranked).
    *
    * Scale: queries broadcast, corpus scanned once, ranks reduced by a
    * |queries|-keyed window — the bruteForceTopK cost envelope; the
    * relevant-count join is label-grain. Swap the scorer for
    * [[Similarity.annTopK]]/[[Similarity.ivfPqTopK]] output to grade an
    * ANN index instead of the exact scan.
    */
  def ndcgAtK(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, labelCol: String, queryIdCol: String,
      k: Int): DataFrame = {
    val (q, top) = labeledTopK(corpus, queries, idCol, vecCol, labelCol,
      queryIdCol, k)
    val dcg = top.groupBy(col("query_id"))
      .agg(sum(expr(dcgTermSql)).as("dcg"))
    val labelCounts = corpus.groupBy(col(labelCol).as("ql"))
      .agg(count(lit(1)).as("nlab"))
    val nRel = q.join(broadcast(labelCounts), Seq("ql"))
      .select(col("query_id"), (col("nlab") - 1).as("n_rel"))
    val idcg = nRel.filter(col("n_rel") > 0)
      .select(col("query_id"),
        explode(sequence(lit(0L), least(col("n_rel"), lit(k.toLong)) - 1))
          .as("i"))
      .groupBy(col("query_id"))
      .agg(sum(expr(idcgTermSql)).as("idcg"))
    nRel.join(broadcast(dcg), Seq("query_id"), "left")
      .join(broadcast(idcg), Seq("query_id"), "left")
      .select(col("query_id"), col("n_rel").cast("int").as("n_rel"),
        round(coalesce(col("dcg"), lit(0.0)), 6).as("dcg"),
        round(col("idcg"), 6).as("idcg"),
        round(coalesce(col("dcg"), lit(0.0)) / col("idcg"), 6).as("ndcg"))
  }

  /** Truncated rank-biased-overlap weights: `W(m) = Σ_{d=m..k} p^(d−1)/d`
    * — a matched pair first seen at depth `m = max(rank_a, rank_b)`
    * contributes exactly this to `Σ_d p^(d−1)·|A_d ∩ B_d|/d`. Computed
    * once driver-side and shared VERBATIM with the oracle as a literal
    * table (the jlSigns hash-parity discipline), so both engines sum
    * identical doubles. */
  def rboWeights(p: Double, k: Int): Seq[Double] = {
    val terms = (1 to k).map(d => math.pow(p, d - 1) / d)
    (1 to k).map(m => terms.drop(m - 1).sum)
  }

  /** Truncated rank-biased overlap RBO@k (Webber, Moffat & Zobel,
    * "A Similarity Measure for Indefinite Rankings", TOIS 2010) between
    * two per-query rankings — the top-weighted agreement measure for
    * grading an ANN index against the exact scan: unlike recall@k it
    * charges MORE for disagreement near rank 1 (geometric weights p^d),
    * and unlike nDCG it needs no relevance labels. Inputs are two
    * `(queryIdCol, idCol, rankCol)` frames with ranks 1..k
    * ([[Similarity.bruteForceTopK]] / `annTopK` / `ivfPqTopK` output
    * shape). `rbo = (1−p)·Σ_matched W(max(ra, rb))` via [[rboWeights]].
    * Queries present in `a` but with no overlap report 0.
    *
    * Output: `(query_id, n_common, rbo)`.
    *
    * Scale: candidate-list grain throughout — the join keys on (query,
    * neighbor) over queries×k rows; the heavy corpus scans happened
    * upstream in whatever produced the rankings.
    */
  def rankBiasedOverlap(a: DataFrame, b: DataFrame, queryIdCol: String,
      idCol: String, rankCol: String, p: Double, k: Int): DataFrame = {
    require(p > 0 && p < 1 && k >= 1, "need 0 < p < 1, k >= 1")
    val w = rboWeights(p, k)
    val wArr = array(w.map(lit(_)): _*)
    val matched = a.select(col(queryIdCol).as("query_id"), col(idCol),
        col(rankCol).as("__ra"))
      .join(b.select(col(queryIdCol).as("query_id"), col(idCol),
        col(rankCol).as("__rb")), Seq("query_id", idCol))
      .filter(col("__ra") <= k && col("__rb") <= k)
      .select(col("query_id"),
        element_at(wArr, greatest(col("__ra"), col("__rb")).cast("int"))
          .as("__w"))
      .groupBy(col("query_id"))
      .agg(count(lit(1)).cast("int").as("n_common"),
        sum(col("__w")).as("__sw"))
    a.select(col(queryIdCol).as("query_id")).distinct()
      .join(matched, Seq("query_id"), "left")
      .select(col("query_id"),
        coalesce(col("n_common"), lit(0)).as("n_common"),
        round(lit(1.0 - p) * coalesce(col("__sw"), lit(0.0)), 6).as("rbo"))
  }

  /** k-NN classifier reliability diagram + ECE contributions: bin each
    * prediction by its vote count (confidence = votes/k — exact
    * rationals, so bins are integers end-to-end), and report per bin
    * the population, confidence, accuracy, |gap|, and the
    * population-weighted ECE contribution (Guo et al., "On Calibration
    * of Modern Neural Networks", ICML 2017 — the binned-ECE recipe;
    * Σ contrib = ECE). Output: one row per occupied bin.
    *
    * Scale: rides [[Similarity.knnClassify]] (queries broadcast, corpus
    * never shuffled); everything downstream is |queries|-grain counts —
    * integer-exact until the final per-bin ratios.
    */
  def knnCalibration(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, labelCol: String, queryIdCol: String,
      k: Int): DataFrame = {
    val preds = Similarity.knnClassify(corpus, queries, idCol, vecCol,
      labelCol, queryIdCol, k)
    val truth = queries.select(col(queryIdCol).as("query_id"),
      col(labelCol).as("true_label"))
    val joined = preds.join(truth, Seq("query_id"))
    val total = joined.agg(count(lit(1)).as("nq"))
    joined.groupBy(col("n_votes").as("bin"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("pred_label") === col("true_label"), 1L)
          .otherwise(0L)).as("n_correct"))
      .crossJoin(broadcast(total))
      .withColumn("kk", lit(k))
      .select(col("bin").cast("int").as("bin"), col("n").cast("int").as("n"),
        round(expr(confSql), 6).as("conf"),
        round(expr(accSql), 6).as("acc"),
        round(abs(expr(accSql) - expr(confSql)), 6).as("abs_gap"),
        round(expr("CAST(n AS DOUBLE) / CAST(nq AS DOUBLE)")
          * abs(expr(accSql) - expr(confSql)), 6).as("contrib"))
  }

  /** Split-conformal calibration quantile (Vovk et al., "Algorithmic
    * Learning in a Random World", 2005; the split-conformal recipe of
    * Papadopoulos et al., ECML 2002): per group, the
    * `⌈(n+1)(1−α)⌉`-th smallest nonconformity score — the threshold
    * that makes "predict everything with score ≤ q̂" a marginal
    * (1−α)-coverage rule on exchangeable data. THE distribution-free
    * way to turn any model's scores into calibrated prediction sets;
    * a pipeline computes it per source/segment on the calibration
    * split. The rank is exact integer arithmetic
    * (`((n+1)·(100−α) + 99) DIV 100`); a rank beyond `n` (tiny groups
    * at small α) means the guarantee needs the infinite quantile —
    * emitted as a null `q_hat` rather than a fabricated number.
    *
    * Output: `(groupCols…, n, rank, q_hat)`.
    *
    * Scale: one value-ordered window per group (exact-percentile cost
    * class) — the calibration split is small by design, so this runs
    * anywhere.
    */
  def conformalQuantile(df: DataFrame, groupCols: Seq[String],
      scoreCol: String, alphaPct: Int): DataFrame = {
    require(alphaPct >= 1 && alphaPct < 100, "need 1 <= alphaPct < 100")
    val keep = 100 - alphaPct
    val w = Window.partitionBy(groupCols.map(col): _*)
      .orderBy(col("__s"))
    df.filter(col(scoreCol).isNotNull)
      .select(groupCols.map(col) :+ col(scoreCol).cast("double")
        .as("__s"): _*)
      .withColumn("__rk", row_number().over(w))
      .withColumn("__n", count(lit(1)).over(
        Window.partitionBy(groupCols.map(col): _*)))
      .withColumn("__target", expr(s"((__n + 1) * $keep + 99) DIV 100"))
      .groupBy(groupCols.map(col): _*)
      .agg(max(col("__n")).as("n"), max(col("__target")).as("rank"),
        round(max(when(col("__rk") === col("__target"), col("__s"))), 6)
          .as("q_hat"))
  }

  /** Recommendation-list diversity report (Ziegler et al., WWW 2005
    * frame the intra-list metric): per query list, the mean pairwise
    * cosine DISTANCE (1 − cos) over its item pairs — high ILD = the
    * list isn't k near-duplicates, the metric [[Similarity.mmrRerank]]
    * moves — plus the global catalog coverage (distinct recommended
    * items over catalog size, ppm) repeated per row. The pair-distance
    * mean folds LEFT-TO-RIGHT over the (a, b)-sorted pair array — the
    * repo's shared-association discipline — so the float is
    * engine-stable.
    *
    * Input: `lists` with (queryCol, itemCol); `items` with (idCol,
    * vecCol) — the catalog.
    *
    * Output: `(query_id, n_items, ild, coverage_ppm)`.
    *
    * Scale: pair work is |lists|·k² (list-grain, never catalog-grain);
    * coverage is one distinct count joined as a one-row broadcast.
    */
  def intraListDiversity(lists: DataFrame, queryCol: String,
      itemCol: String, items: DataFrame, idCol: String,
      vecCol: String): DataFrame = {
    val l = lists.select(col(queryCol).as("query_id"),
      col(itemCol).as("item_id"))
    val withVec = l.join(items.select(col(idCol).as("item_id"),
      col(vecCol).as("__v")), Seq("item_id"))
    val pairs = withVec.select(col("query_id"),
        col("item_id").as("__a"), col("__v").as("__va"))
      .join(withVec.select(col("query_id"), col("item_id").as("__b"),
        col("__v").as("__vb")), Seq("query_id"))
      .filter(col("__a") < col("__b"))
      .select(col("query_id"), col("__a"), col("__b"),
        (lit(1.0) - Similarity.cosine(col("__va"), col("__vb")))
          .as("__d"))
    val perQuery = orderedSum(pairs, Seq(col("query_id")),
      Seq(col("__a"), col("__b")), col("__d"), "__sum",
      count(lit(1)).as("__np"))
    val counts = l.groupBy(col("query_id"))
      .agg(countDistinct(col("item_id")).cast("int").as("n_items"))
    val coverage = l.agg(countDistinct(col("item_id")).as("__rec"))
      .crossJoin(broadcast(
        items.agg(countDistinct(col(idCol)).as("__cat"))))
      .select(expr("(__rec * 1000000) DIV __cat").as("coverage_ppm"))
    counts.join(perQuery, Seq("query_id"), "left")
      .crossJoin(broadcast(coverage))
      .withColumn("ild", round(expr("CASE WHEN __np > 0 THEN " +
        "__sum / CAST(__np AS DOUBLE) END"), 6))
      .select(col("query_id"), col("n_items"), col("ild"),
        col("coverage_ppm"))
  }

  /** ROUGE-N between document pairs (Lin, "ROUGE: A Package for
    * Automatic Evaluation of Summaries", ACL WAS 2004): clipped n-gram
    * multiset overlap — per pair, `overlap = Σ_gram min(count_a,
    * count_b)`, precision `overlap / |A|`, recall `overlap / |B|` (B is
    * the reference side), F1 their harmonic mean. THE paired-text
    * quality metric: dedup QA (how much of a near-dup pair actually
    * overlaps), summary/rewrite evaluation, contamination forensics one
    * level finer than q87's boolean.
    *
    * Integer counts end-to-end; the three ratios are the only floats,
    * 6 dp. A side with fewer than `n` tokens has zero n-grams → its
    * ratio is null (0/0), and f1 is null unless both sides are
    * non-empty (p + r > 0 guards the division).
    *
    * Output: `(a_id, b_id, n_a, n_b, n_overlap, p, r, f1)`.
    *
    * Scale: gram counts collapse each doc to (doc, gram) grain in one
    * map-side-combined aggregate; each pair side is fetched by an
    * id-keyed join (pair-grain shuffles, never corpus×corpus), and the
    * clipped sum joins the two sides on (pair, gram) — the heaviest
    * frame is Σ pair gram-vocabulary, linear in pair count.
    */
  def rougeN(docs: DataFrame, pairs: DataFrame, idCol: String,
      textCol: String, aCol: String, bCol: String,
      n: Int): DataFrame = {
    require(n >= 1, "need n >= 1")
    val grams = docs.select(col(idCol).as("__id"),
        explode(graft.functions.TokenNgrams.tokenNgrams(col(textCol), n))
          .as("gram"))
      .groupBy(col("__id"), col("gram"))
      .agg(count(lit(1)).as("__c"))
    val totals = grams.groupBy(col("__id"))
      .agg(sum(col("__c")).as("__tot"))
    val p = pairs.select(col(aCol).as("a_id"), col(bCol).as("b_id"))
    val withA = p.join(grams.withColumnRenamed("__id", "a_id")
        .withColumnRenamed("__c", "__ca"), Seq("a_id"))
    val clipped = withA.join(grams
        .select(col("__id").as("b_id"), col("gram"),
          col("__c").as("__cb")), Seq("b_id", "gram"))
      .groupBy(col("a_id"), col("b_id"))
      .agg(sum(least(col("__ca"), col("__cb"))).as("n_overlap"))
    p.join(totals.select(col("__id").as("a_id"),
        col("__tot").as("n_a")), Seq("a_id"), "left")
      .join(totals.select(col("__id").as("b_id"),
        col("__tot").as("n_b")), Seq("b_id"), "left")
      .join(clipped, Seq("a_id", "b_id"), "left")
      .select(col("a_id"), col("b_id"),
        coalesce(col("n_a"), lit(0L)).as("n_a"),
        coalesce(col("n_b"), lit(0L)).as("n_b"),
        coalesce(col("n_overlap"), lit(0L)).as("n_overlap"))
      .withColumn("p", round(expr("CASE WHEN n_a > 0 THEN " +
        "CAST(n_overlap AS DOUBLE) / CAST(n_a AS DOUBLE) END"), 6))
      .withColumn("r", round(expr("CASE WHEN n_b > 0 THEN " +
        "CAST(n_overlap AS DOUBLE) / CAST(n_b AS DOUBLE) END"), 6))
      .withColumn("f1", round(expr("CASE WHEN n_a > 0 AND n_b > 0 " +
        "AND n_overlap > 0 THEN " +
        "2 * (CAST(n_overlap AS DOUBLE) / CAST(n_a AS DOUBLE)) " +
        "* (CAST(n_overlap AS DOUBLE) / CAST(n_b AS DOUBLE)) " +
        "/ (CAST(n_overlap AS DOUBLE) / CAST(n_a AS DOUBLE) " +
        "+ CAST(n_overlap AS DOUBLE) / CAST(n_b AS DOUBLE)) " +
        "WHEN n_a > 0 AND n_b > 0 THEN CAST(0 AS DOUBLE) END"), 6))
  }

  /** Shared engine/oracle BLEU-2 composition over the six integer
    * sufficient statistics (ONE copy parsed by both engines). */
  val bleu2Sql: String =
    "CASE WHEN c_len = 0 THEN NULL " +
      "WHEN p1_num = 0 OR p2_num = 0 OR p2_den = 0 " +
      "THEN CAST(0 AS DOUBLE) ELSE round(" +
      "(CASE WHEN c_len >= r_len THEN CAST(1 AS DOUBLE) " +
      "ELSE exp(CAST(1 AS DOUBLE) " +
      "- CAST(r_len AS DOUBLE) / CAST(c_len AS DOUBLE)) END) " +
      "* exp((ln(CAST(p1_num AS DOUBLE) / CAST(p1_den AS DOUBLE)) " +
      "+ ln(CAST(p2_num AS DOUBLE) / CAST(p2_den AS DOUBLE))) " +
      "/ CAST(2 AS DOUBLE)), 6) END"

  /** Mean-reciprocal-rank report of the exact cosine scan: for every
    * probe query, the rank of the FIRST same-label neighbor inside the
    * top `k` (self excluded) and its reciprocal in micro-units — the
    * first-hit retrieval metric ([[ndcgAtK]] grades the whole list;
    * MRR grades only how fast the first relevant result appears, the
    * number a "find one good example" retrieval loop actually feels).
    *
    * Output per query: `(query_id, first_rank, rr_micro)` with
    * `rr_micro = 10⁶ DIV first_rank` and `(null, 0)` on a top-k miss —
    * ALL-INTEGER output (ranks from the shared tie-broken ordering;
    * the corpus mean is `avg(rr_micro)` downstream), so the report
    * hashes engine-stable with no floating step at all.
    *
    * Scale: probes broadcast against the corpus ([[ndcgAtK]] posture);
    * the `rank ≤ k` filter sits directly over the per-query window so
    * the group-limit rule prunes to k per partition before the
    * exchange; nothing pairwise beyond the probe×corpus scan.
    */
  def mrrAtK(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, labelCol: String, queryIdCol: String,
      k: Int): DataFrame = {
    val (q, top) = labeledTopK(corpus, queries, idCol, vecCol, labelCol,
      queryIdCol, k)
    val firstRel = top.filter(col("nl") === col("ql"))
      .groupBy(col("query_id"))
      .agg(min(col("rank")).as("first_rank"))
    q.select(col("query_id"))
      .join(broadcast(firstRel), Seq("query_id"), "left")
      .select(col("query_id"),
        col("first_rank").cast("int").as("first_rank"),
        coalesce(expr("1000000 DIV first_rank"), lit(0L)).as("rr_micro"))
  }

  /** Expected reciprocal rank ERR@k (Chapelle et al., CIKM 2009) of
    * the exact cosine scan with same-label BINARY relevance: the
    * cascade-model metric — a relevant hit at rank r only pays off if
    * the user got past the earlier relevant hits, `ERR = Σ_r (1/r)·
    * R_r·Π_{i<r}(1−R_i)` — so redundant tail hits are discounted
    * harder than in nDCG/MRR. With binary grades `R ∈ {0, ½}`
    * ((2^g−1)/2^gmax at gmax = 1) the survival product collapses to
    * the exact dyadic `2^{−(relBefore+1)}`, and each relevant rank
    * contributes `round(10⁶·2^{−(relBefore+1)}/r)` — per-term-rounded
    * micro (the Adamic–Adar rule), summed exactly. Output per query:
    * `(query_id, n_rel_topk, err_micro)` — zero-hit queries report 0.
    *
    * Scale: the [[ndcgAtK]] plan verbatim — queries broadcast, corpus
    * never shuffled, WindowGroupLimit prunes to k per query before the
    * k-bounded rank window.
    */
  def errAtK(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, labelCol: String, queryIdCol: String,
      k: Int): DataFrame = {
    val (q, ranked) = labeledTopK(corpus, queries, idCol, vecCol,
      labelCol, queryIdCol, k)
    val top = ranked
      .withColumn("__rel", (col("nl") === col("ql")).cast("long"))
      .withColumn("__relBefore", coalesce(sum(col("__rel")).over(Window
        .partitionBy(col("query_id")).orderBy(col("rank"))
        .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("__term", when(col("__rel") === 1, expr(
        "CAST(round(1000000 * pow(0.5, __relBefore + 1) / rank) " +
          "AS BIGINT)")).otherwise(lit(0L)))
    val agg = top.groupBy(col("query_id"))
      .agg(sum(col("__rel")).as("n_rel_topk"),
        sum(col("__term")).as("err_micro"))
    q.select(col("query_id"))
      .join(broadcast(agg), Seq("query_id"), "left")
      .select(col("query_id"),
        coalesce(col("n_rel_topk"), lit(0L)).as("n_rel_topk"),
        coalesce(col("err_micro"), lit(0L)).as("err_micro"))
  }

  /** Rank-biased precision RBP@k (Moffat & Zobel, TOIS 2008) of the
    * exact cosine scan with same-label binary relevance: the
    * persistence-model metric — the user inspects rank i with
    * probability `p^{i−1}`, so `RBP = (1−p)·Σ_i rel_i·p^{i−1}` — the
    * top-weighted companion to [[errAtK]] whose discount depends only
    * on POSITION, not on earlier relevance (robust to unjudged tails,
    * the shallow-pool evaluation readout). With the rational
    * persistence `p = pNum/pDen`, the rank-i weight is the EXACT
    * integer `w_micro(i) = (10⁶·pNum^{i−1}) DIV pDen^i` (one floor per
    * rank — `(1−p)·p^{i−1}` multiplied through; `10⁶·pNum^{k−1}` stays
    * inside int64 for every k ≤ 20 at the default 4/5), so
    * `rbp_micro = Σ rel_i·w_micro(i)` is summed exactly — no float
    * anywhere. Output per query: `(query_id, n_rel_topk, rbp_micro)` —
    * zero-hit queries report 0.
    *
    * Scale: the [[errAtK]] plan verbatim — queries broadcast, corpus
    * never shuffled, WindowGroupLimit prunes to k per query before the
    * k-bounded rank window.
    */
  def rbpAtK(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, labelCol: String, queryIdCol: String, k: Int,
      pNum: Int = 4, pDen: Int = 5): DataFrame = {
    require(k >= 1 && k <= 20, "need 1 <= k <= 20 (exact int64 weights)")
    require(pNum >= 1 && pDen > pNum, "persistence must be in (0, 1)")
    val (q, ranked) = labeledTopK(corpus, queries, idCol, vecCol,
      labelCol, queryIdCol, k)
    val top = ranked
      .withColumn("__rel", (col("nl") === col("ql")).cast("long"))
      // integer powers via double pow: pNum^(i-1), pDen^i <= 5^20 < 2^53,
      // double-exact, rounded to kill fp dust before the BIGINT floor
      .withColumn("__w", expr(
        s"CAST(round(1000000 * power($pNum, rank - 1)) AS BIGINT) DIV " +
          s"CAST(round(power($pDen, rank)) AS BIGINT)"))
    val agg = top.groupBy(col("query_id"))
      .agg(sum(col("__rel")).as("n_rel_topk"),
        sum(col("__rel") * col("__w")).as("rbp_micro"))
    q.select(col("query_id"))
      .join(broadcast(agg), Seq("query_id"), "left")
      .select(col("query_id"),
        coalesce(col("n_rel_topk"), lit(0L)).as("n_rel_topk"),
        coalesce(col("rbp_micro"), lit(0L)).as("rbp_micro"))
  }

  /** Pairwise BLEU-2 (Papineni et al., ACL 2002) over candidate /
    * reference text pairs: modified (clipped) unigram and bigram
    * precisions with the brevity penalty — the n-gram PRECISION eval
    * (how much of the candidate is in the reference) where [[rougeN]]
    * is its recall-side mirror on the same clipped-overlap counts.
    *
    * Output per pair: `(cand_id, ref_id, c_len, r_len, p1_num, p1_den,
    * p2_num, p2_den, bleu)` — six exact integer sufficient statistics
    * (clip = Σ min(count_cand, count_ref) at gram grain) plus ONE
    * float composition `BP·exp((ln p₁ + ln p₂)/2)` shared verbatim
    * with the oracle ([[bleu2Sql]]), rounded 6 dp; an empty candidate
    * is null, a zero clipped count is an exact 0.
    *
    * Scale: gram counts collapse to (doc, gram, cnt) grain map-side,
    * pairs semi-drive the joins (only paired docs' grams move), the
    * clip join is key-equi at (doc, gram) — the [[rougeN]] plan shape,
    * nothing pairwise beyond the declared pair list.
    */
  def bleuCorpus(docs: DataFrame, pairs: DataFrame, idCol: String,
      textCol: String, candCol: String, refCol: String): DataFrame = {
    val p = pairs.select(col(candCol).as("cand_id"),
      col(refCol).as("ref_id"))
    def gramCounts(n: Int) = docs.select(col(idCol).as("__id"),
        explode(graft.functions.TokenNgrams.tokenNgrams(col(textCol), n))
          .as("gram"))
      .groupBy(col("__id"), col("gram"))
      .agg(count(lit(1)).as("__c"))
    def stats(n: Int): DataFrame = {
      val g = gramCounts(n)
      val tot = g.groupBy(col("__id")).agg(sum(col("__c")).as("__tot"))
      val ov = p.join(g.select(col("__id").as("cand_id"), col("gram"),
          col("__c").as("__ca")), Seq("cand_id"))
        .join(g.select(col("__id").as("ref_id"), col("gram"),
          col("__c").as("__cb")), Seq("ref_id", "gram"))
        .groupBy(col("cand_id"), col("ref_id"))
        .agg(sum(least(col("__ca"), col("__cb"))).as(s"p${n}_num"))
      p.join(tot.select(col("__id").as("cand_id"),
          col("__tot").as(s"p${n}_den")), Seq("cand_id"), "left")
        .join(ov, Seq("cand_id", "ref_id"), "left")
        .select(col("cand_id"), col("ref_id"),
          coalesce(col(s"p${n}_den"), lit(0L)).as(s"p${n}_den"),
          coalesce(col(s"p${n}_num"), lit(0L)).as(s"p${n}_num"))
    }
    val refLen = docs.select(col(idCol).as("ref_id"),
      graft.llm.Text.tokenCount(col(textCol)).cast("long").as("r_len"))
    stats(1).join(stats(2), Seq("cand_id", "ref_id"))
      .join(refLen, Seq("ref_id"), "left")
      .select(col("cand_id"), col("ref_id"),
        col("p1_den").as("c_len"), coalesce(col("r_len"), lit(0L))
          .as("r_len"),
        col("p1_num"), col("p1_den"), col("p2_num"), col("p2_den"))
      .withColumn("bleu", expr(bleu2Sql))
  }

  /** chrF evaluation score (Popović 2015) over declared (candidate,
    * reference) pairs — CHARACTER n-gram F-score, the metric family
    * that survives tokenizer mismatch and morphology-rich languages
    * where word-level BLEU ([[bleuCorpus]]) under-credits. Computed
    * over char 1- and 2-grams of the whitespace-normalized lowercase
    * text (the [[Text.tokens]] normalization re-joined with single
    * spaces) with β = 2 — and with that β the per-order F collapses to
    * the EXACT integer rational `F_n = 5·m/(4·r + h)` (m = clipped
    * match count, h/r = hypothesis/reference totals: multiply
    * `5PR/(4P+R)` through by `hr/m`), so the whole metric is two micro
    * floor divisions and their average — no float anywhere.
    * `chrf_micro` is null when either order has an empty denominator
    * pair (e.g. both texts shorter than 2 chars); a one-sided empty
    * text scores 0, not null.
    *
    * Output: `(cand_id, ref_id, m1, h1, r1, m2, h2, r2, f1_micro,
    * f2_micro, chrf_micro)`.
    *
    * Scale: char-gram counts FOLD ROW-LOCAL in the native
    * [[graft.functions.CharGramCounts]] codegen expression (gram → count
    * map per doc in one scan), so the exploded model frame is
    * alphabet-bounded from birth (≤ 37ⁿ gram types per doc under this
    * normalization, vs one row per character position in the composed
    * form) and the (doc, gram) aggregate exchange disappears — the sf10
    * spill fix. Per-doc totals are arithmetic (`len − n + 1`), not an
    * aggregate. Pairs semi-drive the clip joins; nothing pairwise
    * beyond the declared pair list.
    */
  def chrFCorpus(docs: DataFrame, pairs: DataFrame, idCol: String,
      textCol: String, candCol: String, refCol: String): DataFrame = {
    val p = pairs.select(col(candCol).as("cand_id"),
      col(refCol).as("ref_id"))
    val norm = docs.select(col(idCol).as("__id"),
      array_join(graft.llm.Text.tokens(col(textCol)), " ").as("__n"))
    def gramCounts(n: Int) = norm.select(col("__id"),
        explode(graft.functions.CharGramCounts
          .charGramCounts(col("__n"), n)))
      .select(col("__id"), col("key").as("gram"), col("value").as("__c"))
    def stats(n: Int): DataFrame = {
      val g = gramCounts(n)
      // total n-grams of a length-L string is max(L − n + 1, 0) — one
      // arithmetic column, no aggregate; empty texts report 0 (the
      // composed form had no row there, coalesced to 0 downstream)
      val tot = norm.select(col("__id"),
        greatest(length(col("__n")) - (n - 1), lit(0)).cast("long")
          .as("__tot"))
      val ov = p.join(g.select(col("__id").as("cand_id"), col("gram"),
          col("__c").as("__ca")), Seq("cand_id"))
        .join(g.select(col("__id").as("ref_id"), col("gram"),
          col("__c").as("__cb")), Seq("ref_id", "gram"))
        .groupBy(col("cand_id"), col("ref_id"))
        .agg(sum(least(col("__ca"), col("__cb"))).as(s"m$n"))
      p.join(tot.select(col("__id").as("cand_id"),
          col("__tot").as(s"h$n")), Seq("cand_id"), "left")
        .join(tot.select(col("__id").as("ref_id"),
          col("__tot").as(s"r$n")), Seq("ref_id"), "left")
        .join(ov, Seq("cand_id", "ref_id"), "left")
        .select(col("cand_id"), col("ref_id"),
          coalesce(col(s"m$n"), lit(0L)).as(s"m$n"),
          coalesce(col(s"h$n"), lit(0L)).as(s"h$n"),
          coalesce(col(s"r$n"), lit(0L)).as(s"r$n"))
    }
    def fMicro(n: Int) =
      expr(s"CASE WHEN 4 * r$n + h$n > 0 THEN " +
        s"m$n * 5000000 DIV (4 * r$n + h$n) END")
    stats(1).join(stats(2), Seq("cand_id", "ref_id"))
      .withColumn("f1_micro", fMicro(1))
      .withColumn("f2_micro", fMicro(2))
      .withColumn("chrf_micro",
        expr("CASE WHEN f1_micro IS NOT NULL AND f2_micro IS NOT NULL " +
          "THEN (f1_micro + f2_micro) DIV 2 END"))
  }

  /** ROUGE-L (Lin 2004) over declared (candidate, reference) pairs —
    * longest-common-subsequence F-score, the order-sensitive companion
    * of [[rougeN]] (n-gram recall rewards local phrase overlap; LCS
    * rewards sentence-level structure without contiguity). β = 1, so
    * the score is the EXACT integer rational `2·LCS·10⁶ DIV (lc+lr)` —
    * no float anywhere. Both token sequences are truncated to
    * `maxTokens` before the quadratic LCS (the per-pair cost bound —
    * O(maxTokens²) via the native [[graft.functions.LcsTokens]]
    * codegen expression). A pair with two empty (post-truncation)
    * sides reports null; one empty side scores 0.
    *
    * Output: `(cand_id, ref_id, c_len, r_len, lcs, rouge_l_micro)` —
    * lengths are post-truncation.
    *
    * Scale: tokenization collapses per doc (one corpus scan), pairs
    * semi-drive the join — the [[bleuCorpus]] posture — and the LCS
    * runs row-local inside whole-stage codegen.
    */
  def rougeL(docs: DataFrame, pairs: DataFrame, idCol: String,
      textCol: String, candCol: String, refCol: String,
      maxTokens: Int): DataFrame = {
    require(maxTokens >= 1, "maxTokens must be positive")
    val p = pairs.select(col(candCol).as("cand_id"),
      col(refCol).as("ref_id"))
    val toks = docs.select(col(idCol).as("__id"),
      slice(graft.llm.Text.tokens(col(textCol)), 1, maxTokens)
        .as("__t"))
    p.join(toks.select(col("__id").as("cand_id"), col("__t").as("__ta")),
        Seq("cand_id"), "left")
      .join(toks.select(col("__id").as("ref_id"), col("__t").as("__tb")),
        Seq("ref_id"), "left")
      .select(col("cand_id"), col("ref_id"),
        coalesce(size(col("__ta")), lit(0)).cast("long").as("c_len"),
        coalesce(size(col("__tb")), lit(0)).cast("long").as("r_len"),
        coalesce(graft.functions.LcsTokens.lcsTokens(col("__ta"),
          col("__tb")), lit(0)).cast("long").as("lcs"))
      .withColumn("rouge_l_micro",
        expr("CASE WHEN c_len + r_len > 0 THEN " +
          "lcs * 2000000 DIV (c_len + r_len) END"))
  }

  /** Label homophily of the k-NN graph — per query label, the fraction
    * of nearest-neighbor edges landing on a SAME-label neighbor: the
    * embedding-space cluster-coherence probe that reads the structure
    * [[knnCalibration]] only sees through prediction accuracy (high
    * homophily = labels form tight regions; low = the space mixes
    * classes and any label-based selection built on it will leak).
    * Self-edges are excluded BEFORE ranking, so every query
    * contributes exactly `k` non-self neighbors; rows with null labels
    * are excluded on both sides (no label, no homophily evidence).
    *
    * Output per label: `(label, n_queries, n_edges, n_same,
    * homophily_ppm)` — exact integer ppm.
    *
    * Scale: the [[Similarity.bruteForceTopK]] posture — queries
    * broadcast, corpus scanned once, per-query WindowGroupLimit top-k;
    * the label join runs at the queries×k edge grain, never the
    * corpus; output is label-grain.
    */
  def knnLabelHomophily(corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, labelCol: String,
      queryIdCol: String, k: Int): DataFrame = {
    require(k >= 1, "k must be positive")
    val q = broadcast(queries
      .filter(col(labelCol).isNotNull && col(vecCol).isNotNull)
      .select(col(queryIdCol).as("query_id"), col(vecCol).as("qvec"),
        col(labelCol).as("q_label")))
    Similarity.cosineTopK(corpus
      .filter(col(labelCol).isNotNull && col(vecCol).isNotNull)
      .select(col(idCol).as("neighbor_id"), col(vecCol).as("cvec"),
        col(labelCol).as("n_label"))
      .join(broadcast(q))
      .filter(col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("q_label"), col("neighbor_id"),
        col("n_label"),
        Similarity.cosine(col("qvec"), col("cvec")).as("cos")), k)
      .groupBy(col("q_label").as("label"))
      .agg(countDistinct(col("query_id")).as("n_queries"),
        count(lit(1)).as("n_edges"),
        sum(when(col("n_label") === col("q_label"), 1L).otherwise(0L))
          .as("n_same"))
      .withColumn("homophily_ppm", expr("(n_same * 1000000) DIV n_edges"))
  }

  /** Word error rate over declared (candidate, reference) pairs — the
    * token-level Levenshtein distance normalized by reference length
    * (`wer = dist / r_len`, ASR/translation convention; substituting
    * one word is ONE error however long the word, which is why Spark's
    * character-level `levenshtein` is the wrong tool). The distance is
    * the native [[graft.functions.EditDistTokens]] codegen expression
    * (unit insert/delete/substitute); both sides truncate to
    * `maxTokens` first (the [[rougeL]] quadratic-cost contract), and
    * `wer_micro = dist·10⁶ DIV r_len` is an exact integer — null when
    * the reference is empty (no denominator), a missing side counts as
    * the empty sequence (all-insert/all-delete cost, never a silent
    * null distance). WER can exceed 10⁶ (more errors than reference
    * words) — that is the metric, not a bug.
    *
    * Output: `(cand_id, ref_id, c_len, r_len, edit_dist, wer_micro)`.
    *
    * Scale: the [[rougeL]] posture verbatim — one tokenize scan, pairs
    * semi-drive two id-keyed joins, DP runs row-local inside
    * whole-stage codegen.
    */
  def wer(docs: DataFrame, pairs: DataFrame, idCol: String,
      textCol: String, candCol: String, refCol: String,
      maxTokens: Int): DataFrame = {
    require(maxTokens >= 1, "maxTokens must be positive")
    val p = pairs.select(col(candCol).as("cand_id"),
      col(refCol).as("ref_id"))
    val toks = docs.select(col(idCol).as("__id"),
      slice(graft.llm.Text.tokens(col(textCol)), 1, maxTokens)
        .as("__t"))
    p.join(toks.select(col("__id").as("cand_id"), col("__t").as("__ta")),
        Seq("cand_id"), "left")
      .join(toks.select(col("__id").as("ref_id"), col("__t").as("__tb")),
        Seq("ref_id"), "left")
      .select(col("cand_id"), col("ref_id"),
        coalesce(size(col("__ta")), lit(0)).cast("long").as("c_len"),
        coalesce(size(col("__tb")), lit(0)).cast("long").as("r_len"),
        graft.functions.EditDistTokens.editDistTokens(
          coalesce(col("__ta"), expr("CAST(array() AS ARRAY<STRING>)")),
          coalesce(col("__tb"), expr("CAST(array() AS ARRAY<STRING>)")))
          .cast("long").as("edit_dist"))
      .withColumn("wer_micro",
        expr("CASE WHEN r_len > 0 THEN edit_dist * 1000000 DIV r_len END"))
  }

  /** Average precision (the exact area under the precision–recall
    * step curve, the `average_precision_score` convention: AP =
    * Σ_thresholds ΔR·P) of a score column against a binary label, per
    * group — THE threshold-free ranking metric for imbalanced labels,
    * where ROC-AUC (≡ the q194 Mann–Whitney U up to normalization —
    * deliberately not duplicated) saturates. Tie-aware by
    * construction: rows collapse to (group, score) grain FIRST, so a
    * tie block contributes one threshold with the block-end precision,
    * exactly the step-integration convention.
    *
    * Engine-stable arithmetic: per threshold, `ΔR·P = (tp_s/n_pos)·
    * (cumPos_s/cumAll_s)`; each term is micro-floored as
    * `(tp_s·cumPos_s·10⁶) DIV cumAll_s` (the q307 per-term discipline
    * — denominators vary per term, so an exact rational sum does not
    * exist) and summed in DECIMAL(38,0); `ap_micro = Σ DIV n_pos`,
    * `ap` the one rounded float. A group with no positives emits null
    * AP (no curve to integrate), never a silent zero.
    *
    * Output per group: `(groupCols…, n_pos, n_neg, ap_micro, ap)`.
    *
    * Scale: one map-side-combined collapse to (group, score) grain,
    * then one prefix-sum window per group over the SCORE LATTICE —
    * bounded by the value domain (cents-grain here), not the row
    * count, the [[graft.engine.Relational.equiDepthBins]] cost class;
    * at an unbounded score domain, route through the ecdfPaired
    * two-level bucket trick instead.
    */
  def averagePrecision(df: DataFrame, groupCols: Seq[String],
      scoreCol: String, labelCol: String): DataFrame = {
    val d38 = "decimal(38,0)"
    val g = groupCols.map(col)
    val c = df
      .filter(col(scoreCol).isNotNull && col(labelCol).isNotNull)
      .groupBy(g :+ col(scoreCol).as("__score"): _*)
      .agg(sum(when(col(labelCol) =!= 0, 1L).otherwise(0L)).as("__pos"),
        count(lit(1)).as("__all"))
    val w = Window.partitionBy(g: _*).orderBy(col("__score").desc)
      .rowsBetween(Window.unboundedPreceding, 0)
    c.withColumn("__cumPos", sum(col("__pos")).over(w))
      .withColumn("__cumAll", sum(col("__all")).over(w))
      .withColumn("__term", expr(
        s"(CAST(__pos AS $d38) * __cumPos * 1000000) DIV __cumAll"))
      .groupBy(g: _*)
      .agg(sum(col("__pos")).as("__npos"),
        sum(col("__all") - col("__pos")).as("__nneg"),
        sum(col("__term").cast(d38)).as("__s"))
      .select(g ++ Seq(col("__npos").cast("long").as("n_pos"),
        col("__nneg").cast("long").as("n_neg"),
        when(col("__npos") > 0, expr("__s DIV __npos")).cast("long")
          .as("ap_micro"),
        when(col("__npos") > 0,
          round(col("__s").cast("double") / 1e6 /
            col("__npos").cast("double"), 6)).as("ap")): _*)
  }

  /** Kendall rank-correlation of two top-k rankings per query
    * (Kendall, Biometrika 1938), on the items COMMON to both lists —
    * the pair-concordance view of ranker agreement where [[
    * rankBiasedOverlap]] is the top-weighted overlap view: RBO sees
    * WHAT both rankers surfaced, tau sees whether they ORDER the
    * shared items the same way. Ranks inside a top-k list are strict
    * (row_number), so tau-a = tau-b = `(C − D) / (n(n−1)/2)`;
    * concordant/discordant are exact integer pair counts and `tau` is
    * the one rounded float; a query with fewer than 2 common items
    * has no pairs — null tau, never a fabricated 1.
    *
    * Output per query: `(query_id, n_common, concordant, discordant,
    * tau)` — every query in `a` appears (left join), zero-common
    * queries carry n_common = 0.
    *
    * Scale: the common-item frame is (query, ≤k) grain; the pair
    * explosion is a key-equi self-join on query_id — ≤ k²/2 rows per
    * query by construction, never corpus-pairwise.
    */
  def kendallTauLists(a: DataFrame, b: DataFrame, queryIdCol: String,
      idCol: String, rankCol: String): DataFrame = {
    val aa = a.select(col(queryIdCol).as("query_id"),
      col(idCol).as("__id"), col(rankCol).as("__ra"))
    val bb = b.select(col(queryIdCol).as("query_id"),
      col(idCol).as("__id"), col(rankCol).as("__rb"))
    val m = aa.join(bb, Seq("query_id", "__id"))
    val x = m.select(col("query_id"), col("__id").as("__i1"),
      col("__ra").as("__ra1"), col("__rb").as("__rb1"))
    val y = m.select(col("query_id"), col("__id").as("__i2"),
      col("__ra").as("__ra2"), col("__rb").as("__rb2"))
    val sgn = (col("__ra1") - col("__ra2")) *
      (col("__rb1") - col("__rb2"))
    val perQ = x.join(y, Seq("query_id"))
      .filter(col("__i1") < col("__i2"))
      .groupBy(col("query_id"))
      .agg(sum(when(sgn > 0, 1L).otherwise(0L)).as("__c"),
        sum(when(sgn < 0, 1L).otherwise(0L)).as("__d"))
    val nC = m.groupBy(col("query_id"))
      .agg(count(lit(1)).as("__n"))
    a.select(col(queryIdCol).as("query_id")).distinct()
      .join(nC, Seq("query_id"), "left")
      .join(perQ, Seq("query_id"), "left")
      .select(col("query_id"),
        coalesce(col("__n"), lit(0L)).cast("int").as("n_common"),
        coalesce(col("__c"), lit(0L)).cast("long").as("concordant"),
        coalesce(col("__d"), lit(0L)).cast("long").as("discordant"),
        when(col("__n") >= 2, round(
          (coalesce(col("__c"), lit(0L)) - coalesce(col("__d"), lit(0L)))
            .cast("double") * 2 /
            (col("__n") * (col("__n") - 1)).cast("double"), 6))
          .as("tau"))
  }

  // ---------------------------------------- inter-rater agreement family

  /** Fleiss' kappa (Fleiss, Psych. Bull. 1971) over a long-format
    * rating frame `(item, category)` — one row per individual rating —
    * for a FIXED rater count `nRaters` per item (items with any other
    * rating count are dropped, the constant-n requirement of the
    * statistic). The multi-rater chance-corrected agreement behind
    * "do my weak labelers agree" audits; the multi-rater
    * generalization of the pairwise kappa (q208).
    *
    * Exact-integer core: with per-item-category counts `n_ij`,
    * `S = Σ n_ij(n_ij−1)` and category totals `c_j`, `C = Σ c_j²`,
    * `P̄ = S/(N·n(n−1))`, `P_e = C/(N²n²)`, and
    * `κ = (S·N·n − C·(n−1)) / ((n−1)·(N²n² − C))` — all BIGINT until
    * the final 6-dp division (products ≤ ~4·10¹⁵ at 15M items / 3
    * raters, inside int64). Output: one row
    * `(n_items, s_sum, c_sq, p_bar, p_e, kappa)`.
    *
    * Scale: one (item,category) count aggregate, one item-grain and
    * one category-grain reduction, then 1-row cross joins — nothing
    * wider than the rating frame itself is ever shuffled.
    */
  def fleissKappa(ratings: DataFrame, itemCol: String,
      categoryCol: String, nRaters: Int): DataFrame = Pins.scoped { s =>
    require(nRaters >= 2, "fleiss kappa needs >= 2 raters")
    val n = nRaters.toLong
    val cell = ratings.groupBy(col(itemCol).as("__it"),
        col(categoryCol).as("__cat"))
      .agg(count(lit(1)).as("__cnt"))
    val perItem = cell.groupBy(col("__it"))
      .agg(sum(col("__cnt")).as("__m"),
        sum(col("__cnt") * (col("__cnt") - 1)).as("__s"))
    val kept = s.pin(perItem.filter(col("__m") === n))
    val glob = kept.agg(count(lit(1)).as("n_items"),
      coalesce(sum(col("__s")), lit(0L)).as("s_sum"))
    val catTot = cell.join(kept.select(col("__it")), Seq("__it"))
      .groupBy(col("__cat")).agg(sum(col("__cnt")).as("__cj"))
      .agg(coalesce(sum(col("__cj") * col("__cj")), lit(0L)).as("c_sq"))
    // n_items = 0 (no item kept the constant-n contract) must report
    // NULL, not 0/0 NaN — the when(n > 0) discipline of the sibling
    // stats ops (kruskalWallis, mcc); kappa additionally guards its own
    // denominator (0 when P_e = 1, e.g. a single-category panel).
    glob.crossJoin(catTot)
      .withColumn("p_bar", when(col("n_items") > 0,
        round(col("s_sum").cast("double") /
          (col("n_items") * n * (n - 1)).cast("double"), 6)))
      .withColumn("p_e", when(col("n_items") > 0,
        round(col("c_sq").cast("double") /
          (col("n_items") * col("n_items") * n * n).cast("double"), 6)))
      .withColumn("kappa", when(col("n_items") > 0 &&
          col("n_items") * col("n_items") * n * n =!= col("c_sq"),
        round(
          (col("s_sum") * col("n_items") * n - col("c_sq") * (n - 1))
            .cast("double") /
          ((col("n_items") * col("n_items") * n * n
            - col("c_sq")) * (n - 1)).cast("double"), 6)))
  }

  /** Krippendorff's alpha, nominal metric (Krippendorff 2004), over a
    * long-format `(item, category)` rating frame with a VARIABLE
    * number of ratings per item — the missing-data-tolerant agreement
    * coefficient ([[fleissKappa]] requires constant n and drops
    * partial items; alpha keeps every item with ≥ 2 ratings, which is
    * exactly the shape of conditional weak labelers).
    *
    * Coincidence-matrix core, ordered-pair form: per kept item with
    * `m_u` ratings, disagreeing ordered pairs `d_u = Σ_c n_uc(m_u −
    * n_uc)` each weighted `1/(m_u−1)`; with `n = Σ m_u` and category
    * totals `n_c`, `α = 1 − (n−1)·Σ d_u/(m_u−1) / (n² − Σ n_c²)`.
    * The per-item weight is carried as the integer `2·d_u DIV (m_u−1)`
    * — EXACT for `m_u ∈ {2,3}` (the 3-rater pipelines this serves;
    * `2·d_u` is divisible by 1 and 2), floor-rational beyond that.
    * Output: one row `(n_items, n_ratings, o2_sum, pair_sum, alpha)`
    * with `alpha = (2·pair_sum − (n−1)·o2_sum) / (2·pair_sum)` at 6 dp.
    *
    * Scale: identical posture to [[fleissKappa]] — count aggregates at
    * (item,category) grain, two 1-row reductions, 1-row cross join.
    */
  def krippendorffAlpha(ratings: DataFrame, itemCol: String,
      categoryCol: String): DataFrame = Pins.scoped { s =>
    val cell = ratings.groupBy(col(itemCol).as("__it"),
        col(categoryCol).as("__cat"))
      .agg(count(lit(1)).as("__cnt"))
    val perItem = s.pin(cell.groupBy(col("__it"))
      .agg(sum(col("__cnt")).as("__m"),
        sum(col("__cnt") * col("__cnt")).as("__sq"))
      .filter(col("__m") >= 2)
      .withColumn("__d", col("__m") * col("__m") - col("__sq"))
      .withColumn("__o2",
        expr("(2 * __d) DIV (__m - 1)")))
    val glob = perItem.agg(count(lit(1)).as("n_items"),
      coalesce(sum(col("__m")), lit(0L)).as("n_ratings"),
      coalesce(sum(col("__o2")), lit(0L)).as("o2_sum"))
    val catTot = cell.join(perItem.select(col("__it")), Seq("__it"))
      .groupBy(col("__cat")).agg(sum(col("__cnt")).as("__nc"))
      .agg(coalesce(sum(col("__nc") * col("__nc")), lit(0L)).as("__ncsq"))
    glob.crossJoin(catTot)
      .withColumn("pair_sum",
        col("n_ratings") * col("n_ratings") - col("__ncsq"))
      .select(col("n_items"), col("n_ratings"), col("o2_sum"),
        col("pair_sum"),
        when(col("pair_sum") > 0, round(
          (col("pair_sum") * 2 - (col("n_ratings") - 1) * col("o2_sum"))
            .cast("double") / (col("pair_sum") * 2).cast("double"), 6))
          .as("alpha"))
  }

  /** Quadratic-weighted Cohen's kappa (Cohen 1968) over an ORDINAL
    * gold/predicted integer-label pair — the agreement coefficient
    * where being off by two is worse than off by one (the ordinal gap
    * [[mccMulticlass]] and plain kappa ignore; the standard metric for
    * graded-quality rater audits). With confusion cells `O_ij`,
    * marginals `r_i`/`c_j`, `n` rows and weights `w_ij = (i−j)²`:
    * `κ_w = 1 − n·Σ w_ij·O_ij / Σ w_ij·r_i·c_j` — every sum an exact
    * DECIMAL integer, one final double at 6 dp (NULL when the expected
    * disagreement is 0: a single-label frame). Output: ONE row
    * `(n, wo_sum, we_sum, kappa_w)` — `we_sum` pre-divided by nothing
    * (the raw Σ w·r·c; the n-scaling lives in the formula so both
    * engines share the same integers).
    *
    * Scale: one (gold, pred) cell aggregate, marginal re-aggregations
    * of the CELL frame, and a label²-grain weighted cross of the two
    * marginal vectors (the label axis is a small ordinal scale by
    * contract) — contingency grain throughout.
    */
  def weightedKappa(df: DataFrame, goldCol: String,
      predCol: String): DataFrame = {
    val d38 = "decimal(38,0)"
    val cells = Pins.pin(df.filter(col(goldCol).isNotNull &&
        col(predCol).isNotNull)
      .groupBy(col(goldCol).cast("long").as("__g"),
        col(predCol).cast("long").as("__p"))
      .agg(count(lit(1)).as("__c")))
    val tot = cells.agg(coalesce(sum(col("__c")), lit(0L)).as("n"))
    val wo = cells.agg(coalesce(sum(
        (col("__g") - col("__p")).cast(d38) * (col("__g") - col("__p"))
          * col("__c")), lit(0).cast(d38)).as("__wo"))
    val margG = cells.groupBy(col("__g")).agg(sum(col("__c")).as("__r"))
    val margP = cells.groupBy(col("__p")).agg(sum(col("__c")).as("__q"))
    val we = margG.crossJoin(broadcast(margP))
      .agg(coalesce(sum((col("__g") - col("__p")).cast(d38) *
        (col("__g") - col("__p")) * col("__r") * col("__q")),
        lit(0).cast(d38)).as("__we"))
    tot.crossJoin(wo).crossJoin(we)
      .select(col("n"),
        col("__wo").cast("long").as("wo_sum"),
        col("__we").cast("long").as("we_sum"),
        when(col("__we") > 0, round(lit(1d) -
          col("n").cast("double") * col("__wo").cast("double") /
            col("__we").cast("double"), 6)).as("kappa_w"))
  }

  /** Multiclass Matthews correlation coefficient (the R_K statistic,
    * Gorodkin 2004) from a gold/predicted label frame — the single
    * chance-robust scalar for imbalanced classifier audits (accuracy
    * rewards majority-class collapse; MCC of a collapse is 0).
    *
    * With confusion totals: `s` rows, `c` correct, per-category gold
    * totals `t_k` and prediction totals `p_k`:
    * `MCC = (c·s − Σ p_k t_k) / (√(s² − Σ p_k²) · √(s² − Σ t_k²))`.
    * Numerator terms are exact BIGINT (≤ ~10¹³ at 15M rows); each
    * s²−Σ² factor is exact BIGINT cast to DOUBLE before the sqrt
    * product (their product would pass 2⁶³ — the q186 `dx·dy`
    * discipline). Output: one row
    * `(n, n_correct, accuracy_ppm, mcc)`.
    *
    * Scale: one (gold,pred) count aggregate — confusion-matrix grain,
    * ~K² rows — then category-grain arithmetic. The input is scanned
    * once and never re-shuffled wider than K².
    */
  def mccMulticlass(df: DataFrame, goldCol: String,
      predCol: String): DataFrame = Pins.scoped { s =>
    val conf = s.pin(df
      .groupBy(col(goldCol).as("__g"), col(predCol).as("__p"))
      .agg(count(lit(1)).as("__c")))
    val tg = conf.groupBy(col("__g").as("__k"))
      .agg(sum(col("__c")).as("__t"))
    val tp = conf.groupBy(col("__p").as("__k"))
      .agg(sum(col("__c")).as("__pk"))
    val byCat = tg.join(tp, Seq("__k"), "full_outer")
      .select(coalesce(col("__t"), lit(0L)).as("__t"),
        coalesce(col("__pk"), lit(0L)).as("__pk"))
      .agg(sum(col("__t")).as("__s"),
        sum(col("__t") * col("__pk")).as("__pt"),
        sum(col("__t") * col("__t")).as("__tsq"),
        sum(col("__pk") * col("__pk")).as("__psq"))
    val corr = conf.filter(col("__g") === col("__p"))
      .agg(coalesce(sum(col("__c")), lit(0L)).as("__corr"))
    byCat.crossJoin(corr)
      .select(col("__s").as("n"), col("__corr").as("n_correct"),
        expr("__corr * 1000000L DIV __s").as("accuracy_ppm"),
        when(col("__s") * col("__s") > col("__psq") &&
            col("__s") * col("__s") > col("__tsq"),
          round((col("__corr") * col("__s") - col("__pt")).cast("double")
            / sqrt((col("__s") * col("__s") - col("__psq")).cast("double")
              * (col("__s") * col("__s") - col("__tsq")).cast("double")),
            6)).as("mcc"))
  }

  /** Corpus self-BLEU (bigram modified precision, Zhu et al. 2018's
    * diversity metric): each document scored against EVERY OTHER
    * document as reference — high self-BLEU = template-saturated
    * corpus (the diversity collapse dedup thresholds miss because the
    * near-dups sit just under the Jaccard bar). Reported per `source`.
    *
    * The rest-of-corpus clip count for gram g in doc d is
    * `max_{d'≠d} c(d',g)` — computed WITHOUT a per-doc corpus pass via
    * the top-2 trick: with `m1 = max_d c`, `k = |argmax|`, `m2` = best
    * strictly-below-m1 count, the leave-one-out max is `m2` iff d is
    * the UNIQUE argmax, else `m1`. Per-doc precision is the exact
    * integer `ppm = 10⁶·Σ min(c, clip) DIV Σ c`; the source report
    * averages doc ppms (integer DIV). Output:
    * `(source, n_docs, self_bleu2_ppm)` over docs with ≥ 1 bigram.
    *
    * Scale: everything is (doc,gram)- or gram-grain — two gram-keyed
    * aggregates and two gram-keyed joins (the decontamination shuffle
    * shape); no doc×doc anything. Popular-gram skew is AQE-splittable
    * because the stats side is one row per gram.
    */
  def selfBleu(docs: DataFrame, idCol: String, textCol: String,
      groupCol: String): DataFrame = Pins.scoped { s =>
    val gc = s.pin(docs
      .select(col(idCol).as("__id"), explode(
        graft.functions.TokenNgrams.tokenNgrams(col(textCol), 2))
          .as("gram"))
      .groupBy(col("__id"), col("gram"))
      .agg(count(lit(1)).as("__c")))
    val m1 = gc.groupBy(col("gram")).agg(max(col("__c")).as("__m1"))
    val stats = gc.join(m1, Seq("gram"))
      .groupBy(col("gram"), col("__m1"))
      .agg(sum(when(col("__c") === col("__m1"), 1L).otherwise(0L))
          .as("__k"),
        coalesce(max(when(col("__c") < col("__m1"), col("__c"))), lit(0L))
          .as("__m2"))
    val perDoc = gc.join(stats, Seq("gram"))
      .withColumn("__clip",
        when(col("__c") === col("__m1") && col("__k") === 1,
          col("__m2")).otherwise(col("__m1")))
      .groupBy(col("__id"))
      .agg(sum(col("__c")).as("__tot"),
        sum(least(col("__c"), col("__clip"))).as("__kept"))
      .withColumn("__ppm", expr("__kept * 1000000L DIV __tot"))
    perDoc
      .join(docs.select(col(idCol).as("__id"), col(groupCol).as("source")),
        Seq("__id"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        expr("sum(__ppm) DIV count(1)").as("self_bleu2_ppm"))
  }

  /** Gwet's AC1 (Gwet, Br. J. Math. Stat. Psych. 2008) for two raters
    * (gold vs predicted labels) over a FIXED label space of
    * `nCategories` — the paradox-resistant alternative to kappa:
    * kappa's chance term uses the raters' own marginals and collapses
    * under prevalence skew ("high agreement, near-zero kappa"); AC1's
    * chance term `P_e = Σ π_k(1−π_k)/(K−1)` with `π_k` the POOLED
    * marginal `(t_k+p_k)/(2N)` does not.
    *
    * Fully exact-integer: with `A` agreements, `w_k = t_k + p_k`,
    * `E = Σ w_k(2N − w_k)`:
    * `AC1 = (4A(K−1)N − E) / (4(K−1)N² − E)`, emitted at 6 dp plus its
    * exact integer numerator/denominator (≤ ~5·10¹² at 15M rows).
    * Output: one row `(n, n_agree, p_a_ppm, e_sum, ac1)`.
    *
    * Scale: same confusion-grain posture as [[mccMulticlass]].
    */
  def gwetAc1(df: DataFrame, goldCol: String, predCol: String,
      nCategories: Int): DataFrame = Pins.scoped { s =>
    require(nCategories >= 2, "AC1 needs >= 2 categories")
    val k = nCategories.toLong
    val conf = s.pin(df
      .groupBy(col(goldCol).as("__g"), col(predCol).as("__p"))
      .agg(count(lit(1)).as("__c")))
    val tg = conf.groupBy(col("__g").as("__k"))
      .agg(sum(col("__c")).as("__t"))
    val tp = conf.groupBy(col("__p").as("__k"))
      .agg(sum(col("__c")).as("__pk"))
    val tot = conf.agg(sum(col("__c")).as("__n"))
    val corr = conf.filter(col("__g") === col("__p"))
      .agg(coalesce(sum(col("__c")), lit(0L)).as("__a"))
    val eSum = tg.join(tp, Seq("__k"), "full_outer")
      .select((coalesce(col("__t"), lit(0L)) +
        coalesce(col("__pk"), lit(0L))).as("__w"))
      .crossJoin(tot)
      .agg(sum(col("__w") * (col("__n") * 2 - col("__w"))).as("e_sum"))
    // empty-input guard (the fleissKappa discipline): n = 0 reports
    // NULL ratios, never 0/0 NaN or a silent DIV-by-zero null mix; ac1
    // also guards its own denominator (0 at the degenerate e_sum).
    tot.crossJoin(corr).crossJoin(eSum)
      .select(coalesce(col("__n"), lit(0L)).as("n"),
        col("__a").as("n_agree"),
        when(col("__n") > 0, expr("__a * 1000000L DIV __n"))
          .as("p_a_ppm"),
        col("e_sum"),
        when(col("__n") > 0 &&
            col("__n") * col("__n") * 4 * (k - 1) =!= col("e_sum"),
          round((col("__a") * (k - 1) * 4 * col("__n") - col("e_sum"))
            .cast("double") /
            (col("__n") * col("__n") * 4 * (k - 1) - col("e_sum"))
              .cast("double"), 6)).as("ac1"))
  }
}

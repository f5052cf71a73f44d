package graft.llm

import org.apache.spark.ml.clustering.KMeans
import org.apache.spark.ml.functions.array_to_vector
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.engine.Pins
import graft.engine.Relational.{exactSum, exactSumProd}

/** Approximate-nearest-neighbor search over an embedding column
  * (`ARRAY<FLOAT>`): brute-force cosine top-k as the exact baseline, and a
  * sign-LSH-bucketed variant as the scale path.
  *
  * Scale posture: the query set is always the broadcast side; the corpus is
  * only ever scanned (brute force) or shuffled once on bucket id (LSH).
  * Dot products run in double via sequential `aggregate` folds — the same
  * left-to-right order an ANSI SQL reduce performs, keeping results
  * bit-comparable across engines.
  */
object Similarity {

  /** Sequential dot product of two numeric arrays (double accumulation).
    * Native codegen'd expression — the HOF `aggregate(zip_with(...))` form
    * it replaces is bit-identical but runs interpreted and allocates an
    * intermediate array per row (see [[graft.functions.DotProduct]]).
    */
  def dot(a: Column, b: Column): Column =
    graft.functions.DotProduct.dot(a, b)

  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Matryoshka energy-retention curve (the readout behind MRL-style
    * truncatable embeddings, Kusupati et al., NeurIPS 2022): for each
    * prefix length `k`, the corpus mean of `‖v[1..k]‖²/‖v‖²` — which
    * for a vector against its own zero-padded truncation IS the
    * squared cosine, so `rms_cos = √(mean)` reads "how much of the
    * similarity signal survives truncating the index to k dims", the
    * table that decides how small the ANN index can go. Per-vector
    * ratios are computed with the same sequential-fold [[dot]] both
    * engines share, then MICRO-FLOORED before the corpus mean (a raw
    * float mean is aggregation-order-dependent; the q307 discipline);
    * zero-norm vectors are excluded. Output per prefix dim:
    * `(dim, n, energy_micro, rms_cos)`.
    *
    * Scale: ONE pass — each row expands to `|dims|` literal rows and
    * collapses map-side; no joins, no window.
    */
  def mrlEnergyCurve(df: DataFrame, vecCol: String,
      dims: Seq[Int]): DataFrame = {
    require(dims.nonEmpty && dims.forall(_ >= 1), "need positive dims")
    val full = dot(col("__v"), col("__v"))
    val pref = dot(expr("slice(__v, 1, dim)"), expr("slice(__v, 1, dim)"))
    df.filter(col(vecCol).isNotNull)
      .select(col(vecCol).as("__v"),
        explode(lit(dims.toArray)).as("dim"))
      .withColumn("__f", full)
      .filter(col("__f") > 0)
      .withColumn("__em",
        floor(lit(1000000d) * pref / col("__f")).cast("long"))
      .groupBy(col("dim"))
      .agg(count(lit(1)).as("n"), sum(col("__em")).as("__s"))
      .select(col("dim").cast("int").as("dim"),
        col("n").cast("long").as("n"),
        expr("(__s) DIV n").cast("long").as("energy_micro"),
        round(sqrt(expr("CAST(__s DIV n AS DOUBLE)") / 1e6), 6)
          .as("rms_cos"))
  }

  /** NULL (not NaN/error) when either vector has zero norm: real corpora
    * carry occasional zero/degenerate embeddings, and ANSI sessions turn
    * the unguarded double ÷0 into a runtime error (AnsiFixtureSpec).
    * Clean-data outputs are unchanged — the guard only fires at norm 0.
    */
  def cosine(a: Column, b: Column): Column = {
    val den = norm(a) * norm(b)
    when(den > 0, dot(a, b) / den)
  }

  /** Exact top-k by cosine for each query vector. `queries` must be
    * dimension-sized (it is broadcast against the full corpus); the heavy
    * corpus side is never shuffled beyond the final per-query top-k
    * aggregation, whose key cardinality = |queries|.
    */
  /** Embedding-isotropy concentration audit: with each vector
    * micro-quantized to the integer lattice (`q_i = round(x_i·10⁶)` —
    * the determinism device: per-dimension sums of 10⁶-lattice
    * integers are exact in any aggregation order, where raw double
    * sums are not), the report is `c = ‖Σ_v q‖² / (n·Σ_v ‖q‖²)` —
    * Cauchy–Schwarz bounds it in [0, 1]; an isotropic (centered)
    * corpus reads ≈ 0 and a cone-collapsed one reads toward 1. THE
    * pre-flight audit for cosine retrieval: anisotropic embedding
    * spaces (the common "all vectors share a dominant direction"
    * pathology) quietly compress cosine ranges and sink ANN recall.
    * All products route through DECIMAL(38,0). Output ONE row:
    * `(n, dims, conc_micro, conc)`.
    *
    * Scale: one posexplode pass collapsing map-side to the
    * `dims`-row per-dimension sum frame plus one scalar aggregate —
    * nothing pairwise.
    */
  /** Dominant singular direction of the embedding corpus by EXACT
    * integer power iteration on the uncentered Gram matrix — the
    * spectral readout behind [[isotropyReport]]'s single concentration
    * number (an isotropy score near 1 says mass concentrates along ONE
    * direction; this op says WHICH). `A = Σ q qᵀ` accumulates
    * micro-lattice outer products exactly in DECIMAL(38,0); iteration
    * starts from the deterministic all-ones vector and renormalizes
    * each round to max-abs 10⁶ by integral division (truncation toward
    * zero on both engines), so every intermediate is an exact integer
    * and the result vector is engine-reproducible — float power
    * iteration would diverge across engines in the last ulp within two
    * rounds. Uncentered means TOP SINGULAR direction (the mean-offset
    * axis dominates an uncentered corpus — exactly the common-component
    * pathology isotropy audits look for).
    *
    * Output: `(dim, v_micro, w_norm)` — one row per dimension;
    * `v_micro` the direction on the ±10⁶ lattice, `w_norm` the final
    * round's pre-normalization max |A·v| (the eigenvalue readout, same
    * on every row).
    *
    * Scale: the Gram aggregate is the only corpus-scan — d² per-row
    * outer-product terms collapse map-side to the d×d frame (d = 32 →
    * 1024 cells; the explode is row-local, no pairwise row join);
    * iteration then runs entirely on d×d times d-row frames, driver
    * work zero. Magnitude bound: `w ≤ d · Σ‖q‖² · 10⁶` stays inside
    * DECIMAL(38,0) past 10¹² rows.
    */
  def powerIteration(df: DataFrame, vecCol: String,
      rounds: Int): DataFrame = {
    require(rounds >= 1, "rounds must be positive")
    val d38 = "decimal(38,0)"
    // outer products are generated ROW-LOCALLY by chaining two
    // posexplodes over the lattice array (each generator stays inside
    // whole-stage codegen), so the d² pair terms flow straight into the
    // map-side partial aggregate and the ONLY shuffle is the d² cell
    // frame. Rejected alternatives, measured at sf1 (20k rows × 64
    // dims): a row-id self-join of the exploded frame (2.6 s — as fast
    // here, but it shuffles rows·d lattice rows, the scale bottleneck)
    // and a nested transform-×-transform flatten (24 s — higher-order
    // function lambdas run interpreted, not codegen'd). Chained
    // posexplode: 3.2 s and shuffle-free on the corpus axis.
    // fanOut BEFORE the d²-term generator: a single-row-group input
    // plans to one task, serializing the whole Gram aggregate (the only
    // corpus scan) on one core; the exchange moves n rows (tiny next to
    // the n·d² generated terms) and no-ops on any well-partitioned input
    val gram = Pins.pin(graft.engine.Relational.fanOut(
        df.filter(col(vecCol).isNotNull)
          .select(expr("transform(" + vecCol + ", x -> " +
            "CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT))").as("__q")))
      .select(col("__q"), posexplode(col("__q")).as(Seq("__i", "__xi")))
      .select(col("__i"), col("__xi"),
        posexplode(col("__q")).as(Seq("__j", "__xj")))
      .groupBy(col("__i"), col("__j"))
      .agg(exactSum(col("__xi") * col("__xj")).as("__a")))
    val dims = gram.select(col("__i").as("dim")).distinct()
    var v = dims.withColumn("__v", lit(1000000L).cast(d38))
    var lastNorm: DataFrame = null
    for (_ <- 1 to rounds) {
      // v is d-grain (one row per dimension — bounded by the embedding
      // width at ANY corpus size, see the scale note above): broadcast
      // it into the gram join so a round is one gram scan, zero
      // exchanges before the d-grain aggregate (r14, the Windows ppm
      // states-frame discipline)
      val w = gram
        .join(broadcast(
            v.select(col("dim").as("__j"), col("__v").as("__vj"))),
          Seq("__j"))
        .groupBy(col("__i").as("dim"))
        .agg(sum(col("__a") * col("__vj")).as("__w"))
      lastNorm = w.agg(max(abs(col("__w"))).as("__n"))
      // an exactly-orthogonal iterate (w ≡ 0) collapses to the zero
      // vector rather than dividing by zero
      v = Pins.pin(w.crossJoin(broadcast(lastNorm))
        .select(col("dim"),
          expr("CAST(CASE WHEN __n > 0 THEN __w * 1000000 DIV __n " +
            "ELSE 0 END AS DECIMAL(38,0))").as("__v")))
    }
    v.crossJoin(broadcast(lastNorm))
      .select(col("dim").cast("int").as("dim"),
        col("__v").cast("long").as("v_micro"),
        col("__n").cast("decimal(38,0)").as("w_norm"))
  }

  /** Linear CKA (centered kernel alignment, Kornblith et al. ICML 2019)
    * between two PAIRED embedding representations — THE
    * representation-similarity scalar for "did re-embedding change the
    * geometry" / "how similar are these two encoders" audits:
    * `CKA = ‖Y_cᵀX_c‖²_F / (‖X_cᵀX_c‖_F · ‖Y_cᵀY_c‖_F)` over
    * column-centered X, Y — each input row holds one sample's TWO
    * representations (`xCol`, `yCol`, equal length; the caller joins
    * them). 1 = same geometry up to rotation/scale, → 0 = unrelated.
    *
    * Exact centered form without materializing centered data: on the
    * milli lattice (`round(x·10³)` — coarser than the micro ops because
    * FOUR factors meet in one product) the op accumulates the d×d raw
    * cross-products `Σ x_i y_j` and the d-vector column sums, then uses
    * `n·C − s_x s_yᵀ = n²·(centered cross-gram)` — every Frobenius sum
    * is an exact DECIMAL(38,0) integer and the n² factors cancel in the
    * ratio, so the only floats are two correctly-rounded IEEE sqrts and
    * one final division. Magnitude bound (documented, the momentsSketch
    * class): entries of `n·C` reach `n²·10⁶·d̄`, so Frobenius sums stay
    * inside 10³⁸ for n ≲ 10⁶·√(1/d) paired rows — an EVAL-GRAIN op by
    * contract (CKA is quadratic in feature dims, computed on probe
    * samples, not the full corpus).
    *
    * Output ONE row: `(n, d, num, den_x, den_y, cka_micro)` with the
    * exact integer numerator/denominator Frobenius sums alongside the
    * rounded score.
    *
    * Scale: the d² cross-product terms are generated ROW-LOCALLY by
    * the [[powerIteration]] chained-posexplode trick and collapse
    * map-side to three d×d cell frames; nothing corpus-sized shuffles.
    */
  def linearCka(pairs: DataFrame, xCol: String,
      yCol: String): DataFrame = Pins.scoped { s =>
    val d38 = "decimal(38,0)"
    def milli(c: String) = expr(
      s"transform($c, v -> CAST(round(CAST(v AS DOUBLE) * 1000) AS BIGINT))")
    // fanOut for the same reason as [[powerIteration]]'s Gram: three d²
    // chained-posexplode aggregates read this frame, and a single-task
    // input would run them all on one core
    val staged = s.pin(graft.engine.Relational.fanOut(pairs
        .filter(col(xCol).isNotNull && col(yCol).isNotNull &&
          size(col(xCol)) === size(col(yCol)))
        .select(milli(xCol).as("__x"), milli(yCol).as("__y"))))
    // d×d raw cross/self-products, each via one chained posexplode
    def gram(a: String, b: String) = staged
      .select(col(a).as("__u"), col(b).as("__v"))
      .select(col("__v"), posexplode(col("__u")).as(Seq("__i", "__ui")))
      .select(col("__i"), col("__ui"),
        posexplode(col("__v")).as(Seq("__j", "__vj")))
      .groupBy(col("__i"), col("__j"))
      .agg(exactSum(col("__ui") * col("__vj")).as("__g"))
    // d-vector column sums + n in one pass
    val sums = s.pin(staged
      .select(posexplode(col("__x")).as(Seq("__i", "__xi")),
        col("__y"))
      .select(col("__i"), col("__xi"),
        expr("element_at(__y, CAST(__i + 1 AS INT))").as("__yi"))
      .groupBy(col("__i"))
      .agg(sum(col("__xi")).cast(d38).as("__sx"),
        sum(col("__yi")).cast(d38).as("__sy"),
        count(lit(1)).as("__n")))
    val n1 = sums.select(max(col("__n")).as("__n"),
      count(lit(1)).as("__d"))
    def frob(g: DataFrame, leftSum: String, rightSum: String) = g
      .join(broadcast(sums.select(col("__i"),
        col(leftSum).as("__si"))), Seq("__i"))
      .join(broadcast(sums.select(col("__i").as("__j"),
        col(rightSum).as("__sj"))), Seq("__j"))
      .crossJoin(broadcast(n1))
      .select(expr(s"CAST(__n AS $d38) * __g - __si * __sj").as("__e"))
      .agg(sum(expr("__e * __e")).as("__f"))
    frob(gram("__x", "__y"), "__sx", "__sy")
      .withColumnRenamed("__f", "num")
      .crossJoin(frob(gram("__x", "__x"), "__sx", "__sx")
        .withColumnRenamed("__f", "den_x"))
      .crossJoin(frob(gram("__y", "__y"), "__sy", "__sy")
        .withColumnRenamed("__f", "den_y"))
      .crossJoin(broadcast(n1))
      .select(col("__n").cast("long").as("n"),
        col("__d").cast("int").as("d"),
        col("num"), col("den_x"), col("den_y"),
        expr("""CAST(round(CASE WHEN den_x > 0 AND den_y > 0 THEN
            CAST(num AS DOUBLE) / (sqrt(CAST(den_x AS DOUBLE))
              * sqrt(CAST(den_y AS DOUBLE))) * 1000000 END)
            AS BIGINT)""").as("cka_micro"))
  }

  def isotropyReport(df: DataFrame,
      vecCol: String): DataFrame = Pins.scoped { s =>
    val base = s.pin(df.filter(col(vecCol).isNotNull)
      .select(posexplode(col(vecCol)).as(Seq("__i", "__x")))
      .withColumn("__q",
        expr("CAST(round(CAST(__x AS DOUBLE) * 1000000) AS BIGINT)")))
    val perDim = base.groupBy(col("__i"))
      .agg(exactSum(col("__q")).as("__s"))
      .agg(count(lit(1)).as("dims"),
        sum(col("__s") * col("__s")).as("__s2"))
    val tot = base.agg(
      exactSumProd(col("__q"), col("__q")).as("__t"))
    val n = df.filter(col(vecCol).isNotNull)
      .agg(count(lit(1)).as("n"))
    n.crossJoin(broadcast(perDim)).crossJoin(broadcast(tot))
      .select(col("n"), col("dims").cast("int").as("dims"),
        when(col("__t") > 0,
          expr("(__s2 * 1000000) DIV (n * __t)")).cast("long")
          .as("conc_micro"),
        when(col("__t") > 0, round(col("__s2").cast("double") /
          (col("n").cast("double") * col("__t").cast("double")), 6))
          .as("conc"))
  }

  /** k-occurrence hubness histogram (Radovanović/Nanopoulos/
    * Ivanović, JMLR 2010): how many corpus points appear in exactly
    * `h` of the probe queries' top-k lists — the right-skewed,
    * hub-heavy shape of this distribution is THE high-dimensional
    * pathology that makes a few points dominate every neighbor list
    * and drags retrieval quality down; audit it before trusting
    * ANN-based dedup or RAG retrieval. Rides [[bruteForceTopK]]
    * verbatim (self-matches included, the operator's convention — a
    * probe contributes one uniform hit to itself, shifting the
    * histogram by at most one bin for probe rows). Output per
    * occurrence count: `(n_hits, n_points)` — points absent from
    * every list are not rows (their count is `|corpus| − Σ
    * n_points`).
    *
    * Scale: the probe×corpus scan is the bruteForceTopK posture;
    * everything after is (≤ |probes|·k)-row aggregation.
    */
  def hubnessReport(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, queryIdCol: String, k: Int): DataFrame =
    bruteForceTopK(corpus, queries, idCol, vecCol, queryIdCol, k)
      .groupBy(col("neighbor_id")).agg(count(lit(1)).as("__h"))
      .groupBy(col("__h").as("n_hits"))
      .agg(count(lit(1)).as("n_points"))
      .select(col("n_hits").cast("long").as("n_hits"),
        col("n_points").cast("long").as("n_points"))

  /** Per query, the `k` best rows of a `(query_id, neighbor_id, cos)`
    * frame by cosine, ties to the smaller neighbor id, numbered 1..k in
    * `rank` — the deterministic tail every top-k search shares. The
    * `rank ≤ k` filter sits directly over the per-query window, so the
    * group-limit rule prunes to k per partition before the exchange.
    */
  private[llm] def cosineTopK(scored: DataFrame, k: Int): DataFrame =
    scored.withColumn("rank", row_number().over(Window
        .partitionBy(col("query_id"))
        .orderBy(col("cos").desc, col("neighbor_id"))))
      .filter(col("rank") <= k)

  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, queryIdCol: String, k: Int): DataFrame = {
    val q = broadcast(queries.select(col(queryIdCol).as("query_id"),
      col(vecCol).as("qvec")))
    cosineTopK(corpus.select(col(idCol).as("neighbor_id"),
        col(vecCol).as("cvec"))
      .join(q)
      .select(col("query_id"), col("neighbor_id"),
        cosine(col("qvec"), col("cvec")).as("cos")), k)
  }

  /** k-NN label classification: each query takes the majority label of its
    * k nearest corpus vectors by cosine (self included when the query is
    * drawn from the corpus), ties broken toward the smaller label so the
    * prediction is deterministic and oracle-checkable. The standard
    * embedding-quality probe (a good embedding space k-NN-classifies its
    * own labels well).
    *
    * Scale: rides [[bruteForceTopK]] (queries broadcast, corpus scanned
    * once); the label lookup joins the queries×k neighbor table against
    * the corpus id→label projection — neighbor-id-keyed shuffle of a
    * queries×k-sized frame, never the corpus — and the vote window is
    * keyed on query_id (cardinality = |queries|).
    */
  def knnClassify(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, labelCol: String, queryIdCol: String,
      k: Int): DataFrame = {
    val nn = bruteForceTopK(corpus, queries, idCol, vecCol, queryIdCol, k)
      .select(col("query_id"), col("neighbor_id"))
    val labeled = nn.join(
      corpus.select(col(idCol).as("neighbor_id"), col(labelCol).as("label")),
      Seq("neighbor_id"))
    labeled.groupBy(col("query_id"), col("label"))
      .agg(count(lit(1)).as("n_votes"))
      .withColumn("vrank", row_number().over(Window
        .partitionBy(col("query_id"))
        .orderBy(col("n_votes").desc, col("label"))))
      .filter(col("vrank") === 1)
      .select(col("query_id"), col("label").as("pred_label"),
        col("n_votes").cast("int").as("n_votes"))
  }

  /** Element-wise mean vector per group — the k-means M-step / class
    * prototype builder. One posexplode + one (group, position)-keyed
    * aggregate (cardinality = #groups × dim, map-side combined, never
    * corpus-sized) + ordered reassembly via the codegen'd
    * sort_array(collect_list(struct)) idiom — no interpreted lambda on
    * the hot path. Components are ROUNDED to 6 decimals: double-sum order
    * differs across engines and partitionings, and an unrounded centroid
    * would leak that nondeterminism into every downstream distance.
    */
  def groupCentroids(vecs: DataFrame, vecCol: String,
      groupCol: String): DataFrame =
    vecs
      .select(col(groupCol), posexplode(col(vecCol)).as(Seq("i", "v")))
      .groupBy(col(groupCol), col("i"))
      .agg(round(avg(col("v").cast("double")), 6).as("cv"))
      .groupBy(col(groupCol))
      .agg(sort_array(collect_list(struct(col("i"), col("cv"))))
        .getField("cv").as("centroid"))

  /** Nearest-centroid assignment — the k-means E-step, and the classifier
    * face of [[groupCentroids]] (assign every vector to its closest class
    * prototype by cosine). Centroids are broadcast (#groups × dim — always
    * dimension-sized); the corpus is scanned once, scored #groups times
    * per row, and reduced by a query-side-cardinality window. Ranking
    * compares the ROUNDED cosine (ties then break on the group key), so
    * the assignment is stable across engines and partitionings.
    *
    * Output: (id, assigned group, cos) — one row per input vector.
    */
  def nearestCentroid(vecs: DataFrame, idCol: String, vecCol: String,
      centroids: DataFrame, groupCol: String): DataFrame = {
    val scored = vecs.select(col(idCol), col(vecCol))
      .join(broadcast(centroids))
      .select(col(idCol), col(groupCol),
        round(cosine(col(vecCol), col("centroid")), 6).as("cos"))
    scored
      .withColumn("crank", row_number().over(Window.partitionBy(col(idCol))
        .orderBy(col("cos").desc, col(groupCol))))
      .filter(col("crank") === 1)
      .select(col(idCol), col(groupCol).as("assigned"), col("cos"))
  }

  /** Lloyd k-means over an embedding column, a fixed number of
    * assignment rounds — the full iterative face of the
    * [[groupCentroids]]/[[nearestCentroid]] E/M pair (which give one
    * closed-form step from a prefit grouping; this LEARNS the grouping).
    * Deterministic end-to-end: seeds are the `k` vectors with the
    * smallest ids (no RNG — reproducible and oracle-checkable, the
    * fitQuantizer init convention), centroid components round to 6
    * before use ([[groupCentroids]] discipline), and assignment ranks
    * the ROUNDED cosine with group-key tie-break. `rounds` is a fixed
    * unroll like `kCorePeel`'s; clusters that lose every member simply
    * drop out of the next round's centroid frame (k shrinks — the
    * deterministic alternative to a re-seed heuristic).
    *
    * Output: final `(id, assigned, cos)` per vector.
    *
    * Scale: per round, centroids are k×dim (always broadcast), the
    * corpus is scanned once and reduced by a per-id window — the
    * nearestCentroid shape — and the M-step is one (cluster, component)
    * aggregate. The corpus projection feeds every round's two branches
    * (score + M-step join) and is pinned ONCE; per-round centroid
    * frames are pinned (tiny) so round r's plan does not
    * re-execute rounds 1..r−1 — the kCorePeel lineage discipline.
    */
  def kMeansRounds(vecs: DataFrame, idCol: String, vecCol: String,
      k: Int, rounds: Int): DataFrame = Pins.scoped { s =>
    require(k >= 1 && rounds >= 1, "k and rounds must be positive")
    val e = s.pin(vecs.select(col(idCol), col(vecCol)))
    var cent = s.pin(e.orderBy(col(idCol)).limit(k)
      .withColumn("cid",
        row_number().over(Window.orderBy(col(idCol))) - 1)
      .select(col("cid"),
        transform(col(vecCol), v => round(v.cast("double"), 6))
          .as("centroid")))
    var out: DataFrame = null
    for (r <- 1 to rounds) {
      out = nearestCentroid(e, idCol, vecCol, cent, "cid")
      if (r < rounds)
        cent = s.pin(groupCentroids(
          e.join(out.select(col(idCol), col("assigned").as("cid")),
            Seq(idCol)), vecCol, "cid"))
    }
    out
  }

  /** Product-quantization codebooks (Jégou et al., "Product Quantization
    * for Nearest Neighbor Search", TPAMI 2011) from a prefit grouping:
    * each vector is cut into `m` contiguous subvectors and each subspace
    * gets one centroid per group value — the same
    * prefit-injection contract as [[fitQuantizer]] (the group column is
    * whatever trained assignment the caller supplies; the gate uses
    * labels so the codebook is closed-form). Components round to 6
    * before use, like [[groupCentroids]], so no engine's float-sum order
    * leaks into distances. Output: (s, code, centroid) — m×k rows of
    * subDim components, always broadcast-sized.
    */
  def pqCodebooks(vecs: DataFrame, vecCol: String, groupCol: String,
      m: Int, dim: Int): DataFrame = {
    require(m >= 1 && dim % m == 0, s"m=$m must divide dim=$dim")
    val subDim = dim / m
    vecs.select(col(groupCol).as("code"), posexplode(col(vecCol))
        .as(Seq("i", "v")))
      .groupBy((col("i") / subDim).cast("int").as("s"), col("code"),
        col("i"))
      .agg(round(avg(col("v").cast("double")), 6).as("cv"))
      .groupBy(col("s"), col("code"))
      .agg(sort_array(collect_list(struct(col("i"), col("cv"))))
        .getField("cv").as("centroid"))
  }

  /** PQ encoding: per subspace, the L2-NEAREST codebook entry, scored as
    * `2⟨x,c⟩ − ⟨c,c⟩` (equals −‖x−c‖² up to the per-row constant ‖x‖²,
    * which cancels inside the argmax — one dot per candidate instead of
    * a full difference fold). Rounded score, code-ordered tie-break —
    * the [[nearestCentroid]] determinism contract per subspace. This is
    * the step that turns a 4·dim-byte float vector into m small codes —
    * a 16–64× storage compression, which is what makes billion-vector
    * ANN fit a cluster's disks at all. Codebooks broadcast; one corpus
    * scan; the per-(id, s) argmin reduces m×k scored rows to m.
    * Output long form: (id, s, code).
    */
  def pqEncode(vecs: DataFrame, idCol: String, vecCol: String,
      codebooks: DataFrame): DataFrame = {
    val sub = slice(col(vecCol), col("s") * size(col("centroid")) + 1,
      size(col("centroid")))
    vecs.select(col(idCol), col(vecCol))
      .join(broadcast(codebooks))
      .select(col(idCol), col("s"), col("code"),
        round(dot(sub, col("centroid")) * 2 -
          dot(col("centroid"), col("centroid")), 6).as("sim"))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col(idCol), col("s"))
          .orderBy(col("sim").desc, col("code"))))
      .filter(col("rk") === 1)
      .select(col(idCol), col("s"), col("code"))
  }

  /** The gate-comparable face of [[pqEncode]]: codes as one CSV string
    * in subspace order (the q56 signature-CSV trick — arrays don't
    * survive the cross-engine comparator).
    */
  def pqCodesCsv(codes: DataFrame, idCol: String): DataFrame =
    codes.groupBy(col(idCol))
      .agg(array_join(transform(
        sort_array(collect_list(struct(col("s"), col("code"))))
          .getField("code"), _.cast("string")), ",").as("codes"))

  /** Asymmetric-distance (ADC) top-k over PQ codes: the query is scored
    * against every codebook entry ONCE (an m×k lookup table, broadcast),
    * then the corpus contributes only its codes — the scan never touches
    * raw floats, so the working set is the compressed corpus. The
    * per-candidate score is the sum of m table entries (each pre-rounded;
    * the m-term sum is re-rounded for rank stability). Approximate by
    * construction — pair with [[recallAtK]] against [[bruteForceTopK]]
    * to tune m/k, and with a float rerank of the shortlist
    * ([[quantizedRerankTopK]]'s shape) when exactness matters.
    */
  def pqAdcTopK(codes: DataFrame, codebooks: DataFrame, queries: DataFrame,
      idCol: String, queryIdCol: String, vecCol: String,
      k: Int): DataFrame = {
    val sub = slice(col(vecCol), col("s") * size(col("centroid")) + 1,
      size(col("centroid")))
    val lut = queries.select(col(queryIdCol).as("query_id"), col(vecCol))
      .join(broadcast(codebooks))
      .select(col("query_id"), col("s"), col("code"),
        round(dot(sub, col("centroid")), 6).as("psim"))
    codes.join(broadcast(lut), Seq("s", "code"))
      .groupBy(col("query_id"), col(idCol))
      .agg(round(sum(col("psim")), 6).as("adc"))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(col("adc").desc, col(idCol))))
      .filter(col("rank") <= k)
  }

  /** IVF-PQ retrieval — the full billion-scale ANN composition: a
    * deterministic sign-LSH coarse quantizer partitions the corpus into
    * cells ([[lshBuckets]] — PRNG-free, so the index is closed-form
    * reproducible), PQ codes compress each cell's residents
    * ([[pqEncode]]), and a query scores ONLY its own cell's codes via
    * the ADC lookup table ([[pqAdcTopK]]'s scoring face). This is the
    * IVFADC layout of Jégou et al., "Product Quantization for Nearest
    * Neighbor Search" (TPAMI 2011), with an LSH coarse stage in place of
    * the k-means one so both engines derive identical cells.
    *
    * Output: `(query_id, idCol, adc, rank)`, rank ≤ k per query.
    *
    * Scale: the corpus is stored once as (cell, codes) — the compressed
    * inverted file; queries broadcast as an (query × m·k·cell) LUT so
    * the file is NEVER shuffled, and each query touches only its cell's
    * fraction (~1/2^planes) of the codes. Recall follows the cell
    * granularity; pair with [[recallAtK]] and a float rerank shortlist
    * exactly as with [[pqAdcTopK]].
    */
  def ivfPqTopK(corpus: DataFrame, codebooks: DataFrame, queries: DataFrame,
      idCol: String, queryIdCol: String, vecCol: String, k: Int,
      anchors: Seq[Seq[Double]]): DataFrame = {
    val cells = lshBuckets(corpus, vecCol, anchors)
      .select(col("bucket"), col(idCol))
    val coded = pqEncode(corpus, idCol, vecCol, codebooks)
      .join(cells, Seq(idCol))
    val qcells = lshBuckets(queries, vecCol, anchors)
      .select(col("bucket"), col(queryIdCol).as("query_id"), col(vecCol))
    val sub = slice(col(vecCol), col("s") * size(col("centroid")) + 1,
      size(col("centroid")))
    val lut = qcells.join(broadcast(codebooks))
      .select(col("query_id"), col("bucket"), col("s"), col("code"),
        round(dot(sub, col("centroid")), 6).as("psim"))
    coded.join(broadcast(lut), Seq("bucket", "s", "code"))
      .groupBy(col("query_id"), col(idCol))
      .agg(round(sum(col("psim")), 6).as("adc"))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(col("adc").desc, col(idCol))))
      .filter(col("rank") <= k)
  }

  /** Unit-normalize a vector given its precomputed norm (stage the norm
    * behind a projection boundary — embedding it in the transform lambda
    * would re-evaluate the dot-product fold per ELEMENT, HOF lambdas don't
    * codegen or dedupe). Zero vectors pass through unchanged (no NaN/Inf
    * divergence between engines).
    */
  def normalizeFromNorm(vec: Column, nrm: Column): Column =
    transform(vec, x =>
      when(nrm > 0, x.cast("double") / nrm).otherwise(x.cast("double")))

  /** ±1 sign matrix for [[jlProject]], derived from the engine hash
    * (`parity of polyhash("jl:i#j")`) — deterministic, seedless, and
    * reproducible in plain SQL, which is what lets the projection be
    * oracle-checked as literal values while the DERIVATION stays
    * spec-pinned. Row `j` holds the input-dimension signs of output
    * coordinate `j`.
    */
  def jlSigns(inDim: Int, outDim: Int): Array[Array[Double]] =
    Array.tabulate(outDim) { j =>
      Array.tabulate(inDim) { i =>
        val h = graft.functions.PolyHash.hash(
          org.apache.spark.unsafe.types.UTF8String.fromString(s"jl:$i#$j"))
        if ((h & 1L) == 1L) 1.0 else -1.0
      }
    }

  /** Johnson–Lindenstrauss sign projection: `out_j = (Σ_i v_i·s_ij) /
    * √outDim` with the hash-derived ±1 matrix of [[jlSigns]] — the
    * standard dimensionality crush applied BEFORE expensive pairwise
    * work (a 64→16 projection cuts every downstream dot product and
    * shuffle byte count 4× while preserving pairwise geometry to the JL
    * distortion bound). Deterministic: the matrix is seedless and the
    * per-coordinate fold runs left-to-right from an explicit 0.0, so
    * the projection is bitwise engine-stable.
    *
    * Scale: pure map-side work — outDim folds of length inDim per row,
    * no shuffle, no state; the sign matrix is a plan literal
    * (outDim×inDim doubles, KBs).
    */
  def jlProject(vecs: DataFrame, idCol: String, vecCol: String,
      inDim: Int, outDim: Int, outCol: String = "jl"): DataFrame = {
    require(inDim >= 1 && outDim >= 1 && outDim <= inDim,
      "need 1 <= outDim <= inDim")
    val m = jlSigns(inDim, outDim)
    val scale = 1.0 / math.sqrt(outDim.toDouble)
    val proj = array((0 until outDim).map { j =>
      aggregate(
        zip_with(col(vecCol), lit(m(j)), (x, s) => x.cast("double") * s),
        lit(0.0d), (acc, x) => acc + x) * scale
    }: _*)
    vecs.select(col(idCol), proj.as(outCol))
  }

  /** Per-vector |max| — the symmetric int8 quantization scale basis. */
  def absMax(vec: Column): Column =
    array_max(transform(vec, x => abs(x.cast("double"))))

  /** Symmetric int8 quantization q = round(x·127/|max|): 4× smaller
    * embeddings for the ANN candidate stage (rerank on float). Rounding is
    * floor(x+0.5) — ties round toward +∞ identically on every engine,
    * where round() half-up/half-even conventions differ. Zero vectors
    * quantize to zeros. Dot products over the int8 arrays run through the
    * same native [[graft.functions.DotProduct]] (integral inputs widen
    * exactly).
    */
  def quantizeInt8(vec: Column, maxAbs: Column): Column =
    transform(vec, x =>
      when(maxAbs > 0,
        floor(x.cast("double") * 127d / maxAbs + 0.5d)).otherwise(lit(0L))
        .cast("int"))

  def dequantizeInt8(q: Column, maxAbs: Column): Column =
    q.cast("double") * maxAbs / 127d

  /** Quantized-candidate + exact-rerank top-k — the production retrieval
    * shape at corpus scale: the O(|corpus| × |queries|) candidate scan
    * scores int8-quantized UNIT vectors (4× less memory bandwidth than
    * float, integer dot exact in double), keeps `candK` per query, and
    * only those candidates get the exact float cosine rerank to `k`.
    * Deterministic end-to-end: normalization, floor(x+0.5) quantization,
    * and both rank stages tie-break on neighbor id — which is what makes
    * the whole chain ANSI-oracle-checkable.
    */
  def quantizedRerankTopK(corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, queryIdCol: String, k: Int,
      candK: Int): DataFrame = {
    def prep(df: DataFrame, id: String, outId: String) = df
      .select(col(id).as(outId), col(vecCol).as("v"),
        norm(col(vecCol)).as("nrm"))
      .select(col(outId), normalizeFromNorm(col("v"), col("nrm")).as("nv"))
      .select(col(outId), col("nv"), absMax(col("nv")).as("ma"))
      .select(col(outId), col("nv"), col("ma"),
        quantizeInt8(col("nv"), col("ma")).as("q8"))
    val c = prep(corpus, idCol, "neighbor_id")
      .toDF("neighbor_id", "cn", "cma", "cq8")
    val q = broadcast(prep(queries, queryIdCol, "query_id")
      .toDF("query_id", "qn", "qma", "qq8"))
    val approx = (dot(col("qq8"), col("cq8")) * col("qma") * col("cma") /
      lit(16129d)).as("approx") // 127^2
    val cw = Window.partitionBy(col("query_id"))
      .orderBy(col("approx").desc, col("neighbor_id"))
    val cands = c.join(q)
      .select(col("query_id"), col("neighbor_id"), col("qn"), col("cn"),
        approx)
      .withColumn("__crank", row_number().over(cw))
      .filter(col("__crank") <= candK)
    // unit vectors: dot = cosine
    cosineTopK(cands.select(col("query_id"), col("neighbor_id"),
      dot(col("qn"), col("cn")).as("cos")), k)
  }

  /** Anchor-plane count for sign-LSH sized to the corpus: with m planes
    * there are 2^m buckets, so expected bucket size is N/2^m — a FIXED m
    * means buckets grow linearly with the corpus and per-bucket all-pairs
    * work grows quadratically. m = ⌈log₂(N / targetBucket)⌉ keeps expected
    * bucket size ≈ targetBucket at any N (≥ 1 plane always).
    *
    * Computed in EXACT integer math (bit length of ⌈N/target⌉ − 1, which
    * equals ⌈log₂(N/target)⌉ since 2^m ≥ x ⟺ 2^m ≥ ⌈x⌉), not float
    * logs — a DuckDB oracle mirrors this derivation and `ln(x)/ln(2)`
    * landing on an integer boundary differently across libms would flip
    * the whole bucket layout. q237 pins the SQL mirror.
    */
  def anchorCount(corpusSize: Long, targetBucket: Long = 1024): Int = {
    val q = (corpusSize + targetBucket - 1) / targetBucket // ceil div
    math.max(1, 64 - java.lang.Long.numberOfLeadingZeros(math.max(1L, q) - 1))
  }

  /** The corpus's first m vectors by id — the deterministic, PRNG-free
    * anchor choice. One m-row collect, catalog-cheap.
    */
  def firstVectors(corpus: DataFrame, idCol: String, vecCol: String,
      m: Int): Seq[Seq[Double]] =
    // element-type-agnostic: cast to array<double> in-plan instead of
    // assuming Float rows (array<double> corpora would CCE at getSeq)
    corpus.select(col(idCol).as("id"),
        col(vecCol).cast("array<double>").as("v"))
      .orderBy(col("id")).limit(m).collect()
      .map(_.getSeq[Double](1).toSeq).toSeq

  /** Data-derived anchors sized by [[anchorCount]]: the corpus's first
    * `anchorCount(N)` vectors by id — the count scales with log(N) instead
    * of being hard-coded. One count + one m-row collect, both
    * catalog-cheap.
    */
  def autoAnchors(corpus: DataFrame, idCol: String, vecCol: String,
      targetBucket: Long = 1024): Seq[Seq[Double]] =
    firstVectors(corpus, idCol, vecCol,
      anchorCount(corpus.count(), targetBucket))

  /** Sign-LSH bucket id: the m-bit sign pattern of dot products against m
    * anchor hyperplanes. Anchors are data-derived (the corpus's first m
    * vectors by id — deterministic), so the whole pipeline remains
    * closed-form reproducible without a PRNG.
    */
  def lshBuckets(vectors: DataFrame, vecCol: String,
      anchors: Seq[Seq[Double]]): DataFrame = {
    val bucket = anchors.zipWithIndex.map { case (a, j) =>
      val anchorCol = array(a.map(lit(_)): _*)
      when(dot(col(vecCol), anchorCol) > 0, lit(1L) * (1L << j))
        .otherwise(0L)
    }.reduce(_ + _)
    vectors.withColumn("bucket", bucket)
  }

  /** IVF (inverted-file) ANN: a KMeans coarse quantizer assigns every
    * corpus vector to its nearest of `nCells` centroids; a query searches
    * only the `nprobe` cells whose centers are closest to it. The standard
    * recall/throughput dial for billion-vector corpora: corpus work is one
    * fit (sample-able) + one narrow centroid-assignment pass, search work
    * is |query| × nprobe cells.
    *
    * Deterministic for fixed seed + input. Returns (model's cell
    * assignment frame, search function).
    */
  /** Fit the IVF coarse quantizer separately from search — the production
    * shape: train once (on a sample — at 100 TB you fit on ~1M vectors,
    * trainFraction ≈ 1e-5), reuse across every query batch. Sampling and
    * init are seeded so runs reproduce.
    */
  def fitQuantizer(corpus: DataFrame, vecCol: String, nCells: Int,
      trainFraction: Double = 1.0, maxIter: Int = 20,
      initMode: String = "k-means||")
      : org.apache.spark.ml.clustering.KMeansModel = {
    val fv = array_to_vector(col(vecCol).cast("array<double>"))
    // null/empty vectors are un-trainable (MLlib NPEs on a null feature
    // row); real corpora carry them, so drop here rather than upstream
    val clean = corpus.filter(col(vecCol).isNotNull && size(col(vecCol)) > 0)
    val trainSet =
      if (trainFraction >= 1.0) clean
      else clean.sample(withReplacement = false, trainFraction, seed = 42L)
    // initMode "random" skips the k-means|| init's extra data passes —
    // seeded either way, so runs reproduce; centroid QUALITY only matters
    // for nprobe < nCells recall, never for full-probe correctness
    new KMeans().setK(nCells).setSeed(42L).setMaxIter(maxIter)
      .setInitMode(initMode)
      .setFeaturesCol("__fv").setPredictionCol("cell")
      .fit(trainSet.select(fv.as("__fv")))
  }

  def ivfTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, queryIdCol: String, k: Int, nCells: Int,
      nprobe: Int, trainFraction: Double = 1.0, maxIter: Int = 20,
      initMode: String = "k-means||",
      prefit: Option[org.apache.spark.ml.clustering.KMeansModel] = None)
      : DataFrame = {
    // a pre-fit quantizer decouples training cost from the search path
    // entirely; otherwise fit here (sample-able, seeded)
    val fv = array_to_vector(col(vecCol).cast("array<double>"))
    val model = prefit.getOrElse(
      fitQuantizer(corpus, vecCol, nCells, trainFraction, maxIter, initMode))
    val centers = model.clusterCenters.map(_.toArray.toSeq).toSeq
    // mirror fitQuantizer's validity filter: a null/empty vector can't be
    // cell-assigned (and could never be returned as a neighbor anyway)
    val searchable =
      corpus.filter(col(vecCol).isNotNull && size(col(vecCol)) > 0)
    val assigned = model.transform(searchable.withColumn("__fv", fv))
      .select(col("cell"), col(idCol).as("neighbor_id"), col(vecCol).as("cvec"))
    // per query: the nprobe nearest centroids by euclidean distance —
    // centers are nCells literals (dimension-sized), pure expression work
    val centerStructs = array(centers.zipWithIndex.map { case (c, i) =>
      val cc = array(c.map(lit(_)): _*)
      struct(
        aggregate(zip_with(col(vecCol), cc,
          (x, y) => (x.cast("double") - y) * (x.cast("double") - y)),
          lit(0d), (a, v) => a + v).as("d2"),
        lit(i).as("cell"))
    }: _*)
    val probed = queries
      .select(col(queryIdCol).as("query_id"), col(vecCol).as("qvec"),
        explode(slice(array_sort(centerStructs), 1, nprobe)).as("probe"))
      .select(col("query_id"), col("qvec"), col("probe.cell").as("cell"))
    cosineTopK(assigned.join(broadcast(probed), Seq("cell"))
      .select(col("query_id"), col("neighbor_id"),
        cosine(col("qvec"), col("cvec")).as("cos")), k)
  }

  /** Embedding-cosine near-duplicate pairs: self-join within LSH buckets,
    * keep pairs above the cosine threshold. Same never-all-pairs posture as
    * minhash dedup — one bucket-keyed shuffle, per-bucket quadratic only.
    * `maxBucket` is the same degenerate-bucket hot-key guard as in
    * `Dedup.minhashCandidates`: a near-constant embedding cluster (e.g.
    * boilerplate pages) cannot silently go quadratic inside one bucket.
    */
  def cosineNearDups(vectors: DataFrame, idCol: String, vecCol: String,
      anchors: Seq[Seq[Double]], minCos: Double,
      maxBucket: Int = 1000): DataFrame = {
    val b0 = lshBuckets(vectors, vecCol, anchors)
      .select(col("bucket"), col(idCol).as("id"), col(vecCol).as("vec"))
    val b = Dedup.pruneHotBuckets(b0, Seq("bucket"), maxBucket)
    val lhs = b.select(col("bucket"), col("id").as("id_a"), col("vec").as("vec_a"))
    val rhs = b.select(col("bucket"), col("id").as("id_b"), col("vec").as("vec_b"))
    lhs.join(rhs, Seq("bucket"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        cosine(col("vec_a"), col("vec_b")).as("cos"))
      .filter(col("cos") >= minCos)
  }

  /** Cross-corpus cosine matches — the semantic-decontamination face:
    * flag every corpus vector whose cosine to ANY probe (e.g. an eval
    * benchmark's embeddings) clears `minCos`, candidate generation
    * confined to shared sign-LSH buckets. The embedding-space dual of
    * the n-gram [[Curation]] decontamination: paraphrased eval leakage
    * has no 8-gram overlap but lands in the same cosine neighborhood.
    * Same hot-bucket guard as [[cosineNearDups]]; recall follows the
    * bucket granularity (an exact-threshold sweep would need
    * multi-probe — see [[annMultiProbeTopK]]'s flip pattern).
    *
    * Output: `(idCol, probe_id, cos)` — one row per flagged (corpus,
    * probe) pair above the threshold.
    *
    * Scale: both sides bucket map-side; the join shuffles on bucket
    * with the probe side benchmark-sized (MBs vs a TB corpus), so each
    * corpus partition meets only its buckets' probes. Per-bucket work
    * is |corpus_bucket| × |probe_bucket| — probe-side cardinality
    * bounds it, not corpus².
    */
  def crossCosineMatches(corpus: DataFrame, probes: DataFrame,
      idCol: String, probeIdCol: String, vecCol: String,
      anchors: Seq[Seq[Double]], minCos: Double,
      maxBucket: Int = 1000): DataFrame = {
    val cb = Dedup.pruneHotBuckets(
      lshBuckets(corpus, vecCol, anchors)
        .select(col("bucket"), col(idCol), col(vecCol).as("__cv")),
      Seq("bucket"), maxBucket)
    val pb = lshBuckets(probes, vecCol, anchors)
      .select(col("bucket"), col(probeIdCol).as("probe_id"),
        col(vecCol).as("__pv"))
    cb.join(pb, Seq("bucket"))
      .select(col(idCol), col("probe_id").as(probeIdCol),
        round(cosine(col("__cv"), col("__pv")), 6).as("cos"))
      .filter(col("cos") >= minCos)
  }

  /** SemDeDup (Abbas et al., "SemDeDup: Data-efficient learning at
    * web-scale through semantic deduplication", 2023): cluster the
    * corpus, then inside each cluster drop every item that is
    * cosine-near (≥ `minCos`) an earlier-ranked item — one survivor per
    * semantic-duplicate family, pairwise work confined to clusters. The
    * within-cluster rank orders by ROUNDED centroid-cosine ASCENDING
    * then id (the paper's keep-the-outlier default: among near-dups the
    * family member farthest from the centroid survives; the rounded
    * cosine keeps ranks engine-stable). `centroids` is a prefit
    * `(centroidIdCol, centroid)` frame ([[groupCentroids]] /
    * [[firstVectors]] seeds / [[kMeansRounds]] output all qualify).
    *
    * Only the first `maxCluster` ranks of a cluster enter the pairwise
    * stage — the [[cosineNearDups]] hot-bucket discipline: a degenerate
    * mega-cluster cannot go quadratic; its tail rows are KEPT
    * unchallenged (recall loss, never blow-up — the documented trade).
    *
    * Output: one row per input vector, `(idCol, cluster, rnk, kept)`.
    *
    * Scale: assignment is a broadcast-centroid scan + per-id window;
    * the pairwise stage shuffles once on cluster id and is per-cluster
    * quadratic bounded by `maxCluster²` — with k ∝ corpus/1000 clusters
    * (the paper's regime) expected cluster sizes stay in the hundreds.
    */
  def semDedup(corpus: DataFrame, idCol: String, vecCol: String,
      centroids: DataFrame, centroidIdCol: String, minCos: Double,
      maxCluster: Int = 1000): DataFrame = {
    val ranked = nearestCentroid(corpus, idCol, vecCol, centroids,
        centroidIdCol)
      .withColumn("rnk", row_number().over(Window
        .partitionBy(col("assigned"))
        .orderBy(col("cos").asc, col(idCol))).cast("int"))
      .select(col(idCol), col("assigned").as("cluster"), col("rnk"))
    val vecs = ranked.filter(col("rnk") <= maxCluster)
      .join(corpus.select(col(idCol), col(vecCol)), Seq(idCol))
    val lhs = vecs.select(col("cluster"), col("rnk").as("ra"),
      col(vecCol).as("va"))
    val rhs = vecs.select(col("cluster"), col(idCol).as("idb"),
      col("rnk").as("rb"), col(vecCol).as("vb"))
    val dropped = lhs.join(rhs, Seq("cluster"))
      .filter(col("ra") < col("rb"))
      .filter(round(cosine(col("va"), col("vb")), 6) >= minCos)
      .select(col("idb").as(idCol)).distinct()
      .withColumn("__drop", lit(true))
    ranked.join(dropped, Seq(idCol), "left")
      .select(col(idCol), col("cluster"), col("rnk"),
        col("__drop").isNull.as("kept"))
  }

  /** Retrieval-quality instrumentation: per-query recall@k of an
    * approximate neighbor set against exact ground truth — the number a
    * user tunes `nprobe` / anchor count by. Both inputs are
    * (query_id, neighbor_id) frames as produced by [[bruteForceTopK]] /
    * [[annTopK]] / [[ivfTopK]]; recall = |truth ∩ approx| / k.
    *
    * Scale: both sides are queries×k-sized (the heavy corpus scans happen
    * upstream), so every join and aggregate here is candidate-list work —
    * the semi-join keys on (query, neighbor) and the count groups on
    * |queries| keys. Queries whose approximate set missed entirely still
    * report (recall 0), via the left join back onto the truth query list.
    */
  def recallAtK(truth: DataFrame, approx: DataFrame, queryIdCol: String,
      neighborIdCol: String, k: Int): DataFrame = {
    // broadcast both queries×k sides: left to AQE, the join strategy
    // (and so the job count) depended on which concurrently submitted
    // stage finished first
    val hits = truth.select(col(queryIdCol), col(neighborIdCol))
      .join(broadcast(approx.select(col(queryIdCol), col(neighborIdCol))),
        Seq(queryIdCol, neighborIdCol), "left_semi")
      .groupBy(col(queryIdCol)).agg(count(lit(1)).as("n_hits"))
    truth.select(col(queryIdCol)).distinct()
      .join(broadcast(hits), Seq(queryIdCol), "left")
      .select(col(queryIdCol),
        coalesce(col("n_hits"), lit(0L)).cast("int").as("n_hits"),
        round(coalesce(col("n_hits"), lit(0L)).cast("double") / k, 6)
          .as("recall"))
  }

  /** ANN top-k: only corpus vectors sharing the query's LSH bucket compete.
    * One shuffle keyed on bucket; each bucket is a small all-pairs. Recall
    * trades off with m (more planes → smaller buckets).
    */
  def annTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, queryIdCol: String, k: Int,
      anchors: Seq[Seq[Double]]): DataFrame = {
    val cb = lshBuckets(corpus, vecCol, anchors)
      .select(col("bucket"), col(idCol).as("neighbor_id"),
        col(vecCol).as("cvec"))
    val qb = broadcast(lshBuckets(queries, vecCol, anchors)
      .select(col("bucket"), col(queryIdCol).as("query_id"),
        col(vecCol).as("qvec")))
    cosineTopK(cb.join(qb, Seq("bucket"))
      .select(col("query_id"), col("neighbor_id"),
        cosine(col("qvec"), col("cvec")).as("cos")), k)
  }

  /** Multi-probe sign-LSH ANN: each query competes against its own
    * bucket PLUS every bucket at Hamming distance 1 (one sign flipped) —
    * the classic recall lever that costs m extra probe keys per query
    * instead of more anchor planes or a bigger corpus-side fan-out. The
    * corpus side is untouched (still one bucket per vector, one shuffle
    * key); probes explode on the BROADCAST query side only, so the extra
    * work is (m+1)× the query cardinality, nothing corpus-shaped.
    * `nFlips = 0` degrades to exactly [[annTopK]] (spec-pinned).
    */
  def annMultiProbeTopK(corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, queryIdCol: String, k: Int,
      anchors: Seq[Seq[Double]], nFlips: Int = 1): DataFrame = {
    require(nFlips == 0 || nFlips == 1,
      s"only 0- or 1-bit probing supported, got $nFlips")
    val m = anchors.size
    val probes =
      if (nFlips == 0) array(col("bucket"))
      else array(col("bucket") +:
        (0 until m).map(j => col("bucket").bitwiseXOR(lit(1L << j))): _*)
    val cb = lshBuckets(corpus, vecCol, anchors)
      .select(col("bucket"), col(idCol).as("neighbor_id"),
        col(vecCol).as("cvec"))
    val qb = broadcast(lshBuckets(queries, vecCol, anchors)
      .select(col(queryIdCol).as("query_id"), col(vecCol).as("qvec"),
        explode(probes).as("bucket")))
    cosineTopK(cb.join(qb, Seq("bucket"))
      .select(col("query_id"), col("neighbor_id"),
        cosine(col("qvec"), col("cvec")).as("cos")), k)
  }

  /** Maximal-marginal-relevance rerank (Carbonell & Goldstein, SIGIR
    * 1998): per query, fetch the exact top-`n` candidates, then
    * greedily select `m` of them, each round maximizing
    * `λ·rel(c) − (1−λ)·max_{s∈selected} sim(c, s)` — relevance traded
    * against redundancy, the standard diversification pass between
    * retrieval and a RAG context window (near-duplicate passages add
    * tokens, not information). Round 1 reduces to pure relevance (the
    * max over an empty selected set is 0 under the same formula).
    * Ties break on (score DESC, neighbor_id) — with both factors built
    * from the engine's shared-association cosines the scores are
    * bit-deterministic, so the greedy trace is oracle-checkable.
    *
    * Output: `(query_id, pick ∈ 1..m, neighbor_id, score)` — `score`
    * is the MMR objective value at selection time, 6 dp.
    *
    * Scale: the corpus is touched ONLY by [[bruteForceTopK]] (queries
    * broadcast, corpus never shuffled); everything after — the n²
    * candidate-pair cosines and the m greedy rounds — runs on
    * |queries|·n-grain frames, pinned once so the
    * m-round loop replans against a table, not an n²-join lineage.
    * The greedy loop is inherently sequential in m (each pick
    * conditions the next) but every round is one small join + one
    * |queries|-keyed window — m·O(|queries|·n) total.
    */
  def mmrRerank(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, queryIdCol: String, n: Int, m: Int,
      lambdaPct: Int): DataFrame = {
    require(n >= m && m >= 1, "need n >= m >= 1")
    require(lambdaPct >= 0 && lambdaPct <= 100, "lambdaPct is a percent")
    val lam = lit(lambdaPct.toDouble / 100.0)
    val oneMinusLam = lit((100 - lambdaPct).toDouble / 100.0)
    val cand = Pins.pin(bruteForceTopK(corpus, queries, idCol, vecCol,
      queryIdCol, n))
    val vecs = corpus.select(col(idCol).as("neighbor_id"),
      col(vecCol).as("__v"))
    val candV = Pins.pin(cand.join(vecs, Seq("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"), col("cos"), col("__v")))
    val pairSim = Pins.pin(candV.select(col("query_id"),
        col("neighbor_id").as("ca"), col("__v").as("__va"))
      .join(candV.select(col("query_id"), col("neighbor_id").as("cb"),
        col("__v").as("__vb")), Seq("query_id"))
      .filter(col("ca") =!= col("cb"))
      .select(col("query_id"), col("ca"), col("cb"),
        cosine(col("__va"), col("__vb")).as("sim")))
    val rel = candV.select(col("query_id"), col("neighbor_id"),
      col("cos"))
    var picks = Vector.empty[DataFrame]
    for (r <- 1 to m) {
      val selectedIds = picks.reduceOption(_ unionByName _) match {
        case None => null
        case Some(sel) => sel.select(col("query_id"),
          col("neighbor_id"))
      }
      val remaining = if (selectedIds == null) rel
        else rel.join(selectedIds, Seq("query_id", "neighbor_id"),
          "left_anti")
      val withMaxSim = if (selectedIds == null)
        remaining.withColumn("__ms", lit(0.0))
      else {
        val ms = pairSim
          .join(selectedIds.select(col("query_id"),
            col("neighbor_id").as("cb")), Seq("query_id", "cb"))
          .groupBy(col("query_id"), col("ca").as("neighbor_id"))
          .agg(max(col("sim")).as("__ms"))
        remaining.join(ms, Seq("query_id", "neighbor_id"), "left")
          .withColumn("__ms", coalesce(col("__ms"), lit(0.0)))
      }
      val pick = Pins.pin(withMaxSim
        .withColumn("score", lam * col("cos") - oneMinusLam * col("__ms"))
        .withColumn("__rk", row_number().over(Window
          .partitionBy(col("query_id"))
          .orderBy(col("score").desc, col("neighbor_id"))))
        .filter(col("__rk") === 1)
        .select(col("query_id"), lit(r).as("pick"), col("neighbor_id"),
          col("score")))
      picks = picks :+ pick
    }
    picks.reduce(_ unionByName _)
      .select(col("query_id"), col("pick"), col("neighbor_id"),
        round(col("score"), 6).as("score"))
  }
}

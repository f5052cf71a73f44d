package graft.llm

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.engine.Pins
import graft.engine.Relational.exactSum

/** Lexical (sparse) retrieval operators: per-document TF-IDF keyword
  * extraction and BM25 ranked search — the term-statistics complement to
  * the dense-vector side in [[Similarity]] (production retrieval is
  * hybrid: BM25 candidates ∪ ANN candidates → rerank).
  *
  * Scale posture: document-frequency tables are token-keyed aggregates
  * (Heaps-law sublinear in corpus size) and are BROADCAST for the lookup
  * joins, so the corpus-sized token stream is never shuffled on raw
  * tokens (a shuffle join there funnels every "the" into one task — the
  * classic skew). BM25 additionally filters the token stream to the
  * query's terms FIRST, so everything downstream of the scan is
  * query-sized, not corpus-sized.
  */
object Lexical {

  /** Exact phrase search: documents containing the phrase's normalized
    * token sequence verbatim, with the occurrence count. The phrase is
    * canonicalized driver-side with the SAME normalization as the corpus
    * tokens, then matched against the document's positional n-gram
    * stream (one native `token_ngrams` pass — no index, no join; a
    * standing phrase workload would precompute the gram→doc posting
    * list, which is exactly [[graft.llm.Curation.repeatedSpans]]'s
    * positional stream keyed the other way).
    */
  def phraseSearch(docs: DataFrame, idCol: String, textCol: String,
      phrase: String): DataFrame = {
    val toks = phrase.toLowerCase.replaceAll("[^a-z0-9 ]", " ").trim
      .split(" +").filter(_.nonEmpty).toSeq
    require(toks.nonEmpty, s"phrase '$phrase' has no tokens")
    val canon = toks.mkString(" ")
    val occ = size(filter(
      graft.functions.TokenNgrams.tokenNgrams(col(textCol), toks.length),
      g => g === canon))
    docs.select(col(idCol), occ.as("n_occurrences"))
      .filter(col("n_occurrences") > 0)
  }

  /** Top-k characteristic terms per document by TF-IDF
    * (idf = ln(N/df), tfidf = tf·idf), ties broken on the term string so
    * the cut is deterministic. One explode → (doc, term) count → df
    * aggregate → broadcast join back → per-doc WindowGroupLimit top-k.
    * Token-less documents yield no rows (nothing to rank).
    */
  def tfIdfTopTerms(docs: DataFrame, idCol: String, textCol: String,
      k: Int): DataFrame = {
    val n = docs.select(count(lit(1)).as("n_docs"))
    val tf = docs
      .select(col(idCol), explode(Text.tokens(col(textCol))).as("term"))
      .groupBy(col(idCol), col("term")).agg(count(lit(1)).as("tf"))
    val df = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    tf.join(broadcast(df), Seq("term"))
      .crossJoin(broadcast(n))
      // rank over the ROUNDED score: ln is libm-dependent in the last
      // ulp, so two mathematically-equal tfidf values composed through
      // different log arguments could rank-flip across engines if the
      // raw doubles ordered the cut; 6 decimals makes ties explicit and
      // the term tie-break deterministic on both sides
      .select(col(idCol), col("term"),
        round(col("tf") * log(col("n_docs").cast("double")
          / col("df").cast("double")), 6).as("tfidf"))
      .withColumn("rank", row_number().over(Window.partitionBy(col(idCol))
        .orderBy(col("tfidf").desc, col("term"))))
      .filter(col("rank") <= k)
      .select(col(idCol), col("term"), col("rank"), col("tfidf"))
  }

  /** BM25 ranked search (Robertson/Lucene form): score(d) = Σ_t idf(t) ·
    * tf·(k1+1) / (tf + k1·(1−b+b·len/avglen)) over the query's terms,
    * idf = ln(1 + (N−df+0.5)/(df+0.5)); top-`k` documents by (score,
    * id). Only documents containing ≥1 query term are scored — the rest
    * have score 0 and are not results.
    *
    * The token stream is filtered to the query's terms BEFORE any
    * aggregation (a literal isin over the handful of query terms), so tf,
    * df, and the final score all operate on query-sized data; the only
    * corpus-wide pass is the length/avg-length projection (a count
    * aggregate). The final top-k is a global TakeOrderedAndProject — no
    * full sort, no single-task window.
    */
  def bm25Search(docs: DataFrame, idCol: String, textCol: String,
      queryTerms: Seq[String], k: Int, k1: Double = 1.2,
      b: Double = 0.75): DataFrame = {
    val stats = docs
      .select(Text.tokenCount(col(textCol)).cast("double").as("len"))
      .agg(count(lit(1)).as("n_docs"), avg(col("len")).as("avg_len"))
    // doc length rides the term-filtered token stream (max = the constant
    // per-doc value) — joining a corpus-sized (id, len) frame here would
    // be the one corpus-wide shuffle in an otherwise query-sized plan
    val tf = docs
      .select(col(idCol),
        Text.tokenCount(col(textCol)).cast("double").as("len"),
        explode(Text.tokens(col(textCol))).as("term"))
      .filter(col("term").isin(queryTerms: _*))
      .groupBy(col(idCol), col("term"))
      .agg(count(lit(1)).as("tf"), max(col("len")).as("len"))
    val df = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    // length normalizer (1−b) + b·len/avglen; constants composed the same
    // way the SQL oracle composes them (literal-for-literal IEEE ops are
    // engine-identical; a PRE-FOLDED k1+1 could round differently than
    // the oracle's `1.2 + 1`)
    val lenNorm = lit(1d - b) + lit(b) * col("len") / col("avg_len")
    val idf = log(lit(1d)
      + (col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5)))
    val scored = tf
      .join(broadcast(df), Seq("term"))
      .crossJoin(broadcast(stats))
      .select(col(idCol),
        (idf * (col("tf") * (lit(k1) + lit(1d)))
          / (col("tf") + lit(k1) * lenNorm)).as("s"))
      // round BEFORE the top-k cut: the score is an order-dependent float
      // sum, and a true tie on the k-th boundary (observed in the sf0.001
      // fixture) would make the id tie-break depend on bit-identical
      // summation order across engines; 6 decimals makes the tie explicit
      .groupBy(col(idCol)).agg(round(sum(col("s")), 6).as("score"))
    scored
      .orderBy(col("score").desc, col(idCol))
      .limit(k)
      .select(col(idCol), col("score"))
  }

  /** Dirichlet-smoothed query-likelihood retrieval (Zhai & Lafferty,
    * SIGIR 2001 — the language-model scoring family BM25's probabilistic
    * cousin belongs to): `score(d) = Σ_t ln((c(t,d) + μ·cf_t/C) /
    * (|d| + μ))` over the query terms, with `cf_t` the corpus frequency
    * and `C` the corpus token count. Unlike [[bm25Search]], EVERY
    * document scores — a doc missing a term still pays the smoothed
    * background cost, and shorter documents pay less smoothing-mass
    * penalty — so the op scores the corpus and returns the top-`k`.
    *
    * Engine-stable integer form: each term contributes
    * `round((ln(c·C + μ·cf_t) − ln(C) − ln(|d| + μ))·10⁶)` micro-nats —
    * every `ln` argument is an exact integer product (IEEE multiply on
    * the double conversions is correctly rounded, engine-identical),
    * per-term micro values summed exactly. Query terms absent from the
    * CORPUS (cf = 0) are dropped from the model (their smoothed
    * probability is 0 for every document — no ranking information, and
    * `ln 0` is the alternative); `n_terms` reports the modeled count.
    *
    * Output: top-`k` rows `(id, dl, n_matched, score_micro, rank)` by
    * (score desc, id) — TakeOrdered then rank (the vocabCoverage
    * discipline; scores are negative, closest-to-zero wins).
    *
    * Scale: ONE tokenize pass builds the compact per-doc stats frame
    * `(id, dl, c_t…)` — |query|+2 longs per doc, the guide-§8
    * lightweight proxy — pinned so the model aggregate
    * (cf_t / C, one broadcast row off the pin) and the scoring
    * scan share a single materialization. Scoring is then entirely
    * row-local (per-term micro contributions summed in the projection)
    * into a global TakeOrdered: no explode, no corpus-grain shuffle, no
    * per-doc aggregation at all. (The former shape tokenized the corpus
    * in FOUR independent subtrees — lens×2, term-stream×2 — and paid a
    * (doc, term)-grain exchange for tf plus a doc-grain exchange for
    * the score sum; measured 1.9 s → 0.6 s at sf0.1.) The pin is
    * returned inside a lazy plan, so its blocks stay resident until the
    * session drops it — bounded at ~(|query|+2)·8 B per document.
    */
  def dirichletQueryLikelihood(docs: DataFrame, idCol: String,
      textCol: String, queryTerms: Seq[String], mu: Long,
      k: Int): DataFrame = {
    require(queryTerms.nonEmpty && mu >= 1 && k >= 1,
      "need query terms, mu >= 1, k >= 1")
    val terms = queryTerms.distinct.sorted
    // separate projection so CollapseProject keeps tokens() evaluated
    // once (it refuses to inline a non-cheap expression into multiple
    // references); counting via size(filter(…)) keeps everything inside
    // whole-stage codegen
    val toks = docs.filter(col(textCol).isNotNull)
      .select(col(idCol).as("__id"), Text.tokens(col(textCol)).as("__w"))
    val base = Pins.pin(toks.select(
      col("__id") +: size(col("__w")).cast("long").as("dl") +:
        terms.zipWithIndex.map { case (t, i) =>
          size(filter(col("__w"), x => x === lit(t))).cast("long")
            .as(s"__c$i")
        }: _*))
    // model row: corpus token count + per-term corpus frequencies —
    // 1 row, broadcast; reads the checkpoint blocks, not the corpus
    val stats = base.agg(
      sum(col("dl")).as("__ct"),
      terms.indices.map(i => sum(col(s"__c$i")).as(s"__cf$i")): _*)
    // per-term micro contribution, literal-for-literal the former
    // expression (same IEEE ops in the same order); a cf=0 term is
    // dropped from the model exactly as the former inner join on the
    // cf frame dropped it
    def micro(i: Int) = expr(
      s"""CAST(round((ln(CAST(__c$i AS DOUBLE) * CAST(__ct AS DOUBLE)
         + CAST($mu AS DOUBLE) * CAST(__cf$i AS DOUBLE))
         - ln(CAST(__ct AS DOUBLE))
         - ln(CAST(dl + $mu AS DOUBLE))) * 1000000) AS BIGINT)""")
    val modeled = terms.indices.map(i =>
      when(col(s"__cf$i") > 0L, 1L).otherwise(0L))
    val scored = base.crossJoin(broadcast(stats))
      .select(col("__id"), col("dl"),
        modeled.reduce(_ + _).as("n_terms"),
        terms.indices.map(i => when(col(s"__cf$i") > 0L,
            when(col(s"__c$i") > 0L, 1L).otherwise(0L)).otherwise(0L))
          .reduce(_ + _).as("n_matched"),
        terms.indices.map(i => when(col(s"__cf$i") > 0L, micro(i))
            .otherwise(0L))
          .reduce(_ + _).as("score_micro"))
      // no modeled term (every query term absent from the corpus) →
      // empty report, matching the former inner-join behavior
      .filter(col("n_terms") > 0L)
    scored
      .orderBy(col("score_micro").desc, col("__id"))
      .limit(k)
      .withColumn("rank", row_number().over(
        Window.orderBy(col("score_micro").desc, col("__id"))).cast("int"))
      .select(col("__id").as(idCol), col("dl"), col("n_terms"),
        col("n_matched"), col("score_micro"), col("rank"))
  }

  /** Reciprocal-rank fusion of two ranked runs (the standard hybrid
    * retrieval combiner: BM25 candidates ∪ ANN candidates without score
    * calibration): rrf(d) = Σ_runs 1/(k0+rank_d), absent-run documents
    * contribute 0. Returns the fused top-`k` with both source ranks for
    * explainability (NULL where a run missed the doc).
    *
    * Each run is (id, rank) — candidate-list-sized, so the full-outer
    * join and top-k are trivially small next to whatever produced the
    * runs; this op adds no corpus-scale work. The rank reciprocals are
    * rational arithmetic composed literal-for-literal (engine-exact
    * before the final 6-decimal round).
    */
  def rrfFuse(runA: DataFrame, runB: DataFrame, idCol: String,
      rankCol: String, k0: Int, k: Int): DataFrame = {
    val a = runA.select(col(idCol), col(rankCol).as("rank_a"))
    val b = runB.select(col(idCol), col(rankCol).as("rank_b"))
    a.join(b, Seq(idCol), "full_outer")
      .select(col(idCol), col("rank_a"), col("rank_b"),
        (coalesce(lit(1d) / (lit(k0) + col("rank_a")), lit(0d))
          + coalesce(lit(1d) / (lit(k0) + col("rank_b")), lit(0d)))
          .as("rrf"))
      .orderBy(col("rrf").desc, col(idCol))
      .limit(k)
      .select(col(idCol), col("rank_a"), col("rank_b"),
        round(col("rrf"), 6).as("rrf"))
  }

  /** Inverted index build — the materialized retrieval structure behind
    * [[bm25Search]]/[[phraseSearch]]: per term, document frequency, total
    * occurrence count, and the posting list (ascending doc ids, CSV).
    * Postings are CAPPED at `maxPostings` ids per term via a per-term
    * WindowGroupLimit — the cap is the hot-key guard: "the" would
    * otherwise collect a posting array proportional to the corpus into
    * one reducer row (same discipline as `maxBucket` in the dedup
    * family). df/tf stay EXACT over all occurrences (computed before the
    * cap); only the materialized list truncates. One explode → one
    * (term, doc) aggregate → one term-grain aggregate.
    */
  def invertedIndex(docs: DataFrame, idCol: String, textCol: String,
      maxPostings: Int): DataFrame = {
    val tf = docs
      .select(col(idCol).as("__id"),
        explode(Text.tokens(col(textCol))).as("term"))
      .groupBy(col("term"), col("__id")).agg(count(lit(1)).as("__tf"))
    val stats = tf.groupBy(col("term"))
      .agg(count(lit(1)).as("df"), sum(col("__tf")).as("tf_total"))
    val postings = tf
      .withColumn("__rn", row_number().over(
        Window.partitionBy(col("term")).orderBy(col("__id"))))
      .filter(col("__rn") <= maxPostings)
      .groupBy(col("term"))
      .agg(array_join(transform(sort_array(collect_list(col("__id"))),
        _.cast("string")), ",").as("postings"))
    stats.join(postings, Seq("term"))
  }

  /** Vocabulary coverage curve: the top-`topK` terms by occurrence count
    * with each prefix's cumulative share of TOTAL token mass in exact
    * ppm — the "how big must the vocab be to cover 95% of tokens"
    * report that sizes a tokenizer. The global cut is a TakeOrdered
    * (deterministic on (count desc, term)); the rank/cumsum window runs
    * over the already-cut topK rows only ([[keySkewReport]]'s
    * discipline — the single-partition window never sees the full
    * vocabulary). Total mass aggregates the same term-count frame the
    * cut reads, sharing its exchange via ReuseExchange.
    */
  def vocabCoverage(docs: DataFrame, textCol: String, topK: Int): DataFrame = {
    val counts = docs
      .select(explode(Text.tokens(col(textCol))).as("term"))
      .groupBy(col("term")).agg(count(lit(1)).as("n"))
    val total = counts.select(sum(col("n")).as("__tot"))
    val w = Window.orderBy(col("n").desc, col("term"))
    counts.orderBy(col("n").desc, col("term")).limit(topK)
      .crossJoin(broadcast(total))
      .withColumn("rank", row_number().over(w).cast("int"))
      // decimal combine: cum·10⁶ passes 2⁶³ at ~9.2e12 tokens — a long
      // multiply would throw (ANSI) exactly at LLM-corpus scale
      .withColumn("cum_ppm", expr(
        """(CAST(sum(n) OVER (ORDER BY n DESC, term
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS DECIMAL(38,0)) * 1000000) DIV __tot""").cast("long"))
      .select(col("term"), col("n"), col("rank"), col("cum_ppm"))
  }

  /** χ²-based discriminative term selection per label — the classic
    * feature-selection / corpus-contrast report (which terms mark German
    * docs, which mark a crawl source). Presence-grain contingency per
    * (term, label): a = label docs with term, b = other docs with term,
    * c = label docs without, d = rest; χ² = N(ad−bc)² / ((a+b)(c+d)(a+c)
    * (b+d)). Counts are exact longs; ad−bc is computed in LONG (exact —
    * products are bounded by N², well under 2⁶³), cast to double once,
    * and the final expression mirrors term-for-term in the oracle, so
    * the double arithmetic is IEEE-identical cross-engine (no libm, no
    * sum-order dependence). Top-`k` per label on (rounded χ², term).
    *
    * Shape: distinct (doc, label, term) explode → (term, label) counts;
    * label totals are label-cardinality-sized and broadcast. `minDf`
    * prunes the term tail before the window.
    *
    * Candidates are terms PRESENT in the label (a > 0): this reports
    * positive markers; a term discriminative by its ABSENCE ranks in the
    * labels it does appear in, not here. The a·d − b·c contingency
    * product runs in DECIMAL(38,0) (a·d is bounded by nl·N, which
    * passes 2⁶³ around 3×10⁹ docs) before the one cast to double.
    */
  def chiSquareTerms(docs: DataFrame, idCol: String, textCol: String,
      labelCol: String, minDf: Long, k: Int): DataFrame = {
    val docTerm = docs.select(col(idCol).as("__id"), col(labelCol).as("label"),
      explode(array_distinct(Text.tokens(col(textCol)))).as("term"))
    val tl = docTerm.groupBy(col("term"), col("label"))
      .agg(count(lit(1)).as("a"))
    val labelN = docs.groupBy(col(labelCol).as("label"))
      .agg(count(lit(1)).as("__nl"))
    val total = docs.select(count(lit(1)).as("__n"))
    // per-term df as a window over the (vocab × labels)-sized aggregate —
    // a groupBy + join back would re-run the corpus explode twice
    val counts = tl
      .withColumn("__df", sum(col("a")).over(Window.partitionBy(col("term"))))
      .filter(col("__df") >= minDf)
      .join(broadcast(labelN), Seq("label"))
      .crossJoin(broadcast(total))
      .withColumn("b", col("__df") - col("a"))
      .withColumn("c", col("__nl") - col("a"))
      .withColumn("d", col("__n") - col("__df") - col("c"))
    val d38 = "decimal(38,0)"
    val adbc = (col("a").cast(d38) * col("d").cast(d38) -
      col("b").cast(d38) * col("c").cast(d38)).cast("double")
    val den = (col("a") + col("b")).cast("double") *
      (col("c") + col("d")).cast("double") *
      (col("a") + col("c")).cast("double") *
      (col("b") + col("d")).cast("double")
    counts
      .withColumn("chi2",
        when(den > 0d, round(col("__n").cast("double") * adbc * adbc / den, 6))
          .otherwise(lit(0d)))
      .withColumn("rank", row_number().over(Window.partitionBy(col("label"))
        .orderBy(col("chi2").desc, col("term"))))
      .filter(col("rank") <= k)
      .select(col("label"), col("term"), col("a").as("n_label_docs"),
        col("__df").as("df"), col("chi2"), col("rank"))
  }

  /** Dunning log-likelihood keyness G² (Dunning, CL 1993) per (label,
    * term) over the [[chiSquareTerms]] doc-frequency 2×2 table: the
    * corpus-linguistics standard for "which terms are OVER-represented
    * in this label" — unlike the χ² it stays calibrated at the small
    * expected counts a long-tail vocabulary is made of. Per cell
    * `O ∈ {a, b, c, d}` with margins `(df, n−df) × (nl, n−nl)`, the
    * contribution is `round(2·10⁶·O·ln(O·n/(row·col)))` — per-cell
    * micro rounding (the Adamic–Adar rule; empty cells contribute the
    * standard exact 0), summed to an exact BIGINT `g2_micro`. Top-k
    * per label by keyness (label-keyed bounded rank window over the
    * minDf survivors). Output: `(label, term, n_label_docs, df,
    * g2_micro, rank)`.
    *
    * Scale: identical plan to [[chiSquareTerms]] — one corpus explode,
    * vocab×label-grain everything after.
    */
  def dunningG2Terms(docs: DataFrame, idCol: String, textCol: String,
      labelCol: String, minDf: Long, k: Int): DataFrame = {
    val docTerm = docs.select(col(idCol).as("__id"),
      col(labelCol).as("label"),
      explode(array_distinct(Text.tokens(col(textCol)))).as("term"))
    val tl = docTerm.groupBy(col("term"), col("label"))
      .agg(count(lit(1)).as("a"))
    val labelN = docs.groupBy(col(labelCol).as("label"))
      .agg(count(lit(1)).as("__nl"))
    val total = docs.select(count(lit(1)).as("__n"))
    val counts = tl
      .withColumn("__df",
        sum(col("a")).over(Window.partitionBy(col("term"))))
      .filter(col("__df") >= minDf)
      .join(broadcast(labelN), Seq("label"))
      .crossJoin(broadcast(total))
      .withColumn("b", col("__df") - col("a"))
      .withColumn("c", col("__nl") - col("a"))
      .withColumn("d", col("__n") - col("__df") - col("c"))
    def cell(o: String, rowM: String, colM: String) =
      s"CASE WHEN $o > 0 THEN CAST(round(2000000 * $o * " +
        s"ln(CAST($o AS DOUBLE) * __n / (CAST($rowM AS DOUBLE) " +
        s"* $colM))) AS BIGINT) ELSE 0 END"
    counts
      .withColumn("g2_micro", expr(
        cell("a", "__df", "__nl") + " + " +
        cell("b", "__df", "(__n - __nl)") + " + " +
        cell("c", "(__n - __df)", "__nl") + " + " +
        cell("d", "(__n - __df)", "(__n - __nl)")))
      .withColumn("rank", row_number().over(Window
        .partitionBy(col("label"))
        .orderBy(col("g2_micro").desc, col("term"))))
      .filter(col("rank") <= k)
      .select(col("label"), col("term"), col("a").as("n_label_docs"),
        col("__df").as("df"), col("g2_micro"), col("rank"))
  }

  /** BPE merge-step statistic: the top-`topK` adjacent CHARACTER pairs by
    * corpus weight — each occurrence of a word contributes every adjacent
    * pair inside it (`"aaa"` contributes `aa` twice), which is exactly the
    * pair-frequency table byte-pair encoding greedily merges from. The
    * ranking is the tokenizer-design input: the first merge a BPE trainer
    * would perform is rank 1.
    *
    * Scale: pair mining runs on the DISTINCT-WORD table (Heaps-law
    * sublinear in corpus size) weighted by word frequency — never on the
    * token stream; the pair table is ≤ alphabet² rows, the final
    * orderBy+limit a TakeOrdered, and the rank window runs only over the
    * `topK` survivors. Words shorter than 2 chars carry no pairs.
    */
  /** Zipf-law fit over the top-`topK` terms: least-squares slope of
    * `ln(freq)` against `ln(rank)` (a healthy natural-language corpus
    * sits near −1; boilerplate/spam skews it) with `r²` as the fit
    * quality. Both logs are SCALED-INTEGER (`⌊ln(·)·10⁶⌉` micro-nats)
    * before the sufficient statistics, which then accumulate exactly in
    * DECIMAL(38,0) — the groupRegression discipline, so the fit is
    * engine-exact even though it is a regression over logarithms (the
    * scale factor cancels in the slope). The term table is
    * Heaps-sublinear; the head cut is a TakeOrdered and the rank window
    * runs only over the `topK` survivors.
    */
  def zipfFit(docs: DataFrame, textCol: String, topK: Int): DataFrame = {
    require(topK >= 2, "a fit needs at least two points")
    val d38 = "decimal(38,0)"
    val tf = docs.select(explode(Text.tokens(col(textCol))).as("t"))
      .groupBy("t").agg(count(lit(1)).as("n"))
    val order = Seq(col("n").desc, col("t").asc)
    val xy = tf.orderBy(order: _*).limit(topK)
      .withColumn("rank", row_number().over(Window.orderBy(order: _*)))
      .select(
        round(log(col("rank").cast("double")) * 1000000d).cast("long")
          .cast(d38).as("x"),
        round(log(col("n").cast("double")) * 1000000d).cast("long")
          .cast(d38).as("y"))
    xy.agg(count(lit(1)).as("n_terms"),
        sum(col("x")).as("__sx"), sum(col("y")).as("__sy"),
        sum(col("x") * col("y")).as("__sxy"),
        sum(col("x") * col("x")).as("__sxx"),
        sum(col("y") * col("y")).as("__syy"))
      .withColumn("__n", col("n_terms").cast(d38))
      .withColumn("__num", col("__n") * col("__sxy") - col("__sx") * col("__sy"))
      .withColumn("__dx", col("__n") * col("__sxx") - col("__sx") * col("__sx"))
      .withColumn("__dy", col("__n") * col("__syy") - col("__sy") * col("__sy"))
      .withColumn("slope", when(col("__dx") > 0,
        round(col("__num").cast("double") / col("__dx").cast("double"), 6)))
      .withColumn("r2", when(col("__dx") > 0 && col("__dy") > 0,
        round(col("__num").cast("double") * col("__num").cast("double") /
          (col("__dx").cast("double") * col("__dy").cast("double")), 6)))
      .select(col("n_terms"), col("slope"), col("r2"))
  }

  def bpePairStep(docs: DataFrame, textCol: String, topK: Int): DataFrame = {
    val words = docs
      .select(explode(Text.tokens(col(textCol))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("f"))
      .filter(length(col("w")) >= 2)
    val order = Seq(col("weight").desc, col("pair").asc)
    words
      .select(col("f"), explode(expr(
        "transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))"))
        .as("pair"))
      .groupBy("pair").agg(sum(col("f")).as("weight"))
      .orderBy(order: _*).limit(topK)
      .withColumn("rank",
        row_number().over(Window.orderBy(order: _*)).cast("int"))
  }

  /** Per-document lexical diversity: token count, type (distinct-token)
    * count, hapax (once-only token) count, and the derived type–token
    * and hapax ratios (rounded 6 dp) — the classic vocabulary-richness
    * screen (template/boilerplate text runs a low TTR, keyboard-mash a
    * high one). Documents with zero tokens emit no row (a 0/0 ratio has
    * no meaning and every downstream join treats absence as "nothing to
    * score").
    *
    * Scale: the (doc, token) aggregate is token-grain (the same shuffle
    * class as TF-IDF's df pass) and collapses immediately to doc grain —
    * counts ride DECIMAL-free longs; no token list is ever collected.
    */
  def lexicalDiversity(docs: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    docs.select(col(idCol).as("doc_id"),
        explode(Text.tokens(col(textCol))).as("__t"))
      .groupBy("doc_id", "__t").agg(count(lit(1)).as("__n"))
      .groupBy("doc_id")
      .agg(sum(col("__n")).as("n_tokens"),
        count(lit(1)).as("n_types"),
        sum(when(col("__n") === 1, 1L).otherwise(0L)).as("n_hapax"))
      .withColumn("ttr", round(
        col("n_types").cast("double") / col("n_tokens").cast("double"), 6))
      .withColumn("hapax_ratio", round(
        col("n_hapax").cast("double") / col("n_tokens").cast("double"), 6))
  }

  /** Heaps-law fit — vocabulary growth exponent β in `V(n) ≈ K·n^β`
    * over the corpus in id order, the tokenizer-sizing number (how fast
    * does vocabulary grow as this corpus scales?) and a drift check
    * against [[zipfFit]]'s frequency-side exponent. Points are the
    * prefix curve `(cum_tokens, vocab)` sampled at `bucketSize`-doc
    * boundaries; the log–log slope is the Theil–Sen lower-median
    * ([[graft.engine.Relational.theilSen]] — robust to the curve's
    * early-corpus bend, positional pick so the fit is engine-stable).
    * Output one row: `(n_points, n_pairs, beta)`.
    *
    * Scale: per-doc token counts are map-side; vocabulary increments
    * come from one term-grain min-id aggregate (first occurrence —
    * the ngramNovelty shuffle shape); both collapse to BUCKET grain
    * before any window, so the global cumsum orders `docs/bucketSize`
    * rows, not the corpus — callers size `bucketSize` to keep the
    * point count in the hundreds (the theilSen pair frame is quadratic
    * in points).
    */
  def heapsLawFit(docs: DataFrame, idCol: String, textCol: String,
      bucketSize: Long): DataFrame = {
    require(bucketSize >= 1, "bucketSize must be positive")
    val perDoc = docs.select(col(idCol).as("__id"),
      Text.tokenCount(col(textCol)).cast("long").as("__nt"))
    val newTerms = docs.select(col(idCol).as("__fid"),
        explode(array_distinct(Text.tokens(col(textCol)))).as("__t"))
      .groupBy(col("__t")).agg(min(col("__fid")).as("__fid"))
      .groupBy(col("__fid")).agg(count(lit(1)).as("__nn"))
    val buckets = perDoc.join(newTerms, perDoc("__id") === newTerms("__fid"),
        "left")
      .select(col("__id"), col("__nt"), coalesce(col("__nn"), lit(0L))
        .as("__nn"))
      .groupBy(expr(s"__id DIV $bucketSize").as("__b"))
      .agg(sum(col("__nt")).as("__bt"), sum(col("__nn")).as("__bn"))
    val wCum = Window.orderBy(col("__b"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val pts = Pins.pin(buckets
      .withColumn("__ct", sum(col("__bt")).over(wCum))
      .withColumn("__cv", sum(col("__bn")).over(wCum))
      .filter(col("__ct") > 0 && col("__cv") > 0)
      .select(col("__b"), log(col("__ct").cast("double")).as("__lx"),
        log(col("__cv").cast("double")).as("__ly"))
      .withColumn("__g", lit(1)))
    graft.engine.Relational.theilSen(pts, Seq("__g"), "__lx", "__ly",
        Seq("__b"))
      .crossJoin(broadcast(pts.select(count(lit(1)).as("n_points"))))
      .select(col("n_points"), col("n_pairs"), col("slope").as("beta"))
  }

  /** Corpus-trained add-one-smoothed bigram language-model score per
    * document — the classic statistical fluency/quality proxy (a KenLM-
    * style n-gram LM filter without the external model): the corpus is
    * its own training set, and a document whose bigrams are rare under
    * the corpus model (high per-bigram negative log-likelihood) is
    * boilerplate, keyboard-mash, or wrong-language text the per-doc
    * heuristics miss. `P(w₂|w₁) = (c(w₁w₂)+1) / (c(w₁)+V)` with V the
    * corpus vocabulary size; each position contributes
    * `round((ln(c(w₁)+V) − ln(c(w₁w₂)+1))·10⁶)` INTEGER micro-nats
    * (the two-ln difference form, never `ln` of the ratio — both
    * engines evaluate the identical libm calls, the zipfFit
    * discipline), summed exactly per document.
    *
    * Output: `(id, n_bigrams, nll_micro_sum, nll_micro_avg)` — one row
    * per document with ≥ 2 tokens; avg is integral `DIV` (operands
    * non-negative by construction: `c(w₁w₂) ≤ c(w₁)` and `V ≥ 1`, so
    * every per-position term is ≥ 0 and floor = truncate on both
    * engines).
    *
    * Scale: the model is DERIVED, not joined at token grain — the
    * (doc, bigram, cnt) frame is aggregated once and pinned for its
    * two readers (corpus bigram totals roll up from it; per-doc scores
    * join it), so the corpus token stream is never shuffled raw. The
    * unigram/bigram model tables are Heaps-sublinear in corpus size;
    * the scoring join is key-equi on the bigram string with fan-out 1
    * (popular-bigram skew is the AQE skew-join class). The
    * unigram-count join runs at MODEL grain (bigram × vocab, both
    * Heaps-sublinear — never broadcast: a 100 TB vocabulary is not
    * dimension-sized); only the one-row V frame rides a broadcast. Two
    * corpus scans total (unigram explode + bigram explode — cheaper at
    * 100 TB than materializing per-doc token arrays for reuse).
    */
  def bigramLmScore(docs: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    // pinned: the broadcast V build and the model join read it
    // concurrently (the ecdfPaired race class)
    val uni = Pins.pin(docs
      .select(explode(Text.tokens(col(textCol))).as("__w1"))
      .groupBy(col("__w1")).agg(count(lit(1)).as("__c1")))
    val vRow = uni.agg(count(lit(1)).as("__V"))
    // pinned: the model aggregate and the scoring probe read this in
    // the same job
    val dg = Pins.pin(docs.select(col(idCol).as("__id"),
        explode(graft.functions.TokenNgrams.tokenNgrams(col(textCol), 2))
          .as("gram"))
      .groupBy(col("__id"), col("gram")).agg(count(lit(1)).as("__cnt")))
    val model = dg.groupBy(col("gram")).agg(sum(col("__cnt")).as("__c2"))
      .withColumn("__w1", substring_index(col("gram"), " ", 1))
      .join(uni, Seq("__w1"))
      .crossJoin(broadcast(vRow))
      .withColumn("__nll", round((log(col("__c1") + col("__V"))
        - log(col("__c2") + lit(1L))) * lit(1000000d)).cast("long"))
      .select(col("gram"), col("__nll"))
    dg.join(model, Seq("gram"))
      .groupBy(col("__id"))
      .agg(sum(col("__cnt")).cast("long").as("n_bigrams"),
        exactSum(col("__cnt") * col("__nll")).cast("long")
          .as("nll_micro_sum"))
      .withColumn("nll_micro_avg", expr("nll_micro_sum DIV n_bigrams"))
      .select(col("__id").as(idCol), col("n_bigrams"),
        col("nll_micro_sum"), col("nll_micro_avg"))
  }

  /** Interpolated Kneser–Ney bigram model (Kneser & Ney 1995; Chen &
    * Goodman 1998) with the textbook discount `D = 3/4` — the smoothing
    * that made n-gram LMs competitive, and the add-one upgrade to
    * [[bigramLmScore]]: mass freed by discounting observed bigrams is
    * redistributed by CONTINUATION probability (how many distinct
    * contexts a word follows — "francisco" is frequent but follows only
    * "san", so its unseen-context probability is tiny).
    *
    * `P(v|u) = max(c(uv)−D, 0)/c(u) + D·N1+(u·)/c(u) · N1+(·v)/B`, and
    * because `D = 3/4` every term is RATIONAL with a power-of-4
    * denominator: `term1 = (4c(uv)−3)·250000 DIV c(u)` and
    * `term2 = 3·N1+(u·)·N1+(·v)·250000 DIV (c(u)·B)` are exact integer
    * micro floors (cross products through DECIMAL(38,0)); `p_kn_micro`
    * is their sum — two floors, not the floor of the sum, the
    * documented contract. Per left context, Σ_v p_kn is within
    * 2·(#v) micro of 10⁶ (each floor loses < 1 micro).
    *
    * Output: `(gram, c_uv, c_u, n1_fwd, n1_back, p_kn_micro)` for
    * bigrams with `c(uv) ≥ minCount`.
    *
    * Scale: the model is three aggregates of the ONE (gram, count)
    * collapse — left-context totals, right-continuation counts, the
    * one-row type total — joined back at model grain (Heaps-sublinear
    * in corpus size, like [[bigramLmScore]]'s tables); the raw token
    * stream is exploded once and never re-shuffled.
    */
  def kneserNeyBigrams(docs: DataFrame, idCol: String, textCol: String,
      minCount: Long): DataFrame = Pins.scoped { s =>
    require(minCount >= 1, "minCount must be positive")
    val d38 = "decimal(38,0)"
    // pinned: both marginal aggregates, the broadcast B build and the
    // probe side read this concurrently inside the out build (the
    // ecdfPaired race class)
    val grams = s.pin(docs
      .select(explode(graft.functions.TokenNgrams.tokenNgrams(
        col(textCol), 2)).as("gram"))
      .groupBy(col("gram")).agg(count(lit(1)).as("c_uv"))
      .withColumn("__u", substring_index(col("gram"), " ", 1))
      .withColumn("__v", substring_index(col("gram"), " ", -1)))
    val left = grams.groupBy(col("__u"))
      .agg(sum(col("c_uv")).as("c_u"), count(lit(1)).as("n1_fwd"))
    val right = grams.groupBy(col("__v"))
      .agg(count(lit(1)).as("n1_back"))
    val bRow = grams.agg(count(lit(1)).as("__B"))
    grams.filter(col("c_uv") >= minCount)
      .join(left, Seq("__u"))
      .join(right, Seq("__v"))
      .crossJoin(broadcast(bRow))
      .withColumn("p_kn_micro",
        (expr(s"(CAST(c_uv AS $d38) * 4 - 3) * 250000 DIV c_u") +
          expr(s"CAST(n1_fwd AS $d38) * n1_back * 750000 DIV " +
            s"(CAST(c_u AS $d38) * __B)")).cast("long"))
      .select(col("gram"), col("c_uv"), col("c_u"), col("n1_fwd"),
        col("n1_back"), col("p_kn_micro"))
  }

  /** Top-k PMI collocations (Church & Hanks 1990) — bigrams whose
    * observed frequency most exceeds their unigram-independence
    * expectation, the phrase-mining readout behind tokenizer-vocab and
    * stopword-list decisions ("new york" scores high, "of the" low
    * despite its raw count). Over the bigram-occurrence space with
    * left/right marginals, `pmi = ln(c_uv) + ln(N) − ln(c_u·) −
    * ln(c_·v)` — the FOUR-ln difference form (each call takes an
    * exactly-representable integer double; never ln of a ratio or of a
    * product that could pass 2⁵³ — the [[bigramLmScore]] micro-nat
    * discipline), floored support `c_uv ≥ minCount` so singleton
    * pairings don't saturate the top of the list.
    *
    * Output: top-`topK` rows `(gram, c_uv, c_u, c_v, pmi_micro, rank)`
    * ranked by (pmi desc, gram) — the deterministic tiebreak.
    *
    * Scale: rides the same (gram, count) collapse as
    * [[kneserNeyBigrams]]; marginals are two aggregates of that frame,
    * the one-row N on broadcast, and the top-k a global sort-limit of
    * the minCount-filtered model frame (Heaps-sublinear).
    */
  def pmiCollocations(docs: DataFrame, textCol: String, minCount: Long,
      topK: Int): DataFrame = Pins.scoped { s =>
    require(minCount >= 1 && topK >= 1, "need positive minCount/topK")
    // pinned — the kneserNeyBigrams rationale
    val grams = s.pin(docs
      .select(explode(graft.functions.TokenNgrams.tokenNgrams(
        col(textCol), 2)).as("gram"))
      .groupBy(col("gram")).agg(count(lit(1)).as("c_uv"))
      .withColumn("__u", substring_index(col("gram"), " ", 1))
      .withColumn("__v", substring_index(col("gram"), " ", -1)))
    val left = grams.groupBy(col("__u")).agg(sum(col("c_uv")).as("c_u"))
    val right = grams.groupBy(col("__v")).agg(sum(col("c_uv")).as("c_v"))
    val nRow = grams.agg(sum(col("c_uv")).as("__N"))
    grams.filter(col("c_uv") >= minCount)
      .join(left, Seq("__u")).join(right, Seq("__v"))
      .crossJoin(broadcast(nRow))
      .withColumn("pmi_micro", expr(
        "CAST(round((ln(CAST(c_uv AS DOUBLE)) + ln(CAST(__N AS DOUBLE)) " +
          "- ln(CAST(c_u AS DOUBLE)) - ln(CAST(c_v AS DOUBLE))) " +
          "* 1000000) AS BIGINT)"))
      .orderBy(desc("pmi_micro"), asc("gram")).limit(topK)
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(desc("pmi_micro"), asc("gram"))))
      .select(col("gram"), col("c_uv"), col("c_u"), col("c_v"),
        col("pmi_micro"), col("rank").cast("int").as("rank"))
  }

  /** Skip-gram co-occurrence PMI — [[pmiCollocations]] widened from
    * strictly-adjacent bigrams to an ordered window of `window`
    * positions, the word2vec-style association statistic (adjacent-only
    * PMI finds fixed phrases; windowed PMI finds topical pairings that
    * tolerate an intervening token). Ordered pairs `(w_i, w_j)` with
    * `1 ≤ j − i ≤ window` collapse to (pair, count) grain; marginals
    * and total come from that frame; the score is the same four-ln
    * difference form.
    *
    * Output: top-`topK` rows `(w1, w2, n_pair, c_w1, c_w2, pmi_micro,
    * rank)` with support `n_pair ≥ minCount`, ranked (pmi desc, pair).
    *
    * Scale: pair generation is a single generate pass over each
    * document's token array (fan-out per token exactly `window`
    * candidates — never the O(len²) per-document pair frame a
    * join-on-id-then-range-filter would enumerate, and no position
    * self-join/shuffle at all); everything downstream is model-grain.
    */
  def skipgramPmi(docs: DataFrame, idCol: String, textCol: String,
      window: Int, minCount: Long, topK: Int): DataFrame = Pins.scoped { s =>
    require(window >= 1 && minCount >= 1 && topK >= 1,
      "need positive window/minCount/topK")
    // r14: the window pairs come straight off each document's token array
    // in ONE generate pass — (t[i], t[j]) for 1 ≤ j−i ≤ window via a
    // nested transform+flatten — instead of the banded position self-join
    // (persist the position frame, explode the offsets, equi-join on
    // (__id, __p+off): one cache build plus a doc-token-grain shuffle of
    // BOTH sides before any aggregation). Same ordered-pair multiset by
    // construction; the first shuffle in the plan is now the (w1, w2)
    // pair aggregate itself, which partial-aggregates map-side (guide
    // §2.3 "aggregate before you shuffle", §2.4 "remove shuffles
    // outright").
    // pinned: four concurrent readers (left/right marginals, the
    // broadcast N build, the probe side — the ecdfPaired race class)
    val pairs = s.pin(docs.filter(col(textCol).isNotNull)
      .select(Text.tokens(col(textCol)).as("__t"))
      .filter(size(col("__t")) >= 2)
      .select(explode(expr(
        "flatten(transform(sequence(1, size(__t) - 1), i -> " +
          s"transform(sequence(i + 1, least(i + $window, size(__t))), " +
          "j -> struct(element_at(__t, i) AS w1, " +
          "element_at(__t, j) AS w2))))")).as("__pr"))
      .select(col("__pr.w1").as("w1"), col("__pr.w2").as("w2"))
      .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("n_pair")))
    val left = pairs.groupBy(col("w1")).agg(sum(col("n_pair")).as("c_w1"))
    val right = pairs.groupBy(col("w2")).agg(sum(col("n_pair")).as("c_w2"))
    val nRow = pairs.agg(sum(col("n_pair")).as("__N"))
    pairs.filter(col("n_pair") >= minCount)
      .join(left, Seq("w1")).join(right, Seq("w2"))
      .crossJoin(broadcast(nRow))
      .withColumn("pmi_micro", expr(
        "CAST(round((ln(CAST(n_pair AS DOUBLE)) + ln(CAST(__N AS DOUBLE)) " +
          "- ln(CAST(c_w1 AS DOUBLE)) - ln(CAST(c_w2 AS DOUBLE))) " +
          "* 1000000) AS BIGINT)"))
      .orderBy(desc("pmi_micro"), asc("w1"), asc("w2")).limit(topK)
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(desc("pmi_micro"), asc("w1"), asc("w2"))))
      .select(col("w1"), col("w2"), col("n_pair"), col("c_w1"),
        col("c_w2"), col("pmi_micro"), col("rank").cast("int").as("rank"))
  }

  /** Byte-pair-encoding merge TRAINING (Sennrich et al. 2016) — the
    * iterative closure of [[bpePairStep]]'s single statistic: `merges`
    * rounds of (count adjacent symbol pairs weighted by word frequency
    * → merge the most frequent pair everywhere), the loop that actually
    * builds a subword vocabulary. Deterministic end to end: the winning
    * pair is (max weight, then lexicographically smallest), and the
    * merge applies left-to-right non-overlapping — the greedy BPE
    * convention — via the space-doubling rewrite (double every
    * delimiter, replace `␣a␣␣b␣` with `␣ab␣`, collapse): after
    * doubling, adjacent occurrences no longer share a delimiter
    * character, so plain string `replace` merges BOTH of `a b a b`'s
    * pairs, while overlapping `a a a` still merges only the left pair —
    * exactly greedy BPE, with identical literal-replace semantics on
    * both engines.
    *
    * Output: `(step, pair, weight)` — the ordered merge table; stops
    * early (fewer rows) if the corpus runs out of adjacent pairs.
    *
    * Scale: the loop state is the WORD-FREQUENCY table (Heaps-sublinear
    * in corpus size), built from one corpus scan and pinned per round;
    * each round is one vocab-grain explode + aggregate. The per-round
    * winner is a one-row collect — driver work O(merges), the
    * timeBounds-row class. Each round's pin releases the
    * previous round's blocks as soon as it lands (and the last one on
    * exit), so block-manager residency stays ONE vocab frame regardless
    * of `merges` — round N+1 never re-reads round N−1.
    */
  def bpeTrain(docs: DataFrame, textCol: String,
      merges: Int): DataFrame = {
    require(merges >= 1, "merges must be positive")
    val spark = docs.sparkSession
    import spark.implicits._
    def bestPair(vocab: DataFrame): Array[org.apache.spark.sql.Row] = vocab
      .select(col("__f"), split(col("__syms"), " ").as("__a"))
      .filter(size(col("__a")) >= 2)
      .select(col("__f"), explode(expr(
        "transform(sequence(1, size(__a) - 1), " +
          "i -> concat(element_at(__a, i), ' ', element_at(__a, i + 1)))"))
        .as("pair"))
      .groupBy(col("pair")).agg(sum(col("__f")).as("weight"))
      .orderBy(desc("weight"), asc("pair"))
      .limit(1).collect()
    var vocab = Pins.pin(docs
      .select(explode(Text.tokens(col(textCol))).as("__w"))
      .filter(length(col("__w")) >= 2)
      .groupBy(col("__w")).agg(count(lit(1)).as("__f"))
      .select(expr("array_join(transform(sequence(1, char_length(__w)), " +
        "i -> substring(__w, i, 1)), ' ')").as("__syms"), col("__f")))
    var best = bestPair(vocab)
    val steps = scala.collection.mutable.ArrayBuffer.empty[(Int, String, Long)]
    var step = 1
    while (step <= merges && best.nonEmpty) {
      val pair = best(0).getString(0)
      steps += ((step, pair, best(0).getLong(1)))
      step += 1
      if (step <= merges) {
        val Array(a, b) = pair.split(" ", 2)
        // the next round's best-pair collect is the job that pins the
        // rewritten vocab (r14, the duplicateClusters count-fusion); the
        // previous vocab is released only after it has run
        val (next, nextBest) = Pins.pinWith(vocab.withColumn("__syms", expr(
          s"trim(replace(replace(concat(' ', replace(__syms, ' ', '  '), " +
            s"' '), ' $a  $b ', ' $a$b '), '  ', ' '))")))(bestPair)
        Pins.release(vocab)
        vocab = next
        best = nextBest
      }
    }
    Pins.release(vocab)
    steps.toSeq.toDF("step", "pair", "weight")
  }

  /** Apply a trained BPE merge table ([[bpeTrain]] output, in step
    * order) to the corpus and report per-group tokenizer statistics —
    * the closing half of the BPE loop: train produces the merges,
    * apply measures what they buy (`fertility` = subwords per word,
    * the tokenizer-quality number; `chars_per_subword` = the
    * compression the vocab achieves). Each merge applies via the same
    * greedy left-to-right space-doubling rewrite as training — the
    * per-word segmentation is EXACTLY what the trained tokenizer
    * produces, not an approximation.
    *
    * Output per group: `(group, n_words, n_subwords, n_chars,
    * fertility_micro, chars_per_subword_micro)` — all-integer micro
    * floors; a group with zero words emits nothing.
    *
    * Scale: merges apply at VOCAB grain (distinct (group, word) —
    * Heaps-sublinear), as `merges.length` chained codegen'd string
    * replaces (no per-merge pass over data); per-word subword counts
    * then weight by the word's frequency in one group-grain aggregate.
    * Driver work is the merge list itself (O(merges), the bpeTrain
    * collect class).
    */
  def bpeApplyFertility(docs: DataFrame, groupCol: String,
      textCol: String, merges: Seq[String]): DataFrame = {
    val wf = docs.filter(col(textCol).isNotNull && col(groupCol).isNotNull)
      .select(col(groupCol).as("group"),
        explode(Text.tokens(col(textCol))).as("__w"))
      .groupBy(col("group"), col("__w")).agg(count(lit(1)).as("__f"))
    // merge pairs come from bpeTrain's normalized token alphabet; the
    // require guards the SQL splice against anything else
    require(merges.forall(_.matches("[a-z0-9]+ [a-z0-9]+")),
      "merges must be bpeTrain pairs ('left right' over [a-z0-9] symbols)")
    val spacedSql = "array_join(transform(sequence(1, char_length(__w)), " +
      "i -> substring(__w, i, 1)), ' ')"
    val mergedSql = merges.foldLeft(spacedSql) { (acc, pair) =>
      val Array(a, b) = pair.split(" ", 2)
      // greedy left-to-right non-overlapping merge — the bpeTrain
      // space-doubling rewrite, chained per merge in training order
      s"trim(replace(replace(concat(' ', replace($acc, ' ', '  '), ' '), " +
        s"' $a  $b ', ' $a$b '), '  ', ' '))"
    }
    wf.withColumn("__syms", expr(mergedSql))
      .withColumn("__ns", size(split(col("__syms"), " ")).cast("long"))
      .groupBy(col("group"))
      .agg(sum(col("__f")).as("n_words"),
        sum(col("__f") * col("__ns")).as("n_subwords"),
        sum(col("__f") * length(col("__w"))).as("n_chars"))
      .withColumn("fertility_micro",
        expr("(n_subwords * 1000000) DIV n_words"))
      .withColumn("chars_per_subword_micro",
        expr("(n_chars * 1000000) DIV n_subwords"))
  }

  /** Cross-split bigram-LM transfer report — train [[bigramLmScore]]'s
    * add-one model on ONE split, score EVERY split against it, and
    * report per-split totals: the held-in/held-out NLL gap is the
    * domain-shift / contamination probe (a "held-out" split scoring as
    * well as held-in is either same-distribution or leaked; one
    * scoring far worse has drifted). `P(w₂|w₁) = (c_train(w₁w₂)+1) /
    * (c_train(w₁)+V)` with V the TRAIN vocabulary size; bigrams unseen
    * in training take c = 0 on either count (the add-one floor —
    * exactly how the model would score production text). Per-position
    * micro-nats are the [[bigramLmScore]] two-ln integer form.
    *
    * Output per split: `(split, n_docs, n_bigrams, n_unseen,
    * nll_micro_sum, nll_micro_avg)` — `n_unseen` counts scored
    * positions whose bigram never occurs in training.
    *
    * Scale: model tables from the train split only (Heaps-sublinear);
    * scoring is one bigram-keyed left join of the (split, gram, cnt)
    * aggregate against the model — never a raw-token shuffle; output
    * is split-grain.
    */
  def bigramLmTransfer(docs: DataFrame, idCol: String, textCol: String,
      splitCol: String, trainValue: String): DataFrame = {
    val base = docs.filter(col(textCol).isNotNull)
      .select(col(idCol).as("__id"), col(splitCol).as("__split"),
        col(textCol).as("__text"))
    val train = base.filter(col("__split") === trainValue)
    // pinned: the broadcast V build and the scoring join of the
    // returned LAZY plan both read it
    val uni = Pins.pin(train
      .select(explode(Text.tokens(col("__text"))).as("__w1"))
      .groupBy(col("__w1")).agg(count(lit(1)).as("__c1")))
    val vRow = uni.agg(count(lit(1)).as("__V"))
    val big = train.select(
        explode(graft.functions.TokenNgrams.tokenNgrams(col("__text"), 2))
          .as("gram"))
      .groupBy(col("gram")).agg(count(lit(1)).as("__c2"))
    val sg = base.select(col("__split"), col("__id"),
        explode(graft.functions.TokenNgrams.tokenNgrams(col("__text"), 2))
          .as("gram"))
      .groupBy(col("__split"), col("__id"), col("gram"))
      .agg(count(lit(1)).as("__cnt"))
    val out = sg
      .join(big, Seq("gram"), "left")
      .withColumn("__w1", substring_index(col("gram"), " ", 1))
      .join(uni, Seq("__w1"), "left")
      .crossJoin(broadcast(vRow))
      .withColumn("__c1", coalesce(col("__c1"), lit(0L)))
      .withColumn("__c2", coalesce(col("__c2"), lit(0L)))
      .withColumn("__nll", round((log(col("__c1") + col("__V"))
        - log(col("__c2") + lit(1L))) * lit(1000000d)).cast("long"))
      .groupBy(col("__split"))
      .agg(countDistinct(col("__id")).as("n_docs"),
        sum(col("__cnt")).cast("long").as("n_bigrams"),
        sum(when(col("__c2") === 0L, col("__cnt")).otherwise(0L))
          .cast("long").as("n_unseen"),
        exactSum(col("__cnt") * col("__nll")).cast("long")
          .as("nll_micro_sum"))
      .withColumn("nll_micro_avg", expr("nll_micro_sum DIV n_bigrams"))
      .select(col("__split").as(splitCol), col("n_docs"),
        col("n_bigrams"), col("n_unseen"), col("nll_micro_sum"),
        col("nll_micro_avg"))
    out
  }

  /** Corpus lexical-richness report from the term FREQUENCY SPECTRUM —
    * the vocabulary-health readout ("is this corpus template spam or
    * real language") that raw type/token counts can't see: Yule's K
    * (Yule 1944, repeat-rate concentration — high K = few types
    * dominate), lexical Simpson's D (the probability two random tokens
    * are the same type — K's exact-rational sibling), Herdan's C
    * (log-log type/token slope, the size-robust TTR), and plain TTR.
    *
    * Exact cores: with spectrum `V(m)` = number of types occurring m
    * times, `N = Σ m·V(m)`, `V = Σ V(m)`, `S2 = Σ m²·V(m)` (DECIMAL):
    * `K = 10⁴·(S2 − N)/N²` (one double, 6 dp),
    * `D_micro = 10⁶·(S2 − N) DIV (N·(N−1))` (exact floor),
    * `C = ln V / ln N` (6 dp), `ttr_ppm = 10⁶·V DIV N`.
    * Output: ONE row `(n_tokens, n_types, ttr_ppm, simpson_micro,
    * yules_k, herdan_c)`.
    *
    * Scale: corpus scan → term-grain count aggregate (Heaps-sublinear)
    * → spectrum-grain re-aggregation (≤ max-frequency rows) → 1-row
    * reduce. Nothing wider than the vocabulary ever shuffles.
    */
  def lexicalRichness(docs: DataFrame, textCol: String): DataFrame = {
    val d38 = "decimal(38,0)"
    val terms = docs.filter(col(textCol).isNotNull)
      .select(explode(Text.tokens(col(textCol))).as("__w"))
      .groupBy(col("__w")).agg(count(lit(1)).as("__m"))
    val spectrum = terms.groupBy(col("__m"))
      .agg(count(lit(1)).as("__vm"))
    spectrum.agg(
        coalesce(sum(col("__m") * col("__vm")), lit(0L)).as("n_tokens"),
        coalesce(sum(col("__vm")), lit(0L)).as("n_types"),
        coalesce(sum(col("__m").cast(d38) * col("__m") * col("__vm")),
          lit(0).cast(d38)).as("__s2"))
      .select(col("n_tokens"), col("n_types"),
        when(col("n_tokens") > 0,
          expr("n_types * 1000000L DIV n_tokens")).as("ttr_ppm"),
        when(col("n_tokens") >= 2, expr(
          "CAST(((__s2 - n_tokens) * 1000000) DIV " +
            "(CAST(n_tokens AS DECIMAL(38,0)) * (n_tokens - 1)) " +
            "AS BIGINT)")).as("simpson_micro"),
        when(col("n_tokens") > 0, round(
          (col("__s2") - col("n_tokens")).cast("double") * 10000d /
            (col("n_tokens").cast("double") *
              col("n_tokens").cast("double")), 6)).as("yules_k"),
        when(col("n_tokens") > 1 && col("n_types") > 0, round(
          log(col("n_types").cast("double")) /
            log(col("n_tokens").cast("double")), 6)).as("herdan_c"))
  }

  /** RAKE keyword extraction (Rose et al. 2010): candidate phrases are
    * maximal stopword-free token runs; a word scores `deg/freq` where
    * `deg = Σ_{phrases ∋ w} |phrase|` (co-occurrence degree, self
    * included) and `freq` is its phrase-occurrence count; a phrase
    * scores the sum of its word scores. The document-local, corpus-
    * statistics-free keyword baseline (TextRank's cheaper cousin — no
    * graph iteration).
    *
    * Integer contract: word score = `(deg·10⁶) DIV freq` (exact
    * floor), phrase score = exact sum of member-word micro scores
    * (duplicate words in a phrase count each occurrence). Output:
    * top-`k` distinct phrases `(phrase, n_occurrences, score_micro)`
    * by (score desc, phrase asc) — a TakeOrdered cut, never a global
    * sort.
    *
    * Scale: one corpus scan → phrase explode (corpus-linear) → word-
    * grain aggregate (vocab-sized, broadcast back) → phrase-grain
    * reduce → TakeOrdered k.
    */
  def rakeKeywords(docs: DataFrame, idCol: String, textCol: String,
      stopwords: Seq[String], topK: Int): DataFrame = {
    require(topK >= 1, "topK must be positive")
    val stopArr = array(stopwords.map(lit(_)): _*)
    // phrase segmentation: group id = count of stopwords at-or-before
    // each position; non-stopword tokens with the same group id form
    // one maximal run (keyed by the CALLER's doc id — a synthesized
    // monotonically_increasing_id lands in the post-Generate
    // projection and mints one "document" per exploded token)
    val toks = docs.filter(col(textCol).isNotNull &&
        col(idCol).isNotNull)
      .select(col(idCol).as("__doc"),
        posexplode(Text.tokens(col(textCol))).as(Seq("__p", "__w")))
      .withColumn("__stop", array_contains(stopArr, col("__w")))
      .withColumn("__grp", sum(col("__stop").cast("int")).over(
        Window.partitionBy(col("__doc")).orderBy(col("__p"))
          .rowsBetween(Window.unboundedPreceding, 0)))
      .filter(!col("__stop"))
    val phrases = toks.groupBy(col("__doc"), col("__grp"))
      .agg(array_join(sort_array(collect_list(
          struct(col("__p"), col("__w")))).getField("__w"), " ")
        .as("phrase"),
        count(lit(1)).as("__len"))
    // corpus-global word stats over phrase INSTANCES: freq = instance
    // occurrences, deg = sum of hosting-phrase lengths (self included)
    val instWords = phrases
      .select(col("__len"), explode(split(col("phrase"), " ")).as("__w"))
    val wordStats = instWords.groupBy(col("__w"))
      .agg(count(lit(1)).as("__freq"), sum(col("__len")).as("__deg"))
      .withColumn("__ws", expr("__deg * 1000000L DIV __freq"))
      .select(col("__w"), col("__ws"))
    // a phrase TEXT scores the same wherever it occurs: score the
    // distinct texts once, count instances separately
    val phraseCounts = phrases.groupBy(col("phrase"))
      .agg(count(lit(1)).as("n_occurrences"))
    val scored = phraseCounts
      .select(col("phrase"), explode(split(col("phrase"), " "))
        .as("__w"))
      .join(broadcast(wordStats), Seq("__w"))
      .groupBy(col("phrase"))
      .agg(sum(col("__ws")).as("score_micro"))
    phraseCounts.join(scored, Seq("phrase"))
      .select(col("phrase"), col("n_occurrences"), col("score_micro"))
      .orderBy(col("score_micro").desc, col("phrase").asc)
      .limit(topK)
  }
}

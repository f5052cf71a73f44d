package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.functions.PolyHash.polyhash
import graft.functions.TokenNgrams.tokenNgrams
import graft.engine.Pins
import graft.engine.PrefixScan.globalCumSum
import graft.engine.Relational.{exactSumProd, orderedSum}

/** Corpus-level curation operators a large-scale training-data run needs
  * beyond per-document filters: cross-document line deduplication (the
  * C4-style "drop any line repeated across the corpus" pass), benchmark
  * decontamination (n-gram overlap against an eval set), and deterministic
  * per-group caps for data mixing.
  *
  * Scale posture (100 TB corpus): line dedup shuffles on line content
  * (cardinality ≈ distinct lines, with map-side combine on the count);
  * decontamination broadcasts the eval-set gram list (eval benchmarks are
  * MBs against a TB corpus) so the corpus is never shuffled; the per-group
  * cap's rank filter is pushed below the exchange by Spark's
  * `WindowGroupLimit`, so the shuffle carries ≤ cap×tasks rows even when
  * the group key has only a handful of values.
  */
object Curation {

  /** Cross-document line-level dedup: any line whose exact text occurs at
    * least `minCount` times across the WHOLE corpus is dropped from every
    * document (C4 §2.1 drops lines occurring more than once — that is
    * `minCount = 2`). Per document, returns the original line count, kept
    * count, and the cleaned text reassembled in original line order.
    *
    * Dataflow: posexplode lines → count lines across the corpus (one hash
    * aggregate; map-side combine ships one row per distinct line per
    * task) → anti-join survivors against the repeated-line list (shuffle
    * join keyed on line content; the repeat list is far smaller than the
    * corpus but unbounded, so NOT broadcast) → per-doc ordered
    * re-aggregation. Documents whose every line was dropped stay in the
    * output with an empty `clean`.
    */
  def dedupLinesAcrossCorpus(docs: DataFrame, idCol: String, textCol: String,
      minCount: Int = 2): DataFrame = {
    val lines = docs
      .select(col(idCol), posexplode(split(col(textCol), "\n"))
        .as(Seq("pos", "line")))
    val repeated = lines.groupBy(col("line"))
      .agg(count(lit(1)).as("n_occ"))
      .filter(col("n_occ") >= minCount)
      .select(col("line"))
    val kept = lines.join(repeated, Seq("line"), "left_anti")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_kept"),
        // sort_array on (pos, line) structs restores document order;
        // getField is the codegen'd per-element projection (a transform
        // lambda would run interpreted)
        array_join(sort_array(collect_list(struct(col("pos"), col("line"))))
          .getField("line"), "\n").as("clean"))
    docs
      // newline count + 1 ≡ size(split(text, "\n")) without re-splitting
      // the corpus into a second full line-array materialization;
      // translate deletes the char in one codegen'd byte scan
      .select(col(idCol), (length(col(textCol))
        - length(translate(col(textCol), "\n", "")) + 1).as("n_lines"))
      .join(kept, Seq(idCol), "left")
      .select(col(idCol), col("n_lines"),
        coalesce(col("n_kept"), lit(0L)).cast("int").as("n_kept"),
        (col("n_lines") - coalesce(col("n_kept"), lit(0L)).cast("int"))
          .as("n_dropped"),
        coalesce(col("clean"), lit("")).as("clean"))
  }

  /** Benchmark decontamination report: for each corpus document, how many
    * of its word `n`-grams also appear in the eval benchmark's gram set.
    * The standard pre-training hygiene pass (GPT-3 appendix C / Gopher
    * A.2 use 8–13-gram overlap); `contaminated` flags any overlap, and
    * callers threshold `n_hit` / `n_grams` for fractional policies.
    *
    * The benchmark side is collapsed to DISTINCT grams and broadcast —
    * eval sets are MB-sized against a TB corpus, so the corpus side is
    * never shuffled for the membership test (one broadcast semi-join on
    * the exploded grams), then one hash re-aggregation on the doc id.
    * Gram multiplicity in the DOCUMENT counts once per occurrence (two
    * copies of a benchmark sentence = twice the hits).
    */
  def contaminationReport(docs: DataFrame, bench: DataFrame, idCol: String,
      textCol: String, n: Int): DataFrame = {
    val benchGrams = bench
      .select(explode(tokenNgrams(col(textCol), n)).as("gram")).distinct()
    val hits = docs
      .select(col(idCol), explode(tokenNgrams(col(textCol), n)).as("gram"))
      .join(broadcast(benchGrams), Seq("gram"), "left_semi")
      .groupBy(col(idCol)).agg(count(lit(1)).as("n_hit"))
    docs
      // gram COUNT is closed-form from the token count — don't build the
      // full n-gram string array a second time just to size() it
      .select(col(idCol), greatest(Text.tokenCount(col(textCol)) - (n - 1),
        lit(0)).as("n_grams"))
      .join(hits, Seq(idCol), "left")
      .select(col(idCol), col("n_grams"),
        coalesce(col("n_hit"), lit(0L)).cast("int").as("n_hit"),
        (coalesce(col("n_hit"), lit(0L)) > 0).as("contaminated"))
  }

  /** Deterministic per-group cap for data mixing: keep at most `cap`
    * documents per group, chosen by content-hash order (reproducible
    * across runs and engines, unlike a random sample), ties broken by the
    * unique id. Returns the kept rows with their within-group rank.
    *
    * Scale: a rank-filter window over a low-cardinality group key (5
    * languages over 100 TB) would naively shuffle everything to 5 tasks;
    * Spark's `WindowGroupLimit` rewrites `rank <= cap` into a per-map
    * partial top-`cap`, so the exchange carries ≤ cap×tasks rows. The
    * LlmSpec plan assertion pins that rewrite.
    */
  def capPerGroup(docs: DataFrame, groupCol: String, idCol: String,
      orderHashCol: Column, cap: Int): DataFrame =
    docs
      .withColumn("rk", row_number().over(Window.partitionBy(col(groupCol))
        .orderBy(orderHashCol, col(idCol))))
      .filter(col("rk") <= cap)

  /** `capPerGroup` keyed on the polyhash of the text column — the default
    * "hash order" policy (content-derived, so inserting unrelated new docs
    * does not reshuffle which existing docs survive, unlike id order).
    */
  def capPerGroupByContent(docs: DataFrame, groupCol: String, idCol: String,
      textCol: String, cap: Int): DataFrame =
    capPerGroup(docs, groupCol, idCol, polyhash(col(textCol)), cap)

  /** Source-level quality gate: drop EVERY document from sources whose
    * mean quality score falls below `minMeanQuality` — the domain
    * blocklist pass web pipelines run before any per-document filter
    * (a spam domain's best page is still spam). The mean is rounded to
    * 6 decimals BEFORE comparison so the keep/drop decision is
    * cross-engine stable (float aggregation order differs per engine;
    * memory: a raw-float threshold is a coin flip at the boundary).
    *
    * Scale: one corpus scan for per-doc scores, a source-keyed aggregate
    * (cardinality = #domains, ≪ corpus), and a broadcast anti-join on the
    * blocklist — domains are web-bounded (~10^8 worst case, and the
    * BLOCKED subset far smaller), so the corpus is never shuffled.
    */
  def pruneLowQualitySources(docs: DataFrame, textCol: String,
      srcCol: String, minMeanQuality: Double): DataFrame = {
    val staged = docs.select(col(srcCol), col(textCol),
      Text.tokens(col(textCol)).as("toks"))
    val bad = staged
      .select(col(srcCol),
        Text.qualityScoreFromTokens(col(textCol), col("toks")).as("q"))
      .groupBy(col(srcCol)).agg(round(avg(col("q")), 6).as("mean_q"))
      .filter(col("mean_q") < minMeanQuality)
      .select(col(srcCol))
    docs.join(broadcast(bad), Seq(srcCol), "left_anti")
  }

  /** Language-ID confusion matrix against a gold label column — the QA
    * readout for the heuristic classifier (per (gold, predicted) doc
    * counts). One staged-token projection and one 25-key aggregate.
    */
  def langIdConfusion(docs: DataFrame, textCol: String,
      goldCol: String): DataFrame =
    docs
      .select(col(goldCol).as("lang_gold"),
        Text.tokens(col(textCol)).as("toks"))
      .select(col("lang_gold"), Text.langIdFromTokens(col("toks"))
        .as("lang_pred"))
      .groupBy(col("lang_gold"), col("lang_pred"))
      .agg(count(lit(1)).as("n_docs"))

  /** Corpus-trained unigram log-probability score: mean ln p(token) per
    * document, p = corpus frequency — the cheap LM-perplexity proxy
    * (CCNet-style) that flags gibberish (rare-token soup scores low) and
    * boilerplate (common-token soup scores high). Rounded to 6 decimals
    * (ln is libm-dependent in the last ulp; the mean's error is ~1e-14).
    *
    * Scale: vocab is a token-keyed count aggregate (Heaps-law sublinear in
    * corpus size); it is then BROADCAST so the corpus-sized token stream
    * is never shuffled for the lookup — broadcast is also the skew answer
    * (a shuffle join on raw tokens funnels every "the" to one task).
    * `vocabTopK` BOUNDS that broadcast at any corpus size: only the top-K
    * tokens by (count desc, token) keep their trained probability — a
    * distributed partial top-k (TakeOrdered over the vocab aggregate, no
    * global sort) — and every out-of-vocabulary token contributes the
    * `oovLogProb` floor instead. `n_tokens` and the mean still run over
    * ALL tokens, so a capped score remains a per-token average, not a
    * filtered one. The floor is a caller-supplied log-probability literal
    * (not a computed ln) so engines that mirror the score agree bit-wise
    * on the OOV arm.
    */
  def unigramLogProbScore(docs: DataFrame, idCol: String, textCol: String,
      vocabTopK: Option[Int] = None,
      oovLogProb: Double = math.log(1e-9)): DataFrame = {
    val toks = docs
      .select(col(idCol), explode(Text.tokens(col(textCol))).as("w"))
    val fullVocab = toks.groupBy(col("w")).agg(count(lit(1)).as("c"))
    // the denominator stays the FULL token count — capping the vocab
    // changes which tokens keep a trained p, not the training mass
    val total = fullVocab.agg(sum(col("c")).as("n"))
    val vocab = vocabTopK match {
      case Some(k) => fullVocab.orderBy(col("c").desc, col("w")).limit(k)
      case None => fullVocab
    }
    val scored = toks
      .join(broadcast(vocab), Seq("w"), "left")
      .crossJoin(broadcast(total))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_tokens"),
        avg(when(col("c").isNotNull,
          log(col("c").cast("double") / col("n").cast("double")))
          .otherwise(lit(oovLogProb))).as("lp"))
    docs.select(col(idCol))
      .join(scored, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_tokens"), lit(0L)).cast("int").as("n_tokens"),
        round(col("lp"), 6).as("mean_logp")) // NULL for token-less docs
  }

  /** Bigram language-model fluency score (the CCNet/KenLM-style quality
    * filter, one order up from [[unigramLogProbScore]]): train bigram and
    * unigram counts on the corpus itself, then score each document by the
    * mean log conditional probability of its bigrams under add-k
    * smoothing, `p(w_i|w_{i−1}) = (c₂(w_{i−1}w_i) + k) / (c₁(w_{i−1}) +
    * k·V)` with `V` = distinct unigram count. The context count `c₁` is
    * the token's FULL occurrence count (not just its prefix-position
    * count) — a documented modeling choice both engines mirror. Boilerplate
    * and templated text score high (its bigrams dominate the counts);
    * garbled text scores low — the standard perplexity-filter signal.
    * `ppl = e^(−mean_lp)` is emitted from the UNROUNDED mean. Documents
    * with fewer than two tokens carry `n_bigrams = 0` and null scores.
    *
    * Scale: two count aggregates at bigram/unigram grain (map-side
    * combined — grain is vocabulary-sized, not corpus-sized), one scalar
    * V, then one join of the exploded corpus against the count frames.
    * At web-corpus vocabulary sizes the count frames exceed broadcast
    * range, so the joins are plain shuffle-hash on the gram key — the
    * corpus side arrives already collapsed to (doc, gram) grain. Scoring
    * never rescans text: the tokenize-explode pass is shared via one
    * staged frame with three readers, eagerly materialized (the
    * dsirImportanceWeights discipline).
    */
  def bigramLogProbScore(docs: DataFrame, idCol: String, textCol: String,
      addK: Double = 0.5): DataFrame = {
    val toks = docs.select(col(idCol), Text.tokens(col(textCol)).as("toks"))
    // (doc, prev, cur) bigram grain + (doc, w) unigram grain, one pass
    // 2 readers: the c2 model and the scoring join
    val grams = Pins.pin(toks.select(col(idCol),
        explode(zip_with(
          slice(col("toks"), lit(1), greatest(size(col("toks")) - 1, lit(0))),
          slice(col("toks"), lit(2), greatest(size(col("toks")) - 1, lit(0))),
          (x, y) => struct(x.as("p"), y.as("w")))).as("bg"))
      .select(col(idCol), col("bg.p").as("p"), col("bg.w").as("w")))
    val uni = toks.select(col(idCol), explode(col("toks")).as("w"))
    val c1 = uni.groupBy(col("w")).agg(count(lit(1)).as("c1"))
    val c2 = grams.groupBy(col("p"), col("w")).agg(count(lit(1)).as("c2"))
    val vocabSize = c1.agg(count(lit(1)).as("v"))
    val scored = grams
      .join(c2, Seq("p", "w"))
      .join(c1.withColumnRenamed("w", "p"), Seq("p"))
      .crossJoin(broadcast(vocabSize))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_bigrams"),
        avg(expr(s"ln((CAST(c2 AS DOUBLE) + CAST($addK AS DOUBLE))" +
          s" / (CAST(c1 AS DOUBLE) + CAST($addK AS DOUBLE) * v))")).as("lp"))
    docs.select(col(idCol))
      .join(scored, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_bigrams"), lit(0L)).cast("int").as("n_bigrams"),
        round(col("lp"), 6).as("mean_logp"),
        round(exp(-col("lp")), 6).as("ppl"))
  }

  /** Per-group quality quantile assignment: bucket each document into one
    * of `n` equal-frequency tiers of its group's quality distribution
    * (ntile over quality within language/source) — the knob behind
    * "train on the top quartile per language": a single GLOBAL cutoff
    * would gut low-resource languages whose whole distribution sits below
    * the high-resource median, so the tiering must be within-group.
    *
    * Determinism: the window orders by the ROUNDED score then the unique
    * id — raw float ordering would make tier boundaries depend on
    * last-ulp libm drift (memory: a true tie sat exactly on a rank cut).
    *
    * Scale: one corpus scan for scores, then one window pass partitioned
    * by the group key. ntile needs each group's total order (unlike a
    * rank-filter there is no WindowGroupLimit shortcut), so group keys
    * must be coarse-grained-few (languages, not domains) — for
    * high-cardinality keys the right tool is the rank filter
    * ([[capPerGroup]]) or an approx-quantile cutoff instead.
    */
  def qualityQuantiles(docs: DataFrame, idCol: String, textCol: String,
      groupCol: String, n: Int): DataFrame = {
    require(n >= 2, s"need at least 2 tiers, got $n")
    val staged = docs.select(col(idCol), col(groupCol), col(textCol),
      Text.tokens(col(textCol)).as("toks"))
    staged
      .select(col(idCol), col(groupCol),
        round(Text.qualityScoreFromTokens(col(textCol), col("toks")), 6)
          .as("quality"))
      .withColumn("tier", ntile(n).over(Window.partitionBy(col(groupCol))
        .orderBy(col("quality"), col(idCol))))
  }

  /** Per-source duplication report: document count, distinct-content
    * count, and duplication rate for every source — the first number a
    * curation run reads per provider before deciding crawl priorities.
    * One source-keyed aggregate over content hashes (two-level distinct
    * handled by Spark's partial aggregation; at extreme source skew the
    * same value-salted two-phase as
    * [[graft.engine.Relational.skewSafeDistinctList]] applies).
    */
  def sourceDupStats(docs: DataFrame, textCol: String,
      sourceCol: String): DataFrame =
    docs
      .select(col(sourceCol), md5(col(textCol).cast("binary")).as("__h"))
      .groupBy(col(sourceCol))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("__h")).as("n_distinct"))
      .withColumn("dup_rate", round(lit(1.0) -
        col("n_distinct").cast("double") / col("n_docs"), 6))

  /** Cross-source duplicate-overlap matrix: for every UNORDERED source
    * pair, how many distinct content hashes occur in BOTH — the
    * "which feeds are re-crawls of each other" report that drives source
    * pruning order (drop the redundant feed, not both). Pairs are
    * canonical (`source_a < source_b`) and only overlapping pairs emit.
    *
    * Dataflow: one `(hash, source)` DISTINCT (content-cardinality-sized),
    * then a hash-keyed self-join producing per-hash source pairs and a
    * pair-grain count. A hash present in k sources fans out C(k,2) pairs
    * with k bounded by the SOURCE count (not the corpus), so the join is
    * skew-safe by construction — the catalog of sources is small even
    * when the corpus is 100 TB.
    */
  def sourceOverlapMatrix(docs: DataFrame, textCol: String,
      sourceCol: String): DataFrame = {
    val hs = docs
      .select(md5(col(textCol).cast("binary")).as("__h"),
        col(sourceCol).as("__s"))
      .filter(col("__s").isNotNull)
      .distinct()
    hs.select(col("__h"), col("__s").as("source_a"))
      .join(hs.select(col("__h"), col("__s").as("source_b")), "__h")
      .filter(col("source_a") < col("source_b"))
      .groupBy("source_a", "source_b")
      .agg(count(lit(1)).as("n_shared"))
  }

  /** Exact repeated-substring report (the token-window approximation of
    * Lee et al. 2022's suffix-array ExactSubstr dedup): for every
    * document, how many of its `width`-token windows also occur in at
    * least `minDocs − 1` OTHER documents, plus where the first such
    * window starts. `n_repeated / n_windows` is the document's
    * boilerplate fraction; a downstream pass can cut the flagged spans
    * rather than drop the document — the property that makes ExactSubstr
    * strictly gentler than document-level dedup.
    *
    * Dataflow: one positional n-gram explode (corpus-token-sized, narrow
    * — id/pos/hash only, text never shuffled), a gram-keyed
    * distinct-doc-count aggregate to find the repeated grams, a LEFT
    * join of the positional stream back to that list (shuffle join on
    * the gram hash — the repeated-gram list is corpus-boilerplate-sized
    * and unbounded, so NOT broadcast), and a per-doc count aggregate.
    * A gram repeated across millions of documents fans out exactly its
    * occurrence count — already present in the stream — so no join-side
    * blowup beyond the data's own skew.
    */
  def repeatedSpans(docs: DataFrame, idCol: String, textCol: String,
      width: Int, minDocs: Int = 2): DataFrame = {
    val g = docs.select(col(idCol),
        posexplode(tokenNgrams(col(textCol), width)).as(Seq("pos", "gram")))
      .select(col(idCol), col("pos"), polyhash(col("gram")).as("gh"))
    val rep = g.groupBy(col("gh"))
      .agg(countDistinct(col(idCol)).as("n_docs"))
      .filter(col("n_docs") >= minDocs)
    g.join(rep, Seq("gh"), "left")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_windows"),
        count(col("n_docs")).as("n_repeated"),
        min(when(col("n_docs").isNotNull, col("pos")))
          .as("first_repeated_pos"))
  }

  /** Tokenizer fertility by group: subwords-per-word and
    * chars-per-subword ratios per `groupCol` value (lang, source) — the
    * standard check that a tokenizer doesn't silently tax one language
    * 3× the context budget of another. Uses the engine's BPE-ish
    * pre-tokenizer classes ([[graft.llm.Text.subwordCount]]) against
    * whitespace words; sums are exact longs, the two ratios are the
    * only floating steps (rounded 6 dp). One hash aggregate with
    * map-side combine; group cardinality = #languages.
    */
  def tokenizerFertility(docs: DataFrame, textCol: String,
      groupCol: String): DataFrame =
    docs.groupBy(col(groupCol))
      .agg(count(lit(1)).as("n_docs"),
        sum(Text.tokenCount(col(textCol)).cast("long")).as("n_words"),
        sum(Text.subwordCount(col(textCol)).cast("long")).as("n_subwords"),
        sum(length(col(textCol)).cast("long")).as("n_chars"))
      .withColumn("fertility", when(col("n_words") > 0L,
        round(col("n_subwords").cast("double") /
          col("n_words").cast("double"), 6)))
      .withColumn("chars_per_subword", when(col("n_subwords") > 0L,
        round(col("n_chars").cast("double") /
          col("n_subwords").cast("double"), 6)))

  /** Corpus-specific stopword discovery: terms whose document frequency
    * exceeds `minDfPpm` parts-per-million of the corpus — the data-driven
    * replacement for a hand-curated stopword list (every corpus has its
    * own "click", "subscribe", "loading"). df is presence-grain (distinct
    * per doc before the explode aggregates), and the df/N ratio is exact
    * integer ppm, so the cut is engine-exact at any corpus size. One
    * explode → one term aggregate; output is vocabulary-sized.
    */
  /** Split-leakage audit: near-duplicate pairs whose members landed in
    * DIFFERENT splits of the content-hash split — the exact leak that
    * inflates eval numbers (a train doc's near-copy in holdout).
    * [[graft.llm.Text.hashSplit]] is content-keyed, so EXACT copies
    * always co-locate, but near-dups have different texts and split
    * independently — this report is why the pipeline order is
    * dedup-THEN-split, and after a run it should be EMPTY; non-empty
    * output enumerates the pairs to quarantine. Dataflow = the proven
    * fuzzy chain + two id-keyed joins of the split projection.
    */
  def splitLeakage(docs: DataFrame, idCol: String, textCol: String,
      shingleWidth: Int = 3, k: Int = 16, bands: Int = 4,
      minJaccard: Double = 0.2,
      cuts: Seq[(String, Int)] =
        Seq("train" -> 90, "val" -> 5, "holdout" -> 5)): DataFrame = {
    val pairs = graft.llm.Dedup.fuzzyDuplicates(docs, idCol, textCol,
      shingleWidth, k, bands, minJaccard)
    val splits = docs.select(col(idCol).as("__sid"),
      graft.llm.Text.hashSplit(col(textCol), cuts).as("__split"))
    pairs
      .join(splits.select(col("__sid").as("doc_a"),
        col("__split").as("split_a")), "doc_a")
      .join(splits.select(col("__sid").as("doc_b"),
        col("__split").as("split_b")), "doc_b")
      .filter(!(col("split_a") <=> col("split_b")))
      .select(col("doc_a"), col("doc_b"), col("jaccard"),
        col("split_a"), col("split_b"))
  }

  /** Per-source unigram KL divergence from the corpus distribution —
    * `(source, n_tokens, n_terms, kl)` with
    * `kl = Σ_t p(t|s) · ln(p(t|s)/p(t))`, the standard domain-shift /
    * mixture-outlier score (a source whose language diverges from the
    * blend shows a large KL; near-zero means it IS the blend). Every
    * count is exact-integer; the only floats are the final per-term
    * ratio/log and their sum, rounded to 6 dp — inside the tolerance the
    * engine's other rounded-double reports (groupRegression, chi²) have
    * proven out cross-engine.
    *
    * Scale: term stats live at (source, term) grain — Heaps-law
    * sublinear in corpus size; the token stream is aggregated once and
    * never joined raw (the per-term join keys the (source, term) table,
    * not the stream), and the corpus-total frame is a one-row broadcast.
    * p(t) > 0 wherever p(t|s) > 0 by construction, so the log is always
    * finite.
    */
  def sourceUnigramKl(docs: DataFrame, textCol: String,
      srcCol: String): DataFrame = Pins.scoped { s =>
    // the (source, term) aggregate is the expensive frame (one pass over
    // the token stream) and is read FOUR times (source totals, term
    // totals, corpus total, main join) — pinned once
    val st = s.pin(docs
      .select(col(srcCol).as("source"),
        explode(graft.llm.Text.tokens(col(textCol))).as("t"))
      .groupBy("source", "t").agg(count(lit(1)).as("n_st")))
    val bySrc = st.groupBy("source").agg(sum(col("n_st")).as("n_s"))
    val tt = st.groupBy("t").agg(sum(col("n_st")).as("n_t"))
    val tot = st.select(sum(col("n_st")).as("n"))
    val p = col("n_st").cast("double") / col("n_s").cast("double")
    val ratio = (col("n_st").cast("double") * col("n").cast("double")) /
      (col("n_s").cast("double") * col("n_t").cast("double"))
    st.join(bySrc, "source").join(tt, "t").crossJoin(broadcast(tot))
      .groupBy(col("source"), col("n_s").as("n_tokens"))
      .agg(count(lit(1)).as("n_terms"),
        round(sum(p * log(ratio)), 6).as("kl"))
      .select(col("source"), col("n_tokens"), col("n_terms"), col("kl"))
  }

  /** Mojibake sequences that mark UTF-8 read back as Latin-1 and
    * re-encoded: 'é'→"Ã©", 'ü'→"Ã¼", '’'→"â€™", '“'→"â€œ".
    * A curated literal list, not a heuristic regex — each marker is a
    * byte sequence essentially impossible in intentional text. */
  private val MojibakeMarkers = Seq(
    "\u00C3\u00A9", // e-acute double-encoded
    "\u00C3\u00BC", // u-umlaut double-encoded
    "\u00E2\u20AC\u2122", // right single quote double-encoded
    "\u00E2\u20AC\u0153") // left double quote double-encoded

  /** Per-source encoding-damage audit — the "is this crawl slice
    * readable" gate run before any text op sees the bytes: counts of
    * docs containing U+FFFD (a decoder already gave up), raw C0 control
    * characters other than tab/newline/CR (binary junk or wrong
    * charset), and classic double-encode mojibake sequences
    * ([[MojibakeMarkers]]), plus a ppm rate of any-damage docs. All
    * counts are exact integers from conditional aggregates in ONE scan
    * (the missingnessMatrix discipline); output is source-grain.
    */
  def encodingAudit(docs: DataFrame, textCol: String,
      srcCol: String): DataFrame = {
    val t = col(textCol)
    val ctrl = "[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F]"
    val moji = MojibakeMarkers.map(m => t.contains(lit(m)))
      .reduce(_ || _)
    val damaged = t.contains(lit("�")) || t.rlike(ctrl) || moji
    docs.filter(t.isNotNull)
      .groupBy(col(srcCol).as("source"))
      .agg(count(lit(1)).as("n_docs"),
        count_if(t.contains(lit("�"))).as("n_replacement"),
        count_if(t.rlike(ctrl)).as("n_control"),
        count_if(moji).as("n_mojibake"),
        count_if(damaged).as("n_damaged"))
      .withColumn("damaged_ppm",
        expr("(n_damaged * 1000000) DIV n_docs"))
  }

  /** Cross-source cosine similarity over unigram count profiles — the
    * symmetric companion to [[sourceUnigramKl]] (KL says "how far is
    * this source from the blend"; this says "which sources are each
    * other's near-duplicates in vocabulary"). For each source pair with
    * any shared term: shared-term count and
    * `cos = Σ nₐ·n_b / (√Σnₐ² · √Σn_b²)` — dot and norms accumulate as
    * exact integers, the two norms stay under SEPARATE square roots
    * (the correlationMatrix overflow discipline), only the final ratio
    * is floating, 6 dp.
    *
    * Scale: everything runs at `(source, term)` grain (Heaps-law
    * sublinear); the pair dot is a self-join on term with `source_a <
    * source_b` — output and intermediate are bounded by |sources|² and
    * shared vocabulary, never corpus size. The profile frame feeds
    * three branches (two norm lookups + the dot), so it is pinned
    * (docs/SCALE.md "Caching policy").
    */
  def sourceCosineMatrix(docs: DataFrame, textCol: String,
      srcCol: String): DataFrame = Pins.scoped { s =>
    val d38 = "decimal(38,0)"
    val st = s.pin(docs
      .select(col(srcCol).as("source"),
        explode(graft.llm.Text.tokens(col(textCol))).as("t"))
      .groupBy("source", "t").agg(count(lit(1)).cast(d38).as("n")))
    val norms = st.groupBy("source")
      .agg(sum(col("n") * col("n")).as("q"))
    val a = st.select(col("source").as("source_a"), col("t"),
      col("n").as("na"))
    val b = st.select(col("source").as("source_b"), col("t"),
      col("n").as("nb"))
    val dots = a.join(b, Seq("t"))
      .filter(col("source_a") < col("source_b"))
      .groupBy(col("source_a"), col("source_b"))
      .agg(count(lit(1)).as("n_shared_terms"),
        sum(col("na") * col("nb")).as("__dot"))
    dots
      .join(broadcast(norms.withColumnRenamed("source", "source_a")
        .withColumnRenamed("q", "__qa")), Seq("source_a"))
      .join(broadcast(norms.withColumnRenamed("source", "source_b")
        .withColumnRenamed("q", "__qb")), Seq("source_b"))
      .select(col("source_a"), col("source_b"), col("n_shared_terms"),
        round(col("__dot").cast("double") /
          (sqrt(col("__qa").cast("double")) *
           sqrt(col("__qb").cast("double"))), 6).as("cosine"))
  }

  /** Gopher-style document quality flags (Rae et al. 2021 §A1.1.2, the
    * rule set most open-web curation stacks still start from), with
    * every ratio test kept as an EXACT integer cross-multiplication —
    * `mean_word_len < 3` is `sum_chars < 3·n_words`, `bullet > 90%` is
    * `10·n_bullet > 9·n_lines` — so no flag ever rides on a float
    * division's representation. Two tokenizations, deliberately:
    * length/alpha/symbol rules run over RAW whitespace words (Gopher
    * counts punctuation as part of the word), the stopword-presence
    * rule over the normalized [[Text.tokens]] stream (stopwords are
    * defined post-normalization). A document is `keep` iff NO flag
    * fires. Flags: word count outside [minWords, maxWords], mean word
    * length outside [3, 10], symbol-to-word ratio (# and ellipses)
    * > 10%, > 90% bullet-started lines, > 30% ellipsis-ended lines,
    * < 80% words containing an alphabetic char, and < 2 distinct
    * required stopwords present.
    *
    * Scale: a pure per-row projection — no shuffle, no UDF, fully
    * codegen'd; runs at scan speed on a 100 TB corpus.
    */
  def gopherFlags(docs: DataFrame, idCol: String, textCol: String,
      minWords: Int = 50, maxWords: Int = 100000): DataFrame = {
    val words = expr(
      s"filter(split($textCol, '\\\\s+'), x -> x != '')")
    val lines = split(col(textCol), "\n")
    val requiredStops =
      Seq("the", "be", "to", "of", "and", "that", "have", "with")
    docs.select(col(idCol), col(textCol))
      .withColumn("__w", words)
      .withColumn("__l", lines)
      .withColumn("n_words", size(col("__w")).cast("long"))
      .withColumn("n_lines", size(col("__l")).cast("long"))
      .withColumn("sum_word_chars",
        aggregate(col("__w"), lit(0L), (a, x) => a + length(x)))
      .withColumn("n_alpha_words",
        size(filter(col("__w"), x => x.rlike("[A-Za-z]"))).cast("long"))
      .withColumn("n_symbols",
        (length(col(textCol)) -
          length(regexp_replace(col(textCol), "#", ""))).cast("long") +
          size(expr(s"regexp_extract_all($textCol, '\\\\.\\\\.\\\\.|…', 0)"))
            .cast("long"))
      .withColumn("n_bullet_lines",
        size(filter(col("__l"), l => l.rlike("^ *[-*•]"))).cast("long"))
      .withColumn("n_ellipsis_lines",
        size(filter(col("__l"),
          l => l.rlike("(\\.\\.\\.|…) *$"))).cast("long"))
      .withColumn("n_stops_present",
        requiredStops.map(w =>
          array_contains(Text.tokens(col(textCol)), w).cast("long"))
          .reduce(_ + _))
      .withColumn("f_word_count",
        col("n_words") < minWords || col("n_words") > maxWords)
      .withColumn("f_mean_word_len",
        col("sum_word_chars") < lit(3L) * col("n_words") ||
          col("sum_word_chars") > lit(10L) * col("n_words"))
      .withColumn("f_symbol_ratio",
        lit(10L) * col("n_symbols") > col("n_words"))
      .withColumn("f_bullet",
        lit(10L) * col("n_bullet_lines") > lit(9L) * col("n_lines"))
      .withColumn("f_ellipsis",
        lit(10L) * col("n_ellipsis_lines") > lit(3L) * col("n_lines"))
      .withColumn("f_alpha",
        lit(5L) * col("n_alpha_words") < lit(4L) * col("n_words"))
      .withColumn("f_stopwords", col("n_stops_present") < 2L)
      .withColumn("keep",
        !(col("f_word_count") || col("f_mean_word_len") ||
          col("f_symbol_ratio") || col("f_bullet") || col("f_ellipsis") ||
          col("f_alpha") || col("f_stopwords")))
      .drop("__w", "__l", textCol)
  }

  /** Pairwise Jensen–Shannon divergence between source unigram
    * distributions — the bounded symmetric companion completing the
    * source-similarity toolkit: [[sourceUnigramKl]] scores each source
    * against the corpus blend, [[sourceCosineMatrix]] scores vocabulary
    * overlap as vectors, and this scores the pair as DISTRIBUTIONS
    * (0 = identical mixes, ln 2 ≈ 0.693 = disjoint). Per pair:
    * `JS = ½·KL(Pₐ‖M) + ½·KL(P_b‖M)`, `M = (Pₐ+P_b)/2`. Terms present
    * in only one side each contribute `½·p·ln 2`, so the shared-term
    * scan plus the two shared-mass totals determine the whole sum:
    * `JS = Σ_shared [½pₐ ln(2pₐ/(pₐ+p_b)) + ½p_b ln(2p_b/(pₐ+p_b))]
    *       + ½ ln 2 · (2 − Σpₐ − Σp_b)`.
    * Float sums rounded to 6 dp (the [[sourceUnigramKl]] discipline).
    * Pairs sharing no term are omitted (they'd all read exactly ln 2) —
    * the [[sourceCosineMatrix]] convention.
    *
    * Scale: everything runs at `(source, term)` grain; the pair frame
    * is a term-keyed self-join bounded by shared vocabulary, never
    * corpus size. The profile frame feeds both join sides — pinned
    * (docs/SCALE.md "Caching policy").
    */
  def sourceJensenShannon(docs: DataFrame, textCol: String,
      srcCol: String): DataFrame = Pins.scoped { s =>
    val st = s.pin(docs
      .select(col(srcCol).as("source"),
        explode(graft.llm.Text.tokens(col(textCol))).as("t"))
      .groupBy("source", "t").agg(count(lit(1)).as("n")))
    val totals = st.groupBy("source").agg(sum(col("n")).as("__ntot"))
    val prof = st.join(broadcast(totals), "source")
      .select(col("source"), col("t"),
        (col("n").cast("double") / col("__ntot").cast("double")).as("p"))
    val a = prof.select(col("source").as("source_a"), col("t"),
      col("p").as("__pa"))
    val b = prof.select(col("source").as("source_b"), col("t"),
      col("p").as("__pb"))
    val ln2 = math.log(2.0)
    val pa = col("__pa"); val pb = col("__pb")
    a.join(b, "t").filter(col("source_a") < col("source_b"))
      .groupBy(col("source_a"), col("source_b"))
      .agg(count(lit(1)).as("n_shared_terms"),
        sum(pa * log(lit(2d) * pa / (pa + pb)) / 2 +
          pb * log(lit(2d) * pb / (pa + pb)) / 2).as("__core"),
        sum(pa).as("__sa"), sum(pb).as("__sb"))
      .withColumn("js", round(col("__core") +
        lit(ln2 / 2) * (lit(2d) - col("__sa") - col("__sb")), 6))
      .select(col("source_a"), col("source_b"), col("n_shared_terms"),
        col("js"))
  }

  /** Per-source boilerplate-line detection — the navigation/footer/cookie
    * banner lines a crawler stamps on every page of a site: non-blank
    * lines present in ≥ `minDocs` docs AND ≥ `minPpm` of the SOURCE's
    * documents (doc-level distinct: a line repeated inside one doc
    * counts once). The per-source rate is what separates true site
    * boilerplate from corpus-wide common lines —
    * [[dedupLinesAcrossCorpus]]'s global count can't see that a line
    * covers 90% of ONE domain.
    *
    * Scale: distinct-lines-per-doc explode → one (source, line)
    * aggregate; the per-source doc counts are source-grain and
    * broadcast. Output is the boilerplate dictionary (tiny), typically
    * broadcast back for removal.
    */
  def boilerplateLines(docs: DataFrame, srcCol: String, idCol: String,
      textCol: String, minDocs: Int, minPpm: Long): DataFrame = {
    val dl = docs.select(col(srcCol).as("source"), col(idCol),
        explode(array_distinct(split(col(textCol), "\n"))).as("line"))
      .filter(length(trim(col("line"))) > 0)
    val perLine = dl.groupBy(col("source"), col("line"))
      .agg(count(lit(1)).as("n_docs_with_line"))
    val perSrc = docs.groupBy(col(srcCol).as("source"))
      .agg(count(lit(1)).as("n_docs"))
    perLine.join(broadcast(perSrc), "source")
      .withColumn("rate_ppm", expr("(n_docs_with_line * 1000000) DIV n_docs"))
      .filter(col("n_docs_with_line") >= minDocs &&
        col("rate_ppm") >= minPpm)
  }

  /** URL canonicalization for crawl dedup — the normalization that
    * collapses the same page's crawl variants to one key BEFORE any
    * content hash: drop the fragment, drop tracking parameters
    * (`utm_*`, `fbclid`, `gclid`), lowercase scheme+host (path case is
    * preserved — it is significant on most origins), and strip a
    * trailing path slash. Built ENTIRELY from split/filter/join column
    * ops — no regex, because capture-group replacement syntax differs
    * between regex dialects ($1 vs \\1) and a canonicalizer must be
    * engine-portable to the oracle. Pure projection: codegen'd, no
    * shuffle, composes with [[graft.llm.Dedup.exactNormalized]]'s
    * keep-min as `dedup(canonicalizeUrl(url))`.
    */
  def canonicalizeUrl(url: Column): Column = {
    val noFrag = element_at(split(url, "#", 2), 1)
    val base = element_at(split(noFrag, "\\?", 2), 1)
    val query = when(size(split(noFrag, "\\?", 2)) > 1,
      element_at(split(noFrag, "\\?", 2), 2)).otherwise(lit(""))
    val keptParams = filter(split(query, "&"), p =>
      !(p.startsWith("utm_") || p.startsWith("fbclid=") ||
        p.startsWith("gclid=")) && p =!= lit(""))
    // scheme+host lowercased, path preserved: rest = after "://",
    // host = rest up to the first "/", path = the remainder
    val scheme = element_at(split(base, "://", 2), 1)
    val rest = when(size(split(base, "://", 2)) > 1,
      element_at(split(base, "://", 2), 2)).otherwise(base)
    val host = element_at(split(rest, "/", 2), 1)
    val path = when(size(split(rest, "/", 2)) > 1,
      concat(lit("/"), element_at(split(rest, "/", 2), 2)))
      .otherwise(lit(""))
    val cleanBase = when(size(split(base, "://", 2)) > 1,
        concat(lower(scheme), lit("://"), lower(host), rtrim(path, "/")))
      .otherwise(concat(lower(host), rtrim(path, "/")))
    when(size(keptParams) > 0,
      concat(cleanBase, lit("?"), array_join(keptParams, "&")))
      .otherwise(cleanBase)
  }

  /** Instruction-pair mining: adjacent line pairs where the first line
    * ends with '?' and the next is non-blank — the cheap heuristic
    * harvest of Q/A-shaped supervision from raw text (forum dumps, FAQ
    * pages) that seeds an instruction-tuning set before any model-based
    * filtering. Output `(id, pos, prompt, response)` with `pos` the
    * 0-based line index of the prompt; both sides trimmed.
    *
    * One pass, no shuffle: the adjacent-pair enumeration is a staged
    * index `transform` + `filter` + one explode (the sequence guard
    * avoids the descending-`sequence(0,-1)` trap on short docs).
    */
  def minePromptPairs(docs: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val staged = docs.select(col(idCol), split(col(textCol), "\n")
      .as("__ls"))
    val n = size(col("__ls"))
    val idxs = when(n >= 2, sequence(lit(0), n - 2))
      .otherwise(array().cast("array<int>"))
    val pairs = filter(transform(idxs, i => struct(i.as("pos"),
        trim(element_at(col("__ls"), i + 1)).as("prompt"),
        trim(element_at(col("__ls"), i + 2)).as("response"))),
      p => p.getField("prompt").endsWith("?") &&
        p.getField("response") =!= "")
    staged.select(col(idCol), explode(pairs).as("__p"))
      .select(col(idCol), col("__p.pos").as("pos"),
        col("__p.prompt").as("prompt"), col("__p.response").as("response"))
  }

  def corpusStopwords(docs: DataFrame, idCol: String, textCol: String,
      minDfPpm: Long): DataFrame = {
    val total = docs.select(count(lit(1)).as("__n"))
    docs.select(col(idCol).as("__id"),
        explode(array_distinct(graft.llm.Text.tokens(col(textCol))))
          .as("term"))
      .groupBy(col("term")).agg(count(lit(1)).as("df"))
      .crossJoin(broadcast(total))
      .withColumn("df_ppm", expr("(df * 1000000) DIV __n"))
      .filter(col("df_ppm") >= minDfPpm)
      .select(col("term"), col("df"), col("df_ppm"))
  }

  /** k-anonymity / l-diversity audit (Sweeney, IJUFKS 2002; Machanavajjhala
    * et al., ICDE 2006): group rows into equivalence classes on the
    * quasi-identifier columns and report, in ONE row, how re-identifiable
    * the table is — `k_min` (the smallest class: the table IS k-anonymous
    * exactly for k ≤ k_min), how many classes and rows fall below the
    * requested `k`, the at-risk row share in ppm, and `l_min` (the
    * smallest number of distinct sensitive values in any class: the
    * table's l-diversity). The audit a curation pipeline runs BEFORE
    * releasing user-derived training data — flags linkage-attack surface
    * without materializing anything at row grain.
    *
    * Engine-exact: class sizes, distinct counts and the ppm ratio are all
    * integers.
    *
    * Scale: one groupBy on the QI columns (map-side combined; per-class
    * state is two counters + the distinct-sensitive set, bounded by the
    * sensitive domain) and a one-row final aggregate. A 100 TB table
    * costs one class-grain shuffle — the class frame is the small side
    * by construction or the table wasn't anonymizable anyway.
    */
  def kAnonymityAudit(df: DataFrame, qiCols: Seq[String],
      sensitiveCol: String, k: Int): DataFrame = {
    require(qiCols.nonEmpty && k >= 2, "need QI columns and k >= 2")
    df.groupBy(qiCols.map(col): _*)
      .agg(count(lit(1)).as("__n"),
        countDistinct(col(sensitiveCol)).as("__l"))
      .agg(sum(col("__n")).as("n_rows"),
        count(lit(1)).as("n_classes"),
        min(col("__n")).as("k_min"),
        sum(when(col("__n") < k, 1L).otherwise(0L)).as("n_classes_below"),
        sum(when(col("__n") < k, col("__n")).otherwise(0L))
          .as("n_rows_at_risk"),
        min(col("__l")).as("l_min"))
      .select(lit(k).as("k"), col("n_rows"), col("n_classes"),
        col("k_min"), col("n_classes_below"), col("n_rows_at_risk"),
        expr("(n_rows_at_risk * 1000000) DIV n_rows").as("risk_ppm"),
        col("l_min"))
  }
  /** Burrows' Delta stylometric distance (Burrows 2002) between every
    * pair of sources — mean absolute z-score gap over the corpus'
    * top-`topM` words, THE authorship/register-attribution measure
    * (two crawls of the same site score near 0; a machine-generated
    * source drifts on exactly the function words Delta weights).
    * Per-source relative frequencies are exact integer ppm
    * (`cnt·10⁶ DIV total_s`, every (source, word) cell materialized so
    * absences count as 0); the across-source mean CANCELS in the
    * pairwise difference, so each term is `|f_a − f_b|·S /
    * sqrt(S·Σf² − (Σf)²)` — the only floats are one IEEE sqrt
    * (correctly rounded, engine-identical, unlike ln/pow) and the
    * word-ordered left fold (the kaplanMeier discipline). A word with
    * zero across-source variance contributes 0.
    *
    * Output: `(source_a, source_b, m_words, delta)`, `a < b`, 6 dp.
    *
    * Scale: one corpus token scan to (source, word) grain; everything
    * after runs on the (|S| × topM) grid — sources are a dimension
    * axis, so the grid and the |S|² pair frame are broadcast-sized by
    * construction.
    */
  def burrowsDelta(docs: DataFrame, textCol: String, sourceCol: String,
      topM: Int): DataFrame = Pins.scoped { s =>
    require(topM >= 1, "topM must be positive")
    val d38 = "decimal(38,0)"
    // pinned: the broadcast top-M build, the totals aggregate and the
    // grid join read this concurrently (the ecdfPaired race class)
    val counts = s.pin(docs
      .filter(col(textCol).isNotNull && col(sourceCol).isNotNull)
      .select(col(sourceCol).cast("string").as("__s"),
        explode(Text.tokens(col(textCol))).as("__w"))
      .groupBy(col("__s"), col("__w")).agg(count(lit(1)).as("__c")))
    val top = counts.groupBy(col("__w"))
      .agg(sum(col("__c")).as("__cc"))
      .orderBy(desc("__cc"), asc("__w")).limit(topM)
      .select(col("__w"))
    val totals = counts.groupBy(col("__s"))
      .agg(sum(col("__c")).as("__tot"))
    // pinned: the stats aggregate and BOTH self-join branches read the
    // grid inside one job
    val grid = s.pin(totals.select(col("__s"), col("__tot"))
      .crossJoin(broadcast(top))
      .join(counts, Seq("__s", "__w"), "left")
      .withColumn("__f",
        expr("coalesce(__c, CAST(0 AS BIGINT)) * 1000000 DIV __tot")))
    val stats = grid.groupBy(col("__w"))
      .agg(count(lit(1)).as("__d"),
        sum(col("__f")).cast(d38).as("__sf"),
        exactSumProd(col("__f"), col("__f")).as("__sff"))
      .withColumn("__varnum",
        expr(s"CAST(__d AS $d38) * __sff - __sf * __sf"))
      .select(col("__w"), col("__d"), col("__varnum"))
    val terms = grid.select(col("__s").as("__sa"), col("__w"),
        col("__f").as("__fa"))
      .join(grid.select(col("__s").as("__sb"), col("__w"),
        col("__f").as("__fb")), Seq("__w"))
      .filter(col("__sa") < col("__sb"))
      .join(stats, Seq("__w"))
      .withColumn("__t", expr("CASE WHEN __varnum > 0 THEN " +
        "CAST(abs(__fa - __fb) AS DOUBLE) * CAST(__d AS DOUBLE) " +
        "/ sqrt(CAST(__varnum AS DOUBLE)) ELSE CAST(0.0 AS DOUBLE) END"))
    orderedSum(terms, Seq(col("__sa"), col("__sb")), Seq(col("__w")),
        col("__t"), "__tsum", count(lit(1)).as("m_words"))
      .withColumn("delta",
        round(col("__tsum") / col("m_words").cast("double"), 6))
      .select(col("__sa").as("source_a"), col("__sb").as("source_b"),
        col("m_words"), col("delta"))
  }

  /** Term burstiness: the variance-to-mean ratio (index of dispersion)
    * of each top-`topM` term's per-document count — the classic
    * content/function-word separator (function words spread evenly,
    * VMR ≈ 1 − μ·(small); topical terms clump into few documents,
    * VMR ≫ 1) and a template-contamination tell (boilerplate terms
    * show superhuman dispersion). ALL-INTEGER: with D = corpus doc
    * count (zero-count documents included by construction),
    * `vmr_micro = (D·Σc² − (Σc)²)·10⁶ DIV (D·Σc)` — population
    * variance over mean, cross products through DECIMAL(38,0).
    *
    * Output per term: `(term, df, total, vmr_micro)` — df = documents
    * containing the term.
    *
    * Scale: one corpus scan to (doc, term) grain for the top-M terms
    * (semi-joined before the aggregate, so only M terms' postings
    * move); the D frame is one row on broadcast.
    */
  def termBurstiness(docs: DataFrame, idCol: String, textCol: String,
      topM: Int): DataFrame = Pins.scoped { s =>
    require(topM >= 1, "topM must be positive")
    val d38 = "decimal(38,0)"
    val toks = s.pin(docs.filter(col(textCol).isNotNull)
      .select(col(idCol).as("__id"),
        explode(Text.tokens(col(textCol))).as("__w"))
      .groupBy(col("__id"), col("__w")).agg(count(lit(1)).as("__c")))
    val top = toks.groupBy(col("__w")).agg(sum(col("__c")).as("__cc"))
      .orderBy(desc("__cc"), asc("__w")).limit(topM)
      .select(col("__w"))
    val dRow = docs.filter(col(textCol).isNotNull)
      .agg(count(lit(1)).as("__D"))
    toks.join(broadcast(top), Seq("__w"))
      .groupBy(col("__w"))
      .agg(count(lit(1)).as("df"),
        sum(col("__c")).as("total"),
        exactSumProd(col("__c"), col("__c")).as("__cc2"))
      .crossJoin(broadcast(dRow))
      .withColumn("vmr_micro", expr(
        s"CAST((CAST(__D AS $d38) * __cc2 " +
          s"- CAST(total AS $d38) * total) * 1000000 " +
          s"DIV (CAST(__D AS $d38) * total) AS BIGINT)"))
      .select(col("__w").as("term"), col("df"), col("total"),
        col("vmr_micro"))
  }

  /** Good–Turing frequency spectrum (Good, Biometrika 1953): the
    * frequencies-of-frequencies table `N_r = |{types seen r times}|`
    * for `r = 1..maxR`, each with its Turing-adjusted count
    * `r* = (r+1)·N_{r+1}/N_r` in micro units — the smoothing table
    * behind every held-out-mass estimate a tokenizer/LM pipeline
    * makes (how much probability belongs to UNSEEN types: the r = 1
    * row's mass). All-integer: `N_r` are exact counts and `r*` is a
    * micro floor division (`N_{r+1}` absent → adjusted 0, the
    * spectrum-truncation convention, null only when `N_r = 0`).
    * Output per r: `(r, n_r, rstar_micro)`.
    *
    * Scale: token counts collapse map-side to type grain, then to
    * count-of-count grain (≤ max frequency rows); the r-axis is a
    * literal explode.
    */
  def goodTuringSpectrum(docs: DataFrame, textCol: String,
      maxR: Int): DataFrame = {
    require(maxR >= 1, "need maxR >= 1")
    val v = docs.filter(col(textCol).isNotNull)
      .select(explode(Text.tokens(col(textCol))).as("__w"))
      .groupBy(col("__w")).agg(count(lit(1)).as("__c"))
      .groupBy(col("__c").as("__r")).agg(count(lit(1)).as("__nr"))
    val axis = docs.sparkSession.range(1, maxR + 1)
      .select(col("id").as("__r"))
    axis.join(v, Seq("__r"), "left")
      .withColumn("__nr", coalesce(col("__nr"), lit(0L)))
      .join(v.select((col("__r") - 1).as("__r"),
        col("__nr").as("__nr1")), Seq("__r"), "left")
      .withColumn("__nr1", coalesce(col("__nr1"), lit(0L)))
      .select(col("__r").cast("int").as("r"),
        col("__nr").as("n_r"),
        when(col("__nr") > 0,
          expr("((__r + 1) * __nr1 * 1000000) DIV __nr"))
          .cast("long").as("rstar_micro"))
  }

  /** Chao1 vocabulary-richness estimate (Chao, Scand J Stat 1984;
    * bias-corrected form) + the Good–Turing unseen mass: from the
    * singleton and doubleton type counts,
    * `Ŝ = S_obs + n₁(n₁−1)/(2(n₂+1))` estimates how many types the
    * corpus has NOT yet seen (vocabulary sizing, crawl-coverage
    * auditing), and `P₀ = n₁/N` is the probability the next token is
    * a new type. ALL-INTEGER output: `chao1_micro = S_obs·10⁶ +
    * (n₁(n₁−1)·10⁶) DIV (2(n₂+1))` (the bias-corrected denominator
    * never divides by zero) and `p0_micro = (n₁·10⁶) DIV N`. Output
    * ONE row: `(n_tokens, n_types, n1, n2, chao1_micro, p0_micro)`.
    *
    * Scale: one type-grain collapse, one count-of-count aggregate.
    */
  def chao1Richness(docs: DataFrame, textCol: String): DataFrame = {
    val counts = docs.filter(col(textCol).isNotNull)
      .select(explode(Text.tokens(col(textCol))).as("__w"))
      .groupBy(col("__w")).agg(count(lit(1)).as("__c"))
    counts.agg(sum(col("__c")).as("n_tokens"),
        count(lit(1)).as("n_types"),
        sum(when(col("__c") === 1, 1L).otherwise(0L)).as("n1"),
        sum(when(col("__c") === 2, 1L).otherwise(0L)).as("n2"))
      .select(col("n_tokens"), col("n_types"), col("n1"), col("n2"),
        expr("n_types * 1000000 + (CAST(n1 AS DECIMAL(38,0))" +
          " * (n1 - 1) * 1000000) DIV (2 * (n2 + 1))")
          .cast("long").as("chao1_micro"),
        when(col("n_tokens") > 0, expr("(n1 * 1000000) DIV n_tokens"))
          .cast("long").as("p0_micro"))
  }

  /** Vocabulary-budget coverage table: for each target percentage,
    * the smallest top-K (by frequency, ties lexicographic) whose
    * cumulative token mass reaches it — THE table a tokenizer design
    * reads to pick vocab size ("32k types cover 99.2 %"). Frequency
    * ranks and cumulative mass come from ONE two-column
    * [[graft.engine.PrefixScan.globalCumSum]] (no corpus-grain
    * single-partition window); the coverage test is
    * the exact integer cross-product `cum·100 ≥ pct·N`. Output per
    * pct: `(pct, k_types, cum_tokens)`; a pct no prefix reaches
    * (impossible at pct ≤ 100) would simply emit no row.
    *
    * Scale: type-grain collapse, one prefix scan, one broadcast
    * pct-axis join, one min-aggregate.
    */
  def vocabBudget(docs: DataFrame, textCol: String,
      pcts: Seq[Int]): DataFrame = {
    require(pcts.nonEmpty && pcts.forall(p => p >= 1 && p <= 100),
      "pcts are integer percentages in [1, 100]")
    val counts = docs.filter(col(textCol).isNotNull)
      .select(explode(Text.tokens(col(textCol))).as("__w"))
      .groupBy(col("__w")).agg(count(lit(1)).as("__c"))
    val ranked = globalCumSum(counts, Seq(col("__c").desc, col("__w").asc),
      col("__c") -> "__cum", lit(1) -> "__k")
    val tot = counts.agg(sum(col("__c")).as("__n"))
    val pctAxis = docs.sparkSession.createDataFrame(
      pcts.map(Tuple1(_))).toDF("pct")
    ranked.crossJoin(broadcast(tot))
      .join(broadcast(pctAxis),
        col("__cum") * 100 >= col("pct") * col("__n"))
      .groupBy(col("pct"))
      .agg(min(col("__k")).as("k_types"),
        min(col("__cum")).as("cum_tokens"))
      .select(col("pct").cast("int").as("pct"),
        col("k_types").cast("long").as("k_types"),
        col("cum_tokens").cast("long").as("cum_tokens"))
  }

}

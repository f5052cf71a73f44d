package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.engine.Pins

/** Deduplication operators: exact (hash group-by), MinHash+LSH (banded
  * bucket join — never all-pairs), SimHash, and exact n-gram Jaccard
  * verification for candidate pairs.
  *
  * Scale posture (100 TB corpus): every stage is either a narrow projection
  * or a shuffle keyed on content hash / band bucket — cardinality ≈ corpus
  * size, never corpus². The only join is bucket-equijoin between exploded
  * band tables, whose per-key fan-out is bounded by bucket size (skew in a
  * degenerate bucket is the known LSH hot-key; mitigate with a bucket-size
  * cap filter, provided here as `maxBucket`).
  */
object Dedup {

  val P: Long = 1000000007L

  /** Exact dedup: group by content hash, keep the smallest id as the
    * canonical survivor (deterministic, unlike dropDuplicates) + copy
    * count. One hash aggregate; at scale this is THE way — no sort, no
    * window, map-side partial aggregation halves the shuffle.
    *
    * The content hash is md5 (128-bit, collision-negligible at any corpus
    * size), not polyhash: polyhash's 2^30 space birthday-collides from
    * ~40k docs, which would silently merge distinct documents. polyhash
    * stays the MINHASH base (there, collisions only perturb similarity
    * estimates; here they destroy data).
    */
  def exact(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.groupBy(md5(col(textCol).cast("binary")).as("content_hash"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))

  /** Normalized exact dedup: [[exact]] keyed on the CANONICAL text — lower
    * case, punctuation stripped, whitespace collapsed (the token stream
    * re-joined). Catches the trailing-space / smart-quote / case-variant
    * re-crawls that byte-exact dedup misses while staying a single hash
    * aggregate (Dolma-style "exact" dedup normalizes exactly like this
    * before hashing). Same md5 / keep-min-id / copy-count contract as
    * [[exact]]; the same 100 TB shape too — canonicalization is map-side
    * per-row work, the only shuffle is the content-hash aggregate.
    */
  def exactNormalized(docs: DataFrame, idCol: String,
      textCol: String): DataFrame =
    docs
      .select(col(idCol), array_join(
        graft.functions.Tokens.tokens(col(textCol)), " ").as("__canon"))
      .groupBy(md5(col("__canon").cast("binary")).as("content_hash"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))

  /** Keep the BEST representative per duplicate cluster instead of the
    * min-id one — the curation-quality upgrade over [[exactNormalized]]
    * / keep-one-per-cluster pruning: when near-duplicates differ (one
    * is truncated, one is the clean original), "first seen" keeps
    * whichever crawled first; this keeps the highest-scoring copy.
    * `clustered` carries `(idCol, clusterCol, scoreCol)` — cluster from
    * any dedup face (content hash, CC label), score from any quality
    * signal. Ties break on min id, so the pick is total-ordered and
    * engine-stable.
    *
    * Scale: one window rank per cluster — `WindowGroupLimit` prunes to
    * the per-partition leader before the exchange, the
    * [[graft.llm.Curation.capPerGroup]] pattern.
    */
  def keepBestPerCluster(clustered: DataFrame, idCol: String,
      clusterCol: String, scoreCol: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(clusterCol))
      .orderBy(col(scoreCol).desc, col(idCol).asc)
    clustered
      .withColumn("__r", row_number().over(w))
      .filter(col("__r") === 1)
      .drop("__r")
  }

  /** MinHash signature over a PRE-MATERIALIZED shingle-hash array column:
    * k permutations approximated by affine transforms `(aᵢ·h + bᵢ) mod P`,
    * aᵢ = 2i+1 (odd), bᵢ = 12345·i + 7. Closed-form constants keep the
    * signature oracle-computable in ANSI SQL.
    *
    * Native single-pass codegen'd expression
    * ([[graft.functions.MinHashSig]]); bit-identical to the equivalent
    * `array(array_min(transform(hs, …)) × k)` HOF chain (property-tested in
    * LlmSpec), which ran k interpreted array passes per row and dominated
    * the LSH candidate stage. Callers should still stage the shingle
    * hashes through a projection boundary ([[shingleSets]]) so the
    * expensive hash build isn't cloned per reference.
    */
  def signatureFromHashes(hashes: Column, k: Int): Column =
    graft.functions.MinHashSig.minhashSig(hashes, k)

  /** (id, hs) shingle-hash-set frame — the staging projection the minhash /
    * jaccard operators build on. CollapseProject keeps it materialized
    * because `hs` is expensive and multiply-referenced downstream.
    */
  def shingleSets(docs: DataFrame, idCol: String, textCol: String,
      shingleWidth: Int): DataFrame =
    // the native single-pass expression (codegen'd, zero per-shingle
    // allocation); semantically identical to the staged Column chain —
    // equivalence is property-tested across the corpus in LlmSpec
    docs.select(col(idCol).as("doc"),
      graft.functions.ShingleHashes.shingleHashes(col(textCol), shingleWidth)
        .as("hs"))

  /** The LSH hot-key guard shared by every banded candidate generator
    * (minhash bands, simhash slices, sign-LSH cosine buckets): drop
    * buckets larger than `maxBucket` BEFORE the self-join, so a
    * degenerate bucket (boilerplate shingles, near-constant embeddings)
    * cannot silently go per-bucket quadratic. One count-window over the
    * bucket key; mirrored into each caller's oracle as the same window
    * filter.
    */
  private[llm] def pruneHotBuckets(df: DataFrame, keys: Seq[String],
      maxBucket: Int): DataFrame =
    df.withColumn("__bucket_n", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(keys.map(col): _*)))
      .filter(col("__bucket_n") <= maxBucket)
      .drop("__bucket_n")

  /** LSH band key: fold a signature slice through the polyhash recurrence —
    * one long per band. Native codegen'd expression
    * ([[graft.functions.BandKey]]); bit-identical (property-tested) to the
    * `aggregate(slice(sig, …), …)` fold it replaces.
    */
  def bandKey(sig: Column, band: Int, rowsPerBand: Int): Column =
    graft.functions.BandKey.bandKey(sig, band * rowsPerBand, rowsPerBand)

  /** Fuzzy-dup candidate pairs via banded LSH: explode (id, band, key),
    * self-join on (band, key), keep id_a < id_b, dedupe pairs, then score
    * with the signature-estimated Jaccard (fraction of equal minhash
    * positions). `maxBucket` drops degenerate buckets (boilerplate shingle
    * sets shared by thousands of docs) before the join — the LSH hot-key
    * guard.
    */
  def minhashCandidates(docs: DataFrame, idCol: String, textCol: String,
      shingleWidth: Int = 3, k: Int = 16, bands: Int = 4,
      minEstJaccard: Double = 0.5, maxBucket: Int = 1000): DataFrame =
    minhashCandidatesFromSets(shingleSets(docs, idCol, textCol, shingleWidth),
      k, bands, minEstJaccard, maxBucket)

  /** [[minhashCandidates]] over a pre-built (doc, hs) shingle-set frame —
    * lets callers that also need the sets downstream (the verify stage)
    * compute/pin them exactly once.
    */
  def minhashCandidatesFromSets(sets: DataFrame, k: Int = 16, bands: Int = 4,
      minEstJaccard: Double = 0.5, maxBucket: Int = 1000): DataFrame = {
    val rowsPerBand = k / bands
    require(bands * rowsPerBand == k, "k must be divisible by bands")
    val sig = sets
      .select(col("doc"), signatureFromHashes(col("hs"), k).as("sig"))
    val banded = sig.select(col("doc"), col("sig"), posexplode(
      array((0 until bands).map(b => bandKey(col("sig"), b, rowsPerBand)): _*))
      .as(Seq("band", "key")))
    val pruned = pruneHotBuckets(banded, Seq("band", "key"), maxBucket)
    val a = pruned.select(col("band"), col("key"), col("doc").as("doc_a"),
      col("sig").as("sig_a"))
    val b = pruned.select(col("band"), col("key"), col("doc").as("doc_b"),
      col("sig").as("sig_b"))
    a.join(b, Seq("band", "key"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        // native one-pass match count (was an interpreted zip_with +
        // aggregate fold per candidate pair — property-tested identical)
        (graft.functions.SigMatchCount.sigMatchCount(col("sig_a"),
          col("sig_b")).cast("double") / k).as("est_jaccard"))
      .distinct()
      .filter(col("est_jaccard") >= minEstJaccard)
  }

  /** Per-token polyhash array (order + duplicates kept — the SimHash base)
    * as one native scan; the 64-bit production variant maps xxhash64 over
    * the native tokenizer.
    */
  val tokenHashesPoly: Column => Column =
    t => graft.functions.TokenHashes.tokenHashes(t)
  val tokenHashes64: Column => Column =
    t => transform(graft.functions.Tokens.tokens(t), h => xxhash64(h))

  /** SimHash over a pre-materialized token-hash array (e.g.
    * `tokenHashesPoly(text)`): bit i of the fingerprint is set iff more
    * than half the token hashes have bit i set. Pure per-row array math —
    * zero shuffle over the corpus — as ONE native codegen'd pass
    * ([[graft.functions.SimHash]]); bit-identical (property-tested) to
    * the `bits` separate `aggregate` HOF folds it replaces — those ran
    * 64 interpreted array passes per row at production width and were
    * the top regression of round 3's bench.
    *
    * `bits` must not exceed the token-hash space: ≤ 30 with the
    * polyhash token hashes (2^30 range — keeps the fingerprint
    * oracle-computable in ANSI SQL), up to 64 with [[tokenHashes64]]
    * (the production path — see [[simhashCandidates]] on why width
    * matters at scale).
    */
  def simhashFromHashes(hashes: Column, bits: Int = 30): Column =
    graft.functions.SimHash.simhash(hashes, bits)

  /** Hamming distance between two simhash fingerprints. */
  def hammingDist(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** SimHash near-dup candidate pairs via bit-banding: split the `bits`-bit
    * fingerprint into `bands` equal slices; two docs within Hamming
    * distance < `bands` must agree on at least one slice (pigeonhole), so
    * bucketing on (band, slice-value) finds all such pairs with one
    * bucket-keyed shuffle — the simhash analogue of minhash banding, same
    * never-all-pairs posture.
    *
    * SCALE: the per-band bucket key space is 2^(bits/bands). A 16-bit
    * fingerprint in 4 bands has only 16 bucket values per band — buckets
    * hold N/16 of the corpus and pair generation degrades to Θ(N²/16).
    * Production must widen the fingerprint so the slice space dwarfs the
    * corpus: `bits = 64, tokenHashesFn = tokenHashes64` gives 2^16 buckets per
    * band. The 16-bit polyhash form exists for the cross-engine oracle.
    * `maxBucket` is the same degenerate-bucket hot-key guard as in
    * [[minhashCandidates]]: a narrow fingerprint or boilerplate-heavy
    * corpus cannot silently go quadratic.
    *
    * `tokenHashesFn` maps the TEXT column to its token-hash ARRAY
    * (default [[tokenHashes64]]; the oracle-friendly 30-bit form is
    * [[tokenHashesPoly]]).
    */
  /** The LAZY tokenize→simhash→band-explode stage of
    * [[simhashCandidates]], exposed so plan-shape tests can pin the
    * native expressions (the candidate face checkpoints eagerly, which
    * hides its pipeline behind a LogicalRDD). */
  private[graft] def simhashBanded(docs: DataFrame, idCol: String,
      textCol: String, bits: Int, bands: Int,
      tokenHashesFn: Column => Column): DataFrame = {
    require(bits % bands == 0, "bits must divide into equal bands")
    val w = bits / bands
    val mask = if (w == 64) -1L else (1L << w) - 1
    docs
      .select(col(idCol).as("doc"), tokenHashesFn(col(textCol)).as("hh"))
      .select(col("doc"), simhashFromHashes(col("hh"), bits).as("sh"))
      .select(col("doc"), col("sh"), posexplode(
        array((0 until bands).map(j =>
          shiftright(col("sh"), j * w).bitwiseAND(mask)): _*))
        .as(Seq("band", "slice")))
  }

  def simhashCandidates(docs: DataFrame, idCol: String, textCol: String,
      bits: Int = 64, bands: Int = 4, maxHamming: Int = 3,
      maxBucket: Int = 1000,
      tokenHashesFn: Column => Column = tokenHashes64)
      : DataFrame = Pins.scoped { s =>
    require(maxHamming < bands,
      "pigeonhole only guarantees recall for hamming < bands")
    val banded = simhashBanded(docs, idCol, textCol, bits, bands,
      tokenHashesFn)
    // r14: the banded+pruned stream feeds BOTH self-join branches —
    // unpinned, the tokenize→simhash→explode→hot-bucket-window chain
    // executed once per branch (the prefixFilterCandidates finding).
    val pruned = s.pin(
      pruneHotBuckets(banded, Seq("band", "slice"), maxBucket))
    val a = pruned.select(col("band"), col("slice"), col("doc").as("doc_a"),
      col("sh").as("sh_a"))
    val b = pruned.select(col("band"), col("slice"), col("doc").as("doc_b"),
      col("sh").as("sh_b"))
    a.join(b, Seq("band", "slice"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        hammingDist(col("sh_a"), col("sh_b")).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  /** Sorted-neighborhood near-dup candidates — the third candidate-pair
    * family beside minhash-LSH and simhash banding. Sort the corpus by
    * fingerprint and compare each doc only to its next `windowSize - 1`
    * neighbors in sort order: near-identical fingerprints are adjacent
    * after sorting, so a tiny window finds them with ZERO bucket joins —
    * total candidate count is exactly `(windowSize-1) · N`, immune to the
    * degenerate-bucket blowup LSH needs `maxBucket` for.
    *
    * Scale shape: a truly global sorted window would funnel 100 TB through
    * one partition, so the sort is BLOCKED on the fingerprint's top
    * `blockBits` bits — rows shuffle once to 2^blockBits blocks, each
    * block sorts locally, and the window pass is per-block. Because the
    * block key is the sort prefix, block-local order IS global order;
    * the only recall loss is pairs straddling a block boundary (the
    * standard blocking trade — at most `windowSize - 1` boundary pairs
    * per block, vanishing at corpus scale). Widen `blockBits` with the
    * corpus so blocks stay executor-sized.
    *
    * Output: (doc_a, doc_b, hamming) with hamming ≤ `maxHamming`, each
    * unordered pair at most once (a pair at sorted distance d emits only
    * from its left member at offset d).
    */
  def sortedNeighborhoodPairs(docs: DataFrame, idCol: String,
      textCol: String, bits: Int = 64, blockBits: Int = 16,
      windowSize: Int = 4, maxHamming: Int = 3,
      tokenHashesFn: Column => Column = tokenHashes64): DataFrame = {
    require(blockBits > 0 && blockBits < bits,
      s"need 0 < blockBits < bits, got blockBits=$blockBits bits=$bits")
    require(windowSize >= 2, s"windowSize must be >= 2, got $windowSize")
    import org.apache.spark.sql.expressions.Window
    val sh = docs
      .select(col(idCol).as("doc"), tokenHashesFn(col(textCol)).as("hh"))
      .select(col("doc"), simhashFromHashes(col("hh"), bits).as("sh"))
      // top-of-fingerprint prefix: block-local sort order = global order
      .withColumn("block", shiftright(col("sh"), bits - blockBits))
    val w = Window.partitionBy(col("block"))
      .orderBy(col("sh"), col("doc"))
    val leads = sh.select(col("doc"), col("sh"),
      array((1 until windowSize).map(o => struct(
        lead(col("doc"), o).over(w).as("nd"),
        lead(col("sh"), o).over(w).as("ns"))): _*).as("nbs"))
    leads.select(col("doc"), col("sh"), explode(col("nbs")).as("nb"))
      .filter(col("nb.nd").isNotNull)
      .select(least(col("doc"), col("nb.nd")).as("doc_a"),
        greatest(col("doc"), col("nb.nd")).as("doc_b"),
        hammingDist(col("sh"), col("nb.ns")).as("hamming"))
      .filter(col("hamming") <= maxHamming)
  }

  /** Edit-distance verification for a candidate-pair frame: join the two
    * text prefixes in, compute banded Levenshtein, keep pairs within
    * `maxDist`. The 3-arg `levenshtein` bound makes each comparison
    * O(maxDist·L) instead of O(L²) — with distances needed only up to a
    * small threshold, the early-exit band is the difference between
    * feasible and not on long documents. Cost is bounded by the CANDIDATE
    * count (LSH / SNM keeps that ≈ linear in corpus size), never corpus²;
    * `prefixLen` caps the per-pair work for pathological document lengths
    * (a real near-dup diverges within the prefix or not at all).
    */
  def editDistancePairs(docs: DataFrame, idCol: String, textCol: String,
      candidates: DataFrame, aCol: String, bCol: String, maxDist: Int,
      prefixLen: Int = 200): DataFrame = {
    val pfx = docs.select(col(idCol).as("__id"),
      substring(col(textCol), 1, prefixLen).as("__pfx"))
    candidates.select(col(aCol), col(bCol))
      .join(pfx.select(col("__id").as(aCol), col("__pfx").as("__pa")), aCol)
      .join(pfx.select(col("__id").as(bCol), col("__pfx").as("__pb")), bCol)
      .select(col(aCol), col(bCol),
        levenshtein(col("__pa"), col("__pb"), maxDist).as("edit_dist"))
      .filter(col("edit_dist") >= 0) // banded form returns -1 past the cap
  }

  /** Containment |A∩B| / |A| — the asymmetric face of Jaccard: ≈1 when A
    * is a sub-document of B regardless of how much longer B is (quote
    * extraction, boilerplate wrappers — cases where Jaccard dilutes below
    * any usable threshold). Same guard contract as [[jaccard]]: 0.0 when
    * A is empty or either side is null.
    */
  def containment(setA: Column, setB: Column): Column =
    when(setA.isNull || setB.isNull || size(setA) === 0, 0.0)
      .otherwise(size(array_intersect(setA, setB)).cast("double") /
        size(setA).cast("double"))

  /** Incremental dedup of an ingest batch against the standing corpus:
    * keep-min-id within the batch, then anti-join the batch's content
    * hashes against the corpus's. The corpus contributes ONLY a hash
    * projection — at a daily 100 TB cadence that projection is a stored,
    * hash-bucketed index table, so the anti-join is exchange-free on the
    * corpus side and the per-batch cost is batch-sized, never a corpus
    * rescan. Output: (content_hash, keep_id, n_in_batch) for genuinely
    * new content only.
    */
  def incrementalDedup(corpus: DataFrame, batch: DataFrame, idCol: String,
      textCol: String): DataFrame =
    exact(batch, idCol, textCol)
      .withColumnRenamed("n_copies", "n_in_batch")
      .join(corpus.select(md5(col(textCol).cast("binary"))
        .as("content_hash")).distinct(), Seq("content_hash"), "left_anti")

  /** Prefix-filtering candidate pairs (the PPJoin family, Xiao et al.
    * WWW'08): for Jaccard ≥ t, two sets MUST share at least one element
    * among each one's `|s| − ⌈t·|s|⌉ + 1` RAREST elements (global
    * document-frequency order, ties by hash). Unlike the three
    * probabilistic families (minhash-LSH, simhash banding, SNM) this is
    * an EXACT filter — zero false negatives at the threshold — at the
    * cost of a corpus-wide df pass. Inherently skew-proof: the hot
    * tokens ("the"-grade shingles) have the HIGHEST df, so they never
    * enter a prefix and the prefix-token join key is rare by
    * construction. Shuffles: df aggregate (map-combined), one
    * (doc→token) rank window, the prefix equi-join, and the verify join
    * carrying shingle arrays for candidates only.
    * Output: (doc_a, doc_b, jaccard ≥ t) — verified, not candidates.
    *
    * @note EXECUTES EAGERLY (r14): the verified pair list is pinned
    *       at return — the [[verifiedPairs]] contract.
    */
  def prefixFilterCandidates(docs: DataFrame, idCol: String,
      textCol: String, shingleWidth: Int,
      minJaccard: Double): DataFrame = Pins.scoped { s =>
    require(minJaccard > 0 && minJaccard <= 1,
      s"minJaccard in (0,1], got $minJaccard")
    // r14: the shingle frame feeds THREE consumers (the prefix stream and
    // both verify-join sides) and the ranked prefix stream feeds BOTH
    // self-join branches — unpinned, the plan embedded the whole
    // tokenize→shingle chain three times and the df-rank window chain
    // twice (guide §2.4: the same subtree behind every broadcast build is
    // still a full re-execution). Pin both.
    val sets = s.pin(shingleSets(docs, idCol, textCol, shingleWidth))
    // `hs` is a DISTINCT hash set (ShingleHashes dedups), so the per-doc
    // token count is size(hs) read off the array — the former
    // count-over-(doc) window was a second windowed pass over the same
    // sorted partition for a value the source row already knows.
    val toks = sets.select(col("doc"), size(col("hs")).as("__n"),
      explode(col("hs")).as("h"))
    val dfreq = toks.groupBy(col("h")).agg(count(lit(1)).as("__df"))
    val ranked = toks.join(dfreq, Seq("h"))
      .withColumn("__rk", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("doc"))
          .orderBy(col("__df"), col("h"))))
    val prefixes = s.pin(ranked
      .filter(col("__rk") <=
        col("__n") - ceil(lit(minJaccard) * col("__n")) + 1)
      .select(col("doc"), col("h"), col("__rk"), col("__n")))
    // Exact PPJoin pruning on the candidate stream (same paper): the
    // LENGTH filter (J ≥ t forces min(na,nb) ≥ t·max(na,nb)) and the
    // PREFIX-POSITIONAL bound (overlap ≤ 1 + min(na−i, nb−j) at the
    // matching prefix ranks, which must reach the overlap threshold
    // α = t·(na+nb)/(1+t)). Both are lossless at the threshold — a pair
    // survives if ANY shared prefix token passes, and the filters sit
    // BEFORE the distinct so that is exactly the semantics. The 1e-9
    // slack errs toward KEEPING borderline candidates, so float
    // rounding can only cost pruning power, never a valid pair. This is
    // what keeps candidate growth near-linear when the corpus grows
    // with a saturating vocabulary (rare tokens stop being rare).
    val pairs = prefixes.as("a").join(prefixes.as("b"), Seq("h"))
      .filter(col("a.doc") < col("b.doc"))
      .filter(least(col("a.__n"), col("b.__n")).cast("double") >=
        lit(minJaccard) * greatest(col("a.__n"), col("b.__n")) - 1e-9)
      .filter(lit(1 + minJaccard) *
        (lit(1) + least(col("a.__n") - col("a.__rk"),
          col("b.__n") - col("b.__rk"))).cast("double") >=
        lit(minJaccard) * (col("a.__n") + col("b.__n")) - 1e-9)
      .select(col("a.doc").as("doc_a"), col("b.doc").as("doc_b"))
      .distinct()
    // verified pair list ≪ corpus at any real dup rate — the
    // verifiedPairs idiom; callers see the same rows, just materialized
    pairs
      .join(sets.select(col("doc").as("doc_a"), col("hs").as("__sa")),
        Seq("doc_a"))
      .join(sets.select(col("doc").as("doc_b"), col("hs").as("__sb")),
        Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        round(jaccard(col("__sa"), col("__sb")), 6).as("jac"))
      .filter(col("jac") >= minJaccard)
  }

  /** Bounded-output production face of [[prefixFilterCandidates]]: the
    * exact face's verified-pair output is contractually proportional to
    * the TRUE duplicate-pair count, which a pathologically clone-dense
    * corpus can push past any one materialization budget (a 10×-scale
    * fixture already yields ~10⁸-grade pair volume). For the dedup
    * decision itself ("which docs have a near-duplicate, and who is the
    * canonical partner") a per-document cap loses nothing: keep each
    * `doc_a`'s `maxPairsPerDoc` STRONGEST partners (jaccard desc, then
    * doc_b — deterministic), bounding output at `n_docs · cap` rows, so
    * the sink-side volume scales with the corpus, not with the clone
    * density squared. The rank window is partitioned by `doc_a`, so the
    * rank-≤-cap filter compiles to a `WindowGroupLimit` pushdown — per-
    * partition pruning BEFORE the exchange, never a global sort. The
    * exact face stays the oracle-gated one; this face is for the
    * production write path.
    */
  def prefixFilterCandidatesCapped(docs: DataFrame, idCol: String,
      textCol: String, shingleWidth: Int, minJaccard: Double,
      maxPairsPerDoc: Int): DataFrame = {
    require(maxPairsPerDoc >= 1, "maxPairsPerDoc must be positive")
    prefixFilterCandidates(docs, idCol, textCol, shingleWidth, minJaccard)
      .withColumn("__rk", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("doc_a"))
          .orderBy(col("jac").desc, col("doc_b"))))
      .filter(col("__rk") <= maxPairsPerDoc)
      .drop("__rk")
  }

  /** Crawl-fragment stitch detection: ordered pairs `(doc_a, doc_b)`
    * where the LAST `kTokens` tokens of `doc_a` equal the FIRST
    * `kTokens` tokens of `doc_b` — the boundary-overlap signal of a
    * document split across crawl records (or paginated content), which
    * no set-similarity dedup sees (the two halves share only the seam).
    * Token-exact equality via the shared polyhash fold over the
    * space-joined boundary window; docs shorter than `kTokens` have no
    * full boundary and emit nothing; trivial self-pairs excluded.
    *
    * `maxKey` is the hot-boundary guard (the [[pruneHotBuckets]]
    * class): a boilerplate opener/closer shared by thousands of docs
    * would make the seam join quadratic in its multiplicity, so keys
    * with more than `maxKey` members on EITHER side are dropped before
    * the join.
    *
    * Output: `(doc_a, doc_b, seam_hash)`.
    *
    * Scale: one tokenize scan → two map-side boundary hashes → one
    * equi-join keyed on the seam hash (fan-out bounded by `maxKey`);
    * nothing pairwise outside a seam bucket.
    */
  def stitchPairs(docs: DataFrame, idCol: String, textCol: String,
      kTokens: Int, maxKey: Int = 1000): DataFrame = {
    require(kTokens >= 1 && maxKey >= 1, "need kTokens, maxKey >= 1")
    val toks = docs.filter(col(textCol).isNotNull)
      .select(col(idCol).as("__id"), Text.tokens(col(textCol)).as("__w"))
      .filter(size(col("__w")) >= kTokens)
    def keyOf(sliceExpr: Column) =
      graft.functions.PolyHash.polyhash(array_join(sliceExpr, " "))
    def capped(df: DataFrame) = pruneHotBuckets(df, Seq("__k"), maxKey)
    val tails = capped(toks.select(col("__id").as("doc_a"),
      keyOf(slice(col("__w"), -kTokens, kTokens)).as("__k")))
    val heads = capped(toks.select(col("__id").as("doc_b"),
      keyOf(slice(col("__w"), 1, kTokens)).as("__k")))
    tails.join(heads, Seq("__k"))
      .filter(col("doc_a") =!= col("doc_b"))
      .select(col("doc_a"), col("doc_b"), col("__k").as("seam_hash"))
  }

  /** Exact n-gram Jaccard similarity for a candidate-pair frame carrying
    * shingle-hash-set columns — the verification stage after LSH. Native
    * one-pass expression ([[graft.functions.JaccardSets]]); identical
    * (property-tested) to the `size(array_intersect)/size(array_union)`
    * chain with its 0.0-on-empty/null guard.
    */
  def jaccard(setA: Column, setB: Column): Column =
    graft.functions.JaccardSets.jaccardSets(setA, setB)

  /** Duplicate clustering: connected components over a near-dup pair list
    * by iterative min-label propagation (the join-based form of
    * large-star/small-star). Each iteration is one shuffle join + one
    * aggregate; labels are pinned per round so lineage stays flat. Stops
    * at fixpoint (no label changed) or `maxIter`. Output: (doc, cluster)
    * where cluster = the smallest doc id in the component — the canonical
    * survivor for keep-one-per-cluster dedup.
    */
  def duplicateClusters(pairs: DataFrame, aCol: String, bCol: String,
      maxIter: Int = 10): DataFrame = {
    // partitioned AND sorted on the per-round join key (r13): every
    // round joins edges on dst — a (src,dst)-hash pin re-exchanged
    // and re-sorted the edge-grain frame once per round; pins keep
    // partitioning+ordering, so the per-round SMJ now only sorts the
    // node-grain label side
    // both directions in ONE pass over `pairs` (r13, the q333 explode
    // idiom): a two-branch union reads the caller's pair derivation
    // twice
    val edges0 = pairs.select(explode(array(
        struct(col(aCol).as("src"), col(bCol).as("dst")),
        struct(col(bCol).as("src"), col(aCol).as("dst")))).as("__p"))
      .select(col("__p.src").as("src"), col("__p.dst").as("dst"))
      .distinct()
    // data-derived partition count (r14, Pins.loopParts): the pin's
    // count is every round's task count — see Graph.pageRankPpm
    val edges = Pins.loopCache(edges0, "dst", Pins.loopParts(edges0))
    // seed each label with min(self, neighbors) — round 1's propagation
    // folded into the init aggregate, so the dominant pair-sized clusters
    // reach their fixpoint one full round (two Spark jobs) earlier
    var labels = Pins.pin(edges.groupBy(col("src"))
      .agg(min(col("dst")).as("__mn"))
      .select(col("src").as("doc"),
        least(col("src"), col("__mn")).as("cluster")))
    var iter = 0
    var converged = false
    while (iter < maxIter && !converged) {
      val viaNeighbor = edges
        .join(labels.withColumnRenamed("doc", "dst"), Seq("dst"))
        .groupBy(col("src").as("doc"))
        .agg(min(col("cluster")).as("n_cluster"))
      // carry the incoming label as `old` so convergence detection below
      // is a scan of the checkpointed rows, not another shuffle join
      val hop = labels.withColumnRenamed("cluster", "old")
        .join(viaNeighbor, Seq("doc"), "left")
        .select(col("doc"), col("old"),
          least(col("old"), coalesce(col("n_cluster"), col("old")))
            .as("cluster"))
      // pointer jumping (path halving): also adopt the label of the
      // current representative, so the min spreads 2^iter hops per round
      // instead of 1 — a 1M-doc near-dup chain converges in ~20 rounds,
      // not 1M.
      val reps = hop.select(col("doc").as("cluster"),
        col("cluster").as("rep_cluster"))
      // the pin truncates the plan each round — the pointer-jump
      // self-join would otherwise DOUBLE the logical plan per iteration
      // (exponential analysis/optimization cost, OOMs around round 10).
      // pinWith (r13): the convergence count is the materializing job,
      // so pin + count run as ONE Spark job per round instead of two.
      val (next, changed) = Pins.pinWith(hop
        .join(reps, Seq("cluster"), "left")
        .select(col("doc"), col("old"),
          least(col("cluster"), coalesce(col("rep_cluster"), col("cluster")))
            .as("cluster")))(_.filter(col("cluster") =!= col("old")).count())
      Pins.release(labels)
      labels = next.drop("old")
      converged = changed == 0
      iter += 1
    }
    Pins.release(edges)
    labels
  }

  /** Keep one document per duplicate cluster: drop every doc whose cluster
    * label differs from its own id (the canonical min-id survivor stays;
    * docs never seen in a pair are untouched). The capstone of the dedup
    * chain — corpus → candidates → verify → clusters → pruned corpus —
    * as one broadcast-able anti-join: the drop list is |duplicates|-sized,
    * far below corpus size at any realistic dup rate.
    */
  def pruneDuplicates(docs: DataFrame, idCol: String,
      clusters: DataFrame): DataFrame =
    docs.join(
      clusters.filter(col("doc") =!= col("cluster"))
        .select(col("doc").as(idCol)),
      Seq(idCol), "left_anti")

  /** n-gram Jaccard over all candidate pairs from LSH, verified exactly:
    * join shingle sets back onto the candidate pairs and compute true
    * Jaccard.
    *
    * The shingle sets are computed ONCE (pinned — candidates and both
    * verify-join sides reference them; unpinned, the tokenize→shingle
    * chain would run three times), and semi-joined down to
    * candidate-involved docs before the verify join so only plausible
    * pairs carry their heavy hash arrays through a shuffle — at 100 TB
    * candidates ≪ corpus, so the verify join moves a sliver of the data.
    *
    * @note EXECUTES EAGERLY: the whole shingle→LSH→verify pipeline runs
    *       when this method is CALLED (the result is pinned),
    *       not when the returned frame is first consumed — and downstream
    *       filters no longer push into the pipeline. Build it once, where
    *       you mean to run it.
    */
  def fuzzyDuplicates(docs: DataFrame, idCol: String, textCol: String,
      shingleWidth: Int = 3, k: Int = 16, bands: Int = 4,
      minJaccard: Double = 0.7): DataFrame = Pins.scoped { s =>
    val sets = s.pin(shingleSets(docs, idCol, textCol, shingleWidth))
    val cands = s.pin(minhashCandidatesFromSets(sets, k, bands,
      minEstJaccard = 0.3))
    // both endpoints in ONE pass over cands (r13 explode idiom)
    val involved = cands
      .select(explode(array(col("doc_a"), col("doc_b"))).as("doc"))
      .distinct()
    val needed = sets.join(involved, Seq("doc"), "left_semi")
    cands
      .join(needed.select(col("doc").as("doc_a"), col("hs").as("set_a")), "doc_a")
      .join(needed.select(col("doc").as("doc_b"), col("hs").as("set_b")), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        jaccard(col("set_a"), col("set_b")).as("jaccard"))
      .filter(col("jaccard") >= minJaccard)
  }

  /** LSH calibration report — the tuning instrument for the
    * (k, bands, threshold) dials: for every candidate pair the banded
    * index surfaces, the MinHash-ESTIMATED Jaccard next to the EXACT
    * shingle-set Jaccard and the absolute error, all in integer ppm
    * (both ratios are dyadic/rational — `round(x·10⁶)` of identical
    * doubles is engine-stable). The dedup-family sibling of
    * [[graft.llm.Similarity.recallAtK]]: recall@k instruments the ANN
    * index, this instruments the signature estimator (how tight is the
    * estimate near the action threshold; how often does banding surface
    * a pair the exact metric would reject). Same dataflow as
    * [[fuzzyDuplicates]] — the exact sets ride the verify join only for
    * surfaced candidates.
    */
  def lshCalibration(docs: DataFrame, idCol: String, textCol: String,
      shingleWidth: Int = 3, k: Int = 16, bands: Int = 4,
      minEstJaccard: Double = 0.25,
      maxBucket: Int = 1000): DataFrame = Pins.scoped { s =>
    val sets = s.pin(shingleSets(docs, idCol, textCol, shingleWidth))
    val cands = s.pin(minhashCandidatesFromSets(sets, k, bands,
      minEstJaccard, maxBucket))
    // both endpoints in ONE pass over cands (r13 explode idiom)
    val involved = cands
      .select(explode(array(col("doc_a"), col("doc_b"))).as("doc"))
      .distinct()
    val needed = sets.join(involved, Seq("doc"), "left_semi")
    cands
      .join(needed.select(col("doc").as("doc_a"), col("hs").as("set_a")), "doc_a")
      .join(needed.select(col("doc").as("doc_b"), col("hs").as("set_b")), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        round(col("est_jaccard") * 1000000).cast("long").as("est_ppm"),
        round(jaccard(col("set_a"), col("set_b")) * 1000000).cast("long")
          .as("exact_ppm"))
      .withColumn("err_ppm", abs(col("est_ppm") - col("exact_ppm")))
  }

  /** Similarity-BAND pair mining — similar-but-not-duplicate pairs, the
    * hard-negative / contrastive-training feed: candidate pairs whose
    * EXACT Jaccard (integer ppm, same rounding as [[lshCalibration]])
    * lands in `[loPpm, hiPpm)`. Rides the calibration dataflow, so the
    * exact sets travel only for LSH-surfaced candidates.
    *
    * RECALL CONTRACT: pairs can only enter the band if banding surfaced
    * them, so `minEstJaccard` (and the banding dials) bound how deep
    * below the duplicate zone the mining reaches — a band floor far
    * under the LSH threshold needs a lower-threshold candidate family
    * (prefixFilterCandidates at small t, or sampled random pairing),
    * not a wider filter here.
    */
  def similarityBandPairs(docs: DataFrame, idCol: String, textCol: String,
      loPpm: Long, hiPpm: Long, shingleWidth: Int = 3, k: Int = 16,
      bands: Int = 4, minEstJaccard: Double = 0.25,
      maxBucket: Int = 1000): DataFrame = {
    require(loPpm < hiPpm, "empty band")
    lshCalibration(docs, idCol, textCol, shingleWidth, k, bands,
      minEstJaccard, maxBucket)
      .filter(col("exact_ppm") >= loPpm && col("exact_ppm") < hiPpm)
      .select(col("doc_a"), col("doc_b"), col("exact_ppm"))
  }

  /** Winnowing fingerprints (the MOSS scheme, Schleimer/Wilkerson/Aiken
    * SIGMOD'03): hash every word `k`-gram IN ORDER, slide a window of
    * `w` consecutive gram hashes, keep each window's MINIMUM, emit the
    * distinct selected hashes — the guarantee is that any shared run of
    * ≥ `w + k − 1` words between two documents shares at least one
    * fingerprint, at ~1/w the density of the full shingle set. The
    * selected SET is tie-rule-free (equal minima select the same
    * value), so the output is engine-exact. Documents shorter than
    * `k + w − 1` words contribute their single overall-min gram hash
    * when they have ≥ k words, else nothing.
    *
    * Output `(id, fp)` exploded — one row per distinct fingerprint.
    * Pure map-side work (tokenize → gram hashes → window minima →
    * distinct → explode); no shuffle.
    */
  def winnowingFingerprints(docs: DataFrame, idCol: String,
      textCol: String, k: Int = 4, w: Int = 4): DataFrame = {
    require(k >= 1 && w >= 1, "need positive gram and window widths")
    // fully native chain: gram_hashes (ordered scan, zero per-gram
    // allocation) → winnow_mins (monotonic deque, O(n) total) — both
    // codegen'd. The first cut here was a composable HOF chain whose
    // inline gram-hash expression inside the window lambda re-hashed
    // the whole document per window (O(len²) per doc, 8× on the sf0.1
    // corpus pass); staging arrays as attributes fixed the asymptotics,
    // and the native pair removes the remaining O(n·w) interpreted
    // slice/array_min work per window. Equivalence to the staged HOF
    // chain is property-tested in SelectionSpec.
    docs
      .select(col(idCol),
        graft.functions.ShingleHashes.gramHashes(col(textCol), k)
          .as("__hs"))
      .select(col(idCol),
        graft.functions.WinnowMins.winnowMins(col("__hs"), w).as("__mins"))
      .select(col(idCol), explode(array_distinct(col("__mins"))).as("fp"))
  }

  /** Document pairs sharing ≥ `minShared` winnowing fingerprints — the
    * MOSS-style overlap detector. Fingerprints held by more than
    * `maxDocsPerFp` documents are dropped BEFORE pairing (the
    * boilerplate guard: a fingerprint from a shared license header
    * would otherwise pair quadratically), so the join is bounded per
    * key — the same hot-bucket discipline as the MinHash/SimHash
    * candidate generators. One fingerprint-keyed self-join of the
    * (fp → docs) inverted index, then a pair-grain count.
    */
  def winnowingPairs(docs: DataFrame, idCol: String, textCol: String,
      k: Int = 4, w: Int = 4, minShared: Int = 2,
      maxDocsPerFp: Int = 1000): DataFrame = {
    require(minShared >= 1 && maxDocsPerFp >= 2,
      "need a positive overlap floor and a pairable fp cap")
    val fps = winnowingFingerprints(docs, idCol, textCol, k, w)
    val bounded = fps.withColumn("__nd",
        count(lit(1)).over(Window.partitionBy(col("fp"))))
      .filter(col("__nd") <= maxDocsPerFp)
    val a = bounded.select(col("fp"), col(idCol).as("id_a"))
    val b = bounded.select(col("fp"), col(idCol).as("id_b"))
    a.join(b, Seq("fp"))
      .filter(col("id_a") < col("id_b"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** Unrolled-product power fragment: `x` multiplied `n` times,
    * left-to-right — the libm-free `x^n` both engines evaluate with
    * identical IEEE association (a `pow()` call would be platform
    * territory). ONE copy used by the engine expr and the oracle SQL. */
  def powUnrollSql(x: String, n: Int): String = {
    require(n >= 1 && n <= 64, "unroll 1..64")
    Seq.fill(n)(x).mkString("(", " * ", ")")
  }

  /** Banded-LSH S-curve tuning table: for each (rows-per-band r, bands
    * b) configuration, the candidate probability `P(pair | Jaccard s) =
    * 1 − (1 − s^r)^b` over the `s` grid — the design chart a user reads
    * BEFORE picking r·b for [[minhashCandidates]]: where the curve's
    * cliff sits is the dedup threshold the configuration actually
    * enforces. All powers are unrolled products ([[powUnrollSql]]), so
    * the table is engine-exact; the grid `s` values are exact 2-dp
    * literals.
    *
    * Output: `(r, b, s, p_candidate)` — |rs|·|bs|·(100/stepPct − 1)
    * rows, 6 dp.
    *
    * Scale: a literal table — no data touched; it exists so the
    * threshold choice is itself a queryable, versioned artifact.
    */
  def lshTuningCurve(spark: org.apache.spark.sql.SparkSession,
      rs: Seq[Int], bs: Seq[Int], stepPct: Int = 5): DataFrame = {
    require(stepPct >= 1 && stepPct < 100 && 100 % stepPct == 0,
      "stepPct must divide 100")
    import spark.implicits._
    val frames = for (r <- rs; b <- bs) yield {
      val p = s"1 - ${powUnrollSql(s"(1 - ${powUnrollSql("s", r)})", b)}"
      (1 until 100 / stepPct)
        .map(i => (r, b, String.format(java.util.Locale.ROOT, "%.2f",
          Double.box(i * stepPct / 100.0))))
        .toDF("r", "b", "__s")
        .withColumn("s", col("__s").cast("double"))
        .withColumn("p_candidate", round(expr(p), 6))
        .select(col("r"), col("b"), col("s"), col("p_candidate"))
    }
    frames.reduce(_ unionByName _)
  }

  /** Exact duplicated-SPAN structure per document: over ALL stride-1
    * n-token windows, the density (ppm) of windows that also appear
    * verbatim in at least one OTHER document, AND the length in tokens
    * of the longest CONTIGUOUS duplicated run — the Lee et al. 2022
    * ExactSubstr span metric ("this doc contains a 600-token verbatim
    * block" reads very differently from "0.1% of its windows repeat").
    * Windows join on the gram STRING — zero false positives is the
    * contract; this is the exact verify + span-structure face of
    * [[graft.llm.Curation.repeatedSpans]]'s hashed counting report
    * (which adds first-position and hash-keyed cheapness, but no run
    * structure).
    *
    * Output: `(id, n_win, n_dup, dup_ppm, max_span_tokens)` — one row
    * per document with ≥ n tokens; a run of k consecutive duplicated
    * windows spans `k + n − 1` tokens; `max_span_tokens` 0 when
    * nothing repeats. `dup_ppm` operands are non-negative (floor =
    * truncate on both engines).
    *
    * Scale: the positional stream is narrow (id, pos, gram) and is
    * scanned twice rather than persisted (corpus-position grain does
    * not cache at 100 TB — the bigramLmScore trade, documented there);
    * the duplicated-gram list is a gram-grain two-phase count-distinct,
    * the membership join is a left-semi on the gram key, and the
    * gaps-and-islands window is PARTITIONED per doc (`pos −
    * row_number`) — never corpus-grain. `n_win` derives from the
    * counting tokenizer scan, no window materialization. Boilerplate
    * grams are the AQE skew-join class; nothing is pairwise.
    */
  def dupSpanReport(docs: DataFrame, idCol: String, textCol: String,
      n: Int = 8): DataFrame = {
    require(n >= 1, "window width must be positive")
    val wins = docs.select(col(idCol).as("__id"),
      posexplode(graft.functions.TokenNgrams.tokenNgrams(col(textCol), n))
        .as(Seq("__pos", "gram")))
    val dupGrams = wins.groupBy(col("gram"))
      .agg(countDistinct(col("__id")).as("__nd"))
      .filter(col("__nd") >= 2)
      .select(col("gram"))
    val runs = wins.join(dupGrams, Seq("gram"), "left_semi")
      .withColumn("__isle", col("__pos") - row_number().over(
        Window.partitionBy(col("__id")).orderBy(col("__pos"))))
      .groupBy(col("__id"), col("__isle")).agg(count(lit(1)).as("__rl"))
      .groupBy(col("__id"))
      .agg(sum(col("__rl")).as("__ndup"), max(col("__rl")).as("__mr"))
    val nw = docs.select(col(idCol).as("__id"),
        (graft.llm.Text.tokenCount(col(textCol)).cast("long")
          - (n - 1)).as("n_win"))
      .filter(col("n_win") >= 1)
    nw.join(runs, Seq("__id"), "left")
      .select(col("__id").as(idCol), col("n_win"),
        coalesce(col("__ndup"), lit(0L)).cast("long").as("n_dup"),
        expr("coalesce(__ndup, 0) * 1000000 DIV n_win").as("dup_ppm"),
        coalesce(col("__mr") + (n - 1), lit(0L)).cast("long")
          .as("max_span_tokens"))
  }
}

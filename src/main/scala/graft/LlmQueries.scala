package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Queries.Spec
import graft.functions.PolyHash.polyhash
import graft.engine.Pins
import graft.llm.{Dedup, Multimodal, Similarity, Text}

/** LLM-data-pipeline query registry: dedup (exact / MinHash-LSH / SimHash /
  * n-gram Jaccard), similarity search (brute-force + LSH-bucketed ANN),
  * text analysis, multimodal columns — each over the `documents` /
  * `embeddings` tables with a generated closed-form DuckDB oracle.
  */
object LlmQueries {

  private def T(spark: SparkSession, dir: String, name: String): DataFrame =
    Queries.T(spark, dir, name)

  // ---- shared DuckDB SQL fragments (mirroring graft.llm.Text exactly) ----

  /** Normalized whitespace tokens of `text`. */
  private val wordsSql =
    "list_filter(string_split_regex(trim(regexp_replace(lower(text), " +
      "'[^a-z0-9 ]', ' ', 'g')), ' +'), x -> x != '')"

  /** polyhash fold over an arbitrary string expression. */
  private def phSql(arg: String): String =
    s"list_reduce(list_prepend(CAST(0 AS BIGINT), [CAST(unicode(c) AS BIGINT) " +
      s"for c in string_split($arg, '')]), (a,b) -> (a*31+b) % 1000000007)"

  /** Distinct shingle-hash set over a `words` list column, width n. */
  private def shingleSql(n: Int): String =
    s"list_distinct([${phSql(s"array_to_string(words[i+1:i+$n], ' ')")} " +
      s"for i in range(CASE WHEN len(words) >= $n THEN len(words)-${n - 1} ELSE 0 END)])"

  // ONE copy of each multi-query oracle fragment (lang-ID chain: q52, q80,
  // q85, q88; quality CTEs: q80, q85; split CASE: q79, q85) — an edit to
  // the stopword lists, quality blend, or split thresholds that missed one
  // of the hand-synced copies would silently red only that query's gate.

  private val langIdLangs = Seq("en", "de", "fr", "es", "zh")

  /** Per-language stopword-marker count select list over a `words` column
    * (mirrors [[Text.langIdFromTokens]]'s counts). */
  private val langCountsSql = langIdLangs.map { l =>
    val lst = Text.stopwords(l).map(w => s"'$w'").mkString("[", ",", "]")
    s"CAST(len(list_filter(words, w -> list_contains($lst, w))) AS INT) AS c_$l"
  }.mkString(", ")

  /** Winning-language CASE over those counts (first-listed language wins
    * ties, zero markers → 'und' — the exact [[Text.langIdFromTokens]]
    * tie-break). */
  private val langCaseSql = {
    val maxc = langIdLangs.map(l => s"c_$l").mkString("greatest(", ",", ")")
    langIdLangs.map(l => s"WHEN $maxc = c_$l AND c_$l > 0 THEN '$l'")
      .mkString("CASE ", " ", " ELSE 'und' END")
  }

  /** Quality-score CTE pair over a CTE exposing (doc_id, text, words):
    * emits `f AS (features), sc AS (doc_id, <keep>, q, nt)` mirroring
    * [[Text.qualityScoreFromTokens]]. `keep` = extra sc passthrough
    * columns (comma-led), e.g. ", text". */
  private def qualityCtesSql(src: String, keep: String,
      fKeep: String = ""): String =
    s"""f AS (SELECT doc_id$fKeep, text, words,
          CAST(len(words) AS DOUBLE) AS n_tokens,
          CASE WHEN length(text) > 0 THEN
            CAST(length(text) - length(regexp_replace(lower(text),
              '[^a-z0-9 ]', '', 'g')) AS DOUBLE)
              / CAST(length(text) AS DOUBLE) END AS punct_ratio,
          CASE WHEN len(words) > 0 THEN
            CAST(len(list_filter(words, w -> list_contains(
              ['the','a','of','and','to','in','is','it'], w))) AS DOUBLE)
              / CAST(len(words) AS DOUBLE) END AS stopword_ratio
        FROM $src),
        sc AS (SELECT doc_id$keep,
          coalesce((least(n_tokens / CAST(100 AS DOUBLE), CAST(1 AS DOUBLE))
            + (1 - least(punct_ratio * 5, CAST(1 AS DOUBLE)))
            + least(stopword_ratio * 4, CAST(1 AS DOUBLE)))
            / CAST(3 AS DOUBLE), CAST(0 AS DOUBLE)) AS q,
          CAST(len(words) AS INT) AS nt FROM f)"""

  /** 90/5/5 content-hash split CASE over a `text` column (mirrors
    * [[Text.hashSplit]], incl. the NULL-propagation leading arm). */
  private val hashSplitCaseSql =
    s"""CASE WHEN text IS NULL THEN NULL
        WHEN ${phSql("text")} % 100 < 90 THEN 'train'
        WHEN ${phSql("text")} % 100 < 95 THEN 'val'
        ELSE 'holdout' END"""

  // ------------------------------------------------------------------

  /** polyhash itself — the portable content-hash primitive. */
  private val l1 = Spec("q50_llm_polyhash",
    (s, d) => T(s, d, "documents").select(col("doc_id"),
      polyhash(col("text")).as("h")),
    Some(s"SELECT doc_id, ${phSql("text")} AS h FROM documents"))

  /** Token counting: whitespace tokens + BPE-ish subword runs. */
  private val l2 = Spec("q51_text_token_counts",
    // native subword_count: one codegen'd char scan, not a regex pass —
    // equivalence vs the regex Column form is property-tested in LlmSpec
    (s, d) => T(s, d, "documents").select(col("doc_id"),
      Text.tokenCount(col("text")).as("n_tokens"),
      graft.functions.SubwordCount.subwordCount(col("text")).as("n_subwords")),
    Some(s"""SELECT doc_id, CAST(len($wordsSql) AS INT) AS n_tokens,
        CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9 \t\n\f\r]+'))
          AS INT) AS n_subwords FROM documents"""))

  /** Heuristic language ID via stopword-marker counts. */
  private val l3 = Spec("q52_text_lang_id",
    (s, d) => T(s, d, "documents")
      .select(col("doc_id"), Text.tokens(col("text")).as("toks"))
      .select(col("doc_id"), Text.langIdFromTokens(col("toks")).as("lang_pred")),
    Some(s"""WITH t AS (SELECT doc_id, $wordsSql AS words FROM documents),
          c AS (SELECT doc_id, $langCountsSql FROM t)
          SELECT doc_id, $langCaseSql AS lang_pred FROM c"""))

  /** Quality features + composite score (ratio arithmetic — exact). */
  private val l4 = Spec("q53_text_quality",
    (s, d) => {
      val staged = T(s, d, "documents").select(col("doc_id"), col("text"),
        Text.tokens(col("text")).as("toks"))
      val feats = Text.qualityFeaturesFromTokens(col("text"), col("toks"))
      staged.select(col("doc_id") +:
        feats.map { case (n, c) => c.as(n) } :+
        Text.qualityScoreFromTokens(col("text"), col("toks")).as("quality"): _*)
    },
    Some(s"""WITH t AS (SELECT doc_id, text, $wordsSql AS words FROM documents),
        f AS (SELECT doc_id,
          CAST(length(text) AS DOUBLE) AS n_chars,
          CAST(len(words) AS DOUBLE) AS n_tokens,
          CASE WHEN len(words) > 0 THEN
            CAST(list_sum(list_transform(words, w -> len(w))) AS DOUBLE)
              / CAST(len(words) AS DOUBLE) END AS mean_word_len,
          CASE WHEN length(text) > 0 THEN
            CAST(length(text) - length(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'))
              AS DOUBLE) / CAST(length(text) AS DOUBLE) END AS punct_ratio,
          CASE WHEN len(words) > 0 THEN
            CAST(len(list_filter(words, w -> list_contains(
              ['the','a','of','and','to','in','is','it'], w))) AS DOUBLE)
              / CAST(len(words) AS DOUBLE) END AS stopword_ratio
        FROM t)
        SELECT doc_id, n_chars, n_tokens, mean_word_len, punct_ratio,
          stopword_ratio,
          coalesce((least(n_tokens / CAST(100 AS DOUBLE), CAST(1 AS DOUBLE)) +
            (1 - least(punct_ratio * 5, CAST(1 AS DOUBLE))) +
            least(stopword_ratio * 4, CAST(1 AS DOUBLE))) / CAST(3 AS DOUBLE),
            CAST(0 AS DOUBLE)) AS quality FROM f"""))

  /** Winnowing-style document fingerprint. Gate shape: the BIGINT hash
    * array is joined to one CSV string — integer→string is cross-engine
    * exact and the driver's comparator cannot sort ARRAY cells.
    */
  private val l5 = Spec("q54_text_fingerprint",
    (s, d) => T(s, d, "documents")
      // cast("array<string>") is a codegen'd element-wise Cast — a
      // transform(_.cast) lambda would be one more interpreted HOF pass
      .select(col("doc_id"), array_join(
        graft.functions.ModFilterSorted.modFilterSorted(
          graft.functions.ShingleHashes.shingleHashes(col("text"), 4), 8)
          .cast("array<string>"), ",").as("fp")),
    Some(s"""WITH t AS (SELECT doc_id, $wordsSql AS words FROM documents)
        SELECT doc_id, coalesce(array_to_string(
          list_sort(list_filter(${shingleSql(4)}, h -> h % 8 = 0)), ','), '')
        AS fp FROM t"""))

  /** The duplicate-injected corpus: every 10th doc duplicated verbatim
    * (id+10^8) — exact-dup targets. The offset must clear the fixture's
    * real id range: a collision would both let an injected dup survive
    * dedup under a real doc's id and fan out the oracles' doc_id
    * self-joins (q85) where Spark's one-projection pipeline does not.
    */
  private def dupCorpus(s: SparkSession, d: String): DataFrame = {
    val docs = T(s, d, "documents").select(col("doc_id"), col("text"))
    docs.unionByName(docs.filter(col("doc_id") % 10 === 0)
      .withColumn("doc_id", col("doc_id") + 100000000))
  }
  private val dupCorpusSql =
    """SELECT doc_id, text FROM documents UNION ALL
       SELECT doc_id + 100000000, text FROM documents WHERE doc_id % 10 = 0"""

  /** Near-dup-injected corpus: every 17th doc re-added with its tail
    * truncated — fuzzy-dup targets.
    */
  private def nearDupCorpus(s: SparkSession, d: String): DataFrame = {
    val docs = T(s, d, "documents").select(col("doc_id"), col("text"))
    docs.unionByName(docs.filter(col("doc_id") % 17 === 0).select(
      (col("doc_id") + 100000000).as("doc_id"),
      substring(col("text"), lit(1),
        greatest(length(col("text")) - 15, lit(20)).cast("int")).as("text")))
  }
  private val nearDupCorpusSql =
    """SELECT doc_id, text FROM documents UNION ALL
       SELECT doc_id + 100000000,
         substr(text, 1, CAST(greatest(length(text) - 15, 20) AS INT))
       FROM documents WHERE doc_id % 17 = 0"""

  /** Session-memoized LSH candidate pairs over [[nearDupCorpus]] (the
    * one parameterization every dedup-chain query uses: 3-shingles,
    * k=16, 4 bands, est ≥ 0.25, maxBucket 1000) — q57/q69/q81/q139/q249
    * all start here; without the memo each re-tokenizes, re-signs and
    * re-buckets the corpus. Values (and gate hashes) unchanged — the
    * nearDupEmb fixture discipline. */
  private def nearDupPairs(s: SparkSession, d: String): DataFrame =
    Pins.memo(s, d, "nearDupPairs")(
      Pins.pin(Dedup.minhashCandidates(nearDupCorpus(s, d), "doc_id", "text",
        shingleWidth = 3, k = 16, bands = 4, minEstJaccard = 0.25,
        maxBucket = 1000)))

  /** Session-memoized connected components over [[nearDupPairs]] —
    * the iterative pointer-jumping pass is the expensive half of the
    * q69/q81/q139/q249 chain; ONE materialization serves all four. */
  private def nearDupClusters(s: SparkSession, d: String): DataFrame =
    Pins.memo(s, d, "nearDupClusters")(
      Pins.pin(
        Dedup.duplicateClusters(nearDupPairs(s, d), "doc_a", "doc_b")))

  /** Exact dedup over the dup-injected corpus. */
  private val l6 = Spec("q55_dedup_exact",
    (s, d) => Dedup.exact(dupCorpus(s, d), "doc_id", "text"),
    Some(s"""WITH corpus AS ($dupCorpusSql)
        SELECT md5(text) AS content_hash, min(doc_id) AS keep_id,
        count(*) AS n_copies FROM corpus GROUP BY 1"""))

  /** MinHash signatures (k=8, 3-shingles). Gate shape: the BIGINT
    * signature array is joined to one CSV string (see q54's comment).
    */
  private val l7 = Spec("q56_dedup_minhash_sig",
    (s, d) => Dedup.shingleSets(T(s, d, "documents"), "doc_id", "text", 3)
      .select(col("doc").as("doc_id"), array_join(transform(
        Dedup.signatureFromHashes(col("hs"), 8), _.cast("string")), ",")
        .as("sig")),
    Some {
      val perms = (0 until 8).map { i =>
        val a = 2L * i + 1; val b = 12345L * i + 7
        s"list_min([ (h*CAST($a AS BIGINT)+CAST($b AS BIGINT)) % 1000000007 for h in hs ])"
      }.mkString("[", ", ", "]")
      s"""WITH t AS (SELECT doc_id, $wordsSql AS words FROM documents),
          sh AS (SELECT doc_id, ${shingleSql(3)} AS hs FROM t)
          SELECT doc_id, array_to_string($perms, ',') AS sig FROM sh"""
    })

  /** Shared CTE chain: corpus → words → shingle sets → signatures → bands
    * → distinct candidate pairs with estimated Jaccard (k=16, 4×4 bands).
    */
  private def lshCtes: String = {
    val perms = (0 until 16).map { i =>
      val a = 2L * i + 1; val b = 12345L * i + 7
      s"list_min([ (h*CAST($a AS BIGINT)+CAST($b AS BIGINT)) % 1000000007 for h in hs ])"
    }.mkString("[", ", ", "]")
    s"""corpus AS ($nearDupCorpusSql),
        t AS (SELECT doc_id, $wordsSql AS words FROM corpus),
        sh AS (SELECT doc_id, ${shingleSql(3)} AS hs FROM t),
        sg AS (SELECT doc_id, $perms AS sig FROM sh),
        banded0 AS (SELECT doc_id, sig, b,
          list_reduce(list_prepend(CAST(0 AS BIGINT), sig[b*4+1:b*4+4]),
            (a, x) -> (a*31 + x % 1000000007) % 1000000007) AS key
          FROM sg CROSS JOIN (SELECT unnest(range(4)) AS b)),
        banded AS (SELECT doc_id, sig, b, key FROM (SELECT *,
          count(*) OVER (PARTITION BY b, key) AS bucket_n FROM banded0)
          WHERE bucket_n <= 1000),
        pairs AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b,
          CAST(len(list_filter(range(16), i -> x.sig[i+1] = y.sig[i+1]))
            AS DOUBLE) / CAST(16 AS DOUBLE) AS est_jaccard
          FROM banded x JOIN banded y ON x.b = y.b AND x.key = y.key
          WHERE x.doc_id < y.doc_id)"""
  }

  /** Banded-LSH fuzzy-dup candidate pairs over the near-dup corpus
    * (k=16, 4 bands × 4 rows, est-Jaccard ≥ 0.25).
    */
  private val l8 = Spec("q57_dedup_lsh_pairs",
    (s, d) => nearDupPairs(s, d),
    Some(s"""WITH $lshCtes
        SELECT doc_a, doc_b, est_jaccard FROM pairs
        WHERE est_jaccard >= CAST(0.25 AS DOUBLE)"""))

  /** Duplicate clustering: connected components over the LSH pairs — the
    * canonical-survivor assignment. Oracle: recursive-CTE transitive
    * closure, cluster = min reachable id.
    */
  private val l18 = Spec("q69_dedup_clusters",
    (s, d) => nearDupClusters(s, d),
    Some(s"""WITH RECURSIVE $lshCtes,
        cand AS (SELECT doc_a, doc_b FROM pairs
          WHERE est_jaccard >= CAST(0.25 AS DOUBLE)),
        edges AS (SELECT doc_a AS s, doc_b AS d FROM cand
          UNION SELECT doc_b, doc_a FROM cand),
        nodes AS (SELECT DISTINCT s FROM edges),
        reach(s, d) AS (SELECT s, s FROM nodes
          UNION SELECT r.s, e.d FROM reach r JOIN edges e ON r.d = e.s)
        SELECT s AS doc, min(d) AS cluster FROM reach GROUP BY s"""))

  /** The 16-bit simhash as a SQL expression over a `hs` token-hash list. */
  private val simhashTermsSql: String = (0 until 16).map { i =>
    s"(CASE WHEN 2*CAST(list_sum(list_transform(hs, h -> (h >> $i) & 1)) " +
      s"AS BIGINT) > CAST(len(hs) AS BIGINT) THEN CAST(${1L << i} AS BIGINT) " +
      s"ELSE CAST(0 AS BIGINT) END)"
  }.mkString(" + ")

  /** SimHash fingerprints (16 bits for a compact oracle). */
  private val l9 = Spec("q58_dedup_simhash",
    (s, d) => T(s, d, "documents")
      .select(col("doc_id"),
        graft.functions.TokenHashes.tokenHashes(col("text")).as("hh"))
      .select(col("doc_id"),
        Dedup.simhashFromHashes(col("hh"), bits = 16).as("sh")),
    Some(s"""WITH t AS (SELECT doc_id, $wordsSql AS words FROM documents),
        hh AS (SELECT doc_id, [${phSql("w")} for w in words] AS hs FROM t)
        SELECT doc_id, $simhashTermsSql AS sh FROM hh"""))

  /** SimHash banded near-dup candidate pairs over the near-dup corpus:
    * hamming ≤ 3 within 4-bit bands of the 16-bit fingerprint.
    */
  private val l9b = Spec("q70_dedup_simhash_pairs",
    // 16-bit polyhash fingerprint so the oracle stays ANSI-computable; the
    // production default is bits=64 over xxhash64 token hashes (2^16
    // buckets per band instead of 16 — see Dedup.simhashCandidates). The
    // maxBucket hot-key guard is mirrored into the oracle's window filter.
    (s, d) => Dedup.simhashCandidates(nearDupCorpus(s, d), "doc_id", "text",
      bits = 16, bands = 4, maxHamming = 3, maxBucket = 1000,
      tokenHashesFn = Dedup.tokenHashesPoly),
    Some(s"""WITH corpus AS ($nearDupCorpusSql),
        t AS (SELECT doc_id, $wordsSql AS words FROM corpus),
        hh AS (SELECT doc_id, [${phSql("w")} for w in words] AS hs FROM t),
        shf AS (SELECT doc_id, $simhashTermsSql AS sh FROM hh),
        banded0 AS (SELECT doc_id, sh, b, (sh >> (b*4)) & 15 AS slice
          FROM shf CROSS JOIN (SELECT unnest(range(4)) AS b)),
        banded AS (SELECT doc_id, sh, b, slice FROM (SELECT *,
          count(*) OVER (PARTITION BY b, slice) AS bucket_n FROM banded0)
          WHERE bucket_n <= 1000),
        pairs AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b,
          bit_count(CAST(xor(x.sh, y.sh) AS BIGINT)) AS hamming
          FROM banded x JOIN banded y ON x.b = y.b AND x.slice = y.slice
          WHERE x.doc_id < y.doc_id)
        SELECT doc_a, doc_b, CAST(hamming AS INTEGER) AS hamming FROM pairs
        WHERE hamming <= 3"""))

  /** Exact n-gram Jaccard on adjacent-id pairs (the verification kernel). */
  private val l10 = Spec("q59_dedup_jaccard",
    (s, d) => {
      val sets = Dedup.shingleSets(T(s, d, "documents"), "doc_id", "text", 3)
      val a = sets.select(col("doc").as("doc_a"), col("hs").as("set_a"))
      val b = sets.select((col("doc") - 1).as("doc_a"), col("hs").as("set_b"))
      a.join(b, Seq("doc_a"))
        .select(col("doc_a"), Dedup.jaccard(col("set_a"), col("set_b")).as("jac"))
    },
    Some(s"""WITH t AS (SELECT doc_id, $wordsSql AS words FROM documents),
        sh AS (SELECT doc_id, ${shingleSql(3)} AS hs FROM t)
        SELECT a.doc_id AS doc_a,
          CASE WHEN len(list_distinct(a.hs || b.hs)) > 0 THEN
            CAST(len(list_filter(a.hs, x -> list_contains(b.hs, x))) AS DOUBLE)
              / CAST(len(list_distinct(a.hs || b.hs)) AS DOUBLE)
          ELSE CAST(0 AS DOUBLE) END AS jac
        FROM sh a JOIN sh b ON b.doc_id = a.doc_id + 1"""))

  /** Full fuzzy-dup chain (LSH candidates → exact-Jaccard verify) over the
    * near-dup corpus — q57's banded-LSH stage composed with q59's exact
    * verification, oracle'd end-to-end.
    */
  private val l11 = Spec("q60_dedup_fuzzy_verified",
    (s, d) => Dedup.fuzzyDuplicates(nearDupCorpus(s, d), "doc_id", "text",
      shingleWidth = 3, k = 16, bands = 4, minJaccard = 0.2),
    Some {
      s"""WITH $lshCtes,
          cands AS (SELECT doc_a, doc_b FROM pairs
            WHERE est_jaccard >= CAST(0.3 AS DOUBLE))
          SELECT c.doc_a, c.doc_b,
            CASE WHEN len(list_distinct(a.hs || b.hs)) > 0 THEN
              CAST(len(list_filter(a.hs, x -> list_contains(b.hs, x))) AS DOUBLE)
                / CAST(len(list_distinct(a.hs || b.hs)) AS DOUBLE)
            ELSE CAST(0 AS DOUBLE) END AS jaccard
          FROM cands c JOIN sh a ON a.doc_id = c.doc_a
            JOIN sh b ON b.doc_id = c.doc_b
          WHERE CASE WHEN len(list_distinct(a.hs || b.hs)) > 0 THEN
              CAST(len(list_filter(a.hs, x -> list_contains(b.hs, x))) AS DOUBLE)
                / CAST(len(list_distinct(a.hs || b.hs)) AS DOUBLE)
            ELSE CAST(0 AS DOUBLE) END >= CAST(0.2 AS DOUBLE)"""
    })

  private val dotSql =
    "list_reduce(list_transform(list_zip(%s, %s), " +
      "x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)), (a,b) -> a+b)"
  private def dot2(a: String, b: String): String = dotSql.format(a, b)

  /** Cosine between two array expressions — the ONE copy of the
    * dot/(‖a‖·‖b‖) composition every vector-run oracle uses (a drifted
    * copy would silently red only its query's gate; see the fragment
    * rule above). */
  private def cosSql(a: String, b: String): String =
    s"${dot2(a, b)} / (sqrt(${dot2(a, a)}) * sqrt(${dot2(b, b)}))"

  /** Brute-force cosine top-k (k=5) for the first 8 query vectors. */
  private val l12 = Spec("q61_sim_bruteforce_topk",
    (s, d) => {
      val emb = T(s, d, "embeddings")
      Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") < 8),
        "vec_id", "embedding", "vec_id", 5)
        .select(col("query_id"), col("neighbor_id"), col("rank"),
          round(col("cos"), 6).as("cos"))
    },
    Some(s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qv
          FROM embeddings WHERE vec_id < 8),
        s AS (SELECT q.query_id, c.vec_id AS neighbor_id,
          ${cosSql("q.qv", "c.embedding")}
          AS cos FROM q CROSS JOIN embeddings c),
        r AS (SELECT *, row_number() OVER (PARTITION BY query_id
          ORDER BY cos DESC, neighbor_id) AS rank FROM s)
        SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank,
          round(cos, 6) AS cos FROM r WHERE rank <= 5"""))

  /** LSH-bucketed ANN top-k (k=3): sign-pattern buckets against 4
    * data-derived anchor hyperplanes (vectors 0..3).
    */
  private val l13 = Spec("q62_sim_ann_lsh",
    (s, d) => {
      val emb = T(s, d, "embeddings")
      // the gate PINS 4 anchor planes so Spark and the oracle agree at
      // every SF (the corpus-scaled anchorCount(N) choice would diverge
      // from the oracle's fixed vec_id 0..3 list beyond the gate corpus);
      // the log(N) autoAnchors sizing is spec-tested separately in LlmSpec
      val anchors = Similarity.firstVectors(emb, "vec_id", "embedding", 4)
      Similarity.annTopK(emb, emb.filter(col("vec_id").between(100, 107)),
        "vec_id", "embedding", "vec_id", 3, anchors)
        .select(col("query_id"), col("neighbor_id"), col("rank"),
          round(col("cos"), 6).as("cos"))
    },
    Some {
      val bucket = (0 until 4).map { j =>
        val anchor = s"(SELECT embedding FROM embeddings WHERE vec_id = $j)"
        s"(CASE WHEN ${dot2("v.embedding", anchor)} > 0 " +
          s"THEN CAST(${1L << j} AS BIGINT) ELSE CAST(0 AS BIGINT) END)"
      }.mkString(" + ")
      s"""WITH cb AS (SELECT $bucket AS bucket, v.vec_id AS neighbor_id,
            v.embedding AS cvec FROM embeddings v),
          qb AS (SELECT $bucket AS bucket, v.vec_id AS query_id,
            v.embedding AS qvec FROM embeddings v
            WHERE v.vec_id BETWEEN 100 AND 107),
          s AS (SELECT qb.query_id, cb.neighbor_id,
            ${cosSql("qb.qvec", "cb.cvec")}
            AS cos FROM cb JOIN qb ON cb.bucket = qb.bucket),
          r AS (SELECT *, row_number() OVER (PARTITION BY query_id
            ORDER BY cos DESC, neighbor_id) AS rank FROM s)
          SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank,
            round(cos, 6) AS cos FROM r WHERE rank <= 3"""
    })

  /** Multimodal attach: payload + typed metadata + stub feature decode.
    * Gate shape: the stub feature vector is pos-exploded to scalar rows —
    * each element is an exact rational k/997 computed identically as a
    * double divide on both engines (see q25's comment in [[Queries]]).
    */
  private val l14 = Spec("q63_mm_attach",
    (s, d) => T(s, d, "documents")
      .withColumn("mm", Multimodal.attach(col("text").cast("binary"),
        lit("text"), polyhash(col("text"))))
      .select(col("doc_id"), col("mm.meta.modality").as("modality"),
        col("mm.meta.byte_len").as("byte_len"), col("mm.meta.width").as("width"),
        col("mm.meta.height").as("height"), col("mm.meta.n_frames").as("n_frames"),
        posexplode(Multimodal.decodeStub(polyhash(col("text")), 8)))
      .withColumnRenamed("col", "feature"),
    Some(s"""WITH t AS (SELECT doc_id, text, ${phSql("text")} AS h FROM documents)
        SELECT doc_id, 'text' AS modality,
          CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS byte_len,
          CAST(h % 1280 + 64 AS INTEGER) AS width,
          CAST(h % 720 + 64 AS INTEGER) AS height,
          CAST(h % 240 + 1 AS INTEGER) AS n_frames,
          CAST(i.i AS INT) AS pos,
          CAST((h*(i.i+1)) % 997 AS DOUBLE) / CAST(997 AS DOUBLE) AS feature
        FROM t CROSS JOIN (SELECT unnest(range(8)) AS i) i"""))

  /** Multimodal frame sampling (4 evenly-spaced frames per doc). */
  private val l15 = Spec("q64_mm_frame_sample",
    (s, d) => {
      val withMm = T(s, d, "documents")
        .withColumn("mm", Multimodal.attach(col("text").cast("binary"),
          lit("video"), polyhash(col("text"))))
      Multimodal.sampleFrames(withMm, "mm", 4)
        .select(col("doc_id"), col("mm.meta.n_frames").as("n_frames"),
          col("frame_idx"))
    },
    Some(s"""WITH t AS (SELECT doc_id,
          CAST(${phSql("text")} % 240 + 1 AS INTEGER) AS n_frames FROM documents)
        SELECT doc_id, n_frames,
          unnest([CAST(floor(i * n_frames / CAST(4 AS DOUBLE)) AS INTEGER)
            for i in range(4)]) AS frame_idx FROM t"""))

  /** Near-dup-injected embedding corpus: every 100th vector re-added
    * verbatim (id+10^6) and every 170th re-added with element 0 shifted by
    * +0.25 (id+2·10^6) — guaranteed cosine-near-dup targets, mirroring the
    * text fixtures' `nearDupCorpus` approach (random 64-dim vectors never
    * clear cos 0.5 on their own, so an uninjected fixture passes on the
    * empty set and proves nothing). Everything runs in double on both
    * sides: float→double widening and the +0.25 shift are exact.
    */
  private def nearDupEmb(s: SparkSession, d: String): DataFrame =
    Pins.memo(s, d, "nearDupEmb") {
      val emb = T(s, d, "embeddings").select(col("vec_id"),
        col("embedding").cast("array<double>").as("embedding"))
      val exact = emb.filter(col("vec_id") % 100 === 0)
        .select((col("vec_id") + 1000000L).as("vec_id"), col("embedding"))
      val pert = emb.filter(col("vec_id") % 170 === 0)
        .select((col("vec_id") + 2000000L).as("vec_id"),
          concat(array(element_at(col("embedding"), 1) + lit(0.25d)),
            slice(col("embedding"), lit(2), size(col("embedding")) - 1))
            .as("embedding"))
      Pins.pin(emb.unionByName(exact).unionByName(pert))
    }

  /** The q129/q230 shared PQ codebook (m=2 subspaces over the label
    * groups) — m×k rows, trivially checkpointable.
    */
  private def pqLabelCodebooks(s: SparkSession, d: String): DataFrame =
    Pins.memo(s, d, "pqCodebooks")(
      Pins.pin(Similarity.pqCodebooks(T(s, d, "embeddings"), "embedding",
        "label", m = 2, dim = 64)))
  private val nearDupEmbSql =
    """SELECT vec_id, CAST(embedding AS DOUBLE[]) AS embedding
         FROM embeddings
       UNION ALL SELECT vec_id + 1000000, CAST(embedding AS DOUBLE[])
         FROM embeddings WHERE vec_id % 100 = 0
       UNION ALL SELECT vec_id + 2000000,
         list_concat([CAST(embedding[1] AS DOUBLE) + 0.25],
           CAST(embedding[2:] AS DOUBLE[]))
         FROM embeddings WHERE vec_id % 170 = 0"""

  /** Embedding-cosine near-dup pairs within sign-LSH buckets, over the
    * injection fixture — non-empty output at every gate SF (an exact copy
    * always lands in its original's bucket and scores cos ≈ 1).
    */
  private val l16 = Spec("q65_embed_near_dup",
    (s, d) => {
      val corpus = nearDupEmb(s, d)
      // 4 PINNED anchor planes (see q62's comment on oracle/SF agreement);
      // the maxBucket hot-key guard is mirrored into the oracle's window
      // filter exactly as in q57/q70
      val anchors = Similarity.firstVectors(corpus, "vec_id", "embedding", 4)
      Similarity.cosineNearDups(corpus, "vec_id", "embedding", anchors, 0.5,
        maxBucket = 1000)
        .select(col("id_a"), col("id_b"), round(col("cos"), 6).as("cos"))
    },
    Some {
      val bucket = (0 until 4).map { j =>
        val anchor = s"(SELECT embedding FROM corpus WHERE vec_id = $j)"
        s"(CASE WHEN ${dot2("v.embedding", anchor)} > 0 " +
          s"THEN CAST(${1L << j} AS BIGINT) ELSE CAST(0 AS BIGINT) END)"
      }.mkString(" + ")
      s"""WITH corpus AS ($nearDupEmbSql),
          b0 AS (SELECT $bucket AS bucket, v.vec_id AS id,
            v.embedding AS vec FROM corpus v),
          b AS (SELECT bucket, id, vec FROM (SELECT *,
            count(*) OVER (PARTITION BY bucket) AS bucket_n FROM b0)
            WHERE bucket_n <= 1000),
          p AS (SELECT x.id AS id_a, y.id AS id_b,
            ${cosSql("x.vec", "y.vec")}
            AS cos FROM b x JOIN b y ON x.bucket = y.bucket AND x.id < y.id)
          SELECT id_a, id_b, round(cos, 6) AS cos FROM p
          WHERE cos >= CAST(0.5 AS DOUBLE)"""
    })

  /** IVF ANN (KMeans coarse quantizer, nprobe cells searched). The gate
    * variant probes ALL cells (`nprobe = nCells`), which reproduces brute
    * force exactly — every (query, corpus) pair is scored with the same
    * sequential-fold cosine and the same (cos DESC, id) tie-break — so the
    * q61 brute-force oracle applies verbatim while still exercising the
    * full quantizer train/assign/probe machinery. The nprobe < nCells
    * recall dial stays in the API and is spec-tested in LlmSpec.
    */
  private val l17 = Spec("q68_sim_ivf_topk",
    (s, d) => {
      val emb = T(s, d, "embeddings")
      // full-probe results are provably invariant to the quantizer
      // (LlmSpec asserts it), so the gate trains on a 20% sample for 2
      // iterations — the KMeans fit was this query's dominant cost. The
      // `prefit` parameter decouples training entirely for repeated
      // searches (fitQuantizer once, search per batch).
      Similarity.ivfTopK(emb, emb.filter(col("vec_id") < 8), "vec_id",
        "embedding", "vec_id", k = 5, nCells = 8, nprobe = 8,
        trainFraction = 0.2, maxIter = 2, initMode = "random")
        .select(col("query_id"), col("neighbor_id"), col("rank"),
          round(col("cos"), 6).as("cos"))
    },
    Some(s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qv
          FROM embeddings WHERE vec_id < 8),
        s AS (SELECT q.query_id, c.vec_id AS neighbor_id,
          ${cosSql("q.qv", "c.embedding")}
          AS cos FROM q CROSS JOIN embeddings c),
        r AS (SELECT *, row_number() OVER (PARTITION BY query_id
          ORDER BY cos DESC, neighbor_id) AS rank FROM s)
        SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank,
          round(cos, 6) AS cos FROM r WHERE rank <= 5"""))

  /** PII scrub over a corpus with deterministically-injected PII (every
    * 2nd doc an email, 3rd a phone, 5th an IPv4 — so counts vary and the
    * pattern interplay is exercised): redacted text + per-category counts.
    */
  private val l19 = Spec("q74_text_pii_redact",
    (s, d) => {
      val did = col("doc_id")
      val aug = concat(col("text"),
        when(did % 2 === 0, concat(lit(" contact user"),
          did.cast("string"), lit("@example.com"))).otherwise(lit("")),
        when(did % 3 === 0, concat(lit(" tel +1-555-"),
          lpad((did % 1000).cast("string"), 3, "0"), lit("-"),
          lpad((did % 10000).cast("string"), 4, "0"))).otherwise(lit("")),
        when(did % 5 === 0, concat(lit(" srv 10.0."),
          (did % 256).cast("string"), lit("."),
          (did % 100).cast("string"))).otherwise(lit("")))
      val staged = T(s, d, "documents").select(col("doc_id"), aug.as("aug"))
      staged.select(col("doc_id") +:
        Text.redactPii(col("aug")).as("clean") +:
        Text.piiCounts(col("aug")).map { case (n, c) => c.as(n) }: _*)
    },
    Some {
      val Seq(email, phone, ipv4) = Text.piiPatterns.map(_._2)
      s"""WITH aug AS (SELECT doc_id, text ||
          CASE WHEN doc_id % 2 = 0
            THEN ' contact user' || doc_id || '@example.com' ELSE '' END ||
          CASE WHEN doc_id % 3 = 0
            THEN ' tel +1-555-' || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0')
              || '-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
            ELSE '' END ||
          CASE WHEN doc_id % 5 = 0
            THEN ' srv 10.0.' || (doc_id % 256) || '.' || (doc_id % 100)
            ELSE '' END AS aug FROM documents),
        r1 AS (SELECT doc_id, aug,
          regexp_replace(aug, '$email', '<email>', 'g') AS t1 FROM aug),
        r2 AS (SELECT *, regexp_replace(t1, '$phone', '<phone>', 'g') AS t2
          FROM r1)
        SELECT doc_id, regexp_replace(t2, '$ipv4', '<ipv4>', 'g') AS clean,
          CAST(len(regexp_extract_all(aug, '$email')) AS INT) AS n_email,
          CAST(len(regexp_extract_all(t1, '$phone')) AS INT) AS n_phone,
          CAST(len(regexp_extract_all(t2, '$ipv4')) AS INT) AS n_ipv4
        FROM r2"""
    })

  /** Gopher-style repetition metrics: duplicate-word fraction and top
    * bigram fraction — per-doc array math, shuffle-free over the corpus.
    */
  private val l20 = Spec("q75_text_repetition",
    (s, d) => {
      val staged = T(s, d, "documents")
        .select(col("doc_id"), Text.tokens(col("text")).as("toks"))
      staged.select(col("doc_id"),
        Text.dupTokenFraction(col("toks")).as("dup_word_frac"),
        Text.topNgramFractionFromTokens(col("toks"), 2).as("top_bigram_frac"))
    },
    Some(s"""WITH t AS (SELECT doc_id, $wordsSql AS words FROM documents),
        g AS (SELECT doc_id, words,
          [array_to_string(words[i+1:i+2], ' ') for i in
            range(CASE WHEN len(words) >= 2 THEN len(words)-1 ELSE 0 END)]
          AS g2 FROM t)
        SELECT doc_id,
          CASE WHEN len(words) > 0 THEN CAST(1 AS DOUBLE) -
            CAST(len(list_distinct(words)) AS DOUBLE) /
            CAST(len(words) AS DOUBLE) ELSE CAST(0 AS DOUBLE) END
            AS dup_word_frac,
          CASE WHEN len(g2) > 0 THEN
            CAST(list_max(list_transform(list_distinct(g2),
              x -> len(list_filter(g2, y -> y = x)))) AS DOUBLE) /
            CAST(len(g2) AS DOUBLE) ELSE CAST(0 AS DOUBLE) END
            AS top_bigram_frac
        FROM g"""))

  /** Unit-normalization of the embedding column, pos-exploded to the
    * scalar gate shape (dim = 64). Norm staged once per row.
    */
  private val l21 = Spec("q76_embed_normalize",
    (s, d) => T(s, d, "embeddings")
      .select(col("vec_id"), col("embedding"),
        Similarity.norm(col("embedding")).as("nrm"))
      .select(col("vec_id"),
        posexplode(Similarity.normalizeFromNorm(col("embedding"), col("nrm"))))
      .withColumnRenamed("col", "nval"),
    Some(s"""WITH n AS (SELECT vec_id, embedding,
          sqrt(${dot2("embedding", "embedding")}) AS nrm FROM embeddings)
        SELECT vec_id, CAST(i.i AS INT) AS pos,
          CASE WHEN nrm > 0
            THEN CAST(embedding[CAST(i.i AS INT) + 1] AS DOUBLE) / nrm
            ELSE CAST(embedding[CAST(i.i AS INT) + 1] AS DOUBLE) END AS nval
        FROM n CROSS JOIN (SELECT unnest(range(64)) AS i) i"""))

  /** Symmetric int8 quantize + dequantize round trip (dim = 64): the
    * 4×-compression candidate-stage representation with its
    * reconstruction, floor(x+0.5) rounding on both engines.
    */
  private val l22 = Spec("q77_embed_quantize_int8",
    (s, d) => T(s, d, "embeddings")
      .select(col("vec_id"), col("embedding"),
        Similarity.absMax(col("embedding")).as("ma"))
      .select(col("vec_id"), col("ma"),
        posexplode(Similarity.quantizeInt8(col("embedding"), col("ma"))))
      .withColumnRenamed("col", "q")
      .select(col("vec_id"), col("pos"), col("q"),
        Similarity.dequantizeInt8(col("q"), col("ma")).as("dq")),
    Some(s"""WITH m AS (SELECT vec_id, embedding,
          list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE))))
            AS ma FROM embeddings),
        e AS (SELECT vec_id, ma, CAST(i.i AS INT) AS pos,
          CAST(embedding[CAST(i.i AS INT) + 1] AS DOUBLE) AS x
          FROM m CROSS JOIN (SELECT unnest(range(64)) AS i) i),
        qq AS (SELECT vec_id, ma, pos,
          CAST(CASE WHEN ma > 0
            THEN floor(x * CAST(127 AS DOUBLE) / ma + CAST(0.5 AS DOUBLE))
            ELSE 0 END AS INT) AS q FROM e)
        SELECT vec_id, pos, q,
          CAST(q AS DOUBLE) * ma / CAST(127 AS DOUBLE) AS dq FROM qq"""))

  /** Quantized-candidate + exact-rerank retrieval (candK=20 → k=5) for
    * the first 8 query vectors — int8 scan, float rerank, end-to-end
    * deterministic (see Similarity.quantizedRerankTopK).
    */
  private val l23 = Spec("q78_sim_quantized_rerank",
    (s, d) => {
      val emb = T(s, d, "embeddings")
      Similarity.quantizedRerankTopK(emb, emb.filter(col("vec_id") < 8),
        "vec_id", "embedding", "vec_id", k = 5, candK = 20)
        .select(col("query_id"), col("neighbor_id"), col("rank"),
          round(col("cos"), 6).as("cos"))
    },
    Some {
      val intDot = "list_reduce(list_prepend(CAST(0 AS BIGINT), " +
        "list_transform(list_zip(%s, %s), p -> p[1]*p[2])), (x,y) -> x+y)"
      s"""WITH base AS (SELECT vec_id, embedding,
            sqrt(${dot2("embedding", "embedding")}) AS nrm FROM embeddings),
          nv AS (SELECT vec_id, CASE WHEN nrm > 0
            THEN list_transform(embedding, x -> CAST(x AS DOUBLE) / nrm)
            ELSE list_transform(embedding, x -> CAST(x AS DOUBLE)) END AS nvec
            FROM base),
          mq AS (SELECT vec_id, nvec,
            list_max(list_transform(nvec, x -> abs(x))) AS ma FROM nv),
          qz AS (SELECT vec_id, nvec, ma, CASE WHEN ma > 0
            THEN list_transform(nvec, x -> CAST(floor(
              x * CAST(127 AS DOUBLE) / ma + CAST(0.5 AS DOUBLE)) AS BIGINT))
            ELSE list_transform(nvec, x -> CAST(0 AS BIGINT)) END AS q8
            FROM mq),
          cand0 AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
            q.nvec AS qn, c.nvec AS cn,
            CAST(${intDot.format("q.q8", "c.q8")} AS DOUBLE)
              * q.ma * c.ma / CAST(16129 AS DOUBLE) AS approx
            FROM qz q CROSS JOIN qz c WHERE q.vec_id < 8),
          cand AS (SELECT *, row_number() OVER (PARTITION BY query_id
            ORDER BY approx DESC, neighbor_id) AS crank FROM cand0),
          rr AS (SELECT query_id, neighbor_id,
            ${dot2("qn", "cn")} AS cos FROM cand WHERE crank <= 20),
          fin AS (SELECT query_id, neighbor_id, cos, row_number() OVER
            (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
            FROM rr)
          SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank,
            round(cos, 6) AS cos FROM fin WHERE rank <= 5"""
    })

  /** Deterministic content-hash train/val/holdout split (90/5/5). */
  private val l24 = Spec("q79_text_hash_split",
    (s, d) => T(s, d, "documents").select(col("doc_id"),
      Text.hashSplit(col("text"),
        Seq("train" -> 90, "val" -> 5, "holdout" -> 5)).as("split")),
    // leading IS NULL arm: Spark's hashSplit propagates a NULL key to a
    // NULL split, while a bare CASE would fall through NULL comparisons
    // to the ELSE arm — divergent on any future null-text fixture
    Some(s"SELECT doc_id, $hashSplitCaseSql AS split FROM documents"))

  /** Corpus quality report: per predicted language, doc count + mean
    * quality + mean token count — the end-of-pipeline summary every
    * curation run emits. One staged projection then one aggregate.
    */
  private val l25 = Spec("q80_text_corpus_report",
    (s, d) => {
      val staged = T(s, d, "documents").select(col("doc_id"), col("text"),
        Text.tokens(col("text")).as("toks"))
      staged.select(
        Text.langIdFromTokens(col("toks")).as("lang_pred"),
        Text.qualityScoreFromTokens(col("text"), col("toks")).as("q"),
        size(col("toks")).as("nt"))
        .groupBy(col("lang_pred"))
        .agg(count(lit(1)).as("n_docs"),
          round(avg(col("q")), 6).as("mean_quality"),
          round(avg(col("nt")), 6).as("mean_tokens"))
    },
    Some(s"""WITH t AS (SELECT doc_id, text, $wordsSql AS words
            FROM documents),
          ${qualityCtesSql("t", "")},
          lang AS (SELECT doc_id, $langCountsSql FROM t),
          lp AS (SELECT doc_id, $langCaseSql AS lang_pred FROM lang)
          SELECT lp.lang_pred, count(*) AS n_docs,
            round(avg(sc.q), 6) AS mean_quality,
            round(avg(sc.nt), 6) AS mean_tokens
          FROM lp JOIN sc USING (doc_id) GROUP BY lp.lang_pred"""))

  /** End-to-end corpus dedup: the near-dup corpus pruned to cluster
    * survivors (LSH pairs → connected components → anti-join) — the
    * operation a training pipeline actually ships.
    */
  private val l26 = Spec("q81_dedup_prune_corpus",
    (s, d) => Dedup.pruneDuplicates(nearDupCorpus(s, d), "doc_id",
        nearDupClusters(s, d))
      .select(col("doc_id")),
    Some(s"""WITH RECURSIVE $lshCtes,
        cand AS (SELECT doc_a, doc_b FROM pairs
          WHERE est_jaccard >= CAST(0.25 AS DOUBLE)),
        edges AS (SELECT doc_a AS s, doc_b AS d FROM cand
          UNION SELECT doc_b, doc_a FROM cand),
        nodes AS (SELECT DISTINCT s FROM edges),
        reach(s, d) AS (SELECT s, s FROM nodes
          UNION SELECT r.s, e.d FROM reach r JOIN edges e ON r.d = e.s),
        cl AS (SELECT s AS doc, min(d) AS cluster FROM reach GROUP BY s)
        SELECT doc_id FROM corpus WHERE doc_id NOT IN
          (SELECT doc FROM cl WHERE doc != cluster)"""))

  /** C4-style line-level cleaning (keep lines ending in terminal
    * punctuation with ≥3 words) over a corpus with deterministically
    * injected boilerplate: sentence breaks become line breaks, every 3rd
    * doc gains a nav-crumb line (no terminal punct) and every 4th a
    * too-short "Ok." line — so both drop rules fire.
    */
  private val l27 = Spec("q82_text_clean_lines",
    (s, d) => {
      val aug = concat(
        regexp_replace(col("text"), "\\. ", ".\n"),
        when(col("doc_id") % 3 === 0, lit("\nhome products contact"))
          .otherwise(lit("")),
        when(col("doc_id") % 4 === 0, lit("\nOk.")).otherwise(lit("")))
      // stage the split + filtered line arrays ONCE (interpreted HOFs get
      // no CSE — deriving each stat from the text would re-split and
      // re-filter per output column)
      val staged = T(s, d, "documents")
        .select(col("doc_id"), aug.as("t"))
        .select(col("doc_id"), split(col("t"), "\n").as("lines"),
          Text.keptLines(col("t"), minWords = 3).as("kept"))
      staged.select(col("doc_id") +:
        Text.lineStatsFromKept(col("lines"), col("kept")).map {
          case (n, c) => c.as(n) }: _*)
    },
    Some("""WITH aug AS (SELECT doc_id,
          regexp_replace(text, '\. ', '.' || chr(10), 'g') ||
          CASE WHEN doc_id % 3 = 0
            THEN chr(10) || 'home products contact' ELSE '' END ||
          CASE WHEN doc_id % 4 = 0 THEN chr(10) || 'Ok.' ELSE '' END AS t
          FROM documents),
        ls AS (SELECT doc_id, string_split(t, chr(10)) AS lines FROM aug),
        k AS (SELECT doc_id, lines, list_filter(lines, l ->
            (ends_with(rtrim(l), '.') OR ends_with(rtrim(l), '!') OR
             ends_with(rtrim(l), '?') OR ends_with(rtrim(l), '"'))
            AND len(list_filter(string_split(rtrim(l), ' '), w -> w != ''))
              >= 3) AS kept FROM ls)
        SELECT doc_id, CAST(len(lines) AS INT) AS n_lines,
          CAST(len(kept) AS INT) AS n_kept,
          coalesce(array_to_string(kept, chr(10)), '') AS clean FROM k"""))

  /** Unicode NFC normalization over a corpus with deterministically
    * injected combining sequences (every 2nd doc gains `e`+U+0301, every
    * 5th `A`+U+030A) — the canonical-equivalence fold a multilingual
    * corpus needs before content hashing. Char counts before/after show
    * exactly which rows composed.
    */
  private val l28 = Spec("q83_text_nfc_normalize",
    (s, d) => {
      // DECOMPOSED sequences injected (e + U+0301, A + U+030A) \u2014 NFC must
      // compose them; precomposed literals would make len_raw diverge.
      // Escapes, not raw combining marks: editors/formatters may silently
      // NFC-normalize source files, which would flip the fixture.
      val aug = concat(col("text"),
        when(col("doc_id") % 2 === 0, lit(" cafe\u0301")).otherwise(lit("")),
        when(col("doc_id") % 5 === 0, lit(" A\u030angstrom"))
          .otherwise(lit("")))
      T(s, d, "documents").select(col("doc_id"), aug.as("raw"))
        .select(col("doc_id"), length(col("raw")).as("len_raw"),
          Text.nfc(col("raw")).as("clean"))
        .select(col("doc_id"), col("len_raw"),
          length(col("clean")).as("len_nfc"), col("clean"))
    },
    Some("""WITH aug AS (SELECT doc_id, text ||
          CASE WHEN doc_id % 2 = 0 THEN ' cafe' || chr(769) ELSE '' END ||
          CASE WHEN doc_id % 5 = 0 THEN ' A' || chr(778) || 'ngstrom'
            ELSE '' END AS raw FROM documents)
        SELECT doc_id, CAST(length(raw) AS INT) AS len_raw,
          CAST(length(nfc_normalize(raw)) AS INT) AS len_nfc,
          nfc_normalize(raw) AS clean FROM aug"""))

  /** Corpus-wide top-25 trigram mining — repeated n-grams across documents
    * expose boilerplate templates no per-doc filter can see.
    */
  private val l29 = Spec("q84_text_top_ngrams",
    (s, d) => Text.topNgramsCorpus(T(s, d, "documents"), "text", 3, 25),
    Some(s"""WITH t AS (SELECT doc_id, $wordsSql AS words FROM documents),
        g AS (SELECT unnest([array_to_string(words[i+1:i+3], ' ') for i in
          range(CASE WHEN len(words) >= 3 THEN len(words)-2 ELSE 0 END)])
          AS gram FROM t),
        c AS (SELECT gram, count(*) AS n_occ FROM g GROUP BY gram),
        r AS (SELECT gram, n_occ, row_number() OVER
          (ORDER BY n_occ DESC, gram) AS rank FROM c)
        SELECT gram, n_occ, CAST(rank AS INT) AS rank FROM r
        WHERE rank <= 25"""))

  /** End-to-end curation pipeline — the composite a training-data run
    * actually ships, as ONE dataflow: dup-injected corpus → per-doc
    * features (lang ID, quality, token count) → quality gate → exact
    * dedup (md5 keep-min-id survivors) → content-hash train/val/holdout
    * split → per-(lang, split) report. Every stage is an operator already
    * oracle-proven alone (q52/q53/q55/q79/q80); this pins their
    * COMPOSITION end-to-end. Scale shape: two hash aggregates (dedup,
    * report) + one semi-join on doc_id against the survivor list (which is
    * corpus-sized, so a shuffle semi-join — NOT broadcast — is the shape
    * that survives 100 TB); the corpus shuffles only on content hash,
    * doc_id, and the ~15-key report.
    */
  private val l30 = Spec("q85_pipeline_curation",
    (s, d) => {
      val corpus = dupCorpus(s, d)
      val keep = Dedup.exact(corpus, "doc_id", "text")
        .select(col("keep_id").as("doc_id"))
      val staged = corpus.join(keep, Seq("doc_id"), "left_semi")
        .select(col("doc_id"), col("text"), Text.tokens(col("text")).as("toks"))
      staged
        .select(col("doc_id"),
          Text.langIdFromTokens(col("toks")).as("lang_pred"),
          Text.qualityScoreFromTokens(col("text"), col("toks")).as("q"),
          size(col("toks")).as("nt"),
          Text.hashSplit(col("text"),
            Seq("train" -> 90, "val" -> 5, "holdout" -> 5)).as("split"))
        .filter(col("q") >= 0.3)
        .groupBy(col("lang_pred"), col("split"))
        .agg(count(lit(1)).as("n_docs"),
          round(avg(col("q")), 6).as("mean_quality"),
          round(avg(col("nt")), 6).as("mean_tokens"))
    },
    Some(s"""WITH corpus AS ($dupCorpusSql),
          keep AS (SELECT min(doc_id) AS doc_id FROM corpus GROUP BY md5(text)),
          t AS (SELECT doc_id, text, $wordsSql AS words FROM corpus
            WHERE doc_id IN (SELECT doc_id FROM keep)),
          ${qualityCtesSql("t", ", text")},
          lang AS (SELECT doc_id, $langCountsSql FROM t),
          lp AS (SELECT doc_id, $langCaseSql AS lang_pred FROM lang),
          sp AS (SELECT doc_id, $hashSplitCaseSql AS split FROM sc)
          SELECT lp.lang_pred, sp.split, count(*) AS n_docs,
            round(avg(sc.q), 6) AS mean_quality,
            round(avg(sc.nt), 6) AS mean_tokens
          FROM lp JOIN sc USING (doc_id) JOIN sp USING (doc_id)
          WHERE sc.q >= CAST(0.3 AS DOUBLE)
          GROUP BY lp.lang_pred, sp.split"""))

  /** Cross-document line-level dedup (C4-style: drop any line occurring
    * ≥2 times across the WHOLE corpus) over a corpus with deterministically
    * injected shared boilerplate: sentence breaks become line breaks, every
    * 3rd doc gains a newsletter plug and every 4th a rights notice — lines
    * that repeat across ~⅓/¼ of the corpus and must vanish from ALL of it,
    * which no per-document filter can do.
    */
  private val l31 = Spec("q86_dedup_lines_corpus",
    (s, d) => {
      val aug = T(s, d, "documents").select(col("doc_id"),
        concat(
          regexp_replace(col("text"), "\\. ", ".\n"),
          when(col("doc_id") % 3 === 0,
            lit("\nsubscribe to our newsletter today.")).otherwise(lit("")),
          when(col("doc_id") % 4 === 0, lit("\nall rights reserved."))
            .otherwise(lit(""))).as("text"))
      graft.llm.Curation.dedupLinesAcrossCorpus(aug, "doc_id", "text",
        minCount = 2)
    },
    Some("""WITH aug AS (SELECT doc_id,
          regexp_replace(text, '\. ', '.' || chr(10), 'g') ||
          CASE WHEN doc_id % 3 = 0
            THEN chr(10) || 'subscribe to our newsletter today.' ELSE '' END ||
          CASE WHEN doc_id % 4 = 0 THEN chr(10) || 'all rights reserved.'
            ELSE '' END AS text FROM documents),
        ls AS (SELECT doc_id, string_split(text, chr(10)) AS lines FROM aug),
        ex AS (SELECT doc_id, unnest([{'pos': i, 'line': lines[i+1]}
          for i in range(len(lines))], recursive := true) FROM ls),
        rep AS (SELECT line FROM ex GROUP BY line HAVING count(*) >= 2),
        kept AS (SELECT doc_id, pos, line FROM ex
          WHERE line NOT IN (SELECT line FROM rep)),
        pk AS (SELECT doc_id, count(*) AS n_kept,
          array_to_string(list(line ORDER BY pos), chr(10)) AS clean
          FROM kept GROUP BY doc_id)
        SELECT l.doc_id, CAST(len(l.lines) AS INT) AS n_lines,
          CAST(coalesce(pk.n_kept, 0) AS INT) AS n_kept,
          CAST(len(l.lines) - coalesce(pk.n_kept, 0) AS INT) AS n_dropped,
          coalesce(pk.clean, '') AS clean
        FROM ls l LEFT JOIN pk ON l.doc_id = pk.doc_id"""))

  /** Benchmark decontamination: per-doc 5-gram overlap against an eval set
    * drawn from the corpus itself (every 53rd doc), so contamination is
    * guaranteed for the eval docs and any doc sharing a 5-gram with them —
    * the GPT-3/Gopher pre-training hygiene pass as one broadcast semi-join.
    */
  private val l32 = Spec("q87_decontaminate",
    (s, d) => {
      val docs = T(s, d, "documents").select(col("doc_id"), col("text"))
      graft.llm.Curation.contaminationReport(docs,
        docs.filter(col("doc_id") % 53 === 0), "doc_id", "text", n = 5)
    },
    Some(s"""WITH t AS (SELECT doc_id, $wordsSql AS words FROM documents),
        g AS (SELECT doc_id, [array_to_string(words[i+1:i+5], ' ') for i in
          range(CASE WHEN len(words) >= 5 THEN len(words)-4 ELSE 0 END)]
          AS grams FROM t),
        b AS (SELECT DISTINCT unnest(grams) AS gram FROM g
          WHERE doc_id % 53 = 0),
        ex AS (SELECT doc_id, unnest(grams) AS gram FROM g),
        hit AS (SELECT doc_id, count(*) AS n_hit FROM ex
          WHERE gram IN (SELECT gram FROM b) GROUP BY doc_id)
        SELECT g.doc_id, CAST(len(g.grams) AS INT) AS n_grams,
          CAST(coalesce(h.n_hit, 0) AS INT) AS n_hit,
          coalesce(h.n_hit, 0) > 0 AS contaminated
        FROM g LEFT JOIN hit h ON g.doc_id = h.doc_id"""))

  /** Data-mixing cap: at most 40 docs per predicted language, chosen in
    * content-hash order (deterministic and insertion-stable, unlike random
    * sampling or id order). The rank filter must compile to a
    * WindowGroupLimit partial top-k (pinned in LlmSpec) — with 5 language
    * keys over 100 TB a plain window would shuffle everything to 5 tasks.
    */
  private val l33 = Spec("q88_mix_cap_per_lang",
    (s, d) => {
      val staged = T(s, d, "documents")
        .select(col("doc_id"), col("text"),
          Text.tokens(col("text")).as("toks"))
        .select(col("doc_id"), col("text"),
          Text.langIdFromTokens(col("toks")).as("lang_pred"))
      graft.llm.Curation.capPerGroupByContent(staged, "lang_pred", "doc_id",
        "text", cap = 40)
        .select(col("doc_id"), col("lang_pred"), col("rk"))
    },
    Some(s"""WITH t AS (SELECT doc_id, text, $wordsSql AS words
            FROM documents),
          c AS (SELECT doc_id, text, $langCountsSql FROM t),
          lp AS (SELECT doc_id, text, $langCaseSql AS lang_pred FROM c),
          r AS (SELECT doc_id, lang_pred, row_number() OVER
            (PARTITION BY lang_pred ORDER BY ${phSql("text")}, doc_id) AS rk
            FROM lp)
          SELECT doc_id, lang_pred, CAST(rk AS INT) AS rk FROM r
          WHERE rk <= 40"""))

  /** Source-level (domain) quality gate: sources whose rounded mean
    * quality < 0.585 are dropped wholesale — at sf0.01 that removes 6 of
    * 20 sources. The survivors list is the query face; the blocklist is
    * broadcast (see [[graft.llm.Curation.pruneLowQualitySources]]).
    */
  private val l34 = Spec("q89_prune_low_quality_sources",
    (s, d) => graft.llm.Curation.pruneLowQualitySources(
      T(s, d, "documents"), "text", "source",
      minMeanQuality = 0.585).select(col("doc_id"), col("source")),
    // NOT EXISTS, not NOT IN: a NULL source under NOT IN filters the row
    // (NULL comparison), while Spark's left_anti keeps null-key rows —
    // divergent on any future null-source fixture
    Some(s"""WITH t AS (SELECT doc_id, source, text, $wordsSql AS words
            FROM documents),
          ${qualityCtesSql("t", "")},
          sa AS (SELECT t.source, round(avg(sc.q), 6) AS mean_q
            FROM sc JOIN t USING (doc_id) GROUP BY t.source),
          bad AS (SELECT source FROM sa
            WHERE mean_q < CAST(0.585 AS DOUBLE))
          SELECT doc_id, source FROM documents d
          WHERE NOT EXISTS
            (SELECT 1 FROM bad WHERE bad.source = d.source)"""))

  /** Language-ID confusion matrix vs the fixture's gold `lang` column —
    * the classifier-QA readout (which languages the stopword heuristic
    * confuses, and how often it falls back to 'und').
    */
  private val l35 = Spec("q90_lang_id_confusion",
    (s, d) => graft.llm.Curation.langIdConfusion(
      T(s, d, "documents"), "text", "lang"),
    Some(s"""WITH t AS (SELECT doc_id, lang, $wordsSql AS words
            FROM documents),
          c AS (SELECT doc_id, lang, $langCountsSql FROM t),
          lp AS (SELECT lang AS lang_gold, $langCaseSql AS lang_pred FROM c)
          SELECT lang_gold, lang_pred, count(*) AS n_docs FROM lp
          GROUP BY lang_gold, lang_pred"""))

  /** Corpus-trained unigram log-prob scoring (the LM-perplexity proxy):
    * vocabulary from the corpus itself, mean ln p(token) per doc — with
    * the 100 TB broadcast bound ACTIVE: vocab capped at top-20 by
    * (count desc, token), out-of-vocab tokens contribute the ln(1e-9)
    * floor (the synthetic corpus has 31 distinct tokens, so the cap
    * leaves real OOV traffic at every SF). The floor literal is the
    * JVM-computed double rendered exactly into the oracle, so both
    * engines average the identical OOV constant.
    */
  private val l36 = Spec("q91_unigram_logprob",
    (s, d) => graft.llm.Curation.unigramLogProbScore(
      T(s, d, "documents"), "doc_id", "text", vocabTopK = Some(20)),
    Some(s"""WITH t AS (SELECT doc_id, $wordsSql AS words FROM documents),
          ex AS (SELECT doc_id, unnest(words) AS w FROM t),
          v AS (SELECT w, count(*) AS c FROM ex GROUP BY w),
          tot AS (SELECT sum(c) AS n FROM v),
          cv AS (SELECT w, c FROM (SELECT w, c, row_number() OVER
            (ORDER BY c DESC, w) AS rn FROM v) WHERE rn <= 20),
          s AS (SELECT doc_id, count(*) AS n_tokens,
            avg(CASE WHEN c IS NOT NULL
              THEN ln(CAST(c AS DOUBLE) / CAST(n AS DOUBLE))
              ELSE CAST(${math.log(1e-9)} AS DOUBLE) END) AS lp
            FROM ex LEFT JOIN cv USING (w) CROSS JOIN tot GROUP BY doc_id)
          SELECT t.doc_id, CAST(coalesce(s.n_tokens, 0) AS INT) AS n_tokens,
            round(s.lp, 6) AS mean_logp
          FROM t LEFT JOIN s ON t.doc_id = s.doc_id"""))

  /** k-NN label classification over the embedding space (k=10, first 16
    * vectors as queries): majority label of the cosine neighbors, ties to
    * the smaller label — the embedding-quality probe.
    */
  private val l37 = Spec("q92_knn_classify",
    (s, d) => {
      val emb = T(s, d, "embeddings")
      graft.llm.Similarity.knnClassify(emb, emb.filter(col("vec_id") < 16),
        "vec_id", "embedding", "label", "vec_id", k = 10)
    },
    Some(s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qv
            FROM embeddings WHERE vec_id < 16),
          s AS (SELECT q.query_id, c.vec_id AS neighbor_id, c.label,
            ${cosSql("q.qv", "c.embedding")} AS cos
            FROM q CROSS JOIN embeddings c),
          r AS (SELECT *, row_number() OVER (PARTITION BY query_id
            ORDER BY cos DESC, neighbor_id) AS rank FROM s),
          v AS (SELECT query_id, label, count(*) AS n_votes FROM r
            WHERE rank <= 10 GROUP BY query_id, label),
          w AS (SELECT *, row_number() OVER (PARTITION BY query_id
            ORDER BY n_votes DESC, label) AS vr FROM v)
          SELECT query_id, label AS pred_label,
            CAST(n_votes AS INT) AS n_votes FROM w WHERE vr = 1"""))

  /** Per-document TF-IDF top-3 characteristic terms (idf = ln(N/df)) —
    * sparse keyword extraction, the lexical dual of the embedding side.
    */
  private val l38 = Spec("q93_tfidf_top_terms",
    (s, d) => graft.llm.Lexical.tfIdfTopTerms(
      T(s, d, "documents"), "doc_id", "text", k = 3),
    Some(s"""WITH t AS (SELECT doc_id, $wordsSql AS words FROM documents),
          ex AS (SELECT doc_id, unnest(words) AS term FROM t),
          tf AS (SELECT doc_id, term, count(*) AS tf FROM ex
            GROUP BY doc_id, term),
          df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
          nn AS (SELECT count(*) AS n_docs FROM documents),
          sc AS (SELECT doc_id, term, round(tf * ln(CAST(n_docs AS DOUBLE)
              / CAST(df AS DOUBLE)), 6) AS tfidf
            FROM tf JOIN df USING (term) CROSS JOIN nn),
          r AS (SELECT *, row_number() OVER (PARTITION BY doc_id
            ORDER BY tfidf DESC, term) AS rank FROM sc)
          SELECT doc_id, term, CAST(rank AS INT) AS rank, tfidf
          FROM r WHERE rank <= 3"""))

  /** BM25 score CTE chain for the fixed 3-term gate query — ONE copy
    * (q94's result face, q95's lexical run); ends at `bmr` = ranked
    * 6-decimal-rounded scores. Ranking over the ROUNDED score mirrors
    * the Spark side: the raw score is an order-dependent float sum, and
    * a true tie sits exactly on the sf0.001 rank-20/21 boundary — the
    * doc_id tie-break must not depend on bit-identical summation order.
    * Every float constant is composed exactly as the Spark side composes
    * it (1.2 + 1, not a pre-folded 2.2) so the IEEE arithmetic matches
    * before the round.
    */
  private val bm25CtesSql =
    s"""t AS (SELECT doc_id, $wordsSql AS words FROM documents),
        lens AS (SELECT doc_id, CAST(len(words) AS DOUBLE) AS len FROM t),
        st AS (SELECT count(*) AS n_docs, avg(len) AS avg_len FROM lens),
        ex AS (SELECT doc_id, unnest(words) AS term FROM t),
        tf AS (SELECT doc_id, term, count(*) AS tf FROM ex
          WHERE term IN ('spark', 'window', 'merge')
          GROUP BY doc_id, term),
        df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
        sc AS (SELECT tf.doc_id, sum(
            ln(CAST(1 AS DOUBLE) + (n_docs - df + CAST(0.5 AS DOUBLE))
              / (df + CAST(0.5 AS DOUBLE)))
            * (tf * (CAST(1.2 AS DOUBLE) + CAST(1 AS DOUBLE)))
            / (tf + CAST(1.2 AS DOUBLE) * (CAST(0.25 AS DOUBLE)
              + CAST(0.75 AS DOUBLE) * len / avg_len))) AS score
          FROM tf JOIN df USING (term)
          JOIN lens ON tf.doc_id = lens.doc_id
          CROSS JOIN st GROUP BY tf.doc_id),
        bmr AS (SELECT doc_id, round(score, 6) AS score, row_number() OVER
          (ORDER BY round(score, 6) DESC, doc_id) AS rk FROM sc)"""

  private val l39 = Spec("q94_bm25_search",
    (s, d) => graft.llm.Lexical.bm25Search(T(s, d, "documents"), "doc_id",
      "text", Seq("spark", "window", "merge"), k = 20),
    Some(s"""WITH $bm25CtesSql
          SELECT doc_id, score FROM bmr WHERE rk <= 20"""))

  /** Hybrid retrieval: reciprocal-rank fusion of the BM25 lexical run and
    * a brute-force cosine vector run (query = vec 42), absent-run ranks
    * surfaced as -1 sentinels (a NULL int column lands as float64+NaN in
    * the driver's pandas comparator, and NaN != NaN). The fixture's
    * vec_id keys the same documents table rows by position.
    */
  private val l40 = Spec("q95_hybrid_rrf",
    (s, d) => {
      val lex = graft.llm.Lexical.bm25Search(T(s, d, "documents"), "doc_id",
        "text", Seq("spark", "window", "merge"), k = 20)
        // rank over the ROUNDED score (the run's public face) — 20 rows,
        // so the global window is a non-issue
        .withColumn("rank",
          row_number().over(Window.orderBy(col("score").desc, col("doc_id"))))
      val emb = T(s, d, "embeddings")
      val vec = graft.llm.Similarity.bruteForceTopK(emb,
        emb.filter(col("vec_id") === 42), "vec_id", "embedding", "vec_id",
        k = 20).select(col("neighbor_id").as("doc_id"), col("rank"))
      graft.llm.Lexical.rrfFuse(lex, vec, "doc_id", "rank", k0 = 60, k = 10)
        .select(col("doc_id"),
          coalesce(col("rank_a"), lit(-1)).as("rank_lex"),
          coalesce(col("rank_b"), lit(-1)).as("rank_vec"),
          col("rrf"))
    },
    Some(s"""WITH $bm25CtesSql,
          lexr AS (SELECT doc_id, score AS rs FROM bmr WHERE rk <= 20),
          lex AS (SELECT doc_id, CAST(row_number() OVER
            (ORDER BY rs DESC, doc_id) AS INT) AS rank_a FROM lexr),
          q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 42),
          vs AS (SELECT c.vec_id AS doc_id,
            ${cosSql("q.qv", "c.embedding")} AS cos
            FROM q CROSS JOIN embeddings c),
          vr AS (SELECT doc_id, CAST(row_number() OVER
            (ORDER BY cos DESC, doc_id) AS INT) AS rank_b FROM vs),
          vec AS (SELECT doc_id, rank_b FROM vr WHERE rank_b <= 20),
          fused AS (SELECT coalesce(lex.doc_id, vec.doc_id) AS doc_id,
            rank_a, rank_b,
            coalesce(CAST(1 AS DOUBLE) / (60 + rank_a), CAST(0 AS DOUBLE))
              + coalesce(CAST(1 AS DOUBLE) / (60 + rank_b),
                CAST(0 AS DOUBLE)) AS rrf
            FROM lex FULL OUTER JOIN vec ON lex.doc_id = vec.doc_id),
          top AS (SELECT *, row_number() OVER
            (ORDER BY rrf DESC, doc_id) AS fr FROM fused)
          SELECT doc_id, coalesce(rank_a, -1) AS rank_lex,
            coalesce(rank_b, -1) AS rank_vec, round(rrf, 6) AS rrf
          FROM top WHERE fr <= 10"""))

  /** ANN recall@k instrumentation: per-query recall of the sign-LSH
    * neighbor set (4 pinned anchor planes, as q62) against brute-force
    * ground truth at k=5 — the mechanism is already oracle-proven by
    * q61/q62; this measures the QUALITY dial a user tunes anchors by.
    * Both engines compute both retrievals and the intersection count, so
    * the gate pins the whole instrumentation chain, not just the ratio.
    */
  private val l41 = Spec("q98_ann_recall",
    (s, d) => {
      val emb = T(s, d, "embeddings")
      val queries = emb.filter(col("vec_id") < 8)
      val anchors = Similarity.firstVectors(emb, "vec_id", "embedding", 4)
      val truth = Similarity.bruteForceTopK(emb, queries, "vec_id",
        "embedding", "vec_id", 5)
      val approx = Similarity.annTopK(emb, queries, "vec_id", "embedding",
        "vec_id", 5, anchors)
      Similarity.recallAtK(truth, approx, "query_id", "neighbor_id", 5)
    },
    Some {
      val bucket = (0 until 4).map { j =>
        val anchor = s"(SELECT embedding FROM embeddings WHERE vec_id = $j)"
        s"(CASE WHEN ${dot2("v.embedding", anchor)} > 0 " +
          s"THEN CAST(${1L << j} AS BIGINT) ELSE CAST(0 AS BIGINT) END)"
      }.mkString(" + ")
      s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qv
            FROM embeddings WHERE vec_id < 8),
          bs AS (SELECT q.query_id, c.vec_id AS neighbor_id,
            ${cosSql("q.qv", "c.embedding")}
            AS cos FROM q CROSS JOIN embeddings c),
          br AS (SELECT *, row_number() OVER (PARTITION BY query_id
            ORDER BY cos DESC, neighbor_id) AS rank FROM bs),
          truth AS (SELECT query_id, neighbor_id FROM br WHERE rank <= 5),
          cb AS (SELECT $bucket AS bucket, v.vec_id AS neighbor_id,
            v.embedding AS cvec FROM embeddings v),
          qb AS (SELECT $bucket AS bucket, v.vec_id AS query_id,
            v.embedding AS qvec FROM embeddings v WHERE v.vec_id < 8),
          as0 AS (SELECT qb.query_id, cb.neighbor_id,
            ${cosSql("qb.qvec", "cb.cvec")}
            AS cos FROM cb JOIN qb ON cb.bucket = qb.bucket),
          ar AS (SELECT *, row_number() OVER (PARTITION BY query_id
            ORDER BY cos DESC, neighbor_id) AS rank FROM as0),
          approx AS (SELECT query_id, neighbor_id FROM ar WHERE rank <= 5),
          h AS (SELECT t.query_id, count(*) AS n_hits FROM truth t
            JOIN approx a ON t.query_id = a.query_id
              AND t.neighbor_id = a.neighbor_id
            GROUP BY 1)
          SELECT tq.query_id, CAST(coalesce(h.n_hits, 0) AS INT) AS n_hits,
            round(CAST(coalesce(h.n_hits, 0) AS DOUBLE)
              / CAST(5 AS DOUBLE), 6) AS recall
          FROM (SELECT DISTINCT query_id FROM truth) tq
          LEFT JOIN h ON tq.query_id = h.query_id"""
    })

  /** Fixed-token-window chunking with overlap (context 32, stride 24) —
    * the pre-tokenization shard step. Pure map-side: tokenize once,
    * codegen'd slice per chunk, no shuffle. The oracle mirrors the
    * ceil-division chunk count and the 1-based inclusive list slice.
    */
  private val l42 = Spec("q99_text_chunks",
    (s, d) => graft.llm.Shaping.chunkByTokens(T(s, d, "documents"),
      "doc_id", "text", chunkSize = 32, stride = 24)
      .select(col("doc_id"), col("chunk_id").cast("int").as("chunk_id"),
        col("n_tokens"), col("chunk_text")),
    Some(s"""WITH t AS (SELECT doc_id, $wordsSql AS words FROM documents),
        c AS (SELECT doc_id, words,
          CASE WHEN len(words) = 0 THEN 0
            ELSE 1 + (greatest(len(words) - 32, 0) + 23) // 24 END AS nchunks
          FROM t),
        e AS (SELECT doc_id, words, unnest(range(nchunks)) AS chunk_id FROM c)
        SELECT doc_id, CAST(chunk_id AS INT) AS chunk_id,
          CAST(len(words[chunk_id*24+1 : chunk_id*24+32]) AS INT) AS n_tokens,
          array_to_string(words[chunk_id*24+1 : chunk_id*24+32], ' ')
            AS chunk_text
        FROM e"""))

  /** Contiguous greedy sequence packing into 256-token bins per source
    * shard: one shuffle on the group key, one window cumsum — integer
    * arithmetic end to end, so the bin assignment is cross-engine exact.
    */
  private val l43 = Spec("q100_pack_sequences",
    (s, d) => graft.llm.Shaping.packSequences(T(s, d, "documents"),
      "doc_id", "text", "source", budgetTokens = 256),
    Some(s"""WITH t AS (SELECT source, doc_id,
          CAST(len($wordsSql) AS INT) AS n_tokens FROM documents),
        s AS (SELECT source, doc_id, n_tokens,
          coalesce(sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS strt
          FROM t)
        SELECT source, doc_id, n_tokens,
          CAST(strt // 256 AS BIGINT) AS bin FROM s"""))

  /** Deterministic stratified sampling to a per-language target mix:
    * content-hash permille gate (no RNG — reproducible under partition
    * retries and across engines; the q50-proven polyhash is the shared
    * primitive).
    */
  private val l44 = Spec("q101_stratified_sample",
    (s, d) => graft.llm.Shaping.stratifiedSample(
      T(s, d, "documents").select(col("doc_id"), col("lang"), col("text")),
      "text", "lang",
      permille = Seq("en" -> 600, "de" -> 400, "fr" -> 250, "es" -> 150),
      defaultPermille = 50)
      .select(col("doc_id"), col("lang")),
    Some(s"""SELECT doc_id, lang FROM documents
        WHERE ${phSql("text")} % 1000 <
          CASE lang WHEN 'en' THEN 600 WHEN 'de' THEN 400
            WHEN 'fr' THEN 250 WHEN 'es' THEN 150 ELSE 50 END"""))

  /** Sorted-neighborhood near-dup candidates over the near-dup corpus:
    * blocked SNM — 16-bit simhash sorted within 4-bit blocks, window 4,
    * hamming ≤ 3 — the third candidate family beside minhash-LSH (q57)
    * and simhash banding (q70), with its fixed (windowSize-1)·N candidate
    * budget. Production width is bits=64/blockBits=16.
    */
  /** SNM candidate CTE chain over the near-dup corpus (16-bit simhash,
    * 4-bit blocks, window 4), ending in `cand(doc_a, doc_b, hamming ≤ 3)`
    * — ONE copy shared by q103 and its edit-distance verify q117.
    */
  private val snmCtesSql: String = {
    val leads = (1 to 3).map(o =>
      s"lead(doc_id, $o) OVER w AS nd$o, lead(sh, $o) OVER w AS ns$o")
      .mkString(", ")
    val arms = (1 to 3).map(o =>
      s"""SELECT least(doc_id, nd$o) AS doc_a,
          greatest(doc_id, nd$o) AS doc_b,
          bit_count(CAST(xor(sh, ns$o) AS BIGINT)) AS hamming
          FROM ld WHERE nd$o IS NOT NULL""").mkString(" UNION ALL ")
    s"""corpus AS ($nearDupCorpusSql),
        t AS (SELECT doc_id, $wordsSql AS words FROM corpus),
        hh AS (SELECT doc_id, [${phSql("w")} for w in words] AS hs FROM t),
        shf AS (SELECT doc_id, $simhashTermsSql AS sh FROM hh),
        ld AS (SELECT doc_id, sh, $leads FROM shf
          WINDOW w AS (PARTITION BY sh >> 12 ORDER BY sh, doc_id)),
        pairs AS ($arms),
        cand AS (SELECT doc_a, doc_b, hamming FROM pairs
          WHERE hamming <= 3)"""
  }

  private val l45 = Spec("q103_dedup_snm_pairs",
    (s, d) => graft.llm.Dedup.sortedNeighborhoodPairs(nearDupCorpus(s, d),
      "doc_id", "text", bits = 16, blockBits = 4, windowSize = 4,
      maxHamming = 3, tokenHashesFn = graft.llm.Dedup.tokenHashesPoly),
    Some(s"""WITH $snmCtesSql
        SELECT doc_a, doc_b, CAST(hamming AS INTEGER) AS hamming
        FROM cand"""))

  /** Per-language quality quartiles (equal-frequency tiers within each
    * language) — the within-group form of "train on the top quartile".
    * The ntile orders by the ROUNDED score then doc_id on both engines.
    */
  private val l46 = Spec("q104_quality_tiers",
    (s, d) => graft.llm.Curation.qualityQuantiles(T(s, d, "documents"),
      "doc_id", "text", "lang", n = 4),
    Some(s"""WITH t AS (SELECT doc_id, lang, text, $wordsSql AS words
          FROM documents),
        ${qualityCtesSql("t", ", lang", ", lang")}
        SELECT doc_id, lang, round(q, 6) AS quality,
          CAST(ntile(4) OVER (PARTITION BY lang
            ORDER BY round(q, 6), doc_id) AS INT) AS tier
        FROM sc"""))

  /** Nearest-centroid assignment: per-label mean embeddings (k-means
    * M-step, components rounded before use) + cosine argmax assignment
    * (E-step). Centroid components and the ranking cosine are both
    * rounded to 6 so the assignment is cross-engine exact.
    */
  private val l47 = Spec("q105_centroid_assign",
    (s, d) => {
      val emb = T(s, d, "embeddings")
      graft.llm.Similarity.nearestCentroid(emb, "vec_id", "embedding",
        graft.llm.Similarity.groupCentroids(emb, "embedding", "label"),
        "label")
    },
    Some(s"""WITH ex AS (SELECT label, unnest([{'i': i, 'v': embedding[i+1]}
            for i in range(len(embedding))], recursive := true)
          FROM embeddings),
        cm AS (SELECT label, i, round(avg(CAST(v AS DOUBLE)), 6) AS cv
          FROM ex GROUP BY label, i),
        cent AS (SELECT label, list(cv ORDER BY i) AS centroid
          FROM cm GROUP BY label),
        sc AS (SELECT e.vec_id, c.label,
          round(${cosSql("e.embedding", "c.centroid")}, 6) AS cos
          FROM embeddings e CROSS JOIN cent c),
        r AS (SELECT *, row_number() OVER (PARTITION BY vec_id
          ORDER BY cos DESC, label) AS rk FROM sc)
        SELECT vec_id, label AS assigned, cos FROM r WHERE rk = 1"""))

  /** Case/punctuation-variant dup corpus: every 13th doc re-appears
    * upper-cased with trailing junk — byte-exact dedup (q55's key) CANNOT
    * collapse these; the normalized key must. */
  private val caseDupCorpusSql =
    """SELECT doc_id, text FROM documents UNION ALL
       SELECT doc_id + 100000000, upper(text) || ' !!' FROM documents
       WHERE doc_id % 13 = 0"""

  /** Normalized exact dedup over the case-variant corpus (canonical
    * token-stream md5, keep-min-id). */
  private val l48 = Spec("q106_dedup_normalized",
    (s, d) => {
      val docs = T(s, d, "documents").select(col("doc_id"), col("text"))
      val corpus = docs.unionByName(docs.filter(col("doc_id") % 13 === 0)
        .select((col("doc_id") + 100000000L).as("doc_id"),
          concat(upper(col("text")), lit(" !!")).as("text")))
      graft.llm.Dedup.exactNormalized(corpus, "doc_id", "text")
    },
    Some(s"""WITH corpus AS ($caseDupCorpusSql),
        t AS (SELECT doc_id, array_to_string($wordsSql, ' ') AS canon
          FROM corpus)
        SELECT md5(canon) AS content_hash, min(doc_id) AS keep_id,
          count(*) AS n_copies FROM t GROUP BY 1"""))

  /** Edit-distance verification of the q103 SNM candidates: banded
    * Levenshtein (3-arg early-exit form) over 200-char prefixes — the
    * character-level verify beside the set-based q59/q60. Cost is
    * candidate-bounded, never corpus².
    */
  private val l49 = Spec("q117_dedup_edit_distance",
    (s, d) => {
      val corpus = nearDupCorpus(s, d)
      val cand = Dedup.sortedNeighborhoodPairs(corpus, "doc_id", "text",
        bits = 16, blockBits = 4, windowSize = 4, maxHamming = 3,
        tokenHashesFn = Dedup.tokenHashesPoly)
      Dedup.editDistancePairs(corpus, "doc_id", "text", cand,
        "doc_a", "doc_b", maxDist = 40, prefixLen = 200)
    },
    Some(s"""WITH $snmCtesSql
        SELECT c.doc_a, c.doc_b,
          CAST(levenshtein(substr(a.text, 1, 200), substr(b.text, 1, 200))
            AS INTEGER) AS edit_dist
        FROM cand c JOIN corpus a ON a.doc_id = c.doc_a
          JOIN corpus b ON b.doc_id = c.doc_b
        WHERE levenshtein(substr(a.text, 1, 200), substr(b.text, 1, 200))
          <= 40"""))

  /** Shingle containment on the injected (original, truncated-copy)
    * pairs: the copy's set is ≈fully contained in the original's while
    * Jaccard dilutes with the truncation — the asymmetric-dup metric
    * next to q59's symmetric one.
    */
  private val l50 = Spec("q118_dedup_containment",
    (s, d) => {
      val sets = Dedup.shingleSets(nearDupCorpus(s, d), "doc_id", "text", 3)
      val orig = sets.filter(col("doc") < 100000000L)
        .select(col("doc").as("doc_a"), col("hs").as("set_a"))
      val copy = sets.filter(col("doc") >= 100000000L)
        .select((col("doc") - 100000000L).as("doc_a"),
          col("doc").as("doc_b"), col("hs").as("set_b"))
      orig.join(copy, Seq("doc_a"))
        .select(col("doc_a"), col("doc_b"),
          round(Dedup.containment(col("set_b"), col("set_a")), 6)
            .as("cont_copy_in_orig"),
          round(Dedup.containment(col("set_a"), col("set_b")), 6)
            .as("cont_orig_in_copy"),
          round(Dedup.jaccard(col("set_a"), col("set_b")), 6).as("jac"))
    },
    Some(s"""WITH corpus AS ($nearDupCorpusSql),
        t AS (SELECT doc_id, $wordsSql AS words FROM corpus),
        sh AS (SELECT doc_id, ${shingleSql(3)} AS hs FROM t)
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
          round(CASE WHEN len(b.hs) > 0 THEN
            CAST(len(list_filter(b.hs, x -> list_contains(a.hs, x)))
              AS DOUBLE) / CAST(len(b.hs) AS DOUBLE)
            ELSE CAST(0 AS DOUBLE) END, 6) AS cont_copy_in_orig,
          round(CASE WHEN len(a.hs) > 0 THEN
            CAST(len(list_filter(a.hs, x -> list_contains(b.hs, x)))
              AS DOUBLE) / CAST(len(a.hs) AS DOUBLE)
            ELSE CAST(0 AS DOUBLE) END, 6) AS cont_orig_in_copy,
          round(CASE WHEN len(list_distinct(a.hs || b.hs)) > 0 THEN
            CAST(len(list_filter(a.hs, x -> list_contains(b.hs, x)))
              AS DOUBLE) / CAST(len(list_distinct(a.hs || b.hs)) AS DOUBLE)
            ELSE CAST(0 AS DOUBLE) END, 6) AS jac
        FROM sh a JOIN sh b ON b.doc_id = a.doc_id + 100000000"""))

  /** Length-ramp weighted sampling: keep probability
    * min(n_chars/4000, 1) × 0.8, decided by a salted content-hash coin —
    * deterministic across engines, retries, and partitionings.
    */
  private val l51 = Spec("q119_weighted_sample",
    (s, d) => graft.llm.Shaping.weightedSample(
      T(s, d, "documents").select(col("doc_id"), col("n_chars")),
      "doc_id", least(col("n_chars") / 4000.0, lit(1.0)) * 0.8,
      salt = "w1"),
    Some(s"""SELECT doc_id, n_chars FROM documents
        WHERE (${phSql("CAST(doc_id AS VARCHAR) || ':w1'")}
            * 2654435761) % 1000000007 % 1000000 <
          floor(least(n_chars / CAST(4000 AS DOUBLE), CAST(1 AS DOUBLE))
            * CAST(0.8 AS DOUBLE) * CAST(1000000 AS DOUBLE))"""))

  /** Incremental batch-vs-corpus dedup: an ingest batch (40% exact
    * re-crawls + genuinely new revisions, with in-batch duplicates) keeps
    * only content the standing corpus has never seen — keep-min within
    * the batch, hash anti-join against the corpus.
    */
  private val l52 = Spec("q120_dedup_incremental",
    (s, d) => {
      val docs = T(s, d, "documents").select(col("doc_id"), col("text"))
      val batch = docs.filter(col("doc_id") % 5 === 0)
        .select((col("doc_id") + 200000000L).as("doc_id"), col("text"))
        .unionByName(docs.filter(col("doc_id") % 11 === 0)
          .select((col("doc_id") + 300000000L).as("doc_id"),
            concat(col("text"), lit(" v2")).as("text")))
        .unionByName(docs.filter(col("doc_id") % 33 === 0)
          .select((col("doc_id") + 400000000L).as("doc_id"),
            concat(col("text"), lit(" v2")).as("text")))
      Dedup.incrementalDedup(docs, batch, "doc_id", "text")
    },
    Some("""WITH batch AS (
        SELECT doc_id + 200000000 AS doc_id, text FROM documents
          WHERE doc_id % 5 = 0
        UNION ALL SELECT doc_id + 300000000, text || ' v2' FROM documents
          WHERE doc_id % 11 = 0
        UNION ALL SELECT doc_id + 400000000, text || ' v2' FROM documents
          WHERE doc_id % 33 = 0),
        bh AS (SELECT md5(text) AS content_hash, min(doc_id) AS keep_id,
          count(*) AS n_in_batch FROM batch GROUP BY 1)
        SELECT content_hash, keep_id, n_in_batch FROM bh
        WHERE NOT EXISTS (SELECT 1 FROM documents c
          WHERE md5(c.text) = bh.content_hash)"""))

  /** Exact repeated-substring report (token-window ExactSubstr): per-doc
    * repeated-window counts over the natural cross-document 5-gram
    * repeats of the documents table (≥1k such grams at every gate SF —
    * non-empty by measurement, not hope).
    */
  private val l53 = Spec("q123_repeated_spans",
    (s, d) => graft.llm.Curation.repeatedSpans(T(s, d, "documents"),
      "doc_id", "text", width = 5, minDocs = 2),
    Some(s"""WITH t AS (SELECT doc_id, $wordsSql AS words FROM documents),
        g AS (SELECT doc_id, unnest([{'p': i,
            'gh': ${phSql("array_to_string(words[i+1:i+5], ' ')")}}
            for i in range(CASE WHEN len(words) >= 5
              THEN len(words)-4 ELSE 0 END)], recursive := true)
          FROM t),
        rep AS (SELECT gh FROM g GROUP BY gh
          HAVING count(DISTINCT doc_id) >= 2)
        SELECT g.doc_id, count(*) AS n_windows,
          count(r.gh) AS n_repeated,
          CAST(min(CASE WHEN r.gh IS NOT NULL THEN p END) AS INT)
            AS first_repeated_pos
        FROM g LEFT JOIN rep r ON r.gh = g.gh GROUP BY g.doc_id"""))

  /** PQ code assignment over the label-prefit codebooks (m=2 subspaces of
    * 32 dims; codes as subspace-ordered CSV). The ADC retrieval face is
    * spec-tested (LlmSpec) — its approximation quality is workload-tuned,
    * not oracle-pinned.
    */
  private val l54 = Spec("q129_pq_codes",
    (s, d) => {
      val emb = T(s, d, "embeddings")
      val cb = pqLabelCodebooks(s, d)
      Similarity.pqCodesCsv(
        Similarity.pqEncode(emb, "vec_id", "embedding", cb), "vec_id")
    },
    Some(s"""WITH ex AS (SELECT label, unnest([{'i': i, 'v': embedding[i+1]}
            for i in range(len(embedding))], recursive := true)
          FROM embeddings),
        cm AS (SELECT CAST(i // 32 AS INT) AS s, label AS code, i,
          round(avg(CAST(v AS DOUBLE)), 6) AS cv FROM ex GROUP BY 1, 2, 3),
        cent AS (SELECT s, code, list(cv ORDER BY i) AS centroid
          FROM cm GROUP BY 1, 2),
        sc AS (SELECT e.vec_id, c.s, c.code,
          round(2 * ${dot2("e.embedding[c.s*32+1 : c.s*32+32]",
            "c.centroid")} - ${dot2("c.centroid", "c.centroid")}, 6) AS sim
          FROM embeddings e CROSS JOIN cent c),
        r AS (SELECT *, row_number() OVER (PARTITION BY vec_id, s
          ORDER BY sim DESC, code) AS rk FROM sc)
        SELECT vec_id, array_to_string(list(code ORDER BY s), ',') AS codes
        FROM r WHERE rk = 1 GROUP BY vec_id"""))

  /** Per-document sentence statistics over the punctuation-run splitter. */
  private val l55 = Spec("q130_sentence_stats",
    (s, d) => T(s, d, "documents")
      .select(col("doc_id"),
        graft.llm.Text.sentenceArray(col("text")).as("__s"))
      .select(col("doc_id"),
        size(col("__s")).as("n_sentences"),
        coalesce(array_max(transform(col("__s"), x => length(x))), lit(0))
          .as("max_sentence_chars"),
        when(size(col("__s")) > 0,
          round(aggregate(col("__s"), lit(0), (a, x) => a + length(x))
            .cast("double") / size(col("__s")), 6))
          .otherwise(0.0).as("avg_sentence_chars")),
    Some("""WITH t AS (SELECT doc_id,
          list_filter(list_transform(string_split_regex(text, '[.!?]+'),
            s -> trim(s)), s -> s != '') AS ss FROM documents)
        SELECT doc_id, CAST(len(ss) AS INT) AS n_sentences,
          CAST(coalesce(list_aggregate(list_transform(ss, s -> length(s)),
            'max'), 0) AS INT) AS max_sentence_chars,
          CASE WHEN len(ss) > 0 THEN
            round(CAST(list_aggregate(list_transform(ss, s -> length(s)),
              'sum') AS DOUBLE) / len(ss), 6)
            ELSE CAST(0 AS DOUBLE) END AS avg_sentence_chars
        FROM t"""))

  /** Exact phrase retrieval ("order scan" — present at every gate SF by
    * measurement) with occurrence counts.
    */
  private val l56 = Spec("q132_phrase_search",
    (s, d) => graft.llm.Lexical.phraseSearch(T(s, d, "documents"),
      "doc_id", "text", "order scan"),
    Some(s"""WITH t AS (SELECT doc_id, $wordsSql AS words FROM documents),
        g AS (SELECT doc_id, CAST(len(list_filter(
            [array_to_string(words[i+1:i+2], ' ')
              for i in range(CASE WHEN len(words) >= 2
                THEN len(words)-1 ELSE 0 END)],
            x -> x = 'order scan')) AS INT) AS n_occurrences FROM t)
        SELECT doc_id, n_occurrences FROM g WHERE n_occurrences > 0"""))

  /** Markup strip over tag/entity-wrapped document text (injected
    * wrapper — the raw corpus has no HTML; the wrap makes every row
    * exercise tag removal, entity decode, and whitespace collapse).
    */
  private val l57 = Spec("q135_strip_markup",
    (s, d) => T(s, d, "documents").select(col("doc_id"),
      graft.llm.Text.stripMarkup(concat(lit("<p class=\"x\">"), col("text"),
        lit("</p> &amp; <br/> trailing&nbsp;tail"))).as("clean")),
    Some("""SELECT doc_id, trim(regexp_replace(
        replace(replace(replace(replace(replace(
          regexp_replace('<p class="x">' || text ||
            '</p> &amp; <br/> trailing&nbsp;tail', '<[^>]*>', ' ', 'g'),
          '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&nbsp;', ' '),
          '&amp;', '&'),
        '[ \t\n\r\f]+', ' ', 'g')) AS clean FROM documents"""))

  /** Duplicate-graph structure report: cluster size histogram over the
    * q69 connected components — the number a dedup run is actually tuned
    * by (how much mass sits in big boilerplate clusters vs pairs).
    */
  private val l58 = Spec("q139_cluster_sizes",
    (s, d) => nearDupClusters(s, d)
      .groupBy(col("cluster")).agg(count(lit(1)).as("n_members"))
      .groupBy(col("n_members")).agg(count(lit(1)).as("n_clusters")),
    Some(s"""WITH RECURSIVE $lshCtes,
        cand AS (SELECT doc_a, doc_b FROM pairs
          WHERE est_jaccard >= CAST(0.25 AS DOUBLE)),
        edges AS (SELECT doc_a AS s, doc_b AS d FROM cand
          UNION SELECT doc_b, doc_a FROM cand),
        nodes AS (SELECT DISTINCT s FROM edges),
        reach(s, d) AS (SELECT s, s FROM nodes
          UNION SELECT r.s, e.d FROM reach r JOIN edges e ON r.d = e.s),
        cc AS (SELECT s AS doc, min(d) AS cluster FROM reach GROUP BY s),
        sizes AS (SELECT cluster, count(*) AS n_members FROM cc
          GROUP BY 1)
        SELECT n_members, count(*) AS n_clusters FROM sizes GROUP BY 1"""))

  /** Multi-probe sign-LSH ANN (q62's pinned-anchor setup, plus the
    * 1-bit-flip probe ring — candidate set ⊇ q62's by construction; the
    * nFlips=0 degradation to annTopK is spec-pinned).
    */
  private val l59 = Spec("q144_ann_multiprobe",
    (s, d) => {
      val emb = T(s, d, "embeddings")
      val anchors = Similarity.firstVectors(emb, "vec_id", "embedding", 4)
      Similarity.annMultiProbeTopK(emb,
        emb.filter(col("vec_id").between(100, 107)),
        "vec_id", "embedding", "vec_id", 3, anchors, nFlips = 1)
        .select(col("query_id"), col("neighbor_id"), col("rank"),
          round(col("cos"), 6).as("cos"))
    },
    Some {
      val bucket = (0 until 4).map { j =>
        val anchor = s"(SELECT embedding FROM embeddings WHERE vec_id = $j)"
        s"(CASE WHEN ${dot2("v.embedding", anchor)} > 0 " +
          s"THEN CAST(${1L << j} AS BIGINT) ELSE CAST(0 AS BIGINT) END)"
      }.mkString(" + ")
      s"""WITH cb AS (SELECT $bucket AS bucket, v.vec_id AS neighbor_id,
            v.embedding AS cvec FROM embeddings v),
          qb AS (SELECT $bucket AS bucket, v.vec_id AS query_id,
            v.embedding AS qvec FROM embeddings v
            WHERE v.vec_id BETWEEN 100 AND 107),
          s AS (SELECT qb.query_id, cb.neighbor_id,
            ${cosSql("qb.qvec", "cb.cvec")}
            AS cos FROM cb JOIN qb
            ON bit_count(CAST(xor(cb.bucket, qb.bucket) AS BIGINT)) <= 1),
          r AS (SELECT *, row_number() OVER (PARTITION BY query_id
            ORDER BY cos DESC, neighbor_id) AS rank FROM s)
          SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank,
            round(cos, 6) AS cos FROM r WHERE rank <= 3"""
    })

  /** Per-source duplication report over a re-crawl-injected corpus
    * (every 9th doc re-appears under a new id, same source — so each
    * source's dup_rate is non-trivially non-zero by construction).
    */
  private val l60 = Spec("q145_source_dup_stats",
    (s, d) => {
      val docs = T(s, d, "documents")
        .select(col("doc_id"), col("text"), col("source"))
      val corpus = docs.unionByName(docs.filter(col("doc_id") % 9 === 0)
        .select((col("doc_id") + 500000000L).as("doc_id"), col("text"),
          col("source")))
      graft.llm.Curation.sourceDupStats(corpus, "text", "source")
    },
    Some("""WITH corpus AS (
        SELECT doc_id, text, source FROM documents UNION ALL
        SELECT doc_id + 500000000, text, source FROM documents
        WHERE doc_id % 9 = 0)
        SELECT source, count(*) AS n_docs,
          count(DISTINCT md5(text)) AS n_distinct,
          round(CAST(1.0 AS DOUBLE) - CAST(count(DISTINCT md5(text))
            AS DOUBLE) / count(*), 6) AS dup_rate
        FROM corpus GROUP BY source"""))

  /** Prefix-filter (PPJoin-style) verified pairs at Jaccard ≥ 0.5 over
    * the near-dup corpus — the EXACT-threshold fourth candidate family
    * (zero false negatives, unlike LSH/simhash/SNM).
    */
  private val l61 = Spec("q151_dedup_prefix_filter",
    (s, d) => Dedup.prefixFilterCandidates(nearDupCorpus(s, d),
      "doc_id", "text", shingleWidth = 3, minJaccard = 0.5),
    Some(s"""WITH corpus AS ($nearDupCorpusSql),
        t AS (SELECT doc_id, $wordsSql AS words FROM corpus),
        sh AS (SELECT doc_id, ${shingleSql(3)} AS hs FROM t),
        tok AS (SELECT doc_id AS doc, unnest(hs) AS h FROM sh),
        dfq AS (SELECT h, count(*) AS df FROM tok GROUP BY h),
        rk AS (SELECT doc, tok.h,
          row_number() OVER (PARTITION BY doc ORDER BY df, tok.h) AS rk,
          count(*) OVER (PARTITION BY doc) AS n
          FROM tok JOIN dfq ON dfq.h = tok.h),
        pfx AS (SELECT doc, h FROM rk
          WHERE rk <= n - ceil(CAST(0.5 AS DOUBLE) * n) + 1),
        pairs AS (SELECT DISTINCT a.doc AS doc_a, b.doc AS doc_b
          FROM pfx a JOIN pfx b ON a.h = b.h AND a.doc < b.doc),
        v AS (SELECT doc_a, doc_b,
          round(CASE WHEN len(list_distinct(sa.hs || sb.hs)) > 0 THEN
            CAST(len(list_filter(sa.hs, x -> list_contains(sb.hs, x)))
              AS DOUBLE) / CAST(len(list_distinct(sa.hs || sb.hs))
              AS DOUBLE)
            ELSE CAST(0 AS DOUBLE) END, 6) AS jac
          FROM pairs JOIN sh sa ON sa.doc_id = doc_a
            JOIN sh sb ON sb.doc_id = doc_b)
        SELECT doc_a, doc_b, jac FROM v
        WHERE jac >= CAST(0.5 AS DOUBLE)"""))

  /** Final sequence assembly over the q100 packing: per (source, bin),
    * member texts concatenated in id order with an EOS separator.
    */
  private val l62 = Spec("q152_assemble_sequences",
    (s, d) => {
      val docs = T(s, d, "documents")
      val packed = graft.llm.Shaping
        .packSequences(docs, "doc_id", "text", "source", 256)
        .join(docs.select(col("doc_id"), col("text")), Seq("doc_id"))
      graft.llm.Shaping.assembleSequences(packed, "source", "bin",
        "doc_id", "text")
    },
    Some(s"""WITH t AS (SELECT source, doc_id, text,
          CAST(len($wordsSql) AS INT) AS n_tokens FROM documents),
        s2 AS (SELECT source, doc_id, text,
          coalesce(sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS strt
          FROM t),
        p AS (SELECT source, doc_id, text,
          CAST(strt // 256 AS BIGINT) AS bin FROM s2)
        SELECT source, bin, count(*) AS n_docs,
          string_agg(text, '<|eos|>' ORDER BY doc_id) AS sequence_text
        FROM p GROUP BY 1, 2"""))

  /** Token-budget selection: best 800 tokens per source (≈60% of each
    * source's ~1.4k total, so the cut bites at every SF), longest docs
    * first (negated-length priority, id tiebreak).
    */
  private val l63 = Spec("q153_select_to_budget",
    (s, d) => graft.llm.Shaping.selectToBudget(
      T(s, d, "documents").select(col("doc_id"), col("source"),
        col("n_chars"),
        graft.functions.TokenCount.tokenCount(col("text")).as("n_tokens"))
        .withColumn("__prio", -col("n_chars")),
      "source", Seq("__prio", "doc_id"), "n_tokens", budgetTokens = 800L)
      .drop("__prio"),
    Some(s"""WITH t AS (SELECT doc_id, source, n_chars,
          CAST(len($wordsSql) AS INT) AS n_tokens FROM documents),
        c AS (SELECT *, CAST(sum(n_tokens) OVER (PARTITION BY source
            ORDER BY -n_chars, doc_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
            AS cum_tokens FROM t)
        SELECT doc_id, source, n_chars, n_tokens, cum_tokens FROM c
        WHERE cum_tokens <= 800"""))

  /** Inverted index: per-term df / total tf / capped ascending posting
    * list — the materialized structure behind the BM25/phrase queries.
    */
  private val l64 = Spec("q155_inverted_index",
    (s, d) => graft.llm.Lexical.invertedIndex(T(s, d, "documents"),
      "doc_id", "text", maxPostings = 20),
    Some(s"""WITH t AS (SELECT doc_id, $wordsSql AS words FROM documents),
        tf AS (SELECT term, doc_id, count(*) AS tf FROM
          (SELECT doc_id, unnest(words) AS term FROM t) GROUP BY 1, 2),
        st AS (SELECT term, count(*) AS df, CAST(sum(tf) AS BIGINT)
          AS tf_total FROM tf GROUP BY 1),
        po AS (SELECT term, array_to_string(
          list(doc_id ORDER BY doc_id)[1:20], ',') AS postings
          FROM tf GROUP BY 1)
        SELECT term, df, tf_total, postings FROM st JOIN po USING (term)"""))

  /** χ² discriminative terms per language label (presence-grain
    * contingency, exact integer counts, term-mirrored double combine).
    */
  private val l65 = Spec("q158_chi2_terms",
    (s, d) => graft.llm.Lexical.chiSquareTerms(T(s, d, "documents"),
      "doc_id", "text", "lang", minDf = 5L, k = 10),
    Some(s"""WITH t AS (SELECT doc_id, lang AS label, $wordsSql AS words
          FROM documents),
        dt AS (SELECT doc_id, label, unnest(list_distinct(words)) AS term
          FROM t),
        tl AS (SELECT term, label, count(*) AS a FROM dt GROUP BY 1, 2),
        tdf AS (SELECT term, CAST(sum(a) AS BIGINT) AS df FROM tl
          GROUP BY 1 HAVING sum(a) >= 5),
        ln AS (SELECT lang AS label, count(*) AS nl FROM documents
          GROUP BY 1),
        tot AS (SELECT count(*) AS n FROM documents),
        cts AS (SELECT tl.label, tl.term, a, df, df - a AS b, nl - a AS c,
          n - df - (nl - a) AS d, n
          FROM tl JOIN tdf USING (term) JOIN ln ON ln.label = tl.label
          CROSS JOIN tot),
        x AS (SELECT label, term, a, df,
          CASE WHEN (CAST(a + b AS DOUBLE) * CAST(c + d AS DOUBLE)
              * CAST(a + c AS DOUBLE) * CAST(b + d AS DOUBLE)) > 0
            THEN round(CAST(n AS DOUBLE)
              * CAST(CAST(a AS HUGEINT) * d - CAST(b AS HUGEINT) * c
                  AS DOUBLE)
              * CAST(CAST(a AS HUGEINT) * d - CAST(b AS HUGEINT) * c
                  AS DOUBLE)
              / (CAST(a + b AS DOUBLE) * CAST(c + d AS DOUBLE)
                * CAST(a + c AS DOUBLE) * CAST(b + d AS DOUBLE)), 6)
            ELSE CAST(0 AS DOUBLE) END AS chi2 FROM cts),
        r AS (SELECT label, term, a AS n_label_docs, df, chi2,
          row_number() OVER (PARTITION BY label ORDER BY chi2 DESC, term)
            AS rank FROM x)
        SELECT label, term, n_label_docs, df, chi2, CAST(rank AS INT)
          AS rank FROM r WHERE rank <= 10"""))

  /** Corpus-specific stopword discovery (df ≥ 20% of docs, exact ppm). */
  private val l66 = Spec("q163_corpus_stopwords",
    (s, d) => graft.llm.Curation.corpusStopwords(T(s, d, "documents"),
      "doc_id", "text", minDfPpm = 200000L),
    Some(s"""WITH t AS (SELECT doc_id, $wordsSql AS words FROM documents),
        dt AS (SELECT doc_id, unnest(list_distinct(words)) AS term FROM t),
        c AS (SELECT term, count(*) AS df FROM dt GROUP BY 1),
        n AS (SELECT count(*) AS nn FROM documents)
        SELECT term, df, (df * 1000000) // nn AS df_ppm FROM c CROSS JOIN n
        WHERE (df * 1000000) // nn >= 200000"""))

  /** LSH estimator calibration: estimated vs exact Jaccard per surfaced
    * candidate pair, integer-ppm error — the (k, bands, threshold)
    * tuning report.
    */
  private val l67 = Spec("q167_lsh_calibration",
    (s, d) => Dedup.lshCalibration(nearDupCorpus(s, d), "doc_id", "text",
      shingleWidth = 3, k = 16, bands = 4, minEstJaccard = 0.25,
      maxBucket = 1000),
    Some(s"""WITH $lshCtes,
        cand AS (SELECT doc_a, doc_b, est_jaccard FROM pairs
          WHERE est_jaccard >= CAST(0.25 AS DOUBLE)),
        j AS (SELECT c.doc_a, c.doc_b,
          CAST(round(est_jaccard * 1000000) AS BIGINT) AS est_ppm,
          CAST(round((CASE WHEN len(list_distinct(a.hs || b.hs)) > 0 THEN
            CAST(len(list_filter(a.hs, x -> list_contains(b.hs, x)))
              AS DOUBLE) / CAST(len(list_distinct(a.hs || b.hs)) AS DOUBLE)
            ELSE CAST(0 AS DOUBLE) END) * 1000000) AS BIGINT) AS exact_ppm
          FROM cand c JOIN sh a ON a.doc_id = c.doc_a
          JOIN sh b ON b.doc_id = c.doc_b)
        SELECT doc_a, doc_b, est_ppm, exact_ppm,
          abs(est_ppm - exact_ppm) AS err_ppm FROM j"""))

  /** Vocabulary coverage curve (top-50 terms, cumulative ppm of token
    * mass — the tokenizer-sizing report).
    */
  private val l68 = Spec("q168_vocab_coverage",
    (s, d) => graft.llm.Lexical.vocabCoverage(T(s, d, "documents"),
      "text", topK = 50),
    Some(s"""WITH t AS (SELECT $wordsSql AS words FROM documents),
        c AS (SELECT unnest(words) AS term FROM t),
        g AS (SELECT term, count(*) AS n FROM c GROUP BY 1),
        tot AS (SELECT CAST(sum(n) AS BIGINT) AS tt FROM g),
        r AS (SELECT term, n,
          row_number() OVER (ORDER BY n DESC, term) AS rank,
          CAST(sum(n) OVER (ORDER BY n DESC, term
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
            AS cum FROM g)
        SELECT term, n, CAST(rank AS INT) AS rank,
          CAST((CAST(cum AS HUGEINT) * 1000000) // tt AS BIGINT) AS cum_ppm
        FROM r CROSS JOIN tot WHERE rank <= 50"""))

  /** Shared jaccard-over-(a.hs, b.hs) SQL expression. */
  private val jacAbSql =
    """CASE WHEN len(list_distinct(a.hs || b.hs)) > 0 THEN
        CAST(len(list_filter(a.hs, x -> list_contains(b.hs, x))) AS DOUBLE)
          / CAST(len(list_distinct(a.hs || b.hs)) AS DOUBLE)
      ELSE CAST(0 AS DOUBLE) END"""

  /** 90/5/5 content-hash split CASE over an arbitrary text expression. */
  private def splitCaseOf(t: String): String =
    s"""CASE WHEN $t IS NULL THEN NULL
        WHEN ${phSql(t)} % 100 < 90 THEN 'train'
        WHEN ${phSql(t)} % 100 < 95 THEN 'val'
        ELSE 'holdout' END"""

  /** Split-leakage audit: near-dup pairs straddling the content-hash
    * split — why the pipeline order is dedup-THEN-split.
    */
  private val l69 = Spec("q169_split_leakage",
    (s, d) => graft.llm.Curation.splitLeakage(nearDupCorpus(s, d),
      "doc_id", "text", shingleWidth = 3, k = 16, bands = 4,
      minJaccard = 0.2),
    Some(s"""WITH $lshCtes,
        cands AS (SELECT doc_a, doc_b FROM pairs
          WHERE est_jaccard >= CAST(0.3 AS DOUBLE)),
        ver AS (SELECT c.doc_a, c.doc_b, $jacAbSql AS jaccard
          FROM cands c JOIN sh a ON a.doc_id = c.doc_a
          JOIN sh b ON b.doc_id = c.doc_b
          WHERE $jacAbSql >= CAST(0.2 AS DOUBLE)),
        sp AS (SELECT doc_id, ${splitCaseOf("text")} AS split FROM corpus)
        SELECT v.doc_a, v.doc_b, v.jaccard,
          sa.split AS split_a, sb.split AS split_b
        FROM ver v JOIN sp sa ON sa.doc_id = v.doc_a
        JOIN sp sb ON sb.doc_id = v.doc_b
        WHERE sa.split IS DISTINCT FROM sb.split"""))

  /** Similarity-band (hard-negative) pair mining over the LSH
    * candidates: exact-Jaccard ppm in [0.2e6, 0.95e6).
    */
  private val l70 = Spec("q170_similarity_band",
    (s, d) => graft.llm.Dedup.similarityBandPairs(nearDupCorpus(s, d),
      "doc_id", "text", loPpm = 200000L, hiPpm = 950000L,
      shingleWidth = 3, k = 16, bands = 4, minEstJaccard = 0.25,
      maxBucket = 1000),
    Some(s"""WITH $lshCtes,
        cand AS (SELECT doc_a, doc_b FROM pairs
          WHERE est_jaccard >= CAST(0.25 AS DOUBLE)),
        j AS (SELECT c.doc_a, c.doc_b,
          CAST(round(($jacAbSql) * 1000000) AS BIGINT) AS exact_ppm
          FROM cand c JOIN sh a ON a.doc_id = c.doc_a
          JOIN sh b ON b.doc_id = c.doc_b)
        SELECT doc_a, doc_b, exact_ppm FROM j
        WHERE exact_ppm >= 200000 AND exact_ppm < 950000"""))

  /** Linear-counting distinct-user sketch per event type — the
    * fixed-memory cardinality path; the sketch state is engine-exact
    * under the shared polyhash, so even the ESTIMATE hash-matches.
    */
  private val l71 = Spec("q176_distinct_sketch",
    (s, d) => graft.engine.Sketches.linearCountDistinct(
      Queries.T(s, d, "events").select(col("event_type"), col("user_id")),
      Seq("event_type"), "user_id", m = 4096),
    Some(s"""WITH b AS (SELECT DISTINCT event_type,
          ${phSql("CAST(user_id AS VARCHAR)")} % 4096 AS bkt
          FROM events WHERE user_id IS NOT NULL),
        o AS (SELECT event_type, count(*) AS occupied FROM b GROUP BY 1)
        SELECT event_type, occupied,
          CASE WHEN occupied < 4096 THEN
            CAST(round(CAST(4096 AS DOUBLE) * ln(CAST(4096 AS DOUBLE)
              / CAST(4096 - occupied AS DOUBLE))) AS BIGINT)
          END AS est_distinct FROM o"""))

  /** BPE merge-step statistic: top-30 adjacent character pairs over the
    * corpus, weighted by word frequency.
    */
  private val l72 = Spec("q177_bpe_pairs",
    (s, d) => graft.llm.Lexical.bpePairStep(
      Queries.T(s, d, "documents"), "text", topK = 30),
    Some(s"""WITH words AS (SELECT unnest($wordsSql) AS w FROM documents),
        wf AS (SELECT w, count(*) AS f FROM words
          WHERE len(w) >= 2 GROUP BY 1),
        p AS (SELECT f, unnest([substr(w, i, 2)
          for i in range(1, len(w))]) AS pair FROM wf),
        c AS (SELECT pair, CAST(sum(f) AS BIGINT) AS weight
          FROM p GROUP BY 1),
        k AS (SELECT pair, weight,
          row_number() OVER (ORDER BY weight DESC, pair) AS rank FROM c)
        SELECT pair, weight, CAST(rank AS INT) AS rank FROM k
        WHERE rank <= 30"""))

  /** Per-source unigram KL divergence from the corpus blend — the
    * domain-shift / mixture-outlier report.
    */
  private val l73 = Spec("q178_source_kl",
    (s, d) => graft.llm.Curation.sourceUnigramKl(
      Queries.T(s, d, "documents"), "text", "source"),
    Some(s"""WITH toks AS (SELECT source, unnest($wordsSql) AS t
          FROM documents),
        st AS (SELECT source, t, count(*) AS n_st FROM toks GROUP BY 1, 2),
        s AS (SELECT source, CAST(sum(n_st) AS BIGINT) AS n_s
          FROM st GROUP BY 1),
        tt AS (SELECT t, CAST(sum(n_st) AS BIGINT) AS n_t
          FROM st GROUP BY 1),
        tot AS (SELECT CAST(sum(n_st) AS BIGINT) AS n FROM st)
        SELECT st.source, n_s AS n_tokens, count(*) AS n_terms,
          round(sum((CAST(n_st AS DOUBLE) / CAST(n_s AS DOUBLE))
            * ln((CAST(n_st AS DOUBLE) * CAST(n AS DOUBLE))
              / (CAST(n_s AS DOUBLE) * CAST(n_t AS DOUBLE)))), 6) AS kl
        FROM st JOIN s USING (source) JOIN tt USING (t) CROSS JOIN tot
        GROUP BY 1, 2"""))

  /** Cross-source duplicate-overlap matrix. The fixture plants a
    * synthetic "recrawl" source holding exact copies of every 13th
    * document (same convention as the dup-injected dedup corpora), so
    * the report is provably non-empty at every gate SF — natural
    * cross-source copies only appear at sf0.1.
    */
  private val l74 = Spec("q181_source_overlap",
    (s, d) => {
      val docs = Queries.T(s, d, "documents")
        .select(col("doc_id"), col("text"), col("source"))
      val corpus = docs.unionByName(docs.filter(col("doc_id") % 13 === 0)
        .select((col("doc_id") + 100000000).as("doc_id"), col("text"),
          lit("recrawl").as("source")))
      graft.llm.Curation.sourceOverlapMatrix(corpus, "text", "source")
    },
    Some("""WITH corpus AS (SELECT doc_id, text, source FROM documents
          UNION ALL SELECT doc_id + 100000000, text, 'recrawl'
          FROM documents WHERE doc_id % 13 = 0),
        hs AS (SELECT DISTINCT md5(text) AS h, source FROM corpus
          WHERE source IS NOT NULL)
        SELECT a.source AS source_a, b.source AS source_b,
          count(*) AS n_shared
        FROM hs a JOIN hs b ON a.h = b.h AND a.source < b.source
        GROUP BY 1, 2"""))

  /** Rendezvous (HRW) shard assignment, k = 8, over document ids. */
  private val l75 = Spec("q182_rendezvous_shards",
    (s, d) => graft.llm.Shaping.rendezvousAssign(
        Queries.T(s, d, "documents").select(col("doc_id")), "doc_id", k = 8)
      .groupBy("shard").agg(count(lit(1)).as("n_docs")),
    Some(s"""WITH p AS (SELECT doc_id,
          unnest([{'s': s, 'h': (${phSql(
            "CAST(doc_id AS VARCHAR) || '#' || CAST(s AS VARCHAR)")}
            * 2654435761) % 1000000007}
            for s in range(0, 8)]) AS u
          FROM documents),
        e AS (SELECT doc_id, u.s AS s, u.h AS h FROM p),
        r AS (SELECT doc_id, s, row_number() OVER (PARTITION BY doc_id
          ORDER BY h DESC, s DESC) AS rn FROM e)
        SELECT CAST(s AS INT) AS shard, count(*) AS n_docs FROM r
        WHERE rn = 1 GROUP BY 1"""))

  /** Per-document Flesch-style readability report. */
  private val l76 = Spec("q191_readability",
    (s, d) => {
      val toks = Text.tokens(col("text"))
      val sents = Text.sentenceArray(col("text"))
      Queries.T(s, d, "documents").select(col("doc_id"),
          size(toks).as("n_words"), size(sents).as("n_sentences"),
          Text.syllablesFromTokens(toks).as("n_syllables"))
        .withColumn("flesch",
          when(col("n_words") > 0 && col("n_sentences") > 0,
            round(lit(206.835) - lit(1.015) *
              (col("n_words").cast("double") /
                col("n_sentences").cast("double")) -
              lit(84.6) * (col("n_syllables").cast("double") /
                col("n_words").cast("double")), 6)))
    },
    Some(s"""WITH t AS (SELECT doc_id, $wordsSql AS words,
          list_filter(list_transform(string_split_regex(text, '[.!?]+'),
            s -> trim(s)), s -> s != '') AS ss FROM documents),
        m AS (SELECT doc_id,
          CAST(len(words) AS INT) AS n_words,
          CAST(len(ss) AS INT) AS n_sentences,
          CAST(list_sum(list_transform(words, w ->
            greatest(len(regexp_extract_all(w, '[aeiouy]+')), 1)))
            AS BIGINT) AS n_syllables FROM t)
        SELECT doc_id, n_words, n_sentences,
          coalesce(n_syllables, 0) AS n_syllables,
          CASE WHEN n_words > 0 AND n_sentences > 0 THEN
            round(CAST(206.835 AS DOUBLE) - CAST(1.015 AS DOUBLE)
              * (CAST(n_words AS DOUBLE) / CAST(n_sentences AS DOUBLE))
              - CAST(84.6 AS DOUBLE) * (CAST(n_syllables AS DOUBLE)
                / CAST(n_words AS DOUBLE)), 6)
          END AS flesch FROM m"""))

  /** Corpus Zipf-law fit over the top-500 terms. */
  private val l77 = Spec("q192_zipf_fit",
    (s, d) => graft.llm.Lexical.zipfFit(
      Queries.T(s, d, "documents"), "text", topK = 500),
    Some(s"""WITH toks AS (SELECT unnest($wordsSql) AS t FROM documents),
        tf AS (SELECT t, count(*) AS n FROM toks GROUP BY 1),
        h AS (SELECT t, n, row_number() OVER (ORDER BY n DESC, t) AS rank
          FROM tf),
        xy AS (SELECT
          CAST(round(ln(CAST(rank AS DOUBLE)) * 1000000) AS HUGEINT) AS x,
          CAST(round(ln(CAST(n AS DOUBLE)) * 1000000) AS HUGEINT) AS y
          FROM h WHERE rank <= 500),
        a AS (SELECT count(*) AS n_terms, sum(x) AS sx, sum(y) AS sy,
          sum(x * y) AS sxy, sum(x * x) AS sxx, sum(y * y) AS syy FROM xy),
        dd AS (SELECT *, n_terms * sxy - sx * sy AS num,
          n_terms * sxx - sx * sx AS dx, n_terms * syy - sy * sy AS dy
          FROM a)
        SELECT CAST(n_terms AS BIGINT) AS n_terms,
          CASE WHEN dx > 0 THEN
            round(CAST(num AS DOUBLE) / CAST(dx AS DOUBLE), 6) END AS slope,
          CASE WHEN dx > 0 AND dy > 0 THEN
            round(CAST(num AS DOUBLE) * CAST(num AS DOUBLE)
              / (CAST(dx AS DOUBLE) * CAST(dy AS DOUBLE)), 6) END AS r2
        FROM dd"""))

  /** Per-document type–token / hapax lexical-diversity report. */
  private val l78 = Spec("q198_lexical_diversity",
    (s, d) => graft.llm.Lexical.lexicalDiversity(
      Queries.T(s, d, "documents"), "doc_id", "text"),
    Some(s"""WITH t AS (SELECT doc_id, unnest($wordsSql) AS t
          FROM documents),
        c AS (SELECT doc_id, t, count(*) AS n FROM t GROUP BY 1, 2),
        a AS (SELECT doc_id, CAST(sum(n) AS BIGINT) AS n_tokens,
          count(*) AS n_types,
          CAST(sum(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS BIGINT)
            AS n_hapax FROM c GROUP BY 1)
        SELECT doc_id, n_tokens, n_types, n_hapax,
          round(CAST(n_types AS DOUBLE) / CAST(n_tokens AS DOUBLE), 6)
            AS ttr,
          round(CAST(n_hapax AS DOUBLE) / CAST(n_tokens AS DOUBLE), 6)
            AS hapax_ratio FROM a"""))

  /** Character-class census + entropy gibberish screen. */
  private val l79 = Spec("q199_char_entropy",
    // fanOut (r14, §19 follow-up): the census is a pure CPU-heavy
    // row-local map, and the single-file fixture scan plans ONE task —
    // the whole query ran serial (profiled 1.10 s, 1 task, 1 stage at
    // 32c). Projected to (doc_id, text) BEFORE the round-robin exchange
    // so only the needed columns cross it (guide §2.3); no-op whenever
    // the scan already plans >= session parallelism (any real table).
    (s, d) => graft.engine.Relational.fanOut(Queries.T(s, d, "documents")
        .select(col("doc_id"), col("text")))
      .select(col("doc_id"), Text.charClassCensus(col("text")).as("c"))
      .select(col("doc_id"), col("c.n_letters"), col("c.n_digits"),
        col("c.n_spaces"), col("c.n_other"), col("c.entropy")),
    Some(s"""WITH c AS (SELECT doc_id,
          CAST(len(regexp_extract_all(lower(text), '[a-z]')) AS BIGINT)
            AS cl,
          CAST(len(regexp_extract_all(lower(text), '[0-9]')) AS BIGINT)
            AS cd,
          CAST(len(regexp_extract_all(lower(text), '[ \t\n\f\r]'))
            AS BIGINT) AS cs,
          CAST(len(regexp_extract_all(lower(text), '[^a-z0-9 \t\n\f\r]'))
            AS BIGINT) AS co
          FROM documents),
        n AS (SELECT doc_id, coalesce(cl, 0) AS n_letters,
          coalesce(cd, 0) AS n_digits, coalesce(cs, 0) AS n_spaces,
          coalesce(co, 0) AS n_other, cl + cd + cs + co AS nn FROM c)
        SELECT doc_id, n_letters, n_digits, n_spaces, n_other,
          CASE WHEN nn > 0 THEN round(
            (CASE WHEN n_letters > 0 THEN
              -(CAST(n_letters AS DOUBLE) / CAST(nn AS DOUBLE))
                * ln(CAST(n_letters AS DOUBLE) / CAST(nn AS DOUBLE))
              ELSE 0.0 END)
            + (CASE WHEN n_digits > 0 THEN
              -(CAST(n_digits AS DOUBLE) / CAST(nn AS DOUBLE))
                * ln(CAST(n_digits AS DOUBLE) / CAST(nn AS DOUBLE))
              ELSE 0.0 END)
            + (CASE WHEN n_spaces > 0 THEN
              -(CAST(n_spaces AS DOUBLE) / CAST(nn AS DOUBLE))
                * ln(CAST(n_spaces AS DOUBLE) / CAST(nn AS DOUBLE))
              ELSE 0.0 END)
            + (CASE WHEN n_other > 0 THEN
              -(CAST(n_other AS DOUBLE) / CAST(nn AS DOUBLE))
                * ln(CAST(n_other AS DOUBLE) / CAST(nn AS DOUBLE))
              ELSE 0.0 END), 6) END AS entropy
        FROM n"""))

  /** Temperature-½ source mix weights, exact-integer form. */
  private val l80 = Spec("q200_mix_weights",
    (s, d) => graft.llm.Shaping.temperatureMixWeights(
      Queries.T(s, d, "documents"), "source", "text"),
    Some(s"""WITH p AS (SELECT source, count(*) AS n_docs,
          CAST(sum(len($wordsSql)) AS BIGINT) AS n_tokens
          FROM documents GROUP BY 1),
        t AS (SELECT p.*, sum(n_tokens) OVER () AS tot FROM p),
        s AS (SELECT source, n_docs, n_tokens,
          CAST((n_tokens * 1000000) // tot AS BIGINT) AS share_ppm
          FROM t),
        q AS (SELECT *, CAST(floor(sqrt(CAST(share_ppm AS DOUBLE)))
          AS BIGINT) AS sq FROM s),
        w AS (SELECT *, sum(sq) OVER () AS stot FROM q)
        SELECT source, n_docs, n_tokens, share_ppm,
          CAST((sq * 1000000) // stot AS BIGINT) AS weight_ppm
        FROM w"""))

  /** Count-min-sketch top-k heavy hitters over order custkeys: estimate
    * = min over 4 hash rows of 512-bucket totals, exact count alongside
    * (est − n is the collision inflation). Engine-exact under the shared
    * polyhash, so the oracle rebuilds the identical sketch in SQL.
    */
  private val l81 = Spec("q204_cms_topk",
    (s, d) => graft.engine.Sketches.cmsTopK(
      Queries.T(s, d, "orders").select(col("o_custkey")),
      "o_custkey", d = 4, w = 512, k = 50),
    Some(s"""WITH c AS (SELECT CAST(o_custkey AS VARCHAR) AS key,
          CAST(count(*) AS BIGINT) AS n FROM orders
          WHERE o_custkey IS NOT NULL GROUP BY 1),
        h AS (SELECT key, n, r,
          ${phSql("CAST(r AS VARCHAR) || '#' || key")} % 512 AS bucket
          FROM c CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS r)),
        bt AS (SELECT r, bucket, CAST(sum(n) AS BIGINT) AS btot
          FROM h GROUP BY 1, 2),
        e AS (SELECT h.key, CAST(max(h.n) AS BIGINT) AS n,
          CAST(min(bt.btot) AS BIGINT) AS est
          FROM h JOIN bt ON bt.r = h.r AND bt.bucket = h.bucket
          GROUP BY 1),
        k AS (SELECT key, n, est,
          row_number() OVER (ORDER BY est DESC, key) AS rank FROM e)
        SELECT key, n, est, CAST(rank AS INT) AS rank
        FROM k WHERE rank <= 50"""))

  /** Per-source encoding-damage audit: U+FFFD, raw C0 controls, and
    * double-encode mojibake marker counts, exact integers in one scan.
    */
  private val l82 = {
    // chr() code points of the mojibake markers, mirroring
    // Curation.MojibakeMarkers char-for-char
    val markers = Seq(Seq(195, 169), Seq(195, 188),
      Seq(226, 8364, 8482), Seq(226, 8364, 339))
    val mojiSql = markers.map(m =>
      s"position(${m.map(c => s"chr($c)").mkString(" || ")} IN text) > 0")
      .mkString("(", " OR ", ")")
    val replSql = "position(chr(65533) IN text) > 0"
    val ctrlSql = "regexp_matches(text, '[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F]')"
    Spec("q205_encoding_audit",
      (s, d) => graft.llm.Curation.encodingAudit(
        Queries.T(s, d, "documents"), "text", "source"),
      Some(s"""WITH e AS (SELECT source, text FROM documents
            WHERE text IS NOT NULL),
          a AS (SELECT source AS src, CAST(count(*) AS BIGINT) AS n_docs,
            CAST(sum(CASE WHEN $replSql THEN 1 ELSE 0 END) AS BIGINT)
              AS n_replacement,
            CAST(sum(CASE WHEN $ctrlSql THEN 1 ELSE 0 END) AS BIGINT)
              AS n_control,
            CAST(sum(CASE WHEN $mojiSql THEN 1 ELSE 0 END) AS BIGINT)
              AS n_mojibake,
            CAST(sum(CASE WHEN $replSql OR $ctrlSql OR $mojiSql
              THEN 1 ELSE 0 END) AS BIGINT) AS n_damaged
            FROM e GROUP BY 1)
          SELECT src AS source, n_docs, n_replacement, n_control,
            n_mojibake, n_damaged,
            CAST((n_damaged * 1000000) // n_docs AS BIGINT) AS damaged_ppm
          FROM a"""))
  }

  /** Cohen's kappa of the lang-ID heuristic against the stored lang
    * label — chance-corrected agreement over the same confusion matrix
    * q90 reports, every term exact-integer until the final ratio.
    */
  private val l83 = Spec("q208_lang_id_kappa",
    (s, d) => graft.engine.Relational.cohenKappaFromCells(
      graft.llm.Curation.langIdConfusion(
        T(s, d, "documents").filter(col("lang").isNotNull),
        "text", "lang"),
      "lang_gold", "lang_pred", "n_docs"),
    Some(s"""WITH t AS (SELECT doc_id, lang, $wordsSql AS words
          FROM documents WHERE lang IS NOT NULL),
        c AS (SELECT doc_id, lang, $langCountsSql FROM t),
        lp AS (SELECT lang AS g, $langCaseSql AS p FROM c),
        cells AS (SELECT g, p, CAST(count(*) AS HUGEINT) AS n
          FROM lp GROUP BY 1, 2),
        tot AS (SELECT sum(n) AS tot,
          sum(CASE WHEN g = p THEN n ELSE 0 END) AS agree FROM cells),
        ma AS (SELECT g AS cat, sum(n) AS ma FROM cells GROUP BY 1),
        mb AS (SELECT p AS cat, sum(n) AS mb FROM cells GROUP BY 1),
        ch AS (SELECT sum(coalesce(ma, 0) * coalesce(mb, 0)) AS s
          FROM ma FULL OUTER JOIN mb USING (cat))
        SELECT CAST(tot AS BIGINT) AS n, CAST(agree AS BIGINT) AS n_agree,
          CAST((agree * 1000000) // tot AS BIGINT) AS agree_ppm,
          CAST((s * 1000000) // (tot * tot) AS BIGINT) AS chance_ppm,
          CASE WHEN tot * tot <> s THEN
            round(CAST(tot * agree - s AS DOUBLE)
              / CAST(tot * tot - s AS DOUBLE), 6) END AS kappa
        FROM tot CROSS JOIN ch"""))

  /** Mergeable partial profiles: per-source sufficient-stat slices over
    * (n_chars, n_tokens) merged to the global profile; the oracle is the
    * DIRECT single-pass profile — their equality is the combiner
    * contract under test.
    */
  private val l84 = Spec("q209_profile_merge",
    (s, d) => graft.engine.Relational.mergeProfiles(
      graft.engine.Relational.partialProfile(
        T(s, d, "documents").select(col("source"), col("n_chars"),
          Text.tokenCount(col("text")).as("n_tokens")),
        Seq("source"), Seq("n_chars", "n_tokens"))),
    Some(s"""WITH e AS (SELECT source, n_chars,
          CAST(len($wordsSql) AS BIGINT) AS n_tokens FROM documents),
        u AS (
          SELECT 'n_chars' AS col_name, CAST(count(n_chars) AS BIGINT)
            AS n,
          CAST(sum(CASE WHEN n_chars IS NULL THEN 1 ELSE 0 END)
            AS BIGINT) AS n_null,
          sum(CAST(n_chars AS HUGEINT)) AS s,
          sum(CAST(n_chars AS HUGEINT) * CAST(n_chars AS HUGEINT)) AS s2,
          CAST(min(n_chars) AS BIGINT) AS min_value,
          CAST(max(n_chars) AS BIGINT) AS max_value FROM e
          UNION ALL
          SELECT 'n_tokens', CAST(count(n_tokens) AS BIGINT),
          CAST(sum(CASE WHEN n_tokens IS NULL THEN 1 ELSE 0 END)
            AS BIGINT),
          sum(CAST(n_tokens AS HUGEINT)),
          sum(CAST(n_tokens AS HUGEINT) * CAST(n_tokens AS HUGEINT)),
          CAST(min(n_tokens) AS BIGINT), CAST(max(n_tokens) AS BIGINT)
          FROM e)
        SELECT col_name, n, n_null, CAST(s AS BIGINT) AS sum, min_value,
          max_value,
          CASE WHEN n > 0 THEN
            round(CAST(s AS DOUBLE) / CAST(n AS DOUBLE), 6) END AS mean,
          CASE WHEN n > 0 THEN
            round(sqrt(CAST(CAST(n AS HUGEINT) * s2 - s * s AS DOUBLE))
              / CAST(n AS DOUBLE), 6) END AS stddev
        FROM u"""))

  /** Cross-source cosine similarity of unigram count profiles — which
    * sources are vocabulary near-duplicates of each other.
    */
  private val l85 = Spec("q211_source_cosine",
    (s, d) => graft.llm.Curation.sourceCosineMatrix(
      T(s, d, "documents"), "text", "source"),
    Some(s"""WITH toks AS (SELECT source, unnest($wordsSql) AS t
          FROM documents),
        st AS (SELECT source, t, CAST(count(*) AS HUGEINT) AS n
          FROM toks GROUP BY 1, 2),
        nm AS (SELECT source, sum(n * n) AS q FROM st GROUP BY 1),
        d AS (SELECT a.source AS source_a, b.source AS source_b,
          CAST(count(*) AS BIGINT) AS n_shared_terms,
          sum(a.n * b.n) AS dot
          FROM st a JOIN st b ON a.t = b.t AND a.source < b.source
          GROUP BY 1, 2)
        SELECT source_a, source_b, n_shared_terms,
          round(CAST(dot AS DOUBLE) / (sqrt(CAST(na.q AS DOUBLE))
            * sqrt(CAST(nb.q AS DOUBLE))), 6) AS cosine
        FROM d JOIN nm na ON na.source = d.source_a
        JOIN nm nb ON nb.source = d.source_b"""))

  /** ViT-style patch grid over the stub image metadata: one row per
    * fully-fitting 128×128 window at stride 128, coordinates recovered
    * from a single patch-index explode.
    */
  private val l86 = Spec("q212_mm_patch_grid",
    (s, d) => {
      val withMm = T(s, d, "documents")
        .withColumn("mm", Multimodal.attach(col("text").cast("binary"),
          lit("image"), polyhash(col("text"))))
      Multimodal.patchGrid(withMm, "mm", patch = 128, stride = 128)
        .select(col("doc_id"), col("mm.meta.width").as("width"),
          col("mm.meta.height").as("height"), col("patch_idx"),
          col("grid_x"), col("grid_y"), col("x0"), col("y0"))
    },
    Some(s"""WITH t AS (SELECT doc_id,
          CAST(h % 1280 + 64 AS INTEGER) AS width,
          CAST(h % 720 + 64 AS INTEGER) AS height
          FROM (SELECT doc_id, ${phSql("text")} AS h FROM documents)),
        g AS (SELECT doc_id, width, height,
          CASE WHEN width >= 128 THEN
            CAST(floor(CAST(width - 128 AS DOUBLE) / 128) AS INTEGER) + 1
            ELSE 0 END AS nx,
          CASE WHEN height >= 128 THEN
            CAST(floor(CAST(height - 128 AS DOUBLE) / 128) AS INTEGER) + 1
            ELSE 0 END AS ny FROM t),
        p AS (SELECT doc_id, width, height, nx,
          unnest(range(nx * ny)) AS pi FROM g WHERE nx * ny > 0)
        SELECT doc_id, width, height, CAST(pi AS INT) AS patch_idx,
          CAST(pi % nx AS INT) AS grid_x,
          CAST(floor(CAST(pi AS DOUBLE) / nx) AS INT) AS grid_y,
          CAST((pi % nx) * 128 AS INT) AS x0,
          CAST(floor(CAST(pi AS DOUBLE) / nx) * 128 AS INT) AS y0
        FROM p"""))

  /** Gopher-rule quality flags — every ratio an exact integer
    * cross-multiplication, raw-word and normalized-token streams mirrored
    * independently.
    */
  /** Deterministic round-robin source interleave: global curriculum
    * position from one within-source window + a broadcast of the tiny
    * per-source count frame — no global ORDER BY. The oracle replays the
    * identical arithmetic (rows before = Σ min(round−1, n_src) + earlier
    * same-round peers).
    */
  private val l88 = Spec("q217_interleave_sources",
    (s, d) => graft.llm.Shaping.interleaveSources(
      T(s, d, "documents").select(col("doc_id"), col("source")),
      "source", Seq("doc_id")),
    Some("""WITH r AS (SELECT source, doc_id,
          CAST(row_number() OVER (PARTITION BY source ORDER BY doc_id)
            AS BIGINT) AS round
          FROM documents),
        s AS (SELECT source AS s2, CAST(count(*) AS BIGINT) AS n
          FROM documents GROUP BY 1)
        SELECT r.source, r.doc_id, r.round,
          CAST(sum(least(r.round - 1, s.n))
            + sum(CASE WHEN s.s2 < r.source AND s.n >= r.round
                  THEN 1 ELSE 0 END) + 1 AS BIGINT) AS pos
        FROM r CROSS JOIN s GROUP BY 1, 2, 3"""))

  /** Exact mix resample: temperature-½ target weights → largest corpus
    * the data supports at that mix (λ = min n_s·10⁶/w_s) → per-source
    * quota kept in content-hash order. The oracle replays the weight
    * arithmetic (q200's CTE) and the identical rank selection under the
    * shared polyhash.
    */
  private val l89 = Spec("q218_resample_to_mix",
    (s, d) => {
      val docs = T(s, d, "documents")
      val w = graft.llm.Shaping.temperatureMixWeights(docs, "source", "text")
      graft.llm.Shaping.resampleToMix(
        docs.select(col("doc_id"), col("source")), "source", "doc_id", w)
    },
    Some(s"""WITH p AS (SELECT source,
          CAST(sum(len($wordsSql)) AS BIGINT) AS n_tokens
          FROM documents GROUP BY 1),
        t AS (SELECT p.*, sum(n_tokens) OVER () AS tot FROM p),
        sh AS (SELECT source,
          CAST((n_tokens * 1000000) // tot AS BIGINT) AS share_ppm FROM t),
        q AS (SELECT source, CAST(floor(sqrt(CAST(share_ppm AS DOUBLE)))
          AS BIGINT) AS sq FROM sh),
        w AS (SELECT source,
          CAST((sq * 1000000) // sum(sq) OVER () AS BIGINT) AS wp FROM q),
        c AS (SELECT source, CAST(count(*) AS BIGINT) AS n
          FROM documents GROUP BY 1),
        lam AS (SELECT min((n * 1000000) // wp) AS lam
          FROM c JOIN w USING (source)),
        quota AS (SELECT source, (SELECT lam FROM lam) * wp // 1000000
          AS keep FROM w),
        r AS (SELECT doc_id, source, row_number() OVER (PARTITION BY source
          ORDER BY ${phSql("CAST(doc_id AS VARCHAR)")}, doc_id) AS rk
          FROM documents)
        SELECT r.doc_id, r.source FROM r JOIN quota USING (source)
        WHERE rk <= keep"""))

  /** Per-source boilerplate lines: non-blank lines covering ≥ 20% of a
    * source's docs (and ≥ 2 docs), doc-level distinct. The corpus's
    * synthetic texts share no lines, so the fixture stamps a cookie
    * banner on every third doc (the q57/q85 dup-injection pattern) —
    * the detector must report it per source at the exact injected rate.
    */
  private val l90 = Spec("q219_boilerplate_lines",
    (s, d) => graft.llm.Curation.boilerplateLines(
      T(s, d, "documents").withColumn("text",
        when(col("doc_id") % 3 === 0,
          concat(lit("COOKIE NOTICE accept our cookies\n"), col("text")))
          .otherwise(col("text"))),
      "source", "doc_id", "text", minDocs = 2, minPpm = 200000L),
    Some("""WITH stamped AS (SELECT source, doc_id,
          CASE WHEN doc_id % 3 = 0
            THEN 'COOKIE NOTICE accept our cookies' || chr(10) || text
            ELSE text END AS text FROM documents),
        dl AS (SELECT source, doc_id,
          unnest(list_distinct(string_split(text, chr(10)))) AS line
          FROM stamped),
        f AS (SELECT * FROM dl WHERE length(trim(line)) > 0),
        pl AS (SELECT source, line, CAST(count(*) AS BIGINT)
          AS n_docs_with_line FROM f GROUP BY 1, 2),
        ps AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs
          FROM stamped GROUP BY 1)
        SELECT pl.source, pl.line, n_docs_with_line, n_docs,
          CAST((n_docs_with_line * 1000000) // n_docs AS BIGINT) AS rate_ppm
        FROM pl JOIN ps USING (source)
        WHERE n_docs_with_line >= 2
          AND (n_docs_with_line * 1000000) // n_docs >= 200000"""))

  /** Per-doc trigram novelty vs everything earlier in id order (ppm of
    * distinct grams first seen in this doc).
    */
  private val l91 = Spec("q220_ngram_novelty",
    (s, d) => graft.llm.Text.ngramNovelty(
      T(s, d, "documents"), "doc_id", "text", 3),
    Some(s"""WITH t AS (SELECT doc_id, $wordsSql AS words FROM documents),
        g AS (SELECT doc_id, unnest(list_distinct(
          [array_to_string(words[i+1:i+3], ' ') for i in
            range(CASE WHEN len(words) >= 3 THEN len(words)-2 ELSE 0 END)]))
          AS gram FROM t),
        f AS (SELECT gram, min(doc_id) AS first_id FROM g GROUP BY 1)
        SELECT g.doc_id, CAST(count(*) AS BIGINT) AS n_grams,
          CAST(sum(CASE WHEN f.first_id = g.doc_id THEN 1 ELSE 0 END)
            AS BIGINT) AS n_novel,
          CAST((sum(CASE WHEN f.first_id = g.doc_id THEN 1 ELSE 0 END)
            * 1000000) // count(*) AS BIGINT) AS novel_ppm
        FROM g JOIN f USING (gram) GROUP BY 1"""))

  /** Bloom-filter calibration audit: customer keys build the filter,
    * order custkeys (members) plus +10⁷-shifted keys (non-members)
    * probe it. The oracle rebuilds the identical (row, bucket) bit set
    * under the shared polyhash.
    */
  private val l92 = Spec("q221_bloom_audit",
    (s, d) => graft.engine.Sketches.bloomAudit(
      T(s, d, "customer"), "c_custkey",
      T(s, d, "orders").select(col("o_custkey"))
        .union(T(s, d, "orders")
          .select((col("o_custkey") + 10000000L).as("o_custkey"))),
      "o_custkey", d = 3, mBits = 4096),
    Some {
      val r3 = "(SELECT unnest([0, 1, 2]) AS row)"
      s"""WITH mem AS (SELECT DISTINCT CAST(c_custkey AS VARCHAR) AS pkey
          FROM customer WHERE c_custkey IS NOT NULL),
        bits AS (SELECT DISTINCT row,
          ${phSql("CAST(row AS VARCHAR) || '#' || pkey")} % 4096 AS bucket
          FROM mem CROSS JOIN $r3),
        p AS (SELECT DISTINCT CAST(k AS VARCHAR) AS pkey FROM
          (SELECT o_custkey AS k FROM orders
           UNION ALL SELECT o_custkey + 10000000 FROM orders)
          WHERE k IS NOT NULL),
        ph AS (SELECT pkey, row,
          ${phSql("CAST(row AS VARCHAR) || '#' || pkey")} % 4096 AS bucket
          FROM p CROSS JOIN $r3),
        hits AS (SELECT pkey FROM ph JOIN bits USING (row, bucket)
          GROUP BY pkey HAVING count(*) = 3),
        j AS (SELECT p.pkey, m.pkey AS mk, h.pkey AS hk FROM p
          LEFT JOIN mem m ON p.pkey = m.pkey
          LEFT JOIN hits h ON p.pkey = h.pkey)
        SELECT CAST(count(*) AS BIGINT) AS n_probes,
          CAST(count(mk) AS BIGINT) AS n_members,
          CAST(count(hk) AS BIGINT) AS n_hits,
          CAST(sum(CASE WHEN hk IS NOT NULL AND mk IS NULL
            THEN 1 ELSE 0 END) AS BIGINT) AS n_false_pos,
          CAST((sum(CASE WHEN hk IS NOT NULL AND mk IS NULL
            THEN 1 ELSE 0 END) * 1000000)
            // (count(*) - count(mk)) AS BIGINT) AS fp_ppm
        FROM j"""
    })

  /** Pairwise source Jensen–Shannon divergence (shared-term scan +
    * one-sided-mass closed form), 6 dp.
    */
  private val l93 = Spec("q222_source_js",
    (s, d) => graft.llm.Curation.sourceJensenShannon(
      T(s, d, "documents"), "text", "source"),
    Some(s"""WITH st AS (SELECT source, unnest($wordsSql) AS t
          FROM documents),
        c AS (SELECT source, t, CAST(count(*) AS BIGINT) AS n
          FROM st GROUP BY 1, 2),
        tot AS (SELECT source, sum(n) AS ntot FROM c GROUP BY 1),
        p AS (SELECT c.source, t, CAST(n AS DOUBLE) / CAST(ntot AS DOUBLE)
          AS p FROM c JOIN tot USING (source)),
        sh AS (SELECT a.source AS source_a, b.source AS source_b,
          a.p AS pa, b.p AS pb FROM p a
          JOIN p b ON a.t = b.t AND a.source < b.source),
        g AS (SELECT source_a, source_b,
          CAST(count(*) AS BIGINT) AS n_shared_terms,
          sum(pa * ln(2 * pa / (pa + pb)) / 2
            + pb * ln(2 * pb / (pa + pb)) / 2) AS core,
          sum(pa) AS sa, sum(pb) AS sb FROM sh GROUP BY 1, 2)
        SELECT source_a, source_b, n_shared_terms,
          round(core + ln(2) / 2 * (2 - sa - sb), 6) AS js FROM g"""))

  /** Heaps-law vocabulary-growth fit: prefix curve at 50-doc bucket
    * boundaries, Theil–Sen lower-median slope in log–log space.
    */
  private val l94 = Spec("q223_heaps_law",
    (s, d) => graft.llm.Lexical.heapsLawFit(
      T(s, d, "documents"), "doc_id", "text", bucketSize = 50L),
    Some(s"""WITH t AS (SELECT doc_id, $wordsSql AS words FROM documents),
        pd AS (SELECT doc_id, CAST(len(words) AS BIGINT) AS nt FROM t),
        fo AS (SELECT tok, min(doc_id) AS fid FROM
          (SELECT doc_id, unnest(list_distinct(words)) AS tok FROM t)
          GROUP BY 1),
        nn AS (SELECT fid, CAST(count(*) AS BIGINT) AS n_new
          FROM fo GROUP BY 1),
        dd AS (SELECT pd.doc_id, nt, coalesce(n_new, 0) AS n_new
          FROM pd LEFT JOIN nn ON pd.doc_id = nn.fid),
        b AS (SELECT doc_id // 50 AS bk, sum(nt) AS bt, sum(n_new) AS bn
          FROM dd GROUP BY 1),
        c AS (SELECT bk, sum(bt) OVER (ORDER BY bk) AS ct,
          sum(bn) OVER (ORDER BY bk) AS cv FROM b),
        pts AS (SELECT bk, ln(CAST(ct AS DOUBLE)) AS lx,
          ln(CAST(cv AS DOUBLE)) AS ly FROM c WHERE ct > 0 AND cv > 0),
        r AS (SELECT *, row_number() OVER (ORDER BY lx, bk) AS rn
          FROM pts),
        p2 AS (SELECT a.rn AS ra, b.rn AS rb,
          round((b.ly - a.ly) / (b.lx - a.lx), 6) AS slope
          FROM r a JOIN r b ON a.rn < b.rn AND a.lx <> b.lx),
        k AS (SELECT slope, row_number() OVER (ORDER BY slope, ra, rb)
          AS k, count(*) OVER () AS np FROM p2)
        SELECT CAST((SELECT count(*) FROM pts) AS BIGINT) AS n_points,
          CAST(np AS BIGINT) AS n_pairs, slope AS beta
        FROM k WHERE k = (np + 1) // 2"""))

  /** Iterative Lloyd k-means (k = 4, 2 assignment rounds, min-id seeds);
    * the oracle unrolls the identical E/M chain as CTEs (q105's
    * centroid/assign SQL, twice).
    */
  private val l95 = Spec("q224_kmeans_rounds",
    (s, d) => graft.llm.Similarity.kMeansRounds(
      T(s, d, "embeddings"), "vec_id", "embedding", k = 4, rounds = 2),
    Some(s"""WITH e AS (SELECT vec_id, embedding FROM embeddings),
        c0 AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT)
            AS cid,
          [round(CAST(x AS DOUBLE), 6) for x in embedding] AS centroid
          FROM (SELECT * FROM e ORDER BY vec_id LIMIT 4)),
        s1 AS (SELECT e.vec_id, c.cid,
          round(${cosSql("e.embedding", "c.centroid")}, 6) AS cos
          FROM e CROSS JOIN c0 c),
        a1 AS (SELECT vec_id, cid FROM (SELECT *, row_number() OVER
          (PARTITION BY vec_id ORDER BY cos DESC, cid) AS rk FROM s1)
          WHERE rk = 1),
        x1 AS (SELECT a1.cid, unnest([{'i': i, 'v': embedding[i+1]}
            for i in range(len(embedding))], recursive := true)
          FROM e JOIN a1 USING (vec_id)),
        cm1 AS (SELECT cid, i, round(avg(CAST(v AS DOUBLE)), 6) AS cv
          FROM x1 GROUP BY 1, 2),
        c1 AS (SELECT cid, list(cv ORDER BY i) AS centroid
          FROM cm1 GROUP BY 1),
        s2 AS (SELECT e.vec_id, c.cid,
          round(${cosSql("e.embedding", "c.centroid")}, 6) AS cos
          FROM e CROSS JOIN c1 c),
        r2 AS (SELECT *, row_number() OVER (PARTITION BY vec_id
          ORDER BY cos DESC, cid) AS rk FROM s2)
        SELECT vec_id, cid AS assigned, cos FROM r2 WHERE rk = 1"""))

  /** Ordered view→click→purchase funnel at user grain: greedy earliest
    * step times, strict-after chaining, nulls from first drop-off.
    */
  private val l96 = Spec("q225_funnel_steps",
    (s, d) => graft.engine.Windows.funnelSteps(T(s, d, "events"),
      "user_id", "ts", "event_type", Seq("view", "click", "purchase")),
    Some("""WITH s1 AS (SELECT user_id, min(ts) AS t1 FROM events
          WHERE event_type = 'view' GROUP BY 1),
        s2 AS (SELECT s1.user_id, t1,
          min(CASE WHEN e.ts > t1 THEN e.ts END) AS t2
          FROM s1 LEFT JOIN events e ON e.user_id = s1.user_id
            AND e.event_type = 'click'
          GROUP BY 1, 2),
        s3 AS (SELECT s2.user_id, t1, t2,
          min(CASE WHEN e.ts > t2 THEN e.ts END) AS t3
          FROM s2 LEFT JOIN events e ON e.user_id = s2.user_id
            AND e.event_type = 'purchase'
          GROUP BY 1, 2, 3)
        SELECT user_id, t1, t2, t3,
          CAST((CASE WHEN t1 IS NOT NULL THEN 1 ELSE 0 END)
            + (CASE WHEN t2 IS NOT NULL THEN 1 ELSE 0 END)
            + (CASE WHEN t3 IS NOT NULL THEN 1 ELSE 0 END) AS INT)
            AS n_completed
        FROM s3"""))

  /** Multimodal sequence packing: per-doc cost = text tokens + ViT
    * patch count from the stub image metadata, packed per lang at an
    * 8192-token context budget.
    */
  private val l97 = Spec("q226_mm_pack",
    (s, d) => {
      val withMm = T(s, d, "documents")
        .withColumn("mm", Multimodal.attach(col("text").cast("binary"),
          lit("image"), polyhash(col("text"))))
      val cost = withMm.select(col("lang"), col("doc_id"),
        (graft.functions.TokenCount.tokenCount(col("text")).cast("long")
          + Multimodal.patchCount(col("mm"), 128, 128)).as("cost"))
      graft.llm.Shaping.packByCost(cost, "doc_id", "cost", "lang", 8192L)
    },
    Some(s"""WITH t AS (SELECT doc_id, lang,
          CAST(len($wordsSql) AS BIGINT) AS ntok,
          CAST(h % 1280 + 64 AS INTEGER) AS width,
          CAST(h % 720 + 64 AS INTEGER) AS height
          FROM (SELECT doc_id, lang, text, ${phSql("text")} AS h
            FROM documents)),
        c AS (SELECT lang, doc_id, ntok + CAST(
          (CASE WHEN width >= 128 THEN (width - 128) // 128 + 1 ELSE 0 END)
          * (CASE WHEN height >= 128 THEN (height - 128) // 128 + 1
             ELSE 0 END) AS BIGINT) AS cost FROM t),
        p AS (SELECT lang, doc_id, cost, coalesce(sum(cost) OVER
          (PARTITION BY lang ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS st
          FROM c)
        SELECT lang, doc_id, cost, CAST(st // 8192 AS BIGINT) AS bin
        FROM p"""))

  /** Best-copy-per-cluster dedup pick over the case-variant dup corpus:
    * the longer (suffixed) variant must win its cluster, not the
    * min-id original.
    */
  private val l98 = Spec("q227_keep_best_per_cluster",
    (s, d) => {
      val docs = T(s, d, "documents").select(col("doc_id"), col("text"))
      val corpus = docs.unionByName(docs.filter(col("doc_id") % 13 === 0)
        .select((col("doc_id") + 100000000L).as("doc_id"),
          concat(upper(col("text")), lit(" !!")).as("text")))
      val clustered = corpus.select(col("doc_id"),
        md5(array_join(graft.functions.Tokens.tokens(col("text")), " ")
          .cast("binary")).as("cluster"),
        length(col("text")).cast("long").as("score"))
      graft.llm.Dedup.keepBestPerCluster(clustered, "doc_id", "cluster",
        "score")
    },
    Some(s"""WITH corpus AS ($caseDupCorpusSql),
        t AS (SELECT doc_id,
          md5(array_to_string($wordsSql, ' ')) AS cluster,
          CAST(length(text) AS BIGINT) AS score FROM corpus),
        r AS (SELECT *, row_number() OVER (PARTITION BY cluster
          ORDER BY score DESC, doc_id) AS rk FROM t)
        SELECT doc_id, cluster, score FROM r WHERE rk = 1"""))

  /** Multi-epoch up-sampling schedule: skewed target weights (src0 at
    * 25%, src1 at 15%, the rest at their uniform ~5% share) → per-source
    * epoch counts (max(1, w DIV share)) → doc × epoch explode: src0 runs
    * 5 epochs, src1 3, everyone else 1.
    */
  private val l99 = Spec("q229_epoch_plan",
    (s, d) => {
      val docs = T(s, d, "documents")
      val w = docs.select(col("source")).distinct()
        .withColumn("weight_ppm",
          when(col("source") === "src0", 250000L)
            .when(col("source") === "src1", 150000L)
            .otherwise(33333L))
      graft.llm.Shaping.epochPlan(
        docs.select(col("doc_id"), col("source")), "source", "doc_id", w)
    },
    Some("""WITH w AS (SELECT DISTINCT source,
          CASE WHEN source = 'src0' THEN 250000
               WHEN source = 'src1' THEN 150000
               ELSE 33333 END AS wp FROM documents),
        c AS (SELECT source, CAST(count(*) AS BIGINT) AS n
          FROM documents GROUP BY 1),
        ct AS (SELECT c.*, sum(n) OVER () AS dtot FROM c),
        r AS (SELECT ct.source,
          greatest(1, wp // ((n * 1000000) // dtot)) AS n_epochs
          FROM ct JOIN w USING (source))
        SELECT d.source, d.doc_id, CAST(n_epochs AS BIGINT) AS n_epochs,
          CAST(unnest(generate_series(1, CAST(n_epochs AS INT)))
            AS BIGINT) AS epoch
        FROM documents d JOIN r USING (source)"""))

  /** ADC retrieval over PQ codes (m = 2 subspaces, label codebooks,
    * first-4 query vectors, k = 5): the compressed-corpus search that
    * completes the PQ story (codebooks → codes → asymmetric-distance
    * scan). The oracle extends q129's CTE chain with the query LUT.
    */
  private val l100 = Spec("q230_pq_adc_topk",
    (s, d) => {
      val emb = T(s, d, "embeddings")
      val cb = pqLabelCodebooks(s, d)
      Similarity.pqAdcTopK(
        Similarity.pqEncode(emb, "vec_id", "embedding", cb), cb,
        emb.filter(col("vec_id") < 4), "vec_id", "vec_id", "embedding",
        k = 5)
    },
    Some(s"""WITH ex AS (SELECT label, unnest([{'i': i, 'v': embedding[i+1]}
            for i in range(len(embedding))], recursive := true)
          FROM embeddings),
        cm AS (SELECT CAST(i // 32 AS INT) AS s, label AS code, i,
          round(avg(CAST(v AS DOUBLE)), 6) AS cv FROM ex GROUP BY 1, 2, 3),
        cent AS (SELECT s, code, list(cv ORDER BY i) AS centroid
          FROM cm GROUP BY 1, 2),
        sc AS (SELECT e.vec_id, c.s, c.code,
          round(2 * ${dot2("e.embedding[c.s*32+1 : c.s*32+32]",
            "c.centroid")} - ${dot2("c.centroid", "c.centroid")}, 6) AS sim
          FROM embeddings e CROSS JOIN cent c),
        r AS (SELECT *, row_number() OVER (PARTITION BY vec_id, s
          ORDER BY sim DESC, code) AS rk FROM sc),
        codes AS (SELECT vec_id, s, code FROM r WHERE rk = 1),
        q AS (SELECT vec_id AS query_id, embedding FROM embeddings
          WHERE vec_id < 4),
        lut AS (SELECT query_id, c.s, c.code,
          round(${dot2("q.embedding[c.s*32+1 : c.s*32+32]", "c.centroid")},
            6) AS psim
          FROM q CROSS JOIN cent c),
        a AS (SELECT lut.query_id, codes.vec_id, round(sum(psim), 6) AS adc
          FROM codes JOIN lut USING (s, code) GROUP BY 1, 2),
        rr AS (SELECT *, row_number() OVER (PARTITION BY query_id
          ORDER BY adc DESC, vec_id) AS rank FROM a)
        SELECT query_id, vec_id, adc, CAST(rank AS INT) AS rank
        FROM rr WHERE rank <= 5"""))

  /** URL canonicalization over synthesized crawl-variant URLs: fragment
    * and utm_* stripped, scheme+host lowercased (path case kept),
    * trailing slash removed, surviving params preserved. The oracle
    * replays the identical split/filter/join pipeline (deliberately
    * regex-free — capture-group replacement syntax is not portable).
    */
  private val l101 = Spec("q232_canonical_url",
    (s, d) => {
      val url = when(col("doc_id") % 4 === 0,
          concat(lit("HTTPS://WWW."), upper(col("source")),
            lit(".COM/Page/"), col("doc_id"),
            lit("?utm_source=feed&x=1#frag")))
        .when(col("doc_id") % 4 === 1,
          concat(lit("https://www."), col("source"), lit(".com/Page/"),
            col("doc_id"), lit("?x=1")))
        .when(col("doc_id") % 4 === 2,
          concat(lit("https://www."), col("source"), lit(".com/page/"),
            col("doc_id"), lit("/")))
        .otherwise(concat(lit("https://www."), col("source"),
          lit(".com/page/"), col("doc_id"), lit("?utm_campaign=a")))
      T(s, d, "documents").select(col("doc_id"), url.as("url"),
        graft.llm.Curation.canonicalizeUrl(url).as("canonical"))
    },
    Some("""WITH u AS (SELECT doc_id, CASE
          WHEN doc_id % 4 = 0 THEN 'HTTPS://WWW.' || upper(source)
            || '.COM/Page/' || doc_id || '?utm_source=feed&x=1#frag'
          WHEN doc_id % 4 = 1 THEN 'https://www.' || source
            || '.com/Page/' || doc_id || '?x=1'
          WHEN doc_id % 4 = 2 THEN 'https://www.' || source
            || '.com/page/' || doc_id || '/'
          ELSE 'https://www.' || source || '.com/page/' || doc_id
            || '?utm_campaign=a' END AS url FROM documents),
        s1 AS (SELECT doc_id, url,
          string_split(url, '#')[1] AS nofrag FROM u),
        s2 AS (SELECT *, string_split(nofrag, '?')[1] AS base,
          CASE WHEN len(string_split(nofrag, '?')) > 1
            THEN string_split(nofrag, '?')[2] ELSE '' END AS query
          FROM s1),
        s3 AS (SELECT *, list_filter(string_split(query, '&'), p ->
          NOT starts_with(p, 'utm_') AND NOT starts_with(p, 'fbclid=')
          AND NOT starts_with(p, 'gclid=') AND p != '') AS kept FROM s2),
        s4 AS (SELECT *, string_split(base, '://') AS sp FROM s3),
        s5 AS (SELECT *, CASE WHEN len(sp) > 1 THEN sp[2] ELSE base END
          AS rest FROM s4),
        s6 AS (SELECT *, string_split(rest, '/')[1] AS host,
          CASE WHEN len(string_split(rest, '/')) > 1
            THEN '/' || array_to_string(string_split(rest, '/')[2:], '/')
            ELSE '' END AS pth FROM s5),
        s7 AS (SELECT *, CASE WHEN len(sp) > 1
            THEN lower(sp[1]) || '://' || lower(host) || rtrim(pth, '/')
            ELSE lower(host) || rtrim(pth, '/') END AS cleanbase
          FROM s6)
        SELECT doc_id, url, CASE WHEN len(kept) > 0
          THEN cleanbase || '?' || array_to_string(kept, '&')
          ELSE cleanbase END AS canonical FROM s7"""))

  /** Code-vs-prose flags over a code-injected corpus (every 5th doc
    * gets a function block appended; the raw corpus has zero structural
    * lines — probed before fixture design, the q219 lesson).
    */
  private val l102 = Spec("q234_code_flags",
    (s, d) => graft.llm.Text.codeFlags(
      T(s, d, "documents").withColumn("text",
        when(col("doc_id") % 5 === 0, concat(col("text"),
          lit("\ndef main(x):\n    y = x + 1;\n    return y;\n}")))
          .otherwise(col("text"))),
      "doc_id", "text"),
    Some("""WITH c AS (SELECT doc_id, CASE WHEN doc_id % 5 = 0
          THEN text || chr(10) || 'def main(x):' || chr(10)
            || '    y = x + 1;' || chr(10) || '    return y;'
            || chr(10) || '}'
          ELSE text END AS text FROM documents),
        t AS (SELECT doc_id, text, string_split(text, chr(10)) AS ls
          FROM c),
        m AS (SELECT doc_id,
          CAST(len(ls) AS BIGINT) AS n_lines,
          CAST(len(list_filter(ls, l -> ends_with(rtrim(l), ';')))
            AS BIGINT) AS n_semi_lines,
          CAST(len(list_filter(ls, l -> ends_with(rtrim(l), '{')
            OR trim(l) = '}')) AS BIGINT) AS n_brace_lines,
          CAST(len(list_filter(ls, l -> substr(l, 1, 4) = '    '
            OR substr(l, 1, 1) = chr(9))) AS BIGINT) AS n_indent_lines,
          CAST(len(list_filter(ls, l -> ends_with(rtrim(l), ';')
            OR ends_with(rtrim(l), '{') OR trim(l) = '}'
            OR substr(l, 1, 4) = '    ' OR substr(l, 1, 1) = chr(9)))
            AS BIGINT) AS n_struct_lines,
          (contains(text, 'def ') OR contains(text, '#include')
            OR contains(text, 'function ')) AS has_kw
          FROM t)
        SELECT *, (has_kw OR 10 * n_struct_lines >= 3 * n_lines)
          AS is_code FROM m"""))

  /** Instruction-pair mining over a Q/A-injected corpus (every 7th doc
    * gets two question/answer line pairs appended).
    */
  private val l103 = Spec("q235_prompt_pairs",
    (s, d) => graft.llm.Curation.minePromptPairs(
      T(s, d, "documents").withColumn("text",
        when(col("doc_id") % 7 === 0, concat(col("text"),
          lit("\nWhat is the answer?\nIt is 42.\nWhy?\nBecause.")))
          .otherwise(col("text"))),
      "doc_id", "text"),
    Some("""WITH c AS (SELECT doc_id, CASE WHEN doc_id % 7 = 0
          THEN text || chr(10) || 'What is the answer?' || chr(10)
            || 'It is 42.' || chr(10) || 'Why?' || chr(10) || 'Because.'
          ELSE text END AS text FROM documents),
        t AS (SELECT doc_id, string_split(text, chr(10)) AS ls FROM c),
        p AS (SELECT doc_id, unnest([{'pos': i,
            'prompt': trim(ls[i + 1]), 'response': trim(ls[i + 2])}
          for i in range(CASE WHEN len(ls) >= 2 THEN len(ls) - 1
            ELSE 0 END)], recursive := true) FROM t)
        SELECT doc_id, CAST(pos AS INT) AS pos, prompt, response FROM p
        WHERE ends_with(prompt, '?') AND response != ''"""))

  /** Mixed-language detection over a French-injected corpus (every 11th
    * doc gets a run of fr markers appended): primary/secondary language
    * + counts + the 30%-ratio mixed flag. The oracle reuses the shared
    * lang-ID count fragment and mirrors both CASE chains.
    */
  private val l104 = Spec("q236_lang_mixture",
    (s, d) => graft.llm.Text.langMixture(
      T(s, d, "documents").withColumn("text",
        when(col("doc_id") % 11 === 0, concat(col("text"),
          lit(" le la les et des est un dans"))).otherwise(col("text"))),
      "doc_id", "text", ratioPct = 30),
    Some {
      val langs = Seq("en", "de", "fr", "es", "zh")
      val mask = langs.map(l => s"CASE WHEN primary_lang = '$l' THEN -1 " +
        s"ELSE c_$l END AS m_$l").mkString(", ")
      val ms = langs.map(l => s"m_$l").mkString("greatest(", ",", ")")
      val secCase = langs.map(l =>
        s"WHEN ms = m_$l AND m_$l > 0 THEN '$l'")
        .mkString("CASE ", " ", " ELSE 'und' END")
      s"""WITH cc AS (SELECT doc_id, CASE WHEN doc_id % 11 = 0
            THEN text || ' le la les et des est un dans'
            ELSE text END AS text FROM documents),
        t AS (SELECT doc_id, $wordsSql AS words FROM cc),
        m AS (SELECT doc_id, $langCountsSql FROM t),
        x AS (SELECT *, greatest(c_en, c_de, c_fr, c_es, c_zh) AS mx
          FROM m),
        p AS (SELECT *, $langCaseSql AS primary_lang FROM x),
        k AS (SELECT *, $mask FROM p),
        y AS (SELECT *, $ms AS ms FROM k),
        sc AS (SELECT *, $secCase AS secondary_lang FROM y),
        f AS (SELECT doc_id, primary_lang,
          CAST(CASE WHEN primary_lang != 'und' THEN mx ELSE 0 END AS INT)
            AS n_primary,
          secondary_lang,
          CAST(CASE WHEN secondary_lang != 'und' THEN ms ELSE 0 END
            AS INT) AS n_secondary FROM sc)
        SELECT *, (n_primary > 0 AND n_secondary * 100 >= n_primary * 30)
          AS mixed FROM f"""
    })

  /** SemDeDup-style composite: embedding near-dup pairs (q65's injected
    * fixture) → connected components → keep the highest-norm member per
    * cluster — the end-to-end semantic prune with a quality pick
    * instead of keep-min-id, every stage an operator already
    * oracle-proven alone (q65/q69/q227); this pins the COMPOSITION.
    *
    * Anchors are corpus-scaled via [[Similarity.autoAnchors]]
    * (m = ⌈log₂(N/256)⌉ sign planes → expected bucket ≈ 256 at ANY
    * corpus size), NOT a pinned count: with fixed anchors the bucket
    * count is constant, so per-bucket all-pairs work grows
    * quadratically at 100× and the maxBucket cap starts silently
    * dropping recall. The oracle mirrors the derivation exactly —
    * integer bit-length math on the corpus count (see
    * [[Similarity.anchorCount]]'s cross-engine note) and anchor ordinal
    * j = row_number over vec_id − 1 — so Spark and DuckDB agree on the
    * full bucket layout at every SF.
    */
  private val l105 = Spec("q237_semantic_prune",
    (s, d) => {
      val corpus = nearDupEmb(s, d)
      val anchors = Similarity.autoAnchors(corpus, "vec_id", "embedding",
        targetBucket = 256)
      val pairs = Similarity.cosineNearDups(corpus, "vec_id", "embedding",
        anchors, 0.5, maxBucket = 1000)
      val clusters = Dedup.duplicateClusters(pairs, "id_a", "id_b")
      val scored = clusters.join(corpus.select(col("vec_id").as("doc"),
        round(Similarity.norm(col("embedding")), 6).as("score")), "doc")
      Dedup.keepBestPerCluster(scored, "doc", "cluster", "score")
    },
    Some {
      s"""WITH RECURSIVE corpus AS ($nearDupEmbSql),
          mm AS (SELECT greatest(1,
            length(bin(((count(*) + 255) // 256) - 1))) AS m FROM corpus),
          anch AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS j,
            embedding AS avec FROM corpus ORDER BY vec_id
            LIMIT (SELECT m FROM mm)),
          b0 AS (SELECT v.vec_id AS id, v.embedding AS vec,
            sum(CASE WHEN ${dot2("v.embedding", "a.avec")} > 0
              THEN (CAST(1 AS BIGINT) << a.j) ELSE CAST(0 AS BIGINT) END)
              AS bucket
            FROM corpus v CROSS JOIN anch a GROUP BY v.vec_id, v.embedding),
          b AS (SELECT bucket, id, vec FROM (SELECT *,
            count(*) OVER (PARTITION BY bucket) AS bucket_n FROM b0)
            WHERE bucket_n <= 1000),
          pp AS (SELECT x.id AS id_a, y.id AS id_b,
            ${cosSql("x.vec", "y.vec")}
            AS cos FROM b x JOIN b y ON x.bucket = y.bucket
            AND x.id < y.id),
          cand AS (SELECT id_a, id_b FROM pp
            WHERE cos >= CAST(0.5 AS DOUBLE)),
          edges AS (SELECT id_a AS s, id_b AS d FROM cand
            UNION SELECT id_b, id_a FROM cand),
          nodes AS (SELECT DISTINCT s FROM edges),
          reach(s, d) AS (SELECT s, s FROM nodes
            UNION SELECT r.s, e.d FROM reach r JOIN edges e ON r.d = e.s),
          cl AS (SELECT s AS doc, min(d) AS cluster FROM reach GROUP BY s),
          scd AS (SELECT cl.doc, cl.cluster,
            round(sqrt(${dot2("c.embedding", "c.embedding")}), 6) AS score
            FROM cl JOIN corpus c ON c.vec_id = cl.doc),
          rr AS (SELECT *, row_number() OVER (PARTITION BY cluster
            ORDER BY score DESC, doc) AS rk FROM scd)
          SELECT doc, cluster, score FROM rr WHERE rk = 1"""
    })

  private val l87 = Spec("q215_gopher_flags",
    (s, d) => graft.llm.Curation.gopherFlags(
      T(s, d, "documents").filter(col("text").isNotNull), "doc_id", "text"),
    Some {
      val stopsSum = Seq("the", "be", "to", "of", "and", "that", "have",
        "with").map(w =>
        s"(CASE WHEN list_contains(nw, '$w') THEN 1 ELSE 0 END)")
        .mkString(" + ")
      s"""WITH w AS (SELECT doc_id, text,
          list_filter(string_split_regex(text, '\\s+'), x -> x != '') AS rw,
          string_split(text, chr(10)) AS ls,
          $wordsSql AS nw
        FROM documents WHERE text IS NOT NULL),
      c AS (SELECT doc_id,
          CAST(len(rw) AS BIGINT) AS n_words,
          CAST(len(ls) AS BIGINT) AS n_lines,
          CAST(coalesce(list_sum([CAST(len(x) AS BIGINT) for x in rw]), 0)
            AS BIGINT) AS sum_word_chars,
          CAST(len(list_filter(rw, x -> regexp_matches(x, '[A-Za-z]')))
            AS BIGINT) AS n_alpha_words,
          CAST(len(text) - len(replace(text, '#', ''))
            + len(regexp_extract_all(text, '\\.\\.\\.|…')) AS BIGINT)
            AS n_symbols,
          CAST(len(list_filter(ls, l -> regexp_matches(l, '^ *[-*•]')))
            AS BIGINT) AS n_bullet_lines,
          CAST(len(list_filter(ls, l -> regexp_matches(l,
            '(\\.\\.\\.|…) *$$'))) AS BIGINT) AS n_ellipsis_lines,
          CAST($stopsSum AS BIGINT) AS n_stops_present
        FROM w)
      SELECT *,
        (n_words < 50 OR n_words > 100000) AS f_word_count,
        (sum_word_chars < 3 * n_words OR sum_word_chars > 10 * n_words)
          AS f_mean_word_len,
        10 * n_symbols > n_words AS f_symbol_ratio,
        10 * n_bullet_lines > 9 * n_lines AS f_bullet,
        10 * n_ellipsis_lines > 3 * n_lines AS f_ellipsis,
        5 * n_alpha_words < 4 * n_words AS f_alpha,
        n_stops_present < 2 AS f_stopwords,
        NOT ((n_words < 50 OR n_words > 100000)
          OR (sum_word_chars < 3 * n_words OR sum_word_chars > 10 * n_words)
          OR 10 * n_symbols > n_words
          OR 10 * n_bullet_lines > 9 * n_lines
          OR 10 * n_ellipsis_lines > 3 * n_lines
          OR 5 * n_alpha_words < 4 * n_words
          OR n_stops_present < 2) AS keep
      FROM c"""
    })

  /** DSIR-style importance weights against the English slice as the
    * target domain: hashed-unigram bag models (64 buckets, add-one
    * smoothing), per-doc log importance = log p_target − log p_raw.
    * The importance-resampling data-selection recipe, engine-stable via
    * 6-dp-rounded per-bucket log-ratios folded in bucket order.
    */
  private val l106 = Spec("q241_dsir_weights",
    (s, d) => graft.llm.Selection.dsirImportanceWeights(
      T(s, d, "documents"), "doc_id", "text",
      col("lang") === "en", nBuckets = 64),
    Some(s"""WITH t AS (SELECT doc_id, lang, $wordsSql AS words
            FROM documents),
          ex AS (SELECT doc_id, (lang = 'en') AS tgt,
            CAST(${phSql("w")} % 64 AS INT) AS b
            FROM (SELECT doc_id, lang, unnest(words) AS w FROM t)),
          pd AS (SELECT doc_id, tgt, b, count(*) AS n FROM ex
            GROUP BY doc_id, tgt, b),
          raw AS (SELECT b, sum(n) AS r FROM pd GROUP BY b),
          tg AS (SELECT b, sum(n) AS tc FROM pd WHERE tgt GROUP BY b),
          tot AS (SELECT (SELECT sum(r) FROM raw) AS rt,
            (SELECT coalesce(sum(tc), 0) FROM tg) AS tt),
          model AS (SELECT raw.b,
            round(ln(CAST(coalesce(tc, 0) + 1 AS DOUBLE)
                / CAST(tt + 64 AS DOUBLE))
              - ln(CAST(r + 1 AS DOUBLE) / CAST(rt + 64 AS DOUBLE)), 6)
              AS lr
            FROM raw LEFT JOIN tg USING (b) CROSS JOIN tot),
          sc AS (SELECT doc_id, sum(n) AS nt,
            list_reduce(list_prepend(CAST(0 AS DOUBLE),
              list(CAST(n AS DOUBLE) * lr ORDER BY b)),
              (a, x) -> a + x) AS s
            FROM pd JOIN model USING (b) GROUP BY doc_id)
          SELECT t.doc_id, CAST(coalesce(sc.nt, 0) AS BIGINT) AS n_tokens,
            round(sc.s, 6) AS logw
          FROM t LEFT JOIN sc USING (doc_id)"""))

  /** Hashed-token Naive Bayes lang classifier: train on doc_id % 5 != 0,
    * score the held-out fifth — the aggregate-expressed fastText-filter
    * shape; model = 5×64 broadcast grid.
    */
  private val l107 = Spec("q242_nb_classify",
    (s, d) => graft.llm.Selection.nbTrainScore(
      T(s, d, "documents"), "doc_id", "text", "lang",
      pmod(col("doc_id"), lit(5)) =!= 0, nBuckets = 64),
    Some(s"""WITH t AS (SELECT doc_id, lang, (doc_id % 5 != 0) AS tr,
            $wordsSql AS words FROM documents),
          ex AS (SELECT doc_id, lang, tr,
            CAST(${phSql("w")} % 64 AS INT) AS b
            FROM (SELECT doc_id, lang, tr, unnest(words) AS w FROM t)),
          pd AS (SELECT doc_id, lang, tr, b, count(*) AS n FROM ex
            GROUP BY doc_id, lang, tr, b),
          trdocs AS (SELECT DISTINCT doc_id, lang FROM pd WHERE tr),
          pri AS (SELECT lang AS l, count(*) AS dl FROM trdocs
            GROUP BY lang),
          nt AS (SELECT sum(dl) AS dt FROM pri),
          priors AS (SELECT l, round(ln(CAST(dl AS DOUBLE)
            / CAST(dt AS DOUBLE)), 6) AS prior
            FROM pri CROSS JOIN nt),
          cnt AS (SELECT lang AS l, b, sum(n) AS c FROM pd WHERE tr
            GROUP BY lang, b),
          totl AS (SELECT l, sum(c) AS tl FROM cnt GROUP BY l),
          grid AS (SELECT l, CAST(i.i AS INT) AS b FROM priors
            CROSS JOIN (SELECT unnest(range(64)) AS i) i),
          model AS (SELECT g.l, g.b,
            round(ln(CAST(coalesce(c, 0) + 1 AS DOUBLE)
              / CAST(coalesce(tl, 0) + 64 AS DOUBLE)), 6) AS ll
            FROM grid g LEFT JOIN cnt ON cnt.l = g.l AND cnt.b = g.b
            LEFT JOIN totl ON totl.l = g.l),
          held AS (SELECT doc_id, lang AS tru, b, n FROM pd
            WHERE NOT tr),
          sc AS (SELECT doc_id, tru, m.l AS pl,
            list_reduce(list_prepend(CAST(0 AS DOUBLE),
              list(CAST(n AS DOUBLE) * ll ORDER BY b)),
              (a, x) -> a + x) AS s
            FROM held JOIN model m USING (b)
            GROUP BY doc_id, tru, m.l),
          fin AS (SELECT doc_id, tru, pl, round(prior + s, 6) AS score
            FROM sc JOIN priors p ON p.l = sc.pl),
          r AS (SELECT *, row_number() OVER (PARTITION BY doc_id
            ORDER BY score DESC, pl) AS rk FROM fin)
          SELECT doc_id, tru AS label, pl AS pred_label, score
          FROM r WHERE rk = 1"""))

  /** Global length-curriculum position (bucket width 32 tokens,
    * hash-shuffled within bucket) — total order with no global sort.
    */
  private val l108 = Spec("q243_curriculum_order",
    (s, d) => graft.llm.Selection.curriculumOrder(
      T(s, d, "documents"), "doc_id", "text", bucketWidth = 32),
    Some(s"""WITH t AS (SELECT doc_id,
            CAST(len($wordsSql) AS BIGINT) AS n_tokens FROM documents),
          b AS (SELECT doc_id, n_tokens, n_tokens // 32 AS bucket,
            ${phSql("'cur:' || CAST(doc_id AS VARCHAR)")} AS h FROM t)
          SELECT doc_id, n_tokens, bucket,
            CAST(row_number() OVER (ORDER BY bucket, h, doc_id)
              AS BIGINT) AS pos
          FROM b"""))

  /** Contrastive pair mining over the raw embedding corpus (first 16
    * vectors as anchors): best positive at cos ≥ 0.25, top-5 hard
    * negatives below 0.2.
    */
  private val l109 = Spec("q244_contrastive_pairs",
    (s, d) => {
      val emb = T(s, d, "embeddings")
      graft.llm.Selection.contrastiveMine(emb,
        emb.filter(col("vec_id") < 16), "vec_id", "embedding",
        "vec_id", k = 5, posThr = 0.25, negCeil = 0.2)
    },
    Some(s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qv
            FROM embeddings WHERE vec_id < 16),
          s AS (SELECT q.query_id, c.vec_id AS neighbor_id,
            ${cosSql("q.qv", "c.embedding")} AS cos
            FROM q CROSS JOIN embeddings c),
          pos AS (SELECT query_id, 'pos' AS role, CAST(rk AS INT)
              AS rank, neighbor_id, round(cos, 6) AS cos
            FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                ORDER BY cos DESC, neighbor_id) AS rk
              FROM s WHERE neighbor_id != query_id
                AND cos >= CAST(0.25 AS DOUBLE))
            WHERE rk = 1),
          neg AS (SELECT query_id, 'neg' AS role, CAST(rk AS INT)
              AS rank, neighbor_id, round(cos, 6) AS cos
            FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                ORDER BY cos DESC, neighbor_id) AS rk
              FROM s WHERE cos < CAST(0.2 AS DOUBLE))
            WHERE rk <= 5)
          SELECT * FROM pos UNION ALL SELECT * FROM neg"""))

  /** Winnowing fingerprint selection (k=4-gram hashes, window w=4):
    * the MOSS guarantee at ~1/w shingle density, per-doc map-side only.
    */
  private val l110 = Spec("q245_winnow_fingerprints",
    (s, d) => Dedup.winnowingFingerprints(
      T(s, d, "documents"), "doc_id", "text", k = 4, w = 4),
    Some(s"""WITH t AS (SELECT doc_id, $wordsSql AS words FROM documents),
          g AS (SELECT doc_id,
            [${phSql("array_to_string(words[i+1:i+4], ' ')")}
              for i in range(CASE WHEN len(words) >= 4
                THEN len(words) - 3 ELSE 0 END)] AS hs FROM t),
          m AS (SELECT doc_id, CASE
              WHEN len(hs) >= 4 THEN [list_min(hs[i+1:i+4])
                for i in range(len(hs) - 3)]
              WHEN len(hs) >= 1 THEN [list_min(hs)]
              ELSE [] END AS mins FROM g)
          SELECT doc_id, unnest(list_distinct(mins)) AS fp FROM m
          WHERE len(mins) > 0"""))

  /** Winnowing overlap pairs with the hot-fingerprint guard — the
    * MOSS-style detector as a bounded inverted-index self-join.
    */
  private val l111 = Spec("q246_winnow_pairs",
    (s, d) => Dedup.winnowingPairs(T(s, d, "documents"), "doc_id",
      "text", k = 4, w = 4, minShared = 2, maxDocsPerFp = 100),
    Some(s"""WITH t AS (SELECT doc_id, $wordsSql AS words FROM documents),
          g AS (SELECT doc_id,
            [${phSql("array_to_string(words[i+1:i+4], ' ')")}
              for i in range(CASE WHEN len(words) >= 4
                THEN len(words) - 3 ELSE 0 END)] AS hs FROM t),
          m AS (SELECT doc_id, CASE
              WHEN len(hs) >= 4 THEN [list_min(hs[i+1:i+4])
                for i in range(len(hs) - 3)]
              WHEN len(hs) >= 1 THEN [list_min(hs)]
              ELSE [] END AS mins FROM g),
          fps AS (SELECT doc_id, unnest(list_distinct(mins)) AS fp
            FROM m WHERE len(mins) > 0),
          bounded AS (SELECT doc_id, fp FROM (SELECT doc_id, fp,
              count(*) OVER (PARTITION BY fp) AS nd FROM fps)
            WHERE nd <= 100),
          p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
            FROM bounded a JOIN bounded b USING (fp)
            WHERE a.doc_id < b.doc_id)
          SELECT id_a, id_b, count(*) AS n_shared FROM p
          GROUP BY id_a, id_b HAVING count(*) >= 2"""))

  /** Packing-efficiency report per language over three candidate
    * context budgets — exact bins/waste/crossings for the contiguous
    * packing contract.
    */
  private val l112 = Spec("q247_packing_efficiency",
    (s, d) => graft.llm.Shaping.packingEfficiency(
      T(s, d, "documents"), "doc_id", "text", "lang",
      Seq(128, 512, 2048)),
    Some(s"""WITH t AS (SELECT lang, doc_id,
            CAST(len($wordsSql) AS BIGINT) AS n FROM documents),
          s AS (SELECT lang, doc_id, n, coalesce(sum(n) OVER (
              PARTITION BY lang ORDER BY doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
            AS st FROM t),
          e AS (SELECT lang, n, st,
            CAST(unnest([128, 512, 2048]) AS BIGINT) AS budget FROM s),
          a AS (SELECT lang, budget,
            count(*) AS n_docs, sum(n) AS total_tokens,
            sum(CASE WHEN n > 0
              THEN (st + n - 1) // budget - st // budget
              ELSE 0 END) AS n_crossings,
            sum(CASE WHEN n > budget THEN 1 ELSE 0 END) AS n_oversize
            FROM e GROUP BY lang, budget),
          b AS (SELECT *, CAST(CASE WHEN total_tokens > 0
              THEN (total_tokens + budget - 1) // budget
              ELSE 0 END AS BIGINT) AS n_bins FROM a)
          SELECT lang, budget, CAST(n_docs AS BIGINT) AS n_docs,
            CAST(total_tokens AS BIGINT) AS total_tokens, n_bins,
            CAST(n_bins * budget - total_tokens AS BIGINT) AS padding,
            CAST(CASE WHEN n_bins > 0
              THEN ((n_bins * budget - total_tokens) * 1000000)
                // (n_bins * budget) ELSE 0 END AS BIGINT) AS pad_ppm,
            CAST(n_crossings AS BIGINT) AS n_crossings,
            CAST(n_oversize AS BIGINT) AS n_oversize
          FROM b"""))

  /** Tokenizer fertility per language: subwords/word and chars/subword
    * — the per-language context-budget tax audit.
    */
  private val l113 = Spec("q248_tokenizer_fertility",
    (s, d) => graft.llm.Curation.tokenizerFertility(
      T(s, d, "documents"), "text", "lang"),
    Some(s"""SELECT lang, count(*) AS n_docs,
          CAST(sum(len($wordsSql)) AS BIGINT) AS n_words,
          CAST(sum(len(regexp_extract_all(lower(text),
            '[a-z]+|[0-9]+|[^a-z0-9 \t\n\f\r]+'))) AS BIGINT)
            AS n_subwords,
          CAST(sum(length(text)) AS BIGINT) AS n_chars,
          CASE WHEN sum(len($wordsSql)) > 0 THEN
            round(CAST(sum(len(regexp_extract_all(lower(text),
              '[a-z]+|[0-9]+|[^a-z0-9 \t\n\f\r]+'))) AS DOUBLE)
              / CAST(sum(len($wordsSql)) AS DOUBLE), 6) END AS fertility,
          CASE WHEN sum(len(regexp_extract_all(lower(text),
              '[a-z]+|[0-9]+|[^a-z0-9 \t\n\f\r]+'))) > 0 THEN
            round(CAST(sum(length(text)) AS DOUBLE)
              / CAST(sum(len(regexp_extract_all(lower(text),
                '[a-z]+|[0-9]+|[^a-z0-9 \t\n\f\r]+'))) AS DOUBLE), 6)
            END AS chars_per_subword
        FROM documents GROUP BY lang"""))

  /** Leakage-safe sharding composite: the proven LSH→CC cluster chain
    * routed through rendezvous on the cluster representative — every
    * near-dup family lands in one shard. Pins the COMPOSITION (the
    * q237 discipline) plus the singleton fallback.
    */
  private val l114 = Spec("q249_leakage_safe_shards",
    (s, d) => graft.llm.Selection.leakageSafeShards(nearDupCorpus(s, d),
      "doc_id", nearDupClusters(s, d), "doc", "cluster", k = 8),
    Some(s"""WITH RECURSIVE $lshCtes,
        cand AS (SELECT doc_a, doc_b FROM pairs
          WHERE est_jaccard >= CAST(0.25 AS DOUBLE)),
        edges AS (SELECT doc_a AS s, doc_b AS d FROM cand
          UNION SELECT doc_b, doc_a FROM cand),
        nodes AS (SELECT DISTINCT s FROM edges),
        reach(s, d) AS (SELECT s, s FROM nodes
          UNION SELECT r.s, e.d FROM reach r JOIN edges e ON r.d = e.s),
        cl AS (SELECT s AS doc, min(d) AS cluster FROM reach GROUP BY s),
        wr AS (SELECT c.doc_id, coalesce(cl.cluster, c.doc_id) AS rep
          FROM corpus c LEFT JOIN cl ON cl.doc = c.doc_id),
        p AS (SELECT doc_id, rep,
          unnest([{'s': s, 'h': (${phSql(
            "CAST(rep AS VARCHAR) || '#' || CAST(s AS VARCHAR)")}
            * 2654435761) % 1000000007}
            for s in range(0, 8)]) AS u
          FROM wr),
        e AS (SELECT doc_id, rep, u.s AS s, u.h AS h FROM p),
        r AS (SELECT doc_id, rep, s, row_number() OVER (
          PARTITION BY doc_id ORDER BY h DESC, s DESC) AS rn FROM e)
        SELECT doc_id, rep, CAST(s AS INT) AS shard FROM r
        WHERE rn = 1"""))

  /** JL sign projection 64→16 over the embedding corpus, pos-exploded
    * to the scalar gate shape. The ±1 matrix literal is generated from
    * the SAME `jlSigns` call the operator uses, so the oracle mirrors
    * the derivation by construction.
    */
  private val l115 = Spec("q250_jl_project",
    (s, d) => Similarity.jlProject(T(s, d, "embeddings"), "vec_id",
        "embedding", inDim = 64, outDim = 16)
      .select(col("vec_id"), posexplode(col("jl")))
      .withColumnRenamed("col", "jval")
      .withColumn("jval", round(col("jval"), 6)),
    Some {
      val m = Similarity.jlSigns(64, 16)
      val scale = 1.0 / math.sqrt(16.0)
      val terms = m.indices.map { j =>
        val signs = m(j).map(v => if (v > 0) "1.0" else "-1.0")
          .mkString("[", ",", "]")
        s"""{'p': $j, 'v': round(list_reduce(list_prepend(
            CAST(0 AS DOUBLE),
            list_transform(list_zip(embedding, $signs),
              x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE))),
            (a, b) -> a + b) * $scale, 6)}"""
      }.mkString("[", ",", "]")
      s"""SELECT vec_id, CAST(u.p AS INT) AS pos, u.v AS jval
          FROM (SELECT vec_id, unnest($terms) AS u FROM embeddings)"""
    })

  /** Shared HLL register CTE chain over events.user_id (p=8 → m=256,
    * quotient width 22): ends at `fullr` = the full 256-row register
    * axis. ONE copy for q251 (register face) and q252 (estimate face).
    */
  private val hllCtes: String =
    s"""h AS (SELECT (${phSql("CAST(user_id AS VARCHAR)")}
            * 2654435761) % 1000000007 AS h
          FROM events WHERE user_id IS NOT NULL),
        rh AS (SELECT h % 256 AS bucket, CASE WHEN h // 256 = 0 THEN 23
          ELSE 23 - length(bin(h // 256)) END AS rho FROM h),
        regs AS (SELECT bucket, max(rho) AS register FROM rh
          GROUP BY bucket),
        grid AS (SELECT unnest(range(256)) AS bucket),
        fullr AS (SELECT CAST(g.bucket AS INT) AS bucket,
          CAST(coalesce(register, 0) AS INT) AS register
          FROM grid g LEFT JOIN regs ON regs.bucket = g.bucket)"""

  /** HyperLogLog register table (p=8) over the event users — the
    * mergeable bounded-state distinct sketch; engine-exact integers.
    */
  private val l116 = Spec("q251_hll_registers",
    (s, d) => graft.engine.Sketches.hllRegisters(
      Queries.T(s, d, "events").select(col("user_id")), "user_id", p = 8),
    Some(s"""WITH $hllCtes SELECT bucket, register FROM fullr"""))

  /** HLL estimate with the small-range correction — the one-row face. */
  private val l117 = Spec("q252_hll_estimate",
    (s, d) => graft.engine.Sketches.hllEstimate(
      Queries.T(s, d, "events").select(col("user_id")), "user_id", p = 8),
    Some {
      val alpha = "CAST(0.7213 AS DOUBLE) / (CAST(1.0 AS DOUBLE) " +
        "+ CAST(1.079 AS DOUBLE) / 256)"
      s"""WITH $hllCtes,
          st AS (SELECT sum(power(CAST(2 AS DOUBLE), -register)) AS s2,
            sum(CASE WHEN register = 0 THEN 1 ELSE 0 END) AS nz
            FROM fullr),
          er AS (SELECT round($alpha * 256 * 256 / s2, 6) AS raw_est,
            nz, s2 FROM st)
          SELECT CAST(256 AS INT) AS m, CAST(nz AS BIGINT) AS n_zero,
            raw_est,
            round(CASE WHEN raw_est <= 2.5 * 256 AND nz > 0
              THEN CAST(256 AS DOUBLE) * ln(CAST(256 AS DOUBLE)
                / CAST(nz AS DOUBLE))
              ELSE $alpha * 256 * 256 / s2 END, 6) AS est
          FROM er"""
    })

  // ---- continuation wave: moments / KMV sketches, bigram LM, SemDeDup --

  /** Shared moments-sketch CTE over lineitem quantity by returnflag —
    * ONE copy for q253 (state face) and q254 (quantile face). */
  private val momentsCte: String =
    """v AS (SELECT l_returnflag, CAST(l_quantity AS BIGINT) AS x
          FROM lineitem WHERE l_quantity IS NOT NULL),
        sk AS (SELECT l_returnflag, count(*) AS n,
          CAST(sum(x) AS DECIMAL(38,0)) AS s1,
          CAST(sum(x*x) AS DECIMAL(38,0)) AS s2,
          CAST(sum(x*x*x) AS DECIMAL(38,0)) AS s3,
          CAST(sum(x*x*x*x) AS DECIMAL(38,0)) AS s4,
          CAST(min(x) AS BIGINT) AS vmin, CAST(max(x) AS BIGINT) AS vmax
          FROM v GROUP BY l_returnflag)"""

  /** Moments sketch state: exact integer power sums per group — the
    * mergeable quantile-sketch state (one row per returnflag). The gate
    * face casts the DECIMAL(38,0) sums through DOUBLE (exact at gate
    * magnitudes, ≤ 2⁵³; the comparator reads DuckDB decimals as float64)
    * — in-engine consumers ([[graft.engine.Sketches.momentsQuantiles]])
    * take the exact decimal state directly. */
  private val l118 = Spec("q253_moments_sketch",
    (s, d) => {
      val sk = graft.engine.Sketches.momentsSketch(
        T(s, d, "lineitem"), Seq("l_returnflag"), "l_quantity")
      sk.select(col("l_returnflag"), col("n"),
        col("s1").cast("double").as("s1"), col("s2").cast("double").as("s2"),
        col("s3").cast("double").as("s3"), col("s4").cast("double").as("s4"),
        col("vmin"), col("vmax"))
    },
    Some(s"""WITH $momentsCte
        SELECT l_returnflag, n, CAST(s1 AS DOUBLE) AS s1,
          CAST(s2 AS DOUBLE) AS s2, CAST(s3 AS DOUBLE) AS s3,
          CAST(s4 AS DOUBLE) AS s4, vmin, vmax FROM sk"""))

  /** Cornish-Fisher quantile estimates off the moments sketch — formulas
    * interpolated from the SAME [[graft.engine.Sketches.momentsDerivedSql]]
    * fragments Spark parses, so IEEE association is shared by
    * construction. */
  private val l119 = Spec("q254_moments_quantiles",
    (s, d) => graft.engine.Sketches.momentsQuantiles(
      graft.engine.Sketches.momentsSketch(
        T(s, d, "lineitem"), Seq("l_returnflag"), "l_quantity"),
      Seq("l_returnflag")),
    Some {
      val zRows = graft.engine.Sketches.quantileZ.map { case (nm, z) =>
        s"('$nm', CAST($z AS DOUBLE))"
      }.mkString(", ")
      val steps = graft.engine.Sketches.momentsDerivedSql
      val ctes = steps.zipWithIndex.map { case ((name, formula), i) =>
        s"c${i + 1} AS (SELECT *, $formula AS $name FROM c$i)"
      }.mkString(",\n        ")
      s"""WITH $momentsCte,
          zz AS (SELECT * FROM (VALUES $zRows) AS t(q, z)),
          c0 AS (SELECT sk.*, zz.q, zz.z FROM sk CROSS JOIN zz),
          $ctes
          SELECT l_returnflag, q, q_est FROM c${steps.size}"""
    })

  /** Grouped HLL: distinct users per event type from per-group register
    * state (p=6, m=64) — no per-group register grid materialized. */
  private val l120 = Spec("q255_hll_grouped",
    (s, d) => graft.engine.Sketches.hllGroupedEstimate(
      Queries.T(s, d, "events"), Seq("event_type"), "user_id", p = 6),
    Some {
      val alpha = "CAST(0.7213 AS DOUBLE) / (CAST(1.0 AS DOUBLE) " +
        "+ CAST(1.079 AS DOUBLE) / 64)"
      s"""WITH h AS (SELECT event_type,
            (${phSql("CAST(user_id AS VARCHAR)")} * 2654435761)
              % 1000000007 AS h
            FROM events WHERE user_id IS NOT NULL),
          rh AS (SELECT event_type, h % 64 AS bucket,
            CASE WHEN h // 64 = 0 THEN 25
              ELSE 25 - length(bin(h // 64)) END AS rho FROM h),
          regs AS (SELECT event_type, bucket, max(rho) AS r FROM rh
            GROUP BY event_type, bucket),
          st AS (SELECT event_type, count(*) AS occ,
            sum(power(CAST(2 AS DOUBLE), -r)) AS so FROM regs
            GROUP BY event_type),
          er AS (SELECT event_type, 64 - occ AS n_zero,
            so + CAST(64 - occ AS DOUBLE) AS s2 FROM st),
          er2 AS (SELECT event_type, n_zero, s2,
            round($alpha * 64 * 64 / s2, 6) AS raw_est FROM er)
          SELECT event_type, CAST(64 AS INT) AS m,
            CAST(n_zero AS BIGINT) AS n_zero, raw_est,
            round(CASE WHEN raw_est <= 2.5 * 64 AND n_zero > 0
              THEN CAST(64 AS DOUBLE) * ln(CAST(64 AS DOUBLE)
                / CAST(n_zero AS DOUBLE))
              ELSE $alpha * 64 * 64 / s2 END, 6) AS est
          FROM er2"""
    })

  /** Shared KMV sketch CTE chain over distinct token hashes per source
    * (k=64) — ONE copy for q256 (distinct face) and q257 (pair face). */
  private val kmvCtes: String =
    s"""t AS (SELECT source, $wordsSql AS words FROM documents),
        ex AS (SELECT source, unnest(words) AS w FROM t),
        dh AS (SELECT DISTINCT source,
          (${phSql("w")} * 2654435761) % 1000000007 AS h FROM ex),
        rr AS (SELECT source, h, row_number() OVER (PARTITION BY source
          ORDER BY h) AS pos FROM dh),
        sk AS (SELECT source, h, pos FROM rr WHERE pos <= 64)"""

  /** KMV distinct-token estimate per source — the theta-sketch distinct
    * face; unsaturated sketches report their exact size. */
  private val l121 = Spec("q256_kmv_distinct",
    (s, d) => graft.engine.Sketches.kmvDistinct(
      T(s, d, "documents").select(col("source"),
        explode(Text.tokens(col("text"))).as("w")),
      Seq("source"), "w", k = 64),
    Some(s"""WITH $kmvCtes,
        st AS (SELECT source, CAST(count(*) AS INT) AS n_kept,
          max(h) AS kth_min FROM sk GROUP BY source)
        SELECT source, n_kept, kth_min,
          round(CASE WHEN n_kept < 64 THEN CAST(n_kept AS DOUBLE)
            ELSE CAST(63 AS DOUBLE) * 1000000007
              / CAST(kth_min AS DOUBLE) END, 6) AS est_distinct
        FROM st"""))

  /** Pairwise source vocabulary overlap from KMV sketches — the
    * theta-sketch intersection estimate, sketch-grain only. */
  private val l122 = Spec("q257_kmv_source_overlap",
    (s, d) => graft.engine.Sketches.kmvPairSimilarity(
      T(s, d, "documents").select(col("source"),
        explode(Text.tokens(col("text"))).as("w")),
      "source", "w", k = 64),
    Some(s"""WITH $kmvCtes,
        gs AS (SELECT DISTINCT source FROM sk),
        pr AS (SELECT a.source AS ga, b.source AS gb FROM gs a JOIN gs b
          ON a.source < b.source),
        u0 AS (SELECT pr.ga, pr.gb, sk.h, 1 AS ia, 0 AS ib FROM pr
            JOIN sk ON sk.source = pr.ga
          UNION ALL SELECT pr.ga, pr.gb, sk.h, 0, 1 FROM pr
            JOIN sk ON sk.source = pr.gb),
        u AS (SELECT ga, gb, h, max(ia) AS ia, max(ib) AS ib FROM u0
          GROUP BY ga, gb, h),
        ru AS (SELECT *, row_number() OVER (PARTITION BY ga, gb
          ORDER BY h) AS pos FROM u),
        uk AS (SELECT * FROM ru WHERE pos <= 64),
        agg AS (SELECT ga, gb, CAST(count(*) AS INT) AS n_union,
          CAST(sum(ia*ib) AS INT) AS n_common FROM uk GROUP BY ga, gb)
        SELECT ga, gb, n_union, n_common,
          round(CAST(n_common AS DOUBLE) / CAST(n_union AS DOUBLE), 6)
            AS jaccard_est
        FROM agg"""))

  /** Bigram-LM fluency score (add-k smoothing, k=0.5) — the CCNet-style
    * perplexity quality filter one order above q91. */
  private val l123 = Spec("q258_bigram_logprob",
    (s, d) => graft.llm.Curation.bigramLogProbScore(
      T(s, d, "documents"), "doc_id", "text", addK = 0.5),
    Some(s"""WITH t AS (SELECT doc_id, $wordsSql AS words FROM documents),
        bgl AS (SELECT doc_id, [{'p': words[i+1], 'w': words[i+2]}
          for i in range(greatest(len(words)-1, 0))] AS bgs FROM t),
        bx AS (SELECT doc_id, unnest(bgs) AS u FROM bgl),
        ex2 AS (SELECT doc_id, u.p AS p, u.w AS w FROM bx),
        ex1 AS (SELECT doc_id, unnest(words) AS w FROM t),
        c1 AS (SELECT w, count(*) AS c1 FROM ex1 GROUP BY w),
        c2 AS (SELECT p, w, count(*) AS c2 FROM ex2 GROUP BY p, w),
        vv AS (SELECT count(*) AS v FROM c1),
        sc AS (SELECT e.doc_id, count(*) AS n_bigrams,
          avg(ln((CAST(c2.c2 AS DOUBLE) + CAST(0.5 AS DOUBLE))
            / (CAST(c1.c1 AS DOUBLE) + CAST(0.5 AS DOUBLE) * v))) AS lp
          FROM ex2 e JOIN c2 ON c2.p = e.p AND c2.w = e.w
          JOIN c1 ON c1.w = e.p CROSS JOIN vv GROUP BY e.doc_id)
        SELECT t.doc_id, CAST(coalesce(sc.n_bigrams, 0) AS INT)
            AS n_bigrams,
          round(sc.lp, 6) AS mean_logp, round(exp(-sc.lp), 6) AS ppl
        FROM t LEFT JOIN sc ON t.doc_id = sc.doc_id"""))

  /** SemDeDup over the injection fixture: 16 seed centroids (vec_id
    * 0..15), within-cluster keep-the-outlier pruning at cos ≥ 0.7 —
    * non-empty dropped set at every gate SF (exact copies share their
    * original's cluster and score cos 1). */
  private val l124 = Spec("q259_semdedup",
    (s, d) => {
      val corpus = nearDupEmb(s, d)
      val cents = corpus.filter(col("vec_id") < 16)
        .select(col("vec_id").as("cid"), col("embedding").as("centroid"))
      Similarity.semDedup(corpus, "vec_id", "embedding", cents, "cid",
        minCos = 0.7, maxCluster = 1000)
    },
    Some(s"""WITH corpus AS ($nearDupEmbSql),
        cen AS (SELECT vec_id AS cid, embedding AS centroid FROM corpus
          WHERE vec_id < 16),
        scored AS (SELECT c.vec_id, cen.cid,
          round(${cosSql("c.embedding", "cen.centroid")}, 6) AS cos
          FROM corpus c CROSS JOIN cen),
        asg AS (SELECT vec_id, cid, cos, row_number() OVER (
          PARTITION BY vec_id ORDER BY cos DESC, cid) AS cr FROM scored),
        a1 AS (SELECT vec_id, cid AS cluster, cos FROM asg WHERE cr = 1),
        rk AS (SELECT vec_id, cluster, CAST(row_number() OVER (
          PARTITION BY cluster ORDER BY cos ASC, vec_id) AS INT) AS rnk
          FROM a1),
        vecs AS (SELECT rk.vec_id, rk.cluster, rk.rnk, c.embedding
          FROM rk JOIN corpus c ON c.vec_id = rk.vec_id
          WHERE rk.rnk <= 1000),
        drp AS (SELECT DISTINCT b.vec_id FROM vecs a JOIN vecs b
          ON a.cluster = b.cluster AND a.rnk < b.rnk
          WHERE round(${cosSql("a.embedding", "b.embedding")}, 6)
            >= CAST(0.7 AS DOUBLE))
        SELECT rk.vec_id, rk.cluster, rk.rnk,
          (drp.vec_id IS NULL) AS kept
        FROM rk LEFT JOIN drp ON drp.vec_id = rk.vec_id"""))

  /** IVF-PQ retrieval: sign-LSH coarse cells (the 4 pinned q62 planes)
    * + PQ ADC scoring confined to the query's own cell — the compressed
    * inverted-file ANN composition end-to-end. */
  private val l125 = Spec("q260_ivfpq_topk",
    (s, d) => {
      val emb = T(s, d, "embeddings")
      val cb = pqLabelCodebooks(s, d)
      val anchors = Similarity.firstVectors(emb, "vec_id", "embedding", 4)
      Similarity.ivfPqTopK(emb, cb, emb.filter(col("vec_id") < 4),
        "vec_id", "vec_id", "embedding", k = 5, anchors)
    },
    Some {
      val bucket = (0 until 4).map { j =>
        val anchor = s"(SELECT embedding FROM embeddings WHERE vec_id = $j)"
        s"(CASE WHEN ${dot2("v.embedding", anchor)} > 0 " +
          s"THEN CAST(${1L << j} AS BIGINT) ELSE CAST(0 AS BIGINT) END)"
      }.mkString(" + ")
      s"""WITH ex AS (SELECT label, unnest([{'i': i, 'v': embedding[i+1]}
            for i in range(len(embedding))], recursive := true)
          FROM embeddings),
        cm AS (SELECT CAST(i // 32 AS INT) AS s, label AS code, i,
          round(avg(CAST(v AS DOUBLE)), 6) AS cv FROM ex GROUP BY 1, 2, 3),
        cent AS (SELECT s, code, list(cv ORDER BY i) AS centroid
          FROM cm GROUP BY 1, 2),
        sc AS (SELECT e.vec_id, c.s, c.code,
          round(2 * ${dot2("e.embedding[c.s*32+1 : c.s*32+32]",
            "c.centroid")} - ${dot2("c.centroid", "c.centroid")}, 6) AS sim
          FROM embeddings e CROSS JOIN cent c),
        r AS (SELECT *, row_number() OVER (PARTITION BY vec_id, s
          ORDER BY sim DESC, code) AS rk FROM sc),
        codes AS (SELECT vec_id, s, code FROM r WHERE rk = 1),
        bkt AS (SELECT $bucket AS bucket, v.vec_id FROM embeddings v),
        qb AS (SELECT $bucket AS bucket, v.vec_id AS query_id,
          v.embedding FROM embeddings v WHERE v.vec_id < 4),
        lut AS (SELECT qb.query_id, qb.bucket, c.s, c.code,
          round(${dot2("qb.embedding[c.s*32+1 : c.s*32+32]", "c.centroid")},
            6) AS psim
          FROM qb CROSS JOIN cent c),
        a AS (SELECT lut.query_id, codes.vec_id, round(sum(psim), 6) AS adc
          FROM codes JOIN bkt ON bkt.vec_id = codes.vec_id
          JOIN lut ON lut.s = codes.s AND lut.code = codes.code
            AND lut.bucket = bkt.bucket
          GROUP BY 1, 2),
        rr AS (SELECT *, row_number() OVER (PARTITION BY query_id
          ORDER BY adc DESC, vec_id) AS rank FROM a)
        SELECT query_id, vec_id, adc, CAST(rank AS INT) AS rank
        FROM rr WHERE rank <= 5"""
    })

  /** Probe-sampled silhouette per label cluster — clustering-quality
    * report over the embedding space (64 probes, corpus never
    * pairwise-exploded). */
  private val l126 = Spec("q261_silhouette",
    (s, d) => {
      val emb = T(s, d, "embeddings")
      graft.llm.Eval.silhouetteSampled(emb,
        emb.filter(col("vec_id") < 64), "vec_id", "embedding", "label")
    },
    Some(s"""WITH p AS (SELECT vec_id AS qid, embedding AS qv, label AS ql
          FROM embeddings WHERE vec_id < 64),
        s AS (SELECT p.qid, p.ql, c.label AS nl,
          round(${cosSql("p.qv", "c.embedding")}, 6) AS cos
          FROM p CROSS JOIN embeddings c WHERE c.vec_id != p.qid),
        m AS (SELECT qid, ql, nl, avg(CAST(1.0 AS DOUBLE) - cos) AS d
          FROM s GROUP BY qid, ql, nl),
        ab AS (SELECT qid, ql, max(CASE WHEN nl = ql THEN d END) AS a,
          min(CASE WHEN nl <> ql THEN d END) AS b FROM m GROUP BY qid, ql),
        f AS (SELECT qid, ql, ${graft.llm.Eval.silhouetteSql} AS s FROM ab
          WHERE a IS NOT NULL AND b IS NOT NULL)
        SELECT ql AS label, CAST(count(*) AS INT) AS n_probes,
          round(avg(s), 6) AS mean_sil FROM f GROUP BY ql"""))

  /** nDCG@10 with same-label relevance — graded retrieval quality for
    * the exact cosine scan (8 queries, self excluded). */
  private val l127 = Spec("q262_ndcg_at_k",
    (s, d) => {
      val emb = T(s, d, "embeddings")
      graft.llm.Eval.ndcgAtK(emb, emb.filter(col("vec_id") < 8),
        "vec_id", "embedding", "label", "vec_id", k = 10)
    },
    Some(s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qv,
          label AS ql FROM embeddings WHERE vec_id < 8),
        s AS (SELECT q.query_id, q.ql, c.vec_id AS nid, c.label AS nl,
          ${cosSql("q.qv", "c.embedding")} AS cos
          FROM q CROSS JOIN embeddings c WHERE c.vec_id != q.query_id),
        r AS (SELECT *, row_number() OVER (PARTITION BY query_id
          ORDER BY cos DESC, nid) AS rank FROM s),
        top AS (SELECT * FROM r WHERE rank <= 10),
        d AS (SELECT query_id, sum(${graft.llm.Eval.dcgTermSql}) AS dcg
          FROM top GROUP BY query_id),
        lc AS (SELECT label AS ql, count(*) AS nlab FROM embeddings
          GROUP BY label),
        tr AS (SELECT q.query_id, lc.nlab - 1 AS n_rel FROM q
          JOIN lc USING (ql)),
        ii AS (SELECT query_id, unnest(range(least(n_rel, 10))) AS i
          FROM tr WHERE n_rel > 0),
        ic AS (SELECT query_id, sum(${graft.llm.Eval.idcgTermSql}) AS idcg
          FROM ii GROUP BY query_id)
        SELECT tr.query_id, CAST(n_rel AS INT) AS n_rel,
          round(coalesce(d.dcg, CAST(0 AS DOUBLE)), 6) AS dcg,
          round(ic.idcg, 6) AS idcg,
          round(coalesce(d.dcg, CAST(0 AS DOUBLE)) / ic.idcg, 6) AS ndcg
        FROM tr LEFT JOIN d USING (query_id)
        LEFT JOIN ic USING (query_id)"""))

  /** k-NN reliability diagram + ECE contributions (128 queries, k=10;
    * vote-count bins are exact rationals — integer-exact to the final
    * ratios). */
  private val l128 = Spec("q263_knn_calibration",
    (s, d) => {
      val emb = T(s, d, "embeddings")
      graft.llm.Eval.knnCalibration(emb, emb.filter(col("vec_id") < 128),
        "vec_id", "embedding", "label", "vec_id", k = 10)
    },
    Some {
      val acc = graft.llm.Eval.accSql
      val conf = graft.llm.Eval.confSql
      s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qv,
            label AS true_label FROM embeddings WHERE vec_id < 128),
          s AS (SELECT q.query_id, c.vec_id AS neighbor_id, c.label,
            ${cosSql("q.qv", "c.embedding")} AS cos
            FROM q CROSS JOIN embeddings c),
          r AS (SELECT *, row_number() OVER (PARTITION BY query_id
            ORDER BY cos DESC, neighbor_id) AS rank FROM s),
          v AS (SELECT query_id, label, count(*) AS n_votes FROM r
            WHERE rank <= 10 GROUP BY query_id, label),
          w AS (SELECT *, row_number() OVER (PARTITION BY query_id
            ORDER BY n_votes DESC, label) AS vr FROM v),
          pr AS (SELECT w.query_id, w.label AS pred_label, w.n_votes,
            q.true_label FROM w JOIN q USING (query_id) WHERE vr = 1),
          nn AS (SELECT count(*) AS nq FROM pr),
          b AS (SELECT n_votes AS bin, 10 AS kk, count(*) AS n,
            sum(CASE WHEN pred_label = true_label THEN 1 ELSE 0 END)
              AS n_correct FROM pr GROUP BY n_votes)
          SELECT CAST(bin AS INT) AS bin, CAST(n AS INT) AS n,
            round($conf, 6) AS conf, round($acc, 6) AS acc,
            round(abs(($acc) - ($conf)), 6) AS abs_gap,
            round(CAST(n AS DOUBLE) / CAST(nq AS DOUBLE)
              * abs(($acc) - ($conf)), 6) AS contrib
          FROM b CROSS JOIN nn"""
    })

  /** RBO@10 (p=0.9) of the sign-LSH ANN ranking against the exact
    * cosine ranking — top-weighted index agreement, no labels needed.
    * Weight table generated ONCE ([[graft.llm.Eval.rboWeights]]) and
    * shared verbatim with the SQL. */
  private val l129 = Spec("q264_rbo_ann_vs_exact",
    (s, d) => {
      val emb = T(s, d, "embeddings")
      val queries = emb.filter(col("vec_id").between(100, 107))
      val anchors = Similarity.firstVectors(emb, "vec_id", "embedding", 4)
      graft.llm.Eval.rankBiasedOverlap(
        Similarity.bruteForceTopK(emb, queries, "vec_id", "embedding",
          "vec_id", 10),
        Similarity.annTopK(emb, queries, "vec_id", "embedding", "vec_id",
          10, anchors),
        "query_id", "neighbor_id", "rank", p = 0.9, k = 10)
    },
    Some {
      val w = graft.llm.Eval.rboWeights(0.9, 10)
        .map(x => s"CAST($x AS DOUBLE)").mkString("[", ", ", "]")
      val oneMinusP = (1.0 - 0.9).toString
      val bucket = (0 until 4).map { j =>
        val anchor = s"(SELECT embedding FROM embeddings WHERE vec_id = $j)"
        s"(CASE WHEN ${dot2("v.embedding", anchor)} > 0 " +
          s"THEN CAST(${1L << j} AS BIGINT) ELSE CAST(0 AS BIGINT) END)"
      }.mkString(" + ")
      s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qv
            FROM embeddings WHERE vec_id BETWEEN 100 AND 107),
          bs AS (SELECT q.query_id, c.vec_id AS neighbor_id,
            ${cosSql("q.qv", "c.embedding")} AS cos
            FROM q CROSS JOIN embeddings c),
          br AS (SELECT query_id, neighbor_id, row_number() OVER (
            PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS ra
            FROM bs),
          bt AS (SELECT query_id, neighbor_id, ra FROM br WHERE ra <= 10),
          cb AS (SELECT $bucket AS bucket, v.vec_id AS neighbor_id,
            v.embedding AS cvec FROM embeddings v),
          qb AS (SELECT $bucket AS bucket, v.vec_id AS query_id,
            v.embedding AS qvec FROM embeddings v
            WHERE v.vec_id BETWEEN 100 AND 107),
          sa AS (SELECT qb.query_id, cb.neighbor_id,
            ${cosSql("qb.qvec", "cb.cvec")} AS cos
            FROM cb JOIN qb ON cb.bucket = qb.bucket),
          ar AS (SELECT query_id, neighbor_id, row_number() OVER (
            PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rb
            FROM sa),
          at2 AS (SELECT query_id, neighbor_id, rb FROM ar WHERE rb <= 10),
          m AS (SELECT bt.query_id,
            ($w)[CAST(greatest(bt.ra, at2.rb) AS INT)] AS w
            FROM bt JOIN at2 USING (query_id, neighbor_id)),
          g AS (SELECT query_id, CAST(count(*) AS INT) AS n_common,
            sum(w) AS sw FROM m GROUP BY query_id)
          SELECT qq.query_id, coalesce(g.n_common, 0) AS n_common,
            round(CAST($oneMinusP AS DOUBLE)
              * coalesce(g.sw, CAST(0 AS DOUBLE)), 6) AS rbo
          FROM (SELECT DISTINCT query_id FROM q) qq
          LEFT JOIN g USING (query_id)"""
    })

  /** Embedding-space decontamination: corpus vectors cosine-near any
    * "eval" probe (vec_id < 32), candidates confined to shared LSH
    * buckets — the semantic dual of the q87 n-gram decontamination.
    * SIX pinned anchor planes (not q62's four): 64 buckets keep the
    * hot-bucket cap disengaged through the sf1 decade step (16 buckets
    * saturate at ~20k vectors and the guard would empty the report);
    * production sizing is autoAnchors' log(N) planes as ever. */
  private val l130 = Spec("q265_semantic_decontaminate",
    (s, d) => {
      val corpus = nearDupEmb(s, d)
      val probes = T(s, d, "embeddings").filter(col("vec_id") < 32)
        .select(col("vec_id").as("eval_id"),
          col("embedding").cast("array<double>").as("embedding"))
      val anchors = Similarity.firstVectors(corpus, "vec_id", "embedding", 6)
      Similarity.crossCosineMatches(corpus, probes, "vec_id", "eval_id",
        "embedding", anchors, minCos = 0.8, maxBucket = 1000)
    },
    Some {
      val bucket = (0 until 6).map { j =>
        val anchor = s"(SELECT embedding FROM corpus WHERE vec_id = $j)"
        s"(CASE WHEN ${dot2("v.embedding", anchor)} > 0 " +
          s"THEN CAST(${1L << j} AS BIGINT) ELSE CAST(0 AS BIGINT) END)"
      }.mkString(" + ")
      s"""WITH corpus AS ($nearDupEmbSql),
          b0 AS (SELECT $bucket AS bucket, v.vec_id AS id,
            v.embedding AS vec FROM corpus v),
          cb AS (SELECT bucket, id, vec FROM (SELECT *,
            count(*) OVER (PARTITION BY bucket) AS bucket_n FROM b0)
            WHERE bucket_n <= 1000),
          pb AS (SELECT $bucket AS bucket, v.vec_id AS eval_id,
            CAST(v.embedding AS DOUBLE[]) AS pvec FROM embeddings v
            WHERE v.vec_id < 32),
          p AS (SELECT cb.id AS vec_id, pb.eval_id,
            round(${cosSql("cb.vec", "pb.pvec")}, 6) AS cos
            FROM cb JOIN pb ON cb.bucket = pb.bucket)
          SELECT vec_id, eval_id, cos FROM p
          WHERE cos >= CAST(0.8 AS DOUBLE)"""
    })

  // ---- sketch/discovery wave: log-histogram quantiles, AMS F2,
  // cross-column inclusion ----

  /** Shared log-bucket histogram CTE over lineitem extendedprice by
    * returnflag (s = 8 sub-buckets per octave) — ONE copy for q266
    * (state face) and q267 (quantile face). */
  private val logHistCte: String =
    """v AS (SELECT l_returnflag, CAST(trunc(l_extendedprice) AS BIGINT)
            AS x
          FROM lineitem WHERE l_extendedprice IS NOT NULL),
        b0 AS (SELECT l_returnflag, x,
          CASE WHEN x < 1 THEN -1
            ELSE CAST(length(bin(x)) - 1 AS INT) END AS e FROM v),
        b1 AS (SELECT l_returnflag, x, e,
          CASE WHEN e < 0 THEN CAST(0 AS BIGINT)
            ELSE CAST(1 AS BIGINT) << e END AS pw FROM b0),
        b2 AS (SELECT l_returnflag, e,
          CASE WHEN e < 0 THEN 0
            ELSE CAST(((x - pw) * 8) // pw AS INT) END AS sub, pw
          FROM b1),
        sk AS (SELECT l_returnflag, e, sub, pw,
          CAST(count(*) AS BIGINT) AS cnt FROM b2
          GROUP BY l_returnflag, e, sub, pw)"""

  /** Log-bucket (DDSketch-style, γ = 2^⅛) histogram state: integer-
    * exact bucket lattice, mergeable counts — the relative-error
    * quantile sketch face. */
  private val l131 = Spec("q266_loghist_sketch",
    (s, d) => graft.engine.Sketches.logHistogramSketch(
      T(s, d, "lineitem"), Seq("l_returnflag"), "l_extendedprice", s = 8),
    Some(s"""WITH $logHistCte
        SELECT l_returnflag, e, sub, pw, cnt FROM sk"""))

  /** Quantile estimates off the log-histogram: exact-integer rank
    * targeting, bucket-midpoint read via the ONE shared
    * [[graft.engine.Sketches.logHistMidpointSql]] fragment. */
  private val l132 = Spec("q267_loghist_quantiles",
    (s, d) => graft.engine.Sketches.logHistogramQuantiles(
      graft.engine.Sketches.logHistogramSketch(
        T(s, d, "lineitem"), Seq("l_returnflag"), "l_extendedprice", s = 8),
      Seq("l_returnflag"), s = 8),
    Some {
      val probes = Seq("p25" -> 250, "p50" -> 500, "p75" -> 750,
        "p90" -> 900, "p99" -> 990)
      val zRows = probes.map { case (nm, num) => s"('$nm', $num)" }
        .mkString(", ")
      s"""WITH $logHistCte,
          cu AS (SELECT l_returnflag, e, sub, pw, cnt,
            sum(cnt) OVER (PARTITION BY l_returnflag ORDER BY e, sub)
              AS cum,
            sum(cnt) OVER (PARTITION BY l_returnflag) AS n FROM sk),
          zz AS (SELECT * FROM (VALUES $zRows) AS t(q, num)),
          j AS (SELECT cu.*, zz.q, zz.num,
            (zz.num * cu.n + 999) // 1000 AS r
            FROM cu CROSS JOIN zz),
          hit AS (SELECT l_returnflag, q, e, sub, pw, row_number() OVER (
            PARTITION BY l_returnflag, q ORDER BY e, sub) AS pick
            FROM j WHERE cum >= r)
          SELECT l_returnflag, q,
            ${graft.engine.Sketches.logHistMidpointSql(8)} AS q_est
          FROM hit WHERE pick = 1"""
    })

  /** AMS tug-of-war F₂ estimate on lineitem part keys — the join-size
    * (self-join row count) pricing sketch; 5 groups × 16 integer
    * estimators, median-of-means, exact F₂ alongside as calibration. */
  private val l133 = Spec("q268_ams_f2",
    (s, d) => graft.engine.Sketches.amsF2(
      T(s, d, "lineitem"), "l_partkey", d = 5, g = 16),
    Some(s"""WITH c AS (SELECT CAST(l_partkey AS VARCHAR) AS key,
          CAST(count(*) AS BIGINT) AS n FROM lineitem
          WHERE l_partkey IS NOT NULL GROUP BY 1),
        ex AS (SELECT jj.j, c.key, c.n FROM c
          CROSS JOIN (SELECT unnest(range(0, 80)) AS j) jj),
        xs AS (SELECT j, key, n,
          (${phSql("key")} * 2654435761) % 1000000007 AS x FROM ex),
        xp AS (SELECT j, key, n, x, (x * x) % 1000000007 AS x2,
          ((x * x) % 1000000007 * x) % 1000000007 AS x3 FROM xs),
        sg AS (SELECT j, key, n,
          (((${phSql("'a0#' || CAST(j AS VARCHAR)")}
              * 2654435761) % 1000000007
            + ((${phSql("'a1#' || CAST(j AS VARCHAR)")}
              * 2654435761) % 1000000007 * x) % 1000000007
            + ((${phSql("'a2#' || CAST(j AS VARCHAR)")}
              * 2654435761) % 1000000007 * x2) % 1000000007
            + ((${phSql("'a3#' || CAST(j AS VARCHAR)")}
              * 2654435761) % 1000000007 * x3) % 1000000007)
            % 1000000007) % 2 * 2 - 1 AS s FROM xp),
        z AS (SELECT j, CAST(sum(s * n) AS BIGINT) AS z FROM sg
          GROUP BY j),
        gm AS (SELECT j // 16 AS grp,
          CAST(sum(z * z) AS BIGINT) // 16 AS gm FROM z GROUP BY 1),
        md AS (SELECT gm AS f2_est, row_number() OVER (
          ORDER BY gm, grp) AS rk FROM gm),
        xx AS (SELECT CAST(sum(n * n) AS BIGINT) AS f2_exact FROM c)
        SELECT CAST(5 AS INT) AS d, CAST(16 AS INT) AS g,
          f2_est, f2_exact,
          CASE WHEN f2_exact > 0 THEN round(
            CAST(f2_est - f2_exact AS DOUBLE) * 1000000.0
              / CAST(f2_exact AS DOUBLE), 6) END AS err_ppm
        FROM md CROSS JOIN xx WHERE rk = 3"""))

  /** Cross-column KMV inclusion coefficients over the star schema's key
    * columns — sketch-grain join-key discovery; the three true FK→PK
    * edges should surface with containment ≈ 1. */
  private val l134 = Spec("q269_kmv_inclusion",
    (s, d) => graft.engine.Sketches.kmvInclusion(Seq(
      ("customer.c_custkey", T(s, d, "customer"), "c_custkey"),
      ("orders.o_custkey", T(s, d, "orders"), "o_custkey"),
      ("orders.o_orderkey", T(s, d, "orders"), "o_orderkey"),
      ("lineitem.l_orderkey", T(s, d, "lineitem"), "l_orderkey"),
      ("lineitem.l_partkey", T(s, d, "lineitem"), "l_partkey"),
      ("part.p_partkey", T(s, d, "part"), "p_partkey")), k = 128),
    Some {
      val srcs = Seq(
        "customer.c_custkey" -> ("customer", "c_custkey"),
        "orders.o_custkey" -> ("orders", "o_custkey"),
        "orders.o_orderkey" -> ("orders", "o_orderkey"),
        "lineitem.l_orderkey" -> ("lineitem", "l_orderkey"),
        "lineitem.l_partkey" -> ("lineitem", "l_partkey"),
        "part.p_partkey" -> ("part", "p_partkey"))
      val union = srcs.map { case (nm, (t, c)) =>
        s"SELECT '$nm' AS colname, CAST($c AS VARCHAR) AS v FROM $t " +
          s"WHERE $c IS NOT NULL"
      }.mkString(" UNION ALL ")
      s"""WITH u AS ($union),
          dh AS (SELECT DISTINCT colname,
            (${phSql("v")} * 2654435761) % 1000000007 AS h FROM u),
          rr AS (SELECT colname, h, row_number() OVER (
            PARTITION BY colname ORDER BY h) AS pos FROM dh),
          sk AS (SELECT colname, h FROM rr WHERE pos <= 128),
          th AS (SELECT colname, count(*) AS nk, max(h) AS kth FROM sk
            GROUP BY colname),
          t2 AS (SELECT colname, CASE WHEN nk < 128
            THEN CAST(1000000007 AS BIGINT) ELSE kth END AS theta
            FROM th),
          pr AS (SELECT a.colname AS col_a, b.colname AS col_b,
            least(a.theta, b.theta) AS theta FROM t2 a JOIN t2 b
            ON a.colname <> b.colname),
          ain AS (SELECT pr.col_a, pr.col_b, sk.h FROM pr
            JOIN sk ON sk.colname = pr.col_a WHERE sk.h < pr.theta),
          cm AS (SELECT ain.col_a, ain.col_b,
            CAST(count(*) AS BIGINT) AS n_common FROM ain
            JOIN sk b ON b.colname = ain.col_b AND b.h = ain.h
            GROUP BY ain.col_a, ain.col_b),
          na AS (SELECT col_a, col_b, CAST(count(*) AS BIGINT) AS n_a
            FROM ain GROUP BY col_a, col_b)
          SELECT na.col_a, na.col_b, na.n_a,
            coalesce(cm.n_common, CAST(0 AS BIGINT)) AS n_common,
            round(CAST(coalesce(cm.n_common, 0) AS DOUBLE)
              / CAST(na.n_a AS DOUBLE), 6) AS containment_est
          FROM na LEFT JOIN cm USING (col_a, col_b)"""
    })

  /** k-anonymity / l-diversity audit of the customer table under the
    * (nation, segment) quasi-identifier — the pre-release linkage-attack
    * report. */
  private val l135 = Spec("q270_k_anonymity",
    (s, d) => graft.llm.Curation.kAnonymityAudit(
      T(s, d, "customer"), Seq("c_nationkey", "c_mktsegment"),
      "c_acctbal", k = 10),
    Some("""WITH cls AS (SELECT c_nationkey, c_mktsegment,
          CAST(count(*) AS BIGINT) AS n,
          CAST(count(DISTINCT c_acctbal) AS BIGINT) AS l
          FROM customer GROUP BY 1, 2)
        SELECT CAST(10 AS INT) AS k, CAST(sum(n) AS BIGINT) AS n_rows,
          CAST(count(*) AS BIGINT) AS n_classes, min(n) AS k_min,
          CAST(sum(CASE WHEN n < 10 THEN 1 ELSE 0 END) AS BIGINT)
            AS n_classes_below,
          CAST(sum(CASE WHEN n < 10 THEN n ELSE 0 END) AS BIGINT)
            AS n_rows_at_risk,
          (CAST(sum(CASE WHEN n < 10 THEN n ELSE 0 END) AS BIGINT)
            * 1000000) // CAST(sum(n) AS BIGINT) AS risk_ppm,
          min(l) AS l_min
        FROM cls"""))

  /** Seedless Poisson-bootstrap CI for mean account balance per market
    * segment — hash-derived Poisson(1) resample weights, exact-DECIMAL
    * means, percentile pick over 40 resamples. */
  private val l136 = Spec("q271_bootstrap_ci",
    (s, d) => graft.engine.Relational.bootstrapMeanCI(
      T(s, d, "customer").withColumn("rid",
        col("c_custkey").cast("string")),
      Seq("c_mktsegment"), "c_acctbal", "rid", b = 40),
    Some {
      val cdf = graft.engine.Relational.poissonCdfPpm
      val wCase = cdf.zipWithIndex
        .map { case (t, i) => s"WHEN u < $t THEN $i" }
        .mkString("CASE ", " ", s" ELSE ${cdf.size} END")
      s"""WITH v AS (SELECT c_mktsegment,
            CAST(c_acctbal AS DECIMAL(38,6)) AS x,
            CAST(c_custkey AS VARCHAR) AS rid FROM customer
            WHERE c_acctbal IS NOT NULL),
          ex AS (SELECT c_mktsegment, x, rid, jj.r FROM v
            CROSS JOIN (SELECT unnest(range(0, 40)) AS r) jj),
          uu AS (SELECT c_mktsegment, x, r,
            (${phSql("CAST(r AS VARCHAR) || '#' || rid")}
              * 2654435761) % 1000000007 % 1000000 AS u FROM ex),
          ww AS (SELECT c_mktsegment, x, r, $wCase AS w FROM uu),
          ms AS (SELECT c_mktsegment, r, CAST(sum(w) AS BIGINT) AS sw,
            CAST(sum(w * x) AS DECIMAL(38,6)) AS swx FROM ww
            GROUP BY 1, 2),
          m2 AS (SELECT c_mktsegment, r,
            ${graft.engine.Relational.decToDoubleSql("swx", 6)}
              / CAST(sw AS DOUBLE) AS m FROM ms
            WHERE sw > 0),
          rk AS (SELECT c_mktsegment, r, m,
            row_number() OVER (PARTITION BY c_mktsegment
              ORDER BY m, r) AS rk,
            count(*) OVER (PARTITION BY c_mktsegment) AS bu FROM m2),
          ci AS (SELECT c_mktsegment,
            round(max(CASE WHEN rk = (25 * bu + 999) // 1000 THEN m END),
              6) AS ci_lo,
            round(max(CASE WHEN rk = (975 * bu + 999) // 1000 THEN m END),
              6) AS ci_hi,
            CAST(max(bu) AS INT) AS b_used FROM rk GROUP BY 1),
          pt0 AS (SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n,
            CAST(sum(CAST(c_acctbal AS DECIMAL(38,6)))
              AS DECIMAL(38,6)) AS sx
            FROM customer WHERE c_acctbal IS NOT NULL GROUP BY 1),
          pt AS (SELECT c_mktsegment, n,
            round(${graft.engine.Relational.decToDoubleSql("sx", 6)}
              / CAST(n AS DOUBLE), 6) AS mean FROM pt0)
          SELECT pt.c_mktsegment, pt.n, pt.mean, ci.ci_lo, ci.ci_hi,
            ci.b_used
          FROM pt LEFT JOIN ci USING (c_mktsegment)"""
    })

  /** HITS hubs/authorities (2 synchronous rounds, max-normalized ppm
    * integers) over the supplier→part shipment graph. */
  private val l137 = Spec("q272_hits",
    (s, d) => graft.engine.Graph.hitsPpm(
      T(s, d, "lineitem").select(
        concat(lit("s"), col("l_suppkey").cast("string")).as("src"),
        concat(lit("p"), col("l_partkey").cast("string")).as("dst")),
      "src", "dst", iters = 2),
    Some {
      def normCte(rawCte: String, outCol: String): String =
        s"""(SELECT n.id, CAST(CASE WHEN mx IS NULL OR mx = 0 THEN 0
            ELSE (coalesce(raw, CAST(0 AS BIGINT)) * 1000000) // mx END
            AS BIGINT) AS $outCol
          FROM nodes n LEFT JOIN $rawCte USING (id)
          CROSS JOIN (SELECT max(raw) AS mx FROM $rawCte))"""
      s"""WITH e AS (SELECT DISTINCT
            's' || CAST(l_suppkey AS VARCHAR) AS src,
            'p' || CAST(l_partkey AS VARCHAR) AS dst FROM lineitem),
          nodes AS (SELECT src AS id FROM e UNION SELECT dst FROM e),
          h0 AS (SELECT id, CAST(1000000 AS BIGINT) AS hub FROM nodes),
          a1r AS (SELECT dst AS id, CAST(sum(hub) AS BIGINT) AS raw
            FROM e JOIN h0 ON h0.id = e.src GROUP BY 1),
          a1 AS ${normCte("a1r", "auth")},
          h1r AS (SELECT src AS id, CAST(sum(auth) AS BIGINT) AS raw
            FROM e JOIN a1 ON a1.id = e.dst GROUP BY 1),
          h1 AS ${normCte("h1r", "hub")},
          a2r AS (SELECT dst AS id, CAST(sum(hub) AS BIGINT) AS raw
            FROM e JOIN h1 ON h1.id = e.src GROUP BY 1),
          a2 AS ${normCte("a2r", "auth")},
          h2r AS (SELECT src AS id, CAST(sum(auth) AS BIGINT) AS raw
            FROM e JOIN a2 ON a2.id = e.dst GROUP BY 1),
          h2 AS ${normCte("h2r", "hub")}
          SELECT h2.id, h2.hub, a2.auth FROM h2 JOIN a2 USING (id)"""
    })

  /** MMR diversified rerank (λ = 0.7, top-12 candidates → 4 picks) for
    * 8 query vectors — the retrieval-diversification pass. */
  private val l138 = Spec("q273_mmr_rerank",
    (s, d) => {
      val emb = T(s, d, "embeddings")
      Similarity.mmrRerank(emb,
        emb.filter(col("vec_id").between(200, 207)),
        "vec_id", "embedding", "vec_id", n = 12, m = 4, lambdaPct = 70)
    },
    Some {
      val rounds = (2 to 4).map { r =>
        val selU = (1 until r).map(i =>
          s"SELECT query_id, neighbor_id FROM sel$i")
          .mkString(" UNION ALL ")
        s"""su$r AS ($selU),
          ms$r AS (SELECT p.query_id, p.ca AS neighbor_id,
            max(p.sim) AS msim FROM ps p JOIN su$r s
            ON s.query_id = p.query_id AND s.neighbor_id = p.cb
            GROUP BY 1, 2),
          sc$r AS (SELECT c.query_id, c.neighbor_id,
            CAST(0.7 AS DOUBLE) * c.cos - CAST(0.3 AS DOUBLE)
              * coalesce(m.msim, CAST(0 AS DOUBLE)) AS score
            FROM cv c LEFT JOIN ms$r m ON m.query_id = c.query_id
              AND m.neighbor_id = c.neighbor_id
            WHERE NOT EXISTS (SELECT 1 FROM su$r s
              WHERE s.query_id = c.query_id
                AND s.neighbor_id = c.neighbor_id)),
          sel$r AS (SELECT query_id, neighbor_id, score FROM (
            SELECT *, row_number() OVER (PARTITION BY query_id
              ORDER BY score DESC, neighbor_id) AS rk FROM sc$r)
            WHERE rk = 1)"""
      }.mkString(",\n          ")
      val out = (1 to 4).map(r =>
        s"SELECT query_id, CAST($r AS INT) AS pick, neighbor_id, " +
          s"round(score, 6) AS score FROM sel$r")
        .mkString(" UNION ALL ")
      s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qv
            FROM embeddings WHERE vec_id BETWEEN 200 AND 207),
          sc AS (SELECT q.query_id, c.vec_id AS neighbor_id,
            ${cosSql("q.qv", "c.embedding")} AS cos
            FROM q CROSS JOIN embeddings c),
          rr AS (SELECT *, row_number() OVER (PARTITION BY query_id
            ORDER BY cos DESC, neighbor_id) AS rank FROM sc),
          ct AS (SELECT query_id, neighbor_id, cos FROM rr
            WHERE rank <= 12),
          cv AS (SELECT ct.query_id, ct.neighbor_id, ct.cos,
            e.embedding AS v FROM ct JOIN embeddings e
            ON e.vec_id = ct.neighbor_id),
          ps AS (SELECT a.query_id, a.neighbor_id AS ca,
            b.neighbor_id AS cb, ${cosSql("a.v", "b.v")} AS sim
            FROM cv a JOIN cv b ON a.query_id = b.query_id
              AND a.neighbor_id <> b.neighbor_id),
          sel1 AS (SELECT query_id, neighbor_id, score FROM (
            SELECT query_id, neighbor_id,
              CAST(0.7 AS DOUBLE) * cos - CAST(0.3 AS DOUBLE)
                * CAST(0 AS DOUBLE) AS score,
              row_number() OVER (PARTITION BY query_id
                ORDER BY CAST(0.7 AS DOUBLE) * cos - CAST(0.3 AS DOUBLE)
                  * CAST(0 AS DOUBLE) DESC, neighbor_id) AS rk FROM cv)
            WHERE rk = 1),
          $rounds
          $out"""
    })

  /** ROUGE-3 between consecutive-id document pairs — clipped n-gram
    * multiset overlap, the paired-text eval one level finer than q87's
    * boolean contamination flag. */
  private val l139 = Spec("q274_rouge_n",
    (s, d) => {
      val docs = T(s, d, "documents").select(col("doc_id"), col("text"))
      val pairs = docs.select(col("doc_id").as("a_id"))
        .filter(col("a_id") % 37 === 0)
        .join(docs.select(col("doc_id").as("b_id")),
          col("b_id") === col("a_id") + 1)
      graft.llm.Eval.rougeN(docs, pairs, "doc_id", "text",
        "a_id", "b_id", n = 3)
    },
    Some(s"""WITH t AS (SELECT doc_id, $wordsSql AS words FROM documents),
        g AS (SELECT doc_id, [array_to_string(words[i+1:i+3], ' ')
          for i in range(CASE WHEN len(words) >= 3
            THEN len(words) - 2 ELSE 0 END)] AS grams FROM t),
        pr AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id
          FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1
          WHERE a.doc_id % 37 = 0),
        ex AS (SELECT doc_id, unnest(grams) AS gram FROM g),
        c AS (SELECT doc_id, gram, CAST(count(*) AS BIGINT) AS c
          FROM ex GROUP BY 1, 2),
        tot AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS tot FROM c
          GROUP BY 1),
        ov AS (SELECT pr.a_id, pr.b_id,
          CAST(sum(least(ca.c, cb.c)) AS BIGINT) AS n_overlap
          FROM pr JOIN c ca ON ca.doc_id = pr.a_id
          JOIN c cb ON cb.doc_id = pr.b_id AND cb.gram = ca.gram
          GROUP BY 1, 2),
        f AS (SELECT pr.a_id, pr.b_id,
          coalesce(ta.tot, CAST(0 AS BIGINT)) AS n_a,
          coalesce(tb.tot, CAST(0 AS BIGINT)) AS n_b,
          coalesce(ov.n_overlap, CAST(0 AS BIGINT)) AS n_overlap
          FROM pr LEFT JOIN tot ta ON ta.doc_id = pr.a_id
          LEFT JOIN tot tb ON tb.doc_id = pr.b_id
          LEFT JOIN ov ON ov.a_id = pr.a_id AND ov.b_id = pr.b_id)
        SELECT a_id, b_id, n_a, n_b, n_overlap,
          round(CASE WHEN n_a > 0 THEN CAST(n_overlap AS DOUBLE)
            / CAST(n_a AS DOUBLE) END, 6) AS p,
          round(CASE WHEN n_b > 0 THEN CAST(n_overlap AS DOUBLE)
            / CAST(n_b AS DOUBLE) END, 6) AS r,
          round(CASE WHEN n_a > 0 AND n_b > 0 AND n_overlap > 0 THEN
            2 * (CAST(n_overlap AS DOUBLE) / CAST(n_a AS DOUBLE))
              * (CAST(n_overlap AS DOUBLE) / CAST(n_b AS DOUBLE))
              / (CAST(n_overlap AS DOUBLE) / CAST(n_a AS DOUBLE)
                + CAST(n_overlap AS DOUBLE) / CAST(n_b AS DOUBLE))
            WHEN n_a > 0 AND n_b > 0 THEN CAST(0 AS DOUBLE) END, 6)
            AS f1
        FROM f"""))

  /** Welch's unequal-variance t-test: returned vs non-returned line
    * quantity per linestatus — exact sufficient stats, shared derived
    * formulas. */
  private val l140 = Spec("q275_welch_ttest",
    (s, d) => graft.engine.Relational.welchTTest(
      T(s, d, "lineitem"), Seq("l_linestatus"), "l_quantity",
      col("l_returnflag") === "R"),
    Some {
      val steps = graft.engine.Relational.welchDerivedSql
      val ctes = steps.zipWithIndex.map { case ((name, formula), i) =>
        s"c${i + 1} AS (SELECT *, $formula AS $name FROM c$i)"
      }.mkString(",\n          ")
      s"""WITH v AS (SELECT l_linestatus,
            CAST(l_quantity AS DECIMAL(18,6)) AS x,
            l_returnflag = 'R' AS f FROM lineitem
            WHERE l_quantity IS NOT NULL),
          a AS (SELECT l_linestatus,
            CAST(sum(CASE WHEN f THEN 1 ELSE 0 END) AS BIGINT) AS na,
            CAST(sum(CASE WHEN NOT f THEN 1 ELSE 0 END) AS BIGINT)
              AS nb,
            CAST(sum(CASE WHEN f THEN x ELSE 0 END) AS DECIMAL(38,12))
              AS sa,
            CAST(sum(CASE WHEN NOT f THEN x ELSE 0 END)
              AS DECIMAL(38,12)) AS sb,
            CAST(sum(CASE WHEN f THEN x * x ELSE 0 END)
              AS DECIMAL(38,12)) AS ssa,
            CAST(sum(CASE WHEN NOT f THEN x * x ELSE 0 END)
              AS DECIMAL(38,12)) AS ssb
            FROM v GROUP BY 1),
          c0 AS (SELECT * FROM a WHERE na >= 2 AND nb >= 2),
          $ctes
          SELECT l_linestatus, na, nb, round(m1, 6) AS mean_a,
            round(m2, 6) AS mean_b, round(t_stat, 6) AS t_stat,
            round(df_welch, 6) AS df_welch FROM c${steps.size}
          UNION ALL
          SELECT l_linestatus, na, nb, CAST(NULL AS DOUBLE),
            CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
            CAST(NULL AS DOUBLE) FROM a WHERE na < 2 OR nb < 2"""
    })

  /** Kaplan–Meier survival per market segment: customer "lifetime" in
    * years between first and last order, event = any finalized order —
    * exact counts, left-folded rounded-factor products. */
  private val l141 = Spec("q276_kaplan_meier",
    (s, d) => {
      val subj = T(s, d, "orders")
        .groupBy(col("o_custkey"))
        .agg(expr("datediff(max(o_orderdate), min(o_orderdate)) DIV 365")
            .cast("int").as("step"),
          max(when(col("o_orderstatus") === "F", 1).otherwise(0))
            .as("event"))
        .join(T(s, d, "customer").select(col("c_custkey"),
          col("c_mktsegment")), col("c_custkey") === col("o_custkey"))
      graft.engine.Relational.kaplanMeier(subj, Seq("c_mktsegment"),
        "step", "event")
    },
    Some("""WITH s0 AS (SELECT o_custkey,
          date_diff('day', min(o_orderdate), max(o_orderdate)) // 365
            AS step,
          max(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS event
          FROM orders GROUP BY 1),
        su AS (SELECT c.c_mktsegment, CAST(s0.step AS INT) AS step,
          s0.event FROM s0 JOIN customer c ON c.c_custkey = s0.o_custkey),
        ps AS (SELECT c_mktsegment, step, CAST(count(*) AS BIGINT) AS c,
          CAST(sum(event) AS BIGINT) AS d FROM su GROUP BY 1, 2),
        rc AS (SELECT *, CAST(sum(c) OVER (PARTITION BY c_mktsegment
          ORDER BY step DESC ROWS BETWEEN UNBOUNDED PRECEDING AND
          CURRENT ROW) AS BIGINT) AS n_risk FROM ps),
        st AS (SELECT c_mktsegment, step, n_risk, d,
          round(CAST(n_risk - d AS DOUBLE) / CAST(n_risk AS DOUBLE), 6)
            AS factor FROM rc WHERE d > 0),
        ar AS (SELECT c_mktsegment, list(factor ORDER BY step) AS fs
          FROM st GROUP BY 1),
        ix AS (SELECT c_mktsegment, step, n_risk, d, factor,
          row_number() OVER (PARTITION BY c_mktsegment ORDER BY step)
            AS i FROM st)
        SELECT ix.c_mktsegment, ix.step, ix.n_risk, ix.d, ix.factor,
          round(list_reduce(list_prepend(CAST(1.0 AS DOUBLE),
            ar.fs[1:ix.i]), (a, b) -> a * b), 6) AS survival
        FROM ix JOIN ar USING (c_mktsegment)"""))

  /** One-way ANOVA F across return flags on extended price — exact
    * per-group stats, group-name-ordered term fold. */
  private val l142 = Spec("q277_anova_f",
    (s, d) => graft.engine.Relational.anovaF(
      T(s, d, "lineitem"), "l_returnflag", "l_extendedprice"),
    Some {
      def cv(c: String) = graft.engine.Relational.decToDoubleSql(c, 12)
      s"""WITH g AS (SELECT CAST(l_returnflag AS VARCHAR) AS gg,
          CAST(count(*) AS BIGINT) AS n,
          CAST(sum(CAST(l_extendedprice AS DECIMAL(18,6)))
            AS DECIMAL(38,12)) AS s,
          CAST(sum(CAST(l_extendedprice AS DECIMAL(19,6))
            * CAST(l_extendedprice AS DECIMAL(18,6)))
            AS DECIMAL(38,12)) AS ss
          FROM lineitem
          WHERE l_extendedprice IS NOT NULL AND l_returnflag IS NOT NULL
          GROUP BY 1),
        tm AS (SELECT gg, n, s, ss, ${cv("s")} * ${cv("s")}
          / CAST(n AS DOUBLE) AS term FROM g),
        ag AS (SELECT CAST(count(*) AS INT) AS k,
          CAST(sum(n) AS BIGINT) AS n,
          CAST(sum(s) AS DECIMAL(38,12)) AS stot,
          CAST(sum(ss) AS DECIMAL(38,12)) AS sstot,
          list(term ORDER BY gg) AS terms FROM tm),
        tt AS (SELECT *, list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
          terms), (a, b) -> a + b) AS t FROM ag)
        SELECT k, n,
          round(t - ${cv("stot")} * ${cv("stot")}
            / CAST(n AS DOUBLE), 6) AS ssb,
          round(${cv("sstot")} - t, 6) AS ssw,
          round(CASE WHEN k > 1 AND n > k
            AND (${cv("sstot")} - t) > 0 THEN
            ((t - ${cv("stot")} * ${cv("stot")}
              / CAST(n AS DOUBLE)) / CAST(k - 1 AS DOUBLE))
            / ((${cv("sstot")} - t) / CAST(n - k AS DOUBLE))
            END, 6) AS f_stat
        FROM tt"""
    })

  /** CMS inner-product join-size estimate for lineitem ⋈ orders on the
    * order key — the two-table companion of q268's self-join pricing. */
  private val l143 = Spec("q278_cms_join_size",
    (s, d) => graft.engine.Sketches.cmsJoinSize(
      T(s, d, "lineitem"), "l_orderkey", T(s, d, "orders"), "o_orderkey",
      d = 4, w = 256),
    Some(s"""WITH ca AS (SELECT CAST(l_orderkey AS VARCHAR) AS key,
          CAST(count(*) AS BIGINT) AS n FROM lineitem
          WHERE l_orderkey IS NOT NULL GROUP BY 1),
        cb AS (SELECT CAST(o_orderkey AS VARCHAR) AS key,
          CAST(count(*) AS BIGINT) AS n FROM orders
          WHERE o_orderkey IS NOT NULL GROUP BY 1),
        ta AS (SELECT jj.r AS row,
          ${phSql("CAST(jj.r AS VARCHAR) || '#' || key")} % 256
            AS bucket,
          CAST(sum(n) AS BIGINT) AS cta FROM ca
          CROSS JOIN (SELECT unnest(range(0, 4)) AS r) jj GROUP BY 1, 2),
        tb AS (SELECT jj.r AS row,
          ${phSql("CAST(jj.r AS VARCHAR) || '#' || key")} % 256
            AS bucket,
          CAST(sum(n) AS BIGINT) AS ctb FROM cb
          CROSS JOIN (SELECT unnest(range(0, 4)) AS r) jj GROUP BY 1, 2),
        ipj AS (SELECT ta.row, CAST(sum(cta * ctb) AS BIGINT) AS ip
          FROM ta JOIN tb ON tb.row = ta.row AND tb.bucket = ta.bucket
          GROUP BY 1),
        rr AS (SELECT unnest(range(0, 4)) AS row),
        ip AS (SELECT rr.row, CAST(coalesce(ipj.ip, 0) AS BIGINT) AS ip
          FROM rr LEFT JOIN ipj ON ipj.row = rr.row),
        es AS (SELECT min(ip) AS est FROM ip),
        xx AS (SELECT CAST(coalesce(sum(ca.n * cb.n), 0) AS BIGINT)
          AS exact FROM ca JOIN cb USING (key))
        SELECT CAST(4 AS INT) AS d, CAST(256 AS INT) AS w, est, exact,
          CASE WHEN exact > 0 THEN round(
            CAST(est - exact AS DOUBLE) * 1000000.0
              / CAST(exact AS DOUBLE), 6) END AS err_ppm
        FROM es CROSS JOIN xx"""))

  /** Neyman-optimal allocation of a 1000-row sampling budget across
    * return flags by n_h·σ_h, largest-remainder integer seats. */
  private val l144 = Spec("q279_neyman_allocation",
    (s, d) => graft.llm.Selection.neymanAllocation(
      T(s, d, "lineitem"), "l_returnflag", "l_extendedprice",
      budget = 1000L),
    Some {
      val cs = graft.engine.Relational.decToDoubleSql("s", 12)
      val css = graft.engine.Relational.decToDoubleSql("ss", 12)
      s"""WITH g AS (SELECT CAST(l_returnflag AS VARCHAR) AS stratum,
          CAST(count(*) AS BIGINT) AS n,
          CAST(sum(CAST(l_extendedprice AS DECIMAL(18,6)))
            AS DECIMAL(38,12)) AS s,
          CAST(sum(CAST(l_extendedprice AS DECIMAL(19,6))
            * CAST(l_extendedprice AS DECIMAL(18,6)))
            AS DECIMAL(38,12)) AS ss
          FROM lineitem
          WHERE l_extendedprice IS NOT NULL AND l_returnflag IS NOT NULL
          GROUP BY 1),
        sg AS (SELECT stratum, n, sqrt(greatest(CAST(0 AS DOUBLE),
          $css / CAST(n AS DOUBLE)
          - ($cs / CAST(n AS DOUBLE))
          * ($cs / CAST(n AS DOUBLE)))) AS sigma FROM g),
        ww AS (SELECT stratum, n, sigma, CAST(n AS DOUBLE) * sigma AS w
          FROM sg),
        tt AS (SELECT list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
          (SELECT list(w ORDER BY stratum) FROM ww)), (a, b) -> a + b)
          AS tw, (SELECT CAST(sum(n) AS BIGINT) FROM ww) AS tn),
        sh AS (SELECT ww.*, CASE WHEN tt.tw > 0 THEN
          CAST(1000 AS DOUBLE) * ww.w / tt.tw
          ELSE CAST(1000 AS DOUBLE) * CAST(ww.n AS DOUBLE)
            / CAST(tt.tn AS DOUBLE) END
          AS share FROM ww CROSS JOIN tt),
        b AS (SELECT *, CAST(floor(share) AS BIGINT) AS base,
          share - floor(share) AS rem FROM sh),
        d2 AS (SELECT *, 1000 - sum(base) OVER () AS deficit,
          row_number() OVER (ORDER BY rem DESC, stratum) AS rk FROM b)
        SELECT stratum, n, round(sigma, 6) AS sigma,
          base + CASE WHEN rk <= deficit THEN 1 ELSE 0 END AS alloc
        FROM d2"""
    })

  /** 5% two-sided trimmed mean of extended price per return flag — the
    * drop-the-tails robust-location companion of winsorize. */
  private val l145 = Spec("q280_trimmed_mean",
    (s, d) => graft.engine.Relational.trimmedMean(
      T(s, d, "lineitem"), Seq("l_returnflag"), "l_extendedprice",
      trimPct = 5),
    Some(s"""WITH v AS (SELECT l_returnflag,
          CAST(l_extendedprice AS DECIMAL(18,6)) AS x FROM lineitem
          WHERE l_extendedprice IS NOT NULL),
        r AS (SELECT l_returnflag, x, row_number() OVER (
          PARTITION BY l_returnflag ORDER BY x) AS rk,
          count(*) OVER (PARTITION BY l_returnflag) AS n FROM v),
        k AS (SELECT *, (n * 5) // 100 AS k FROM r),
        a AS (SELECT l_returnflag, CAST(max(n) AS BIGINT) AS n,
          CAST(max(k) * 2 AS BIGINT) AS n_trimmed,
          CAST(sum(CASE WHEN rk > k AND rk <= n - k THEN x END)
            AS DECIMAL(38,6)) AS s,
          CAST(sum(CASE WHEN rk > k AND rk <= n - k THEN 1 ELSE 0 END)
            AS BIGINT) AS kept
          FROM k GROUP BY 1)
        SELECT l_returnflag, n, n_trimmed,
          round(CASE WHEN kept > 0 THEN
            ${graft.engine.Relational.decToDoubleSql("s", 6)}
            / CAST(kept AS DOUBLE) END, 6) AS trimmed_mean
        FROM a"""))

  /** Shared co-purchase subgraph CTE (the q167/q173 graph, parts % 3)
    * — ONE copy for q281 (modularity) and q282 (assortativity). */
  private val coPurchaseCte: String =
    """li AS (SELECT l_orderkey AS o, l_partkey AS p FROM lineitem
          WHERE l_partkey % 3 = 0),
        e0 AS (SELECT DISTINCT a.p AS u, b.p AS v FROM li a
          JOIN li b ON a.o = b.o AND a.p < b.p)"""

  /** Delegates to the session-memoized canonical builder in [[Queries]]
    * — one within-order pair self-join serves q281/q282/q287 AND the
    * Queries-side graph family (q171/q172/q216/...). */
  private def coPurchase(s: SparkSession, d: String): DataFrame =
    Queries.coPurchaseEdges(s, d, modFilter = true)

  /** Per-community modularity contributions of the `p mod 4` partition
    * over the co-purchase graph — the partition-quality score for any
    * community assignment. */
  private val l146 = Spec("q281_modularity",
    (s, d) => {
      val edges = coPurchase(s, d)
      val asg = edges.select(col("pa").as("node"))
        .unionByName(edges.select(col("pb").as("node"))).distinct()
        .withColumn("community", col("node") % 4)
      graft.engine.Graph.modularity(edges, "pa", "pb", asg, "node",
        "community")
    },
    Some(s"""WITH $coPurchaseCte,
        asg AS (SELECT DISTINCT p AS node, p % 4 AS community FROM li),
        mm AS (SELECT CAST(count(*) AS BIGINT) AS m FROM e0),
        deg AS (SELECT node, CAST(count(*) AS BIGINT) AS deg FROM (
          SELECT u AS node FROM e0 UNION ALL SELECT v FROM e0)
          GROUP BY 1),
        bc AS (SELECT a.community, CAST(count(*) AS BIGINT) AS n_nodes,
          CAST(sum(deg) AS BIGINT) AS deg_sum FROM deg
          JOIN asg a ON a.node = deg.node GROUP BY 1),
        ei AS (SELECT au.community, CAST(count(*) AS BIGINT) AS e_in
          FROM e0 JOIN asg au ON au.node = e0.u
          JOIN asg av ON av.node = e0.v
          WHERE au.community = av.community GROUP BY 1)
        SELECT bc.community, bc.n_nodes,
          CAST(coalesce(ei.e_in, 0) AS BIGINT) AS e_in, bc.deg_sum,
          round(CAST(coalesce(ei.e_in, 0) AS DOUBLE)
            / CAST(mm.m AS DOUBLE)
            - (CAST(deg_sum AS DOUBLE) / CAST(2 * mm.m AS DOUBLE))
            * (CAST(deg_sum AS DOUBLE) / CAST(2 * mm.m AS DOUBLE)), 6)
            AS q_contrib
        FROM bc LEFT JOIN ei USING (community) CROSS JOIN mm"""))

  /** Degree assortativity of the co-purchase graph — hub-meets-hub vs
    * hub-meets-leaf in one exact-integer Pearson. */
  private val l147 = Spec("q282_assortativity",
    (s, d) => graft.engine.Graph.degreeAssortativity(
      coPurchase(s, d), "pa", "pb"),
    Some(s"""WITH $coPurchaseCte,
        deg AS (SELECT node, CAST(count(*) AS BIGINT) AS deg FROM (
          SELECT u AS node FROM e0 UNION ALL SELECT v FROM e0)
          GROUP BY 1),
        pr AS (SELECT e0.u, e0.v, du.deg AS du, dv.deg AS dv FROM e0
          JOIN deg du ON du.node = e0.u JOIN deg dv ON dv.node = e0.v),
        ag AS (SELECT CAST(count(*) AS BIGINT) AS m,
          CAST(sum(du + dv) AS BIGINT) AS sx,
          CAST(sum(du * dv * 2) AS BIGINT) AS sxy,
          CAST(sum(du * du + dv * dv) AS BIGINT) AS sxx FROM pr),
        n2 AS (SELECT *, m * 2 AS n FROM ag)
        SELECT m, round(CASE WHEN CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
            - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) > 0 THEN
            (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
            - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
            / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
            - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) END, 6) AS r
        FROM n2"""))

  /** Bucketed quantile normalization of event values onto the pooled
    * distribution — the cross-source drift-correction transform. */
  private val l148 = Spec("q283_quantile_normalize",
    (s, d) => graft.engine.Relational.quantileNormalize(
      T(s, d, "events"), "event_type", "event_id", "value",
      nBuckets = 100),
    Some("""WITH v AS (SELECT event_type AS source, event_id AS id,
          CAST(value AS DOUBLE) AS value FROM events
          WHERE value IS NOT NULL),
        p AS (SELECT value, ntile(100) OVER (ORDER BY value) AS b
          FROM v),
        pooled AS (SELECT b, max(value) AS norm_value FROM p GROUP BY 1),
        r AS (SELECT source, id, value, row_number() OVER (
          PARTITION BY source ORDER BY value, id) AS r,
          count(*) OVER (PARTITION BY source) AS n FROM v),
        k AS (SELECT source, id, value,
          CAST((r * 100 + n - 1) // n AS INT) AS bucket FROM r)
        SELECT k.source, k.id, k.value, k.bucket, pooled.norm_value
        FROM k JOIN pooled ON pooled.b = k.bucket"""))

  /** Two-feature OLS (price ~ quantity + discount) per return flag via
    * exact sufficient stats + Cramer's rule, shared formulas. */
  private val l149 = Spec("q284_ols2",
    (s, d) => graft.engine.Relational.ols2(
      T(s, d, "lineitem"), Seq("l_returnflag"), "l_extendedprice",
      "l_quantity", "l_discount"),
    Some {
      val steps = graft.engine.Relational.ols2DerivedSql
      val ctes = steps.zipWithIndex.map { case ((name, formula), i) =>
        s"c${i + 1} AS (SELECT *, $formula AS $name FROM c$i)"
      }.mkString(",\n          ")
      s"""WITH c0 AS (SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
            CAST(sum(CAST(l_quantity AS DECIMAL(18,6)))
              AS DECIMAL(38,12)) AS s1,
            CAST(sum(CAST(l_discount AS DECIMAL(18,6)))
              AS DECIMAL(38,12)) AS s2,
            CAST(sum(CAST(l_extendedprice AS DECIMAL(18,6)))
              AS DECIMAL(38,12)) AS sy,
            CAST(sum(CAST(l_quantity AS DECIMAL(19,6))
              * CAST(l_quantity AS DECIMAL(18,6))) AS DECIMAL(38,12))
              AS s11,
            CAST(sum(CAST(l_discount AS DECIMAL(19,6))
              * CAST(l_discount AS DECIMAL(18,6))) AS DECIMAL(38,12))
              AS s22,
            CAST(sum(CAST(l_quantity AS DECIMAL(19,6))
              * CAST(l_discount AS DECIMAL(18,6))) AS DECIMAL(38,12))
              AS s12,
            CAST(sum(CAST(l_quantity AS DECIMAL(19,6))
              * CAST(l_extendedprice AS DECIMAL(18,6)))
              AS DECIMAL(38,12)) AS s1y,
            CAST(sum(CAST(l_discount AS DECIMAL(19,6))
              * CAST(l_extendedprice AS DECIMAL(18,6)))
              AS DECIMAL(38,12)) AS s2y,
            CAST(sum(CAST(l_extendedprice AS DECIMAL(19,6))
              * CAST(l_extendedprice AS DECIMAL(18,6)))
              AS DECIMAL(38,12)) AS syy
            FROM lineitem WHERE l_extendedprice IS NOT NULL
              AND l_quantity IS NOT NULL AND l_discount IS NOT NULL
            GROUP BY 1),
          $ctes
          SELECT l_returnflag, n, round(b1, 6) AS b1,
            round(b2, 6) AS b2, round(icept, 6) AS intercept,
            round(r2, 6) AS r2 FROM c${steps.size}"""
    })

  /** Split-conformal 90%-coverage calibration quantile of event values
    * per event type — exact-rank pick, null when the guarantee needs
    * the infinite quantile. */
  private val l150 = Spec("q285_conformal_quantile",
    (s, d) => graft.llm.Eval.conformalQuantile(
      T(s, d, "events"), Seq("event_type"), "value", alphaPct = 10),
    Some("""WITH v AS (SELECT event_type, CAST(value AS DOUBLE) AS s
          FROM events WHERE value IS NOT NULL),
        r AS (SELECT event_type, s, row_number() OVER (
          PARTITION BY event_type ORDER BY s) AS rk,
          count(*) OVER (PARTITION BY event_type) AS n FROM v),
        t AS (SELECT *, ((n + 1) * 90 + 99) // 100 AS target FROM r)
        SELECT event_type, CAST(max(n) AS BIGINT) AS n,
          CAST(max(target) AS BIGINT) AS rank,
          round(max(CASE WHEN rk = target THEN s END), 6) AS q_hat
        FROM t GROUP BY 1"""))

  /** The p-value worklist of the correction queries (q286 BH, q356
    * Holm, q416 BY): the fractional part of each error event's value.
    */
  private def errorPValues(s: SparkSession, d: String): DataFrame =
    T(s, d, "events").filter(col("event_type") === "error")
      .withColumn("p", col("value") - floor(col("value")))

  /** Its oracle CTE `t(id, p)`, which opens the WITH list. */
  private val errorPSql = """WITH t AS (SELECT event_id AS id,
          CAST(value AS DOUBLE) - floor(CAST(value AS DOUBLE)) AS p
          FROM events WHERE event_type = 'error' AND value IS NOT NULL)"""

  /** The oracle's ranked CTE `r(id, p, rank…)` over `t`, the mirror of
    * `Relational.rankedP`: row_number by `(p, id)`, plus `extra`
    * select-list items (comma-led).
    */
  private def rankedPSql(extra: String): String =
    s"""r AS (SELECT id, p, CAST(row_number() OVER (ORDER BY p, id)
          AS INT) AS rank$extra FROM t)"""

  /** Benjamini–Hochberg step-up at FDR 20% over the error-event
    * pseudo-p column — the multiple-testing closure of the test
    * family. */
  private val l151 = Spec("q286_bh_fdr",
    (s, d) => graft.engine.Relational.bhFdr(
      errorPValues(s, d), "event_id", "p", alphaPct = 20),
    Some(s"""$errorPSql,
        ${rankedPSql(", count(*) OVER () AS m")},
        c AS (SELECT *, CAST(rank AS DOUBLE) * CAST(20 AS DOUBLE)
          / (CAST(100 AS DOUBLE) * CAST(m AS DOUBLE)) AS crit FROM r),
        k AS (SELECT *, max(CASE WHEN p <= crit THEN rank ELSE 0 END)
          OVER () AS kstar FROM c)
        SELECT id, p, rank, round(crit, 6) AS crit,
          rank <= kstar AS discovery FROM k"""))

  /** Seedless negative-edge samples (k = 3 of 8 draws) over the
    * co-purchase graph — the contrastive-training counterpart of the
    * link-prediction Jaccard. */
  private val l152 = Spec("q287_negative_edges",
    (s, d) => graft.engine.Graph.negativeEdgeSamples(
      coPurchase(s, d), "pa", "pb", k = 3, oversample = 8),
    Some(s"""WITH $coPurchaseCte,
        nodes AS (SELECT DISTINCT node FROM (
          SELECT u AS node FROM e0 UNION ALL SELECT v FROM e0)),
        ix AS (SELECT node AS id, row_number() OVER (ORDER BY node) - 1
          AS idx FROM nodes),
        nv AS (SELECT count(*) AS n FROM ix),
        dr AS (SELECT ix.id AS u, jj.j,
          (${phSql("CAST(ix.id AS VARCHAR) || '#' || CAST(jj.j AS VARCHAR)")}
            * 2654435761) % 1000000007 % nv.n AS cidx
          FROM ix CROSS JOIN nv
          CROSS JOIN (SELECT unnest(range(0, 8)) AS j) jj),
        cd AS (SELECT dr.u, dr.j, i2.id AS neg_id FROM dr
          JOIN ix i2 ON i2.idx = dr.cidx),
        uk AS (SELECT u, v FROM e0 UNION ALL SELECT v AS u, u AS v
          FROM e0),
        fl AS (SELECT cd.* FROM cd WHERE cd.neg_id <> cd.u
          AND NOT EXISTS (SELECT 1 FROM uk
            WHERE uk.u = cd.u AND uk.v = cd.neg_id)),
        dd AS (SELECT u, neg_id, min(j) AS j FROM fl GROUP BY 1, 2),
        rk AS (SELECT *, row_number() OVER (PARTITION BY u ORDER BY j)
          AS rk FROM dd)
        SELECT u, CAST(j AS INT) AS j, neg_id FROM rk WHERE rk <= 3"""))

  /** Stratified 5-fold assignment of documents by language in
    * content-hash order — the reproducible cross-validation split. */
  private val l153 = Spec("q288_kfold_assign",
    (s, d) => graft.llm.Selection.kfoldAssign(
      T(s, d, "documents"), "lang", "doc_id", k = 5),
    Some(s"""WITH t AS (SELECT doc_id AS id, CAST(lang AS VARCHAR)
          AS stratum,
          (${phSql("CAST(doc_id AS VARCHAR)")} * 2654435761)
            % 1000000007 AS h
          FROM documents)
        SELECT id, stratum, CAST((row_number() OVER (
          PARTITION BY stratum ORDER BY h, id) - 1) % 5 AS INT) AS fold
        FROM t"""))

  /** Column-profile diff between the even- and odd-orderkey halves of
    * orders — the between-snapshot drift smoke report. */
  private val l154 = Spec("q289_profile_diff",
    (s, d) => graft.engine.Relational.profileDiff(
      T(s, d, "orders").filter(col("o_orderkey") % 2 === 0),
      T(s, d, "orders").filter(col("o_orderkey") % 2 === 1),
      Seq("o_totalprice", "o_custkey")),
    Some {
      def cv(c: String) = graft.engine.Relational.decToDoubleSql(c, 12)
      def sideCte(pred: String, sfx: String): String =
        s"""st$sfx AS (
            SELECT 'o_totalprice' AS colname,
              CAST(o_totalprice AS DECIMAL(18,6)) AS x FROM orders
              WHERE $pred
            UNION ALL SELECT 'o_custkey',
              CAST(o_custkey AS DECIMAL(18,6)) FROM orders
              WHERE $pred),
          ag$sfx AS (SELECT colname, CAST(count(*) AS BIGINT) AS n_$sfx,
            CAST(sum(CASE WHEN x IS NULL THEN 1 ELSE 0 END) AS BIGINT)
              AS nulls_$sfx,
            CAST(sum(x) AS DECIMAL(38,12)) AS s_$sfx,
            CAST(sum(CAST(x AS DECIMAL(19,6)) * x) AS DECIMAL(38,12))
              AS ss_$sfx,
            CAST(count(x) AS BIGINT) AS nv_$sfx
            FROM st$sfx GROUP BY colname),
          f$sfx AS (SELECT colname, n_$sfx,
            (nulls_$sfx * 1000000) // n_$sfx AS null_ppm_$sfx,
            round(CASE WHEN nv_$sfx > 0 THEN ${cv(s"s_$sfx")}
              / CAST(nv_$sfx AS DOUBLE) END, 6) AS mean_$sfx,
            round(CASE WHEN nv_$sfx > 0 THEN
              sqrt(greatest(CAST(0 AS DOUBLE),
                ${cv(s"ss_$sfx")} / CAST(nv_$sfx AS DOUBLE)
                - (${cv(s"s_$sfx")} / CAST(nv_$sfx AS DOUBLE))
                * (${cv(s"s_$sfx")} / CAST(nv_$sfx AS DOUBLE))))
              END, 6) AS std_$sfx
            FROM ag$sfx)"""
      s"""WITH ${sideCte("o_orderkey % 2 = 0", "a")},
          ${sideCte("o_orderkey % 2 = 1", "b")}
          SELECT fa.colname, fa.n_a, fb.n_b, fa.null_ppm_a,
            fb.null_ppm_b, fa.mean_a, fb.mean_b,
            round(fb.mean_b - fa.mean_a, 6) AS mean_delta,
            fa.std_a, fb.std_b
          FROM fa JOIN fb USING (colname)"""
    })

  /** Jaro–Winkler blocked name linkage over part names — the native
    * codegen [[graft.functions.JaroWinkler]] expression vs DuckDB's
    * built-in; candidates blocked on (last word, first char) so the
    * pair space is block-bounded, threshold applied on the 6dp-rounded
    * score so the predicate is engine-identical. */
  private val l155 = Spec("q290_jw_linkage",
    (s, d) => {
      val p = T(s, d, "part").select(col("p_name"),
          element_at(split(col("p_name"), " "), -1).as("__blk"))
        .distinct()
      val a = p.select(col("p_name").as("name_a"), col("__blk"))
      val b = p.select(col("p_name").as("name_b"), col("__blk"))
      a.join(b, Seq("__blk"))
        .filter(col("name_a") < col("name_b"))
        .withColumn("jw", round(graft.functions.JaroWinkler
          .jaroWinkler(col("name_a"), col("name_b")), 6))
        .filter(col("jw") >= 0.5)
        .select(col("name_a"), col("name_b"), col("jw"))
    },
    Some("""WITH p AS (SELECT DISTINCT p_name,
          string_split(p_name, ' ')[-1] AS blk FROM part)
        SELECT a.p_name AS name_a, b.p_name AS name_b,
          round(jaro_winkler_similarity(a.p_name, b.p_name), 6) AS jw
        FROM p a JOIN p b ON a.blk = b.blk AND a.p_name < b.p_name
        WHERE round(jaro_winkler_similarity(a.p_name, b.p_name), 6)
          >= CAST(0.5 AS DOUBLE)"""))

  /** Linear multi-touch attribution: purchases split 1e6 ppm of credit
    * across the user's clicks/views in the prior 24 h, remainder to the
    * latest touch. */
  private val l156 = Spec("q291_attribution",
    (s, d) => graft.engine.Windows.multiTouchAttribution(
      T(s, d, "events"), "user_id", "event_id", "ts", "event_type",
      convType = "purchase", touchTypes = Seq("click", "view"),
      windowSec = 86400L),
    Some("""WITH cv AS (SELECT user_id, event_id AS conv_id, ts AS conv_ts
          FROM events WHERE event_type = 'purchase'),
        tc AS (SELECT user_id, event_id AS touch_id, ts AS touch_ts
          FROM events WHERE event_type IN ('click', 'view')),
        j AS (SELECT cv.user_id, cv.conv_id, cv.conv_ts, tc.touch_id,
          tc.touch_ts FROM cv JOIN tc USING (user_id)
          WHERE tc.touch_ts < cv.conv_ts
            AND tc.touch_ts >= cv.conv_ts - INTERVAL 86400 SECOND),
        n AS (SELECT *, CAST(count(*) OVER (PARTITION BY user_id,
            conv_id) AS INT) AS n_touches,
          row_number() OVER (PARTITION BY user_id, conv_id
            ORDER BY touch_ts DESC, touch_id DESC) AS lst FROM j)
        SELECT user_id, conv_id, conv_ts, touch_id, touch_ts, n_touches,
          CAST(1000000 // n_touches + CASE WHEN lst = 1
            THEN 1000000 % n_touches ELSE 0 END AS BIGINT) AS weight_ppm
        FROM n"""))

  /** Peak concurrent 30-minute event sessions per event type — the
    * sweep-line capacity gauge. */
  private val l157 = Spec("q292_max_concurrency",
    (s, d) => graft.engine.Windows.maxConcurrency(
      T(s, d, "events").select(col("event_type"), col("ts").as("s"),
        (col("ts") + expr("INTERVAL 1800 SECOND")).as("e"))
        .filter(col("s").isNotNull),
      Seq("event_type"), "s", "e"),
    Some("""WITH iv AS (SELECT event_type, ts AS s,
          ts + INTERVAL 1800 SECOND AS e FROM events
          WHERE ts IS NOT NULL),
        pt AS (SELECT event_type, s AS ts, 1 AS d FROM iv
          UNION ALL SELECT event_type, e, -1 FROM iv),
        rn AS (SELECT event_type, ts, d, CAST(sum(d) OVER (
          PARTITION BY event_type ORDER BY ts, d
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
          AS run FROM pt),
        pk AS (SELECT event_type, ts, run,
          max(run) OVER (PARTITION BY event_type) AS peak FROM rn)
        SELECT event_type, CAST(count(*) // 2 AS BIGINT) AS n_intervals,
          max(run) AS peak,
          min(CASE WHEN run = peak THEN ts END) AS peak_ts
        FROM pk GROUP BY 1"""))

  /** Intra-list diversity + catalog coverage of the exact top-5
    * retrieval lists — the metric MMR moves, as a report. */
  private val l158 = Spec("q293_reco_diversity",
    (s, d) => {
      val emb = T(s, d, "embeddings")
      val lists = Similarity.bruteForceTopK(emb,
        emb.filter(col("vec_id") < 8), "vec_id", "embedding", "vec_id", 5)
        .select(col("query_id"), col("neighbor_id"))
      graft.llm.Eval.intraListDiversity(lists, "query_id",
        "neighbor_id", emb, "vec_id", "embedding")
    },
    Some(s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qv
          FROM embeddings WHERE vec_id < 8),
        sc AS (SELECT q.query_id, c.vec_id AS neighbor_id,
          ${cosSql("q.qv", "c.embedding")} AS cos
          FROM q CROSS JOIN embeddings c),
        rr AS (SELECT *, row_number() OVER (PARTITION BY query_id
          ORDER BY cos DESC, neighbor_id) AS rank FROM sc),
        ct AS (SELECT query_id, neighbor_id FROM rr WHERE rank <= 5),
        wv AS (SELECT ct.query_id, ct.neighbor_id, e.embedding AS v
          FROM ct JOIN embeddings e ON e.vec_id = ct.neighbor_id),
        pr AS (SELECT a.query_id, a.neighbor_id AS pa,
          b.neighbor_id AS pb,
          CAST(1.0 AS DOUBLE) - ${cosSql("a.v", "b.v")} AS dd
          FROM wv a JOIN wv b ON a.query_id = b.query_id
            AND a.neighbor_id < b.neighbor_id),
        pq AS (SELECT query_id, list(dd ORDER BY pa, pb) AS ds FROM pr
          GROUP BY 1),
        sm AS (SELECT query_id, list_reduce(list_prepend(
          CAST(0.0 AS DOUBLE), ds), (a, b) -> a + b) AS sd,
          len(ds) AS np FROM pq),
        cnt AS (SELECT query_id, CAST(count(DISTINCT neighbor_id)
          AS INT) AS n_items FROM ct GROUP BY 1),
        cov AS (SELECT (CAST(count(DISTINCT neighbor_id) AS BIGINT)
          * 1000000) // (SELECT count(DISTINCT vec_id) FROM embeddings)
          AS coverage_ppm FROM ct)
        SELECT cnt.query_id, cnt.n_items,
          round(CASE WHEN np > 0 THEN sd / CAST(np AS DOUBLE) END, 6)
            AS ild,
          cov.coverage_ppm
        FROM cnt LEFT JOIN sm USING (query_id) CROSS JOIN cov"""))

  /** Single changepoint in the daily order-revenue series per priority
    * — O(T) segmented-regression scan on exact prefix stats. */
  private val l159 = Spec("q294_changepoint",
    (s, d) => {
      val daily = T(s, d, "orders")
        .groupBy(col("o_orderpriority"),
          datediff(col("o_orderdate"), lit("1995-01-01")).as("t"))
        .agg(sum(col("o_totalprice")
          .cast(org.apache.spark.sql.types.DecimalType(18, 6)))
          .cast(org.apache.spark.sql.types.DecimalType(18, 6)).as("y"))
      graft.engine.Windows.changepoint(daily, Seq("o_orderpriority"),
        "t", "y")
    },
    Some {
      val sseL = graft.engine.Windows.sseSql("l")
      val sseR = graft.engine.Windows.sseSql("r")
      val sseA = graft.engine.Windows.sseSql("a")
      s"""WITH daily AS (SELECT o_orderpriority,
            date_diff('day', DATE '1995-01-01', o_orderdate) AS t,
            CAST(sum(CAST(o_totalprice AS DECIMAL(18,6)))
              AS DECIMAL(18,6)) AS y
            FROM orders GROUP BY 1, 2),
          v AS (SELECT o_orderpriority, CAST(t AS DECIMAL(18,6)) AS tt,
            y,
            CAST(CAST(t AS DECIMAL(19,6)) * CAST(t AS DECIMAL(18,6))
              AS DECIMAL(38,12)) AS ptt,
            CAST(CAST(t AS DECIMAL(19,6)) * y AS DECIMAL(38,12)) AS pty,
            CAST(CAST(y AS DECIMAL(19,6)) * y AS DECIMAL(38,12)) AS pyy
            FROM daily),
          pre AS (SELECT o_orderpriority, tt,
            row_number() OVER (PARTITION BY o_orderpriority
              ORDER BY tt) AS nl,
            CAST(sum(tt) OVER wpre AS DECIMAL(38,12)) AS stl,
            CAST(sum(y) OVER wpre AS DECIMAL(38,12)) AS syl,
            CAST(sum(ptt) OVER wpre AS DECIMAL(38,12)) AS sttl,
            CAST(sum(pty) OVER wpre AS DECIMAL(38,12)) AS styl,
            CAST(sum(pyy) OVER wpre AS DECIMAL(38,12)) AS syyl,
            count(*) OVER wall AS na,
            CAST(sum(tt) OVER wall AS DECIMAL(38,12)) AS sta,
            CAST(sum(y) OVER wall AS DECIMAL(38,12)) AS sya,
            CAST(sum(ptt) OVER wall AS DECIMAL(38,12)) AS stta,
            CAST(sum(pty) OVER wall AS DECIMAL(38,12)) AS stya,
            CAST(sum(pyy) OVER wall AS DECIMAL(38,12)) AS syya
            FROM v WINDOW
              wpre AS (PARTITION BY o_orderpriority ORDER BY tt
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
              wall AS (PARTITION BY o_orderpriority)),
          cand AS (SELECT *, na - nl AS nr,
            CAST(sta - stl AS DECIMAL(38,12)) AS str,
            CAST(sya - syl AS DECIMAL(38,12)) AS syr,
            CAST(stta - sttl AS DECIMAL(38,12)) AS sttr,
            CAST(stya - styl AS DECIMAL(38,12)) AS styr,
            CAST(syya - syyl AS DECIMAL(38,12)) AS syyr
            FROM pre WHERE nl >= 2 AND na - nl >= 2),
          sc AS (SELECT o_orderpriority, tt, na,
            round(sqrt(greatest(CAST(0 AS DOUBLE),
              ($sseL + $sseR) / CAST(na AS DOUBLE))), 6) AS rmse,
            round(sqrt(greatest(CAST(0 AS DOUBLE),
              $sseA / CAST(na AS DOUBLE))), 6) AS rmse1 FROM cand),
          rk AS (SELECT *, row_number() OVER (
            PARTITION BY o_orderpriority ORDER BY rmse, tt) AS rk
            FROM sc)
          SELECT o_orderpriority, CAST(na AS BIGINT) AS n,
            CAST(tt AS DOUBLE) AS split_t, rmse AS rmse_split,
            rmse1 AS rmse_single, round(rmse1 - rmse, 6) AS gain
          FROM rk WHERE rk = 1"""
    })

  /** Referential-integrity audit over three declared edges — the exact
    * enforcement face of q269's sketch discovery (the third edge is
    * deliberately bogus and mostly orphaned). */
  private val l160 = Spec("q295_ri_audit",
    (s, d) => graft.engine.Relational.riAudit(Seq(
      ("orders.o_custkey->customer.c_custkey",
        T(s, d, "orders"), "o_custkey", T(s, d, "customer"), "c_custkey"),
      ("lineitem.l_partkey->part.p_partkey",
        T(s, d, "lineitem"), "l_partkey", T(s, d, "part"), "p_partkey"),
      ("lineitem.l_suppkey->nation.n_nationkey",
        T(s, d, "lineitem"), "l_suppkey", T(s, d, "nation"),
        "n_nationkey"))),
    Some {
      def edge(nm: String, ct: String, fk: String, pt: String,
          pk: String): String =
        s"""SELECT '$nm' AS edge,
            (SELECT CAST(count(*) AS BIGINT) FROM $ct
              WHERE $fk IS NOT NULL) AS n_child,
            (SELECT CAST(count(*) AS BIGINT) FROM $ct
              WHERE $fk IS NOT NULL AND $fk NOT IN (
                SELECT $pk FROM $pt WHERE $pk IS NOT NULL)) AS n_orphan"""
      val rows = Seq(
        edge("orders.o_custkey->customer.c_custkey", "orders",
          "o_custkey", "customer", "c_custkey"),
        edge("lineitem.l_partkey->part.p_partkey", "lineitem",
          "l_partkey", "part", "p_partkey"),
        edge("lineitem.l_suppkey->nation.n_nationkey", "lineitem",
          "l_suppkey", "nation", "n_nationkey")).mkString(
        " UNION ALL ")
      s"""WITH e AS ($rows)
          SELECT edge, n_child, n_orphan,
            CASE WHEN n_child > 0 THEN (n_orphan * 1000000) // n_child
              ELSE 0 END AS orphan_ppm
          FROM e"""
    })

  /** Funnel dwell-time report for view→click→purchase — exact-rank
    * latency percentiles per step pair. */
  private val l161 = Spec("q296_funnel_latency",
    (s, d) => graft.engine.Windows.funnelStepLatency(T(s, d, "events"),
      "user_id", "ts", "event_type", Seq("view", "click", "purchase")),
    Some("""WITH s1 AS (SELECT user_id, min(ts) AS t1 FROM events
          WHERE event_type = 'view' GROUP BY 1),
        s2 AS (SELECT s1.user_id, t1,
          min(CASE WHEN e.ts > t1 THEN e.ts END) AS t2
          FROM s1 LEFT JOIN events e ON e.user_id = s1.user_id
            AND e.event_type = 'click'
          GROUP BY 1, 2),
        s3 AS (SELECT s2.user_id, t1, t2,
          min(CASE WHEN e.ts > t2 THEN e.ts END) AS t3
          FROM s2 LEFT JOIN events e ON e.user_id = s2.user_id
            AND e.event_type = 'purchase'
          GROUP BY 1, 2, 3),
        dl AS (SELECT CAST(2 AS INT) AS step, 'view' AS from_type,
            'click' AS to_type,
            (epoch_us(t2) - epoch_us(t1)) // 1000000 AS d
            FROM s3 WHERE t2 IS NOT NULL
          UNION ALL SELECT CAST(3 AS INT), 'click', 'purchase',
            (epoch_us(t3) - epoch_us(t2)) // 1000000
            FROM s3 WHERE t3 IS NOT NULL),
        rn AS (SELECT *, row_number() OVER (PARTITION BY step
            ORDER BY d) AS rk,
          count(*) OVER (PARTITION BY step) AS n FROM dl)
        SELECT step, from_type, to_type, CAST(max(n) AS BIGINT) AS n,
          min(d) AS min_s,
          max(CASE WHEN rk = (n + 1) // 2 THEN d END) AS med_s,
          max(CASE WHEN rk = (n * 90 + 99) // 100 THEN d END) AS p90_s,
          max(d) AS max_s
        FROM rn GROUP BY 1, 2, 3"""))

  /** A-ES fixed-size weighted sample: top-20 docs per language by the
    * ln(u)/w key — exactly-k weighted sampling without replacement. */
  private val l162 = Spec("q297_weighted_topk_sample",
    (s, d) => graft.llm.Shaping.weightedSampleTopK(
      T(s, d, "documents").select(col("doc_id"), col("lang"),
        col("n_chars")),
      "doc_id", (col("n_chars") % 100 + 1).cast("double") / 100.0,
      k = 20, groupCols = Seq("lang")),
    Some(s"""WITH t AS (SELECT doc_id, lang,
          CAST(n_chars % 100 + 1 AS DOUBLE) / 100 AS weight,
          ((${phSql("CAST(doc_id AS VARCHAR) || ':s1'")}
            * 2654435761) % 1000000007 + 1)
            / CAST(1000000008 AS DOUBLE) AS u
          FROM documents),
        kk AS (SELECT doc_id, lang, weight,
          round(ln(u) / weight, 6) AS skey FROM t WHERE weight > 0),
        r AS (SELECT *, row_number() OVER (PARTITION BY lang
          ORDER BY skey DESC, doc_id) AS rank FROM kk)
        SELECT lang, doc_id, weight, skey, CAST(rank AS INT) AS rank
        FROM r WHERE rank <= 20"""))

  /** Banded-LSH S-curve table for r ∈ {2,4,8} × b ∈ {4,8,16} — the
    * threshold-design chart, engine-exact via unrolled powers. */
  private val l163 = Spec("q298_lsh_tuning_curve",
    (s, d) => graft.llm.Dedup.lshTuningCurve(s, Seq(2, 4, 8),
      Seq(4, 8, 16), stepPct = 5),
    Some {
      val rows = for (r <- Seq(2, 4, 8); b <- Seq(4, 8, 16)) yield {
        val p = s"1 - ${graft.llm.Dedup.powUnrollSql(
          s"(1 - ${graft.llm.Dedup.powUnrollSql("s", r)})", b)}"
        val grid = (1 until 20)
          .map(i => "(" + String.format(java.util.Locale.ROOT, "%.2f",
            Double.box(i * 5 / 100.0)) + ")").mkString(", ")
        s"""SELECT CAST($r AS INT) AS r, CAST($b AS INT) AS b,
            s, round($p, 6) AS p_candidate
          FROM (SELECT CAST(s AS DOUBLE) AS s
            FROM (VALUES $grid) AS g0(s)) g"""
      }
      rows.mkString(" UNION ALL ")
    })

  /** Trailing-20-row rolling correlation of quantity vs discount along
    * ship time (thinned part subset) — windowed co-movement drift. */
  private val l164 = Spec("q299_rolling_corr",
    (s, d) => graft.engine.Windows.rollingCorr(
      T(s, d, "lineitem").filter(col("l_partkey") % 25 === 0)
        .select(col("l_returnflag"), col("l_shipdate"),
          col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
          col("l_discount")),
      Seq("l_returnflag"),
      Seq("l_shipdate", "l_orderkey", "l_linenumber"),
      "l_quantity", "l_discount", n = 20),
    Some {
      def cv(c: String) = graft.engine.Relational.decToDoubleSql(c, 12)
      val nn = "CAST(20 AS DOUBLE)"
      val num = s"($nn * ${cv("sxy")} - ${cv("sx")} * ${cv("sy")})"
      val vx = s"($nn * ${cv("sxx")} - ${cv("sx")} * ${cv("sx")})"
      val vy = s"($nn * ${cv("syy")} - ${cv("sy")} * ${cv("sy")})"
      s"""WITH v AS (SELECT l_returnflag, l_shipdate, l_orderkey,
            l_linenumber,
            CAST(l_quantity AS DECIMAL(18,6)) AS x,
            CAST(l_discount AS DECIMAL(18,6)) AS y,
            CAST(CAST(l_quantity AS DECIMAL(19,6))
              * CAST(l_quantity AS DECIMAL(18,6)) AS DECIMAL(38,12))
              AS pxx,
            CAST(CAST(l_discount AS DECIMAL(19,6))
              * CAST(l_discount AS DECIMAL(18,6)) AS DECIMAL(38,12))
              AS pyy,
            CAST(CAST(l_quantity AS DECIMAL(19,6))
              * CAST(l_discount AS DECIMAL(18,6)) AS DECIMAL(38,12))
              AS pxy
            FROM lineitem
            WHERE l_partkey % 25 = 0 AND l_quantity IS NOT NULL
              AND l_discount IS NOT NULL),
          ww AS (SELECT l_returnflag, l_shipdate, l_orderkey,
            l_linenumber, x, y,
            count(*) OVER wr AS cnt,
            CAST(sum(x) OVER wr AS DECIMAL(38,12)) AS sx,
            CAST(sum(y) OVER wr AS DECIMAL(38,12)) AS sy,
            CAST(sum(pxx) OVER wr AS DECIMAL(38,12)) AS sxx,
            CAST(sum(pyy) OVER wr AS DECIMAL(38,12)) AS syy,
            CAST(sum(pxy) OVER wr AS DECIMAL(38,12)) AS sxy
            FROM v WINDOW wr AS (PARTITION BY l_returnflag
              ORDER BY l_shipdate, l_orderkey, l_linenumber
              ROWS BETWEEN 19 PRECEDING AND CURRENT ROW))
          SELECT l_returnflag, l_shipdate, l_orderkey, l_linenumber,
            CAST(x AS DOUBLE) AS x, CAST(y AS DOUBLE) AS y,
            round(CASE WHEN cnt = 20 AND $vx > 0 AND $vy > 0 THEN
              $num / sqrt($vx * $vy) END, 6) AS corr
          FROM ww"""
    })

  /** Exact mode of line quantity per (returnflag, linestatus) — the
    * categorical-summary companion of the group-median imputer. */
  private val l165 = Spec("q300_group_mode",
    (s, d) => graft.engine.Relational.modePerGroup(
      T(s, d, "lineitem"), Seq("l_returnflag", "l_linestatus"),
      "l_quantity"),
    Some("""WITH c AS (SELECT l_returnflag, l_linestatus,
          l_quantity AS mode_value, CAST(count(*) AS BIGINT) AS n_mode
          FROM lineitem WHERE l_quantity IS NOT NULL GROUP BY 1, 2, 3),
        r AS (SELECT *, row_number() OVER (PARTITION BY l_returnflag,
          l_linestatus ORDER BY n_mode DESC, mode_value) AS rk FROM c)
        SELECT l_returnflag, l_linestatus, mode_value, n_mode FROM r
        WHERE rk = 1"""))

  /** Corpus-trained bigram-LM fluency score per document (add-one
    * smoothing, integer micro-nats) — the statistical quality filter. */
  private val l166 = Spec("q301_bigram_lm",
    (s, d) => graft.llm.Lexical.bigramLmScore(
      T(s, d, "documents"), "doc_id", "text"),
    Some(s"""WITH t AS (SELECT doc_id, $wordsSql AS words FROM documents),
        u AS (SELECT unnest(words) AS w FROM t),
        c1 AS (SELECT w, CAST(count(*) AS BIGINT) AS c1 FROM u GROUP BY 1),
        vv AS (SELECT CAST(count(*) AS BIGINT) AS v FROM c1),
        g AS (SELECT doc_id, unnest([array_to_string(words[i+1:i+2], ' ')
          for i in range(CASE WHEN len(words) >= 2 THEN len(words)-1
          ELSE 0 END)]) AS gram FROM t),
        dg AS (SELECT doc_id, gram, CAST(count(*) AS BIGINT) AS cnt
          FROM g GROUP BY 1, 2),
        c2 AS (SELECT gram, CAST(sum(cnt) AS BIGINT) AS c2
          FROM dg GROUP BY 1),
        m AS (SELECT c2.gram, CAST(round((ln(CAST(c1.c1 + vv.v AS DOUBLE))
            - ln(CAST(c2.c2 + 1 AS DOUBLE))) * 1000000) AS BIGINT) AS nll
          FROM c2 CROSS JOIN vv
          JOIN c1 ON string_split(c2.gram, ' ')[1] = c1.w)
        SELECT dg.doc_id, CAST(sum(dg.cnt) AS BIGINT) AS n_bigrams,
          CAST(sum(dg.cnt * m.nll) AS BIGINT) AS nll_micro_sum,
          CAST(sum(dg.cnt * m.nll) // sum(dg.cnt) AS BIGINT)
            AS nll_micro_avg
        FROM dg JOIN m USING (gram) GROUP BY 1"""))

  /** Exact duplicated 8-token-window density + longest contiguous
    * duplicated span per document — the ExactSubstr memorization-risk
    * structure (exact-string verify face of q123's hashed report). */
  private val l167 = Spec("q302_dup_windows",
    (s, d) => graft.llm.Dedup.dupSpanReport(
      T(s, d, "documents"), "doc_id", "text", n = 8),
    Some(s"""WITH t AS (SELECT doc_id, $wordsSql AS words FROM documents),
        g AS (SELECT doc_id, unnest([{'p': i,
          'w': array_to_string(words[i+1:i+8], ' ')}
          for i in range(CASE WHEN len(words) >= 8 THEN len(words)-7
          ELSE 0 END)]) AS u FROM t),
        gp AS (SELECT doc_id, u.p AS pos, u.w AS gram FROM g),
        nd AS (SELECT gram FROM gp GROUP BY gram
          HAVING count(DISTINCT doc_id) >= 2),
        dup AS (SELECT doc_id, pos FROM gp JOIN nd USING (gram)),
        isl AS (SELECT doc_id, pos - row_number()
          OVER (PARTITION BY doc_id ORDER BY pos) AS isle FROM dup),
        runs AS (SELECT doc_id, isle, CAST(count(*) AS BIGINT) AS rl
          FROM isl GROUP BY 1, 2),
        sp AS (SELECT doc_id, CAST(sum(rl) AS BIGINT) AS ndup,
          CAST(max(rl) AS BIGINT) AS mr FROM runs GROUP BY 1),
        nw AS (SELECT doc_id, CAST(len(words) - 7 AS BIGINT) AS n_win
          FROM t WHERE len(words) >= 8)
        SELECT nw.doc_id, nw.n_win,
          CAST(coalesce(sp.ndup, 0) AS BIGINT) AS n_dup,
          CAST(coalesce(sp.ndup, 0) * 1000000 // nw.n_win AS BIGINT)
            AS dup_ppm,
          CAST(coalesce(sp.mr + 7, 0) AS BIGINT) AS max_span_tokens
        FROM nw LEFT JOIN sp USING (doc_id)"""))

  /** Exact Gini concentration of character mass across documents —
    * the corpus-balance audit, on the distributed global rank. */
  private val l168 = Spec("q303_gini_chars",
    (s, d) => graft.engine.Relational.giniReport(
      T(s, d, "documents"), "n_chars", "doc_id"),
    Some("""WITH v AS (SELECT doc_id AS gid, CAST(n_chars AS BIGINT) AS x
          FROM documents WHERE n_chars IS NOT NULL AND n_chars >= 0),
        r AS (SELECT x, CAST(row_number() OVER (ORDER BY x, gid)
          AS HUGEINT) AS rk FROM v)
        SELECT CAST(count(*) AS BIGINT) AS n_rows,
          CAST(coalesce(sum(x), 0) AS BIGINT) AS total,
          CAST(CASE WHEN count(*) > 0 AND coalesce(sum(x), 0) > 0 THEN
            sum(rk * x) * 2000000 // (CAST(count(*) AS HUGEINT) * sum(x))
            - (CAST(count(*) AS HUGEINT) + 1) * 1000000 // count(*)
          END AS BIGINT) AS gini_ppm
        FROM r"""))

  /** Exact tie-aware Spearman rank correlation of quantity vs extended
    * price — the monotone-association audit on the distributed
    * average-rank construction (quantity's 50-value domain is the
    * heavy-tie stress). */
  private val l169 = Spec("q304_spearman",
    (s, d) => graft.engine.Relational.spearmanCorr(
      T(s, d, "lineitem"), "l_quantity", "l_extendedprice"),
    Some(s"""WITH v AS (SELECT l_quantity AS x, l_extendedprice AS y
          FROM lineitem
          WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL),
        cx AS (SELECT x, CAST(count(*) AS BIGINT) AS c
          FROM v GROUP BY 1),
        rx AS (SELECT x, CAST(2 * sum(c) OVER (ORDER BY x) - c + 1
          AS BIGINT) AS r2x FROM cx),
        cy AS (SELECT y, CAST(count(*) AS BIGINT) AS c
          FROM v GROUP BY 1),
        ry AS (SELECT y, CAST(2 * sum(c) OVER (ORDER BY y) - c + 1
          AS BIGINT) AS r2y FROM cy),
        j AS (SELECT r2x, r2y FROM v
          JOIN rx USING (x) JOIN ry USING (y)),
        st AS (SELECT CAST(count(*) AS BIGINT) AS n,
          CAST(sum(CAST(r2x AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sx,
          CAST(sum(CAST(r2y AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sy,
          CAST(sum(CAST(r2x AS DECIMAL(38,0))
            * CAST(r2y AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sxy,
          CAST(sum(CAST(r2x AS DECIMAL(38,0))
            * CAST(r2x AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sxx,
          CAST(sum(CAST(r2y AS DECIMAL(38,0))
            * CAST(r2y AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS syy
          FROM j)
        SELECT n, ${graft.engine.Relational.spearmanRhoSql} AS rho
        FROM st"""))

  /** k-anonymity audit over generalized event quasi-identifiers
    * (user bucket × type × day), k = 5 — the privacy suppression
    * worklist. */
  private val l170 = Spec("q305_kanon_audit",
    (s, d) => graft.engine.Relational.kAnonymityViolations(
      T(s, d, "events").select(
        expr("user_id DIV 10").as("user_bucket"), col("event_type"),
        // day as a TRUNCATED TIMESTAMP, not DATE: a date32 parquet dump
        // lands as python-object cells in the driver's pandas
        // comparator and schema-fails against DuckDB's datetime64
        date_trunc("day", col("ts")).as("day")),
      Seq("user_bucket", "event_type", "day"), k = 5),
    Some("""SELECT user_id // 10 AS user_bucket, event_type,
          date_trunc('day', ts) AS day, CAST(count(*) AS BIGINT) AS n
        FROM events GROUP BY 1, 2, 3 HAVING count(*) < 5"""))

  /** 1-D Wasserstein (earth-mover) drift of each order-key-third's
    * price-cents ECDF against the first — same splits as the KS (q193)
    * and PSI (q187) reports, completing the drift triple: PSI reads a
    * fixed histogram, KS the sup gap, W₁ the area (how FAR mass
    * moved). */
  private val l171 = Spec("q306_wasserstein",
    (s, d) => graft.engine.Relational.wassersteinReportFromPaired(
      Queries.pricePairedEcdf(s, d)),
    Some(Queries.priceDriftSql("""cur.s, cur.v,
          cur.cum - cur.t AS excc, r.cum - r.t AS excr,
          lag(cur.v) OVER (PARTITION BY cur.s ORDER BY cur.v) AS vp""",
      """sum(CASE WHEN vp IS NULL THEN 0
            ELSE abs(excr * nc - excc * nr) * (v - vp) END) AS wnum""",
      "CAST((wnum * 1000000) // (nr * nc) AS BIGINT) AS w1_micro", "w1",
      "CAST(wnum AS DOUBLE) / (CAST(nr AS DOUBLE) * CAST(nc AS DOUBLE))")))

  /** Two-group log-rank test on the q276 Kaplan-Meier cohort:
    * BUILDING-segment customers against the rest — micro-unit integer
    * floor terms, one floating z. */
  private val l172 = Spec("q307_logrank",
    (s, d) => {
      val subj = T(s, d, "orders")
        .groupBy(col("o_custkey"))
        .agg(expr("datediff(max(o_orderdate), min(o_orderdate)) DIV 365")
            .cast("int").as("step"),
          max(when(col("o_orderstatus") === "F", 1).otherwise(0))
            .as("event"))
        .join(T(s, d, "customer").select(col("c_custkey"),
          col("c_mktsegment")), col("c_custkey") === col("o_custkey"))
      graft.engine.Relational.logRank(subj, "c_mktsegment", "BUILDING",
        "step", "event")
    },
    Some("""WITH s0 AS (SELECT o_custkey,
          date_diff('day', min(o_orderdate), max(o_orderdate)) // 365
            AS step,
          max(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS event
          FROM orders GROUP BY 1),
        su AS (SELECT CASE WHEN c.c_mktsegment = 'BUILDING' THEN 1
            ELSE 0 END AS g1, CAST(s0.step AS BIGINT) AS step, s0.event
          FROM s0 JOIN customer c ON c.c_custkey = s0.o_custkey),
        ps AS (SELECT step, CAST(count(*) AS HUGEINT) AS c,
          CAST(sum(g1) AS HUGEINT) AS c1,
          CAST(sum(event) AS HUGEINT) AS d,
          CAST(sum(g1 * event) AS HUGEINT) AS d1 FROM su GROUP BY 1),
        r AS (SELECT *, sum(c) OVER (ORDER BY step DESC
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS n_risk,
          sum(c1) OVER (ORDER BY step DESC
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS n1_risk
          FROM ps),
        t AS (SELECT *, (d * n1_risk * 1000000) // n_risk AS e1m,
          (d * n1_risk * (n_risk - n1_risk) * (n_risk - d) * 1000000)
            // (n_risk * n_risk *
              (CASE WHEN n_risk > 1 THEN n_risk - 1 ELSE 1 END)) AS vm
          FROM r)
        SELECT CAST(sum(c1) AS BIGINT) AS n1,
          CAST(sum(c) - sum(c1) AS BIGINT) AS n2,
          CAST(sum(d1) AS BIGINT) AS o1,
          CAST(sum(d) - sum(d1) AS BIGINT) AS o2,
          CAST(sum(e1m) AS BIGINT) AS e1_micro,
          CAST(sum(vm) AS BIGINT) AS v_micro,
          CASE WHEN sum(vm) > 0 THEN
            round(CAST(sum(d1) * 1000000 - sum(e1m) AS DOUBLE)
              / (sqrt(CAST(sum(vm) AS DOUBLE)) * 1000), 6)
          END AS z FROM t"""))

  /** MRR@20 with same-label relevance (64 probes, self excluded) —
    * the first-hit companion to q262's whole-list nDCG; all-integer
    * output. */
  private val l173 = Spec("q308_mrr",
    (s, d) => {
      val emb = T(s, d, "embeddings")
      graft.llm.Eval.mrrAtK(emb, emb.filter(col("vec_id") < 64),
        "vec_id", "embedding", "label", "vec_id", k = 20)
    },
    Some(s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qv,
          label AS ql FROM embeddings WHERE vec_id < 64),
        s AS (SELECT q.query_id, q.ql, c.vec_id AS nid, c.label AS nl,
          ${cosSql("q.qv", "c.embedding")} AS cos
          FROM q CROSS JOIN embeddings c WHERE c.vec_id != q.query_id),
        r AS (SELECT *, row_number() OVER (PARTITION BY query_id
          ORDER BY cos DESC, nid) AS rank FROM s),
        f AS (SELECT query_id, min(rank) AS first_rank FROM r
          WHERE rank <= 20 AND nl = ql GROUP BY 1)
        SELECT q.query_id, CAST(f.first_rank AS INT) AS first_rank,
          CAST(coalesce(1000000 // f.first_rank, 0) AS BIGINT)
            AS rr_micro
        FROM q LEFT JOIN f USING (query_id)"""))

  /** l-diversity violation worklist at the RAW user × day quasi grain
    * (the pre-generalization audit that discovers WHAT to bucket;
    * q305's k-anonymity face checks the already-generalized release),
    * sensitive attribute = event_type, l = 3. */
  private val l174 = Spec("q309_l_diversity",
    (s, d) => graft.engine.Relational.lDiversityViolations(
      T(s, d, "events").select(col("user_id"),
        date_trunc("day", col("ts")).as("day"), col("event_type")),
      Seq("user_id", "day"), "event_type", l = 3),
    Some("""WITH cells AS (SELECT user_id,
          date_trunc('day', ts) AS day, event_type,
          CAST(count(*) AS BIGINT) AS c FROM events GROUP BY 1, 2, 3)
        SELECT user_id, day, CAST(sum(c) AS BIGINT) AS n,
          CAST(count(*) AS BIGINT) AS l_distinct,
          CAST(max(c) * 1000000 // sum(c) AS BIGINT) AS top_share_ppm
        FROM cells GROUP BY 1, 2 HAVING count(*) < 3"""))

  /** Pairwise BLEU-2 with brevity penalty over adjacent-doc pairs —
    * the clipped-precision mirror of q274's ROUGE recall, shared float
    * composition. */
  private val l175 = Spec("q310_bleu",
    (s, d) => {
      val docs = T(s, d, "documents").select(col("doc_id"), col("text"))
      val pairs = docs.select(col("doc_id").as("cand_id"))
        .filter(col("cand_id") % 23 === 0)
        .join(docs.select(col("doc_id").as("ref_id")),
          col("ref_id") === col("cand_id") + 1)
      graft.llm.Eval.bleuCorpus(docs, pairs, "doc_id", "text",
        "cand_id", "ref_id")
    },
    Some(s"""WITH t AS (SELECT doc_id, $wordsSql AS words FROM documents),
        pr AS (SELECT a.doc_id AS cand_id, b.doc_id AS ref_id
          FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1
          WHERE a.doc_id % 23 = 0),
        g1 AS (SELECT doc_id, unnest(words) AS gram FROM t),
        g2 AS (SELECT doc_id, unnest([array_to_string(words[i+1:i+2], ' ')
          for i in range(CASE WHEN len(words) >= 2 THEN len(words) - 1
          ELSE 0 END)]) AS gram FROM t),
        c1 AS (SELECT doc_id, gram, CAST(count(*) AS BIGINT) AS c
          FROM g1 GROUP BY 1, 2),
        c2 AS (SELECT doc_id, gram, CAST(count(*) AS BIGINT) AS c
          FROM g2 GROUP BY 1, 2),
        t1 AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS tot FROM c1
          GROUP BY 1),
        t2 AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS tot FROM c2
          GROUP BY 1),
        ov1 AS (SELECT pr.cand_id, pr.ref_id,
          CAST(sum(least(a.c, b.c)) AS BIGINT) AS num
          FROM pr JOIN c1 a ON a.doc_id = pr.cand_id
          JOIN c1 b ON b.doc_id = pr.ref_id AND b.gram = a.gram
          GROUP BY 1, 2),
        ov2 AS (SELECT pr.cand_id, pr.ref_id,
          CAST(sum(least(a.c, b.c)) AS BIGINT) AS num
          FROM pr JOIN c2 a ON a.doc_id = pr.cand_id
          JOIN c2 b ON b.doc_id = pr.ref_id AND b.gram = a.gram
          GROUP BY 1, 2),
        f AS (SELECT pr.cand_id, pr.ref_id,
          coalesce(ta.tot, 0) AS c_len, coalesce(rl.tot, 0) AS r_len,
          coalesce(ov1.num, 0) AS p1_num, coalesce(ta.tot, 0) AS p1_den,
          coalesce(ov2.num, 0) AS p2_num, coalesce(tb.tot, 0) AS p2_den
          FROM pr LEFT JOIN t1 ta ON ta.doc_id = pr.cand_id
          LEFT JOIN t2 tb ON tb.doc_id = pr.cand_id
          LEFT JOIN t1 rl ON rl.doc_id = pr.ref_id
          LEFT JOIN ov1 USING (cand_id, ref_id)
          LEFT JOIN ov2 USING (cand_id, ref_id))
        SELECT cand_id, ref_id, CAST(c_len AS BIGINT) AS c_len,
          CAST(r_len AS BIGINT) AS r_len,
          CAST(p1_num AS BIGINT) AS p1_num,
          CAST(p1_den AS BIGINT) AS p1_den,
          CAST(p2_num AS BIGINT) AS p2_num,
          CAST(p2_den AS BIGINT) AS p2_den,
          ${graft.llm.Eval.bleu2Sql} AS bleu FROM f"""))

  /** t-closeness violation worklist (TVD > 0.3) over user-bucket × day
    * quasi-groups, sensitive = event_type — the distributional third
    * of the privacy triple (q305 k-anon counts rows, q309 l-diversity
    * counts values, this measures the distribution gap). */
  private val l176 = Spec("q311_t_closeness",
    (s, d) => graft.engine.Relational.tClosenessViolations(
      T(s, d, "events").select(
        expr("user_id DIV 10").as("user_bucket"),
        date_trunc("day", col("ts")).as("day"), col("event_type")),
      Seq("user_bucket", "day"), "event_type", maxTvdPpm = 300000L),
    Some("""WITH cells AS (SELECT user_id // 10 AS user_bucket,
          date_trunc('day', ts) AS day, event_type,
          CAST(count(*) AS BIGINT) AS c FROM events GROUP BY 1, 2, 3),
        gl AS (SELECT event_type, sum(c) AS gc FROM cells GROUP BY 1),
        tot AS (SELECT sum(gc) AS nn FROM gl),
        gn AS (SELECT user_bucket, day, sum(c) AS gsz FROM cells
          GROUP BY 1, 2),
        s AS (SELECT cells.user_bucket, cells.day,
          max(gn.gsz) AS gsz,
          sum(abs(CAST(c AS HUGEINT) * nn - CAST(gc AS HUGEINT)
            * gn.gsz)) AS np,
          sum(gc) AS pg, max(nn) AS n2
          FROM cells JOIN gn USING (user_bucket, day)
          JOIN gl USING (event_type) CROSS JOIN tot GROUP BY 1, 2)
        SELECT user_bucket, day, CAST(gsz AS BIGINT) AS n,
          CAST(((np + (n2 - pg) * gsz) * 1000000)
            // (2 * gsz * n2) AS BIGINT) AS tvd_ppm
        FROM s
        WHERE ((np + (n2 - pg) * gsz) * 1000000)
          // (2 * gsz * n2) > 300000"""))

  /** Contingency-table independence audit: event_type × day-of-week —
    * chi-square in micro-units (empty cells via the Σo²/e − N
    * identity) + Cramér's V. The day-of-week encodings differ between
    * engines (Spark 1-7, DuckDB 0-6) but the statistic only reads the
    * row partition, which is identical. */
  private val l177 = Spec("q312_contingency",
    (s, d) => graft.engine.Relational.contingencyAudit(
      T(s, d, "events").select(col("event_type"),
        dayofweek(col("ts")).as("dow")), "event_type", "dow"),
    Some("""WITH cells AS (SELECT event_type AS a, dayofweek(ts) AS b,
          CAST(count(*) AS HUGEINT) AS o FROM events
          WHERE event_type IS NOT NULL AND ts IS NOT NULL
          GROUP BY 1, 2),
        ra AS (SELECT a, sum(o) AS r FROM cells GROUP BY 1),
        cb AS (SELECT b, sum(o) AS cc FROM cells GROUP BY 1),
        tot AS (SELECT sum(o) AS nn, count(DISTINCT a) AS rl,
          count(DISTINCT b) AS cl FROM cells),
        t AS (SELECT (o * o * nn * 1000000) // (r * cc) AS tm,
          nn, rl, cl FROM cells JOIN ra USING (a) JOIN cb USING (b)
          CROSS JOIN tot)
        SELECT CAST(max(nn) AS BIGINT) AS n,
          CAST(max(rl) AS BIGINT) AS r_levels,
          CAST(max(cl) AS BIGINT) AS c_levels,
          CAST((max(rl) - 1) * (max(cl) - 1) AS BIGINT) AS dof,
          CAST(greatest(sum(tm) - max(nn) * 1000000, 0) AS BIGINT)
            AS chi2_micro,
          CASE WHEN (max(rl) - 1) * (max(cl) - 1) > 0
              AND max(nn) > 0 THEN
            round(sqrt(CAST(greatest(sum(tm) - max(nn) * 1000000, 0)
                AS DOUBLE) / 1000000.0
              / (CAST(max(nn) AS DOUBLE)
                * CAST(least(max(rl) - 1, max(cl) - 1) AS DOUBLE))), 6)
          END AS cramers_v FROM t"""))

  /** Kish effective sample size + design effect of the value-weighted
    * event stream per event_type — how much statistical power a
    * weighted mix actually retains (the audit behind the q119/q297
    * weighted samplers and q200 mix weights). */
  private val l178 = Spec("q313_ess",
    (s, d) => graft.engine.Relational.effectiveSampleSize(
      T(s, d, "events").select(col("event_type"),
        expr("CAST(round(value * 100) AS BIGINT)").as("w")),
      Seq("event_type"), "w"),
    Some("""WITH w AS (SELECT event_type,
          CAST(round(value * 100) AS BIGINT) AS w FROM events
          WHERE value IS NOT NULL AND round(value * 100) >= 0),
        s AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
          CAST(sum(w) AS HUGEINT) AS sw,
          sum(CAST(w AS HUGEINT) * w) AS sw2 FROM w GROUP BY 1)
        SELECT event_type, n, CAST(sw AS BIGINT) AS sum_w,
          CASE WHEN sw2 > 0 THEN
            round(CAST(sw * sw AS DOUBLE) / CAST(sw2 AS DOUBLE), 6)
          END AS ess,
          CASE WHEN sw > 0 THEN
            CAST((n * sw2 * 1000000) // (sw * sw) AS BIGINT)
          END AS deff_ppm FROM s"""))

  /** Cramér–von Mises drift of each order-key-third's price-cents ECDF
    * against the first — the L² member of the drift family on the SAME
    * memoized paired-ECDF frame as KS (q193) and W₁ (q306): PSI reads a
    * fixed histogram, KS the sup gap, W₁ the area, CvM the mean SQUARED
    * gap under the pooled measure (many small departures). */
  private val l179 = Spec("q314_cvm_drift",
    (s, d) => graft.engine.Relational.cvmReportFromPaired(
      Queries.pricePairedEcdf(s, d)),
    Some(Queries.priceDriftSql("""cur.s, cur.t + r.t AS ta,
          r.cum * tc.n - cur.cum * tr.n AS d""",
      "sum(ta * d * d) AS num",
      """CAST((num * 1000000)
            // ((nr + nc) * (nr + nc) * nr * nc) AS BIGINT) AS cvm_micro""",
      "cvm", """CAST(num AS DOUBLE)
              / (CAST(nr + nc AS DOUBLE) * CAST(nr + nc AS DOUBLE)
                * CAST(nr AS DOUBLE) * CAST(nc AS DOUBLE))""")))

  /** Two-sample Anderson–Darling drift on the same paired frame — the
    * tail-weighted member of the drift family (the 1/(H·(1−H)) weight
    * diverges at the tails, catching new extreme prices that KS/CvM
    * down-weight); per-value terms are micro-unit integer floors, the
    * q307 log-rank discipline. */
  private val l180 = Spec("q315_anderson_darling",
    (s, d) => graft.engine.Relational.andersonDarlingFromPaired(
      Queries.pricePairedEcdf(s, d)),
    Some(Queries.priceDriftSql("""cur.s, cur.t + r.t AS ta,
          cur.cum + r.cum AS bp, tc.n + tr.n AS nn,
          r.cum * tc.n - cur.cum * tr.n AS d""",
      """sum(CASE WHEN bp < nn THEN
            (ta * d * d * 1000000) // (bp * (nn - bp))
            ELSE 0 END) AS num""",
      "CAST(num // (nr * nc) AS BIGINT) AS ad_micro", "ad",
      """CAST(num AS DOUBLE) / 1000000.0
              / (CAST(nr AS DOUBLE) * CAST(nc AS DOUBLE))""")))

  /** 1-D energy-distance drift (Székely–Rizzo; closed ECDF-integral
    * form 2·∫(F_r−F_c)²dx) on the same paired frame — W₁'s area with
    * the gap squared; the 1-D exact baseline for kernel two-sample
    * tests over embedding columns. */
  private val l181 = Spec("q316_energy_distance",
    (s, d) => graft.engine.Relational.energyDistanceFromPaired(
      Queries.pricePairedEcdf(s, d)),
    Some(Queries.priceDriftSql("""cur.s, cur.v,
          (r.cum - r.t) * tc.n - (cur.cum - cur.t) * tr.n AS dx,
          lag(cur.v) OVER (PARTITION BY cur.s ORDER BY cur.v) AS vp""",
      """sum(CASE WHEN vp IS NULL THEN 0
            ELSE dx * dx * (v - vp) END) AS num""",
      """CAST((num * 2000000) // (nr * nr * nc * nc) AS BIGINT)
            AS energy_micro""", "energy",
      """CAST(num AS DOUBLE) * 2
              / (CAST(nr AS DOUBLE) * CAST(nr AS DOUBLE)
                * CAST(nc AS DOUBLE) * CAST(nc AS DOUBLE))""")))

  /** Kuiper drift statistic on the same paired frame —
    * V = sup(F_r−F_c) + sup(F_c−F_r), KS's rotation-invariant signed
    * companion for cyclic axes; both sups are maxima of the shared
    * integer gap, no clamp needed (the pooled maximum has gap 0). */
  private val l182 = Spec("q317_kuiper",
    (s, d) => graft.engine.Relational.kuiperReportFromPaired(
      Queries.pricePairedEcdf(s, d)),
    Some(Queries.priceDriftSql("""cur.s,
          r.cum * tc.n - cur.cum * tr.n AS d""",
      "max(d) AS dp, max(-d) AS dm",
      "CAST(dp + dm AS BIGINT) AS v_num", "kuiper",
      """CAST(dp + dm AS DOUBLE)
              / (CAST(nr AS DOUBLE) * CAST(nc AS DOUBLE))""")))

  /** Average precision (exact PR step-curve area) of event value as a
    * ranking score for the user_id%5 label, per event type — the
    * imbalanced-label ranking metric; ROC-AUC is deliberately absent
    * (it is q194's Mann–Whitney U up to normalization). */
  private val l183 = Spec("q318_average_precision",
    (s, d) => graft.llm.Eval.averagePrecision(
      T(s, d, "events")
        .filter(col("value").isNotNull && col("user_id").isNotNull)
        .select(col("event_type"),
          expr("CAST(round(value * 100) AS BIGINT)").as("score"),
          when(col("user_id") % 5 === 0, 1).otherwise(0).as("lab")),
      Seq("event_type"), "score", "lab"),
    Some("""WITH e AS (SELECT event_type,
          CAST(round(value * 100) AS BIGINT) AS score,
          CASE WHEN user_id % 5 = 0 THEN 1 ELSE 0 END AS lab
          FROM events WHERE value IS NOT NULL AND user_id IS NOT NULL),
        c AS (SELECT event_type, score,
          CAST(sum(lab) AS HUGEINT) AS pos,
          CAST(count(*) AS HUGEINT) AS al FROM e GROUP BY 1, 2),
        f AS (SELECT event_type, pos, al,
          sum(pos) OVER (PARTITION BY event_type ORDER BY score DESC)
            AS cumpos,
          sum(al) OVER (PARTITION BY event_type ORDER BY score DESC)
            AS cumall FROM c),
        t AS (SELECT event_type, pos, al,
          (pos * cumpos * 1000000) // cumall AS term FROM f),
        a AS (SELECT event_type, sum(pos) AS npos,
          sum(al - pos) AS nneg, sum(term) AS s FROM t GROUP BY 1)
        SELECT event_type, CAST(npos AS BIGINT) AS n_pos,
          CAST(nneg AS BIGINT) AS n_neg,
          CASE WHEN npos > 0 THEN CAST(s // npos AS BIGINT)
            END AS ap_micro,
          CASE WHEN npos > 0 THEN round(CAST(s AS DOUBLE) / 1000000.0
            / CAST(npos AS DOUBLE), 6) END AS ap FROM a"""))

  /** Kendall tau of the ANN top-10 against the exact top-10 per probe
    * query (the q264 RBO fixture) — pair-concordance ranker agreement
    * on the shared items, where RBO reads top-weighted overlap. */
  private val l184 = Spec("q319_kendall_tau",
    (s, d) => {
      val emb = T(s, d, "embeddings")
      val queries = emb.filter(col("vec_id").between(100, 107))
      val anchors = Similarity.firstVectors(emb, "vec_id", "embedding", 4)
      graft.llm.Eval.kendallTauLists(
        Similarity.bruteForceTopK(emb, queries, "vec_id", "embedding",
          "vec_id", 10),
        Similarity.annTopK(emb, queries, "vec_id", "embedding", "vec_id",
          10, anchors),
        "query_id", "neighbor_id", "rank")
    },
    Some {
      val bucket = (0 until 4).map { j =>
        val anchor = s"(SELECT embedding FROM embeddings WHERE vec_id = $j)"
        s"(CASE WHEN ${dot2("v.embedding", anchor)} > 0 " +
          s"THEN CAST(${1L << j} AS BIGINT) ELSE CAST(0 AS BIGINT) END)"
      }.mkString(" + ")
      s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qv
            FROM embeddings WHERE vec_id BETWEEN 100 AND 107),
          bs AS (SELECT q.query_id, c.vec_id AS neighbor_id,
            ${cosSql("q.qv", "c.embedding")} AS cos
            FROM q CROSS JOIN embeddings c),
          br AS (SELECT query_id, neighbor_id, row_number() OVER (
            PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS ra
            FROM bs),
          bt AS (SELECT query_id, neighbor_id, ra FROM br WHERE ra <= 10),
          cb AS (SELECT $bucket AS bucket, v.vec_id AS neighbor_id,
            v.embedding AS cvec FROM embeddings v),
          qb AS (SELECT $bucket AS bucket, v.vec_id AS query_id,
            v.embedding AS qvec FROM embeddings v
            WHERE v.vec_id BETWEEN 100 AND 107),
          sa AS (SELECT qb.query_id, cb.neighbor_id,
            ${cosSql("qb.qvec", "cb.cvec")} AS cos
            FROM cb JOIN qb ON cb.bucket = qb.bucket),
          ar AS (SELECT query_id, neighbor_id, row_number() OVER (
            PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rb
            FROM sa),
          at2 AS (SELECT query_id, neighbor_id, rb FROM ar WHERE rb <= 10),
          m AS (SELECT bt.query_id, bt.neighbor_id, bt.ra, at2.rb
            FROM bt JOIN at2 USING (query_id, neighbor_id)),
          p AS (SELECT m1.query_id,
            sum(CASE WHEN (m1.ra - m2.ra) * (m1.rb - m2.rb) > 0
              THEN 1 ELSE 0 END) AS c,
            sum(CASE WHEN (m1.ra - m2.ra) * (m1.rb - m2.rb) < 0
              THEN 1 ELSE 0 END) AS d
            FROM m m1 JOIN m m2 ON m1.query_id = m2.query_id
              AND m1.neighbor_id < m2.neighbor_id
            GROUP BY 1),
          g AS (SELECT query_id, CAST(count(*) AS BIGINT) AS n
            FROM m GROUP BY 1)
          SELECT qq.query_id,
            CAST(coalesce(g.n, 0) AS INT) AS n_common,
            CAST(coalesce(p.c, 0) AS BIGINT) AS concordant,
            CAST(coalesce(p.d, 0) AS BIGINT) AS discordant,
            CASE WHEN g.n >= 2 THEN
              round(CAST((coalesce(p.c, 0) - coalesce(p.d, 0)) * 2
                  AS DOUBLE) / CAST(g.n * (g.n - 1) AS DOUBLE), 6)
            END AS tau
          FROM (SELECT DISTINCT query_id FROM q) qq
          LEFT JOIN g USING (query_id)
          LEFT JOIN p USING (query_id)"""
    })

  /** Banded Damerau–Levenshtein linkage over last-token-blocked part
    * names (the q290 Jaro–Winkler fixture) — the native
    * damerau_levenshtein expression pinned against DuckDB's built-in,
    * adjacent-swap typos at distance ≤ 3. */
  private val l185 = Spec("q320_dl_linkage",
    (s, d) => {
      val p = T(s, d, "part").select(col("p_name"),
          element_at(split(col("p_name"), " "), -1).as("__blk"))
        .distinct()
      val a = p.select(col("p_name").as("name_a"), col("__blk"))
      val b = p.select(col("p_name").as("name_b"), col("__blk"))
      a.join(b, Seq("__blk"))
        .filter(col("name_a") < col("name_b"))
        .withColumn("dl", graft.functions.DamerauLevenshtein
          .damerauLevenshtein(col("name_a"), col("name_b")))
        .filter(col("dl") <= 3)
        .select(col("name_a"), col("name_b"), col("dl"))
    },
    Some("""WITH p AS (SELECT DISTINCT p_name,
          string_split(p_name, ' ')[-1] AS blk FROM part)
        SELECT a.p_name AS name_a, b.p_name AS name_b,
          CAST(damerau_levenshtein(a.p_name, b.p_name) AS INT) AS dl
        FROM p a JOIN p b ON a.blk = b.blk AND a.p_name < b.p_name
        WHERE damerau_levenshtein(a.p_name, b.p_name) <= 3"""))

  /** Wilson 95 % score interval on each source's long-document rate —
    * the proportion CI that stays honest at small n and k ∈ {0, n},
    * for "is this source's pass-rate really different" reports. */
  private val l186 = Spec("q321_wilson_rate",
    (s, d) => graft.engine.Relational.wilsonRateReport(
      T(s, d, "documents").filter(col("n_chars").isNotNull)
        .select(col("source"),
          when(col("n_chars") >= 500, 1).otherwise(0).as("ok")),
      Seq("source"), "ok"),
    Some {
      val lo = graft.engine.Relational.wilsonLoSql
      val hi = graft.engine.Relational.wilsonHiSql
      s"""WITH c AS (SELECT source, CAST(count(*) AS BIGINT) AS n,
            CAST(sum(CASE WHEN n_chars >= 500 THEN 1 ELSE 0 END)
              AS BIGINT) AS k
            FROM documents WHERE n_chars IS NOT NULL GROUP BY 1)
          SELECT source, n, k,
            round(CAST(k AS DOUBLE) / CAST(n AS DOUBLE), 6) AS rate,
            round(greatest($lo, 0.0), 6) AS lo,
            round(least($hi, 1.0), 6) AS hi
          FROM c"""
    })

  /** Delete-one-linenumber jackknife SE of revenue-per-unit (the
    * ratio Σ price-cents / Σ quantity) — design-honest uncertainty
    * for a ratio metric where both totals are random. */
  private val l187 = Spec("q322_jackknife_ratio",
    (s, d) => graft.engine.Relational.jackknifeRatio(
      T(s, d, "lineitem").select(col("l_linenumber"),
        expr("CAST(round(l_extendedprice * 100) AS BIGINT)").as("y"),
        expr("CAST(round(l_quantity) AS BIGINT)").as("x")),
      "l_linenumber", "y", "x"),
    Some {
      val se = graft.engine.Relational.jackknifeSeSql
      s"""WITH r AS (SELECT CAST(l_linenumber AS VARCHAR) AS g,
            CAST(round(l_extendedprice * 100) AS BIGINT) AS y,
            CAST(round(l_quantity) AS BIGINT) AS x FROM lineitem
            WHERE l_extendedprice IS NOT NULL
              AND l_quantity IS NOT NULL),
          gg AS (SELECT g, CAST(sum(y) AS HUGEINT) AS yg,
            CAST(sum(x) AS HUGEINT) AS xg FROM r GROUP BY 1),
          t AS (SELECT sum(yg) AS yy, sum(xg) AS xx,
            CAST(count(*) AS HUGEINT) AS gcnt FROM gg),
          l AS (SELECT gg.g, t.yy, t.xx, t.gcnt,
            CASE WHEN t.xx - gg.xg > 0 THEN
              ((t.yy - gg.yg) * 1000000) // (t.xx - gg.xg) END AS lr
            FROM gg CROSS JOIN t),
          a AS (SELECT max(gcnt) AS gn, max(yy) AS yy, max(xx) AS xx,
            count(lr) AS gok, sum(lr) AS sr, sum(lr * lr) AS sr2
            FROM l)
          SELECT CAST(gn AS INT) AS n_groups, CAST(yy AS BIGINT) AS y_sum,
            CAST(xx AS BIGINT) AS x_sum,
            CASE WHEN xx > 0 THEN CAST((yy * 1000000) // xx AS BIGINT)
              END AS theta_micro,
            CASE WHEN gok = gn AND gn >= 2 THEN $se END AS se_jack
          FROM a"""
    })

  /** Chapman capture–recapture estimate of the active-user population
    * from two partial detectors (clicked-users vs viewed-users), with
    * the exact population alongside as the independence calibration. */
  private val l188 = Spec("q323_capture_recapture",
    (s, d) => graft.engine.Relational.captureRecapture(
      T(s, d, "events").filter(col("user_id").isNotNull)
        .groupBy(col("user_id"))
        .agg(max(when(col("event_type") === "click", 1).otherwise(0))
            .as("fa"),
          max(when(col("event_type") === "view", 1).otherwise(0))
            .as("fb")),
      "fa", "fb"),
    Some("""WITH u AS (SELECT user_id,
          max(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS fa,
          max(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS fb
          FROM events WHERE user_id IS NOT NULL GROUP BY 1),
        a AS (SELECT CAST(sum(fa) AS BIGINT) AS n_a,
          CAST(sum(fb) AS BIGINT) AS n_b,
          CAST(sum(CASE WHEN fa = 1 AND fb = 1 THEN 1 ELSE 0 END)
            AS BIGINT) AS m,
          CAST(count(*) AS BIGINT) AS n_exact FROM u)
        SELECT n_a, n_b, m,
          CAST(((n_a + 1) * (n_b + 1)) // (m + 1) - 1 AS BIGINT)
            AS n_hat, n_exact,
          CASE WHEN n_exact > 0 THEN round(
            CAST(((n_a + 1) * (n_b + 1)) // (m + 1) - 1 - n_exact
              AS DOUBLE) * 1000000.0 / CAST(n_exact AS DOUBLE), 6)
          END AS err_ppm FROM a"""))

  /** Median-of-means robust mean of event value cents over 15 hashed
    * buckets — the amsF2 group layer surfaced as a first-class robust
    * estimator, plain mean alongside for the outlier-gap readout. */
  private val l189 = Spec("q324_median_of_means",
    (s, d) => graft.engine.Relational.medianOfMeans(
      T(s, d, "events").select(col("event_id"),
        expr("CAST(round(value * 100) AS BIGINT)").as("cents")),
      "event_id", "cents", g = 15),
    Some(s"""WITH e AS (SELECT CAST(event_id AS VARCHAR) AS key,
          CAST(round(value * 100) AS BIGINT) AS v FROM events
          WHERE event_id IS NOT NULL AND value IS NOT NULL),
        b AS (SELECT ((${phSql("key")} * 2654435761) % 1000000007) % 15
            AS bkt, CAST(sum(v) AS HUGEINT) AS s,
          CAST(count(*) AS HUGEINT) AS n FROM e GROUP BY 1),
        m AS (SELECT bkt, s, n, (s * 1000000) // n AS bm FROM b),
        t AS (SELECT sum(s) AS ts, sum(n) AS tn, count(*) AS gn FROM m),
        r AS (SELECT bm, row_number() OVER (ORDER BY bm, bkt) AS rk
          FROM m)
        SELECT CAST(15 AS INT) AS g, CAST(t.tn AS BIGINT) AS n,
          CAST((t.ts * 1000000) // t.tn AS BIGINT) AS mean_micro,
          CAST(r.bm AS BIGINT) AS mom_micro
        FROM r CROSS JOIN t WHERE rk = (gn + 1) // 2"""))

  /** Mantel–Haenszel common odds ratio of odd-user exposure on
    * high-value outcome, stratified by event type — the Simpson's-
    * paradox-aware association audit (q312's chi-square tests the
    * whole table; MH estimates the per-stratum-adjusted effect). */
  private val l190 = Spec("q325_mantel_haenszel",
    (s, d) => graft.engine.Relational.mantelHaenszel(
      T(s, d, "events")
        .filter(col("user_id").isNotNull && col("value").isNotNull)
        .select(col("event_type"),
          (col("user_id") % 2).cast("int").as("ex"),
          when(col("value") >= 100, 1).otherwise(0).as("oc")),
      "event_type", "ex", "oc"),
    Some("""WITH e AS (SELECT event_type,
          CAST(user_id % 2 AS INT) AS ex,
          CASE WHEN value >= 100 THEN 1 ELSE 0 END AS oc
          FROM events WHERE user_id IS NOT NULL
            AND value IS NOT NULL),
        c AS (SELECT event_type,
          CAST(sum(CASE WHEN ex = 1 AND oc = 1 THEN 1 ELSE 0 END)
            AS HUGEINT) AS a,
          CAST(sum(CASE WHEN ex = 1 AND oc = 0 THEN 1 ELSE 0 END)
            AS HUGEINT) AS b,
          CAST(sum(CASE WHEN ex = 0 AND oc = 1 THEN 1 ELSE 0 END)
            AS HUGEINT) AS cc,
          CAST(sum(CASE WHEN ex = 0 AND oc = 0 THEN 1 ELSE 0 END)
            AS HUGEINT) AS dd
          FROM e GROUP BY 1),
        m AS (SELECT (a * dd * 1000000) // (a + b + cc + dd) AS num,
          (b * cc * 1000000) // (a + b + cc + dd) AS den FROM c),
        g AS (SELECT count(*) AS k, sum(num) AS sn, sum(den) AS sd
          FROM m)
        SELECT CAST(k AS INT) AS n_strata,
          CAST(sn AS BIGINT) AS num_micro,
          CAST(sd AS BIGINT) AS den_micro,
          CASE WHEN sd > 0 THEN CAST((sn * 1000000) // sd AS BIGINT)
            END AS or_micro,
          CASE WHEN sd > 0 THEN round(CAST(sn AS DOUBLE)
            / CAST(sd AS DOUBLE), 6) END AS mh_or FROM g"""))

  /** CUPED variance-reduced lift of odd-user "treatment" on
    * second-half-of-month spend, pre-period (first-half) spend as the
    * covariate — the modern experimentation-platform default. */
  private val l191 = Spec("q326_cuped",
    (s, d) => graft.engine.Relational.cupedEffect(
      T(s, d, "events")
        .filter(col("user_id").isNotNull && col("value").isNotNull &&
          col("ts").isNotNull)
        .groupBy(col("user_id"))
        .agg(sum(when(dayofmonth(col("ts")) < 15,
            expr("CAST(round(value * 100) AS BIGINT)")).otherwise(0L))
            .as("x"),
          sum(when(dayofmonth(col("ts")) >= 15,
            expr("CAST(round(value * 100) AS BIGINT)")).otherwise(0L))
            .as("y"))
        .withColumn("t", (col("user_id") % 2).cast("int")),
      "t", "x", "y"),
    Some {
      val th = graft.engine.Relational.cupedThetaSql
      val rw = graft.engine.Relational.cupedRawSql
      val ad = graft.engine.Relational.cupedAdjSql
      val ok = "nt > 0 AND nc > 0 AND" +
        " (nt + nc) * sxx - (sxt + sxc) * (sxt + sxc) > 0"
      s"""WITH u AS (SELECT user_id,
            CAST(sum(CASE WHEN date_part('day', ts) < 15 THEN
              CAST(round(value * 100) AS BIGINT) ELSE 0 END)
              AS HUGEINT) AS x,
            CAST(sum(CASE WHEN date_part('day', ts) >= 15 THEN
              CAST(round(value * 100) AS BIGINT) ELSE 0 END)
              AS HUGEINT) AS y,
            CAST(user_id % 2 AS INT) AS t
            FROM events WHERE user_id IS NOT NULL
              AND value IS NOT NULL AND ts IS NOT NULL GROUP BY 1),
          s AS (SELECT CAST(sum(t) AS HUGEINT) AS nt,
            CAST(sum(1 - t) AS HUGEINT) AS nc,
            sum(CASE WHEN t = 1 THEN x ELSE 0 END) AS sxt,
            sum(CASE WHEN t = 0 THEN x ELSE 0 END) AS sxc,
            sum(CASE WHEN t = 1 THEN y ELSE 0 END) AS syt,
            sum(CASE WHEN t = 0 THEN y ELSE 0 END) AS syc,
            sum(x * y) AS sxy, sum(x * x) AS sxx FROM u)
          SELECT CAST(nt AS BIGINT) AS n_t, CAST(nc AS BIGINT) AS n_c,
            CAST(syt AS BIGINT) AS sy_t, CAST(syc AS BIGINT) AS sy_c,
            CASE WHEN $ok THEN $th END AS theta,
            CASE WHEN $ok THEN $rw END AS raw_effect,
            CASE WHEN $ok THEN $ad END AS adj_effect FROM s"""
    })

  /** Best decision-stump split of the user%5 label on event value
    * cents — the q318 ranking fixture read as a CART one-level
    * learner: the threshold maximizing the micro-floored weighted-
    * Gini criterion, parent impurity alongside. */
  private val l192 = Spec("q327_best_split",
    (s, d) => graft.engine.Relational.bestSplitStump(
      T(s, d, "events")
        .filter(col("value").isNotNull && col("user_id").isNotNull)
        .select(expr("CAST(round(value * 100) AS BIGINT)").as("score"),
          when(col("user_id") % 5 === 0, 1).otherwise(0).as("lab")),
      "score", "lab"),
    Some("""WITH e AS (SELECT CAST(round(value * 100) AS BIGINT) AS v,
          CASE WHEN user_id % 5 = 0 THEN 1 ELSE 0 END AS lab
          FROM events WHERE value IS NOT NULL AND user_id IS NOT NULL),
        c AS (SELECT v, CAST(sum(lab) AS HUGEINT) AS p,
          CAST(count(*) AS HUGEINT) AS a FROM e GROUP BY 1),
        t AS (SELECT CAST(sum(p) AS HUGEINT) AS tp,
          CAST(sum(a) AS HUGEINT) AS tn FROM c),
        f AS (SELECT v, sum(p) OVER (ORDER BY v) AS cp,
          sum(a) OVER (ORDER BY v) AS ca FROM c),
        s AS (SELECT f.v, tp, tn,
          ((cp * cp + (ca - cp) * (ca - cp)) * 1000000) // ca
            + (((tp - cp) * (tp - cp)
              + ((tn - ca) - (tp - cp)) * ((tn - ca) - (tp - cp)))
              * 1000000) // (tn - ca) AS crit
          FROM f CROSS JOIN t WHERE ca < tn),
        r AS (SELECT v, tp, tn, crit,
          row_number() OVER (ORDER BY crit DESC, v) AS rk FROM s)
        SELECT CAST(tn AS BIGINT) AS n, CAST(tp AS BIGINT) AS n_pos,
          CAST(((tp * tp + (tn - tp) * (tn - tp)) * 1000000) // tn
            AS BIGINT) AS parent_micro,
          v AS threshold, CAST(crit AS BIGINT) AS crit_micro,
          CAST(crit - ((tp * tp + (tn - tp) * (tn - tp)) * 1000000)
            // tn AS BIGINT) AS gain_micro
        FROM r WHERE rk = 1"""))

  /** Standardized-mean-difference balance audit of return-flag-R
    * lineitems against the rest over three covariates — the
    * |SMD| < 0.1 pre-analysis table for any observational split. */
  private val l193 = Spec("q328_smd_balance",
    (s, d) => {
      val li = T(s, d, "lineitem").filter(col("l_quantity").isNotNull &&
        col("l_extendedprice").isNotNull && col("l_discount").isNotNull)
      val t = when(col("l_returnflag") === "R", 1).otherwise(0).as("t")
      // one lineitem pass: the three covariate channels ride ONE
      // explode instead of a 3-branch self-union (3 scans → 1; same
      // row multiset, and smdBalance aggregates per cov)
      graft.engine.Relational.smdBalance(
        li.select(t, explode(array(
            struct(lit("qty").as("cov"),
              expr("CAST(round(l_quantity) AS BIGINT)").as("v")),
            struct(lit("price_cents").as("cov"),
              expr("CAST(round(l_extendedprice * 100) AS BIGINT)")
                .as("v")),
            struct(lit("discount_bp").as("cov"),
              expr("CAST(round(l_discount * 10000) AS BIGINT)")
                .as("v")))).as("__cv"))
          .select(col("__cv.cov").as("cov"), col("t"),
            col("__cv.v").as("v")),
        "cov", "t", "v")
    },
    Some {
      val smd = graft.engine.Relational.smdSql
      s"""WITH base AS (SELECT
            CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS t,
            CAST(round(l_quantity) AS BIGINT) AS qty,
            CAST(round(l_extendedprice * 100) AS BIGINT) AS pc,
            CAST(round(l_discount * 10000) AS BIGINT) AS db
            FROM lineitem WHERE l_quantity IS NOT NULL
              AND l_extendedprice IS NOT NULL
              AND l_discount IS NOT NULL),
          lf AS (SELECT 'qty' AS cov, t, qty AS v FROM base
            UNION ALL SELECT 'price_cents', t, pc FROM base
            UNION ALL SELECT 'discount_bp', t, db FROM base),
          a AS (SELECT cov, CAST(sum(t) AS HUGEINT) AS nt,
            CAST(sum(1 - t) AS HUGEINT) AS nc,
            CAST(sum(CASE WHEN t = 1 THEN v ELSE 0 END) AS HUGEINT)
              AS st,
            CAST(sum(CASE WHEN t = 0 THEN v ELSE 0 END) AS HUGEINT)
              AS sc,
            sum(CASE WHEN t = 1 THEN CAST(v AS HUGEINT) * v ELSE 0 END)
              AS sst,
            sum(CASE WHEN t = 0 THEN CAST(v AS HUGEINT) * v ELSE 0 END)
              AS ssc
            FROM lf GROUP BY 1)
          SELECT cov, CAST(nt AS BIGINT) AS n_t,
            CAST(nc AS BIGINT) AS n_c,
            CASE WHEN nt >= 2 AND nc >= 2 AND
              (nt * sst - st * st) * nc + (nc * ssc - sc * sc) * nt > 0
            THEN $smd END AS smd FROM a"""
    })

  /** First-order partial correlation of quantity and price with
    * discount regressed out — the confounder check behind the q201
    * correlation matrix. */
  private val l194 = Spec("q329_partial_corr",
    (s, d) => graft.engine.Relational.partialCorrelation(
      T(s, d, "lineitem").select(
        expr("CAST(round(l_quantity) AS BIGINT)").as("x"),
        expr("CAST(round(l_extendedprice * 100) AS BIGINT)").as("y"),
        expr("CAST(round(l_discount * 10000) AS BIGINT)").as("z")),
      "x", "y", "z"),
    Some {
      val rxy = graft.engine.Relational.pearsonSql(
        "n", "sx", "sy", "sxy", "sxx", "syy")
      val rxz = graft.engine.Relational.pearsonSql(
        "n", "sx", "sz", "sxz", "sxx", "szz")
      val ryz = graft.engine.Relational.pearsonSql(
        "n", "sy", "sz", "syz", "syy", "szz")
      s"""WITH e AS (SELECT CAST(round(l_quantity) AS BIGINT) AS x,
            CAST(round(l_extendedprice * 100) AS BIGINT) AS y,
            CAST(round(l_discount * 10000) AS BIGINT) AS z
            FROM lineitem WHERE l_quantity IS NOT NULL
              AND l_extendedprice IS NOT NULL
              AND l_discount IS NOT NULL),
          a AS (SELECT CAST(count(*) AS HUGEINT) AS n,
            CAST(sum(x) AS HUGEINT) AS sx, CAST(sum(y) AS HUGEINT) AS sy,
            CAST(sum(z) AS HUGEINT) AS sz,
            sum(CAST(x AS HUGEINT) * y) AS sxy,
            sum(CAST(x AS HUGEINT) * z) AS sxz,
            sum(CAST(y AS HUGEINT) * z) AS syz,
            sum(CAST(x AS HUGEINT) * x) AS sxx,
            sum(CAST(y AS HUGEINT) * y) AS syy,
            sum(CAST(z AS HUGEINT) * z) AS szz FROM e),
          ok AS (SELECT *, (n * sxx - sx * sx > 0)
            AND (n * syy - sy * sy > 0)
            AND (n * szz - sz * sz > 0) AS okv FROM a)
          SELECT CAST(n AS BIGINT) AS n,
            CASE WHEN okv THEN round($rxy, 6) END AS r_xy,
            CASE WHEN okv THEN round($rxz, 6) END AS r_xz,
            CASE WHEN okv THEN round($ryz, 6) END AS r_yz,
            CASE WHEN okv AND (1.0 - $rxz * $rxz)
                * (1.0 - $ryz * $ryz) > 0
              THEN round(($rxy - $rxz * $ryz) / sqrt((1.0 - $rxz * $rxz)
                * (1.0 - $ryz * $ryz)), 6)
            END AS r_xy_z FROM ok"""
    })

  /** HBOS top-20 outliers over three lineitem features — the
    * histogram-based detector whose ranking is the exact INTEGER bin-
    * count product (float scores tie nondeterministically; the
    * product never does), score emitted alongside. */
  private val l195 = Spec("q330_hbos_outliers",
    (s, d) => graft.engine.Relational.hbosOutliers(
      T(s, d, "lineitem")
        .filter(col("l_quantity").isNotNull &&
          col("l_extendedprice").isNotNull &&
          col("l_discount").isNotNull)
        .select((col("l_orderkey") * 10 + col("l_linenumber"))
            .as("lid"),
          expr("CAST(round(l_quantity) AS BIGINT)").as("f0"),
          expr("CAST(round(l_extendedprice * 100) AS BIGINT)").as("f1"),
          expr("CAST(round(l_discount * 10000) AS BIGINT)").as("f2")),
      "lid", Seq(("f0", 0d, 64d, 16), ("f1", 0d, 11000000d, 16),
        ("f2", 0d, 1100d, 16)), k = 20),
    Some("""WITH base AS (SELECT
          l_orderkey * 10 + l_linenumber AS id,
          CAST(round(l_quantity) AS BIGINT) AS f0,
          CAST(round(l_extendedprice * 100) AS BIGINT) AS f1,
          CAST(round(l_discount * 10000) AS BIGINT) AS f2
          FROM lineitem WHERE l_quantity IS NOT NULL
            AND l_extendedprice IS NOT NULL AND l_discount IS NOT NULL
            AND l_orderkey IS NOT NULL AND l_linenumber IS NOT NULL),
        b AS (SELECT id,
          CAST(least(greatest(floor(CAST(f0 AS DOUBLE) / 4.0), 0), 15)
            AS INT) AS b0,
          CAST(least(greatest(floor(CAST(f1 AS DOUBLE) / 687500.0), 0),
            15) AS INT) AS b1,
          CAST(least(greatest(floor(CAST(f2 AS DOUBLE) / 68.75), 0),
            15) AS INT) AS b2 FROM base),
        h0 AS (SELECT b0, CAST(count(*) AS BIGINT) AS c_0 FROM b
          GROUP BY 1),
        h1 AS (SELECT b1, CAST(count(*) AS BIGINT) AS c_1 FROM b
          GROUP BY 1),
        h2 AS (SELECT b2, CAST(count(*) AS BIGINT) AS c_2 FROM b
          GROUP BY 1),
        t AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM b),
        j AS (SELECT b.id, h0.c_0, h1.c_1, h2.c_2 FROM b
          JOIN h0 USING (b0) JOIN h1 USING (b1) JOIN h2 USING (b2)),
        r AS (SELECT id, c_0, c_1, c_2, row_number() OVER (
          ORDER BY CAST(c_0 AS HUGEINT) * c_1 * c_2, id) AS rk FROM j)
        SELECT id AS lid, c_0, c_1, c_2,
          round(-ln(CAST(c_0 AS DOUBLE) / t.n)
            - ln(CAST(c_1 AS DOUBLE) / t.n)
            - ln(CAST(c_2 AS DOUBLE) / t.n), 6) AS score
        FROM r CROSS JOIN t WHERE rk <= 20"""))

  /** Nelson–Aalen cumulative hazard on the q276 Kaplan–Meier cohort —
    * the additive (and here ALL-INTEGER) survival face: micro-floored
    * per-step hazards, integer prefix sum. */
  private val l196 = Spec("q331_nelson_aalen",
    (s, d) => {
      val subj = T(s, d, "orders")
        .groupBy(col("o_custkey"))
        .agg(expr("datediff(max(o_orderdate), min(o_orderdate)) DIV 365")
            .cast("int").as("step"),
          max(when(col("o_orderstatus") === "F", 1).otherwise(0))
            .as("event"))
        .join(T(s, d, "customer").select(col("c_custkey"),
          col("c_mktsegment")), col("c_custkey") === col("o_custkey"))
      graft.engine.Relational.nelsonAalen(subj, Seq("c_mktsegment"),
        "step", "event")
    },
    Some("""WITH s0 AS (SELECT o_custkey,
          date_diff('day', min(o_orderdate), max(o_orderdate)) // 365
            AS step,
          max(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS event
          FROM orders GROUP BY 1),
        su AS (SELECT c.c_mktsegment, CAST(s0.step AS INT) AS step,
          s0.event FROM s0 JOIN customer c ON c.c_custkey = s0.o_custkey),
        ps AS (SELECT c_mktsegment, step, CAST(count(*) AS BIGINT) AS c,
          CAST(sum(event) AS BIGINT) AS d FROM su GROUP BY 1, 2),
        rc AS (SELECT *, CAST(sum(c) OVER (PARTITION BY c_mktsegment
          ORDER BY step DESC ROWS BETWEEN UNBOUNDED PRECEDING AND
          CURRENT ROW) AS BIGINT) AS n_risk FROM ps),
        st AS (SELECT c_mktsegment, step, n_risk, d,
          (d * 1000000) // n_risk AS h_micro FROM rc WHERE d > 0)
        SELECT c_mktsegment, step, n_risk, d, h_micro,
          CAST(sum(h_micro) OVER (PARTITION BY c_mktsegment
            ORDER BY step ROWS BETWEEN UNBOUNDED PRECEDING AND
            CURRENT ROW) AS BIGINT) AS h_cum_micro FROM st"""))

  /** Difference-in-differences of odd-user "treatment" on event value
    * across the month halves — the parallel-trends estimator; the
    * q326 CUPED fixture read as a 2×2 natural experiment. */
  private val l197 = Spec("q332_did",
    (s, d) => graft.engine.Relational.didEffect(
      T(s, d, "events")
        .filter(col("user_id").isNotNull && col("value").isNotNull &&
          col("ts").isNotNull)
        .select((col("user_id") % 2).cast("int").as("tr"),
          when(dayofmonth(col("ts")) >= 15, 1).otherwise(0).as("po"),
          expr("CAST(round(value * 100) AS BIGINT)").as("v")),
      "tr", "po", "v"),
    Some {
      val did = graft.engine.Relational.didSql
      val se = graft.engine.Relational.didSeSql
      val z = graft.engine.Relational.didZSql
      val seRaw = graft.engine.Relational.didSeRawExpr
      def cellAgg(ti: Int, pi: Int): String =
        s"CAST(sum(CASE WHEN tr = $ti AND po = $pi THEN 1 ELSE 0 END)" +
          s" AS HUGEINT) AS n$ti$pi," +
          s" sum(CASE WHEN tr = $ti AND po = $pi THEN CAST(v AS HUGEINT)" +
          s" ELSE 0 END) AS s$ti$pi," +
          s" sum(CASE WHEN tr = $ti AND po = $pi THEN CAST(v AS HUGEINT)" +
          s" * v ELSE 0 END) AS ss$ti$pi"
      val ok = "n11 >= 2 AND n10 >= 2 AND n01 >= 2 AND n00 >= 2"
      s"""WITH e AS (SELECT CAST(user_id % 2 AS INT) AS tr,
            CASE WHEN date_part('day', ts) >= 15 THEN 1 ELSE 0 END
              AS po,
            CAST(round(value * 100) AS BIGINT) AS v
            FROM events WHERE user_id IS NOT NULL
              AND value IS NOT NULL AND ts IS NOT NULL),
          a AS (SELECT ${cellAgg(1, 1)}, ${cellAgg(1, 0)},
            ${cellAgg(0, 1)}, ${cellAgg(0, 0)} FROM e)
          SELECT CAST(n11 AS BIGINT) AS n_11,
            CAST(n10 AS BIGINT) AS n_10,
            CAST(n01 AS BIGINT) AS n_01,
            CAST(n00 AS BIGINT) AS n_00,
            CASE WHEN $ok THEN $did END AS did,
            CASE WHEN $ok THEN $se END AS se,
            CASE WHEN $ok AND $seRaw > 0 THEN $z END AS z FROM a"""
    })

  /** Pseudo-diameter of the quarter-supplier shipment graph by the
    * double-BFS sweep (hop-capped at 3) — the standard diameter
    * lower bound at two BFS costs. */
  private val l198 = Spec("q333_pseudo_diameter",
    (s, d) => {
      val ed = T(s, d, "lineitem")
        .filter(col("l_suppkey") % 10 === 0)
        .select(col("l_orderkey"), col("l_suppkey"))
        .join(T(s, d, "orders").select(col("o_orderkey"),
          col("o_custkey")), col("l_orderkey") === col("o_orderkey"))
        .select(concat(lit("s"), col("l_suppkey").cast("string"))
            .as("src"),
          concat(lit("c"), col("o_custkey").cast("string")).as("dst"))
      val both = ed.select(explode(array(
          struct(col("src"), col("dst")),
          struct(col("dst").as("src"), col("src").as("dst")))).as("p"))
        .select(col("p.src").as("src"), col("p.dst").as("dst"))
      graft.engine.Graph.pseudoDiameter(both, "src", "dst", maxHops = 3)
    },
    Some {
      // one BFS sweep: 3 unrolled frontier/relax levels from seed CTE.
      // Each level references its predecessor TWICE (frontier filter +
      // relax union); DuckDB inlines plain CTEs per reference, so the
      // expansion doubles per level (2^8 across both sweeps) — the
      // MATERIALIZED keyword pins each level to one evaluation
      // (measured: >300 s inlined, 0.1 s materialized at sf0.001).
      def sweep(seed: String, pfx: String): String =
        (1 to 3).map { i =>
          val prev = if (i == 1) seed else s"${pfx}d${i - 1}"
          s"""${pfx}f$i AS (SELECT e.dst AS id, $i AS hop FROM $prev
              JOIN e ON e.src = $prev.id WHERE $prev.hop = ${i - 1}),
            ${pfx}d$i AS MATERIALIZED (SELECT id, min(hop) AS hop FROM
              (SELECT * FROM $prev UNION ALL SELECT * FROM ${pfx}f$i)
              GROUP BY 1)"""
        }.mkString(",\n")
      s"""WITH ed AS (SELECT DISTINCT
            's' || CAST(l_suppkey AS VARCHAR) AS src,
            'c' || CAST(o_custkey AS VARCHAR) AS dst
            FROM lineitem JOIN orders ON l_orderkey = o_orderkey
            WHERE l_suppkey % 10 = 0),
          e AS (SELECT src, dst FROM ed UNION SELECT dst, src FROM ed),
          a0 AS (SELECT min(id) AS id FROM
            (SELECT src AS id FROM e UNION SELECT dst FROM e)),
          d0 AS (SELECT id, 0 AS hop FROM a0),
          ${sweep("d0", "")},
          m1 AS (SELECT max(hop) AS mx FROM d3),
          far1 AS (SELECT min(id) AS id, max(hop) AS ecc FROM d3
            CROSS JOIN m1 WHERE hop = mx),
          n1 AS (SELECT count(*) AS n FROM d3),
          g0 AS (SELECT id, 0 AS hop FROM far1),
          ${sweep("g0", "g")},
          m2 AS (SELECT max(hop) AS mx FROM gd3),
          far2 AS (SELECT min(id) AS id, max(hop) AS ecc FROM gd3
            CROSS JOIN m2 WHERE hop = mx),
          n2 AS (SELECT count(*) AS n FROM gd3)
          SELECT a0.id AS anchor0, CAST(far1.ecc AS INT) AS ecc1,
            CAST(n1.n AS BIGINT) AS n_reached1, far1.id AS anchor1,
            CAST(far2.ecc AS INT) AS ecc2,
            CAST(n2.n AS BIGINT) AS n_reached2
          FROM a0 CROSS JOIN far1 CROSS JOIN n1
          CROSS JOIN far2 CROSS JOIN n2"""
    })

  /** Matryoshka energy-retention curve over the embedding corpus at
    * prefix dims 8/16/32/64 — how much cosine signal survives index
    * truncation; per-vector ratios micro-floored before the mean. */
  private val l199 = Spec("q334_mrl_energy",
    (s, d) => graft.llm.Similarity.mrlEnergyCurve(
      T(s, d, "embeddings"), "embedding", Seq(8, 16, 32, 64)),
    Some(s"""WITH e AS (SELECT embedding AS v FROM embeddings
          WHERE embedding IS NOT NULL),
        x AS (SELECT kk.k, ${dot2("v", "v")} AS f,
          ${dot2("v[1:kk.k]", "v[1:kk.k]")} AS p
          FROM e CROSS JOIN
            (SELECT unnest([8, 16, 32, 64]) AS k) kk),
        y AS (SELECT k, CAST(floor(1000000.0 * p / f) AS BIGINT) AS em
          FROM x WHERE f > 0),
        a AS (SELECT k, CAST(count(*) AS BIGINT) AS n,
          CAST(sum(em) AS HUGEINT) AS s FROM y GROUP BY 1)
        SELECT CAST(k AS INT) AS dim, n,
          CAST(s // n AS BIGINT) AS energy_micro,
          round(sqrt(CAST(s // n AS DOUBLE) / 1000000.0), 6) AS rms_cos
        FROM a"""))

  /** Windowed binned-KS drift monitor (streaming face, here driven
    * batch for the oracle): per day, max CDF gap in ppm against a
    * fixed uniform reference over [0, 350) — completing the streaming
    * drift pair with q190's windowed PSI. */
  private val l200 = Spec("q335_stream_ks_windowed",
    (s, d) => graft.streaming.Streaming.ksWindowed(
      T(s, d, "events"), "ts", "value", "1 day",
      refCumPpm = Seq(200000L, 400000L, 600000L, 800000L, 1000000L),
      lo = 0d, hi = 350d),
    Some("""WITH b AS (SELECT date_trunc('day', ts) AS w_start,
          CAST(least(greatest(floor((value - 0.0) / 70.0), 0.0), 4.0)
            AS INT) AS bin
          FROM events WHERE value IS NOT NULL),
        a AS (SELECT w_start,
          count(*) FILTER (bin = 0) AS c0,
          count(*) FILTER (bin = 1) AS c1,
          count(*) FILTER (bin = 2) AS c2,
          count(*) FILTER (bin = 3) AS c3,
          count(*) FILTER (bin = 4) AS c4,
          CAST(count(*) AS BIGINT) AS n FROM b GROUP BY 1),
        g AS (SELECT w_start, n, greatest(
            abs((c0 * 1000000) // n - 200000),
            abs(((c0 + c1) * 1000000) // n - 400000),
            abs(((c0 + c1 + c2) * 1000000) // n - 600000),
            abs(((c0 + c1 + c2 + c3) * 1000000) // n - 800000),
            abs(((c0 + c1 + c2 + c3 + c4) * 1000000) // n - 1000000))
            AS d_ppm FROM a)
        SELECT w_start, n, CAST(d_ppm AS BIGINT) AS d_ppm,
          round(CAST(d_ppm AS DOUBLE) / 1000000.0, 6) AS ks FROM g"""))

  /** Wald IV estimate of purchase take-up's effect on total spend,
    * instrumented by the odd-user nudge — the encouragement-design
    * LATE; integer cross-product weak-instrument guard. */
  private val l201 = Spec("q336_iv_wald",
    (s, d) => graft.engine.Relational.ivWaldEffect(
      T(s, d, "events")
        .filter(col("user_id").isNotNull && col("value").isNotNull)
        .groupBy(col("user_id"))
        .agg(max(when(col("event_type") === "purchase", 1).otherwise(0))
            .as("dk"),
          sum(expr("CAST(round(value * 100) AS BIGINT)")).as("y"))
        .withColumn("z", (col("user_id") % 2).cast("int")),
      "z", "dk", "y"),
    Some {
      val itt = graft.engine.Relational.ivIttSql
      val fs = graft.engine.Relational.ivFsSql
      val wald = graft.engine.Relational.ivWaldSql
      s"""WITH u AS (SELECT user_id, CAST(user_id % 2 AS INT) AS z,
            max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
              AS d,
            CAST(sum(CAST(round(value * 100) AS BIGINT)) AS HUGEINT)
              AS y
            FROM events WHERE user_id IS NOT NULL
              AND value IS NOT NULL GROUP BY 1),
          a AS (SELECT CAST(sum(z) AS HUGEINT) AS nt,
            CAST(sum(1 - z) AS HUGEINT) AS nc,
            CAST(sum(CASE WHEN z = 1 THEN d ELSE 0 END) AS HUGEINT)
              AS sdt,
            CAST(sum(CASE WHEN z = 0 THEN d ELSE 0 END) AS HUGEINT)
              AS sdc,
            sum(CASE WHEN z = 1 THEN y ELSE 0 END) AS syt,
            sum(CASE WHEN z = 0 THEN y ELSE 0 END) AS syc FROM u)
          SELECT CAST(nt AS BIGINT) AS n_t, CAST(nc AS BIGINT) AS n_c,
            CAST(sdt AS BIGINT) AS d_t, CAST(sdc AS BIGINT) AS d_c,
            CASE WHEN nt > 0 AND nc > 0 THEN $itt END AS itt,
            CASE WHEN nt > 0 AND nc > 0 THEN $fs END AS first_stage,
            CASE WHEN nt > 0 AND nc > 0 AND sdt * nc <> sdc * nt
              THEN $wald END AS wald FROM a"""
    })

  /** Restricted mean survival time to the 5-year horizon per market
    * segment — the area under the q276 Kaplan–Meier curve, in exact
    * integer micro-years. */
  private val l202 = Spec("q337_rmst",
    (s, d) => {
      val subj = T(s, d, "orders")
        .groupBy(col("o_custkey"))
        .agg(expr("datediff(max(o_orderdate), min(o_orderdate)) DIV 365")
            .cast("int").as("step"),
          max(when(col("o_orderstatus") === "F", 1).otherwise(0))
            .as("event"))
        .join(T(s, d, "customer").select(col("c_custkey"),
          col("c_mktsegment")), col("c_custkey") === col("o_custkey"))
      graft.engine.Relational.rmst(
        graft.engine.Relational.kaplanMeier(subj, Seq("c_mktsegment"),
          "step", "event"),
        Seq("c_mktsegment"), tau = 5)
    },
    Some("""WITH s0 AS (SELECT o_custkey,
          date_diff('day', min(o_orderdate), max(o_orderdate)) // 365
            AS step,
          max(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS event
          FROM orders GROUP BY 1),
        su AS (SELECT c.c_mktsegment, CAST(s0.step AS INT) AS step,
          s0.event FROM s0 JOIN customer c ON c.c_custkey = s0.o_custkey),
        ps AS (SELECT c_mktsegment, step, CAST(count(*) AS BIGINT) AS c,
          CAST(sum(event) AS BIGINT) AS d FROM su GROUP BY 1, 2),
        rc AS (SELECT *, CAST(sum(c) OVER (PARTITION BY c_mktsegment
          ORDER BY step DESC ROWS BETWEEN UNBOUNDED PRECEDING AND
          CURRENT ROW) AS BIGINT) AS n_risk FROM ps),
        st AS (SELECT c_mktsegment, step, n_risk, d,
          round(CAST(n_risk - d AS DOUBLE) / CAST(n_risk AS DOUBLE), 6)
            AS factor FROM rc WHERE d > 0),
        ar AS (SELECT c_mktsegment, list(factor ORDER BY step) AS fs
          FROM st GROUP BY 1),
        ix AS (SELECT c_mktsegment, step,
          row_number() OVER (PARTITION BY c_mktsegment ORDER BY step)
            AS i FROM st),
        km AS (SELECT ix.c_mktsegment, ix.step,
          round(list_reduce(list_prepend(CAST(1.0 AS DOUBLE),
            ar.fs[1:ix.i]), (a, b) -> a * b), 6) AS survival
          FROM ix JOIN ar USING (c_mktsegment)),
        r AS (SELECT c_mktsegment, step,
          CAST(round(survival * 1000000) AS BIGINT) AS smic,
          coalesce(lead(step) OVER (PARTITION BY c_mktsegment
            ORDER BY step), 5) AS nxt FROM km),
        seg AS (SELECT c_mktsegment, step,
          CASE WHEN step < 5 THEN smic * (least(nxt, 5) - step)
            ELSE 0 END AS sg FROM r),
        a AS (SELECT c_mktsegment, min(step) AS t1, sum(sg) AS s
          FROM seg GROUP BY 1)
        SELECT c_mktsegment, CAST(5 AS INT) AS tau,
          CAST(least(t1, 5) * 1000000 + s AS BIGINT) AS rmst_micro,
          round(CAST(least(t1, 5) * 1000000 + s AS DOUBLE)
            / 1000000.0, 6) AS rmst FROM a"""))

  /** Cohort LTV curve: users by first-activity day, cumulative
    * revenue per user at each age — the vintage-comparable growth
    * table, exact integers end-to-end. */
  private val l203 = Spec("q338_cohort_ltv",
    (s, d) => graft.engine.Windows.cohortLtv(
      T(s, d, "events").select(col("user_id"), col("ts"),
        expr("CAST(round(value * 100) AS BIGINT)").as("v")),
      "user_id", "ts", "v")
      // driver compare: DATE dumps as date32/object vs DuckDB's
      // datetime64 — emit the day as TIMESTAMP (repo convention)
      .withColumn("cohort_day", col("cohort_day").cast("timestamp")),
    Some("""WITH b AS (SELECT user_id, ts,
          CAST(round(value * 100) AS BIGINT) AS v FROM events
          WHERE user_id IS NOT NULL AND ts IS NOT NULL
            AND value IS NOT NULL),
        f AS (SELECT user_id, min(CAST(ts AS DATE)) AS cohort_day
          FROM b GROUP BY 1),
        sz AS (SELECT cohort_day, CAST(count(*) AS BIGINT) AS n_users
          FROM f GROUP BY 1),
        ag AS (SELECT f.cohort_day,
          date_diff('day', f.cohort_day, CAST(b.ts AS DATE)) AS age,
          CAST(sum(b.v) AS BIGINT) AS revenue
          FROM b JOIN f USING (user_id) GROUP BY 1, 2),
        cw AS (SELECT cohort_day, age, revenue,
          CAST(sum(revenue) OVER (PARTITION BY cohort_day ORDER BY age
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            AS BIGINT) AS cum_revenue FROM ag)
        SELECT CAST(cw.cohort_day AS TIMESTAMP) AS cohort_day,
          CAST(age AS INT) AS age, sz.n_users,
          revenue, cum_revenue,
          CAST((cum_revenue * 1000000) // sz.n_users AS BIGINT)
            AS ltv_micro
        FROM cw JOIN sz USING (cohort_day)"""))

  /** In-sample top-1 accuracy of the Markov next-event predictor per
    * from-state, read off the q156 transition matrix — the baseline
    * every sequence model must beat. */
  private val l204 = Spec("q339_markov_accuracy",
    (s, d) => graft.engine.Windows.markovTopAccuracy(
      graft.engine.Windows.transitionCounts(T(s, d, "events"),
        "user_id", "ts", "event_type", tiebreakCols = Seq("event_id"))),
    Some("""WITH s AS (SELECT user_id, event_type,
          lag(event_type) OVER (PARTITION BY user_id
            ORDER BY ts, event_id) AS from_state FROM events),
        c AS (SELECT from_state, event_type AS to_state,
          CAST(count(*) AS BIGINT) AS n FROM s
          WHERE from_state IS NOT NULL GROUP BY 1, 2),
        r AS (SELECT from_state, to_state, n, row_number() OVER (
          PARTITION BY from_state ORDER BY n DESC, to_state) AS rk
          FROM c),
        t AS (SELECT from_state, CAST(sum(n) AS BIGINT) AS n_total
          FROM c GROUP BY 1)
        SELECT r.from_state, r.to_state AS pred_next, t.n_total,
          r.n AS n_correct,
          CAST((r.n * 1000000) // t.n_total AS BIGINT) AS acc_micro
        FROM r JOIN t USING (from_state) WHERE rk = 1"""))

  /** Erlang-C wait probability per event type (8 agents, mu = 10/hr,
    * 720-h window) — the M/M/c staffing closed form; explicit-product
    * powers, exact factorial literals, no libm pow. */
  private val l205 = Spec("q340_erlang_c",
    (s, d) => graft.engine.Relational.erlangCReport(
      T(s, d, "events"), Seq("event_type"), c = 8, hours = 720.0,
      mu = 10.0),
    Some {
      val ec = graft.engine.Relational.erlangCSql(8)
      s"""WITH g AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n
            FROM events GROUP BY 1),
          x AS (SELECT event_type, n,
            CAST(n AS DOUBLE) / 720.0 / 10.0 AS a FROM g)
          SELECT event_type, n, round(a, 6) AS offered_load,
            round(a / 8, 6) AS rho, $ec AS erlang_c FROM x"""
    })

  /** Good–Turing frequency spectrum of the document token stream
    * (r = 1..5): frequencies-of-frequencies with Turing-adjusted
    * counts — the held-out-mass smoothing table. */
  private val l206 = Spec("q341_good_turing",
    (s, d) => graft.llm.Curation.goodTuringSpectrum(
      T(s, d, "documents"), "text", maxR = 5),
    Some(s"""WITH t AS (SELECT $wordsSql AS words FROM documents),
          ex AS (SELECT unnest(words) AS w FROM t),
          v AS (SELECT w, CAST(count(*) AS BIGINT) AS c FROM ex
            GROUP BY 1),
          ff AS (SELECT c AS r, CAST(count(*) AS BIGINT) AS nr FROM v
            GROUP BY 1),
          ax AS (SELECT unnest(range(1, 6)) AS r),
          j AS (SELECT ax.r, coalesce(ff.nr, 0) AS nr,
            coalesce(f2.nr, 0) AS nr1
            FROM ax LEFT JOIN ff ON ff.r = ax.r
            LEFT JOIN ff f2 ON f2.r = ax.r + 1)
          SELECT CAST(r AS INT) AS r, nr AS n_r,
            CASE WHEN nr > 0 THEN
              CAST(((r + 1) * nr1 * 1000000) // nr AS BIGINT)
            END AS rstar_micro FROM j"""))

  /** Chao1 vocabulary-richness estimate + Good–Turing unseen mass —
    * how many types the crawl has NOT seen yet, and the probability
    * the next token is new. */
  private val l207 = Spec("q342_chao1_richness",
    (s, d) => graft.llm.Curation.chao1Richness(
      T(s, d, "documents"), "text"),
    Some(s"""WITH t AS (SELECT $wordsSql AS words FROM documents),
          ex AS (SELECT unnest(words) AS w FROM t),
          v AS (SELECT w, CAST(count(*) AS BIGINT) AS c FROM ex
            GROUP BY 1),
          a AS (SELECT CAST(sum(c) AS BIGINT) AS n_tokens,
            CAST(count(*) AS BIGINT) AS n_types,
            CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT)
              AS n1,
            CAST(sum(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS BIGINT)
              AS n2 FROM v)
          SELECT n_tokens, n_types, n1, n2,
            CAST(n_types * 1000000 + (CAST(n1 AS HUGEINT) * (n1 - 1)
              * 1000000) // (2 * (n2 + 1)) AS BIGINT) AS chao1_micro,
            CASE WHEN n_tokens > 0 THEN
              CAST((n1 * 1000000) // n_tokens AS BIGINT)
            END AS p0_micro FROM a"""))

  /** Vocabulary-budget coverage table: smallest top-K type prefix
    * reaching 50/80/90/95/99 % of token mass — the tokenizer
    * vocab-size design table, on the distributed rank machinery. */
  private val l208 = Spec("q343_vocab_budget",
    (s, d) => graft.llm.Curation.vocabBudget(
      T(s, d, "documents"), "text", Seq(50, 80, 90, 95, 99)),
    Some(s"""WITH t AS (SELECT $wordsSql AS words FROM documents),
          ex AS (SELECT unnest(words) AS w FROM t),
          v AS (SELECT w, CAST(count(*) AS BIGINT) AS c FROM ex
            GROUP BY 1),
          r AS (SELECT w, c, row_number() OVER (ORDER BY c DESC, w)
              AS k,
            sum(c) OVER (ORDER BY c DESC, w ROWS BETWEEN UNBOUNDED
              PRECEDING AND CURRENT ROW) AS cum FROM v),
          tt AS (SELECT sum(c) AS n FROM v),
          p AS (SELECT unnest([50, 80, 90, 95, 99]) AS pct),
          q AS (SELECT p.pct, min(r.k) AS k_types,
            min(r.cum) AS cum_tokens
            FROM r CROSS JOIN tt JOIN p ON r.cum * 100 >= p.pct * tt.n
            GROUP BY 1)
          SELECT CAST(pct AS INT) AS pct,
            CAST(k_types AS BIGINT) AS k_types,
            CAST(cum_tokens AS BIGINT) AS cum_tokens FROM q"""))

  /** Embedding-isotropy concentration over the corpus — the cosine-
    * retrieval pre-flight audit on the exact micro-quantized
    * lattice. */
  private val l209 = Spec("q344_embedding_isotropy",
    (s, d) => graft.llm.Similarity.isotropyReport(
      T(s, d, "embeddings"), "embedding"),
    Some("""WITH e AS (SELECT embedding AS v FROM embeddings
          WHERE embedding IS NOT NULL),
        x AS (SELECT unnest(v) AS xv,
          unnest(range(1, len(v) + 1)) AS i FROM e),
        q AS (SELECT i, CAST(round(CAST(xv AS DOUBLE) * 1000000)
          AS BIGINT) AS qq FROM x),
        pd AS (SELECT i, CAST(sum(qq) AS HUGEINT) AS s FROM q
          GROUP BY 1),
        a AS (SELECT CAST(count(*) AS HUGEINT) AS dims,
          sum(s * s) AS s2 FROM pd),
        t AS (SELECT sum(CAST(qq AS HUGEINT) * qq) AS tt FROM q),
        n AS (SELECT CAST(count(*) AS HUGEINT) AS n FROM e)
        SELECT CAST(n.n AS BIGINT) AS n, CAST(a.dims AS INT) AS dims,
          CASE WHEN t.tt > 0 THEN
            CAST((a.s2 * 1000000) // (n.n * t.tt) AS BIGINT)
          END AS conc_micro,
          CASE WHEN t.tt > 0 THEN round(CAST(a.s2 AS DOUBLE)
            / (CAST(n.n AS DOUBLE) * CAST(t.tt AS DOUBLE)), 6)
          END AS conc
        FROM n CROSS JOIN a CROSS JOIN t"""))

  /** k-occurrence hubness histogram of the corpus under the first-64
    * probe queries' exact top-10 lists — the high-dimensional
    * pathology audit behind ANN retrieval quality. */
  private val l210 = Spec("q345_hubness",
    (s, d) => {
      val emb = T(s, d, "embeddings")
      graft.llm.Similarity.hubnessReport(emb,
        emb.filter(col("vec_id") < 64), "vec_id", "embedding",
        "vec_id", k = 10)
    },
    Some(s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qv
          FROM embeddings WHERE vec_id < 64),
        bs AS (SELECT q.query_id, c.vec_id AS neighbor_id,
          ${cosSql("q.qv", "c.embedding")} AS cos
          FROM q CROSS JOIN embeddings c),
        br AS (SELECT query_id, neighbor_id, row_number() OVER (
          PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS ra
          FROM bs),
        bt AS (SELECT neighbor_id FROM br WHERE ra <= 10),
        h AS (SELECT neighbor_id, CAST(count(*) AS BIGINT) AS h
          FROM bt GROUP BY 1)
        SELECT h AS n_hits, CAST(count(*) AS BIGINT) AS n_points
        FROM h GROUP BY 1"""))

  /** Resource-Allocation link prediction over the co-purchase part
    * graph — ranked missing edges via shared neighbors; per-term
    * micro-floored 1/deg keeps the score engine-exact. */
  private val l211 = Spec("q346_resource_alloc",
    (s, d) => graft.engine.Graph.resourceAllocation(
      Queries.coPurchaseEdges(s, d, modFilter = true), "pa", "pb",
      minCommon = 2),
    Some("""WITH e AS (SELECT DISTINCT a.l_partkey AS u,
            b.l_partkey AS v
          FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey
            AND a.l_partkey < b.l_partkey
          WHERE a.l_partkey % 3 = 0 AND b.l_partkey % 3 = 0),
        nb AS (SELECT u AS n, v AS m FROM e UNION ALL SELECT v, u FROM e),
        deg AS (SELECT n, CAST(count(*) AS BIGINT) AS deg
          FROM nb GROUP BY 1),
        pr AS (SELECT x.n AS a, y.n AS b,
            CAST(count(*) AS BIGINT) AS common,
            CAST(sum(1000000 // dz.deg) AS BIGINT) AS ra_micro
          FROM nb x JOIN nb y ON y.m = x.m AND x.n < y.n
          JOIN deg dz ON dz.n = x.m
          GROUP BY 1, 2 HAVING count(*) >= 2)
        SELECT a, b, common, ra_micro FROM pr
        WHERE NOT EXISTS (SELECT 1 FROM e
          WHERE e.u = pr.a AND e.v = pr.b)"""))

  /** Local clustering coefficient per node on the co-purchase graph —
    * exact integer 2T·10⁶ DIV d(d−1); triangle-free nodes report 0. */
  private val l212 = Spec("q347_clustering_coeff",
    (s, d) => graft.engine.Graph.clusteringCoefficient(
      Queries.coPurchaseEdges(s, d, modFilter = true), "pa", "pb"),
    Some("""WITH e AS (SELECT DISTINCT a.l_partkey AS u,
            b.l_partkey AS v
          FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey
            AND a.l_partkey < b.l_partkey
          WHERE a.l_partkey % 3 = 0 AND b.l_partkey % 3 = 0),
        nb AS (SELECT u AS n, v AS m FROM e UNION ALL SELECT v, u FROM e),
        deg AS (SELECT n, CAST(count(*) AS BIGINT) AS degree
          FROM nb GROUP BY 1),
        tri AS (SELECT e1.u AS x, e1.v AS y, e2.v AS z
          FROM e e1 JOIN e e2 ON e2.u = e1.v
          JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v),
        tn AS (SELECT x AS node FROM tri UNION ALL SELECT y FROM tri
          UNION ALL SELECT z FROM tri),
        tc AS (SELECT node, CAST(count(*) AS BIGINT) AS triangles
          FROM tn GROUP BY 1)
        SELECT deg.n AS node, deg.degree,
          CAST(coalesce(tc.triangles, 0) AS BIGINT) AS triangles,
          CAST((CAST(coalesce(tc.triangles, 0) AS HUGEINT) * 2000000)
            // (CAST(deg.degree AS HUGEINT) * (deg.degree - 1))
            AS BIGINT) AS cc_micro
        FROM deg LEFT JOIN tc ON tc.node = deg.n
        WHERE deg.degree >= 2"""))

  /** The micro-lattice 2-D projection of the embedding corpus onto its
    * first two dimensions — the shared point frame of the q348/q349
    * density pair. */
  private def embedLattice2d(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame =
    T(s, d, "embeddings")
      .filter(col("embedding").isNotNull && size(col("embedding")) >= 2)
      .select(col("vec_id"),
        expr("CAST(round(CAST(element_at(embedding, 1) AS DOUBLE)" +
          " * 1000000) AS BIGINT)").as("x"),
        expr("CAST(round(CAST(element_at(embedding, 2) AS DOUBLE)" +
          " * 1000000) AS BIGINT)").as("y"))

  /** Session-memoized eps-neighbor frame of the density pair — the
    * 9-cell grid join is the expensive shared half of q348 and q349,
    * so ONE checkpointed materialization serves both labelings (the
    * coPurchaseEdges/shipmentEdges discipline). */
  private def dbscanNbrs(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame =
    Pins.memo(s, d, "dbscanNbrs") {
      val raw = Pins.pin(graft.llm.Density.epsNeighborPairs(
        embedLattice2d(s, d), "vec_id", "x", "y", epsMicro = 25000L))
      // size the shared pin from its TRUE materialized bytes
      // (r14, the loopParts discipline): the 9-cell join leaves the pair
      // frame at the join's partition count (measured 128 at sf0.1 for a
      // ~1 MB frame), and both density queries then pay that task count
      // in EVERY reader stage. Keyed on `a` so the neighbor-count
      // aggregates read it pre-partitioned. At scale loopParts clamps to
      // the session constant and the frame is left exactly as built.
      val n = Pins.loopParts(raw)
      if (n < raw.rdd.getNumPartitions) {
        val sized = Pins.pin(raw.repartition(n, col("a")))
        Pins.release(raw)
        sized
      } else raw
    }

  /** Shared oracle prefix of the density pair: lattice points, eps-cells,
    * the 3×3 candidate join, exact neighbor counts, core set —
    * eps = 25000 micro (0.025), minPts = 4, eps² = 625000000. */
  private val dbscanOracleBase = """WITH p AS (SELECT vec_id AS id,
          CAST(round(CAST(embedding[1] AS DOUBLE) * 1000000) AS BIGINT)
            + 2000000 AS x,
          CAST(round(CAST(embedding[2] AS DOUBLE) * 1000000) AS BIGINT)
            + 2000000 AS y
          FROM embeddings
          WHERE embedding IS NOT NULL AND len(embedding) >= 2),
        c AS (SELECT id, x, y, x // 25000 AS cx, y // 25000 AS cy FROM p),
        off AS (SELECT a.dx, b.dy FROM (VALUES (-1), (0), (1)) a(dx)
          CROSS JOIN (VALUES (-1), (0), (1)) b(dy)),
        pr AS (SELECT c.id AS a, c.x AS ax, c.y AS ay,
          c.cx + off.dx AS jx, c.cy + off.dy AS jy
          FROM c CROSS JOIN off),
        nb AS (SELECT pr.a, q.id AS b FROM pr JOIN c q
          ON q.cx = pr.jx AND q.cy = pr.jy AND q.id <> pr.a
          WHERE (pr.ax - q.x) * (pr.ax - q.x)
            + (pr.ay - q.y) * (pr.ay - q.y) <= 625000000),
        n AS (SELECT p.id, 1 + coalesce(k.cnt, 0) AS n_eps FROM p
          LEFT JOIN (SELECT a AS id, CAST(count(*) AS BIGINT) AS cnt
            FROM nb GROUP BY 1) k USING (id)),
        core AS (SELECT id FROM n WHERE n_eps >= 4)"""

  /** Grid-DBSCAN density report over the embedding corpus' first two
    * dimensions — exact integer eps-geometry, cell-bucketed candidate
    * join (never all-pairs). */
  private val l213 = Spec("q348_dbscan_core",
    (s, d) => graft.llm.Density.dbscanCoreFromPairs(embedLattice2d(s, d),
      "vec_id", dbscanNbrs(s, d), minPts = 4)
      .withColumnRenamed("id", "vec_id"),
    Some(s"""$dbscanOracleBase
        SELECT n.id AS vec_id, CAST(n.n_eps AS BIGINT) AS n_eps,
          CASE WHEN n.n_eps >= 4 THEN 'core'
            WHEN EXISTS (SELECT 1 FROM nb JOIN core ON core.id = nb.b
              WHERE nb.a = n.id) THEN 'border'
            ELSE 'noise' END AS role
        FROM n"""))

  /** Full DBSCAN labeling: clusters = connected components of the
    * core-core eps-graph (min-id labels), borders attach to the
    * smallest adjacent core, noise reports null. */
  private val l214 = Spec("q349_dbscan_clusters",
    (s, d) => graft.llm.Density.dbscanClustersFromPairsGeo(
      embedLattice2d(s, d), "vec_id", "x", "y", 25000L,
      dbscanNbrs(s, d), minPts = 4)
      .withColumnRenamed("id", "vec_id"),
    Some(s"""$dbscanOracleBase,
        ce AS (SELECT nb.a AS u, nb.b AS v FROM nb
          JOIN core x ON x.id = nb.a JOIN core y ON y.id = nb.b),
        r AS (WITH RECURSIVE reach(id, lab) AS (
            SELECT u, u FROM ce
            UNION
            SELECT ce.v, reach.lab FROM reach JOIN ce ON ce.u = reach.id)
          SELECT id, lab FROM reach),
        comp AS (SELECT id, min(lab) AS component FROM r GROUP BY 1),
        cc AS (SELECT core.id, coalesce(comp.component, core.id)
            AS cluster
          FROM core LEFT JOIN comp USING (id)),
        bc AS (SELECT nb.a AS id, arg_min(cc.cluster, cc.id) AS cluster
          FROM nb JOIN cc ON cc.id = nb.b
          WHERE nb.a NOT IN (SELECT id FROM core)
          GROUP BY 1)
        SELECT n.id AS vec_id,
          CASE WHEN cc.id IS NOT NULL THEN 'core'
            WHEN bc.id IS NOT NULL THEN 'border'
            ELSE 'noise' END AS role,
          CAST(coalesce(cc.cluster, bc.cluster) AS BIGINT) AS cluster
        FROM n LEFT JOIN cc ON cc.id = n.id
        LEFT JOIN bc ON bc.id = n.id"""))

  /** Brown–Forsythe variance-homogeneity F across event types on the
    * micro-lattice of `value` — median-centered absolute deviations
    * through the q277 ANOVA machinery. */
  private val l215 = Spec("q350_brown_forsythe",
    (s, d) => graft.engine.Relational.brownForsytheF(
      T(s, d, "events").select(col("event_type"),
        expr("CAST(round(CAST(value AS DOUBLE) * 1000000) AS BIGINT)")
          .as("v_micro")),
      "event_type", "v_micro"),
    Some {
      def cv(c: String) = graft.engine.Relational.decToDoubleSql(c, 12)
      s"""WITH e AS (SELECT CAST(event_type AS VARCHAR) AS g,
          CAST(round(CAST(value AS DOUBLE) * 1000000) AS BIGINT) AS x
          FROM events
          WHERE value IS NOT NULL AND event_type IS NOT NULL),
        bv AS (SELECT g, x, CAST(count(*) AS BIGINT) AS c
          FROM e GROUP BY 1, 2),
        cw AS (SELECT g, x,
          sum(c) OVER (PARTITION BY g ORDER BY x) AS cum,
          sum(c) OVER (PARTITION BY g) AS tot FROM bv),
        med AS (SELECT g, min(x) AS med FROM cw
          WHERE cum * 2 >= tot GROUP BY 1),
        z AS (SELECT e.g AS gg,
          CAST(CAST(abs(e.x - med.med) AS DECIMAL(32,6)) / 1000000
            AS DECIMAL(18,6)) AS z
          FROM e JOIN med USING (g)),
        gr AS (SELECT gg, CAST(count(*) AS BIGINT) AS n,
          CAST(sum(CAST(z AS DECIMAL(18,6))) AS DECIMAL(38,12)) AS s,
          CAST(sum(CAST(z AS DECIMAL(19,6)) * CAST(z AS DECIMAL(18,6)))
            AS DECIMAL(38,12)) AS ss
          FROM z GROUP BY 1),
        tm AS (SELECT gg, n, s, ss, ${cv("s")} * ${cv("s")}
          / CAST(n AS DOUBLE) AS term FROM gr),
        ag AS (SELECT CAST(count(*) AS INT) AS k,
          CAST(sum(n) AS BIGINT) AS n,
          CAST(sum(s) AS DECIMAL(38,12)) AS stot,
          CAST(sum(ss) AS DECIMAL(38,12)) AS sstot,
          list(term ORDER BY gg) AS terms FROM tm),
        tt AS (SELECT *, list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
          terms), (a, b) -> a + b) AS t FROM ag)
        SELECT k, n,
          round(t - ${cv("stot")} * ${cv("stot")}
            / CAST(n AS DOUBLE), 6) AS ssb,
          round(${cv("sstot")} - t, 6) AS ssw,
          round(CASE WHEN k > 1 AND n > k
            AND (${cv("sstot")} - t) > 0 THEN
            ((t - ${cv("stot")} * ${cv("stot")}
              / CAST(n AS DOUBLE)) / CAST(k - 1 AS DOUBLE))
            / ((${cv("sstot")} - t) / CAST(n - k AS DOUBLE))
            END, 6) AS f_stat
        FROM tt"""
    })

  /** Cochran–Armitage dose-trend z² — does the return rate trend with
    * the line number; five integer sums in one lineitem pass. */
  private val l216 = Spec("q351_cochran_armitage",
    (s, d) => graft.engine.Relational.cochranArmitage(
      T(s, d, "lineitem").select(col("l_linenumber").as("dose"),
        (col("l_returnflag") === "R").cast("int").as("ret")),
      "dose", "ret"),
    Some(s"""WITH m AS (SELECT CAST(count(*) AS BIGINT) AS n,
          CAST(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
            AS BIGINT) AS r,
          CAST(sum(l_linenumber) AS BIGINT) AS sum_w,
          CAST(sum(CASE WHEN l_returnflag = 'R' THEN l_linenumber
            ELSE 0 END) AS BIGINT) AS sum_ws,
          CAST(sum(l_linenumber * l_linenumber) AS BIGINT) AS sum_w2
          FROM lineitem
          WHERE l_linenumber IS NOT NULL AND l_returnflag IS NOT NULL),
        ab AS (SELECT *, n * sum_ws - r * sum_w AS a,
          n * sum_w2 - sum_w * sum_w AS b FROM m)
        SELECT n, r, sum_w, sum_ws, sum_w2,
          CAST(a AS BIGINT) AS a, CAST(b AS BIGINT) AS b,
          ${graft.engine.Relational.cochranArmitageZ2Sql} AS z2
        FROM ab"""))

  /** Interpolated Kneser–Ney bigram table (D = 3/4, all-integer micro
    * floors) over the document corpus — continuation-probability
    * smoothing on the q301 bigram machinery. */
  private val l217 = Spec("q352_kneser_ney",
    (s, d) => graft.llm.Lexical.kneserNeyBigrams(
      T(s, d, "documents"), "doc_id", "text", minCount = 3L),
    Some(s"""WITH t AS (SELECT doc_id, $wordsSql AS words FROM documents),
        g AS (SELECT unnest([array_to_string(words[i+1:i+2], ' ')
          for i in range(CASE WHEN len(words) >= 2 THEN len(words)-1
          ELSE 0 END)]) AS gram FROM t),
        c2 AS (SELECT gram, CAST(count(*) AS BIGINT) AS c_uv
          FROM g GROUP BY 1),
        sp AS (SELECT gram, c_uv, string_split(gram, ' ')[1] AS u,
          string_split(gram, ' ')[-1] AS v FROM c2),
        lf AS (SELECT u, CAST(sum(c_uv) AS BIGINT) AS c_u,
          CAST(count(*) AS BIGINT) AS n1_fwd FROM sp GROUP BY 1),
        rt AS (SELECT v, CAST(count(*) AS BIGINT) AS n1_back
          FROM sp GROUP BY 1),
        bb AS (SELECT CAST(count(*) AS BIGINT) AS b FROM c2)
        SELECT sp.gram, sp.c_uv, lf.c_u, lf.n1_fwd, rt.n1_back,
          CAST((CAST(sp.c_uv AS HUGEINT) * 4 - 3) * 250000 // lf.c_u
            + CAST(lf.n1_fwd AS HUGEINT) * rt.n1_back * 750000
              // (CAST(lf.c_u AS HUGEINT) * bb.b) AS BIGINT)
            AS p_kn_micro
        FROM sp JOIN lf USING (u) JOIN rt USING (v) CROSS JOIN bb
        WHERE sp.c_uv >= 3"""))

  /** chrF (β = 2, char 1+2-grams, exact 5m/(4r+h) integer form) on the
    * q310 pair declaration — the character-level eval companion. */
  private val l218 = Spec("q353_chrf",
    (s, d) => {
      val docs = T(s, d, "documents").select(col("doc_id"), col("text"))
      val pairs = docs.select(col("doc_id").as("cand_id"))
        .filter(col("cand_id") % 23 === 0)
        .join(docs.select(col("doc_id").as("ref_id")),
          col("ref_id") === col("cand_id") + 1)
      graft.llm.Eval.chrFCorpus(docs, pairs, "doc_id", "text",
        "cand_id", "ref_id")
    },
    Some(s"""WITH t AS (SELECT doc_id,
          array_to_string($wordsSql, ' ') AS nn FROM documents),
        pr AS (SELECT a.doc_id AS cand_id, b.doc_id AS ref_id
          FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1
          WHERE a.doc_id % 23 = 0),
        g1 AS (SELECT doc_id, unnest(CASE WHEN len(nn) >= 1 THEN
          [nn[i+1:i+1] for i in range(len(nn))]
          ELSE [] END) AS gram FROM t),
        g2 AS (SELECT doc_id, unnest(CASE WHEN len(nn) >= 2 THEN
          [nn[i+1:i+2] for i in range(len(nn) - 1)]
          ELSE [] END) AS gram FROM t),
        c1 AS (SELECT doc_id, gram, CAST(count(*) AS BIGINT) AS c
          FROM g1 GROUP BY 1, 2),
        c2 AS (SELECT doc_id, gram, CAST(count(*) AS BIGINT) AS c
          FROM g2 GROUP BY 1, 2),
        t1 AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS tot FROM c1
          GROUP BY 1),
        t2 AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS tot FROM c2
          GROUP BY 1),
        ov1 AS (SELECT pr.cand_id, pr.ref_id,
          CAST(sum(least(a.c, b.c)) AS BIGINT) AS m
          FROM pr JOIN c1 a ON a.doc_id = pr.cand_id
          JOIN c1 b ON b.doc_id = pr.ref_id AND b.gram = a.gram
          GROUP BY 1, 2),
        ov2 AS (SELECT pr.cand_id, pr.ref_id,
          CAST(sum(least(a.c, b.c)) AS BIGINT) AS m
          FROM pr JOIN c2 a ON a.doc_id = pr.cand_id
          JOIN c2 b ON b.doc_id = pr.ref_id AND b.gram = a.gram
          GROUP BY 1, 2),
        f AS (SELECT pr.cand_id, pr.ref_id,
          coalesce(ov1.m, 0) AS m1, coalesce(ha.tot, 0) AS h1,
          coalesce(ra.tot, 0) AS r1,
          coalesce(ov2.m, 0) AS m2, coalesce(hb.tot, 0) AS h2,
          coalesce(rb.tot, 0) AS r2
          FROM pr LEFT JOIN t1 ha ON ha.doc_id = pr.cand_id
          LEFT JOIN t1 ra ON ra.doc_id = pr.ref_id
          LEFT JOIN t2 hb ON hb.doc_id = pr.cand_id
          LEFT JOIN t2 rb ON rb.doc_id = pr.ref_id
          LEFT JOIN ov1 USING (cand_id, ref_id)
          LEFT JOIN ov2 USING (cand_id, ref_id)),
        ff AS (SELECT *,
          CASE WHEN 4 * r1 + h1 > 0 THEN m1 * 5000000 // (4 * r1 + h1)
            END AS f1_micro,
          CASE WHEN 4 * r2 + h2 > 0 THEN m2 * 5000000 // (4 * r2 + h2)
            END AS f2_micro FROM f)
        SELECT cand_id, ref_id, m1, h1, r1, m2, h2, r2,
          CAST(f1_micro AS BIGINT) AS f1_micro,
          CAST(f2_micro AS BIGINT) AS f2_micro,
          CAST(CASE WHEN f1_micro IS NOT NULL AND f2_micro IS NOT NULL
            THEN (f1_micro + f2_micro) // 2 END AS BIGINT) AS chrf_micro
        FROM ff"""))

  /** Personalized PageRank from the suppkey%10 seed community over the
    * supplier→customer shipment graph — q162's integer-ppm loop with a
    * concentrated teleport vector, on the memoized shared edge frame. */
  private val l219 = Spec("q354_personalized_pagerank",
    (s, d) => graft.engine.Graph.personalizedPageRankPpm(
      Queries.shipmentEdges(s, d), "src", "dst",
      T(s, d, "lineitem")
        .filter(col("l_suppkey") % 10 === 0)
        .select(concat(lit("s"), col("l_suppkey").cast("string"))
          .as("node")).distinct(),
      "node", iters = 3),
    Some("""WITH e AS (SELECT DISTINCT
          's' || CAST(l_suppkey AS VARCHAR) AS src,
          'c' || CAST(o_custkey AS VARCHAR) AS dst
          FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        nodes AS (SELECT src AS id FROM e UNION SELECT dst FROM e),
        sd AS (SELECT DISTINCT 's' || CAST(l_suppkey AS VARCHAR) AS id
          FROM lineitem WHERE l_suppkey % 10 = 0),
        nn AS (SELECT nodes.id,
          CASE WHEN sd.id IS NOT NULL THEN 1 ELSE 0 END AS seed
          FROM nodes LEFT JOIN sd USING (id)),
        deg AS (SELECT src, count(*) AS outdeg FROM e GROUP BY 1),
        r0 AS (SELECT id, CAST(seed * 1000000 AS BIGINT) AS rank FROM nn),
        c1 AS (SELECT dst AS id, CAST(sum(rank // outdeg) AS BIGINT) AS s
          FROM e JOIN deg USING (src) JOIN r0 ON r0.id = e.src
          GROUP BY dst),
        r1 AS (SELECT n.id,
          CAST(n.seed * 150000 + (85 * coalesce(s, 0)) // 100 AS BIGINT)
            AS rank
          FROM nn n LEFT JOIN c1 USING (id)),
        c2 AS (SELECT dst AS id, CAST(sum(rank // outdeg) AS BIGINT) AS s
          FROM e JOIN deg USING (src) JOIN r1 ON r1.id = e.src
          GROUP BY dst),
        r2 AS (SELECT n.id,
          CAST(n.seed * 150000 + (85 * coalesce(s, 0)) // 100 AS BIGINT)
            AS rank
          FROM nn n LEFT JOIN c2 USING (id)),
        c3 AS (SELECT dst AS id, CAST(sum(rank // outdeg) AS BIGINT) AS s
          FROM e JOIN deg USING (src) JOIN r2 ON r2.id = e.src
          GROUP BY dst),
        r3 AS (SELECT n.id,
          CAST(n.seed * 150000 + (85 * coalesce(s, 0)) // 100 AS BIGINT)
            AS rank
          FROM nn n LEFT JOIN c3 USING (id))
        SELECT id, rank FROM r3"""))

  /** BPE merge training, 8 rounds over the corpus word-frequency table
    * — the iterative closure of q177's single pair statistic. The
    * oracle unrolls the loop: one (pairs → argmax → rewrite) CTE block
    * per round, the q162 fixed-unroll convention. */
  private val l220 = Spec("q355_bpe_train", {
    val rounds = 8
    (s, d) => graft.llm.Lexical.bpeTrain(
      T(s, d, "documents"), "text", merges = rounds)
  }, Some {
    val rounds = 8
    val blocks = (1 to rounds).map { k =>
      s"""sp$k AS (SELECT string_split(syms, ' ') AS a, f FROM v${k - 1}),
        p$k AS (SELECT f, unnest([a[i+1] || ' ' || a[i+2]
          for i in range(len(a) - 1)]) AS pair FROM sp$k
          WHERE len(a) >= 2),
        c$k AS (SELECT pair, CAST(sum(f) AS BIGINT) AS weight
          FROM p$k GROUP BY 1),
        b$k AS (SELECT pair, weight FROM c$k
          ORDER BY weight DESC, pair LIMIT 1),
        v$k AS (SELECT trim(replace(replace(
            ' ' || replace(syms, ' ', '  ') || ' ',
            ' ' || string_split(b.pair, ' ')[1] || '  '
              || string_split(b.pair, ' ')[2] || ' ',
            ' ' || replace(b.pair, ' ', '') || ' '), '  ', ' ')) AS syms,
          f FROM v${k - 1} CROSS JOIN b$k b)"""
    }.mkString(",\n        ")
    val sel = (1 to rounds).map(k =>
      s"SELECT CAST($k AS INT) AS step, pair, weight FROM b$k")
      .mkString("\n        UNION ALL ")
    s"""WITH words AS (SELECT unnest($wordsSql) AS w FROM documents),
        wf AS (SELECT w, CAST(count(*) AS BIGINT) AS f FROM words
          WHERE len(w) >= 2 GROUP BY 1),
        v0 AS (SELECT array_to_string([w[i+1:i+1]
          for i in range(len(w))], ' ') AS syms, f FROM wf),
        $blocks
        $sel"""
  })

  /** Holm–Bonferroni step-down on the q286 p-value worklist — the
    * family-wise companion; same output shape so the corrections diff
    * row-for-row. */
  private val l221 = Spec("q356_holm_bonferroni",
    (s, d) => graft.engine.Relational.holmBonferroni(
      errorPValues(s, d), "event_id", "p", alphaPct = 20),
    Some(s"""$errorPSql,
        ${rankedPSql(", count(*) OVER () AS m")},
        c AS (SELECT *, CAST(20 AS DOUBLE) / (CAST(100 AS DOUBLE)
          * CAST(m - rank + 1 AS DOUBLE)) AS crit FROM r),
        k AS (SELECT *, coalesce(min(CASE WHEN p > crit THEN rank END)
          OVER (), max(rank) OVER () + 1) AS kfail FROM c)
        SELECT id, p, rank, round(crit, 6) AS crit,
          rank < kfail AS discovery FROM k"""))

  /** Exact integer power iteration (4 rounds) for the dominant
    * singular direction of the embedding corpus — the spectral face of
    * q344's isotropy number. */
  private val l222 = Spec("q357_power_iteration",
    (s, d) => graft.llm.Similarity.powerIteration(
      T(s, d, "embeddings"), "embedding", rounds = 4)
      .withColumn("lambda_micro",
        expr("CAST(w_norm DIV 1000000000000 AS BIGINT)"))
      .drop("w_norm"),
    Some {
      val rounds = 4
      val iter = (1 to rounds).map { k =>
        s"""w$k AS (SELECT a.i AS dim, sum(a.a * v.v) AS w
          FROM a JOIN v${k - 1} v ON v.dim = a.j GROUP BY 1),
        n$k AS (SELECT max(abs(w)) AS n FROM w$k),
        v$k AS (SELECT dim, CASE WHEN n > 0 THEN w * 1000000 // n
          ELSE 0 END AS v
          FROM w$k CROSS JOIN n$k)"""
      }.mkString(",\n        ")
      s"""WITH e AS (SELECT vec_id, embedding AS v FROM embeddings
          WHERE embedding IS NOT NULL),
        x AS (SELECT vec_id, unnest(v) AS xv,
          unnest(range(1, len(v) + 1)) AS i FROM e),
        q AS (SELECT vec_id, i - 1 AS i,
          CAST(round(CAST(xv AS DOUBLE) * 1000000) AS BIGINT) AS qq
          FROM x),
        a AS (SELECT qa.i AS i, qb.i AS j,
          CAST(sum(CAST(qa.qq AS HUGEINT) * qb.qq) AS HUGEINT) AS a
          FROM q qa JOIN q qb USING (vec_id) GROUP BY 1, 2),
        v0 AS (SELECT DISTINCT i AS dim, CAST(1000000 AS HUGEINT) AS v
          FROM a),
        $iter
        SELECT CAST(v$rounds.dim AS INT) AS dim,
          CAST(v$rounds.v AS BIGINT) AS v_micro,
          CAST(n$rounds.n // 1000000000000 AS BIGINT) AS lambda_micro
        FROM v$rounds CROSS JOIN n$rounds"""
    })

  /** Burrows' Delta stylometric distance between every source pair
    * over the corpus' top-50 words — exact ppm frequencies, one IEEE
    * sqrt, word-ordered fold. */
  private val l223 = Spec("q358_burrows_delta",
    (s, d) => graft.llm.Curation.burrowsDelta(
      T(s, d, "documents"), "text", "source", topM = 50),
    Some(s"""WITH tk AS (SELECT CAST(source AS VARCHAR) AS s,
          unnest($wordsSql) AS w FROM documents
          WHERE text IS NOT NULL AND source IS NOT NULL),
        c AS (SELECT s, w, CAST(count(*) AS BIGINT) AS c
          FROM tk GROUP BY 1, 2),
        top AS (SELECT w FROM (SELECT w, sum(c) AS cc FROM c
          GROUP BY 1 ORDER BY cc DESC, w LIMIT 50)),
        tot AS (SELECT s, CAST(sum(c) AS BIGINT) AS tot
          FROM c GROUP BY 1),
        grid AS (SELECT tot.s, top.w,
          coalesce(c.c, 0) * 1000000 // tot.tot AS f
          FROM tot CROSS JOIN top
          LEFT JOIN c ON c.s = tot.s AND c.w = top.w),
        st AS (SELECT w, CAST(count(*) AS HUGEINT) AS d,
          CAST(sum(f) AS HUGEINT) AS sf,
          CAST(sum(CAST(f AS HUGEINT) * f) AS HUGEINT) AS sff
          FROM grid GROUP BY 1),
        vv AS (SELECT w, d, d * sff - sf * sf AS varnum FROM st),
        tm AS (SELECT a.s AS sa, b.s AS sb, a.w,
          CASE WHEN vv.varnum > 0 THEN CAST(abs(a.f - b.f) AS DOUBLE)
            * CAST(vv.d AS DOUBLE) / sqrt(CAST(vv.varnum AS DOUBLE))
          ELSE CAST(0.0 AS DOUBLE) END AS t
          FROM grid a JOIN grid b ON b.w = a.w AND a.s < b.s
          JOIN vv ON vv.w = a.w),
        ag AS (SELECT sa, sb, CAST(count(*) AS BIGINT) AS m_words,
          list(t ORDER BY w) AS terms FROM tm GROUP BY 1, 2)
        SELECT sa AS source_a, sb AS source_b, m_words,
          round(list_reduce(list_prepend(CAST(0.0 AS DOUBLE), terms),
            (a, b) -> a + b) / CAST(m_words AS DOUBLE), 6) AS delta
        FROM ag"""))

  /** Top-30 PMI collocations (support ≥ 5) — the four-ln difference
    * form on the shared bigram collapse. */
  private val l224 = Spec("q359_pmi_collocations",
    (s, d) => graft.llm.Lexical.pmiCollocations(
      T(s, d, "documents"), "text", minCount = 5L, topK = 30),
    Some(s"""WITH t AS (SELECT doc_id, $wordsSql AS words FROM documents),
        g AS (SELECT unnest([array_to_string(words[i+1:i+2], ' ')
          for i in range(CASE WHEN len(words) >= 2 THEN len(words)-1
          ELSE 0 END)]) AS gram FROM t),
        c2 AS (SELECT gram, CAST(count(*) AS BIGINT) AS c_uv
          FROM g GROUP BY 1),
        sp AS (SELECT gram, c_uv, string_split(gram, ' ')[1] AS u,
          string_split(gram, ' ')[-1] AS v FROM c2),
        lf AS (SELECT u, CAST(sum(c_uv) AS BIGINT) AS c_u
          FROM sp GROUP BY 1),
        rt AS (SELECT v, CAST(sum(c_uv) AS BIGINT) AS c_v
          FROM sp GROUP BY 1),
        nn AS (SELECT CAST(sum(c_uv) AS BIGINT) AS n FROM c2),
        p AS (SELECT sp.gram, sp.c_uv, lf.c_u, rt.c_v,
          CAST(round((ln(CAST(sp.c_uv AS DOUBLE))
            + ln(CAST(nn.n AS DOUBLE)) - ln(CAST(lf.c_u AS DOUBLE))
            - ln(CAST(rt.c_v AS DOUBLE))) * 1000000) AS BIGINT)
            AS pmi_micro
          FROM sp JOIN lf USING (u) JOIN rt USING (v) CROSS JOIN nn
          WHERE sp.c_uv >= 5),
        r AS (SELECT *, row_number() OVER (ORDER BY pmi_micro DESC,
          gram) AS rank FROM p)
        SELECT gram, c_uv, c_u, c_v, pmi_micro,
          CAST(rank AS INT) AS rank FROM r WHERE rank <= 30"""))

  /** Variance-to-mean dispersion of the top-50 terms' per-document
    * counts — all-integer burstiness audit. */
  private val l225 = Spec("q360_term_burstiness",
    (s, d) => graft.llm.Curation.termBurstiness(
      T(s, d, "documents"), "doc_id", "text", topM = 50),
    Some(s"""WITH t AS (SELECT doc_id, $wordsSql AS words
          FROM documents WHERE text IS NOT NULL),
        tk AS (SELECT doc_id, unnest(words) AS w FROM t),
        c AS (SELECT doc_id, w, CAST(count(*) AS BIGINT) AS c
          FROM tk GROUP BY 1, 2),
        top AS (SELECT w FROM (SELECT w, sum(c) AS cc FROM c
          GROUP BY 1 ORDER BY cc DESC, w LIMIT 50)),
        dd AS (SELECT CAST(count(*) AS HUGEINT) AS d FROM t),
        a AS (SELECT c.w, CAST(count(*) AS BIGINT) AS df,
          CAST(sum(c.c) AS BIGINT) AS total,
          CAST(sum(CAST(c.c AS HUGEINT) * c.c) AS HUGEINT) AS cc2
          FROM c JOIN top USING (w) GROUP BY 1)
        SELECT a.w AS term, df, total,
          CAST((dd.d * cc2 - CAST(total AS HUGEINT) * total) * 1000000
            // (dd.d * CAST(total AS HUGEINT)) AS BIGINT) AS vmr_micro
        FROM a CROSS JOIN dd"""))

  /** Shared q156-chain oracle prefix: transition ppm matrix + state
    * alphabet. */
  private val chainOracleBase = """s AS (SELECT user_id, event_type,
          lag(event_type) OVER (PARTITION BY user_id
            ORDER BY ts, event_id) AS from_state FROM events),
        c AS (SELECT from_state, event_type AS to_state, count(*) AS n
          FROM s WHERE from_state IS NOT NULL GROUP BY 1, 2),
        t AS (SELECT from_state, CAST(sum(n) AS BIGINT) AS tot
          FROM c GROUP BY 1),
        pt AS (SELECT from_state, to_state,
          CAST((n * 1000000) // tot AS BIGINT) AS p_ppm
          FROM c JOIN t USING (from_state)),
        states AS (SELECT from_state AS state FROM c
          UNION SELECT to_state FROM c)"""

  /** 5-step absorption probability toward 'purchase' over the q156
    * empirical chain — exact integer ppm conversion funnel. */
  private val l226 = Spec("q361_absorption_ppm", {
    val steps = 5
    (s, d) => graft.engine.Windows.absorptionPpm(
      T(s, d, "events"), "user_id", "ts", "event_type",
      Seq("event_id"), target = "purchase", steps = steps)
  }, Some {
    val steps = 5
    val rounds = (1 to steps).map { k =>
      s"""i$k AS (SELECT pt.from_state AS state,
          CAST(sum(pt.p_ppm * a${k - 1}.a) AS BIGINT) AS s
          FROM pt JOIN a${k - 1} ON a${k - 1}.state = pt.to_state
          GROUP BY 1),
        a$k AS (SELECT st.state,
          CASE WHEN st.state = 'purchase' THEN 1000000
            ELSE coalesce(i$k.s, 0) // 1000000 END AS a
          FROM states st LEFT JOIN i$k USING (state))"""
    }.mkString(",\n        ")
    s"""WITH $chainOracleBase,
        a0 AS (SELECT state, CASE WHEN state = 'purchase' THEN 1000000
          ELSE 0 END AS a FROM states),
        $rounds
        SELECT state, CAST(a AS BIGINT) AS conv_ppm FROM a$steps"""
  })

  /** 6-round stationary-distribution power approximation of the q156
    * chain — exact ppm, un-renormalized floor leakage documented. */
  private val l227 = Spec("q362_stationary_ppm", {
    val steps = 6
    (s, d) => graft.engine.Windows.stationaryPpm(
      T(s, d, "events"), "user_id", "ts", "event_type",
      Seq("event_id"), steps = steps)
  }, Some {
    val steps = 6
    val rounds = (1 to steps).map { k =>
      s"""f$k AS (SELECT pt.to_state AS state,
          CAST(sum(pt.p_ppm * p${k - 1}.pi) AS BIGINT) AS s
          FROM pt JOIN p${k - 1} ON p${k - 1}.state = pt.from_state
          GROUP BY 1),
        p$k AS (SELECT st.state, coalesce(f$k.s, 0) // 1000000 AS pi
          FROM states st LEFT JOIN f$k USING (state))"""
    }.mkString(",\n        ")
    s"""WITH $chainOracleBase,
        nn AS (SELECT count(*) AS n FROM states),
        p0 AS (SELECT state, 1000000 // nn.n AS pi
          FROM states CROSS JOIN nn),
        $rounds
        SELECT state, CAST(pi AS BIGINT) AS pi_ppm FROM p$steps"""
  })

  /** ROUGE-L on the q310 pair declaration — native LCS codegen
    * expression vs a recursive-CTE DP oracle (row state carried as a
    * list; the intra-row `left` dependency resolved by the prefix-max
    * identity `new = running-max of max(up, diag+eq)`). Both sides
    * truncated to 80 tokens (the quadratic-cost contract). */
  private val l228 = Spec("q363_rouge_l",
    (s, d) => {
      val docs = T(s, d, "documents").select(col("doc_id"), col("text"))
      val pairs = docs.select(col("doc_id").as("cand_id"))
        .filter(col("cand_id") % 23 === 0)
        .join(docs.select(col("doc_id").as("ref_id")),
          col("ref_id") === col("cand_id") + 1)
      graft.llm.Eval.rougeL(docs, pairs, "doc_id", "text",
        "cand_id", "ref_id", maxTokens = 80)
    },
    Some(s"""WITH t AS (SELECT doc_id, ($wordsSql)[1:80] AS words
          FROM documents),
        pr AS (SELECT a.doc_id AS cand_id, b.doc_id AS ref_id,
          ta.words AS wa, tb.words AS wb
          FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1
          JOIN t ta ON ta.doc_id = a.doc_id
          JOIN t tb ON tb.doc_id = b.doc_id
          WHERE a.doc_id % 23 = 0),
        rec AS (WITH RECURSIVE dp(cand_id, ref_id, i, row) AS (
            SELECT cand_id, ref_id, 0,
              [0 for x in range(len(wb) + 1)] FROM pr
            UNION ALL
            SELECT dp.cand_id, dp.ref_id, dp.i + 1,
              list_prepend(0, [list_max(b2[1:j+1])
                for j in range(len(b2))]) FROM (
                SELECT dp.cand_id, dp.ref_id, dp.i,
                  [greatest(dp.row[j+2], dp.row[j+1] +
                    CASE WHEN pr.wa[dp.i+1] = pr.wb[j+1]
                      THEN 1 ELSE 0 END)
                   for j in range(len(pr.wb))] AS b2
                FROM dp JOIN pr USING (cand_id, ref_id)
                WHERE dp.i < len(pr.wa)) dp)
          SELECT cand_id, ref_id, i, row FROM dp),
        fin AS (SELECT pr.cand_id, pr.ref_id,
          CAST(len(pr.wa) AS BIGINT) AS c_len,
          CAST(len(pr.wb) AS BIGINT) AS r_len,
          CAST(rec.row[-1] AS BIGINT) AS lcs
          FROM pr JOIN rec ON rec.cand_id = pr.cand_id
            AND rec.ref_id = pr.ref_id AND rec.i = len(pr.wa))
        SELECT cand_id, ref_id, c_len, r_len, lcs,
          CAST(CASE WHEN c_len + r_len > 0 THEN
            lcs * 2000000 // (c_len + r_len) END AS BIGINT)
            AS rouge_l_micro
        FROM fin"""))

  /** Hilbert-curve layout key (order 8) on the q122 grid — the
    * stronger-locality twin of the Z-order key; unrolled flip+swap
    * levels, pure integer bit arithmetic. */
  private val l229 = Spec("q364_hilbert_key", {
    val order = 8
    (s, d) => graft.engine.Layout.withHilbertKey(
      T(s, d, "lineitem").select(col("l_orderkey"), col("l_linenumber"),
        pmod(col("l_partkey"), lit(256)).as("gx"),
        pmod(col("l_suppkey"), lit(256)).as("gy")),
      "gx", "gy", order = order, outCol = "hkey")
  }, Some {
    val order = 8
    val levels = (0 until order).map { k =>
      val s = 1L << (order - 1 - k)
      s"""h${k + 1} AS (SELECT l_orderkey, l_linenumber, gx, gy,
          d + ${s * s} * xor(3 * rx, ry) AS d,
          CASE WHEN ry = 0 THEN CASE WHEN rx = 1
            THEN ${s - 1} - hy ELSE hy END ELSE hx END AS hx,
          CASE WHEN ry = 0 THEN CASE WHEN rx = 1
            THEN ${s - 1} - hx ELSE hx END ELSE hy END AS hy
          FROM (SELECT *,
            CASE WHEN (hx & $s) > 0 THEN 1 ELSE 0 END AS rx,
            CASE WHEN (hy & $s) > 0 THEN 1 ELSE 0 END AS ry
            FROM h$k))"""
    }.mkString(",\n        ")
    s"""WITH g AS (SELECT l_orderkey, l_linenumber,
          l_partkey % 256 AS gx, l_suppkey % 256 AS gy FROM lineitem),
        h0 AS (SELECT l_orderkey, l_linenumber, gx, gy,
          CAST(gx AS BIGINT) AS hx, CAST(gy AS BIGINT) AS hy,
          CAST(0 AS BIGINT) AS d FROM g),
        $levels
        SELECT l_orderkey, l_linenumber, gx, gy,
          CAST(d AS BIGINT) AS hkey FROM h$order"""
  })

  /** Skip-gram (window 2) co-occurrence PMI top-30 — the word2vec-style
    * widened-window companion of q359's adjacent collocations. */
  private val l230 = Spec("q365_skipgram_pmi",
    (s, d) => graft.llm.Lexical.skipgramPmi(
      T(s, d, "documents"), "doc_id", "text", window = 2,
      minCount = 5L, topK = 30),
    Some(s"""WITH t AS (SELECT doc_id, $wordsSql AS words FROM documents
          WHERE text IS NOT NULL),
        pos AS (SELECT doc_id, unnest(words) AS w,
          unnest(range(len(words))) AS p FROM t),
        pairs AS (SELECT a.w AS w1, b.w AS w2,
          CAST(count(*) AS BIGINT) AS n_pair
          FROM pos a JOIN pos b ON b.doc_id = a.doc_id
            AND b.p - a.p BETWEEN 1 AND 2
          GROUP BY 1, 2),
        lf AS (SELECT w1, CAST(sum(n_pair) AS BIGINT) AS c_w1
          FROM pairs GROUP BY 1),
        rt AS (SELECT w2, CAST(sum(n_pair) AS BIGINT) AS c_w2
          FROM pairs GROUP BY 1),
        nn AS (SELECT CAST(sum(n_pair) AS BIGINT) AS n FROM pairs),
        p AS (SELECT pairs.w1, pairs.w2, pairs.n_pair, lf.c_w1, rt.c_w2,
          CAST(round((ln(CAST(pairs.n_pair AS DOUBLE))
            + ln(CAST(nn.n AS DOUBLE)) - ln(CAST(lf.c_w1 AS DOUBLE))
            - ln(CAST(rt.c_w2 AS DOUBLE))) * 1000000) AS BIGINT)
            AS pmi_micro
          FROM pairs JOIN lf USING (w1) JOIN rt USING (w2) CROSS JOIN nn
          WHERE pairs.n_pair >= 5),
        r AS (SELECT *, row_number() OVER (ORDER BY pmi_micro DESC,
          w1, w2) AS rank FROM p)
        SELECT w1, w2, n_pair, c_w1, c_w2, pmi_micro,
          CAST(rank AS INT) AS rank FROM r WHERE rank <= 30"""))

  /** Bounded-output face of exact PPJoin: per doc_a, the 3 strongest
    * verified partners (jac desc, doc_b) — the production write path
    * whose output is n_docs·cap, not clone-density². */
  private val l231 = Spec("q366_dedup_prefix_capped",
    (s, d) => Dedup.prefixFilterCandidatesCapped(nearDupCorpus(s, d),
      "doc_id", "text", shingleWidth = 3, minJaccard = 0.5,
      maxPairsPerDoc = 3),
    Some(s"""WITH corpus AS ($nearDupCorpusSql),
        t AS (SELECT doc_id, $wordsSql AS words FROM corpus),
        sh AS (SELECT doc_id, ${shingleSql(3)} AS hs FROM t),
        tok AS (SELECT doc_id AS doc, unnest(hs) AS h FROM sh),
        dfq AS (SELECT h, count(*) AS df FROM tok GROUP BY h),
        rk AS (SELECT doc, tok.h,
          row_number() OVER (PARTITION BY doc ORDER BY df, tok.h) AS rk,
          count(*) OVER (PARTITION BY doc) AS n
          FROM tok JOIN dfq ON dfq.h = tok.h),
        pfx AS (SELECT doc, h FROM rk
          WHERE rk <= n - ceil(CAST(0.5 AS DOUBLE) * n) + 1),
        pairs AS (SELECT DISTINCT a.doc AS doc_a, b.doc AS doc_b
          FROM pfx a JOIN pfx b ON a.h = b.h AND a.doc < b.doc),
        v AS (SELECT doc_a, doc_b,
          round(CASE WHEN len(list_distinct(sa.hs || sb.hs)) > 0 THEN
            CAST(len(list_filter(sa.hs, x -> list_contains(sb.hs, x)))
              AS DOUBLE) / CAST(len(list_distinct(sa.hs || sb.hs))
              AS DOUBLE)
            ELSE CAST(0 AS DOUBLE) END, 6) AS jac
          FROM pairs JOIN sh sa ON sa.doc_id = doc_a
            JOIN sh sb ON sb.doc_id = doc_b),
        vv AS (SELECT doc_a, doc_b, jac FROM v
          WHERE jac >= CAST(0.5 AS DOUBLE)),
        r AS (SELECT doc_a, doc_b, jac, row_number() OVER
          (PARTITION BY doc_a ORDER BY jac DESC, doc_b) AS rk FROM vv)
        SELECT doc_a, doc_b, jac FROM r WHERE rk <= 3"""))

  /** Word error rate on declared pairs — native token-Levenshtein
    * codegen expression vs a recursive-CTE DP oracle (the q363 row-state
    * trick; the intra-row `left+1` chain resolved by the prefix-min
    * identity `cur[j] = j + min_{k<=j}(cand[k] - k)`). Both sides
    * truncated to 60 tokens. */
  private val l232 = Spec("q367_wer",
    (s, d) => {
      val docs = T(s, d, "documents")
        .filter(col("text").isNotNull)
        .select(col("doc_id"), col("text"))
      val pairs = docs.select(col("doc_id").as("cand_id"))
        .filter(col("cand_id") % 29 === 0)
        .join(docs.select(col("doc_id").as("ref_id")),
          col("ref_id") === col("cand_id") + 2)
      // guide §3.2: the pair join can only touch doc_id ≡ 0 or 2
      // (mod 29) — pre-filter the tokenize side to those residue
      // classes so the two toks join branches scan ~2/29 of the
      // corpus; wer LEFT-joins toks per pair id, so the result is
      // row-identical
      graft.llm.Eval.wer(
        docs.filter(col("doc_id") % 29 === 0 || col("doc_id") % 29 === 2),
        pairs, "doc_id", "text",
        "cand_id", "ref_id", maxTokens = 60)
    },
    Some(s"""WITH t AS (SELECT doc_id, ($wordsSql)[1:60] AS words
          FROM documents WHERE text IS NOT NULL),
        pr AS (SELECT a.doc_id AS cand_id, b.doc_id AS ref_id,
          ta.words AS wa, tb.words AS wb
          FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 2
          JOIN t ta ON ta.doc_id = a.doc_id
          JOIN t tb ON tb.doc_id = b.doc_id
          WHERE a.doc_id % 29 = 0 AND a.text IS NOT NULL
            AND b.text IS NOT NULL),
        rec AS (WITH RECURSIVE dp(cand_id, ref_id, i, row) AS (
            SELECT cand_id, ref_id, 0,
              [x for x in range(len(wb) + 1)] FROM pr
            UNION ALL
            SELECT cand_id, ref_id, i + 1,
              [j + list_min(e[1:j+1]) for j in range(len(e))] FROM (
                SELECT cand_id, ref_id, i,
                  [c2[kk+1] - kk for kk in range(len(c2))] AS e FROM (
                  SELECT dp.cand_id, dp.ref_id, dp.i,
                    list_prepend(dp.i + 1,
                      [least(dp.row[j+2] + 1, dp.row[j+1] +
                        CASE WHEN pr.wa[dp.i+1] = pr.wb[j+1]
                          THEN 0 ELSE 1 END)
                       for j in range(len(pr.wb))]) AS c2
                  FROM dp JOIN pr USING (cand_id, ref_id)
                  WHERE dp.i < len(pr.wa)) q1) q2)
          SELECT cand_id, ref_id, i, row FROM dp),
        fin AS (SELECT pr.cand_id, pr.ref_id,
          CAST(len(pr.wa) AS BIGINT) AS c_len,
          CAST(len(pr.wb) AS BIGINT) AS r_len,
          CAST(rec.row[-1] AS BIGINT) AS edit_dist
          FROM pr JOIN rec ON rec.cand_id = pr.cand_id
            AND rec.ref_id = pr.ref_id AND rec.i = len(pr.wa))
        SELECT cand_id, ref_id, c_len, r_len, edit_dist,
          CAST(CASE WHEN r_len > 0 THEN
            edit_dist * 1000000 // r_len END AS BIGINT) AS wer_micro
        FROM fin"""))

  /** Dirichlet-smoothed query likelihood (mu = 2000) on the q94 query —
    * the LM-retrieval sibling of BM25; every document scores (smoothed
    * background for absent terms), top-20 by (score, id). */
  private val l233 = Spec("q368_dirichlet_ql",
    (s, d) => graft.llm.Lexical.dirichletQueryLikelihood(
      T(s, d, "documents"), "doc_id", "text",
      Seq("spark", "window", "merge"), mu = 2000L, k = 20),
    Some(s"""WITH t AS (SELECT doc_id, $wordsSql AS words FROM documents
          WHERE text IS NOT NULL),
        lens AS (SELECT doc_id, CAST(len(words) AS BIGINT) AS dl FROM t),
        ctot AS (SELECT CAST(sum(dl) AS BIGINT) AS cc FROM lens),
        strm AS (SELECT doc_id, unnest(words) AS term FROM t),
        qs AS (SELECT term FROM strm
          WHERE term IN ('merge', 'spark', 'window')),
        cf AS (SELECT term, CAST(count(*) AS BIGINT) AS cf FROM qs
          GROUP BY 1),
        tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS c
          FROM strm WHERE term IN ('merge', 'spark', 'window')
          GROUP BY 1, 2),
        pt AS (SELECT lens.doc_id, lens.dl, cf.term, cf.cf,
          coalesce(tf.c, 0) AS c
          FROM lens CROSS JOIN cf LEFT JOIN tf
            ON tf.doc_id = lens.doc_id AND tf.term = cf.term),
        sc AS (SELECT pt.doc_id, max(pt.dl) AS dl,
          CAST(count(*) AS BIGINT) AS n_terms,
          CAST(sum(CASE WHEN pt.c > 0 THEN 1 ELSE 0 END) AS BIGINT)
            AS n_matched,
          CAST(sum(CAST(round((ln(CAST(pt.c AS DOUBLE)
            * CAST(ctot.cc AS DOUBLE)
            + CAST(2000 AS DOUBLE) * CAST(pt.cf AS DOUBLE))
            - ln(CAST(ctot.cc AS DOUBLE))
            - ln(CAST(pt.dl + 2000 AS DOUBLE))) * 1000000) AS BIGINT))
            AS BIGINT) AS score_micro
          FROM pt CROSS JOIN ctot GROUP BY 1),
        r AS (SELECT *, row_number() OVER (ORDER BY score_micro DESC,
          doc_id) AS rank FROM sc)
        SELECT doc_id, dl, n_terms, n_matched, score_micro,
          CAST(rank AS INT) AS rank FROM r WHERE rank <= 20"""))

  /** Linear CKA between the even-id and odd-id halves of the embedding
    * corpus (row i pairs vec 2i with vec 2i+1) — exact centered
    * Frobenius sums on the milli lattice, n² factors cancelling in the
    * ratio; the big integer sums are emitted DIV 10⁹ (the q357 w_norm
    * convention — DECIMAL(38,0) does not survive the gate comparator). */
  private val l234 = Spec("q369_linear_cka",
    (s, d) => {
      val emb = T(s, d, "embeddings").filter(col("embedding").isNotNull)
      val x = emb.filter(col("vec_id") % 2 === 0)
        .select(expr("vec_id DIV 2").as("pid"), col("embedding").as("ex"))
      val y = emb.filter(col("vec_id") % 2 === 1)
        .select(expr("vec_id DIV 2").as("pid"), col("embedding").as("ey"))
      graft.llm.Similarity.linearCka(x.join(y, Seq("pid")), "ex", "ey")
        .select(col("n"), col("d"),
          expr("CAST(num DIV 1000000000 AS BIGINT)").as("num_g"),
          expr("CAST(den_x DIV 1000000000 AS BIGINT)").as("den_x_g"),
          expr("CAST(den_y DIV 1000000000 AS BIGINT)").as("den_y_g"),
          col("cka_micro"))
    },
    Some("""WITH e AS (SELECT vec_id, embedding FROM embeddings
          WHERE embedding IS NOT NULL),
        px AS (SELECT x.vec_id // 2 AS pid,
          [CAST(round(CAST(v AS DOUBLE) * 1000) AS BIGINT)
            for v in x.embedding] AS qx,
          [CAST(round(CAST(v AS DOUBLE) * 1000) AS BIGINT)
            for v in y.embedding] AS qy
          FROM e x JOIN e y ON y.vec_id = x.vec_id + 1
          WHERE x.vec_id % 2 = 0 AND len(x.embedding) = len(y.embedding)),
        ex AS (SELECT pid, unnest(qx) AS xi,
          unnest(range(len(qx))) AS i FROM px),
        ey AS (SELECT pid, unnest(qy) AS yj,
          unnest(range(len(qy))) AS j FROM px),
        n1 AS (SELECT CAST(count(*) AS HUGEINT) AS n,
          CAST(len(min(qx)) AS INT) AS d FROM px),
        sums AS (SELECT i, CAST(sum(xi) AS HUGEINT) AS sx FROM ex
          GROUP BY 1),
        sumy AS (SELECT j, CAST(sum(yj) AS HUGEINT) AS sy FROM ey
          GROUP BY 1),
        cxy AS (SELECT i, j, CAST(sum(CAST(xi AS HUGEINT) * yj)
          AS HUGEINT) AS g FROM ex JOIN ey USING (pid) GROUP BY 1, 2),
        cxx AS (SELECT a.i AS i, b.i AS j,
          CAST(sum(CAST(a.xi AS HUGEINT) * b.xi) AS HUGEINT) AS g
          FROM ex a JOIN ex b USING (pid) GROUP BY 1, 2),
        cyy AS (SELECT a.j AS i, b.j AS j,
          CAST(sum(CAST(a.yj AS HUGEINT) * b.yj) AS HUGEINT) AS g
          FROM ey a JOIN ey b USING (pid) GROUP BY 1, 2),
        fx AS (SELECT sum((n1.n * cxy.g - sums.sx * sumy.sy)
            * (n1.n * cxy.g - sums.sx * sumy.sy)) AS num
          FROM cxy JOIN sums ON sums.i = cxy.i
          JOIN sumy ON sumy.j = cxy.j CROSS JOIN n1),
        fxx AS (SELECT sum((n1.n * cxx.g - a.sx * b.sx)
            * (n1.n * cxx.g - a.sx * b.sx)) AS den_x
          FROM cxx JOIN sums a ON a.i = cxx.i
          JOIN sums b ON b.i = cxx.j CROSS JOIN n1),
        fyy AS (SELECT sum((n1.n * cyy.g - a.sy * b.sy)
            * (n1.n * cyy.g - a.sy * b.sy)) AS den_y
          FROM cyy JOIN sumy a ON a.j = cyy.i
          JOIN sumy b ON b.j = cyy.j CROSS JOIN n1)
        SELECT CAST(n1.n AS BIGINT) AS n, n1.d AS d,
          CAST(fx.num // 1000000000 AS BIGINT) AS num_g,
          CAST(fxx.den_x // 1000000000 AS BIGINT) AS den_x_g,
          CAST(fyy.den_y // 1000000000 AS BIGINT) AS den_y_g,
          CAST(round(CASE WHEN fxx.den_x > 0 AND fyy.den_y > 0 THEN
            CAST(fx.num AS DOUBLE) / (sqrt(CAST(fxx.den_x AS DOUBLE))
              * sqrt(CAST(fyy.den_y AS DOUBLE))) * 1000000 END)
            AS BIGINT) AS cka_micro
        FROM fx CROSS JOIN fxx CROSS JOIN fyy CROSS JOIN n1"""))

  /** ECOD top-50 outliers over (value-micro, props-length) — empirical-
    * cdf tail log-sums, parameter-free HBOS sibling; ECDFs through the
    * distributed cumsum discipline. */
  private val l235 = Spec("q370_ecod_outliers",
    (s, d) => graft.engine.Relational.ecodOutliers(
      T(s, d, "events").select(col("event_id"),
        expr("CAST(round(CAST(value AS DOUBLE) * 1000000) AS BIGINT)")
          .as("v_micro"),
        length(col("props")).cast("long").as("p_len")),
      "event_id", Seq("v_micro", "p_len"), k = 50),
    Some("""WITH b AS (SELECT event_id AS id,
          CAST(round(CAST(value AS DOUBLE) * 1000000) AS BIGINT)
            AS v_micro,
          CAST(length(props) AS BIGINT) AS p_len FROM events
          WHERE event_id IS NOT NULL AND value IS NOT NULL
            AND props IS NOT NULL),
        n1 AS (SELECT CAST(count(*) AS BIGINT) AS n FROM b),
        g0 AS (SELECT v_micro AS v, CAST(count(*) AS BIGINT) AS c
          FROM b GROUP BY 1),
        c0 AS (SELECT v, c, CAST(sum(c) OVER (ORDER BY v) AS BIGINT)
          AS cum FROM g0),
        g1 AS (SELECT p_len AS v, CAST(count(*) AS BIGINT) AS c
          FROM b GROUP BY 1),
        c1 AS (SELECT v, c, CAST(sum(c) OVER (ORDER BY v) AS BIGINT)
          AS cum FROM g1),
        j AS (SELECT b.id, b.v_micro, b.p_len, c0.cum AS l0, c0.c AS k0,
          c1.cum AS l1, c1.c AS k1
          FROM b JOIN c0 ON c0.v = b.v_micro JOIN c1 ON c1.v = b.p_len),
        s AS (SELECT id, v_micro, p_len,
          CAST(round((ln(CAST(n AS DOUBLE)) - ln(CAST(l0 AS DOUBLE)))
            * 1000000) AS BIGINT)
          + CAST(round((ln(CAST(n AS DOUBLE)) - ln(CAST(l1 AS DOUBLE)))
            * 1000000) AS BIGINT) AS score_left,
          CAST(round((ln(CAST(n AS DOUBLE))
            - ln(CAST(n - l0 + k0 AS DOUBLE))) * 1000000) AS BIGINT)
          + CAST(round((ln(CAST(n AS DOUBLE))
            - ln(CAST(n - l1 + k1 AS DOUBLE))) * 1000000) AS BIGINT)
            AS score_right
          FROM j CROSS JOIN n1),
        r AS (SELECT id, v_micro, p_len, score_left, score_right,
          greatest(score_left, score_right) AS ecod_micro,
          row_number() OVER (ORDER BY greatest(score_left, score_right)
            DESC, id) AS rank FROM s)
        SELECT id AS event_id, v_micro, p_len, score_left, score_right,
          ecod_micro, CAST(rank AS INT) AS rank FROM r
        WHERE rank <= 50"""))

  /** Per-edge triangle support (the k-truss statistic, one round) over
    * the memoized co-purchase graph — degree-oriented enumeration,
    * per-EDGE explode instead of per-node. */
  private val l236 = Spec("q371_edge_support",
    (s, d) => Queries.coPurchaseSupport(s, d),
    Some("""WITH e AS (SELECT DISTINCT a.l_partkey AS lo, b.l_partkey AS hi
          FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey
            AND a.l_partkey < b.l_partkey
          WHERE a.l_partkey % 3 = 0 AND b.l_partkey % 3 = 0),
        tri AS (SELECT e1.lo AS x, e1.hi AS y, e2.hi AS z
          FROM e e1 JOIN e e2 ON e2.lo = e1.hi
          JOIN e e3 ON e3.lo = e1.lo AND e3.hi = e2.hi),
        te AS (SELECT x AS u, y AS v FROM tri
          UNION ALL SELECT y, z FROM tri
          UNION ALL SELECT x, z FROM tri),
        ts AS (SELECT u, v, CAST(count(*) AS BIGINT) AS s FROM te
          GROUP BY 1, 2)
        SELECT e.lo AS u, e.hi AS v,
          CAST(coalesce(ts.s, 0) AS BIGINT) AS support
        FROM e LEFT JOIN ts ON ts.u = e.lo AND ts.v = e.hi"""))

  /** Crawl-fragment stitch pairs over a seam-injected corpus (every
    * 13th doc split into two halves sharing a 4-token seam): tail-hash
    * equi-joins head-hash, hot seams capped at 1000 per side. */
  private val l237 = Spec("q372_stitch_pairs",
    (s, d) => {
      val base = T(s, d, "documents").filter(col("text").isNotNull)
        .select(col("doc_id"), col("text"))
      val sp = base.filter(col("doc_id") % 13 === 0)
        .select(col("doc_id"), Text.tokens(col("text")).as("__w"))
        .withColumn("__n", size(col("__w")))
        .filter(col("__n") >= 12)
        .withColumn("__h", expr("__n DIV 2"))
      val frags = sp.select(
          (col("doc_id") + 200000000L).as("doc_id"),
          array_join(expr("slice(__w, 1, __h + 4)"), " ").as("text"))
        .unionByName(sp.select(
          (col("doc_id") + 300000000L).as("doc_id"),
          array_join(expr("slice(__w, __h + 1, __n - __h)"), " ")
            .as("text")))
      Dedup.stitchPairs(base.unionByName(frags), "doc_id", "text",
        kTokens = 4)
    },
    Some(s"""WITH base AS (SELECT doc_id, text FROM documents
          WHERE text IS NOT NULL),
        tw AS (SELECT doc_id, $wordsSql AS words FROM base),
        sp AS (SELECT doc_id, words, len(words) AS n, len(words) // 2 AS h
          FROM tw WHERE doc_id % 13 = 0 AND len(words) >= 12),
        corpus AS (SELECT doc_id, text FROM base
          UNION ALL SELECT doc_id + 200000000,
            array_to_string(words[1:h+4], ' ') AS text FROM sp
          UNION ALL SELECT doc_id + 300000000,
            array_to_string(words[h+1:n], ' ') AS text FROM sp),
        t AS (SELECT doc_id, $wordsSql AS words FROM corpus),
        tk AS (SELECT doc_id, words FROM t WHERE len(words) >= 4),
        tails AS (SELECT doc_id AS doc_a,
          ${phSql("array_to_string(words[-4:], ' ')")} AS k FROM tk),
        heads AS (SELECT doc_id AS doc_b,
          ${phSql("array_to_string(words[1:4], ' ')")} AS k FROM tk),
        tc AS (SELECT doc_a, k FROM (SELECT doc_a, k,
          count(*) OVER (PARTITION BY k) AS c FROM tails)
          WHERE c <= 1000),
        hc AS (SELECT doc_b, k FROM (SELECT doc_b, k,
          count(*) OVER (PARTITION BY k) AS c FROM heads)
          WHERE c <= 1000)
        SELECT tc.doc_a, hc.doc_b, tc.k AS seam_hash
        FROM tc JOIN hc ON hc.k = tc.k WHERE tc.doc_a <> hc.doc_b"""))

  /** BPE apply + per-language fertility: the trained 8-merge table
    * (q355's exact trainer) applied at vocab grain with the same
    * greedy rewrite, weighted back by word frequency. */
  private val l238 = Spec("q373_bpe_fertility", {
    val rounds = 8
    (s, d) => {
      val merges = graft.llm.Lexical.bpeTrain(
        T(s, d, "documents"), "text", merges = rounds)
        .orderBy("step").collect().map(_.getString(1)).toSeq
      graft.llm.Lexical.bpeApplyFertility(
        T(s, d, "documents"), "lang", "text", merges)
    }
  }, Some {
    val rounds = 8
    val blocks = (1 to rounds).map { k =>
      s"""sp$k AS (SELECT string_split(syms, ' ') AS a, f FROM v${k - 1}),
        p$k AS (SELECT f, unnest([a[i+1] || ' ' || a[i+2]
          for i in range(len(a) - 1)]) AS pair FROM sp$k
          WHERE len(a) >= 2),
        c$k AS (SELECT pair, CAST(sum(f) AS BIGINT) AS weight
          FROM p$k GROUP BY 1),
        b$k AS (SELECT pair, weight FROM c$k
          ORDER BY weight DESC, pair LIMIT 1),
        v$k AS (SELECT trim(replace(replace(
            ' ' || replace(syms, ' ', '  ') || ' ',
            ' ' || string_split(b.pair, ' ')[1] || '  '
              || string_split(b.pair, ' ')[2] || ' ',
            ' ' || replace(b.pair, ' ', '') || ' '), '  ', ' ')) AS syms,
          f FROM v${k - 1} CROSS JOIN b$k b)"""
    }.mkString(",\n        ")
    val apply = (1 to rounds).map { k =>
      s"""a$k AS (SELECT grp, w, f, trim(replace(replace(
            ' ' || replace(syms, ' ', '  ') || ' ',
            ' ' || string_split(b.pair, ' ')[1] || '  '
              || string_split(b.pair, ' ')[2] || ' ',
            ' ' || replace(b.pair, ' ', '') || ' '), '  ', ' ')) AS syms
          FROM a${k - 1} CROSS JOIN b$k b)"""
    }.mkString(",\n        ")
    s"""WITH words AS (SELECT unnest($wordsSql) AS w FROM documents),
        wf AS (SELECT w, CAST(count(*) AS BIGINT) AS f FROM words
          WHERE len(w) >= 2 GROUP BY 1),
        v0 AS (SELECT array_to_string([w[i+1:i+1]
          for i in range(len(w))], ' ') AS syms, f FROM wf),
        $blocks,
        wfg AS (SELECT grp, w, CAST(count(*) AS BIGINT) AS f FROM
          (SELECT lang AS grp, unnest($wordsSql) AS w FROM documents
           WHERE text IS NOT NULL AND lang IS NOT NULL)
          GROUP BY 1, 2),
        a0 AS (SELECT grp, w, f, array_to_string([w[i+1:i+1]
          for i in range(len(w))], ' ') AS syms FROM wfg),
        $apply
        SELECT grp AS "group", CAST(sum(f) AS BIGINT) AS n_words,
          CAST(sum(f * len(string_split(syms, ' '))) AS BIGINT)
            AS n_subwords,
          CAST(sum(f * length(w)) AS BIGINT) AS n_chars,
          CAST(sum(f * len(string_split(syms, ' '))) * 1000000
            // sum(f) AS BIGINT) AS fertility_micro,
          CAST(sum(f * length(w)) * 1000000
            // sum(f * len(string_split(syms, ' '))) AS BIGINT)
            AS chars_per_subword_micro
        FROM a$rounds GROUP BY 1"""
  })

  /** 4-truss peel (3 rounds) of the co-purchase graph — edges on
    * >= 2 triangles after iterative weak-edge deletion. */
  private val l239 = Spec("q374_ktruss", {
    val rounds = 3
    // peel from the session-memoized support frame (shared with q371)
    // - round 1's full enumeration is paid once per (session, input)
    (s, d) => graft.engine.Graph.kTrussFromSupport(
      Queries.coPurchaseSupport(s, d), k = 4, maxRounds = rounds)
  }, Some {
    val rounds = 3
    // MATERIALIZED: each round reads the previous edge set four times and
    // its triangles three times; inlined once per reference, the chain
    // ran DuckDB out of memory (12.5 GiB) at sf0.1
    val blocks = (1 to rounds).map { r =>
      s"""tri$r AS MATERIALIZED (SELECT e1.u AS x, e1.v AS y, e2.v AS z
          FROM e${r - 1} e1 JOIN e${r - 1} e2 ON e2.u = e1.v
          JOIN e${r - 1} e3 ON e3.u = e1.u AND e3.v = e2.v),
        te$r AS MATERIALIZED (SELECT x AS u, y AS v FROM tri$r
          UNION ALL SELECT y, z FROM tri$r
          UNION ALL SELECT x, z FROM tri$r),
        ts$r AS MATERIALIZED (SELECT u, v, CAST(count(*) AS BIGINT) AS s
          FROM te$r GROUP BY 1, 2),
        s$r AS MATERIALIZED (SELECT e.u, e.v,
            CAST(coalesce(ts$r.s, 0) AS BIGINT) AS support
          FROM e${r - 1} e LEFT JOIN ts$r
            ON ts$r.u = e.u AND ts$r.v = e.v
          WHERE coalesce(ts$r.s, 0) >= 2),
        e$r AS MATERIALIZED (SELECT u, v FROM s$r)"""
    }.mkString(",\n        ")
    s"""WITH e0 AS MATERIALIZED (SELECT DISTINCT a.l_partkey AS u,
            b.l_partkey AS v
          FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey
            AND a.l_partkey < b.l_partkey
          WHERE a.l_partkey % 3 = 0 AND b.l_partkey % 3 = 0),
        $blocks
        SELECT u, v, support FROM s$rounds"""
  })

  /** k-NN label homophily (k = 10, queries = vec_id < 64): per-label
    * same-label edge fraction of the nearest-neighbor graph. */
  private val l240 = Spec("q375_knn_homophily",
    (s, d) => {
      val emb = T(s, d, "embeddings")
      graft.llm.Eval.knnLabelHomophily(emb,
        emb.filter(col("vec_id") < 64), "vec_id", "embedding", "label",
        "vec_id", k = 10)
    },
    Some(s"""WITH c AS (SELECT vec_id, embedding, label FROM embeddings
          WHERE label IS NOT NULL AND embedding IS NOT NULL),
        q AS (SELECT vec_id AS query_id, embedding AS qv, label AS ql
          FROM c WHERE vec_id < 64),
        s AS (SELECT q.query_id, q.ql, x.vec_id AS nid, x.label AS nl,
          ${cosSql("q.qv", "x.embedding")} AS cos
          FROM c x CROSS JOIN q WHERE x.vec_id <> q.query_id),
        r AS (SELECT *, row_number() OVER (PARTITION BY query_id
          ORDER BY cos DESC, nid) AS rk FROM s)
        SELECT ql AS label,
          CAST(count(DISTINCT query_id) AS BIGINT) AS n_queries,
          CAST(count(*) AS BIGINT) AS n_edges,
          CAST(sum(CASE WHEN nl = ql THEN 1 ELSE 0 END) AS BIGINT)
            AS n_same,
          CAST(sum(CASE WHEN nl = ql THEN 1 ELSE 0 END) * 1000000
            // count(*) AS BIGINT) AS homophily_ppm
        FROM r WHERE rk <= 10 GROUP BY 1"""))

  /** Cross-split bigram-LM transfer: train add-one model on split s0
    * (doc_id % 3 = 0), score every split — the held-in/held-out NLL
    * gap as a drift/contamination probe. */
  private val l241 = Spec("q376_lm_transfer",
    (s, d) => graft.llm.Lexical.bigramLmTransfer(
      T(s, d, "documents").withColumn("split",
        concat(lit("s"), (col("doc_id") % 3).cast("string"))),
      "doc_id", "text", "split", trainValue = "s0"),
    Some(s"""WITH t AS (SELECT doc_id,
          's' || CAST(doc_id % 3 AS VARCHAR) AS split, $wordsSql AS words
          FROM documents WHERE text IS NOT NULL),
        tr AS (SELECT * FROM t WHERE split = 's0'),
        uni AS (SELECT w1, CAST(count(*) AS BIGINT) AS c1 FROM
          (SELECT unnest(words) AS w1 FROM tr) GROUP BY 1),
        vv AS (SELECT CAST(count(*) AS BIGINT) AS v FROM uni),
        big AS (SELECT gram, CAST(count(*) AS BIGINT) AS c2 FROM
          (SELECT unnest([array_to_string(words[i+1:i+2], ' ')
            for i in range(CASE WHEN len(words) >= 2 THEN len(words)-1
            ELSE 0 END)]) AS gram FROM tr) GROUP BY 1),
        sg AS (SELECT split, doc_id, gram, CAST(count(*) AS BIGINT)
            AS cnt FROM
          (SELECT split, doc_id,
            unnest([array_to_string(words[i+1:i+2], ' ')
            for i in range(CASE WHEN len(words) >= 2 THEN len(words)-1
            ELSE 0 END)]) AS gram FROM t) GROUP BY 1, 2, 3),
        sc AS (SELECT sg.split, sg.doc_id, sg.cnt,
          coalesce(big.c2, 0) AS c2,
          CAST(round((ln(CAST(coalesce(uni.c1, 0) + vv.v AS DOUBLE))
            - ln(CAST(coalesce(big.c2, 0) + 1 AS DOUBLE))) * 1000000)
            AS BIGINT) AS nll
          FROM sg LEFT JOIN big USING (gram)
          LEFT JOIN uni ON uni.w1 = string_split(sg.gram, ' ')[1]
          CROSS JOIN vv)
        SELECT split, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
          CAST(sum(cnt) AS BIGINT) AS n_bigrams,
          CAST(sum(CASE WHEN c2 = 0 THEN cnt ELSE 0 END) AS BIGINT)
            AS n_unseen,
          CAST(sum(cnt * nll) AS BIGINT) AS nll_micro_sum,
          CAST(CAST(sum(cnt * nll) AS BIGINT) // sum(cnt) AS BIGINT)
            AS nll_micro_avg
        FROM sc GROUP BY 1"""))

  // ---- shared fragment: lang-ID of a doc under three token views ----
  // (full tokens / first half / second half) — the perturbation-rater
  // construction behind the q377/q378 agreement statistics: a labeler
  // that disagrees with itself across halves of the SAME document is
  // unstable, and the agreement coefficients quantify exactly that.

  /** DuckDB CTE chain exposing `r(doc_id, cat)` for one word-slice
    * expression over `tt(doc_id, w0, n, h)`. */
  private def raterCteSql(tag: String, sliceExpr: String): String =
    s"""r$tag AS (SELECT doc_id, $sliceExpr AS words FROM tt),
        c$tag AS (SELECT doc_id, $langCountsSql FROM r$tag),
        a$tag AS (SELECT doc_id, $langCaseSql AS cat FROM c$tag)"""

  private val ttCteSql =
    s"""t AS (SELECT doc_id, $wordsSql AS w0 FROM documents
          WHERE text IS NOT NULL),
        tt AS (SELECT doc_id, w0, len(w0) AS n, len(w0) // 2 AS h
          FROM t WHERE len(w0) >= 2)"""

  /** Spark-side (doc_id, rater, cat) long frame: one documents scan,
    * three lang-IDs stacked; raters gated by minimum token counts
    * (gate 2/2/2 = always-present → the Fleiss constant-3 shape;
    * 2/4/8 = conditional raters → the Krippendorff missing-data
    * shape). Session-memoized per (input, gates) — the q377 kappa and
    * q429 Cochran's Q share the 2/2/2 panel, so the triple corpus
    * tokenize+lang-ID is paid once (the edge-memo discipline).
    */
  private def raterFrame(s: SparkSession, d: String, minFull: Int,
      minHead: Int, minTail: Int): DataFrame =
    Pins.memo(s, d, s"rater$minFull/$minHead/$minTail")(
      Pins.pin(raterFrameBuild(s, d, minFull, minHead, minTail)))

  private def raterFrameBuild(s: SparkSession, d: String, minFull: Int,
      minHead: Int, minTail: Int): DataFrame = {
    T(s, d, "documents").filter(col("text").isNotNull)
      .select(col("doc_id"), Text.tokens(col("text")).as("__w"))
      .withColumn("__n", size(col("__w"))).filter(col("__n") >= 2)
      .withColumn("__h", expr("__n DIV 2"))
      .select(col("doc_id"),
        when(col("__n") >= minFull,
          Text.langIdFromTokens(col("__w"))).as("c_full"),
        when(col("__n") >= minHead, Text.langIdFromTokens(
          slice(col("__w"), lit(1), col("__h")))).as("c_head"),
        when(col("__n") >= minTail, Text.langIdFromTokens(
          slice(col("__w"), col("__h") + 1, col("__n") - col("__h"))))
          .as("c_tail"))
      .select(col("doc_id"), expr(
        "stack(3, 'full', c_full, 'head', c_head, 'tail', c_tail) " +
          "AS (rater, cat)"))
      .filter(col("cat").isNotNull)
  }

  /** Fleiss' kappa of the 3-view lang-ID panel (constant n = 3). */
  private val l242 = Spec("q377_fleiss_kappa",
    (s, d) => graft.llm.Eval.fleissKappa(
      raterFrame(s, d, 2, 2, 2), "doc_id", "cat", nRaters = 3),
    Some(s"""WITH $ttCteSql,
        ${raterCteSql("f", "w0")},
        ${raterCteSql("h", "w0[1:h]")},
        ${raterCteSql("l", "w0[h+1:n]")},
        r AS (SELECT * FROM af UNION ALL SELECT * FROM ah
          UNION ALL SELECT * FROM al),
        cell AS (SELECT doc_id, cat, CAST(count(*) AS BIGINT) AS cnt
          FROM r GROUP BY 1, 2),
        pi AS (SELECT doc_id, sum(cnt) AS m,
          sum(cnt * (cnt - 1)) AS s_i FROM cell GROUP BY 1),
        kept AS (SELECT doc_id, s_i FROM pi WHERE m = 3),
        g AS (SELECT CAST(count(*) AS BIGINT) AS n_items,
          CAST(coalesce(sum(s_i), 0) AS BIGINT) AS s_sum FROM kept),
        kc AS (SELECT cat, CAST(sum(cnt) AS BIGINT) AS cj FROM cell
          JOIN kept USING (doc_id) GROUP BY 1),
        cc AS (SELECT CAST(coalesce(sum(cj * cj), 0) AS BIGINT) AS c_sq
          FROM kc)
        SELECT n_items, s_sum, c_sq,
          round(CAST(s_sum AS DOUBLE)
            / CAST(n_items * 6 AS DOUBLE), 6) AS p_bar,
          round(CAST(c_sq AS DOUBLE)
            / CAST(n_items * n_items * 9 AS DOUBLE), 6) AS p_e,
          round(CAST(s_sum * n_items * 3 - c_sq * 2 AS DOUBLE)
            / CAST(2 * (n_items * n_items * 9 - c_sq) AS DOUBLE), 6)
            AS kappa
        FROM g CROSS JOIN cc"""))

  /** Krippendorff's alpha of the same panel under CONDITIONAL raters
    * (head needs >= 4 tokens, tail >= 8) — items carry 1–3 ratings,
    * the missing-data case Fleiss drops and alpha is built for. */
  private val l243 = Spec("q378_krippendorff_alpha",
    (s, d) => graft.llm.Eval.krippendorffAlpha(
      raterFrame(s, d, 2, 4, 8), "doc_id", "cat"),
    Some(s"""WITH $ttCteSql,
        ${raterCteSql("f", "w0")},
        ${raterCteSql("h", "w0[1:h]")},
        ${raterCteSql("l", "w0[h+1:n]")},
        r AS (SELECT * FROM af
          UNION ALL SELECT ah.* FROM ah JOIN tt USING (doc_id)
            WHERE tt.n >= 4
          UNION ALL SELECT al.* FROM al JOIN tt USING (doc_id)
            WHERE tt.n >= 8),
        cell AS (SELECT doc_id, cat, CAST(count(*) AS BIGINT) AS cnt
          FROM r GROUP BY 1, 2),
        pi AS (SELECT doc_id, sum(cnt) AS m,
          sum(cnt * cnt) AS sq FROM cell GROUP BY 1),
        pk AS (SELECT doc_id, m, (2 * (m * m - sq)) // (m - 1) AS o2
          FROM pi WHERE m >= 2),
        g AS (SELECT CAST(count(*) AS BIGINT) AS n_items,
          CAST(coalesce(sum(m), 0) AS BIGINT) AS n_ratings,
          CAST(coalesce(sum(o2), 0) AS BIGINT) AS o2_sum FROM pk),
        kc AS (SELECT cat, CAST(sum(cnt) AS BIGINT) AS nc FROM cell
          JOIN pk USING (doc_id) GROUP BY 1),
        cc AS (SELECT CAST(coalesce(sum(nc * nc), 0) AS BIGINT) AS ncsq
          FROM kc)
        SELECT n_items, n_ratings, o2_sum,
          n_ratings * n_ratings - ncsq AS pair_sum,
          CASE WHEN n_ratings * n_ratings - ncsq > 0 THEN
            round(CAST((n_ratings * n_ratings - ncsq) * 2
              - (n_ratings - 1) * o2_sum AS DOUBLE)
              / CAST((n_ratings * n_ratings - ncsq) * 2 AS DOUBLE), 6)
          END AS alpha
        FROM g CROSS JOIN cc"""))

  /** Multiclass MCC of predicted vs recorded language. */
  private val l244 = Spec("q379_mcc_lang_id",
    (s, d) => graft.llm.Eval.mccMulticlass(
      T(s, d, "documents").filter(col("lang").isNotNull)
        .select(col("lang"), Text.langId(col("text")).as("pred")),
      "lang", "pred"),
    Some(s"""WITH t AS (SELECT doc_id, lang, $wordsSql AS words
          FROM documents WHERE lang IS NOT NULL),
        c0 AS (SELECT doc_id, lang, $langCountsSql FROM t),
        pr AS (SELECT lang AS g, $langCaseSql AS p FROM c0),
        conf AS (SELECT g, p, CAST(count(*) AS BIGINT) AS c FROM pr
          GROUP BY 1, 2),
        tg AS (SELECT g AS k, sum(c) AS t FROM conf GROUP BY 1),
        tp AS (SELECT p AS k, sum(c) AS pk FROM conf GROUP BY 1),
        j AS (SELECT coalesce(tg.t, 0) AS t, coalesce(tp.pk, 0) AS pk
          FROM tg FULL OUTER JOIN tp USING (k)),
        a AS (SELECT CAST(sum(t) AS BIGINT) AS s,
          CAST(sum(t * pk) AS BIGINT) AS pt,
          CAST(sum(t * t) AS BIGINT) AS tsq,
          CAST(sum(pk * pk) AS BIGINT) AS psq FROM j),
        co AS (SELECT CAST(coalesce(sum(c), 0) AS BIGINT) AS corr
          FROM conf WHERE g = p)
        SELECT s AS n, corr AS n_correct,
          CAST(corr * 1000000 // s AS BIGINT) AS accuracy_ppm,
          CASE WHEN s * s > psq AND s * s > tsq THEN
            round(CAST(corr * s - pt AS DOUBLE)
              / sqrt(CAST(s * s - psq AS DOUBLE)
                * CAST(s * s - tsq AS DOUBLE)), 6)
          END AS mcc
        FROM a CROSS JOIN co"""))

  /** Gwet's AC1 of the same gold/pred pair over the fixed 6-label
    * space (5 marker languages + 'und'). */
  private val l245 = Spec("q380_gwet_ac1",
    (s, d) => graft.llm.Eval.gwetAc1(
      T(s, d, "documents").filter(col("lang").isNotNull)
        .select(col("lang"), Text.langId(col("text")).as("pred")),
      "lang", "pred", nCategories = 6),
    Some(s"""WITH t AS (SELECT doc_id, lang, $wordsSql AS words
          FROM documents WHERE lang IS NOT NULL),
        c0 AS (SELECT doc_id, lang, $langCountsSql FROM t),
        pr AS (SELECT lang AS g, $langCaseSql AS p FROM c0),
        conf AS (SELECT g, p, CAST(count(*) AS BIGINT) AS c FROM pr
          GROUP BY 1, 2),
        tot AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM conf),
        co AS (SELECT CAST(coalesce(sum(c), 0) AS BIGINT) AS a
          FROM conf WHERE g = p),
        tg AS (SELECT g AS k, sum(c) AS t FROM conf GROUP BY 1),
        tp AS (SELECT p AS k, sum(c) AS pk FROM conf GROUP BY 1),
        w AS (SELECT coalesce(tg.t, 0) + coalesce(tp.pk, 0) AS w
          FROM tg FULL OUTER JOIN tp USING (k)),
        e AS (SELECT CAST(sum(w * (2 * tot.n - w)) AS BIGINT) AS e_sum
          FROM w CROSS JOIN tot)
        SELECT n, a AS n_agree,
          CAST(a * 1000000 // n AS BIGINT) AS p_a_ppm, e_sum,
          round(CAST(a * 5 * 4 * n - e_sum AS DOUBLE)
            / CAST(n * n * 4 * 5 - e_sum AS DOUBLE), 6) AS ac1
        FROM tot CROSS JOIN co CROSS JOIN e"""))

  /** Corpus self-BLEU (bigram modified precision vs rest-of-corpus,
    * leave-one-out clip via the per-gram top-2 trick) — the template-
    * saturation diversity audit, per source. */
  private val l246 = Spec("q390_self_bleu",
    (s, d) => graft.llm.Eval.selfBleu(
      T(s, d, "documents"), "doc_id", "text", "source"),
    Some(s"""WITH t AS (SELECT doc_id, source, $wordsSql AS words
          FROM documents),
        g AS (SELECT doc_id, unnest([array_to_string(words[i+1:i+2], ' ')
          for i in range(CASE WHEN len(words) >= 2 THEN len(words) - 1
          ELSE 0 END)]) AS gram FROM t),
        gc AS (SELECT doc_id, gram, CAST(count(*) AS BIGINT) AS c
          FROM g GROUP BY 1, 2),
        st AS (SELECT gram, max(c) AS m1 FROM gc GROUP BY 1),
        s2 AS (SELECT gc.gram, st.m1,
          CAST(sum(CASE WHEN c = m1 THEN 1 ELSE 0 END) AS BIGINT) AS k,
          CAST(coalesce(max(CASE WHEN c < m1 THEN c END), 0) AS BIGINT)
            AS m2
          FROM gc JOIN st USING (gram) GROUP BY 1, 2),
        pd AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS tot,
          CAST(sum(least(c, CASE WHEN c = m1 AND k = 1 THEN m2
            ELSE m1 END)) AS BIGINT) AS kept
          FROM gc JOIN s2 USING (gram) GROUP BY 1),
        pp AS (SELECT doc_id, kept * 1000000 // tot AS ppm FROM pd)
        SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
          CAST(sum(ppm) // count(*) AS BIGINT) AS self_bleu2_ppm
        FROM pp JOIN (SELECT doc_id, source FROM documents) dd
          USING (doc_id)
        GROUP BY 1"""))

  /** Theil T inequality decomposition of character mass across
    * sources — the decomposable companion to the Gini audits (q180/
    * q303): between-source vs within-source inequality terms. */
  private val l247 = Spec("q391_theil_decomposition",
    (s, d) => graft.engine.Relational.theilDecomposition(
      T(s, d, "documents"), "source", "n_chars"),
    Some("""WITH r AS (SELECT source AS g, CAST(n_chars AS BIGINT) AS x
          FROM documents WHERE n_chars IS NOT NULL AND n_chars > 0),
        bg AS (SELECT g, CAST(count(*) AS BIGINT) AS n_rows,
          CAST(sum(x) AS BIGINT) AS sum_x FROM r GROUP BY 1),
        gl AS (SELECT CAST(sum(n_rows) AS BIGINT) AS nn,
          CAST(sum(sum_x) AS BIGINT) AS xx FROM bg),
        inn AS (SELECT g, CAST(sum(CAST(round(CAST(x AS DOUBLE)
            * ln(CAST(n_rows * x AS DOUBLE) / CAST(sum_x AS DOUBLE))
            * 1000000 / CAST(sum_x AS DOUBLE)) AS BIGINT)) AS BIGINT)
            AS theil_in_micro
          FROM r JOIN bg USING (g) GROUP BY 1)
        SELECT bg.g AS source, n_rows, sum_x,
          CAST(sum_x * 1000000 // xx AS BIGINT) AS share_ppm,
          CAST(round(CAST(sum_x AS DOUBLE) / CAST(xx AS DOUBLE)
            * ln(CAST(nn * sum_x AS DOUBLE)
              / CAST(n_rows * xx AS DOUBLE)) * 1000000) AS BIGINT)
            AS between_term_micro,
          theil_in_micro
        FROM bg JOIN inn USING (g) CROSS JOIN gl"""))

  /** McNemar paired test: stopword lang-ID vs the always-'en' majority
    * baseline on the same documents — the discordant-pair test q208's
    * kappa can't answer ("is the heuristic BETTER than the baseline,
    * given the pairing"). */
  private val l248 = Spec("q399_mcnemar",
    (s, d) => graft.engine.Relational.mcnemarTest(
      T(s, d, "documents").filter(col("lang").isNotNull)
        .select((Text.langId(col("text")) === col("lang"))
          .as("a_correct"),
          (col("lang") === "en").as("b_correct")),
      "a_correct", "b_correct"),
    Some(s"""WITH t AS (SELECT doc_id, lang, $wordsSql AS words
          FROM documents WHERE lang IS NOT NULL),
        c AS (SELECT doc_id, lang, $langCountsSql FROM t),
        p AS (SELECT ($langCaseSql) = lang AS a,
          lang = 'en' AS b FROM c),
        ag AS (SELECT CAST(count(*) AS BIGINT) AS n,
          CAST(sum(CASE WHEN a AND b THEN 1 ELSE 0 END) AS BIGINT)
            AS n_both,
          CAST(sum(CASE WHEN a AND NOT b THEN 1 ELSE 0 END) AS BIGINT)
            AS n_a_only,
          CAST(sum(CASE WHEN NOT a AND b THEN 1 ELSE 0 END) AS BIGINT)
            AS n_b_only,
          CAST(sum(CASE WHEN NOT a AND NOT b THEN 1 ELSE 0 END)
            AS BIGINT) AS n_neither FROM p)
        SELECT n, n_both, n_a_only, n_b_only, n_neither,
          CASE WHEN n_a_only + n_b_only > 0 THEN
            round(CAST((n_a_only - n_b_only) * (n_a_only - n_b_only)
              AS DOUBLE) / (n_a_only + n_b_only), 6) END AS chi2,
          CASE WHEN n_a_only + n_b_only > 0 THEN
            round(CAST(greatest(abs(n_a_only - n_b_only) - 1, 0)
              * greatest(abs(n_a_only - n_b_only) - 1, 0) AS DOUBLE)
              / (n_a_only + n_b_only), 6) END AS chi2_cc
        FROM ag"""))

  /** ERR@10 with same-label binary relevance — the cascade-model
    * companion to q262's nDCG on the identical top-k frame. */
  private val l249 = Spec("q405_err",
    (s, d) => {
      val emb = T(s, d, "embeddings")
      graft.llm.Eval.errAtK(emb, emb.filter(col("vec_id") < 8),
        "vec_id", "embedding", "label", "vec_id", k = 10)
    },
    Some(s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qv,
          label AS ql FROM embeddings WHERE vec_id < 8),
        s AS (SELECT q.query_id, q.ql, c.vec_id AS nid, c.label AS nl,
          ${cosSql("q.qv", "c.embedding")} AS cos
          FROM q CROSS JOIN embeddings c WHERE c.vec_id != q.query_id),
        r AS (SELECT *, row_number() OVER (PARTITION BY query_id
          ORDER BY cos DESC, nid) AS rank FROM s),
        top AS (SELECT query_id, rank,
          CASE WHEN nl = ql THEN 1 ELSE 0 END AS rel
          FROM r WHERE rank <= 10),
        rb AS (SELECT query_id, rank, rel,
          coalesce(sum(rel) OVER (PARTITION BY query_id ORDER BY rank
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
            AS relbefore FROM top),
        tm AS (SELECT query_id, rel,
          CASE WHEN rel = 1 THEN CAST(round(1000000
            * pow(0.5, relbefore + 1) / rank) AS BIGINT)
            ELSE 0 END AS term FROM rb),
        a AS (SELECT query_id, CAST(sum(rel) AS BIGINT) AS n_rel_topk,
          CAST(sum(term) AS BIGINT) AS err_micro FROM tm GROUP BY 1)
        SELECT q.query_id,
          coalesce(n_rel_topk, 0) AS n_rel_topk,
          coalesce(err_micro, 0) AS err_micro
        FROM q LEFT JOIN a USING (query_id)"""))

  /** TextRank keyword extraction (Mihalcea & Tarau, EMNLP 2004):
    * 3-round integer-ppm PageRank over the adjacent-token
    * co-occurrence graph, top-25 terms — the unsupervised keyword
    * readout composed from the engine's own graph machinery. */
  private val l250 = Spec("q407_textrank",
    (s, d) => {
      val toks = T(s, d, "documents").filter(col("text").isNotNull)
        .select(col("doc_id"),
          posexplode(Text.tokens(col("text"))).as(Seq("__p", "__w")))
      val adj = toks.select(col("doc_id"), col("__p"),
          col("__w").as("wa"))
        .join(toks.select(col("doc_id"), (col("__p") - 1).as("__p"),
          col("__w").as("wb")), Seq("doc_id", "__p"))
        .filter(col("wa") =!= col("wb"))
      val und = adj.select(col("wa").as("src"), col("wb").as("dst"))
        .unionByName(adj.select(col("wb").as("src"),
          col("wa").as("dst")))
      graft.engine.Graph.pageRankPpm(und, "src", "dst", iters = 3)
        .orderBy(col("rank").desc, col("id")).limit(25)
        .select(col("id").as("term"), col("rank"))
    },
    Some(s"""WITH t AS (SELECT doc_id, $wordsSql AS words
          FROM documents WHERE text IS NOT NULL),
        pos AS (SELECT doc_id, unnest(words) AS w,
          unnest(range(len(words))) AS p FROM t),
        ad AS (SELECT a.w AS wa, b.w AS wb FROM pos a
          JOIN pos b ON b.doc_id = a.doc_id AND b.p = a.p + 1
          WHERE a.w <> b.w),
        e AS (SELECT DISTINCT src, dst FROM (SELECT wa AS src, wb AS dst
          FROM ad UNION ALL SELECT wb, wa FROM ad)),
        nodes AS (SELECT src AS id FROM e UNION SELECT dst FROM e),
        deg AS (SELECT src, count(*) AS outdeg FROM e GROUP BY 1),
        r0 AS (SELECT id, CAST(1000000 AS BIGINT) AS rank FROM nodes),
        c1 AS (SELECT dst AS id, CAST(sum(rank // outdeg) AS BIGINT) AS s
          FROM e JOIN deg USING (src) JOIN r0 ON r0.id = e.src
          GROUP BY dst),
        r1 AS (SELECT n.id, 150000 + (85 * coalesce(s, 0)) // 100 AS rank
          FROM nodes n LEFT JOIN c1 USING (id)),
        c2 AS (SELECT dst AS id, CAST(sum(rank // outdeg) AS BIGINT) AS s
          FROM e JOIN deg USING (src) JOIN r1 ON r1.id = e.src
          GROUP BY dst),
        r2 AS (SELECT n.id, 150000 + (85 * coalesce(s, 0)) // 100 AS rank
          FROM nodes n LEFT JOIN c2 USING (id)),
        c3 AS (SELECT dst AS id, CAST(sum(rank // outdeg) AS BIGINT) AS s
          FROM e JOIN deg USING (src) JOIN r2 ON r2.id = e.src
          GROUP BY dst),
        r3 AS (SELECT n.id, 150000 + (85 * coalesce(s, 0)) // 100 AS rank
          FROM nodes n LEFT JOIN c3 USING (id))
        SELECT id AS term, rank FROM r3
        ORDER BY rank DESC, term LIMIT 25"""))

  /** Entropy rate of the q156 empirical chain (6-round stationary
    * weights) — "is the event stream predictable enough to bother
    * with a sequence model". */
  private val l251 = Spec("q408_markov_entropy", {
    val steps = 6
    (s, d) => graft.engine.Windows.markovEntropyRate(
      T(s, d, "events"), "user_id", "ts", "event_type",
      Seq("event_id"), steps = steps)
  }, Some {
    val steps = 6
    val rounds = (1 to steps).map { k =>
      s"""f$k AS (SELECT pt.to_state AS state,
          CAST(sum(pt.p_ppm * p${k - 1}.pi) AS BIGINT) AS s
          FROM pt JOIN p${k - 1} ON p${k - 1}.state = pt.from_state
          GROUP BY 1),
        p$k AS (SELECT st.state, coalesce(f$k.s, 0) // 1000000 AS pi
          FROM states st LEFT JOIN f$k USING (state))"""
    }.mkString(",\n        ")
    s"""WITH $chainOracleBase,
        nn AS (SELECT count(*) AS n FROM states),
        p0 AS (SELECT state, 1000000 // nn.n AS pi
          FROM states CROSS JOIN nn),
        $rounds,
        h AS (SELECT from_state AS state,
          CAST(sum(CAST(round(CAST(p_ppm AS DOUBLE)
            * ln(1000000.0 / p_ppm)) AS BIGINT)) AS BIGINT)
            AS h_state_micro
          FROM pt WHERE p_ppm > 0 GROUP BY 1),
        ps AS (SELECT p$steps.state, CAST(p$steps.pi AS BIGINT)
            AS pi_ppm,
          coalesce(h.h_state_micro, 0) AS h_state_micro
          FROM p$steps LEFT JOIN h USING (state)),
        tot AS (SELECT CAST(coalesce(sum(CAST(round(
            CAST(pi_ppm AS DOUBLE) * h_state_micro / 1000000)
            AS BIGINT)), 0) AS BIGINT) AS entropy_rate_micro FROM ps)
        SELECT state, pi_ppm, h_state_micro, entropy_rate_micro
        FROM ps CROSS JOIN tot"""
  })

  /** Dunning G² keyness per language over the q158 doc-frequency
    * table — the calibrated-at-small-counts companion to the χ²
    * ranking on the identical plan. */
  private val l252 = Spec("q409_dunning_g2",
    (s, d) => graft.llm.Lexical.dunningG2Terms(T(s, d, "documents"),
      "doc_id", "text", "lang", minDf = 5L, k = 10),
    Some(s"""WITH t AS (SELECT doc_id, lang AS label, $wordsSql AS words
          FROM documents),
        dt AS (SELECT doc_id, label, unnest(list_distinct(words)) AS term
          FROM t),
        tl AS (SELECT term, label, count(*) AS a FROM dt GROUP BY 1, 2),
        tdf AS (SELECT term, CAST(sum(a) AS BIGINT) AS df FROM tl
          GROUP BY 1 HAVING sum(a) >= 5),
        lnn AS (SELECT lang AS label, count(*) AS nl FROM documents
          GROUP BY 1),
        tot AS (SELECT count(*) AS n FROM documents),
        cts AS (SELECT tl.label, tl.term, a, df, df - a AS b,
          nl - a AS c, n - df - (nl - a) AS d, nl, n
          FROM tl JOIN tdf USING (term) JOIN lnn ON lnn.label = tl.label
          CROSS JOIN tot),
        g AS (SELECT label, term, a, df,
          (CASE WHEN a > 0 THEN CAST(round(2000000 * a
            * ln(CAST(a AS DOUBLE) * n / (CAST(df AS DOUBLE) * nl)))
            AS BIGINT) ELSE 0 END
          + CASE WHEN b > 0 THEN CAST(round(2000000 * b
            * ln(CAST(b AS DOUBLE) * n / (CAST(df AS DOUBLE)
              * (n - nl)))) AS BIGINT) ELSE 0 END
          + CASE WHEN c > 0 THEN CAST(round(2000000 * c
            * ln(CAST(c AS DOUBLE) * n / (CAST(n - df AS DOUBLE)
              * nl))) AS BIGINT) ELSE 0 END
          + CASE WHEN d > 0 THEN CAST(round(2000000 * d
            * ln(CAST(d AS DOUBLE) * n / (CAST(n - df AS DOUBLE)
              * (n - nl)))) AS BIGINT) ELSE 0 END) AS g2_micro
          FROM cts),
        r AS (SELECT *, row_number() OVER (PARTITION BY label
          ORDER BY g2_micro DESC, term) AS rank FROM g)
        SELECT label, term, CAST(a AS BIGINT) AS n_label_docs, df,
          g2_micro, CAST(rank AS INT) AS rank
        FROM r WHERE rank <= 10"""))

  /** Four-fifths-rule disparate-impact audit of the length filter
    * (n_chars >= 200) across languages — does the cheap curation
    * filter drop one language's documents disproportionately. */
  private val l253 = Spec("q410_disparate_impact",
    (s, d) => graft.engine.Relational.disparateImpact(
      T(s, d, "documents").filter(col("n_chars").isNotNull)
        .select(col("lang"), (col("n_chars") >= 200).as("passed")),
      "lang", "passed"),
    Some("""WITH r AS (SELECT lang AS grp,
          CASE WHEN n_chars >= 200 THEN 1 ELSE 0 END AS p
          FROM documents WHERE lang IS NOT NULL
            AND n_chars IS NOT NULL),
        bg AS (SELECT grp, CAST(count(*) AS BIGINT) AS n,
          CAST(sum(p) AS BIGINT) AS n_pass FROM r GROUP BY 1),
        rf AS (SELECT grp AS ref_group, n AS ref_n, n_pass AS ref_np
          FROM bg a WHERE NOT EXISTS (SELECT 1 FROM bg b
            WHERE CAST(b.n_pass AS HUGEINT) * a.n
              > CAST(a.n_pass AS HUGEINT) * b.n)
          ORDER BY grp LIMIT 1)
        SELECT grp AS "group", n, n_pass,
          CAST(n_pass * 1000000 // n AS BIGINT) AS rate_ppm,
          ref_group,
          CASE WHEN ref_np > 0 THEN
            CAST(CAST(n_pass AS HUGEINT) * ref_n * 1000000
              // (CAST(n AS HUGEINT) * ref_np) AS BIGINT) END AS di_ppm,
          CASE WHEN ref_np > 0 THEN
            CAST(CAST(n_pass AS HUGEINT) * ref_n * 1000000
              // (CAST(n AS HUGEINT) * ref_np) AS BIGINT) < 800000
          END AS below_80pct
        FROM bg CROSS JOIN rf"""))

  /** Characteristic-function drift of the n_chars distribution,
    * English vs the rest, at four probe frequencies — the
    * Epps–Singleton evidence for discrete-lattice drift. */
  private val l254 = Spec("q411_cf_drift",
    (s, d) => graft.engine.Relational.cfDrift(
      T(s, d, "documents").select(col("lang"), col("n_chars")),
      "lang", "en", "n_chars", ks = Seq(1, 2, 5, 10)),
    Some("""WITH r AS (SELECT lang = 'en' AS a,
          CAST(n_chars AS BIGINT) AS x FROM documents
          WHERE n_chars IS NOT NULL AND lang IS NOT NULL),
        e AS (SELECT a, x, k FROM r
          CROSS JOIN (SELECT unnest([1, 2, 5, 10]) AS k)),
        m AS (SELECT k AS k_centi, a,
          CAST(round(cos(x * k / 100) * 1000000) AS BIGINT) AS c,
          CAST(round(sin(x * k / 100) * 1000000) AS BIGINT) AS s
          FROM e),
        g AS (SELECT k_centi,
          CAST(sum(CASE WHEN a THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
          CAST(sum(CASE WHEN a THEN 0 ELSE 1 END) AS BIGINT) AS n_b,
          CAST(sum(CASE WHEN a THEN c ELSE 0 END) AS BIGINT) AS ca,
          CAST(sum(CASE WHEN a THEN 0 ELSE c END) AS BIGINT) AS cb,
          CAST(sum(CASE WHEN a THEN s ELSE 0 END) AS BIGINT) AS sa,
          CAST(sum(CASE WHEN a THEN 0 ELSE s END) AS BIGINT) AS sb
          FROM m GROUP BY 1),
        dd AS (SELECT k_centi, n_a, n_b,
          CAST(round(CAST(ca AS DOUBLE) / n_a
            - CAST(cb AS DOUBLE) / n_b) AS BIGINT) AS dcos_micro,
          CAST(round(CAST(sa AS DOUBLE) / n_a
            - CAST(sb AS DOUBLE) / n_b) AS BIGINT) AS dsin_micro
          FROM g WHERE n_a > 0 AND n_b > 0)
        SELECT k_centi, n_a, n_b, dcos_micro, dsin_micro,
          CAST(CAST(dcos_micro AS HUGEINT) * dcos_micro
            + CAST(dsin_micro AS HUGEINT) * dsin_micro AS BIGINT)
            AS cf_dist2
        FROM dd"""))

  /** Benjamini–Yekutieli step-up on the q286 pseudo-p column — the
    * arbitrary-dependence FDR gate, row-diffable against BH/Holm. */
  private val l255 = Spec("q416_by_fdr",
    (s, d) => graft.engine.Relational.byFdr(
      errorPValues(s, d), "event_id", "p", alphaPct = 20),
    Some(s"""$errorPSql,
        m AS (SELECT count(*) AS m FROM t),
        h AS (SELECT m, CAST(sum(1000000 // i.i) AS BIGINT) AS hm
          FROM m CROSS JOIN (SELECT unnest(range(1,
            (SELECT m FROM m) + 1)) AS i) i GROUP BY m),
        ${rankedPSql("")},
        c AS (SELECT r.*, CAST(rank AS DOUBLE) * CAST(20 AS DOUBLE)
          * 10000 / (CAST(h.m AS DOUBLE) * CAST(h.hm AS DOUBLE))
          AS crit FROM r CROSS JOIN h),
        k AS (SELECT *, max(CASE WHEN p <= crit THEN rank ELSE 0 END)
          OVER () AS kstar FROM c)
        SELECT id, p, rank, round(crit, 6) AS crit,
          rank <= kstar AS discovery FROM k"""))

  /** Cochran's Q of the 3-view "is English" binary panel — do the
    * full/head/tail lang-ID views differ in pass rate on the same
    * documents (the k-treatment McNemar over the q377 rater frame). */
  private val l256 = Spec("q429_cochran_q",
    (s, d) => graft.engine.Relational.cochranQ(
      raterFrame(s, d, 2, 2, 2)
        .withColumn("succ", col("cat") === "en"),
      "doc_id", "rater", "succ"),
    Some(s"""WITH $ttCteSql,
        ${raterCteSql("f", "w0")},
        ${raterCteSql("h", "w0[1:h]")},
        ${raterCteSql("l", "w0[h+1:n]")},
        r AS (SELECT doc_id, 'full' AS tr,
            CASE WHEN cat = 'en' THEN 1 ELSE 0 END AS s FROM af
          UNION ALL SELECT doc_id, 'head',
            CASE WHEN cat = 'en' THEN 1 ELSE 0 END FROM ah
          UNION ALL SELECT doc_id, 'tail',
            CASE WHEN cat = 'en' THEN 1 ELSE 0 END FROM al),
        cell AS (SELECT doc_id, tr, CAST(max(s) AS BIGINT) AS s
          FROM r GROUP BY 1, 2),
        kk AS (SELECT CAST(count(DISTINCT tr) AS BIGINT) AS k
          FROM cell),
        pi AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS m,
          CAST(sum(s) AS BIGINT) AS rr FROM cell GROUP BY 1),
        kept AS (SELECT doc_id, rr FROM pi CROSS JOIN kk WHERE m = k),
        rows_ AS (SELECT CAST(count(*) AS BIGINT) AS n_items,
          CAST(coalesce(sum(rr), 0) AS BIGINT) AS n_success,
          coalesce(sum(CAST(rr AS HUGEINT) * rr), 0) AS sr2 FROM kept),
        cols_ AS (SELECT coalesce(sum(CAST(cj AS HUGEINT) * cj), 0)
            AS sc2
          FROM (SELECT tr, CAST(sum(s) AS BIGINT) AS cj FROM cell
            JOIN kept USING (doc_id) GROUP BY 1)),
        dn AS (SELECT *, CAST(k AS HUGEINT) * n_success - sr2 AS den
          FROM rows_ CROSS JOIN cols_ CROSS JOIN kk)
        SELECT n_items, k, n_success,
          CASE WHEN den > 0 THEN round(CAST(CAST(k - 1 AS HUGEINT)
            * (CAST(k AS HUGEINT) * sc2
              - CAST(n_success AS HUGEINT) * n_success) AS DOUBLE)
            / CAST(den AS DOUBLE), 6) END AS q_stat
        FROM dn"""))

  /** RBP@10 (persistence 4/5) with same-label binary relevance on the
    * q405 top-k frame — the position-weighted companion to ERR whose
    * exact rational weights never touch a float. */
  private val l257 = Spec("q434_rbp",
    (s, d) => {
      val emb = T(s, d, "embeddings")
      graft.llm.Eval.rbpAtK(emb, emb.filter(col("vec_id") < 8),
        "vec_id", "embedding", "label", "vec_id", k = 10)
    },
    Some(s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qv,
          label AS ql FROM embeddings WHERE vec_id < 8),
        s AS (SELECT q.query_id, q.ql, c.vec_id AS nid, c.label AS nl,
          ${cosSql("q.qv", "c.embedding")} AS cos
          FROM q CROSS JOIN embeddings c WHERE c.vec_id != q.query_id),
        r AS (SELECT *, row_number() OVER (PARTITION BY query_id
          ORDER BY cos DESC, nid) AS rank FROM s),
        top AS (SELECT query_id, rank,
          CASE WHEN nl = ql THEN 1 ELSE 0 END AS rel
          FROM r WHERE rank <= 10),
        tm AS (SELECT query_id, rel,
          CAST(round(1000000 * pow(4, rank - 1)) AS BIGINT)
            // CAST(round(pow(5, rank)) AS BIGINT) AS w FROM top),
        a AS (SELECT query_id, CAST(sum(rel) AS BIGINT) AS n_rel_topk,
          CAST(sum(rel * w) AS BIGINT) AS rbp_micro FROM tm GROUP BY 1)
        SELECT q.query_id,
          coalesce(n_rel_topk, 0) AS n_rel_topk,
          coalesce(rbp_micro, 0) AS rbp_micro
        FROM q LEFT JOIN a USING (query_id)"""))

  /** Corpus lexical-richness report (Yule's K, lexical Simpson's D,
    * Herdan's C, TTR) from the term frequency spectrum. */
  private val l258 = Spec("q436_lexical_richness",
    (s, d) => graft.llm.Lexical.lexicalRichness(
      T(s, d, "documents"), "text"),
    Some(s"""WITH t AS (SELECT $wordsSql AS words FROM documents
          WHERE text IS NOT NULL),
        w AS (SELECT unnest(words) AS w FROM t),
        tc AS (SELECT w, CAST(count(*) AS BIGINT) AS m FROM w
          GROUP BY 1),
        sp AS (SELECT m, CAST(count(*) AS BIGINT) AS vm FROM tc
          GROUP BY 1),
        a AS (SELECT
          CAST(coalesce(sum(m * vm), 0) AS BIGINT) AS n_tokens,
          CAST(coalesce(sum(vm), 0) AS BIGINT) AS n_types,
          coalesce(sum(CAST(m AS HUGEINT) * m * vm), 0) AS s2 FROM sp)
        SELECT n_tokens, n_types,
          CASE WHEN n_tokens > 0 THEN n_types * 1000000 // n_tokens
            END AS ttr_ppm,
          CASE WHEN n_tokens >= 2 THEN CAST(((s2 - n_tokens) * 1000000)
            // (CAST(n_tokens AS HUGEINT) * (n_tokens - 1)) AS BIGINT)
            END AS simpson_micro,
          CASE WHEN n_tokens > 0 THEN
            round(CAST(s2 - n_tokens AS DOUBLE) * 10000
              / (CAST(n_tokens AS DOUBLE) * CAST(n_tokens AS DOUBLE)),
              6) END AS yules_k,
          CASE WHEN n_tokens > 1 AND n_types > 0 THEN
            round(ln(CAST(n_types AS DOUBLE))
              / ln(CAST(n_tokens AS DOUBLE)), 6) END AS herdan_c
        FROM a"""))

  /** RAKE keyword extraction: top-20 stopword-free phrases by summed
    * deg/freq word scores (TextRank's iteration-free baseline). */
  private val l259 = Spec("q437_rake_keywords",
    (s, d) => graft.llm.Lexical.rakeKeywords(
      T(s, d, "documents"), "doc_id", "text",
      Text.stopwords("en"), topK = 20),
    Some(s"""WITH t AS (SELECT doc_id, $wordsSql AS words
          FROM documents WHERE text IS NOT NULL),
        p AS (SELECT doc_id, unnest(words) AS w,
          unnest(range(1, len(words) + 1)) AS i FROM t),
        m AS (SELECT doc_id, w, i, CASE WHEN w IN ('the', 'a', 'of',
          'and', 'to', 'in', 'is', 'it') THEN 1 ELSE 0 END AS stop
          FROM p),
        g AS (SELECT *, sum(stop) OVER (PARTITION BY doc_id
          ORDER BY i) AS grp FROM m),
        ph AS (SELECT doc_id, grp,
          string_agg(w, ' ' ORDER BY i) AS phrase,
          CAST(count(*) AS BIGINT) AS len
          FROM g WHERE stop = 0 GROUP BY 1, 2),
        iw AS (SELECT len, unnest(string_split(phrase, ' ')) AS w
          FROM ph),
        wsc AS (SELECT w, CAST(sum(len) AS BIGINT) * 1000000
            // CAST(count(*) AS BIGINT) AS s
          FROM iw GROUP BY 1),
        pc AS (SELECT phrase, CAST(count(*) AS BIGINT)
            AS n_occurrences FROM ph GROUP BY 1),
        pw AS (SELECT phrase, unnest(string_split(phrase, ' ')) AS w
          FROM pc),
        sc AS (SELECT phrase, CAST(sum(s) AS BIGINT) AS score_micro
          FROM pw JOIN wsc USING (w) GROUP BY 1)
        SELECT pc.phrase, n_occurrences, score_micro
        FROM pc JOIN sc USING (phrase)
        ORDER BY score_micro DESC, pc.phrase LIMIT 20"""))

  /** Quadratic-weighted Cohen's kappa of each vector's label against
    * its id-successor's label — the ordinal-agreement member of the
    * q377–q380 family (off-by-two is worse than off-by-one). */
  private val l260 = Spec("q444_weighted_kappa",
    (s, d) => {
      val e = T(s, d, "embeddings").select(col("vec_id"), col("label"))
      val pred = e.select((col("vec_id") - 1).as("vec_id"),
        col("label").as("pred"))
      graft.llm.Eval.weightedKappa(e.join(pred, Seq("vec_id")),
        "label", "pred")
    },
    Some("""WITH r AS (SELECT a.label AS g, b.label AS p
          FROM embeddings a JOIN embeddings b
            ON b.vec_id = a.vec_id + 1),
        c AS (SELECT CAST(g AS BIGINT) AS g, CAST(p AS BIGINT) AS p,
          CAST(count(*) AS BIGINT) AS c FROM r GROUP BY 1, 2),
        nn AS (SELECT CAST(coalesce(sum(c), 0) AS BIGINT) AS n FROM c),
        wo AS (SELECT coalesce(sum(CAST(g - p AS HUGEINT) * (g - p)
          * c), 0) AS wo FROM c),
        mg AS (SELECT g, CAST(sum(c) AS BIGINT) AS r FROM c
          GROUP BY 1),
        mp AS (SELECT p, CAST(sum(c) AS BIGINT) AS q FROM c
          GROUP BY 1),
        we AS (SELECT coalesce(sum(CAST(mg.g - mp.p AS HUGEINT)
          * (mg.g - mp.p) * mg.r * mp.q), 0) AS we
          FROM mg CROSS JOIN mp)
        SELECT n, CAST(wo AS BIGINT) AS wo_sum,
          CAST(we AS BIGINT) AS we_sum,
          CASE WHEN we > 0 THEN round(1.0 - CAST(n AS DOUBLE)
            * CAST(wo AS DOUBLE) / CAST(we AS DOUBLE), 6) END
            AS kappa_w
        FROM nn CROSS JOIN wo CROSS JOIN we"""))

  val specs: Vector[Spec] = Vector(l1, l2, l3, l4, l5, l6, l7, l8, l9, l9b,
    l10, l11, l12, l13, l14, l15, l16, l17, l18, l19, l20, l21, l22, l23,
    l24, l25, l26, l27, l28, l29, l30, l31, l32, l33, l34, l35, l36, l37,
    l38, l39, l40, l41, l42, l43, l44, l45, l46, l47, l48, l49, l50, l51,
    l52, l53, l54, l55, l56, l57, l58, l59, l60, l61, l62, l63,
    l64, l65, l66, l67, l68, l69, l70, l71, l72, l73, l74, l75,
    l76, l77, l78, l79, l80, l81, l82, l83, l84, l85, l86, l87, l88,
    l89, l90, l91, l92, l93, l94, l95, l96, l97, l98, l99, l100, l101,
    l102, l103, l104, l105, l106, l107, l108, l109, l110, l111, l112,
    l113, l114, l115, l116, l117, l118, l119, l120, l121, l122, l123,
    l124, l125, l126, l127, l128, l129, l130, l131, l132, l133, l134,
    l135, l136, l137, l138, l139, l140, l141, l142, l143, l144,
    l145, l146, l147, l148, l149, l150, l151, l152, l153, l154, l155,
    l156, l157, l158, l159, l160, l161, l162, l163, l164, l165,
    l166, l167, l168, l169, l170, l171, l172, l173, l174, l175,
    l176, l177, l178, l179, l180, l181, l182, l183, l184, l185,
    l186, l187, l188, l189, l190, l191, l192, l193, l194, l195,
    l196, l197, l198, l199, l200, l201, l202, l203, l204, l205,
    l206, l207, l208, l209, l210, l211, l212, l213, l214, l215, l216,
    l217, l218, l219, l220, l221, l222, l223, l224, l225, l226, l227,
    l228, l229, l230, l231, l232, l233, l234, l235, l236, l237,
    l238, l239, l240, l241, l242, l243, l244, l245, l246, l247, l248,
    l249, l250, l251, l252, l253, l254, l255, l256, l257, l258, l259, l260)
}

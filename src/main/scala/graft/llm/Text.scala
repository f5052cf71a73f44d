package graft.llm

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import graft.functions.PolyHash.polyhash

/** Text-analysis operators for large-scale training-data pipelines:
  * tokenization, language ID, quality scoring, token counting, document
  * fingerprinting. All pure Column expressions (no UDFs) — every operator
  * is a single narrow projection over the corpus, so a 100 TB text scan
  * stays one whole-stage-codegen'd pass with full column pruning.
  *
  * Every function has a closed-form ANSI-SQL equivalent (the DuckDB oracle
  * in SparkEntry.oracleSql), which is why hashing is polyhash (graft's
  * portable hash) and regexes stick to dialect-neutral character classes.
  */
object Text {

  /** Unicode NFC canonical composition ([[graft.functions.NfcNormalize]]):
    * fold combining sequences to precomposed codepoints BEFORE hashing or
    * dedup, so canonically-equivalent byte sequences can't masquerade as
    * distinct documents. ASCII passes through zero-copy.
    */
  def nfc(text: Column): Column =
    graft.functions.NfcNormalize.nfcNormalize(text)

  /** Whitespace tokens of the normalized text (lowercased, every
    * non-alphanumeric a space; empty strings dropped). Native one-scan
    * tokenizer ([[graft.functions.Tokens]]); identical (property-tested)
    * to `filter(split(trim(regexp_replace(lower(text), "[^a-z0-9 ]",
    * " ")), " +"), _ =!= "")`, whose filter HOF ran interpreted on every
    * corpus pass.
    */
  def tokens(text: Column): Column =
    graft.functions.Tokens.tokens(text)

  /** Whitespace token count — counting scan, no token array materialized. */
  def tokenCount(text: Column): Column =
    graft.functions.TokenCount.tokenCount(text)

  /** BPE-ish subword count: runs of letters, runs of digits, runs of other
    * non-space symbols each count as one token — the standard pre-tokenizer
    * shape (GPT-2-style regex simplified to disjoint classes, no
    * lookarounds). The whitespace class is spelled out explicitly instead
    * of `\s` because Java regex includes \x0B in \s and RE2 (DuckDB's
    * engine) does not — the explicit class matches identically on both.
    */
  val subwordPattern = "[a-z]+|[0-9]+|[^a-z0-9 \t\n\f\r]+"
  def subwordCount(text: Column): Column =
    // regexp_count, not size(regexp_extract_all(...)): counting avoids
    // materializing every match as a string (measured 5× on the corpus scan)
    regexp_count(lower(text), lit(subwordPattern)).cast("int")

  /** Word n-grams (shingles) of the token array. Guarded: Spark `sequence`
    * DESCENDS when start > stop, so a doc shorter than n words must yield
    * an empty shingle list, not a broken descending index range. Null
    * input propagates to null (matching the native [[graft.functions
    * .ShingleHashes]] expression's null contract).
    */
  def ngrams(toks: Column, n: Int): Column =
    when(toks.isNull, lit(null).cast("array<string>"))
      .when(size(toks) >= n,
        transform(sequence(lit(0), size(toks) - n),
          i => array_join(slice(toks, i + 1, lit(n)), " ")))
      .otherwise(array().cast("array<string>"))

  /** Shingle hash set: polyhash of each word n-gram, distinct. The dedup
    * operators build on this (minhash base, jaccard sets).
    *
    * PERF: `ngrams` references its token argument 4× (guard, sequence,
    * slice) — pass a pre-materialized token ATTRIBUTE via
    * [[shingleHashesFromTokens]] in hot paths, or tokenization (regex
    * replace + split) runs 4× per row.
    */
  def shingleHashesFromTokens(toks: Column, n: Int): Column =
    array_distinct(transform(ngrams(toks, n), s => polyhash(s)))

  def shingleHashes(text: Column, n: Int): Column =
    shingleHashesFromTokens(tokens(text), n)

  /** Small per-language stopword marker lists for the n-gram-free heuristic
    * language ID. Deliberately tiny + public-knowledge common words.
    */
  val stopwords: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "a", "of", "and", "to", "in", "is", "it"),
    "de" -> Seq("der", "die", "und", "das", "ist", "nicht", "ein", "zu"),
    "fr" -> Seq("le", "la", "et", "les", "des", "est", "un", "dans"),
    "es" -> Seq("el", "los", "las", "es", "un", "una", "que", "y"),
    "zh" -> Seq("de", "shi", "le", "bu", "wo", "zai", "you", "ni"))

  /** Count of tokens belonging to a marker list. Native counting pass
    * ([[graft.functions.StopwordCount]]) — beyond skipping the interpreted
    * `size(filter(isin))` chain, a codegen'd leaf participates in
    * whole-stage common-subexpression elimination, which the language-ID
    * CASE chain needs (each count is referenced ~7×; the HOF form
    * re-scanned the token array per reference).
    */
  def stopwordCount(toks: Column, words: Seq[String]): Column =
    graft.functions.StopwordCount.stopwordCount(toks, words)

  /** Heuristic language ID: the language with the highest marker count,
    * ties broken by a fixed priority chain (en > de > fr > es > zh) so the
    * result is deterministic and ANSI-SQL-replicable as a CASE chain.
    *
    * PERF: takes a pre-materialized token array — the CASE chain references
    * it ~15 times, and tokenization is regex work that must not be cloned
    * per reference (HOF projections don't codegen, so nothing dedupes).
    */
  def langIdFromTokens(toks: Column): Column = {
    val order = Seq("en", "de", "fr", "es", "zh")
    val counts = order.map(l => l -> stopwordCount(toks, stopwords(l)))
    counts.foldRight(lit("und"): Column) { case ((l, c), rest) =>
      when(counts.map(_._2).reduce(greatest(_, _)) === c && c > 0, l)
        .otherwise(rest)
    }
  }

  def langId(text: Column): Column = langIdFromTokens(tokens(text))

  /** Mixed-language document detection — the curation gate between
    * clean language ID ([[langIdFromTokens]], which reports only the
    * winner) and the reality of web text (boilerplate in one language
    * wrapping content in another, code-switched forums). Reports the
    * primary and strongest secondary language by marker count (same
    * first-listed-wins tie-break as langId) and flags `mixed` when the
    * secondary reaches `ratioPct`% of the primary's markers. One
    * projection pass — the counts are codegen'd leaves shared across
    * the CASE chains by whole-stage CSE, the langId discipline.
    */
  def langMixture(docs: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, ratioPct: Int): org.apache.spark.sql.DataFrame = {
    require(ratioPct >= 1 && ratioPct <= 100,
      s"ratioPct must be in [1, 100], got $ratioPct")
    val order = Seq("en", "de", "fr", "es", "zh")
    val withCounts = docs
      .select(col(idCol), tokens(col(textCol)).as("__toks"))
      .select(col(idCol) +: order.map(l =>
        stopwordCount(col("__toks"), stopwords(l)).cast("int")
          .as(s"c_$l")): _*)
    val cnt = order.map(l => col(s"c_$l"))
    val maxAll = cnt.reduce(greatest(_, _))
    val primary = order.zip(cnt).foldRight(lit("und"): Column) {
      case ((l, c), rest) => when(maxAll === c && c > 0, l).otherwise(rest)
    }
    val masked = order.zip(cnt).map { case (l, c) =>
      when(lit(l) === primary, lit(-1)).otherwise(c)
    }
    val maxSec = masked.reduce(greatest(_, _))
    val secondary = order.zip(masked).foldRight(lit("und"): Column) {
      case ((l, m), rest) => when(maxSec === m && m > 0, l).otherwise(rest)
    }
    withCounts
      .withColumn("primary_lang", primary)
      .withColumn("n_primary",
        when(primary =!= "und", maxAll).otherwise(0))
      .withColumn("secondary_lang", secondary)
      .withColumn("n_secondary",
        when(secondary =!= "und", maxSec).otherwise(0))
      .withColumn("mixed", col("n_primary") > 0 &&
        col("n_secondary") * 100 >= col("n_primary") * ratioPct)
      .drop(order.map(l => s"c_$l"): _*)
  }

  /** Quality-score feature bundle (length / punctuation / stopword ratios,
    * mean word length) over `text` and its tokens `toks`, the inputs of
    * the bounded composite score in [0, 1] ([[qualityScoreFromTokens]]).
    * The exact blend is a heuristic; what matters at scale is that it is
    * one projection pass.
    */
  def qualityFeaturesFromTokens(text: Column,
      toks: Column): Seq[(String, Column)] = {
    val nChars = length(text).cast("double")
    val nToks = size(toks).cast("double")
    val sumLen = graft.functions.StrArrayLenSum.strArrayLenSum(toks)
    // lower() first — [^a-z0-9 ] on raw text would count every UPPERCASE
    // letter as punctuation and zero the quality score of capitalized docs
    val punct = length(text) -
      length(regexp_replace(lower(text), "[^a-z0-9 ]", ""))
    val stops = stopwordCount(toks, stopwords("en")).cast("double")
    Seq(
      "n_chars" -> nChars,
      "n_tokens" -> nToks,
      "mean_word_len" -> when(nToks > 0, sumLen.cast("double") / nToks),
      "punct_ratio" -> when(nChars > 0, punct.cast("double") / nChars),
      "stopword_ratio" -> when(nToks > 0, stops / nToks))
  }

  def qualityScoreFromTokens(text: Column, toks: Column): Column = {
    val f = qualityFeaturesFromTokens(text, toks).toMap
    val lenScore = least(f("n_tokens") / 100d, lit(1d))
    val punctScore = lit(1d) - least(f("punct_ratio") * 5d, lit(1d))
    val stopScore = least(f("stopword_ratio") * 4d, lit(1d))
    coalesce((lenScore + punctScore + stopScore) / 3d, lit(0d))
  }

  // ------------------------------------------------------------- PII scrub

  /** PII patterns, applied in declaration order (email first so its digits
    * can't be re-matched as phone/IP fragments). Restricted to the
    * Java-regex ∩ RE2 dialect subset (character classes, bounded repeats,
    * plain groups — no lookarounds, no backrefs) so the oracle's
    * `regexp_replace(..., 'g')` behaves identically.
    */
  val piiPatterns: Seq[(String, String)] = Seq(
    "email" -> "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}",
    "phone" -> "(\\+1-)?[0-9]{3}-[0-9]{3}-[0-9]{4}",
    "ipv4" -> "([0-9]{1,3}\\.){3}[0-9]{1,3}")

  /** Redact PII spans to `<category>` placeholders — the standard
    * training-corpus scrub pass. One projection, no shuffle; the chained
    * regexp_replace stays inside whole-stage codegen.
    */
  def redactPii(text: Column): Column =
    piiPatterns.foldLeft(text) { case (t, (name, pat)) =>
      regexp_replace(t, pat, s"<$name>")
    }

  /** Per-category PII match counts (audit/reporting companion to
    * [[redactPii]]). Counted against the same progressively-redacted text
    * the redaction pass sees, so categories never double-count one span.
    */
  def piiCounts(text: Column): Seq[(String, Column)] = {
    val staged = piiPatterns.scanLeft(("", text)) {
      case ((_, t), (name, pat)) =>
        (name, regexp_replace(t, pat, s"<$name>"))
    }
    piiPatterns.zip(staged).map { case ((name, pat), (_, preText)) =>
      s"n_$name" -> regexp_count(preText, lit(pat)).cast("int")
    }
  }

  // ------------------------------------------------------------ data splits

  /** Deterministic train/validation/holdout assignment by content hash:
    * bucket = polyhash(key) mod 100, cut by cumulative percentage. Content
    * hashing (not id hashing) keeps exact duplicates in the SAME split —
    * the leakage rule every training pipeline needs — and polyhash keeps
    * the assignment portable across engines/reruns (no PRNG, no
    * partition-order dependence).
    */
  def hashSplit(key: Column, cuts: Seq[(String, Int)]): Column = {
    require(cuts.map(_._2).sum == 100, "split percentages must sum to 100")
    val bucket = pmod(polyhash(key), lit(100))
    val (expr, _) = cuts.foldLeft((lit(null).cast("string"), 0)) {
      case ((acc, cum), (name, pct)) =>
        (when(bucket >= cum && bucket < cum + pct, name).otherwise(acc),
          cum + pct)
    }
    expr
  }

  // ------------------------------------------------- line-level cleaning

  /** C4-style line filter (Raffel et al. 2020, the public rule set): keep
    * only lines that END IN TERMINAL PUNCTUATION (`.`/`!`/`?`/`"`) and
    * carry at least `minWords` space-separated words; everything else
    * (menus, nav crumbs, cookie banners) is boilerplate. Pure Column
    * composition over the line array — per-doc array math, shuffle-free
    * over the corpus, and every primitive (split / rtrim / ends_with /
    * filter) has an exact ANSI-SQL twin for the oracle.
    */
  def keepLine(line: Column, minWords: Int): Column = {
    val t = rtrim(line)
    val words = size(filter(split(t, " "), w => w =!= ""))
    (t.endsWith(".") || t.endsWith("!") || t.endsWith("?") ||
      t.endsWith("\"")) && words >= minWords
  }

  def keptLines(text: Column, minWords: Int = 3): Column =
    filter(split(text, "\n"), l => keepLine(l, minWords))

  /** Line-retention stats alongside the cleaned text (the kept lines
    * joined by newlines) — the audit columns a curation run reports per
    * document.
    *
    * PERF: takes PRE-STAGED `lines`/`kept` array columns (the HOF filter
    * runs interpreted with no CSE — composing `keepLine` per output column
    * would re-split and re-filter the text per reference; see the staged
    * projection in q82).
    */
  def lineStatsFromKept(lines: Column, kept: Column): Seq[(String, Column)] =
    Seq(
      "n_lines" -> size(lines),
      "n_kept" -> size(kept),
      "clean" -> array_join(kept, "\n"))

  // ------------------------------------------------ corpus n-gram mining

  /** Corpus-wide top-k most frequent word n-grams — the boilerplate-mining
    * pass (Gopher/C4 style): repeated n-grams across DOCUMENTS expose
    * templates, headers, and spam the per-doc filters can't see. One
    * explode + one count aggregate (map-side combine ships one row per
    * distinct gram per task) + a rank-k cut; ties break on the gram text
    * so the result is deterministic and oracle-checkable. At 100 TB the
    * shuffle carries distinct-gram cardinality, not corpus rows, and the
    * global cut is a TakeOrdered (per-partition top-k then one k-row
    * merge) — the rank window runs over the already-cut k rows only
    * (the [[graft.llm.Lexical.vocabCoverage]] discipline), so no
    * single-partition window ever sees the full distinct-gram frame.
    */
  def topNgramsCorpus(docs: org.apache.spark.sql.DataFrame, textCol: String,
      n: Int, k: Int): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    docs
      // native one-scan gram build (the composed ngrams∘tokens chain
      // re-tokenizes 4× per row and runs its per-gram lambda interpreted)
      .select(explode(
        graft.functions.TokenNgrams.tokenNgrams(col(textCol), n)).as("gram"))
      .groupBy(col("gram")).agg(count(lit(1)).as("n_occ"))
      .orderBy(col("n_occ").desc, col("gram")).limit(k)
      .withColumn("rank", row_number().over(
        Window.orderBy(col("n_occ").desc, col("gram"))))
  }

  /** Per-document n-gram novelty against everything EARLIER in id order:
    * the fraction (ppm) of a doc's distinct n-grams whose corpus-wide
    * first occurrence (min id) is the doc itself — the cheap
    * "is this document adding anything" diversity/memorization signal
    * scored corpus-wide in one pass (novelty 1.0 = all grams first seen
    * here; near 0 = the doc restates earlier text). Deterministic: ids
    * give the total order, no sampling.
    *
    * Scale: distinct-grams-per-doc explode → one min-id aggregate at
    * gram grain (map-side combined) → fan-out-1 join back on the gram
    * key (the decontamination shuffle shape; popular-gram skew is
    * AQE-splittable because the aggregate side is one row per gram).
    * Integer ppm output — no float residue.
    */
  def ngramNovelty(docs: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, n: Int): org.apache.spark.sql.DataFrame = {
    val grams = docs.select(col(idCol), explode(array_distinct(
        graft.functions.TokenNgrams.tokenNgrams(col(textCol), n))).as("g"))
    val first = grams.groupBy(col("g")).agg(min(col(idCol)).as("__first"))
    grams.join(first, "g")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("__first") === col(idCol), 1L).otherwise(0L))
          .as("n_novel"))
      .withColumn("novel_ppm", expr("(n_novel * 1000000) DIV n_grams"))
  }

  /** Code-vs-prose detection flags — the corpus-splitting signal a
    * training mix needs before code and natural text get different
    * curation paths (code fails every prose quality rule; prose
    * pollutes code dedup). Deterministic surface counts, no model:
    * semicolon-terminated lines, brace lines, indented lines, keyword
    * presence; `is_code` = keyword hit OR ≥ 30% structural lines, where
    * a structural line is counted ONCE even when it hits several classes
    * (an indented `x;` line is one structural line, not two —
    * `n_struct_lines` is a distinct-line count, not the sum of the three
    * per-class counts, so the 30% threshold means what it says). All
    * integer counts + booleans — the [[graft.llm.Curation.gopherFlags]]
    * report shape, one pass, no shuffle.
    */
  def codeFlags(docs: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String): org.apache.spark.sql.DataFrame =
    docs.select(col(idCol), col(textCol),
        split(col(textCol), "\n").as("__ls"))
      .select(col(idCol),
        size(col("__ls")).cast("long").as("n_lines"),
        size(filter(col("__ls"), l => rtrim(l).endsWith(";")))
          .cast("long").as("n_semi_lines"),
        size(filter(col("__ls"), l =>
          rtrim(l).endsWith("{") || trim(l) === "}"))
          .cast("long").as("n_brace_lines"),
        size(filter(col("__ls"), l =>
          l.startsWith("    ") || l.startsWith("\t")))
          .cast("long").as("n_indent_lines"),
        size(filter(col("__ls"), l =>
          rtrim(l).endsWith(";") || rtrim(l).endsWith("{") ||
          trim(l) === "}" || l.startsWith("    ") || l.startsWith("\t")))
          .cast("long").as("n_struct_lines"),
        (col(textCol).contains("def ") || col(textCol).contains("#include")
          || col(textCol).contains("function ")).as("has_kw"))
      .withColumn("is_code", col("has_kw") ||
        lit(10L) * col("n_struct_lines") >= lit(3L) * col("n_lines"))

  // ----------------------------------------------------- repetition filters

  /** Fraction of tokens that are repeats of an earlier token
    * (1 − distinct/total) — the Gopher-style "duplicate word fraction"
    * quality rule. 0.0 for empty docs.
    */
  def dupTokenFraction(toks: Column): Column =
    when(size(toks) > 0,
      lit(1d) - size(array_distinct(toks)).cast("double") /
        size(toks).cast("double"))
      .otherwise(lit(0d))

  /** Fraction of n-grams taken by the single most frequent n-gram — the
    * Gopher-style "top n-gram fraction" boilerplate detector — over a
    * pre-staged token array, in one native pass
    * ([[graft.functions.TopNgramFraction]]). Per-doc array math only, so
    * the corpus pass is a narrow shuffle-free projection. Identical
    * (property-tested) to the composed form that built every gram string
    * with [[ngrams]] and then counted each distinct gram with an
    * interpreted O(distinct × grams) filter pass.
    */
  def topNgramFractionFromTokens(toks: Column, n: Int): Column =
    graft.functions.TopNgramFraction.topNgramFraction(toks, n)

  /** HTML/markup strip for web-crawl text: tags removed, the five core
    * entities decoded, whitespace collapsed. Regex-only (RE2-safe
    * patterns, no backrefs) so it is a pure codegen'd projection and
    * engine-portable; it is the cheap pre-pass before [[keptLines]] —
    * a full HTML parser belongs at ingest, not in the hot path.
    */
  def stripMarkup(text: Column): Column = {
    val untagged = regexp_replace(text, "<[^>]*>", " ")
    // `&amp;` is decoded LAST: decoding it first would turn an escaped
    // entity like `&amp;lt;` into `&lt;` and then a second replacement
    // into a literal `<` (double-decode). Standard entity decoding
    // replaces the ampersand escape after every other entity.
    val decoded = Seq("lt" -> "<", "gt" -> ">",
      "quot" -> "\"", "nbsp" -> " ", "amp" -> "&").foldLeft(untagged) {
      case (c, (ent, ch)) => regexp_replace(c, s"&$ent;", ch)
    }
    // explicit class, not \s: Java's \s matches \x0B, RE2's does not —
    // the one place the two regex dialects would silently diverge here
    trim(regexp_replace(decoded, "[ \\t\\n\\r\\f]+", " "))
  }

  /** Sentence segmentation on terminal punctuation runs (`[.!?]+`), with
    * empty fragments trimmed away — the unit for per-sentence quality
    * stats (count, length distribution). Deliberately heuristic: a
    * rule-per-abbreviation splitter is model territory; this is the
    * corpus-stats face. Pure per-row array work, no shuffle.
    */
  def sentenceArray(text: Column): Column =
    filter(transform(split(text, "[.!?]+"), s => trim(s)), s => s =!= "")

  /** Total syllable estimate over a token array: vowel-group runs
    * (`[aeiouy]+`) per token, floored at one per token — the classic
    * Flesch-family heuristic (digit-only tokens count one). Pure Column
    * fold, codegen-friendly; feeds the readability report (q191).
    */
  def syllablesFromTokens(toks: Column): Column =
    aggregate(transform(toks, w =>
      greatest(regexp_count(w, lit("[aeiouy]+")), lit(1)).cast("long")),
      lit(0L), (a, x) => a + x)

  /** Per-document character-class census + Shannon entropy (nats) over
    * the four classes letters / digits / whitespace / other — a cheap
    * gibberish-and-boilerplate screen (natural prose sits near
    * letters-dominant low entropy; encoded blobs and tables push mass
    * into digits/other). Counts are exact-integer regexp scans of the
    * lowercased text (the "other" class is counted by its own negated
    * class, NOT derived from a length subtraction — length semantics
    * differ across engines, counting does not; whitespace is the
    * explicit five-char class, the [[subwordPattern]] `\s`-vs-RE2
    * lesson). The entropy fold is the fixed left-to-right four-term sum
    * (letters, digits, space, other — the PSI float discipline), each
    * term `−(c/N)·ln(c/N)` only when `c > 0`; rounded 6 dp. Returns a
    * struct column `(n_letters, n_digits, n_spaces, n_other, entropy)`;
    * an empty/null text yields zero counts and a null entropy.
    */
  def charClassCensus(text: Column): Column = {
    val lower6 = lower(text)
    def cnt(pat: String) = regexp_count(lower6, lit(pat)).cast("long")
    val cl = cnt("[a-z]")
    val cd = cnt("[0-9]")
    val cs = cnt("[ \t\n\f\r]")
    val co = cnt("[^a-z0-9 \t\n\f\r]")
    val n = cl + cd + cs + co
    def term(c: Column) = when(c > 0,
      -(c.cast("double") / n.cast("double")) *
        log(c.cast("double") / n.cast("double"))).otherwise(lit(0d))
    val ent = when(n > 0,
      round(term(cl) + term(cd) + term(cs) + term(co), 6))
    struct(coalesce(cl, lit(0L)).as("n_letters"),
      coalesce(cd, lit(0L)).as("n_digits"),
      coalesce(cs, lit(0L)).as("n_spaces"),
      coalesce(co, lit(0L)).as("n_other"),
      ent.as("entropy"))
  }
}

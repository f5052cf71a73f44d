package graft.functions

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry.FunctionBuilder
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.IntegerType

/** SQL-surface registration for graft's native Catalyst expressions, so
  * `spark.sql("SELECT polyhash(text) ...")` works the same as the typed
  * Column API — the idiomatic Spark extension point:
  *
  *   SparkSession.builder()
  *     .config("spark.sql.extensions", "graft.functions.GraftExtensions")
  *
  * or programmatically on an existing session:
  * `GraftExtensions.register(spark)`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.all.foreach { case (name, info, builder) =>
      ext.injectFunction((FunctionIdentifier(name), info, builder))
    }
    ext.injectOptimizerRule(_ => graft.plans.NanosRangePushdown)
  }
}

object GraftExtensions {

  private def intLit(e: Expression, what: String): Int = e match {
    case Literal(v: Int, IntegerType) => v
    case other => throw new IllegalArgumentException(
      s"$what must be an integer literal, got $other")
  }

  private def info(name: String, usage: String): ExpressionInfo =
    new ExpressionInfo(classOf[GraftExtensions].getName, null, name, usage, "")

  val all: Seq[(String, ExpressionInfo, FunctionBuilder)] = Seq(
    ("polyhash",
      info("polyhash", "polyhash(str) - portable 31-base rolling hash mod 1e9+7"),
      (args: Seq[Expression]) => {
        require(args.size == 1, "polyhash(str)")
        PolyHash(args.head)
      }),
    ("shingle_hashes",
      info("shingle_hashes",
        "shingle_hashes(str, width) - distinct polyhash set of word shingles"),
      (args: Seq[Expression]) => {
        require(args.size == 2, "shingle_hashes(str, width)")
        ShingleHashes(args.head, intLit(args(1), "shingle width"))
      }),
    ("subword_count",
      info("subword_count",
        "subword_count(str) - BPE-ish subword run count"),
      (args: Seq[Expression]) => {
        require(args.size == 1, "subword_count(str)")
        SubwordCount(args.head)
      }),
    ("exact_sum",
      info("exact_sum",
        "exact_sum(a[, b]) - exact 128-bit Σa or Σa·b over integral " +
          "arguments as decimal(38,0)"),
      (args: Seq[Expression]) => {
        require(args.size == 1 || args.size == 2, "exact_sum(a[, b])")
        Int128Sum(args)
      }),
    ("dot",
      info("dot",
        "dot(arr, arr) - sequential double dot product of numeric arrays"),
      (args: Seq[Expression]) => {
        require(args.size == 2, "dot(a, b)")
        DotProduct(args.head, args(1))
      }),
    ("gram_hashes",
      info("gram_hashes",
        "gram_hashes(str, width) - ordered word-gram polyhash list (dups kept)"),
      (args: Seq[Expression]) => {
        require(args.size == 2, "gram_hashes(str, width)")
        GramHashes(args.head, intLit(args(1), "gram width"))
      }),
    ("winnow_mins",
      info("winnow_mins",
        "winnow_mins(hashes, w) - sliding-window minima (winnowing selection)"),
      (args: Seq[Expression]) => {
        require(args.size == 2, "winnow_mins(hashes, w)")
        WinnowMins(args.head, intLit(args(1), "winnow window"))
      }),
    ("simhash",
      info("simhash", "simhash(hashes, bits) - majority-bit fingerprint"),
      (args: Seq[Expression]) => {
        require(args.size == 2, "simhash(hashes, bits)")
        SimHash(args.head, intLit(args(1), "simhash bits"))
      }),
    ("minhash_sig",
      info("minhash_sig",
        "minhash_sig(hashes, k) - k-permutation MinHash signature"),
      (args: Seq[Expression]) => {
        require(args.size == 2, "minhash_sig(hashes, k)")
        MinHashSig(args.head, intLit(args(1), "signature length"))
      }),
    ("tokens",
      info("tokens", "tokens(str) - normalized [a-z0-9] token runs"),
      (args: Seq[Expression]) => {
        require(args.size == 1, "tokens(str)")
        Tokens(args.head)
      }),
    ("token_count",
      info("token_count", "token_count(str) - normalized token run count"),
      (args: Seq[Expression]) => {
        require(args.size == 1, "token_count(str)")
        TokenCount(args.head)
      }),
    ("token_hashes",
      info("token_hashes",
        "token_hashes(str) - per-token polyhash array (order/dups kept)"),
      (args: Seq[Expression]) => {
        require(args.size == 1, "token_hashes(str)")
        TokenHashes(args.head)
      }),
    ("jaccard_sets",
      info("jaccard_sets",
        "jaccard_sets(a, b) - exact distinct-element Jaccard similarity"),
      (args: Seq[Expression]) => {
        require(args.size == 2, "jaccard_sets(a, b)")
        JaccardSets(args.head, args(1))
      }),
    ("top_ngram_fraction",
      info("top_ngram_fraction",
        "top_ngram_fraction(toks, n) - most-frequent-ngram fraction"),
      (args: Seq[Expression]) => {
        require(args.size == 2, "top_ngram_fraction(toks, n)")
        TopNgramFraction(args.head, intLit(args(1), "ngram width"))
      }),
    ("mod_filter_sorted",
      info("mod_filter_sorted",
        "mod_filter_sorted(hashes, m) - sorted h%m==0 selection"),
      (args: Seq[Expression]) => {
        require(args.size == 2, "mod_filter_sorted(hashes, m)")
        ModFilterSorted(args.head, intLit(args(1), "modulus"))
      }),
    ("band_key",
      info("band_key",
        "band_key(sig, from, len) - polyhash fold of a signature slice"),
      (args: Seq[Expression]) => {
        require(args.size == 3, "band_key(sig, from, len)")
        BandKey(args.head, intLit(args(1), "from"), intLit(args(2), "len"))
      }),
    ("sig_match_count",
      info("sig_match_count",
        "sig_match_count(a, b) - equal non-null positions of two signatures"),
      (args: Seq[Expression]) => {
        require(args.size == 2, "sig_match_count(a, b)")
        SigMatchCount(args.head, args(1))
      }),
    ("nfc_normalize",
      info("nfc_normalize",
        "nfc_normalize(str) - Unicode NFC canonical composition"),
      (args: Seq[Expression]) => {
        require(args.size == 1, "nfc_normalize(str)")
        NfcNormalize(args.head)
      }),
    ("token_ngrams",
      info("token_ngrams",
        "token_ngrams(str, n) - word n-gram strings of the normalized text"),
      (args: Seq[Expression]) => {
        require(args.size == 2, "token_ngrams(str, n)")
        TokenNgrams(args.head, intLit(args(1), "ngram width"))
      }),
    // Composition functions: the builder assembles the same arithmetic
    // the typed API defines, as a raw catalyst tree (a Column-built tree
    // carries unresolved nodes a function builder may not return); the
    // per-formula agreement with the Column face is spec-asserted.
    ("haversine_km",
      info("haversine_km",
        "haversine_km(lat1, lon1, lat2, lon2) - great-circle km, R=6371"),
      (args: Seq[Expression]) => {
        require(args.size == 4, "haversine_km(lat1, lon1, lat2, lon2)")
        import org.apache.spark.sql.catalyst.expressions._
        val Seq(lat1, lon1, lat2, lon2) = args
        val dphi = Divide(ToRadians(Subtract(lat2, lat1)), Literal(2.0))
        val dlmb = Divide(ToRadians(Subtract(lon2, lon1)), Literal(2.0))
        val a = Add(Multiply(Sin(dphi), Sin(dphi)),
          Multiply(Multiply(Cos(ToRadians(lat1)), Cos(ToRadians(lat2))),
            Multiply(Sin(dlmb), Sin(dlmb))))
        Multiply(Literal(12742.0), Asin(Sqrt(a)))
      }),
    ("containment",
      info("containment",
        "containment(a, b) - |a∩b| / |a| set containment (0 when a empty)"),
      (args: Seq[Expression]) => {
        require(args.size == 2, "containment(a, b)")
        import org.apache.spark.sql.catalyst.expressions._
        import org.apache.spark.sql.types.DoubleType
        val (a, b) = (args.head, args(1))
        If(Or(Or(IsNull(a), IsNull(b)), EqualTo(Size(a), Literal(0))),
          Literal(0.0),
          Divide(Cast(Size(ArrayIntersect(a, b)), DoubleType),
            Cast(Size(a), DoubleType)))
      }),
    ("zorder_key",
      info("zorder_key",
        "zorder_key(x, y, bitsPerDim) - Morton-interleaved layout key"),
      (args: Seq[Expression]) => {
        require(args.size == 3, "zorder_key(x, y, bitsPerDim)")
        import org.apache.spark.sql.catalyst.expressions._
        import org.apache.spark.sql.types.LongType
        val bits = intLit(args(2), "bitsPerDim")
        require(bits >= 1 && bits <= 31, s"bitsPerDim in [1,31], got $bits")
        val x = Cast(args.head, LongType)
        val y = Cast(args(1), LongType)
        (0 until bits).map { k =>
          BitwiseOr(
            ShiftLeft(BitwiseAnd(ShiftRightUnsigned(x, Literal(k)),
              Literal(1L)), Literal(2 * k)),
            ShiftLeft(BitwiseAnd(ShiftRightUnsigned(y, Literal(k)),
              Literal(1L)), Literal(2 * k + 1)))
        }.reduce[Expression]((l, r) => BitwiseOr(l, r))
      }),
    ("jaro_winkler",
      info("jaro_winkler",
        "jaro_winkler(a, b) - Jaro-Winkler similarity (native codegen)"),
      (args: Seq[Expression]) => {
        require(args.size == 2, "jaro_winkler(a, b)")
        JaroWinkler(args.head, args(1))
      }),
    ("damerau_levenshtein",
      info("damerau_levenshtein",
        "damerau_levenshtein(a, b) - unrestricted Damerau-Levenshtein " +
          "edit distance (native codegen)"),
      (args: Seq[Expression]) => {
        require(args.size == 2, "damerau_levenshtein(a, b)")
        DamerauLevenshtein(args.head, args(1))
      }))

  /** Register into an already-running session (tests, REPL): the SQL
    * functions plus the [[graft.plans.NanosRangePushdown]] optimizer
    * rule (via the public `experimental.extraOptimizations` hook, which
    * runs as a final fixed-point optimizer batch — the rule is
    * idempotent by construction). Append-guarded, so calling twice is
    * safe.
    */
  def register(spark: SparkSession): Unit = {
    all.foreach { case (name, inf, builder) =>
      Bridge.registerFunction(spark, name, inf, builder)
    }
    if (!spark.experimental.extraOptimizations
        .contains(graft.plans.NanosRangePushdown)) {
      spark.experimental.extraOptimizations ++=
        Seq(graft.plans.NanosRangePushdown)
    }
  }
}

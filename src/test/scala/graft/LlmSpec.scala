package graft

import org.apache.spark.sql.functions._
import graft.functions.PolyHash
import graft.functions.PolyHash.polyhash
import graft.llm.{Curation, Dedup, Similarity, Text}
import org.apache.spark.unsafe.types.UTF8String

/** LLM-pipeline operator semantics: polyhash, shingles, dedup, similarity. */
class LlmSpec extends SparkSpec {

  /** The pre-native HOF reference chains (shared by the corpus and the
    * randomized property tests — ONE copy so the pinned contract can't
    * drift between them).
    */
  private def slowSig(hs: org.apache.spark.sql.Column, k: Int) =
    array((0 until k).map { i =>
      val a = 2L * i + 1
      val b = 12345L * i + 7
      array_min(transform(hs, h => (h * a + b) % Dedup.P))
    }: _*)

  private def slowTopNgramFraction(grams: org.apache.spark.sql.Column) = {
    val counts = transform(array_distinct(grams),
      g => size(filter(grams, x => x === g)))
    when(size(grams) > 0,
      array_max(counts).cast("double") / size(grams).cast("double"))
      .otherwise(lit(0d))
  }

  private def slowSimhash(hs: org.apache.spark.sql.Column, bits: Int) =
    (0 until bits).map { i =>
      val setCount = aggregate(hs, lit(0L),
        (acc, h) => acc + shiftright(h, i).bitwiseAND(1L))
      when(setCount * 2 > size(hs), lit(1L) * (1L << i)).otherwise(0L)
    }.reduce(_ + _)

  test("polyhash goldens incl. empty / non-ASCII (byte fast path + fallback)") {
    assert(PolyHash.hash(UTF8String.fromString("abc")) == 96354L)
    assert(PolyHash.hash(UTF8String.fromString("")) == 0L)
    // non-ASCII must match the UTF-16 fold exactly
    val s = "café αβ 中文"
    var acc = 0L
    s.foreach(c => acc = (acc * 31 + c.toLong) % 1000000007L)
    assert(PolyHash.hash(UTF8String.fromString(s)) == acc)
    assert(eval1(polyhash(lit(null).cast("string"))) == null)
  }

  test("tokens / ngrams incl. the short-doc guard") {
    import spark.implicits._
    val out = Seq("The quick, brown fox!", "ab", "")
      .toDF("text")
      .select(Text.tokens(col("text")).as("toks"),
        Text.ngrams(Text.tokens(col("text")), 3).as("g3"))
      .collect()
    assert(out(0).getSeq[String](0) == Seq("the", "quick", "brown", "fox"))
    assert(out(0).getSeq[String](1) ==
      Seq("the quick brown", "quick brown fox"))
    assert(out(1).getSeq[String](1) == Nil) // shorter than n → empty
    assert(out(2).getSeq[String](0) == Nil)
  }

  test("native ShingleHashes == composable Column chain over the corpus") {
    import spark.implicits._
    val docs = Queries.T(spark, sf001, "documents").select(col("text"))
      .unionByName(Seq("", "ab", "one two", "one two three",
        "Crème BRÛLÉE, twice! Crème brûlée again", "  padded   spaces  ",
        "a b a b a b", "123 456 789 123 456").toDF("text"))
      .unionByName(spark.range(1).select(lit(null).cast("string").as("text")))
    val both = docs.select(
      graft.functions.ShingleHashes.shingleHashes(col("text"), 3).as("fast"),
      Text.shingleHashes(col("text"), 3).as("slow"))
    // null-safe compare: both must be null together or equal
    val bad = both.filter(not(col("fast") <=> col("slow"))).count()
    assert(bad == 0, s"$bad rows diverge between native and Column shingles")
  }

  test("native token/sig/jaccard expressions == HOF Column chains") {
    import spark.implicits._
    import graft.functions._
    val P = Dedup.P
    val docs = Queries.T(spark, sf001, "documents").select(col("text"))
      .unionByName(Seq("", "ab", "one two", "one two three",
        "Crème BRÛLÉE, twice! Crème brûlée again", "  padded   spaces  ",
        "a b a b a b", "123 456 789 123 456", "solo",
        "x y x y x", "a a a a").toDF("text"))
      .unionByName(spark.range(1).select(lit(null).cast("string").as("text")))
    // the pre-native composable forms, reconstructed verbatim (sig/simhash
    // chains shared with the randomized property test)
    val slowTokens = filter(split(trim(regexp_replace(lower(col("text")),
      "[^a-z0-9 ]", " ")), " +"), t => t =!= "")
    val slowHashes = transform(slowTokens, t => polyhash(t))
    val en = Text.stopwords("en")
    val staged = docs.select(col("text"), slowHashes.as("shh"),
      Text.shingleHashes(col("text"), 3).as("shs"),
      Text.tokens(col("text")).as("toks"),
      slice(Text.shingleHashes(col("text"), 3), lit(1),
        greatest(size(Text.shingleHashes(col("text"), 3)) - 2, lit(0)))
        .as("shs2"))
    val both = staged.select(
      col("toks").as("f_toks"), slowTokens.as("s_toks"),
      Text.tokenCount(col("text")).as("f_tc"), size(slowTokens).as("s_tc"),
      TokenHashes.tokenHashes(col("text")).as("f_th"), col("shh").as("s_th"),
      Dedup.simhashFromHashes(col("shh"), 16).as("f_sh"),
      slowSimhash(col("shh"), 16).as("s_sh"),
      Dedup.signatureFromHashes(col("shs"), 8).as("f_sig"),
      slowSig(col("shs"), 8).as("s_sig"),
      Text.stopwordCount(col("toks"), en).as("f_sw"),
      size(filter(slowTokens, t => t.isin(en.map(lit(_)): _*))).as("s_sw"),
      StrArrayLenSum.strArrayLenSum(col("toks")).as("f_sl"),
      aggregate(slowTokens, lit(0L), (a, t) => a + length(t)).as("s_sl"),
      Dedup.jaccard(col("shs"), col("shs2")).as("f_jc"),
      when(size(array_union(col("shs"), col("shs2"))) > 0,
        size(array_intersect(col("shs"), col("shs2"))).cast("double") /
          size(array_union(col("shs"), col("shs2"))).cast("double"))
        .otherwise(lit(0d)).as("s_jc"),
      Text.topNgramFractionFromTokens(col("toks"), 2).as("f_tn"),
      slowTopNgramFraction(Text.ngrams(col("toks"), 2)).as("s_tn"),
      ModFilterSorted.modFilterSorted(col("shs"), 8).as("f_mf"),
      array_sort(filter(col("shs"), h => h % 8 === 0)).as("s_mf"),
      TokenNgrams.tokenNgrams(col("text"), 2).as("f_ng"),
      Text.ngrams(col("toks"), 2).as("s_ng"),
      Dedup.bandKey(col("shs"), 1, 3).as("f_bk"),
      aggregate(slice(col("shs"), 1 * 3 + 1, 3), lit(0L),
        (acc, x) => (acc * 31 + pmod(x, lit(P))) % P).as("s_bk"),
      graft.functions.SigMatchCount.sigMatchCount(col("shs"), col("shs2"))
        .as("f_mc"),
      aggregate(zip_with(col("shs"), col("shs2"),
        (x, y) => when(x === y, 1).otherwise(0)), lit(0),
        (acc, v) => acc + v).as("s_mc"))
    for (p <- Seq("toks", "tc", "th", "sh", "sig", "sw", "sl", "jc", "tn",
        "mf", "ng", "bk", "mc")) {
      val bad = both.filter(not(col(s"f_$p") <=> col(s"s_$p"))).count()
      assert(bad == 0, s"$bad rows diverge between native and HOF '$p'")
    }
  }

  test("benched dedup plans run the native expressions, not HOF trees") {
    // the round-4 regression class: interpreted higher-order functions in
    // the signature/fingerprint paths. Pin the fix with plan assertions —
    // the LSH candidate and simhash plans must carry the native codegen'd
    // expressions and no ArrayTransform/ArrayAggregate in their place.
    // parquet-backed input: a literal Seq would collapse into a
    // LocalRelation (ConvertToLocalRelation pre-evaluates the projections)
    // and the plan would carry no expressions at all
    val docs = Queries.T(spark, sf001, "documents")
      .select(col("doc_id"), col("text"))
    val lsh = Dedup.minhashCandidates(docs, "doc_id", "text")
      .queryExecution.optimizedPlan.toString
    assert(lsh.contains("minhash_sig"), s"native sig missing:\n$lsh")
    assert(lsh.contains("shingle_hashes"), s"native shingles missing:\n$lsh")
    assert(!lsh.contains("array_min(transform"),
      s"interpreted sig chain resurfaced:\n$lsh")
    // r14: simhashCandidates checkpoints its bounded pair list eagerly
    // (cache-release contract), which reduces its final plan to a
    // LogicalRDD — pin the natives on the lazy banded stage it executes
    val sim = Dedup.simhashBanded(docs, "doc_id", "text", bits = 16,
      bands = 4, tokenHashesFn = Dedup.tokenHashesPoly)
      .queryExecution.optimizedPlan.toString
    assert(sim.contains("simhash"), s"native simhash missing:\n$sim")
    assert(sim.contains("token_hashes"), s"native token hashes missing:\n$sim")
    // the banding slices legitimately use shiftright on the FINGERPRINT;
    // the regression marker is an aggregate fold over the hash ARRAY
    assert(!sim.contains("aggregate(hh"),
      s"interpreted simhash folds resurfaced:\n$sim")
  }

  test("sig natives == HOF chains on ARBITRARY longs (property)") {
    // the corpus test only feeds non-negative polyhash values; the
    // production simhash path hashes with xxhash64 (negative longs), and
    // the SQL surface accepts anything — stress sign handling, overflow
    // wrap, and empty arrays with randomized inputs
    import org.scalacheck.{Gen, Prop}
    import org.scalacheck.Prop.forAll
    import graft.functions._
    import spark.implicits._
    val P = Dedup.P
    // bounded so the HOF affine `h·m + c` cannot overflow: under ANSI mode
    // (Spark 4 default) Multiply THROWS on overflow instead of wrapping,
    // so out-of-range longs aren't a semantics question either engine
    // answers. ±2^59 still covers negative hashes and the full top bits.
    val bound = Long.MaxValue / 16
    val arrGen = Gen.listOf(Gen.chooseNum(-bound, bound))
    val prop = forAll(Gen.listOfN(24, Gen.zip(arrGen, arrGen))) { pairs =>
      val df = pairs.toDF("a", "b")
      val bad = df.select(
        Dedup.simhashFromHashes(col("a"), 64).as("f_sh"),
        slowSimhash(col("a"), 64).as("s_sh"),
        Dedup.signatureFromHashes(col("a"), 5).as("f_sig"),
        slowSig(col("a"), 5).as("s_sig"),
        Dedup.bandKey(col("a"), 0, 3).as("f_bk"),
        aggregate(slice(col("a"), 1, 3), lit(0L),
          (acc, x) => (acc * 31 + pmod(x, lit(P))) % P).as("s_bk"),
        SigMatchCount.sigMatchCount(col("a"), col("b")).as("f_mc"),
        aggregate(zip_with(col("a"), col("b"),
          (x, y) => when(x === y, 1).otherwise(0)), lit(0),
          (acc, v) => acc + v).as("s_mc"),
        Dedup.jaccard(col("a"), col("b")).as("f_jc"),
        when(size(array_union(col("a"), col("b"))) > 0,
          size(array_intersect(col("a"), col("b"))).cast("double") /
            size(array_union(col("a"), col("b"))).cast("double"))
          .otherwise(lit(0d)).as("s_jc"))
        .filter(not(col("f_sh") <=> col("s_sh")) ||
          not(col("f_sig") <=> col("s_sig")) ||
          not(col("f_bk") <=> col("s_bk")) ||
          not(col("f_mc") <=> col("s_mc")) ||
          not(col("f_jc") <=> col("s_jc")))
        .count()
      Prop(bad == 0)
    }
    val res = org.scalacheck.Test.check(
      org.scalacheck.Test.Parameters.default.withMinSuccessfulTests(20), prop)
    assert(res.passed, s"native/HOF divergence on random longs: ${res.status}")
  }

  test("jaccard_sets null-element semantics match array_intersect/union") {
    // shingle arrays are containsNull=false, but the registered SQL
    // function accepts arbitrary arrays — pin the sentinel-null math
    // (review finding: an a-side-only null used to double-count the union)
    def chain(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
      when(size(array_union(a, b)) > 0,
        size(array_intersect(a, b)).cast("double") /
          size(array_union(a, b)).cast("double")).otherwise(lit(0d))
    val nl = lit(null).cast("long")
    val cases = Seq(
      (array(lit(1L), nl), array(lit(1L))),            // null only left
      (array(lit(1L)), array(lit(1L), nl)),            // null only right
      (array(lit(1L), nl), array(lit(1L), nl)),        // null both
      (array(nl), array(nl)),                          // all null
      (array(nl), array(lit(2L))),                     // disjoint w/ null
      (array().cast("array<long>"), array(lit(1L), nl)))
    cases.foreach { case (a, b) =>
      val r = spark.range(1)
        .select(Dedup.jaccard(a, b).as("f"), chain(a, b).as("s")).head()
      assert(r.getDouble(0) == r.getDouble(1),
        s"jaccard_sets diverges on $a vs $b: ${r.getDouble(0)} != ${r.getDouble(1)}")
    }
  }

  test("native SubwordCount == regexp_count Column form over the corpus") {
    import spark.implicits._
    val docs = Queries.T(spark, sf001, "documents").select(col("text"))
      .unionByName(Seq("", "ab12 cd,ef", "a.b.c", "HELLO World 42!",
        "tab\there\nnewline", "!!!???", "éàü mixed Ünïcode 7",
        "vtabsplits").toDF("text"))
    val bad = docs.select(
      graft.functions.SubwordCount.subwordCount(col("text")).as("fast"),
      Text.subwordCount(col("text")).as("slow"))
      .filter(not(col("fast") <=> col("slow"))).count()
    assert(bad == 0, s"$bad rows diverge between native and regex subword count")
  }

  test("GraftExtensions: native expressions callable from SQL") {
    // force the shared session FIRST (Graft.builder sets no master — in a
    // fresh JVM an isolated run of this test would otherwise getOrCreate
    // a masterless session and fail before the asserts), then verify the
    // entry point reuses it and registers the functions (idempotent)
    val shared = spark
    assert(Graft.session() eq shared)
    val r = spark.sql(
      """SELECT polyhash('abc') AS h,
         shingle_hashes('a b c d', 2) AS sh,
         subword_count('ab12 cd') AS sw,
         dot(array(1.0d, 2.0d), array(3.0d, 4.0d)) AS d""").head
    assert(r.getAs[Long]("h") == 96354L)
    assert(r.getSeq[Long](1).length == 3)
    assert(r.getAs[Int]("sw") == 3)
    assert(r.getAs[Double]("d") == 11.0)
    // winnowing pair: 5 grams of width 2, window 4 → 2 minima (≤ 2 distinct)
    val rw = spark.sql(
      """SELECT winnow_mins(gram_hashes('a b c d e f', 2), 4) AS wm""").head
    assert(rw.getSeq[Long](0).length == 2)
    // non-literal width is a clear error, not a silent misread
    intercept[Exception] {
      spark.sql("SELECT shingle_hashes('a', length('xy'))").head
    }
    // Column-composition registrations share the typed definitions
    val r2 = spark.sql(
      """SELECT haversine_km(0.0d, 0.0d, 0.0d, 0.0d) AS z,
         containment(array(1L, 2L), array(1L, 2L, 3L)) AS c,
         zorder_key(3, 5, 3) AS zk""").head
    assert(r2.getAs[Double]("z") == 0.0)
    assert(r2.getAs[Double]("c") == 1.0)
    assert(r2.getAs[Long]("zk") == 39L)
    // bit-exact agreement between the SQL tree and the Column face
    val sqlH = spark.sql(
      "SELECT haversine_km(10.0d, 20.0d, 30.0d, 40.0d) AS h")
      .head.getDouble(0)
    val colH = spark.range(1).select(graft.engine.Geometry.haversineKm(
      lit(10.0), lit(20.0), lit(30.0), lit(40.0))).head.getDouble(0)
    assert(sqlH == colH)
  }

  test("PII redaction: categories, ordering, and counts") {
    import spark.implicits._
    val df = Seq(
      "mail a.b+c@ex-ample.org now",          // email with class chars
      "call +1-555-123-4567 or 555-000-1111", // both phone forms
      "host 192.168.0.1 warn",                // ipv4
      "mixed x@y.io 10.0.0.7 555-123-4567",   // all three
      "clean text only").toDF("text")
    val out = df.select(llm.Text.redactPii(col("text")).as("r") +:
      llm.Text.piiCounts(col("text")).map { case (n, c) => c.as(n) }: _*)
      .collect()
    assert(out(0).getString(0) == "mail <email> now")
    assert(out(1).getString(0) == "call <phone> or <phone>")
    assert(out(2).getString(0) == "host <ipv4> warn")
    assert(out(3).getString(0) == "mixed <email> <ipv4> <phone>")
    assert(out(4).getString(0) == "clean text only")
    assert(out(3).getInt(1) == 1 && out(3).getInt(2) == 1 &&
      out(3).getInt(3) == 1)
    assert(out(1).getInt(2) == 2) // two phones
  }

  test("hashSplit: content-keyed (dups co-split), covers 100%, validated") {
    import spark.implicits._
    val docs = Seq((1L, "same text"), (2L, "same text"), (3L, "other"))
      .toDF("doc_id", "text")
    val out = docs.select(col("doc_id"), llm.Text.hashSplit(col("text"),
      Seq("train" -> 90, "holdout" -> 10)).as("s")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out(1L) == out(2L), "exact duplicates must land in one split")
    // every bucket 0..99 is assigned (no null fall-through)
    val all = Queries.T(spark, sf001, "documents").select(
      llm.Text.hashSplit(col("text"), Seq("a" -> 50, "b" -> 50)).as("s"))
    assert(all.filter(col("s").isNull).count() == 0)
    intercept[IllegalArgumentException] {
      llm.Text.hashSplit(col("text"), Seq("a" -> 50, "b" -> 40))
    }
  }

  test("repetition metrics: dup-word and top-bigram fractions") {
    import spark.implicits._
    val df = Seq(
      "a b c d",          // all distinct → dup 0, top-bigram 1/3
      "a a a a",          // dup 3/4, bigram 'a a' ×3 of 3 → 1.0
      "x y x y x",        // dup 3/5; bigrams: xy,yx,xy,yx → 2/4
      "solo", "").toDF("text")
    val toks = llm.Text.tokens(col("text"))
    val out = df.select(
      llm.Text.dupTokenFraction(toks).as("d"),
      llm.Text.topNgramFractionFromTokens(toks, 2).as("t")).collect()
    assert(out(0).getDouble(0) == 0.0 && out(0).getDouble(1) == 1.0 / 3)
    assert(out(1).getDouble(0) == 0.75 && out(1).getDouble(1) == 1.0)
    assert(out(2).getDouble(0) == 1 - 2.0 / 5 && out(2).getDouble(1) == 0.5)
    assert(out(3).getDouble(0) == 0.0 && out(3).getDouble(1) == 0.0)
    assert(out(4).getDouble(0) == 0.0 && out(4).getDouble(1) == 0.0)
  }

  test("NFC normalize: composes combining marks, ASCII passes through") {
    import spark.implicits._
    // explicit escapes — raw combining marks in source could be silently
    // NFC'd by an editor, flipping the fixture
    val decomposed = "cafe\u0301"
    val precomposed = "caf\u00e9"
    val df = Seq(decomposed, "A\u030angstrom", "plain ascii", precomposed)
      .toDF("t")
    val out = df.select(llm.Text.nfc(col("t")).as("n"),
      length(col("t")).as("lr"), length(llm.Text.nfc(col("t"))).as("ln"))
      .collect()
    assert(out(0).getString(0) == precomposed && out(0).getInt(1) == 5 &&
      out(0).getInt(2) == 4)
    assert(out(1).getString(0) == "\u00c5ngstrom")
    assert(out(2).getString(0) == "plain ascii") // zero-copy path
    assert(out(3).getString(0) == precomposed) // already NFC → unchanged
    // SQL surface
    graft.functions.GraftExtensions.register(spark)
    assert(spark.sql("SELECT nfc_normalize('" + decomposed + "') AS n")
      .head().getString(0) == precomposed)
  }

  test("C4 line cleaning: terminal-punct + min-words rules, stats") {
    import spark.implicits._
    val df = Seq(
      "Good sentence here.\nnav crumb\nAlso kept lines!\nOk.\nKeep this one?",
      "no punct at all",
      "\"Quoted line stays here.\"",
      "").toDF("text")
    val out = df.select(llm.Text.lineStatsFromKept(split(col("text"), "\n"),
      llm.Text.keptLines(col("text"))).map { case (n, c) => c.as(n) }: _*)
      .collect()
    // doc 0: 5 lines; 'nav crumb' (no punct) and 'Ok.' (1 word) drop
    assert(out(0).getInt(0) == 5 && out(0).getInt(1) == 3)
    assert(out(0).getString(2) ==
      "Good sentence here.\nAlso kept lines!\nKeep this one?")
    assert(out(1).getInt(1) == 0 && out(1).getString(2) == "")
    assert(out(2).getInt(1) == 1) // quote-terminated line kept
    assert(out(3).getInt(0) == 1 && out(3).getInt(1) == 0)
  }

  test("IVF sample-trained quantizer still retrieves exactly at full probe") {
    val emb = Queries.T(spark, sf001, "embeddings")
    val q = emb.filter(col("vec_id") < 4)
    def run(frac: Double) = Similarity.ivfTopK(emb, q, "vec_id", "embedding",
      "vec_id", k = 3, nCells = 4, nprobe = 4, trainFraction = frac)
      .select("query_id", "neighbor_id", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).sortBy(identity).toSeq
    // full probe searches every cell, so results are brute-force-identical
    // regardless of what sample the quantizer trained on
    assert(run(1.0) == run(0.3))
    // a pre-fit quantizer decouples training cost from search entirely
    // and retrieves the same full-probe results
    val prefit = Similarity.fitQuantizer(emb, "embedding", nCells = 4,
      trainFraction = 0.5, maxIter = 3)
    val viaPrefit = Similarity.ivfTopK(emb, q, "vec_id", "embedding",
      "vec_id", k = 3, nCells = 4, nprobe = 4, prefit = Some(prefit))
      .select("query_id", "neighbor_id", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).sortBy(identity).toSeq
    assert(viaPrefit == run(1.0))
  }

  test("duplicateClusters: components + canonical min-id survivor") {
    import spark.implicits._
    // components: {1,2,3,4} (chain), {7,8}; 9 appears only as pair partner
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (7L, 8L), (4L, 1L))
      .toDF("doc_a", "doc_b")
    val out = Dedup.duplicateClusters(pairs, "doc_a", "doc_b").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      7L -> 7L, 8L -> 7L))
  }

  test("duplicateClusters converges on a 64-node chain within 10 rounds") {
    import spark.implicits._
    // worst-case diameter: plain min-propagation needs 63 rounds; pointer
    // jumping must close it inside the default maxIter
    val chain = (1L until 64L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val out = Dedup.duplicateClusters(chain, "doc_a", "doc_b").collect()
    assert(out.length == 64)
    assert(out.forall(_.getLong(1) == 1L),
      s"chain not fully converged: ${out.filter(_.getLong(1) != 1L).take(5).mkString(",")}")
  }

  test("pruneDuplicates keeps one survivor per cluster, untouched docs stay") {
    import spark.implicits._
    val docs = Seq(1L, 2L, 3L, 4L, 9L).toDF("doc_id")
    // clusters: {1,2,3} survivor 1; {4} self-labeled; 9 never paired
    val clusters = Seq((1L, 1L), (2L, 1L), (3L, 1L), (4L, 4L))
      .toDF("doc", "cluster")
    val kept = Dedup.pruneDuplicates(docs, "doc_id", clusters)
      .collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L, 4L, 9L))
  }

  test("exact dedup finds injected duplicates deterministically") {
    import spark.implicits._
    val docs = Seq((1L, "aaa bbb"), (2L, "ccc ddd"), (7L, "aaa bbb"))
      .toDF("doc_id", "text")
    val out = Dedup.exact(docs, "doc_id", "text").collect()
    assert(out.length == 2)
    val dup = out.find(_.getAs[Long]("n_copies") == 2).get
    assert(dup.getAs[Long]("keep_id") == 1L) // min id survives
  }

  test("minhash LSH surfaces a near-duplicate pair; jaccard verifies it") {
    import spark.implicits._
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "lambda mu nu xi omicron pi rho sigma tau upsilon"
    val docs = Seq((1L, base), (2L, base + " phi"), (3L,
      "one two three four five six seven eight nine ten eleven twelve"))
      .toDF("doc_id", "text")
    val pairs = Dedup.fuzzyDuplicates(docs, "doc_id", "text",
      shingleWidth = 3, k = 16, bands = 4, minJaccard = 0.5).collect()
    assert(pairs.length == 1)
    assert(pairs(0).getAs[Long]("doc_a") == 1L)
    assert(pairs(0).getAs[Long]("doc_b") == 2L)
    assert(pairs(0).getAs[Double]("jaccard") > 0.9)
  }

  test("maxBucket prunes degenerate LSH buckets (the hot-key guard)") {
    import spark.implicits._
    // 12 identical docs share every band bucket → bucket size 12
    val docs = (1L to 12L).map(i => (i,
      "alpha beta gamma delta epsilon zeta eta theta")).toDF("doc_id", "text")
    val capped = Dedup.minhashCandidates(docs, "doc_id", "text", 3, 16, 4,
      minEstJaccard = 0.1, maxBucket = 5).count()
    val uncapped = Dedup.minhashCandidates(docs, "doc_id", "text", 3, 16, 4,
      minEstJaccard = 0.1, maxBucket = 100).count()
    assert(capped == 0, "bucket over the cap must be dropped")
    assert(uncapped == 66) // 12 choose 2
  }

  test("simhash: identical docs agree; hamming distance 0/positive") {
    import spark.implicits._
    val df = Seq((1L, "spark scale data"), (2L, "spark scale data"),
      (3L, "entirely different words here")).toDF("id", "text")
      .select(col("id"),
        Dedup.simhashFromHashes(Dedup.tokenHashesPoly(col("text")), 16)
          .as("sh"))
    val m = df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(m(1L) == m(2L))
    assert(java.lang.Long.bitCount(m(1L) ^ m(3L)) > 0)
    assert(eval1(Dedup.hammingDist(lit(m(1L)), lit(m(3L)))) ==
      java.lang.Long.bitCount(m(1L) ^ m(3L)))
  }

  test("simhashCandidates: near-identical docs pair; distinct docs don't") {
    import spark.implicits._
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "lambda mu nu xi omicron pi rho sigma tau upsilon"
    val docs = Seq((1L, base), (2L, base + " phi"),
      (3L, "wholly different content words nothing shared at all here"))
      .toDF("doc_id", "text")
    // 28 bits: unrelated docs sit at expected hamming ~14, far above the
    // cap (16 bits is too short — random fingerprints average hamming 8
    // and unrelated docs can slip under small caps)
    val pairs = Dedup.simhashCandidates(docs, "doc_id", "text", 28, 4, 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.contains((1L, 3L)) && !pairs.contains((2L, 3L)))
  }

  test("cosine top-k: self is rank 1 with cos ≈ 1") {
    val emb = Queries.T(spark, sf001, "embeddings")
    val out = Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") === 0),
      "vec_id", "embedding", "vec_id", 3).collect()
    assert(out.length == 3)
    val top = out.find(_.getAs[Int]("rank") == 1).get
    assert(top.getAs[Long]("neighbor_id") == 0L)
    assert(math.abs(top.getAs[Double]("cos") - 1.0) < 1e-12)
  }

  test("IVF ANN: self retrieved at rank 1; deterministic across runs") {
    val emb = Queries.T(spark, sf001, "embeddings")
    val queries = emb.filter(col("vec_id").isin(5L, 77L, 301L))
    def run() = Similarity.ivfTopK(emb, queries, "vec_id", "embedding",
      "vec_id", k = 3, nCells = 8, nprobe = 2)
      .select(col("query_id"), col("neighbor_id"), col("rank")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).sortBy(identity).toSeq
    val out = run()
    // a vector's own cell is always its nearest centroid → self is probed
    Seq(5L, 77L, 301L).foreach { q =>
      assert(out.contains((q, q, 1)), s"query $q did not retrieve itself")
    }
    assert(out == run(), "IVF search not deterministic across runs")
  }

  test("native DotProduct == HOF aggregate/zip_with fold, bit-exact") {
    val hof = (a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =>
      aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
        lit(0d), (acc, v) => acc + v)
    // full corpus self+cross products over array<float> embeddings
    val emb = Queries.T(spark, sf001, "embeddings").limit(200)
      .select(col("vec_id"), col("embedding"))
    val shifted = emb.select((col("vec_id") + 1).as("vec_id"),
      col("embedding").as("other"))
    val joined = emb.join(shifted, "vec_id")
    val bad = joined.select(
      graft.functions.DotProduct.dot(col("embedding"), col("other")).as("fast"),
      hof(col("embedding"), col("other")).as("slow"))
      .filter(not(col("fast") <=> col("slow"))).count()
    assert(bad == 0, s"$bad rows diverge between native and HOF dot")
    // mixed float/double, null element, length mismatch, empty, null array
    val fd = eval1(graft.functions.DotProduct.dot(
      array(lit(1.5f), lit(-2.0f)), array(lit(3.0d), lit(0.25d))))
    assert(fd == 1.5f * 3.0d + (-2.0f) * 0.25d)
    assert(eval1(graft.functions.DotProduct.dot(
      array(lit(1.0d), lit(null).cast("double")), array(lit(1.0d), lit(2.0d)))) == null)
    assert(eval1(graft.functions.DotProduct.dot(
      array(lit(1.0d)), array(lit(1.0d), lit(2.0d)))) == null)
    assert(eval1(graft.functions.DotProduct.dot(
      array().cast("array<double>"), array().cast("array<double>"))) == 0.0d)
    assert(eval1(graft.functions.DotProduct.dot(
      lit(null).cast("array<double>"), array(lit(1.0d)))) == null)
    // integral element types widen exactly, like the HOF cast("double")
    assert(eval1(graft.functions.DotProduct.dot(
      array(lit(2), lit(3)), array(lit(10L), lit(100L)))) == 320.0)
  }

  test("normalize yields unit vectors; int8 round trip error ≤ maxAbs/254") {
    val emb = Queries.T(spark, sf001, "embeddings")
    val staged = emb.select(col("vec_id"), col("embedding"),
      Similarity.norm(col("embedding")).as("nrm"),
      Similarity.absMax(col("embedding")).as("ma"))
    val checked = staged.select(
      abs(Similarity.norm(Similarity.normalizeFromNorm(col("embedding"),
        col("nrm"))) - 1d).as("unit_err"),
      // worst-case reconstruction error over the vector vs the half-step
      // bound maxAbs/254 (floor(x+0.5) is within 0.5 quantization steps)
      (array_max(zip_with(col("embedding"),
        Similarity.quantizeInt8(col("embedding"), col("ma")),
        (x, q) => abs(x.cast("double") -
          Similarity.dequantizeInt8(q, col("ma"))))) -
        (col("ma") / 254d + lit(1e-12))).as("q_excess"))
    val bad = checked.filter(col("unit_err") > 1e-9 || col("q_excess") > 0)
      .count()
    assert(bad == 0, s"$bad vectors break the normalize/quantize contracts")
  }

  test("quantized rerank: self at rank 1, high overlap with exact top-k") {
    val emb = Queries.T(spark, sf001, "embeddings")
    val q = emb.filter(col("vec_id") < 4)
    val rr = Similarity.quantizedRerankTopK(emb, q, "vec_id", "embedding",
      "vec_id", k = 5, candK = 20)
      .select("query_id", "neighbor_id", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    (0L until 4L).foreach { i =>
      assert(rr.contains((i, i, 1)), s"query $i did not rerank itself first")
    }
    val exact = Similarity.bruteForceTopK(emb, q, "vec_id", "embedding",
      "vec_id", 5).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val overlap = rr.count { case (qid, nid, _) => exact((qid, nid)) }
    assert(overlap >= 12, s"only $overlap/20 of exact top-5 survive " +
      "the int8 candidate stage (candK=20)")
  }

  test("anchorCount scales with log(N); autoAnchors derives it from data") {
    // fixed target bucket → planes grow with log(N), expected bucket size
    // N/2^m stays within [target/2, target]
    assert(Similarity.anchorCount(500, 32) == 4)
    assert(Similarity.anchorCount(1L << 20, 1024) == 10)
    assert(Similarity.anchorCount(10, 1024) == 1) // tiny corpus floor
    Seq(1000L, 100000L, 10000000L).foreach { n =>
      val m = Similarity.anchorCount(n, 1024)
      val expBucket = n.toDouble / (1L << m)
      assert(expBucket <= 1024.0 && expBucket > 256.0,
        s"N=$n m=$m expected bucket $expBucket out of bounds")
    }
    val emb = Queries.T(spark, sf001, "embeddings")
    val a32 = Similarity.autoAnchors(emb, "vec_id", "embedding", 32)
    assert(a32.length == 4 && a32.forall(_.length == 64))
    // halving the target bucket adds a plane
    assert(Similarity.autoAnchors(emb, "vec_id", "embedding", 16).length == 5)
  }

  test("ANN bucketing: query's bucket contains its own vector → found") {
    val emb = Queries.T(spark, sf001, "embeddings")
    val anchors = emb.filter(col("vec_id") < 4).orderBy(col("vec_id"))
      .collect().map(_.getSeq[Float](1).map(_.toDouble).toSeq).toSeq
    val out = Similarity.annTopK(emb, emb.filter(col("vec_id") === 42),
      "vec_id", "embedding", "vec_id", 1, anchors).collect()
    assert(out.length == 1)
    assert(out(0).getAs[Long]("neighbor_id") == 42L) // self in own bucket
  }

  test("line dedup across corpus: repeated lines vanish, order preserved") {
    import spark.implicits._
    val docs = Seq(
      (1L, "unique one\nshared line\nunique two"),
      (2L, "another doc\nshared line"),
      (3L, "solo content"),
      (4L, "shared line")) // every line repeated → empty survivor
      .toDF("doc_id", "text")
    val out = Curation.dedupLinesAcrossCorpus(docs, "doc_id", "text")
      .collect().map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Int]("n_lines"), r.getAs[Int]("n_kept"),
          r.getAs[Int]("n_dropped"), r.getAs[String]("clean")))).toMap
    assert(out(1L) == ((3, 2, 1, "unique one\nunique two"))) // order kept
    assert(out(2L) == ((2, 1, 1, "another doc")))
    assert(out(3L) == ((1, 1, 0, "solo content")))
    assert(out(4L) == ((1, 0, 1, ""))) // fully-dropped doc stays, empty
  }

  test("contamination: eval-set 5-grams flag overlapping docs only") {
    import spark.implicits._
    val benchText = "the quick brown fox jumps over the lazy dog"
    val docs = Seq(
      (1L, benchText), // the eval doc itself: every gram hits
      (2L, "prefix words then the quick brown fox jumps too"), // one window
      (3L, "completely different content with no overlap at all"),
      (4L, "tiny doc")) // < 5 tokens → zero grams, zero hits
      .toDF("doc_id", "text")
    val out = Curation.contaminationReport(docs,
      docs.filter(col("doc_id") === 1), "doc_id", "text", n = 5)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Int]("n_grams"), r.getAs[Int]("n_hit"),
          r.getAs[Boolean]("contaminated")))).toMap
    assert(out(1L) == ((5, 5, true)))
    assert(out(2L)._3 && out(2L)._2 == 1) // "the quick brown fox jumps"
    assert(out(3L) == ((4, 0, false))) // 8 tokens → 4 windows
    assert(out(4L) == ((0, 0, false)))
  }

  test("capPerGroup: deterministic top-cap per group via WindowGroupLimit") {
    import spark.implicits._
    val docs = (0L until 30L).map(i =>
      (i, s"doc number $i", if (i % 2 == 0) "a" else "b"))
      .toDF("doc_id", "text", "grp")
    val out = Curation.capPerGroupByContent(docs, "grp", "doc_id", "text", 10)
    val rows = out.collect()
    assert(rows.length == 20) // 15 per group capped to 10
    assert(rows.groupBy(_.getAs[String]("grp")).forall(_._2.length == 10))
    assert(rows.forall(_.getAs[Int]("rk") <= 10))
    // same input → same survivors (content-hash order, not partition order)
    val again = Curation.capPerGroupByContent(docs, "grp", "doc_id", "text",
      10).collect().map(_.getAs[Long]("doc_id")).sorted
    assert(again.sameElements(rows.map(_.getAs[Long]("doc_id")).sorted))
    // the scale contract: rank<=cap compiles to a partial top-k below the
    // exchange, not a full shuffle into one task per group key.
    // parquet-backed input so ConvertToLocalRelation can't fold the plan;
    // the group key must be non-constant (a literal key makes the
    // optimizer drop the partition spec and plan a global top-k instead)
    val corpus = Queries.T(spark, sf001, "documents")
      .select(col("doc_id"), col("text"),
        (col("doc_id") % 3).cast("string").as("grp"))
    val plan = Curation.capPerGroupByContent(corpus, "grp", "doc_id", "text",
      10).queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"), s"no partial top-k:\n$plan")
  }

  test("pruneLowQualitySources drops a junk domain wholesale") {
    import spark.implicits._
    val good = "the quick brown fox jumps over the lazy dog and it is fine " +
      "to keep going with a longer sentence of real words in the corpus"
    val docs = Seq(
      (1L, good, "good.com"), (2L, good + " again and again", "good.com"),
      (3L, "@@@@ #### !!!! %%%% ^^^^ &&&&", "spam.net"),
      (4L, "$$$$ ???? ****", "spam.net"))
      .toDF("doc_id", "text", "source")
    // all-punct docs still score 1/3 (the punct term zeroes but the token
    // and stopword terms coalesce) — 0.5 sits between 0.333 and 0.758
    val out = Curation.pruneLowQualitySources(docs, "text",
      "source", minMeanQuality = 0.5).collect()
    assert(out.map(_.getAs[Long]("doc_id")).sorted.sameElements(Array(1L, 2L)))
    assert(out.forall(_.getAs[String]("source") == "good.com"))
  }

  test("langIdConfusion counts (gold, predicted) pairs") {
    import spark.implicits._
    val docs = Seq(
      (1L, "the cat is on the mat and it is flat", "en"),
      (2L, "the dog is in the fog and it is agog", "en"),
      (3L, "der hund und die katze sind nicht das problem", "de"),
      (4L, "xyzzy plugh qwerty", "en")) // no markers → und
      .toDF("doc_id", "text", "lang")
    val out = Curation.langIdConfusion(docs, "text", "lang")
      .collect().map(r => (r.getAs[String]("lang_gold"),
        r.getAs[String]("lang_pred")) -> r.getAs[Long]("n_docs")).toMap
    assert(out(("en", "en")) == 2L)
    assert(out(("de", "de")) == 1L)
    assert(out(("en", "und")) == 1L)
    assert(out.values.sum == 4L)
  }

  test("unigramLogProbScore: hand-computed corpus frequencies") {
    import spark.implicits._
    // corpus tokens: aa ×3, bb ×1 → p(aa)=3/4, p(bb)=1/4
    val docs = Seq((1L, "aa aa bb"), (2L, "aa"), (3L, ""))
      .toDF("doc_id", "text")
    val out = Curation.unigramLogProbScore(docs, "doc_id", "text")
      .collect().map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Int]("n_tokens"), Option(r.getAs[java.lang.Double]
          ("mean_logp")).map(_.doubleValue)))).toMap
    val ln34 = math.log(3.0 / 4); val ln14 = math.log(1.0 / 4)
    def r6(x: Double) = BigDecimal(x).setScale(6,
      BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(out(1L)._1 == 3 &&
      math.abs(out(1L)._2.get - r6((2 * ln34 + ln14) / 3)) < 2e-6)
    assert(out(2L) == ((1, Some(r6(ln34)))))
    assert(out(3L) == ((0, None))) // token-less doc: NULL score, kept
  }

  test("unigramLogProbScore vocab cap: top-K kept, OOV floored, mean intact") {
    import spark.implicits._
    // counts: aa ×4, bb ×2, cc ×1, dd ×1 (total 8); top-2 = {aa, bb};
    // cc/dd fall to the OOV floor; ties beyond K impossible here, but the
    // boundary tie rule (count desc, token asc) is what picks bb over cc
    val docs = Seq((1L, "aa aa bb cc"), (2L, "aa aa bb dd")).toDF("doc_id", "text")
    val floor = math.log(1e-9)
    val out = Curation.unigramLogProbScore(docs, "doc_id", "text",
      vocabTopK = Some(2), oovLogProb = floor)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Int]("n_tokens"), r.getAs[Double]("mean_logp")))).toMap
    val ln48 = math.log(4.0 / 8); val ln28 = math.log(2.0 / 8)
    def r6(x: Double) = BigDecimal(x).setScale(6,
      BigDecimal.RoundingMode.HALF_UP).toDouble
    val want = r6((2 * ln48 + ln28 + floor) / 4)
    assert(out(1L)._1 == 4 && math.abs(out(1L)._2 - want) < 2e-6)
    assert(out(2L)._1 == 4 && math.abs(out(2L)._2 - want) < 2e-6)
    // uncapped path unchanged: every token keeps its trained probability
    val full = Curation.unigramLogProbScore(docs, "doc_id", "text")
      .filter(col("doc_id") === 1L).collect()(0).getAs[Double]("mean_logp")
    val ln18 = math.log(1.0 / 8)
    assert(math.abs(full - r6((2 * ln48 + ln28 + ln18) / 4)) < 2e-6)
  }

  test("tfIdfTopTerms: corpus-wide term ranks as hand-computed") {
    import spark.implicits._
    // N=3; "rare" df=1 (idf=ln 3), "mid" df=2 (idf=ln 1.5), "the" df=3
    // (idf=0 → never a top term despite tf)
    val docs = Seq(
      (1L, "the the the rare mid"), (2L, "the mid"), (3L, "the"))
      .toDF("doc_id", "text")
    val out = graft.llm.Lexical.tfIdfTopTerms(docs, "doc_id", "text", k = 2)
      .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[Int]("rank")) ->
        ((r.getAs[String]("term"), r.getAs[Double]("tfidf")))).toMap
    assert(out((1L, 1))._1 == "rare") // ln3 ≈ 1.0986 beats ln1.5 ≈ 0.405
    assert(math.abs(out((1L, 1))._2 - math.log(3.0)) < 1e-6)
    assert(out((1L, 2))._1 == "mid")
    assert(out((2L, 1))._1 == "mid")
    // doc 3 only contains the idf-0 term: it still ranks (score 0)
    assert(out((3L, 1)) == (("the", 0.0)))
  }

  test("bm25Search: matching docs ranked, non-matching absent") {
    import spark.implicits._
    val docs = Seq(
      (1L, "spark spark spark join"), // high tf on the query term
      (2L, "spark join table"), // one occurrence
      (3L, "filter scan merge")) // no query term → absent
      .toDF("doc_id", "text")
    val out = graft.llm.Lexical.bm25Search(docs, "doc_id", "text",
      Seq("spark"), k = 10).collect()
    assert(out.map(_.getAs[Long]("doc_id")).toSet == Set(1L, 2L))
    val score = out.map(r => r.getAs[Long]("doc_id") ->
      r.getAs[Double]("score")).toMap
    assert(score(1L) > score(2L)) // tf saturation still orders 3 > 1
    assert(score.values.forall(_ > 0))
  }

  test("rrfFuse: overlap outranks either single run; absent ranks NULL") {
    import spark.implicits._
    val lex = Seq((10L, 1), (20L, 2), (30L, 3)).toDF("id", "rank")
    val vec = Seq((30L, 1), (40L, 2)).toDF("id", "rank")
    val out = graft.llm.Lexical.rrfFuse(lex, vec, "id", "rank", 60, 10)
      .collect().map(r => r.getAs[Long]("id") ->
        ((Option(r.getAs[Integer]("rank_a")).map(_.toInt),
          Option(r.getAs[Integer]("rank_b")).map(_.toInt),
          r.getAs[Double]("rrf")))).toMap
    // doc 30 is in both runs → 1/63 + 1/61 beats doc 10's 1/61 alone
    assert(out(30L) == ((Some(3), Some(1),
      BigDecimal(1.0 / 63 + 1.0 / 61).setScale(6,
        BigDecimal.RoundingMode.HALF_UP).toDouble)))
    assert(out(10L)._2.isEmpty && out(40L)._1.isEmpty) // single-run docs
    assert(out(30L)._3 > out(10L)._3 && out(10L)._3 > out(20L)._3)
    assert(out.size == 4)
  }

  test("knnClassify: majority label wins, ties break to smaller label") {
    import spark.implicits._
    // two tight clusters on orthogonal axes; query 100 sits in cluster A
    val a = Seq(1f, 0f); val b = Seq(0f, 1f)
    val corpus = Seq(
      (1L, a, 7), (2L, Seq(0.9f, 0.1f), 7), (3L, Seq(0.8f, 0.2f), 3),
      (4L, b, 5), (5L, Seq(0.1f, 0.9f), 5))
      .toDF("vec_id", "embedding", "label")
    val out = Similarity.knnClassify(corpus,
      corpus.filter(col("vec_id") === 1), "vec_id", "embedding", "label",
      "vec_id", k = 3).collect()
    assert(out.length == 1)
    assert(out(0).getAs[Long]("query_id") == 1L)
    assert(out(0).getAs[Int]("pred_label") == 7) // 2 votes of 3
    assert(out(0).getAs[Int]("n_votes") == 2)
  }

  test("sortedNeighborhoodPairs: near-dups adjacent in sort, budget fixed") {
    import spark.implicits._
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again"),
      (2L, "the quick brown fox jumps over the lazy dog again and agaim"),
      (3L, "completely unrelated text about spark catalyst optimizer rules"))
      .toDF("doc_id", "text")
    val out = Dedup.sortedNeighborhoodPairs(docs, "doc_id", "text",
      bits = 16, blockBits = 4, windowSize = 3, maxHamming = 3,
      tokenHashesFn = Dedup.tokenHashesPoly)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(out.contains((1L, 2L))) // near-identical docs pair up
    // candidate budget: each row emits at most windowSize-1 neighbors —
    // with 3 docs and window 3 there can never be more than 3 pairs
    assert(out.size <= 3)
    // identical fingerprints sort adjacent regardless of id distance
    val far = Seq((1L, "alpha beta gamma"), (500000L, "alpha beta gamma"))
      .toDF("doc_id", "text")
    val pairs2 = Dedup.sortedNeighborhoodPairs(far, "doc_id", "text",
      bits = 16, blockBits = 4, windowSize = 2, maxHamming = 0,
      tokenHashesFn = Dedup.tokenHashesPoly).collect()
    assert(pairs2.length == 1 && pairs2(0).getInt(2) == 0)
  }

  test("groupCentroids + nearestCentroid: exact means, cosine argmax") {
    import spark.implicits._
    val emb = Seq(
      (1L, Seq(1f, 0f), 0), (2L, Seq(3f, 0f), 0),   // label 0 mean (2, 0)
      (3L, Seq(0f, 2f), 1), (4L, Seq(0f, 4f), 1),   // label 1 mean (0, 3)
      (5L, Seq(0.9f, 0.1f), 9)) // stray row, its own centroid
      .toDF("vec_id", "embedding", "label")
    val cent = Similarity.groupCentroids(emb, "embedding", "label")
      .collect().map(r => r.getInt(0) -> r.getSeq[Double](1)).toMap
    assert(cent(0) == Seq(2.0, 0.0) && cent(1) == Seq(0.0, 3.0))
    val assigned = Similarity.nearestCentroid(emb, "vec_id", "embedding",
      Similarity.groupCentroids(
        emb.filter(col("label") < 2), "embedding", "label"), "label")
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    // every vector lands on its geometric side, including the stray
    assert(assigned == Map(1L -> 0, 2L -> 0, 3L -> 1, 4L -> 1, 5L -> 0))
  }

  test("exactNormalized collapses case/punct/whitespace variants only") {
    import spark.implicits._
    val docs = Seq(
      (1L, "Hello, World!"), (2L, "hello   world"), (3L, "HELLO WORLD."),
      (4L, "hello worlds")).toDF("doc_id", "text")
    val out = Dedup.exactNormalized(docs, "doc_id", "text")
      .collect().map(r => r.getLong(1) -> r.getLong(2)).toMap
    assert(out == Map(1L -> 3L, 4L -> 1L)) // 1,2,3 merge; 4 survives alone
    // byte-exact dedup sees 4 distinct texts — the normalization is the op
    assert(Dedup.exact(docs, "doc_id", "text").count() == 4)
  }

  test("qualityQuantiles: equal-frequency tiers within each group") {
    import spark.implicits._
    val good = "the cat sat of the mat and the dog ran to the park in it"
    val docs = (1 to 8).map(i => (i.toLong, "en",
        if (i <= 4) good else "zzz !!! @@@ ###")) ++
      Seq((9L, "de", good), (10L, "de", "qqq"))
    val out = Curation.qualityQuantiles(docs.toDF("doc_id", "lang", "text"),
      "doc_id", "text", "lang", n = 2)
      .collect().map(r => r.getLong(0) -> r.getInt(3)).toMap
    // en: 8 docs → two tiers of 4; the garbage docs all land in tier 1
    assert((5 to 8).forall(i => out(i.toLong) == 1))
    assert((1 to 4).forall(i => out(i.toLong) == 2))
    // de tiers computed within de only
    assert(out(10L) == 1 && out(9L) == 2)
  }

  test("Shaping.chunkByTokens: cover, overlap, short-doc and empty-doc") {
    import spark.implicits._
    val docs = Seq((1L, "a b c d e f g"), (2L, "x y"), (3L, ""))
      .toDF("doc_id", "text")
    val out = graft.llm.Shaping.chunkByTokens(docs, "doc_id", "text",
      chunkSize = 4, stride = 2).collect()
      .map(r => (r.getLong(0), r.getInt(1)) -> r.getString(3)).toMap
    // doc 1: 7 tokens, stride 2 → chunks at 0,2,4 (last one short)
    assert(out == Map(
      (1L, 0) -> "a b c d", (1L, 1) -> "c d e f", (1L, 2) -> "e f g",
      (2L, 0) -> "x y"))
    // every token appears in at least one chunk (full cover)
    val covered = out.collect { case ((d, _), t) if d == 1L => t }
      .flatMap(_.split(" ")).toSet
    assert(covered == Set("a", "b", "c", "d", "e", "f", "g"))
  }

  test("Shaping.packSequences: bins cut at the budget, per-group streams") {
    import spark.implicits._
    val docs = Seq(
      (1L, "s", "a b c"), (2L, "s", "d e f"), (3L, "s", "g h"),
      (4L, "t", "one two three four five six seven eight"))
      .toDF("doc_id", "src", "text")
    val out = graft.llm.Shaping.packSequences(docs, "doc_id", "text",
      "src", budgetTokens = 4).collect()
      .map(r => r.getLong(1) -> r.getLong(3)).toMap
    // group s: starts 0,3,6 → bins 0,0,1; group t: its own stream, bin 0
    assert(out == Map(1L -> 0L, 2L -> 0L, 3L -> 1L, 4L -> 0L))
    // an over-budget doc still occupies a bin (doc 4: 8 tokens > 4)
  }

  test("editDistancePairs: distances exact, banded cap drops far pairs") {
    import spark.implicits._
    val docs = Seq((1L, "kitten and more"), (2L, "sitting and more"),
      (3L, "completely different prose here")).toDF("doc_id", "text")
    val cand = Seq((1L, 2L), (1L, 3L)).toDF("doc_a", "doc_b")
    val out = graft.llm.Dedup.editDistancePairs(docs, "doc_id", "text",
      cand, "doc_a", "doc_b", maxDist = 5)
    val m = out.collect().map(r => (r.getLong(0), r.getLong(1)) ->
      r.getInt(2)).toMap
    assert(m == Map((1L, 2L) -> 3)) // kitten→sitting = 3; far pair dropped
  }

  test("containment: asymmetric sub-document detection vs diluted Jaccard") {
    import spark.implicits._
    val df = Seq((Seq(1L, 2L), Seq(1L, 2L, 3L, 4L, 5L, 6L, 7L, 8L)))
      .toDF("a", "b")
    val r = df.select(
      graft.llm.Dedup.containment(col("a"), col("b")).as("ab"),
      graft.llm.Dedup.containment(col("b"), col("a")).as("ba"),
      graft.llm.Dedup.jaccard(col("a"), col("b")).as("j")).head()
    assert(r.getDouble(0) == 1.0)   // a fully inside b
    assert(r.getDouble(1) == 0.25)  // b mostly outside a
    assert(r.getDouble(2) == 0.25)  // Jaccard can't see the asymmetry
    // guard: empty A → 0.0, not null/NaN
    val e = spark.sql("SELECT 1").select(graft.llm.Dedup.containment(
      array(), array(lit(1L))).as("c")).head().getDouble(0)
    assert(e == 0.0)
  }

  test("weightedSample: weight-1 keeps all, weight-0 none, deterministic") {
    import spark.implicits._
    val docs = (1 to 500).map(i => (i.toLong, i)).toDF("doc_id", "w")
    def run(w: org.apache.spark.sql.Column, salt: String) =
      graft.llm.Shaping.weightedSample(docs, "doc_id", w, salt)
        .collect().map(_.getLong(0)).sorted.toSeq
    assert(run(lit(1.0), "a").size == 500)
    assert(run(lit(0.0), "a").isEmpty)
    val half = run(lit(0.5), "a")
    assert(half.size > 200 && half.size < 300) // hash-uniform ≈ 250
    assert(run(lit(0.5), "a") == half)         // deterministic re-run
    assert(run(lit(0.5), "b") != half)         // salt decorrelates passes
  }

  test("incrementalDedup: corpus content dropped, new kept, in-batch min") {
    import spark.implicits._
    val corpus = Seq((1L, "alpha"), (2L, "beta")).toDF("doc_id", "text")
    val batch = Seq((10L, "alpha"), (11L, "gamma"), (12L, "gamma"))
      .toDF("doc_id", "text")
    val out = graft.llm.Dedup.incrementalDedup(corpus, batch,
      "doc_id", "text").collect()
      .map(r => r.getLong(1) -> r.getLong(2)).toMap
    assert(out == Map(11L -> 2L)) // alpha known; gamma kept once, min id
  }

  test("repeatedSpans: shared windows flagged with position, unique not") {
    import spark.implicits._
    // docs 1 and 2 share the 3-window "alpha beta gamma"; doc 3 disjoint
    val docs = Seq(
      (1L, "alpha beta gamma delta"),       // windows at 0,1 — 0 repeated
      (2L, "zz alpha beta gamma"),          // windows at 0,1 — 1 repeated
      (3L, "one two three four five"))      // 3 windows, none repeated
      .toDF("doc_id", "text")
    val out = graft.llm.Curation.repeatedSpans(docs, "doc_id", "text",
      width = 3).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2),
        Option(r.get(3))))).toMap
    assert(out(1L) == ((2L, 1L, Some(0))))  // "alpha beta gamma" at pos 0
    assert(out(2L) == ((2L, 1L, Some(1))))  // same gram at pos 1
    assert(out(3L) == ((3L, 0L, None)))     // no cross-doc repeats
  }

  test("PQ: L2 code assignment, ADC exact on centroid-aligned vectors") {
    import spark.implicits._
    import graft.llm.Similarity
    // codebook fit: one vector per label → centroids ARE those vectors
    val fit = Seq((0L, Seq(1f, 1f, 1f, 1f), 0),
      (1L, Seq(3f, 3f, 3f, 3f), 1)).toDF("vec_id", "embedding", "label")
    val cb = Similarity.pqCodebooks(fit, "embedding", "label", m = 2, dim = 4)
    // encode a corpus of exact centroid combinations (mixed subspaces)
    val corpus = Seq((10L, Seq(1f, 1f, 1f, 1f)), (11L, Seq(3f, 3f, 3f, 3f)),
      (12L, Seq(1f, 1f, 3f, 3f))).toDF("vec_id", "embedding")
    val codes = Similarity.pqEncode(corpus, "vec_id", "embedding", cb)
    val csv = Similarity.pqCodesCsv(codes, "vec_id").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    // L2 assignment: [1,1] must code to centroid [1,1], not the
    // larger-norm [3,3] an inner-product argmax would collapse onto
    assert(csv == Map(10L -> "0,0", 11L -> "1,1", 12L -> "0,1"))
    // ADC: on centroid-aligned vectors the quantization is lossless, so
    // ADC scores equal true inner products and the ranking is exact
    val q = Seq((99L, Seq(1f, 1f, 3f, 3f))).toDF("vec_id", "embedding")
    val top = Similarity.pqAdcTopK(codes, cb, q, "vec_id", "vec_id",
      "embedding", k = 3).collect()
      .map(r => (r.getInt(3), r.getLong(1), r.getDouble(2)))
      .sortBy(_._1)
    assert(top.map(t => (t._1, t._2)).toSeq ==
      Seq((1, 11L), (2, 12L), (3, 10L))) // true dots 24 > 20 > 8
    assert(top.map(_._3).toSeq == Seq(24.0, 20.0, 8.0))
  }

  test("prefixFilterCandidates: exact — equals brute-force pairs at t") {
    import graft.llm.Dedup
    val docs = spark.read.parquet(s"$sf001/documents.parquet")
      .select(col("doc_id"), col("text")).limit(120)
    val t = 0.35
    val got = Dedup.prefixFilterCandidates(docs, "doc_id", "text", 3, t)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // brute force: all pairs, exact jaccard — the zero-false-negative bar
    val sets = Dedup.shingleSets(docs, "doc_id", "text", 3)
    val want = sets.as("a").join(sets.as("b"),
        col("a.doc") < col("b.doc"))
      .select(col("a.doc").as("doc_a"), col("b.doc").as("doc_b"),
        Dedup.jaccard(col("a.hs"), col("b.hs")).as("j"))
      .filter(round(col("j"), 6) >= t)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == want) // neither false positives nor false negatives
  }

  test("prefixFilterCandidatesCapped: per-doc strongest partners, " +
      "bounded at cap, subset of the exact face, WindowGroupLimit plan") {
    import graft.llm.Dedup
    val docs = spark.read.parquet(s"$sf001/documents.parquet")
      .select(col("doc_id"), col("text")).limit(120)
    val t = 0.35
    val exactPairs = Dedup.prefixFilterCandidates(docs, "doc_id", "text",
      3, t).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val capped = Dedup.prefixFilterCandidatesCapped(docs, "doc_id", "text",
      3, t, maxPairsPerDoc = 2)
    val got = capped.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // subset of the exact output, at most cap rows per doc_a
    assert(got.toSet.subsetOf(exactPairs.toSet))
    assert(got.groupBy(_._1).values.forall(_.length <= 2))
    // per doc_a, exactly the (jac desc, doc_b) strongest survivors
    val want = exactPairs.groupBy(_._1).values.flatMap { ps =>
      ps.sortBy(p => (-p._3, p._2)).take(2)
    }.toSet
    assert(got.toSet == want)
    // the cap compiles to a WindowGroupLimit pushdown, not a global sort
    assert(capped.queryExecution.executedPlan.toString
      .contains("WindowGroupLimit"))
  }

  test("annMultiProbeTopK: 0-flip equals annTopK; 1-flip widens candidates") {
    import graft.llm.Similarity
    val emb = spark.read.parquet(s"$sf001/embeddings.parquet")
    val queries = emb.filter(col("vec_id") < 8)
    val anchors = Similarity.firstVectors(emb, "vec_id", "embedding", 4)
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select("query_id", "neighbor_id", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val single = rows(Similarity.annTopK(emb, queries, "vec_id",
      "embedding", "vec_id", 5, anchors))
    val zeroFlip = rows(Similarity.annMultiProbeTopK(emb, queries, "vec_id",
      "embedding", "vec_id", 5, anchors, nFlips = 0))
    assert(zeroFlip == single)
    // wider probe ring ⇒ recall vs brute force can only improve
    val truth = Similarity.bruteForceTopK(emb, queries, "vec_id",
      "embedding", "vec_id", 5)
    def meanRecall(approx: org.apache.spark.sql.DataFrame) =
      Similarity.recallAtK(truth, approx, "query_id", "neighbor_id", 5)
        .agg(avg("recall")).head().getDouble(0)
    val r1 = meanRecall(Similarity.annMultiProbeTopK(emb, queries, "vec_id",
      "embedding", "vec_id", 5, anchors, nFlips = 1))
    assert(r1 >= meanRecall(Similarity.annTopK(emb, queries, "vec_id",
      "embedding", "vec_id", 5, anchors)))
  }

  test("sourceDupStats: dup rate per source from content hashes") {
    import spark.implicits._
    val docs = Seq((1L, "a", "s1"), (2L, "a", "s1"), (3L, "b", "s1"),
      (4L, "c", "s2")).toDF("doc_id", "text", "source")
    val out = graft.llm.Curation.sourceDupStats(docs, "text", "source")
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2),
        r.getDouble(3)))).toMap
    assert(out("s1") == ((3L, 2L, 0.333333)))
    assert(out("s2") == ((1L, 1L, 0.0)))
  }

  test("sentenceArray: punctuation runs split, empties trimmed away") {
    import spark.implicits._
    val out = Seq("One. Two!! Three?  ", "", "no terminal punct")
      .toDF("text")
      .select(graft.llm.Text.sentenceArray(col("text")).as("s"))
      .collect().map(_.getSeq[String](0))
    assert(out(0) == Seq("One", "Two", "Three"))
    assert(out(1) == Seq())
    assert(out(2) == Seq("no terminal punct"))
  }

  test("stripMarkup: tags out, entities decoded, whitespace collapsed") {
    import spark.implicits._
    val out = Seq("<div a=\"1\">Hello &amp;\n <b>world</b>&nbsp;!</div>")
      .toDF("text")
      .select(graft.llm.Text.stripMarkup(col("text"))).head().getString(0)
    assert(out == "Hello & world !")
  }

  test("phraseSearch: normalized phrase, counts, non-matches absent") {
    import spark.implicits._
    val docs = Seq((1L, "The quick brown fox. Quick brown shoes."),
      (2L, "quick red fox"), (3L, "brown quick nothing"))
      .toDF("doc_id", "text")
    val out = graft.llm.Lexical.phraseSearch(docs, "doc_id", "text",
      "Quick, Brown!").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(out == Map(1L -> 2)) // punctuation-normalized, both hits found
  }

  test("assembleSequences: id-ordered concat per bin, any partitioning") {
    import spark.implicits._
    val packed = Seq(("s", 0L, 2L, "beta"), ("s", 0L, 1L, "alpha"),
      ("s", 1L, 3L, "gamma"), ("t", 0L, 4L, "delta"))
      .toDF("src", "bin", "doc_id", "text").repartition(7)
    val out = graft.llm.Shaping.assembleSequences(packed, "src", "bin",
      "doc_id", "text").collect()
      .map(r => (r.getString(0), r.getLong(1)) ->
        ((r.getLong(2), r.getString(3)))).toMap
    assert(out(("s", 0L)) == ((2L, "alpha<|eos|>beta"))) // id order, not
    assert(out(("s", 1L)) == ((1L, "gamma")))            // arrival order
    assert(out(("t", 0L)) == ((1L, "delta")))
  }

  test("selectToBudget: greedy cut per group, straddler excluded") {
    import spark.implicits._
    val docs = Seq(("s", 1L, 40L), ("s", 2L, 50L), ("s", 3L, 20L),
      ("t", 4L, 100L)).toDF("src", "doc_id", "n_tokens")
    val out = graft.llm.Shaping.selectToBudget(docs, "src",
      Seq("doc_id"), "n_tokens", budgetTokens = 90L).collect()
      .map(r => r.getLong(1) -> r.getLong(3)).toMap
    // s: cum 40, 90 kept; doc 3 at cum 110 excluded (cap, not target);
    // t: its single doc exceeds the budget outright and drops too
    assert(out == Map(1L -> 40L, 2L -> 90L))
  }

  test("Shaping.stratifiedSample: rates honored, deterministic, no RNG") {
    import spark.implicits._
    val docs = (1 to 1000).map(i => (i.toLong, s"doc number $i unique", if (i % 2 == 0) "en" else "xx"))
      .toDF("doc_id", "text", "lang")
    val keep = graft.llm.Shaping.stratifiedSample(docs, "text", "lang",
      permille = Seq("en" -> 1000, "xx" -> 0), defaultPermille = 0)
    val langs = keep.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(langs == Map("en" -> 500L)) // 100% of en, 0% of xx
    // determinism: exact same survivors on re-run
    val a = keep.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    val b = graft.llm.Shaping.stratifiedSample(docs, "text", "lang",
      permille = Seq("en" -> 1000, "xx" -> 0), defaultPermille = 0)
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(a == b)
  }

  test("invertedIndex: df/tf exact over all docs, posting list capped") {
    import spark.implicits._
    val docs = Seq((3L, "x x y"), (1L, "x z"), (2L, "x")).toDF("id", "text")
    val out = graft.llm.Lexical.invertedIndex(docs, "id", "text",
      maxPostings = 2).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    // x: df 3, tf 4 (doc 3 has two), postings capped to the 2 SMALLEST ids
    assert(out("x") == ((3L, 4L, "1,2")))
    assert(out("y") == ((1L, 1L, "3")))
    assert(out("z") == ((1L, 1L, "1")))
  }

  test("chiSquareTerms: perfectly discriminative term ranks first") {
    import spark.implicits._
    // "foo" appears in ALL de docs and NO en docs; fillers shared
    val docs = Seq(
      (1L, "de", "foo und und"), (2L, "de", "foo und oder"),
      (3L, "de", "foo oder"), (4L, "en", "and or"),
      (5L, "en", "and and or"), (6L, "en", "or und")).toDF("id", "lang", "t")
    val out = graft.llm.Lexical.chiSquareTerms(docs, "id", "t", "lang",
      minDf = 1L, k = 3).collect()
      .map(r => (r.getString(0), r.getInt(5)) -> r.getString(1)).toMap
    // a=3,b=0,c=0,d=3 → chi2 = 6·(3·3)²/(3·3·3·3) = 6; shared terms score
    // lower ("und": a=2,b=1 → 0.667; "oder": a=2,b=0 → 3)
    assert(out(("de", 1)) == "foo")
    // "or" is the en mirror image (all 3 en docs, no de doc)
    assert(out(("en", 1)) == "or")
  }

  test("lshCalibration: exact copies read 1e6/1e6/0, est tracks exact") {
    import spark.implicits._
    val base = "the quick brown fox jumps over the lazy dog and runs away"
    val docs = Seq((1L, base), (2L, base),            // exact dup pair
      (3L, base + " extra tail words here"),         // near dup of 1/2
      (4L, "completely different content on another topic entirely"))
      .toDF("id", "text")
    val out = graft.llm.Dedup.lshCalibration(docs, "id", "text",
      shingleWidth = 3, k = 16, bands = 4, minEstJaccard = 0.2,
      maxBucket = 100)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    val (est12, exact12, err12) = out((1L, 2L))
    assert(est12 == 1000000L && exact12 == 1000000L && err12 == 0L)
    // every surfaced pair: err is |est − exact| by construction
    out.values.foreach { case (e, x, d) => assert(d == math.abs(e - x)) }
    // the near-dup pair surfaces with exact < 1e6
    assert(out.contains((1L, 3L)) && out((1L, 3L))._2 < 1000000L)
  }

  test("vocabCoverage: monotone cumulative ppm, full-vocab cut hits 1e6") {
    import spark.implicits._
    val docs = Seq((1L, "a a a b b c"), (2L, "a b x")).toDF("id", "text")
    // 9 tokens: a=4, b=3, c=1, x=1
    val out = graft.llm.Lexical.vocabCoverage(docs, "text", topK = 10)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getInt(2),
        r.getLong(3))).sortBy(_._3)
    assert(out.map(t => (t._1, t._2, t._3)).toSeq ==
      Seq(("a", 4L, 1), ("b", 3L, 2), ("c", 1L, 3), ("x", 1L, 4)))
    // cum ppm: 4/9, 7/9, 8/9, 9/9 floored
    assert(out.map(_._4).toSeq == Seq(444444L, 777777L, 888888L, 1000000L))
    // a tighter cut keeps the prefix unchanged
    val cut = graft.llm.Lexical.vocabCoverage(docs, "text", topK = 2)
      .collect().map(r => (r.getString(0), r.getLong(3))).sortBy(_._1)
    assert(cut.toSeq == Seq(("a", 444444L), ("b", 777777L)))
  }

  test("similarityBandPairs: duplicates excluded, band = calibration cut") {
    import spark.implicits._
    val base = "the quick brown fox jumps over the lazy dog and runs away"
    val docs = Seq((1L, base), (2L, base),
      (3L, base + " extra tail words here"),
      (4L, "completely different content on another topic entirely"))
      .toDF("id", "text")
    val band = graft.llm.Dedup.similarityBandPairs(docs, "id", "text",
      loPpm = 200000L, hiPpm = 950000L, minEstJaccard = 0.2,
      maxBucket = 100)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2))
      .toMap
    // the exact-copy pair (ppm = 1e6) is OUT; the near-dup pairs are in
    assert(!band.contains((1L, 2L)))
    assert(band.contains((1L, 3L)))
    band.values.foreach(p => assert(p >= 200000L && p < 950000L))
    // consistency with the calibration report's exact_ppm
    val cal = graft.llm.Dedup.lshCalibration(docs, "id", "text",
      shingleWidth = 3, k = 16, bands = 4, minEstJaccard = 0.2,
      maxBucket = 100)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(3))
      .toMap
    assert(band == cal.filter { case (_, p) => p >= 200000L && p < 950000L })
  }

  test("splitLeakage: exact copies never leak, rows are cross-split " +
      "near-dups, agreement with the composed form") {
    import spark.implicits._
    // 40 base docs + exact copies of 1..10 + truncated near-dups of all
    val texts = (1 to 40).map(i =>
      i -> (s"shared boilerplate sentence number $i with unique marker " +
        s"word${i}a word${i}b word${i}c and enough tokens to shingle"))
    val rows = texts.map { case (i, t) => (i.toLong, t) } ++
      texts.take(10).map { case (i, t) => (i + 1000L, t) } ++ // exact
      texts.map { case (i, t) => (i + 2000L, t.dropRight(25)) } // near
    val docs = rows.toDF("doc_id", "text")
    val leaks = graft.llm.Curation.splitLeakage(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getString(3), r.getString(4)))
    // exact-copy pairs share content hash → same split → never emitted
    leaks.foreach { case (a, b, _, sa, sb) =>
      assert(!(b == a + 1000L), s"exact pair ($a,$b) leaked")
      assert(sa != sb)
    }
    // independent composition: fuzzy pairs joined to split assignments
    val pairs = graft.llm.Dedup.fuzzyDuplicates(docs, "doc_id", "text",
      minJaccard = 0.2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val split = docs.select(col("doc_id"), graft.llm.Text.hashSplit(
      col("text"), Seq("train" -> 90, "val" -> 5, "holdout" -> 5))
      .as("s")).collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val want = pairs.filter { case (a, b) => split(a) != split(b) }
    assert(leaks.map(l => (l._1, l._2)).toSet == want)
  }

  test("corpusStopwords: ppm threshold is an exact integer cut") {
    import spark.implicits._
    val docs = Seq((1L, "the cat"), (2L, "the dog"), (3L, "the the fox"))
      .toDF("id", "text")
    val out = graft.llm.Curation.corpusStopwords(docs, "id", "text",
      minDfPpm = 600000L).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    // df("the")=3 (presence-grain, not 4) → 1_000_000 ppm; others 333333
    assert(out == Set(("the", 3L, 1000000L)))
  }

  test("sourceUnigramKl: hand-computed two-source corpus; blend-identical " +
      "source scores zero") {
    import spark.implicits._
    val docs = Seq((1L, "a a b", "A"), (2L, "a", "B"))
      .toDF("id", "text", "source")
    val out = graft.llm.Curation.sourceUnigramKl(docs, "text", "source")
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    val klA = BigDecimal(2d / 3 * math.log(8d / 9) + 1d / 3 * math.log(4d / 3))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val klB = BigDecimal(math.log(4d / 3))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(out == Map("A" -> ((3L, 2L, klA)), "B" -> ((1L, 1L, klB))))
    // one source == the whole corpus → p(t|s) = p(t) → KL exactly 0
    val solo = graft.llm.Curation.sourceUnigramKl(
      Seq((1L, "x y x", "S")).toDF("id", "text", "source"), "text", "source")
      .collect()
    assert(solo.head.getDouble(3) == 0d)
  }

  test("sourceOverlapMatrix: canonical pairs, distinct-hash grain, " +
      "non-overlapping pairs absent") {
    import spark.implicits._
    val docs = Seq(
      (1L, "shared one", "a"), (2L, "shared one", "b"),
      (3L, "shared one", "b"), // same hash twice in b — still 1 shared
      (4L, "shared two", "a"), (5L, "shared two", "c"),
      (6L, "only a", "a"), (7L, "only b", "b")
    ).toDF("id", "text", "source")
    val got = graft.llm.Curation.sourceOverlapMatrix(docs, "text", "source")
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2))
      .toMap
    assert(got == Map(("a", "b") -> 1L, ("a", "c") -> 1L))
  }

  test("rendezvousAssign: in-range deterministic shards; growing k only " +
      "moves rows to the NEW shard; null id gets null") {
    import spark.implicits._
    val docs = (1L to 400L).map(i => Tuple1(i)).toDF("id")
    def shards(k: Int) = graft.llm.Shaping.rendezvousAssign(docs, "id", k)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val s4 = shards(4); val s5 = shards(5)
    assert(s4.values.forall(s => s >= 0 && s < 4))
    // HRW stability: every reassigned row moved to the new shard 4
    val moved = s4.keys.filter(id => s4(id) != s5(id))
    assert(moved.nonEmpty && moved.forall(id => s5(id) == 4))
    // and the mix actually spreads: all 4 shards populated
    assert(s4.values.toSet == Set(0, 1, 2, 3))
    val n = graft.llm.Shaping.rendezvousAssign(
      Seq[Option[Long]](None).toDF("id"), "id", 4).collect()
    assert(n.head.isNullAt(1))
  }

  test("syllablesFromTokens: vowel-group runs per token, floor one, " +
      "empty array zero, null propagates") {
    import spark.implicits._
    // hello→2 (e,o), world→1 (o), 123→1 (floored), rhythm→1 (y),
    // beautiful→3 (eau, i, u)
    val out = Seq("hello world 123 rhythm beautiful", "", null)
      .toDF("text")
      .select(Text.syllablesFromTokens(Text.tokens(col("text"))).as("s"))
      .collect()
    assert(out(0).getLong(0) == 8L)
    assert(out(1).getLong(0) == 0L)
    assert(out(2).isNullAt(0))
  }

  test("zipfFit: agrees with an independent BigInt least-squares over " +
      "the same micro-nat lattice; topK cuts; degenerate fit is null") {
    import spark.implicits._
    // counts: a=8, b=4, c=2, d=1 → ranks 1..4 (count desc, term asc)
    val docs = Seq((1L, "a a a a b b c d"), (2L, "a a a a b b c"))
      .toDF("id", "text")
    def ref(counts: Seq[Long]): (Long, Option[Double], Option[Double]) = {
      val pts = counts.zipWithIndex.map { case (n, i) =>
        (BigInt(math.round(math.log(i + 1d) * 1e6)),
          BigInt(math.round(math.log(n.toDouble) * 1e6)))
      }
      val k = BigInt(pts.size)
      val sx = pts.map(_._1).sum; val sy = pts.map(_._2).sum
      val sxy = pts.map(p => p._1 * p._2).sum
      val sxx = pts.map(p => p._1 * p._1).sum
      val syy = pts.map(p => p._2 * p._2).sum
      val num = k * sxy - sx * sy
      val dx = k * sxx - sx * sx; val dy = k * syy - sy * sy
      def r6(v: Double) = BigDecimal(v)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      (pts.size.toLong,
        if (dx > 0) Some(r6(num.toDouble / dx.toDouble)) else None,
        if (dx > 0 && dy > 0)
          Some(r6(num.toDouble * num.toDouble / (dx.toDouble * dy.toDouble)))
        else None)
    }
    def got(topK: Int) = {
      val r = graft.llm.Lexical.zipfFit(docs, "text", topK).collect().head
      (r.getLong(0),
        if (r.isNullAt(1)) None else Some(r.getDouble(1)),
        if (r.isNullAt(2)) None else Some(r.getDouble(2)))
    }
    assert(got(10) == ref(Seq(8L, 4L, 2L, 1L)))
    assert(got(2) == ref(Seq(8L, 4L)))    // head cut honored
    val slope = got(10)._2.get
    assert(slope < 0d)                    // Zipf slope is negative
    val r2 = got(10)._3.get
    assert(r2 > 0.9 && r2 <= 1d)          // near-power-law corpus fits well
    // single distinct term → rank variance 0 → null slope/r2, n_terms 1
    val solo = graft.llm.Lexical.zipfFit(
      Seq((1L, "x x x")).toDF("id", "text"), "text", topK = 5)
    val sr = solo.collect().head
    assert(sr.getLong(0) == 1L && sr.isNullAt(1) && sr.isNullAt(2))
  }

  private def round6(d: Double): Double =
    BigDecimal(d).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  test("lexicalDiversity: hand counts incl. hapax; zero-token doc " +
      "emits no row") {
    import spark.implicits._
    val docs = Seq((1L, "the cat the dog cat the"), (2L, "a b c"),
      (3L, "..."), (4L, null.asInstanceOf[String])).toDF("doc_id", "text")
    val out = graft.llm.Lexical.lexicalDiversity(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4),
          r.getDouble(5)))).toMap
    // doc 1: 6 tokens, 3 types (the×3, cat×2, dog×1), 1 hapax
    assert(out == Map(
      1L -> ((6L, 3L, 1L, 0.5, round6(1d / 6))),
      2L -> ((3L, 3L, 3L, 1.0, 1.0))))
  }

  test("charClassCensus: exact class counts; entropy of a uniform " +
      "two-class text is ln 2; empty text null entropy") {
    import spark.implicits._
    val out = Seq("ab12", "abc", "", null.asInstanceOf[String],
      "a b\tc\nd").toDF("text")
      .select(Text.charClassCensus(col("text")).as("c"))
      .select("c.n_letters", "c.n_digits", "c.n_spaces", "c.n_other",
        "c.entropy").collect()
    // "ab12": 2 letters 2 digits → H = ln 2
    assert((out(0).getLong(0), out(0).getLong(1), out(0).getLong(2),
      out(0).getLong(3)) == ((2L, 2L, 0L, 0L)))
    assert(out(0).getDouble(4) == round6(math.log(2)))
    // single class → entropy exactly 0
    assert(out(1).getDouble(4) == 0d)
    // empty and null: zero counts, null entropy
    Seq(2, 3).foreach { i =>
      assert((out(i).getLong(0), out(i).getLong(1), out(i).getLong(2),
        out(i).getLong(3)) == ((0L, 0L, 0L, 0L)) && out(i).isNullAt(4))
    }
    // tab and newline count as whitespace
    assert(out(4).getLong(2) == 3L)
  }

  test("temperatureMixWeights: exact ppm shares, integer floor-sqrt, " +
      "tail source up-weighted vs its raw share") {
    import spark.implicits._
    // head source 9× the tail's tokens
    val docs = Seq((1L, "t t t t t t t t t", "head"), (2L, "t", "tail"))
      .toDF("doc_id", "text", "source")
    val out = graft.llm.Shaping.temperatureMixWeights(docs, "source", "text")
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    // shares: 900000 / 100000 ppm; √ = 948 / 316; weights over 1264
    assert(out == Map(
      "head" -> ((1L, 9L, 900000L, 948L * 1000000L / 1264L)),
      "tail" -> ((1L, 1L, 100000L, 316L * 1000000L / 1264L))))
    // temperature flattening: tail weight share ≫ raw token share
    assert(out("tail")._4 > 2 * out("tail")._3)
  }

  test("interleaveSources: round-robin golden, positions are a " +
      "permutation of 1..N, within-source order preserved") {
    import spark.implicits._
    // a has 3 docs, b has 2, c has 1 → a1 b1 c1 a2 b2 a3
    val docs = Seq((1L, "a"), (2L, "a"), (3L, "a"), (10L, "b"), (11L, "b"),
      (20L, "c")).toDF("id", "src")
    val out = graft.llm.Shaping.interleaveSources(docs, "src", Seq("id"))
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(3))
      .toMap
    assert(out == Map(("a", 1L) -> 1L, ("b", 10L) -> 2L, ("c", 20L) -> 3L,
      ("a", 2L) -> 4L, ("b", 11L) -> 5L, ("a", 3L) -> 6L))
    // permutation: every global position 1..N exactly once
    assert(out.values.toSeq.sorted == (1L to 6L))
    // within-source order preserved in global position
    assert(out(("a", 1L)) < out(("a", 2L)) && out(("a", 2L)) < out(("a", 3L)))
  }

  test("resampleToMix: exact per-source quotas at the binding-source " +
      "maximum, hash-order selection is stable under corpus growth") {
    import spark.implicits._
    // 8 docs of a, 2 of b; target 50/50 → b binds: λ=4, keep 2+2
    val docs = ((1L to 8L).map(i => (i, "a")) ++ Seq((100L, "b"), (101L, "b")))
      .toDF("id", "src")
    val weights = Seq(("a", 500000L), ("b", 500000L))
      .toDF("source", "weight_ppm")
    val kept = graft.llm.Shaping.resampleToMix(docs, "src", "id", weights)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    assert(kept.count(_._1 == "a") == 2 && kept.count(_._1 == "b") == 2)
    // growth stability: adding docs to the NON-binding source changes
    // nothing (quota and hash ranks of kept rows are unchanged)
    val grown = docs.union(Seq((9L, "a"), (10L, "a")).toDF("id", "src"))
    val kept2 = graft.llm.Shaping.resampleToMix(grown, "src", "id", weights)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    assert(kept2.filter(_._1 == "b").toSet == kept.filter(_._1 == "b").toSet)
  }

  test("boilerplateLines: per-source rate with in-doc repeats counted " +
      "once, blank lines ignored, thresholds enforced") {
    import spark.implicits._
    // "nav" in 3/3 docs of a (twice in doc 1 — counts once); "body" in
    // 1 doc; source b has "nav" once only (under minDocs)
    val docs = Seq(
      (1L, "a", "nav\nnav\nbody text"), (2L, "a", "nav\nother"),
      (3L, "a", "nav\n\n  "), (4L, "b", "nav\nsolo")).toDF("id", "src", "text")
    val out = graft.llm.Curation.boilerplateLines(docs, "src", "id", "text",
        minDocs = 2, minPpm = 500000L)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
    assert(out.toSeq == Seq(("a", "nav", 3L, 3L, 1000000L)))
  }

  test("ngramNovelty: first doc fully novel, verbatim restatement " +
      "scores 0, partial overlap is the exact ppm") {
    import spark.implicits._
    val docs = Seq((1L, "alpha beta gamma delta"), // grams: abg bgd
      (2L, "alpha beta gamma delta"),              // restates both → 0
      (3L, "alpha beta gamma epsilon zeta eta"))   // abg old; 3 new of 4
      .toDF("id", "text")
    val out = graft.llm.Text.ngramNovelty(docs, "id", "text", 3)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(out(1L) == ((2L, 2L, 1000000L)))
    assert(out(2L) == ((2L, 0L, 0L)))
    assert(out(3L) == ((4L, 3L, 750000L)))
  }

  test("sourceJensenShannon: identical mixes score exactly 0, hand " +
      "golden for the asymmetric pair, disjoint vocab emits no row") {
    import spark.implicits._
    val docs = Seq(("a", "x x y"), ("b", "x y y"), ("c", "x x y"),
      ("d", "zz ww")).toDF("src", "text")
    val out = graft.llm.Curation.sourceJensenShannon(docs, "text", "src")
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getDouble(3)))).toMap
    // a ≡ c → 0 exactly; a vs b: (2/3)ln(4/3) + (1/3)ln(2/3) ≈ 0.056633
    assert(out(("a", "c")) == ((2L, 0.0)))
    assert(out(("a", "b")) == ((2L, 0.056633)))
    assert(out(("b", "c")) == ((2L, 0.056633)))
    // d shares no term with anyone → absent
    assert(!out.keySet.exists(p => p._1 == "d" || p._2 == "d"))
  }

  test("bloomAudit: no false negatives, false positives are exactly " +
      "hits minus members, member-only probe set nulls the rate") {
    import spark.implicits._
    val members = Seq(1L, 2L, 3L).toDF("k")
    val probes = Seq(1L, 2L, 3L, 100L, 200L, 300L, 400L).toDF("k")
    val r = graft.engine.Sketches.bloomAudit(members, "k", probes, "k",
      d = 3, mBits = 4096).collect().head
    val (np, nm, nh, nfp) = (r.getLong(0), r.getLong(1), r.getLong(2),
      r.getLong(3))
    assert(np == 7L && nm == 3L)
    assert(nh >= nm) // every member probe hits — no false negatives
    assert(nfp == nh - nm)
    assert(r.getLong(4) == nfp * 1000000L / 4L)
    // probing only members: fp rate has no denominator → null
    val r2 = graft.engine.Sketches.bloomAudit(members, "k", members, "k",
      d = 3, mBits = 4096).collect().head
    assert(r2.getLong(2) == 3L && r2.isNullAt(4))
  }

  test("heapsLawFit: all-new-token corpus fits beta = 1 exactly; " +
      "constant-vocabulary corpus fits beta = 0") {
    import spark.implicits._
    val growing = (1L to 10L).map(i => (i, s"t${i}a t${i}b"))
      .toDF("id", "text")
    val g = graft.llm.Lexical.heapsLawFit(growing, "id", "text", 1L)
      .collect().head
    assert((g.getLong(0), g.getLong(1), g.getDouble(2)) == ((10L, 45L, 1.0)))
    val flat = (1L to 8L).map(i => (i, "same three tokens"))
      .toDF("id", "text")
    val f = graft.llm.Lexical.heapsLawFit(flat, "id", "text", 1L)
      .collect().head
    assert(f.getLong(0) == 8L && f.getDouble(2) == 0.0)
  }

  test("kMeansRounds: k beyond the corpus degrades to one point per " +
      "cluster with cos exactly 1") {
    import spark.implicits._
    val pts = Seq((1L, Array(1.0f, 0.0f)), (2L, Array(0.0f, 1.0f)))
      .toDF("id", "v")
    val out = graft.llm.Similarity.kMeansRounds(pts, "id", "v",
        k = 5, rounds = 2)
      .collect().map(r => r.getLong(0) -> ((r.getInt(1), r.getDouble(2))))
      .toMap
    assert(out == Map(1L -> ((0, 1.0)), 2L -> ((1, 1.0))))
  }

  test("kMeansRounds: separable clusters converge to the exact " +
      "partition; extra rounds past the fixpoint change nothing") {
    import spark.implicits._
    // seeds are min-ids 1 and 2 — one per true cluster by construction
    val pts = Seq(
      (1L, Array(1.0f, 0.0f)), (2L, Array(0.0f, 1.0f)),
      (3L, Array(0.9f, 0.1f)), (4L, Array(0.95f, 0.05f)),
      (5L, Array(0.1f, 0.9f)), (6L, Array(0.05f, 0.95f)))
      .toDF("id", "v")
    def fit(rounds: Int) =
      graft.llm.Similarity.kMeansRounds(pts, "id", "v", k = 2, rounds)
        .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val got = fit(2)
    assert(Seq(1L, 3L, 4L).map(got) == Seq(0, 0, 0))
    assert(Seq(2L, 5L, 6L).map(got) == Seq(1, 1, 1))
    assert(fit(3) == got) // fixpoint
  }

  test("keepBestPerCluster: max score wins, ties break on min id, " +
      "singletons pass through") {
    import spark.implicits._
    val rows = Seq((1L, "A", 5L), (2L, "A", 9L), (3L, "A", 9L),
      (4L, "B", 1L)).toDF("id", "cluster", "score")
    val out = graft.llm.Dedup.keepBestPerCluster(rows, "id", "cluster",
      "score").collect().map(r => r.getString(1) -> r.getLong(0)).toMap
    assert(out == Map("A" -> 2L, "B" -> 4L))
  }

  test("packByCost: bins cut at the running-cost budget; packSequences " +
      "is the tokenCount specialization") {
    import spark.implicits._
    val rows = Seq(("g", 1L, 3000L), ("g", 2L, 3000L), ("g", 3L, 3000L),
      ("g", 4L, 9000L), ("g", 5L, 1L)).toDF("grp", "id", "cost")
    val out = graft.llm.Shaping.packByCost(rows, "id", "cost", "grp", 8192L)
      .collect().map(r => r.getLong(1) -> r.getLong(3)).toMap
    // starts: 0, 3000, 6000, 9000, 18000 → bins 0,0,0,1,2
    assert(out == Map(1L -> 0L, 2L -> 0L, 3L -> 0L, 4L -> 1L, 5L -> 2L))
    val docs = Seq(("g", 1L, "a b c"), ("g", 2L, "d e")).toDF("grp", "id", "t")
    val viaSeq = graft.llm.Shaping.packSequences(docs, "id", "t", "grp", 4)
      .collect().map(r => (r.getLong(1), r.getLong(3)))
    assert(viaSeq.toSet == Set((1L, 0L), (2L, 0L)))
  }

  test("patchCount: closed form equals the exploded patchGrid cardinality") {
    import spark.implicits._
    val imgs = Seq((1L, 300, 200), (2L, 127, 500), (3L, 128, 128))
      .toDF("id", "w", "h")
      .withColumn("mm", struct(struct(col("w").as("width"),
        col("h").as("height")).as("meta")))
    val counted = imgs.select(col("id"),
      graft.llm.Multimodal.patchCount(col("mm"), 128, 128).as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // 300×200 → 2×1; 127-wide → 0; exact-fit → 1×1
    assert(counted == Map(1L -> 2L, 2L -> 0L, 3L -> 1L))
    val exploded = graft.llm.Multimodal.patchGrid(imgs, "mm", 128, 128)
      .groupBy("id").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(exploded == counted.filter(_._2 > 0))
  }

  test("resampleToMix/epochPlan: sources absent from the weights frame " +
      "are excluded, not passed through unsampled") {
    import spark.implicits._
    val docs = Seq((1L, "a"), (2L, "a"), (3L, "b")).toDF("id", "src")
    val w = Seq(("a", 1000000L)).toDF("source", "weight_ppm")
    val kept = graft.llm.Shaping.resampleToMix(docs, "src", "id", w)
      .collect().map(_.getString(0))
    assert(kept.nonEmpty && kept.forall(_ == "a"))
    val planned = graft.llm.Shaping.epochPlan(docs, "src", "id", w)
      .collect().map(_.getString(0))
    assert(planned.nonEmpty && planned.forall(_ == "a"))
  }

  test("epochPlan: under-served source repeats floor(w/share) epochs, " +
      "over-served clamps to one") {
    import spark.implicits._
    val docs = ((1L to 9L).map(i => (i, "a")) :+ ((100L, "b")))
      .toDF("id", "src")
    val weights = Seq(("a", 500000L), ("b", 500000L))
      .toDF("source", "weight_ppm")
    val out = graft.llm.Shaping.epochPlan(docs, "src", "id", weights)
      .collect().map(r => (r.getLong(1), r.getLong(3)))
    // shares: a 900000, b 100000 → epochs a=1, b=5
    assert(out.count(_._1 <= 9L) == 9)
    assert(out.filter(_._1 == 100L).map(_._2).sorted.toSeq == (1L to 5L))
  }

  test("epochPlan: a sub-ppm source (share_ppm floors to 0) clamps to " +
      "one epoch instead of dividing by zero under ANSI mode") {
    import spark.implicits._
    // 2,000,001 docs of "a" vs 1 doc of "b": b's share is
    // floor(1e6 / 2000002) = 0 — the valuable-tail-source scenario.
    val docs = spark.range(0, 2000001).selectExpr("id", "'a' AS src")
      .union(spark.range(9000000, 9000001).selectExpr("id", "'b' AS src"))
    val weights = Seq(("a", 999999L), ("b", 1L)).toDF("source", "weight_ppm")
    val out = graft.llm.Shaping.epochPlan(docs, "src", "id", weights)
    // must not throw DIVIDE_BY_ZERO; b keeps exactly one epoch
    val b = out.filter(col("src") === "b").collect()
    assert(b.length == 1 && b.head.getLong(3) == 1L)
  }

  test("temperatureMixWeights: an all-empty-token corpus yields zero " +
      "shares and weights instead of dividing by zero under ANSI mode") {
    import spark.implicits._
    val docs = Seq((1L, "a", ""), (2L, "b", "   "), (3L, "b", ""))
      .toDF("id", "source", "text")
    val out = graft.llm.Shaping
      .temperatureMixWeights(docs, "source", "text")
      .collect().map(r => r.getString(0) ->
        ((r.getLong(3), r.getLong(4)))).toMap
    assert(out == Map("a" -> ((0L, 0L)), "b" -> ((0L, 0L))))
  }

  test("resampleToMix: weight_ppm = 0 rows (temperatureMixWeights emits " +
      "them for sub-ppm sources) are excluded, not a divide-by-zero") {
    import spark.implicits._
    val docs = Seq((1L, "a"), (2L, "a"), (3L, "a"), (4L, "b"))
      .toDF("id", "src")
    val weights = Seq(("a", 1000000L), ("b", 0L))
      .toDF("source", "weight_ppm")
    val kept = graft.llm.Shaping.resampleToMix(docs, "src", "id", weights)
      .collect().map(_.getString(0))
    assert(kept.nonEmpty && kept.forall(_ == "a"))
  }

  test("canonicalizeUrl: fragment/utm stripped, host lowercased with " +
      "path case kept, trailing slash removed, bare host passes") {
    import spark.implicits._
    val cases = Seq(
      "HTTPS://WWW.Ex.COM/Page/1?utm_source=a&x=1#frag" ->
        "https://www.ex.com/Page/1?x=1",
      "https://ex.com/p/2?utm_campaign=a" -> "https://ex.com/p/2",
      "https://ex.com/p/3/" -> "https://ex.com/p/3",
      "https://ex.com/" -> "https://ex.com",
      "ex.com/A/b?gclid=z&keep=1" -> "ex.com/A/b?keep=1",
      "https://Ex.com#top" -> "https://ex.com")
    val out = cases.map(_._1).toDF("u")
      .select(graft.llm.Curation.canonicalizeUrl(col("u")))
      .collect().map(_.getString(0))
    assert(out.toSeq == cases.map(_._2))
  }

  test("codeFlags: structural lines counted once per line (overlapping " +
      "classes don't double-fire the threshold), keyword hit flags " +
      "alone, prose stays clean") {
    import spark.implicits._
    val docs = Seq(
      (1L, "plain prose here\nanother line"),
      (2L, "int x;\n{\n    indented\n}"),
      (3L, "we call def main(x) in prose"),
      // one line that is BOTH indented and semicolon-terminated among 5
      // lines: distinct-line count 1/5 = 20% < 30% → not code; the old
      // per-class sum (2) would have fired the threshold at 40%
      (4L, "    x = 1;\nprose\nprose\nprose\nprose")).toDF("id", "text")
    val out = graft.llm.Text.codeFlags(docs, "id", "text")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5), r.getBoolean(6),
        r.getBoolean(7))))
      .toMap
    assert(out(1L) == ((2L, 0L, 0L, 0L, 0L, false, false)))
    // all 4 lines of doc 2 are structural, each counted once
    assert(out(2L) == ((4L, 1L, 2L, 1L, 4L, false, true)))
    assert(out(3L) == ((1L, 0L, 0L, 0L, 0L, true, true)))
    assert(out(4L) == ((5L, 1L, 0L, 1L, 1L, false, false)))
  }

  test("minePromptPairs: '?' line followed by non-blank yields a pair, " +
      "blank responses and short docs drop") {
    import spark.implicits._
    val docs = Seq(
      (1L, "Q one?\nAnswer.\nmid\nQ two?   \n\nafter"),
      (2L, "no questions here\nat all"),
      (3L, "hmm?")).toDF("id", "text")
    val out = graft.llm.Curation.minePromptPairs(docs, "id", "text")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2),
        r.getString(3)))
    // "Q two?" is followed by a blank line → rejected; doc 3 too short
    assert(out.toSeq == Seq((1L, 0, "Q one?", "Answer.")))
  }

  test("langMixture: marker counts pick primary/secondary with langId " +
      "tie-break, ratio flag fires, marker-free text is und") {
    import spark.implicits._
    val docs = Seq(
      (1L, "the a of and to"),       // pure en
      (2L, "the a of and le la"),    // en 4, fr 2 (le also zh 1)
      (3L, "the der"),               // en/de tie → order wins
      (4L, "zzz qqq")).toDF("id", "text")
    val out = graft.llm.Text.langMixture(docs, "id", "text", ratioPct = 30)
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getInt(2),
        r.getString(3), r.getInt(4), r.getBoolean(5)))).toMap
    assert(out(1L) == (("en", 5, "und", 0, false)))
    assert(out(2L) == (("en", 4, "fr", 2, true)))
    assert(out(3L) == (("en", 1, "de", 1, true)))
    assert(out(4L) == (("und", 0, "und", 0, false)))
  }

  test("interleaveSources property: positions are a permutation of 1..N " +
      "and within-source order is preserved, for random source sizes") {
    import org.scalacheck.{Gen, Prop, Test => SchkTest}
    import spark.implicits._
    val gen = Gen.listOfN(4, Gen.chooseNum(0, 6))
    val prop = Prop.forAll(gen) { sizes =>
      val docs = sizes.zipWithIndex.flatMap { case (n, si) =>
        (1 to n).map(j => (si * 100L + j, s"s$si"))
      }
      if (docs.isEmpty) Prop(true)
      else {
        val out = graft.llm.Shaping.interleaveSources(
            docs.toDF("id", "src"), "src", Seq("id"))
          .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(3)))
        val perm = out.map(_._3).sorted.toSeq == (1L to docs.size)
        val ordered = out.groupBy(_._1).forall { case (_, rows) =>
          val byId = rows.sortBy(_._2).map(_._3)
          byId.sorted.toSeq == byId.toSeq
        }
        Prop(perm && ordered)
      }
    }
    val res = SchkTest.check(
      SchkTest.Parameters.default.withMinSuccessfulTests(12), prop)
    assert(res.passed, s"interleave property failed: ${res.status}")
  }

  test("resampleToMix property: per-source kept counts equal the " +
      "binding-source quota formula, for random counts and weights") {
    import org.scalacheck.{Gen, Prop, Test => SchkTest}
    import spark.implicits._
    val gen = Gen.listOfN(3,
      Gen.zip(Gen.chooseNum(1, 8), Gen.chooseNum(100000L, 900000L)))
    val prop = Prop.forAll(gen) { specs =>
      val docs = specs.zipWithIndex.flatMap { case ((n, _), si) =>
        (1 to n).map(j => (si * 100L + j, s"s$si"))
      }
      val weights = specs.zipWithIndex
        .map { case ((_, w), si) => (s"s$si", w) }
      val lam = specs.map { case (n, w) => n * 1000000L / w }.min
      val expect = specs.zipWithIndex.map { case ((_, w), si) =>
        s"s$si" -> lam * w / 1000000L
      }.toMap
      val got = graft.llm.Shaping.resampleToMix(docs.toDF("id", "src"),
          "src", "id", weights.toDF("source", "weight_ppm"))
        .collect().groupBy(_.getString(0))
        .view.mapValues(_.length.toLong).toMap
      Prop(expect.forall { case (s, k) => got.getOrElse(s, 0L) == k })
    }
    val res = SchkTest.check(
      SchkTest.Parameters.default.withMinSuccessfulTests(12), prop)
    assert(res.passed, s"resample quota property failed: ${res.status}")
  }

  test("bpePairStep: repeated in-word pairs count per position, " +
      "short words drop, rank is (weight desc, pair asc)") {
    import spark.implicits._
    // "aaab" ×2 → pairs aa,aa,ab each occurrence; "ab" ×1; "a" ignored
    val docs = Seq((1L, "aaab ab a"), (2L, "aaab")).toDF("id", "text")
    val out = graft.llm.Lexical.bpePairStep(docs, "text", topK = 10)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getInt(2)))
    // weights: aa = 2·2 = 4; ab = 2·1 + 1 = 3
    assert(out.toSeq == Seq(("aa", 4L, 1), ("ab", 3L, 2)))
  }

  test("encodingAudit: U+FFFD, C0 controls (tab/newline/CR exempt), and " +
      "mojibake markers flag independently; damaged counts any") {
    import spark.implicits._
    val docs = Seq(
      ("s1", "clean text with\ttab and\nnewline and\rcr"),
      ("s1", "lost byte \uFFFD here"),
      ("s1", "binary\u0001junk"),
      ("s2", "double encoded caf\u00C3\u00A9 menu"), // mojibake e-acute
      ("s2", "curly \u00E2\u20AC\u2122 quote"), // mojibake right quote
      ("s2", "fine")).toDF("source", "text")
    val out = graft.llm.Curation.encodingAudit(docs, "text", "source")
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getLong(5), r.getLong(6)))).toMap
    assert(out == Map(
      "s1" -> ((3L, 1L, 1L, 0L, 2L, 666666L)),
      "s2" -> ((3L, 0L, 0L, 2L, 2L, 666666L))))
  }

  test("sourceCosineMatrix: hand-computed cosine, identical sources " +
      "score exactly 1, disjoint vocabularies emit no pair") {
    import spark.implicits._
    val docs = Seq(
      ("a", "x x y"), ("b", "x y y"),   // profiles a=(2,1), b=(1,2)
      ("c", "x x y"),                   // c identical to a
      ("d", "zzz")).toDF("source", "text")
    val out = graft.llm.Curation.sourceCosineMatrix(docs, "text", "source")
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getDouble(3)))).toMap
    // cos(a,b) = (2+2)/(√5·√5) = 0.8; identical profiles → exactly 1.0
    assert(out == Map(
      ("a", "b") -> ((2L, 0.8)), ("a", "c") -> ((2L, 1.0)),
      ("b", "c") -> ((2L, 0.8))))
  }

  test("patchGrid: full-fit convention, div/mod coordinate recovery, " +
      "too-small images vanish") {
    import spark.implicits._
    // hand-built mm structs: 300×150 with patch 100/stride 100 →
    // nx=3, ny=1; 90×90 → no patches
    val df = Seq((1, 300, 150), (2, 90, 90)).toDF("id", "w", "h")
      .withColumn("mm", struct(lit(Array.emptyByteArray).as("payload"),
        struct(lit("image").as("modality"), lit(0L).as("byte_len"),
          col("w").cast("int").as("width"), col("h").cast("int").as("height"),
          lit(1).as("n_frames")).as("meta")))
    val out = graft.llm.Multimodal.patchGrid(df, "mm", 100, 100)
      .select("id", "patch_idx", "grid_x", "grid_y", "x0", "y0")
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getInt(2),
        r.getInt(3), r.getInt(4), r.getInt(5))).toSet
    assert(out == Set((1, 0, 0, 0, 0, 0), (1, 1, 1, 0, 100, 0),
      (1, 2, 2, 0, 200, 0)))
    // overlapping stride: 250×100, patch 100, stride 50 → nx=4, ny=1
    val df2 = Seq((3, 250, 100)).toDF("id", "w", "h")
      .withColumn("mm", struct(lit(Array.emptyByteArray).as("payload"),
        struct(lit("image").as("modality"), lit(0L).as("byte_len"),
          col("w").cast("int").as("width"), col("h").cast("int").as("height"),
          lit(1).as("n_frames")).as("meta")))
    val xs = graft.llm.Multimodal.patchGrid(df2, "mm", 100, 50)
      .select("x0").collect().map(_.getInt(0)).sorted.toSeq
    assert(xs == Seq(0, 50, 100, 150))
  }

  test("gopherFlags: each rule fires on its crafted document and stays " +
      "quiet on clean prose") {
    import spark.implicits._
    // 51 words (17 × 3) of clean prose with stopwords — no flag fires
    val clean = (("the quick brown fox jumps over the lazy dog and " +
      "that dog would have stayed with it ") * 3).trim
    val bullets = "- one\n- two\n- three"          // 100% bullet lines
    val ellip = "we waited...\nand then...\nmore…\nok"  // 3/4 ellipsis-end
    val symbols = "the of and ### ### have with that be to ..."
    val numeric = "the be to of and 111 222 333 444 555 666 777 888 999"
    val docs = Seq((1L, clean), (2L, bullets), (3L, ellip),
      (4L, symbols), (5L, numeric)).toDF("doc_id", "text")
    val out = graft.llm.Curation.gopherFlags(docs, "doc_id", "text",
      minWords = 5, maxWords = 100).collect()
      .map(r => r.getLong(0) -> r).toMap
    def f(id: Long, c: String) =
      out(id).getBoolean(out(id).fieldIndex(c))
    assert(f(1L, "keep"))
    assert(f(2L, "f_bullet") && f(2L, "f_stopwords"))
    assert(f(3L, "f_ellipsis"))
    // symbols: 11 words, 6 '#' + 1 '...' = 7 symbols → 70 > 11 fires
    assert(f(4L, "f_symbol_ratio") && !f(4L, "f_bullet"))
    // numeric: 14 words, 5 alpha → 25 < 56 fires; stopwords present
    assert(f(5L, "f_alpha") && !f(5L, "f_stopwords"))
    // exact integer counts on the clean doc: 51 words, 1 line
    assert(out(1L).getLong(out(1L).fieldIndex("n_words")) == 51L)
  }
}

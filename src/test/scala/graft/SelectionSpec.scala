package graft

import org.apache.spark.sql.functions._
import graft.llm.Selection

/** Data-selection operators: DSIR importance weights, hashed-token Naive
  * Bayes, curriculum ordering, contrastive mining — the edge cases the
  * oracle corpus doesn't force (zero-token docs, empty target slices,
  * partition-order invariance of the float folds, tie-breaks).
  */
class SelectionSpec extends SparkSpec {
  import spark.implicits._

  private def docs(rows: (Long, String, String)*) =
    rows.toDF("doc_id", "text", "lang")

  test("dsir: zero-token doc gets null logw; weights finite; target slice scores higher on disjoint vocab") {
    val d = docs(
      (1L, "alpha beta alpha gamma", "en"),
      (2L, "alpha gamma beta beta", "en"),
      (3L, "zork quux blarg zork", "de"),
      (4L, "quux blarg blarg zork", "de"),
      (5L, "  ...  ", "de")) // tokenizes empty
    val out = Selection.dsirImportanceWeights(d, "doc_id", "text",
      col("lang") === "en", nBuckets = 16)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), if (r.isNullAt(2)) None else Some(r.getDouble(2))))
      .toMap
    assert(out(5L) == (0L, None))
    val enAvg = Seq(1L, 2L).map(out(_)._2.get).sum / 2
    val deAvg = Seq(3L, 4L).map(out(_)._2.get).sum / 2
    assert(enAvg > deAvg,
      s"target-vocab docs must score higher: en=$enAvg de=$deAvg")
    out.values.foreach { case (_, w) =>
      w.foreach(v => assert(!v.isNaN && !v.isInfinite)) }
  }

  test("dsir: empty target slice still yields finite weights; fold is partition-order invariant") {
    val base = (1L to 40L).map(i =>
      (i, (1L to (i % 7 + 3)).map(j => s"w${(i * j) % 11}").mkString(" "),
        if (i % 3 == 0) "en" else "de"))
    val d = docs(base: _*)
    val none = Selection.dsirImportanceWeights(d, "doc_id", "text",
      lit(false), nBuckets = 8).collect()
    assert(none.length == 40 &&
      none.forall(r => !r.getDouble(2).isNaN && !r.getDouble(2).isInfinite))
    // same corpus, different physical layout → bitwise-identical weights
    val a = Selection.dsirImportanceWeights(d.repartition(1), "doc_id",
      "text", col("lang") === "en", 8).collect()
      .map(r => r.getLong(0) -> r.getDouble(2)).toMap
    val b = Selection.dsirImportanceWeights(d.repartition(7,
        col("doc_id")), "doc_id", "text", col("lang") === "en", 8)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(a == b, "bucket-ordered fold must not depend on partitioning")
  }

  test("nb: separable classes classify held-out docs; zero-token held-out doc is absent") {
    val d = docs(
      (1L, "cat dog cat bird", "en"), (2L, "dog cat bird bird", "en"),
      (3L, "cat bird dog dog", "en"), (4L, "hund katze vogel hund", "de"),
      (5L, "katze hund vogel vogel", "de"),
      (6L, "vogel katze katze hund", "de"),
      // held out (train = doc_id <= 6 below; these three are scored)
      (10L, "cat dog bird", "en"), (11L, "hund katze vogel", "de"),
      (13L, "...", "de")) // zero tokens, held out
    val out = Selection.nbTrainScore(d, "doc_id", "text", "lang",
      col("doc_id") <= 6, nBuckets = 32)
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getString(2)))
      .toMap
    assert(out.keySet == Set(10L, 11L))
    assert(out(10L) == ("en", "en") && out(11L) == ("de", "de"))
  }

  test("nb: all-unseen-token doc ties on symmetric training → smaller label wins") {
    // two labels, perfectly symmetric token mass and doc counts
    val d = docs(
      (1L, "aa aa bb", "x1"), (2L, "aa bb bb", "x1"),
      (3L, "cc cc dd", "x2"), (4L, "cc dd dd", "x2"),
      (9L, "zz zz zz", "x1")) // zz unseen in training
    // the tie needs zz's bucket to hold EQUAL training counts for both
    // labels. That is not guaranteed by "unseen token" alone (buckets
    // collide): under the current polyhash, zz lands with bb (count 3
    // for x1) and dd (count 3 for x2) — equal, and label totals and
    // priors are mirrored, so the scores tie exactly. The hash is
    // fixed, so this is deterministic; re-derive the collision pattern
    // if the tokens or nBuckets change.
    val out = Selection.nbTrainScore(d, "doc_id", "text", "lang",
      col("doc_id") <= 4, nBuckets = 64).collect()
    assert(out.length == 1 && out.head.getString(2) == "x1")
  }

  test("curriculum: dense 1..N positions matching the single-window reference order") {
    val d = docs((1L to 100L).map(i =>
      (i, (1L to (i % 37 + 1)).map(j => s"t$j").mkString(" "), "en")): _*)
    val got = Selection.curriculumOrder(d, "doc_id", "text",
      bucketWidth = 8)
    val rows = got.collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.map(_._4).sorted.toSeq == (1L to 100L).toSeq,
      "positions must be dense 1..N")
    // reference: global sort by (bucket, hash, id) on the driver
    val hash = graft.functions.PolyHash
    import org.apache.spark.unsafe.types.UTF8String
    val ref = rows.sortBy(r => (r._3,
      hash.hash(UTF8String.fromString(s"cur:${r._1}")), r._1))
      .zipWithIndex.map { case (r, i) => r._1 -> (i + 1L) }.toMap
    rows.foreach(r => assert(ref(r._1) == r._4,
      s"doc ${r._1}: two-level pos ${r._4} != global ${ref(r._1)}"))
  }

  test("winnowing: shared run of >= w+k-1 words shares a fingerprint; short-doc edge cases") {
    import graft.llm.Dedup
    val k = 3; val w = 4
    val shared = "alpha beta gamma delta epsilon zeta" // 6 = w+k-1 words
    val d = docs(
      (1L, s"one two $shared three four five six seven", "en"),
      (2L, s"eight nine ten $shared eleven twelve", "en"),
      (3L, "aa bb", "en"),              // < k words → no fingerprints
      (4L, "aa bb cc dd", "en"))        // k..k+w-2 words → exactly 1
    val fps = Dedup.winnowingFingerprints(d, "doc_id", "text", k, w)
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    val byDoc = fps.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    assert((byDoc(1L) & byDoc(2L)).nonEmpty,
      "MOSS guarantee: a shared w+k-1 window must share a fingerprint")
    assert(!byDoc.contains(3L))
    assert(byDoc(4L).size == 1)
  }

  test("winnowing property: ANY shared run of w+k-1 words yields a shared fingerprint (randomized)") {
    import org.scalacheck.Gen
    import org.scalacheck.Prop.forAll
    import graft.llm.Dedup
    val k = 3; val w = 4
    val word = Gen.oneOf((0 until 40).map(i => s"w$i"))
    val run = Gen.listOfN(w + k - 1, word) // the shared window
    val pad = Gen.listOf(word)
    // docs = pad ++ run ++ pad, independently padded on each side
    val gen = Gen.zip(run, pad, pad, pad, pad)
    val prop = forAll(gen) { case (r, a1, a2, b1, b2) =>
      val d = Seq(
        (1L, (a1 ++ r ++ a2).mkString(" "), "en"),
        (2L, (b1 ++ r ++ b2).mkString(" "), "en")).toDF(
        "doc_id", "text", "lang")
      val byDoc = Dedup.winnowingFingerprints(d, "doc_id", "text", k, w)
        .collect().map(r2 => r2.getLong(0) -> r2.getLong(1))
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
      (byDoc.getOrElse(1L, Set.empty[Long]) &
        byDoc.getOrElse(2L, Set.empty[Long])).nonEmpty
    }
    val res = org.scalacheck.Test.check(
      org.scalacheck.Test.Parameters.default.withMinSuccessfulTests(15),
      prop)
    assert(res.passed, res.status.toString)
  }

  test("native winnow pair == composable HOF chain (randomized, incl. short/empty/dup arrays)") {
    import org.scalacheck.Gen
    import org.scalacheck.Prop.forAll
    import graft.functions.{ShingleHashes, WinnowMins}
    import graft.llm.Text
    import graft.functions.PolyHash.polyhash
    val w = 4
    // winnow_mins vs the array_min(slice(...)) reference on long arrays
    val arrGen = Gen.listOf(Gen.chooseNum(0L, 1000L)) // dups likely
    val p1 = forAll(Gen.listOfN(16, arrGen)) { arrs =>
      val df = arrs.zipWithIndex.map { case (a, i) => (i.toLong, a) }
        .toDF("id", "hs")
      val hof = when(size(col("hs")) >= w,
          transform(sequence(lit(0), size(col("hs")) - w),
            i => array_min(slice(col("hs"), i + 1, lit(w)))))
        .when(size(col("hs")) >= 1, array(array_min(col("hs"))))
        .otherwise(array().cast("array<bigint>"))
      df.select(col("id"), WinnowMins.winnowMins(col("hs"), w).as("a"),
          hof.as("b"))
        .collect().forall(r => r.getSeq[Long](1) == r.getSeq[Long](2))
    }
    // gram_hashes (ordered) vs transform(ngrams(tokens), polyhash)
    val word = Gen.oneOf((0 until 30).map(i => s"tok$i") :+ "Ümläut-x")
    val docGen = Gen.listOf(word).map(_.mkString(" "))
    val p2 = forAll(Gen.listOfN(16, docGen)) { texts =>
      val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("id", "text")
      df.select(col("id"),
          ShingleHashes.gramHashes(col("text"), 3).as("a"),
          coalesce(transform(Text.ngrams(Text.tokens(col("text")), 3),
            g => polyhash(g)), array().cast("array<bigint>")).as("b"))
        .collect().forall(r => r.getSeq[Long](1) == r.getSeq[Long](2))
    }
    Seq(p1, p2).foreach { p =>
      val res = org.scalacheck.Test.check(
        org.scalacheck.Test.Parameters.default
          .withMinSuccessfulTests(15), p)
      assert(res.passed, res.status.toString)
    }
  }

  test("winnowing pairs: hot-fingerprint guard drops boilerplate-only pairs") {
    import graft.llm.Dedup
    // 6 docs all share one boilerplate sentence; only 1 and 2 also share
    // unique content. With the cap below 6 the boilerplate fp can't pair.
    val boiler = "all rights reserved contact the publisher for details"
    val uniq = "quantum flux capacitor resonance cascade theory"
    val d = docs((1L to 6L).map { i =>
      val extra = if (i <= 2) uniq else s"filler${i} " * 8
      (i, s"$boiler $extra", "en")
    }: _*)
    val pairs = Dedup.winnowingPairs(d, "doc_id", "text", k = 3, w = 2,
        minShared = 1, maxDocsPerFp = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)), "unique shared content must pair")
    assert(pairs.forall { case (a, b) => Set(a, b).subsetOf(Set(1L, 2L)) },
      s"boilerplate-only pairs must be suppressed by the fp cap: $pairs")
  }

  test("packing efficiency: hand-computed bins/waste/crossings") {
    val d = Seq(
      (1L, "a b c", "g"), (2L, "a b c d e", "g"), (3L, "a b", "g"))
      .toDF("doc_id", "text", "lang")
    val r = graft.llm.Shaping.packingEfficiency(d, "doc_id", "text",
      "lang", Seq(4)).collect().head
    // starts 0,3,8; T=10; bins=3; padding=2; crossings: doc2 spans 1
    // boundary (3..7 crosses 4), doc3 (8..9) none; oversize: doc2 (5>4)
    assert(r.getAs[Long]("n_docs") == 3 &&
      r.getAs[Long]("total_tokens") == 10 &&
      r.getAs[Long]("n_bins") == 3 && r.getAs[Long]("padding") == 2 &&
      r.getAs[Long]("n_crossings") == 1 &&
      r.getAs[Long]("n_oversize") == 1 &&
      r.getAs[Long]("pad_ppm") == 166666)
  }

  test("tokenizer fertility: exact ratios on a hand corpus") {
    val d = Seq((1L, "ab cd-ef", "en"), (2L, "x1y", "en"))
      .toDF("doc_id", "text", "lang")
    // words: ["ab","cd","ef"] + ["x1y"] = 4 (normalize strips '-')
    // subwords: ab|cd|-|ef (4) + x|1|y (3) = 7; chars: 8 + 3 = 11
    val r = graft.llm.Curation.tokenizerFertility(d, "text", "lang")
      .collect().head
    assert(r.getAs[Long]("n_words") == 4 &&
      r.getAs[Long]("n_subwords") == 7 &&
      r.getAs[Long]("n_chars") == 11)
    assert(math.abs(r.getAs[Double]("fertility") - 1.75) < 1e-9)
  }

  test("leakage-safe shards: cluster members co-locate; singletons follow their own hash") {
    val d = docs((1L to 40L).map(i => (i, s"text $i", "en")): _*)
    val clusters = Seq((3L, 3L), (7L, 3L), (21L, 3L), (10L, 10L),
      (11L, 10L)).toDF("doc", "cluster")
    val out = graft.llm.Selection.leakageSafeShards(d, "doc_id",
        clusters, "doc", "cluster", k = 8)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getInt(2)))
      .toMap
    assert(out.size == 40)
    assert(Set(out(3L), out(7L), out(21L)).size == 1,
      "cluster {3,7,21} must land in one shard")
    assert(out(10L) == out(11L))
    // singleton: rep is its own id, matching a direct rendezvous assign
    val solo = graft.llm.Shaping.rendezvousAssign(
      d.filter(col("doc_id") === 5).select(col("doc_id")), "doc_id", 8)
      .collect().head.getInt(1)
    assert(out(5L) == (5L, solo))
  }

  test("jl projection: hash-parity sign derivation; basis vectors map to sign columns") {
    import graft.llm.Similarity
    import org.apache.spark.unsafe.types.UTF8String
    val m = Similarity.jlSigns(8, 4)
    for (j <- 0 until 4; i <- 0 until 8) {
      val h = graft.functions.PolyHash.hash(
        UTF8String.fromString(s"jl:$i#$j"))
      assert(m(j)(i) == (if ((h & 1L) == 1L) 1.0 else -1.0))
    }
    // e_i projects to (s_{i,0..3}) / sqrt(4) exactly
    val basis = (0 until 8).map(i =>
      (i.toLong, Array.tabulate(8)(k => if (k == i) 1.0f else 0.0f)))
      .toDF("vec_id", "embedding")
    val got = Similarity.jlProject(basis, "vec_id", "embedding", 8, 4)
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    for (i <- 0 until 8; j <- 0 until 4)
      assert(got(i.toLong)(j) == m(j)(i) / 2.0,
        s"e_$i coord $j must be sign/√outDim")
    // geometry sanity: projected self-dot of a unit basis vector is
    // exactly 1 (4 coords of (±1/2)²)
    got.values.foreach(v => assert(v.map(x => x * x).sum == 1.0))
  }

  test("hll: union registers = elementwise max; estimates track truth in both regimes") {
    import graft.engine.Sketches
    def ids(r: Range) = r.map(i => Tuple1(s"user$i")).toDF("v")
    val a = ids(1 to 800); val b = ids(500 to 1500)
    def regs(df: org.apache.spark.sql.DataFrame) =
      Sketches.hllRegisters(df, "v", p = 8).collect()
        .map(r => r.getInt(0) -> r.getInt(1)).toMap
    val ra = regs(a); val rb = regs(b); val ru = regs(a.union(b))
    (0 until 256).foreach(j => assert(ru(j) == math.max(ra(j), rb(j)),
      s"bucket $j: union register must be elementwise max"))
    // large regime (n >> m): estimate within 3σ of truth (σ = 1.04/√m
    // ≈ 6.5% at p = 8; this fixed corpus sits at ~12%, inside 2σ)
    val big = Sketches.hllEstimate(a.union(b), "v", p = 8)
      .collect().head.getAs[Double]("est")
    assert(math.abs(big - 1500) / 1500.0 < 0.20, s"est $big vs 1500")
    // small regime: the linear-counting correction engages and tracks
    val small = Sketches.hllEstimate(ids(1 to 20), "v", p = 8)
      .collect().head
    assert(small.getAs[Long]("n_zero") > 0)
    assert(math.abs(small.getAs[Double]("est") - 20) / 20.0 < 0.15)
  }

  test("contrastive: positive excludes self and respects thresholds; negatives bounded by k") {
    def v(xs: Double*) = xs.map(_.toFloat).toArray
    val corpus = Seq(
      (1L, v(1, 0, 0, 0)), (2L, v(0.9, 0.1, 0, 0)), // near-dup of 1
      (3L, v(0, 1, 0, 0)), (4L, v(0, 0, 1, 0)),
      (5L, v(0, 0, 0, 1)), (6L, v(-1, 0, 0, 0)))
      .toDF("vec_id", "embedding")
    val out = Selection.contrastiveMine(corpus,
      corpus.filter(col("vec_id") === 1), "vec_id", "embedding",
      "vec_id", k = 3, posThr = 0.8, negCeil = 0.2)
      .collect().map(r => (r.getString(1), r.getInt(2), r.getLong(3),
        r.getDouble(4)))
    val pos = out.filter(_._1 == "pos")
    assert(pos.length == 1 && pos.head._3 == 2L && pos.head._4 >= 0.8)
    val neg = out.filter(_._1 == "neg")
    assert(neg.length == 3 && neg.forall(_._4 < 0.2) &&
      neg.map(_._2).sorted.toSeq == Seq(1, 2, 3))
    assert(!out.exists(r => r._1 == "pos" && r._3 == 1L),
      "self must never be the positive")
  }
}

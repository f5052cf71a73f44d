package graft.engine

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import PrefixScan.globalRank

/** Iterative graph analytics over edge-list DataFrames. Companion to the
  * pointer-jumping connected components in [[graft.llm.Dedup]]: that one
  * converges a partition (O(log n) rounds); these run a FIXED number of
  * synchronous value-propagation rounds.
  *
  * All rank arithmetic is SCALED-INTEGER (parts-per-million with explicit
  * floor division): an FP PageRank sums float contributions per node, and
  * FP addition is order-dependent — two runs (or two engines) shuffle-
  * reduce in different orders and disagree in the low bits, which is
  * exactly the q124/q154 rounding-trap class. Integer sums are exact and
  * commutative, so every engine that mirrors the formula lands on
  * identical ranks bit-for-bit.
  *
  * Every operator starts from one of two edge normal forms, [[directed]]
  * or [[undirected]]; both drop an edge with a null endpoint, so no
  * operator reports a null node. The loop shapes are one private kernel
  * each: [[push]] (PageRank, personalized PageRank, Katz), [[bfsRounds]]
  * (bfsHops, pseudoDiameter, multiSourceBfs), [[triangles]]
  * (triangleCounts, edgeTriangleSupport) and [[wedgePairs]]
  * (neighborJaccard, resourceAllocation, adamicAdar).
  */
object Graph {

  /** Canonical directed edge list `(src, dst)`: edges with a null
    * endpoint dropped, duplicates collapsed. The normal form every
    * directed algorithm below starts from.
    */
  private def directed(edges: DataFrame, srcCol: String,
      dstCol: String): DataFrame =
    edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .filter(col("src").isNotNull && col("dst").isNotNull)
      .distinct()

  /** Canonical undirected edge list: endpoints ordered `u < v`, self-loops
    * (and edges with a null endpoint — Spark's `least`/`greatest` skip
    * nulls, collapsing such an edge to a self-loop) dropped, duplicates
    * collapsed. The normal form every undirected algorithm below starts
    * from.
    */
  private def undirected(edges: DataFrame, srcCol: String,
      dstCol: String): DataFrame =
    edges.select(least(col(srcCol), col(dstCol)).as("u"),
        greatest(col(srcCol), col(dstCol)).as("v"))
      .filter(col("u") =!= col("v"))
      .distinct()

  /** The neighbor list `(n, m)` of an undirected `(u, v)` frame: every
    * edge in both directions, in one explode pass.
    */
  private def neighbors(e: DataFrame): DataFrame =
    e.select(explode(array(
        struct(col("u").as("n"), col("v").as("m")),
        struct(col("v").as("n"), col("u").as("m")))).as("__nm"))
      .select(col("__nm.n").as("n"), col("__nm.m").as("m"))

  /** Undirected degrees `(n, d)` of a `(u, v)` frame. Both endpoints
    * explode in ONE pass — a two-branch union re-executes the edge
    * canonicalization distinct once per branch (A/B measured on the
    * sf0.1 co-purchase graph, same session: 6.1 → 3.9 s cold, 3.2 →
    * 2.6 s steady-state).
    */
  private def degrees(e: DataFrame): DataFrame =
    e.select(explode(array(col("u"), col("v"))).as("n"))
      .groupBy("n").agg(count(lit(1)).as("d"))

  /** The distinct node ids `(id)` of an edge frame's two endpoint
    * columns. */
  private def nodeIds(e: DataFrame, a: String, b: String): DataFrame =
    e.select(explode(array(col(a), col(b))).as("id")).distinct()

  /** The push-iteration loop: `iters` synchronous rounds of a value
    * column `v` over the node frame `nodes` (`id`, plus whatever
    * `update` reads), starting at `init`. Each round joins the current
    * `(id, v)` frame to the src-keyed loop edge frame `e`, sends `send`
    * along every edge, sums it per destination into `__s` and left-joins
    * the sums onto `nodes` (`__s` is null where nothing arrived), where
    * `update` gives the next value — one src-keyed join plus one
    * dst-keyed aggregate, the minimal two-exchange round a synchronous
    * push model admits. `nodes` and `e` are the caller's loop-invariant
    * pins, partitioned and sorted on their join keys (r13: pins keep
    * output ordering, so every round's sort-merge join skips re-sorting
    * the big side; guide §2.4 "establish the partitioning once"), at the
    * data-derived partition count (r14, [[Pins.loopParts]]: AQE cannot
    * coalesce an exchange that must co-partition with a pinned frame,
    * and rounds × sessionParts near-empty tasks was the measured bulk of
    * this family at sf0.1). Callers return the last round under a scoped
    * pin, which truncates the iters-deep lineage.
    */
  private def push(nodes: DataFrame, e: DataFrame, v: String, init: Column,
      iters: Int)(send: Column, update: Column): DataFrame = {
    var x = nodes.select(col("id"), init.as(v))
    for (_ <- 1 to iters) {
      val in = e
        .join(x.withColumnRenamed("id", "src"), "src")
        .select(col("dst").as("id"), send.as("__c"))
        .groupBy("id").agg(sum(col("__c")).as("__s"))
      x = nodes.join(in, Seq("id"), "left").select(col("id"), update.as(v))
    }
    x
  }

  /** PageRank's [[push]] rounds over the pinned directed edge frame `e`:
    * every node with teleport weight `seed` (the literal 1, or a 0/1
    * column of `nodes`) starts with `seed · 10⁶`, sends `rank DIV
    * outdeg` along every out-edge and collects `seed · (100 − dampPct)
    * · 10⁴ + (dampPct · Σ incoming) DIV 100`. The edge list is joined to its out-degree
    * frame ONCE up-front and pinned pre-partitioned on `src`.
    */
  private def rankRounds(s: Pins.Scope, e: DataFrame, nodes: DataFrame,
      np: Int, seed: Column, iters: Int, dampPct: Int): DataFrame = {
    val withDeg = s.loopCache(e.join(
      e.groupBy("src").agg(count(lit(1)).as("outdeg")), "src"), "src", np)
    val base = (100L - dampPct) * 10000L
    push(nodes, withDeg, "rank", seed * 1000000L, iters)(
      expr("rank DIV outdeg"),
      seed * base +
        expr(s"($dampPct * coalesce(__s, CAST(0 AS BIGINT))) DIV 100"))
  }

  /** PageRank, `iters` synchronous rounds, ranks in ppm of one unit
    * (rank₀ = 1,000,000 per node). Per round, each node sends
    * `rank DIV outdeg` along every out-edge and collects
    * `base + (dampPct · Σ incoming) DIV 100`, base =
    * `(100 − dampPct) · 10⁴`. Dangling nodes (no out-edges) keep
    * receiving but send nothing — their mass leaks, the standard
    * simplification when ranks are read as an ORDERING rather than a
    * probability (redistribution would add an all-nodes broadcast per
    * round for no ordering change).
    *
    * Scale shape: the [[push]] loop. The edge list, the edge+degree
    * frame and the node list are PINNED before the first round — every
    * round's plan embeds the previous rounds' lineage, so without the
    * pins the edge derivation (often a join + distinct over the fact
    * tables) re-executes once per round per ancestor (measured: 6.7 s →
    * 2.x s for 3 rounds over a 485k-edge graph at sf0.1).
    */
  def pageRankPpm(edges: DataFrame, srcCol: String, dstCol: String,
      iters: Int, dampPct: Int = 85): DataFrame = Pins.scoped { s =>
    require(iters >= 1, "need at least one round")
    require(dampPct >= 0 && dampPct <= 100, "dampPct is a percentage")
    // e is read four times just to BUILD the two loop frames (src/dst
    // union for nodes, edge+degree for withDeg)
    val e = s.pin(directed(edges, srcCol, dstCol))
    val np = Pins.loopParts(e)
    val nodes = s.loopCache(nodeIds(e, "src", "dst"), "id", np,
      skipIfSession = true)
    rankRounds(s, e, nodes, np, lit(1L), iters, dampPct)
  }

  /** Katz centrality in exact integer ppm (Katz 1953): attenuated walk
    * count `x = Σ_k β^k·A^k·1` — unlike PageRank it does NOT normalize
    * by out-degree, so a node is central for having many long-reach
    * in-paths, not for being linked by thrifty linkers (the citation /
    * influence readout). Integer convention: every node starts at 10⁶
    * micro; per round `x = 10⁶ + Σ_in (x DIV attenDiv)` — β = 1/attenDiv
    * as one exact floor division per in-edge contribution, truncated
    * like the pageRankPpm damping.
    *
    * OUTPUT CONTRACT: the value is the `iters`-truncated partial sum of
    * the attenuated-walk series — engine-exact at every `iters`, but a
    * CONVERGED centrality only when `attenDiv` exceeds the maximum
    * in-degree (β < 1/ρ(A) in the spectral statement; max in-degree is
    * the cheap upper-bound proxy). A high-in-degree hub makes the series
    * monotonically diverge, which a caller could silently misread as
    * converged — so the loop runs ONE degree aggregate up front and
    * logs a warning naming the offending max in-degree when it ties or
    * beats `attenDiv`. Output: `(id, katz)` for every node.
    *
    * Scale: the [[push]] loop over the edge frame itself (no degree
    * join); the convergence check is one 1-row driver read of the
    * pinned edge frame (the timeBounds class).
    */
  def katzCentralityPpm(edges: DataFrame, srcCol: String, dstCol: String,
      iters: Int, attenDiv: Int = 8): DataFrame = Pins.scoped { s =>
    require(iters >= 1, "need at least one round")
    require(attenDiv >= 2, "attenuation divisor must be >= 2")
    val e0 = directed(edges, srcCol, dstCol)
    val np = Pins.loopParts(e0)
    val e = s.loopCache(e0, "src", np)
    val maxInDeg = e.groupBy(col("dst")).agg(count(lit(1)).as("__d"))
      .agg(max(col("__d"))).collect().headOption
      .flatMap(r => Option(r.get(0)).map(_.asInstanceOf[Long]))
      .getOrElse(0L)
    if (maxInDeg >= attenDiv)
      System.err.println(s"[graft] katzCentralityPpm: max in-degree " +
        s"$maxInDeg >= attenDiv $attenDiv - the attenuated-walk series " +
        s"DIVERGES; the output is the iters=$iters truncated partial " +
        "sum (exact), not a converged centrality")
    val nodes = s.loopCache(nodeIds(e, "src", "dst"), "id", np,
      skipIfSession = true)
    push(nodes, e, "katz", lit(1000000L), iters)(
      expr(s"katz DIV $attenDiv"),
      lit(1000000L) + coalesce(col("__s"), lit(0L)))
  }

  /** Personalized PageRank in exact integer ppm — [[pageRankPpm]] with
    * the teleport vector CONCENTRATED on a seed set instead of uniform:
    * random walks restart only at seeds, so rank measures proximity to
    * the seed community (the "related items" / trust-propagation
    * readout), not global centrality. Integer convention mirrors
    * pageRankPpm: every seed starts (and teleports) with 10⁶ micro of
    * mass, non-seeds with 0 — the unnormalized per-seed unit; divide by
    * the seed count downstream for a distribution. Per round,
    * `rank = isSeed·(100−damp)·10⁴ + damp·Σ_in(rank DIV outdeg) DIV
    * 100` — all floor divisions, engine-exact, dangling-node mass
    * dropped exactly as in the uniform variant.
    *
    * Output: `(id, rank)` for every node — unreachable non-seeds
    * report 0, not absence.
    *
    * Scale: [[pageRankPpm]]'s loop; the seed flag rides the node frame
    * as a column, adding nothing to the per-round shuffle.
    */
  def personalizedPageRankPpm(edges: DataFrame, srcCol: String,
      dstCol: String, seeds: DataFrame, seedCol: String, iters: Int,
      dampPct: Int = 85): DataFrame = Pins.scoped { s =>
    require(iters >= 1, "need at least one round")
    require(dampPct >= 0 && dampPct <= 100, "dampPct is a percentage")
    val e = s.pin(directed(edges, srcCol, dstCol))
    val sd = seeds.select(col(seedCol).as("id")).distinct()
      .withColumn("__seed", lit(1L))
    val np = Pins.loopParts(e)
    val nodes = s.loopCache(
      nodeIds(e, "src", "dst")
        .join(sd, Seq("id"), "left")
        .withColumn("__seed", coalesce(col("__seed"), lit(0L))),
      "id", np)
    rankRounds(s, e, nodes, np, col("__seed"), iters, dampPct)
  }

  /** Every triangle of the canonical undirected frame `e` exactly once,
    * as `(a, wb, wc)` — the enumeration [[triangleCounts]] and
    * [[edgeTriangleSupport]] share.
    *
    * Algorithm: degree orientation. Every undirected edge is oriented
    * from its lower to its higher endpoint under the total order
    * `(degree, node)`; a triangle {x,y,z} then materializes exactly once,
    * as the wedge a→b, a→c (with b ≺ c) closed by the oriented edge b→c.
    * The wedge fan-out at each node is its ORIENTED out-degree, which the
    * orientation bounds by O(√m) — on a skewed graph the hub's O(deg²)
    * wedge explosion (the thing that kills the naive id-ordered plan at
    * 100 TB) collapses to O(m^1.5) total work, the Chiba–Nishizeki bound.
    * Two shuffles after the orientation build: the wedge self-join on
    * the pivot `a` and the closing semi-join on `(b, c)`.
    */
  private def triangles(s: Pins.Scope, e: DataFrame): DataFrame = {
    val deg = degrees(e)
    val ou = struct(col("du").as("d"), col("u").as("n"))
    val ov = struct(col("dv").as("d"), col("v").as("n"))
    // pinned: the wedge self-join's map stage and the closing semi-join's
    // build stage are INDEPENDENT stages of one job, each reading o
    val o = s.pin(e
      .join(deg.select(col("n").as("u"), col("d").as("du")), "u")
      .join(deg.select(col("n").as("v"), col("d").as("dv")), "v")
      .select(
        when(ou < ov, col("u")).otherwise(col("v")).as("a"),
        when(ou < ov, ov).otherwise(ou).as("ob"))
      .select(col("a"), col("ob").getField("n").as("b"), col("ob")))
    val wedges = o.select(col("a"), col("b").as("wb"), col("ob").as("owb"))
      .join(o.select(col("a"), col("b").as("wc"), col("ob").as("owc")), "a")
      .filter(col("owb") < col("owc"))
      .select(col("a"), col("wb"), col("wc"))
    wedges.join(
      o.select(col("a").as("wb"), col("b").as("wc")), Seq("wb", "wc"),
      "left_semi")
  }

  /** Per-node triangle membership counts over the UNDIRECTED graph —
    * `(node, triangles)` for every node on ≥1 triangle: each of the
    * [[triangles]] explodes its three nodes into one per-node aggregate
    * (the third shuffle).
    */
  def triangleCounts(edges: DataFrame, srcCol: String,
      dstCol: String): DataFrame = Pins.scoped { s =>
    nodeTriangles(s, s.pin(undirected(edges, srcCol, dstCol)))
  }

  /** [[triangleCounts]] of the pinned canonical undirected frame `e`. */
  private def nodeTriangles(s: Pins.Scope, e: DataFrame): DataFrame =
    triangles(s, e)
      .select(explode(array(col("a"), col("wb"), col("wc"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("triangles"))

  /** Per-EDGE triangle support over the undirected graph — for every
    * edge `(u < v)`, the number of triangles it sits on (its "support",
    * the statistic k-truss peeling iterates on; one round of it is
    * already the standard weak-tie/bridge detector: support 0 = a
    * bridge-like tie no common neighbor backs, high support = a dense
    * community-internal edge). Output: `(u, v, support)` for EVERY
    * undirected edge, including support 0.
    *
    * Algorithm: the [[triangles]] enumeration (O(m^1.5) total wedge
    * work), but instead of exploding the three NODES, each found
    * triangle {a, b, c} explodes its three UNDIRECTED EDGES (canonical
    * lo/hi form), which aggregate to edge grain and left-join back onto
    * the full edge list (absent = 0). Same shuffle count as
    * triangleCounts plus the final edge-keyed join; the support frame is
    * output-grain (= edge count), never wedge-grain.
    */
  def edgeTriangleSupport(edges: DataFrame, srcCol: String,
      dstCol: String): DataFrame = Pins.scoped { s =>
    val e0 = s.pin(undirected(edges, srcCol, dstCol))
    val sup = triangles(s, e0)
      .select(explode(array(
        struct(least(col("a"), col("wb")).as("u"),
          greatest(col("a"), col("wb")).as("v")),
        struct(least(col("a"), col("wc")).as("u"),
          greatest(col("a"), col("wc")).as("v")),
        struct(least(col("wb"), col("wc")).as("u"),
          greatest(col("wb"), col("wc")).as("v")))).as("__e"))
      .select(col("__e.u").as("u"), col("__e.v").as("v"))
      .groupBy(col("u"), col("v")).agg(count(lit(1)).as("__s"))
    e0.join(sup, Seq("u", "v"), "left")
      .select(col("u"), col("v"),
        coalesce(col("__s"), lit(0L)).as("support"))
  }

  /** k-truss peeling (Cohen 2008) over a PRE-BUILT canonical support
    * frame `(u, v, support)` (= [[edgeTriangleSupport]] of the
    * undirected graph): iteratively delete edges whose
    * triangle support is below `k − 2` until fixpoint (or `maxRounds`),
    * leaving the subgraph where EVERY edge sits on ≥ k−2 triangles —
    * the standard dense-community core that, unlike k-core, requires
    * actual triangle density rather than raw degree. Deleting an edge
    * can drop a neighbor edge's support below threshold, hence the
    * peel loop; support is recomputed on the SURVIVING graph each
    * round ([[edgeTriangleSupport]]'s oriented enumeration, O(m^1.5)
    * per round).
    *
    * Output: `(u, v, support)` for the surviving edges, with support
    * measured on the last evaluated graph (all ≥ k−2 by construction).
    * Deterministic: peeling deletes ALL below-threshold edges per
    * round (no tie-ordering).
    *
    * INCREMENTAL SUPPORT MAINTENANCE (the standard truss-decomposition
    * refinement): the full O(m^1.5) [[edgeTriangleSupport]] enumeration
    * runs ONCE, on the starting graph. Each peel round then only
    * enumerates the triangles DESTROYED by that round's deletions —
    * for each deleted edge, expand the adjacency of its LOWER-degree
    * endpoint (the Σ min(deg) bound, the same degree-orientation idea
    * as the full enumeration) and keep wedges the opposite edge closes;
    * canonicalize + distinct so a triangle losing 2–3 edges in the same
    * round decrements its survivors exactly once. Round cost is
    * frontier-proportional (deleted-edge wedge work), not graph-
    * proportional — the refinement that makes deep peels affordable.
    *
    * Scale: the loop state is one edge-grain support frame, pinned per
    * round (flat lineage, the pointer-jump loop
    * discipline); the per-round early-exit count is a 1-row driver
    * read (the timeBounds class). Rounds are bounded by `maxRounds` —
    * real peels converge in a few rounds because each round removes
    * every currently-weak edge at once. Starting from a support frame
    * is the session-memoization face: when the full-enumeration support
    * of the same graph is already computed (the q371/q374 pair), the
    * peel starts from that pin and round 1 costs only the filter. Each
    * round picks the cheaper maintenance strategy by measured frontier
    * size: when this round DELETED more edges than survive, a fresh
    * enumeration on the (now much smaller) survivor graph wins; when
    * the deletion set is small, the incremental decrement confines
    * work to the frontier.
    */
  def kTrussFromSupport(support: DataFrame, k: Int,
      maxRounds: Int): DataFrame = {
    require(k >= 3 && maxRounds >= 1, "need k >= 3, maxRounds >= 1")
    val thresh = (k - 2).toLong
    // support measured on the CURRENT graph; loop invariant
    var sup = support
    var last: DataFrame = null
    var round = 0
    var done = false
    // a superseded round's frames are released once its successor is
    // pinned; the caller's `support` is never released here
    def drop(df: DataFrame): Unit = if (df ne support) Pins.release(df)
    while (round < maxRounds && !done) {
      // ONE aggregate job yields both branch counters (r13 — was: eager
      // del checkpoint + del.count + last.count, three jobs of which
      // two scan the same frame); `last` is pinned eagerly (two
      // readers: the output and the next round)
      val cnts = sup.agg(
        sum(when(col("support") >= thresh, 1L).otherwise(0L)).as("k"),
        sum(when(col("support") < thresh, 1L).otherwise(0L)).as("d"))
        .collect().head
      val nKeep = Option(cnts.get(0)).map(_.asInstanceOf[Long])
        .getOrElse(0L)
      val nDel = Option(cnts.get(1)).map(_.asInstanceOf[Long])
        .getOrElse(0L)
      if (last != null) Pins.release(last)
      last = Pins.pin(sup.filter(col("support") >= thresh))
      round += 1
      if (nDel == 0 || round >= maxRounds) {
        done = true
        drop(sup)
      } else {
        val next = if (nDel > nKeep) {
          // mass extinction: the survivor graph is smaller than the
          // frontier - a fresh O(m'^1.5) enumeration on it beats
          // frontier-proportional decrement work
          edgeTriangleSupport(last.select(col("u"), col("v")), "u", "v")
        } else {
          // the deleted edges, read twice (expand + anti-join) by the
          // job that pins the next support frame — that job
          // materializes them
          val (del, n) = Pins.pinWith(sup.filter(col("support") < thresh)
            .select(col("u"), col("v")))(decrement(sup, last, _))
          Pins.release(del)
          n
        }
        drop(sup)
        sup = next
      }
    }
    last
  }

  /** One incremental [[kTrussFromSupport]] round: the support of the
    * survivors `last` after deleting `del` from the graph `sup`,
    * pinned.
    */
  private def decrement(sup: DataFrame, last: DataFrame,
      del: DataFrame): DataFrame = {
    val g = sup.select(col("u"), col("v"))
    val adj = g.select(col("u").as("x"), col("v").as("y"))
      .unionAll(g.select(col("v").as("x"), col("u").as("y")))
    val deg = adj.groupBy(col("x").as("n"))
      .agg(count(lit(1)).as("d"))
    // destroyed triangles: expand each deleted edge from its
    // lower-degree endpoint, close with the opposite edge
    val expand = del
      .join(deg.select(col("n").as("u"), col("d").as("du")), "u")
      .join(deg.select(col("n").as("v"), col("d").as("dv")), "v")
      .select(col("u"), col("v"),
        when(col("du") <= col("dv"), col("u")).otherwise(col("v"))
          .as("__e"),
        when(col("du") <= col("dv"), col("v")).otherwise(col("u"))
          .as("__o"))
      .join(adj.select(col("x").as("__e"), col("y").as("w")),
        Seq("__e"))
      .filter(col("w") =!= col("__o"))
    val tris = expand.join(
        g.select(col("u").as("__ga"), col("v").as("__gb")),
        least(col("__o"), col("w")) === col("__ga") &&
          greatest(col("__o"), col("w")) === col("__gb"),
        "left_semi")
      .select(sort_array(array(col("u"), col("v"), col("w")))
        .as("__t"))
      .distinct()
      .select(col("__t").getItem(0).as("a"),
        col("__t").getItem(1).as("b"), col("__t").getItem(2).as("c"))
    // each destroyed triangle decrements its SURVIVING edges once
    val dec = tris.select(explode(array(
        struct(col("a").as("u"), col("b").as("v")),
        struct(col("a").as("u"), col("c").as("v")),
        struct(col("b").as("u"), col("c").as("v")))).as("__e3"))
      .select(col("__e3.u").as("u"), col("__e3.v").as("v"))
      .join(del, Seq("u", "v"), "left_anti")
      .groupBy(col("u"), col("v")).agg(count(lit(1)).as("__dec"))
    Pins.pin(last.join(dec, Seq("u", "v"), "left")
      .select(col("u"), col("v"),
        (col("support") - coalesce(col("__dec"), lit(0L)))
          .as("support")))
  }

  /** Undirected degree histogram — `(degree, n_nodes)`: how many nodes
    * have each degree. Two aggregates (node-grain then degree-grain),
    * output is at most max-degree rows — the shape that stays tiny at any
    * corpus size, which is what makes it the standard first look at an
    * unknown 100 TB graph (and the input to the triangle-count /
    * skew-handling decisions above).
    */
  def degreeHistogram(edges: DataFrame, srcCol: String,
      dstCol: String): DataFrame =
    degrees(undirected(edges, srcCol, dstCol))
      .groupBy(col("d").as("degree")).agg(count(lit(1)).as("n_nodes"))

  /** k-core peeling over the UNDIRECTED graph: `rounds` synchronous
    * rounds of "delete every node with degree < k, then recompute
    * degrees on the surviving subgraph". Output: `(node, degree)` for
    * the nodes still standing, with their degree in the FINAL surviving
    * subgraph. When the peel reaches a fixpoint within the budget this
    * IS the k-core (every survivor has ≥ k surviving neighbors);
    * `rounds` is a fixed unroll like [[pageRankPpm]]'s — extra rounds
    * past convergence are cheap no-ops, and the worst-case peel depth
    * (a chain collapsing one layer per round) needs diameter-many
    * rounds, so callers size it to the graph like [[bfsHops]]'s
    * `maxHops`.
    *
    * Scale: each round is one degree aggregate (map-side combined) plus
    * two semi-joins of the edge frame against the (much smaller)
    * survivor set — the edge frame shrinks monotonically, so round cost
    * decays. Each round's edge frame is pinned and the previous one
    * released: a round's frame has three INDEPENDENT readers inside one
    * job — the next degree aggregate and the two survivor semi-join
    * broadcast builds (a lazy cache measured ~60 s of task time for ~3 s
    * of work on a 1.3 MB surviving graph at sf0.1). The pin lands at the
    * AQE-coalesced partition count.
    */
  def kCorePeel(edges: DataFrame, srcCol: String, dstCol: String,
      k: Int, rounds: Int): DataFrame = Pins.scoped { s =>
    require(k >= 1 && rounds >= 1, "k and rounds must be positive")
    var e = s.pin(undirected(edges, srcCol, dstCol))
    for (_ <- 1 to rounds) {
      val survivors = degrees(e).filter(col("d") >= k).select("n")
      val next = s.pin(e.join(survivors.withColumnRenamed("n", "u"),
          Seq("u"), "left_semi")
        .join(survivors.withColumnRenamed("n", "v"), Seq("v"),
          "left_semi")
        .select("u", "v"))
      s.release(e)
      e = next
    }
    degrees(e).select(col("n").as("node"), col("d").as("degree"))
  }

  /** The wedge pipeline of the pair scores ([[neighborJaccard]],
    * [[resourceAllocation]], [[adamicAdar]]): every node pair `a < b`
    * joined through a common neighbor `m` — the self-join of the pinned
    * neighbor list `nbrs` (`n`, `m`) on its pivot — with `wedge` applied
    * to each `(a, b, m)` wedge, aggregated to `(a, b, common, scores…)`
    * and cut at `common ≥ minCommon`.
    *
    * Scale: pairs are generated ONLY through shared neighbors, never
    * all-pairs, but the wedge fan-out is Σ deg(m)² — the cost class of
    * triangle counting; `minCommon` prunes AFTER the pair aggregate, so
    * hub-heavy graphs should be degree-capped upstream (drop nodes above
    * a degree ceiling, the LSH `maxBucket` convention — a celebrity
    * node's wedges say nothing about its spokes' similarity anyway).
    */
  private def wedgePairs(nbrs: DataFrame, minCommon: Int)(
      wedge: DataFrame => DataFrame, scores: Column*): DataFrame = {
    wedge(nbrs.select(col("n").as("a"), col("m"))
        .join(nbrs.select(col("n").as("b"), col("m")), "m")
        .filter(col("a") < col("b")))
      .groupBy(col("a"), col("b"))
      .agg(count(lit(1)).as("common"), scores: _*)
      .filter(col("common") >= minCommon)
  }

  /** Neighbor-set Jaccard similarity for node pairs sharing at least
    * `minCommon` neighbors — the classic link-prediction / entity-
    * resolution feature ("how alike are two nodes' neighborhoods"),
    * complementing [[triangleCounts]] (closure) with overlap strength:
    * `J = common / (deg(a) + deg(b) − common)`, counts exact integers,
    * only the final ratio floating (6 dp).
    *
    * Scale: the [[wedgePairs]] budget; degrees are a node-grain frame
    * joined twice after the pair aggregate.
    */
  def neighborJaccard(edges: DataFrame, srcCol: String, dstCol: String,
      minCommon: Int): DataFrame = Pins.scoped { s =>
    require(minCommon >= 1, "minCommon must be positive")
    val nbrs = s.pin(neighbors(undirected(edges, srcCol, dstCol)))
    // node-grain, read by BOTH endpoint joins — pinned (audit rule)
    val deg = s.pin(nbrs.groupBy(col("n")).agg(count(lit(1)).as("deg")))
    wedgePairs(nbrs, minCommon)(identity)
      .join(deg.select(col("n").as("a"), col("deg").as("__da")), "a")
      .join(deg.select(col("n").as("b"), col("deg").as("__db")), "b")
      .withColumn("jaccard", round(col("common").cast("double") /
        (col("__da") + col("__db") - col("common")).cast("double"), 6))
      .select(col("a"), col("b"), col("common"), col("jaccard"))
  }

  /** The link-prediction indices [[resourceAllocation]] and
    * [[adamicAdar]]: over the UNDIRECTED graph, every NON-adjacent pair
    * `(a, b)`, `a < b`, with ≥ `minCommon` common neighbors, scored by
    * `score`, a sum over the pair's wedges of a term in the pivot's
    * degree `__dz`. Each wedge is weighted BEFORE the pair aggregate, so
    * the integer sum is order-free. Three shuffles: the [[wedgePairs]]
    * self-join, the per-pair aggregate, the adjacency anti-join.
    */
  private def pivotScore(edges: DataFrame, srcCol: String, dstCol: String,
      minCommon: Int, score: Column): DataFrame = Pins.scoped { s =>
    require(minCommon >= 1, "minCommon must be positive")
    val e = s.pin(undirected(edges, srcCol, dstCol))
    val nbrs = s.pin(neighbors(e))
    val dz = nbrs.groupBy(col("n").as("m")).agg(count(lit(1)).as("__dz"))
    wedgePairs(nbrs, minCommon)(_.join(dz, "m"), score)
      .join(e.select(col("u").as("a"), col("v").as("b")), Seq("a", "b"),
        "left_anti")
  }

  /** Resource-Allocation link-prediction index (Zhou–Lü–Zhang 2009)
    * over the UNDIRECTED graph: for every NON-adjacent pair `(a, b)`
    * sharing ≥ `minCommon` neighbors, `RA(a,b) = Σ_z 1/deg(z)` over
    * the common neighbors `z` — the who-should-be-linked companion of
    * [[neighborJaccard]] (that one scores EXISTING structure; this one
    * ranks the missing edges a recommender or record-linker would add).
    * RA is the Adamic–Adar family member whose per-term weight is a
    * pure integer ratio: each term is emitted as the micro-floored
    * `10⁶ DIV deg(z)` and SUMMED AS INTEGERS, so the score is exact and
    * aggregation-order-independent in any engine — an FP `Σ 1/ln deg`
    * (classic AA) differs across engines in the last ulp of `ln` and
    * the reduce order, the cross-engine trap this codebase avoids
    * throughout. Per-term flooring is the documented contract (score
    * resolution 1 micro per term).
    *
    * Output: `(a, b, common, ra_micro)`, `a < b`, existing edges
    * anti-joined away. Scale: [[pivotScore]].
    */
  def resourceAllocation(edges: DataFrame, srcCol: String,
      dstCol: String, minCommon: Int): DataFrame =
    pivotScore(edges, srcCol, dstCol, minCommon,
      sum(expr("1000000L DIV __dz")).as("ra_micro"))

  /** Local clustering coefficient per node over the UNDIRECTED graph:
    * `cc = 2·T / (d·(d−1))` for every node with degree ≥ 2, where `T`
    * is the node's triangle membership count ([[triangleCounts]]) —
    * the is-my-neighborhood-a-clique readout that separates hub-and-
    * spoke structure (cc ≈ 0) from community structure (cc ≈ 1), the
    * per-node refinement of the global transitivity behind
    * [[modularity]] decisions. Emitted as the exact integer
    * `cc_micro = (2·T·10⁶) DIV (d·(d−1))` — T and d are integers, so
    * the ratio is engine-exact; the cross products route through
    * DECIMAL(38,0) (T ~ d² and ×10⁶ passes 2⁶³ at hub degrees ≈ 10⁵).
    *
    * Output: `(node, degree, triangles, cc_micro)` for degree ≥ 2
    * nodes; triangle-free nodes report 0, not absence.
    *
    * Scale: rides [[triangleCounts]]'s degree-oriented O(m^1.5) wedge
    * budget on the same pinned edge frame; the only additions are the
    * node-grain degree aggregate and one left join of the (≤ node-count)
    * triangle frame onto it.
    */
  def clusteringCoefficient(edges: DataFrame, srcCol: String,
      dstCol: String): DataFrame = Pins.scoped { s =>
    val e = s.pin(undirected(edges, srcCol, dstCol))
    val d38 = "decimal(38,0)"
    val tri = nodeTriangles(s, e)
    degrees(e).select(col("n").as("node"), col("d").as("degree"))
      .filter(col("degree") >= 2)
      .join(tri, Seq("node"), "left")
      .withColumn("triangles", coalesce(col("triangles"), lit(0L)))
      .withColumn("cc_micro",
        expr(s"(CAST(triangles AS $d38) * 2000000) DIV " +
          s"(CAST(degree AS $d38) * (degree - 1))"))
  }

  /** Synchronous label propagation from clamped seeds — the
    * semi-supervised companion to [[connectedComponents]] (CC spreads
    * the MIN label to everything reachable; this spreads labels by
    * NEIGHBOR MAJORITY, so distinct communities in one component keep
    * distinct labels). Each round, every node adopts the most common
    * label among its labeled neighbors (ties → smallest label); seed
    * nodes never change (clamped, the semi-supervised convention);
    * unlabeled nodes stay absent until a labeled neighbor appears.
    * `rounds` is a fixed unroll — labels reach hop-`rounds` distance
    * from the seeds, the [[bfsHops]] sizing rule.
    *
    * Scale: per round, one join of the neighbor list against the
    * CURRENT label frame (labels-sized, not edge-sized build side early
    * on) and one (node, label) vote aggregate + per-node window pick.
    * Label frames are pinned per round (the [[kCorePeel]] lineage
    * discipline); the neighbor list is pinned once across all rounds.
    */
  def labelPropagation(edges: DataFrame, srcCol: String, dstCol: String,
      seeds: DataFrame, nodeCol: String, labelCol: String,
      rounds: Int): DataFrame = Pins.scoped { s =>
    require(rounds >= 1, "rounds must be positive")
    // per-round joins key on m — pin the neighbor list partitioned
    // and sorted on it (r13), or every round re-exchanges the edge-grain
    // frame
    val nbrs0 = neighbors(undirected(edges, srcCol, dstCol))
    val nbrs = s.loopCache(nbrs0, "m", Pins.loopParts(nbrs0))
    val seed = s.pin(
      seeds.select(col(nodeCol).as("n"), col(labelCol).as("label")))
    var labels = seed
    for (round <- 1 to rounds) {
      val votes = nbrs
        .join(labels.select(col("n").as("m"), col("label")), "m")
        .groupBy(col("n"), col("label")).agg(count(lit(1)).as("__c"))
      val pick = votes.withColumn("__r",
          row_number().over(org.apache.spark.sql.expressions.Window
            .partitionBy(col("n"))
            .orderBy(col("__c").desc, col("label").asc)))
        .filter(col("__r") === 1).select(col("n"), col("label"))
      labels = seed
        .unionByName(pick.join(seed.select("n"), Seq("n"), "left_anti"))
      // the last round's labels are the result, pinned by the scope
      if (round < rounds) labels = s.pin(labels)
    }
    labels.select(col("n").as("node"), col("label"))
  }

  /** Connected components over any undirected edge list —
    * `(node, component)` with component = the smallest node in the
    * component. Thin façade over the pointer-jumping min-label engine in
    * [[graft.llm.Dedup.duplicateClusters]] (path-halving: the min spreads
    * 2^round hops per round, so a diameter-d graph converges in O(log d)
    * rounds with per-round plan checkpointing — the shape that survives a
    * 100 TB edge list, vs naive HashMin's O(d) rounds). Exposed here so
    * graph workloads don't reach into the dedup module for a general
    * algorithm; isolated nodes carry no edges and so don't appear.
    */
  def connectedComponents(edges: DataFrame, srcCol: String, dstCol: String,
      maxIter: Int = 20): DataFrame = {
    // the CC engine now reads its pair frame exactly ONCE (r13: the
    // both-directions union became a single-pass explode), so the former
    // protective pin here would only spend storage on a single-reader
    // frame
    val e = edges.filter(col(srcCol).isNotNull && col(dstCol).isNotNull)
    graft.llm.Dedup.duplicateClusters(e, srcCol, dstCol, maxIter)
      .select(col("doc").as("node"), col("cluster").as("component"))
  }

  /** The frontier-BFS loop: min-hop labels `(keys…, id, hop)` from the
    * hop-0 frame `start` (`keys…`, `id`) over the src-keyed loop edge
    * frame `e` ([[Pins.loopCache]]d at `np` partitions), `maxHops`
    * rounds. Round `i` expands only the nodes first reached at `i−1`
    * (not the whole reached set), so per-round work tracks the frontier
    * size, and the reached set is re-minimized per `(keys…, id)` with
    * one aggregate per round. `keys` carry through the frontier join:
    * none for one source set, `seed` for one BFS per seed.
    *
    * Each round reads the previous reached set TWICE (frontier filter +
    * union), so the per-round frame is pinned: left as lineage, the
    * double reference re-executes every earlier round's join per level —
    * 2^maxHops recompute (measured 6.3 s → 2.6 s at 3 hops on the sf0.1
    * shipment graph just from pinning these). [[Pins.loopShrink]] keeps
    * the pinned round at the loop's partition count, co-partitioned with
    * `e`.
    */
  private def bfsRounds(s: Pins.Scope, e: DataFrame, np: Int,
      start: DataFrame, keys: Seq[String], maxHops: Int): DataFrame = {
    val k = keys.map(col)
    var dist = s.pin(start.withColumn("hop", lit(0)))
    for (i <- 1 to maxHops) {
      val next = dist.filter(col("hop") === i - 1)
        .select(k :+ col("id").as("src"): _*)
        .join(e, "src")
        .select(k ++ Seq(col("dst").as("id"), lit(i).as("hop")): _*)
      dist = s.pin(Pins.loopShrink(dist.unionByName(next)
        .groupBy(k :+ col("id"): _*).agg(min(col("hop")).as("hop")),
        "id", np))
    }
    dist
  }

  /** Breadth-first min-hop labels from a seed set over the DIRECTED edge
    * list: `(id, hop)` for every node within `maxHops` hops, hop = exact
    * BFS distance (seeds at 0) — the [[bfsRounds]] loop. The edge list
    * is pinned pre-partitioned on `src` once; `maxHops` is a fixed
    * unroll (same posture as [[pageRankPpm]]), and the result is a
    * scoped pin, which truncates the `maxHops`-deep lineage.
    */
  def bfsHops(edges: DataFrame, srcCol: String, dstCol: String,
      seeds: DataFrame, seedCol: String,
      maxHops: Int): DataFrame = Pins.scoped { s =>
    require(maxHops >= 1, "need at least one hop")
    val e0 = directed(edges, srcCol, dstCol)
    val np = Pins.loopParts(e0)
    val e = s.loopCache(e0, "src", np)
    bfsRounds(s, e, np, seeds.select(col(seedCol).as("id"))
        .filter(col("id").isNotNull).distinct(), Nil, maxHops)
      .withColumn("hop", col("hop").cast("int"))
  }

  /** Per-community modularity contributions (Newman & Girvan, PRE
    * 2004) over the UNDIRECTED graph for a given node→community
    * assignment: for community `c`, `e_c` = edges with both endpoints
    * in `c`, `deg_c` = Σ degree over its nodes, and the contribution
    * `q_c = e_c/m − (deg_c/(2m))²`; modularity Q = Σ q_c. The
    * clustering-quality score for label-propagation / CC partitions —
    * the graph dual of the silhouette report.
    *
    * `e_c`, `deg_c`, `m` are exact integers; `q_c` is the only float
    * (two divisions of exact integers, shared association, 6 dp).
    *
    * Output: `(community, n_nodes, e_in, deg_sum, q_contrib)` — one
    * row per community that owns ≥ 1 node with an incident edge.
    *
    * Scale: degree is one edge-grain aggregate; `e_c` is the edge list
    * joined twice against the (node, community) map on its endpoint
    * keys — two hash joins at edge grain, then everything collapses to
    * community grain. No pairwise-anything.
    */
  def modularity(edges: DataFrame, srcCol: String, dstCol: String,
      assign: DataFrame, nodeCol: String,
      communityCol: String): DataFrame = Pins.scoped { s =>
    // pinned: the broadcast m build, deg, and both eIn join sides read
    // this concurrently inside the one out-building job
    val e = s.pin(undirected(edges, srcCol, dstCol))
    val m = e.agg(count(lit(1)).as("__m"))
    val asg = assign.select(col(nodeCol).as("__node"),
      col(communityCol).as("community"))
    val deg = degrees(e).select(col("n").as("__node"), col("d").as("__deg"))
    val byComm = deg.join(asg, Seq("__node"))
      .groupBy(col("community"))
      .agg(count(lit(1)).as("n_nodes"), sum(col("__deg")).as("deg_sum"))
    val eIn = e
      .join(asg.select(col("__node").as("u"),
        col("community").as("__cu")), Seq("u"))
      .join(asg.select(col("__node").as("v"),
        col("community").as("__cv")), Seq("v"))
      .filter(col("__cu") === col("__cv"))
      .groupBy(col("__cu").as("community"))
      .agg(count(lit(1)).as("e_in"))
    byComm.join(eIn, Seq("community"), "left")
      .withColumn("e_in", coalesce(col("e_in"), lit(0L)))
      .crossJoin(broadcast(m))
      .withColumn("q_contrib", round(expr(
        "CAST(e_in AS DOUBLE) / CAST(__m AS DOUBLE) " +
          "- (CAST(deg_sum AS DOUBLE) / CAST(2 * __m AS DOUBLE)) " +
          "* (CAST(deg_sum AS DOUBLE) / CAST(2 * __m AS DOUBLE))"), 6))
      .select(col("community"), col("n_nodes"), col("e_in"),
        col("deg_sum"), col("q_contrib"))
  }

  /** Degree assortativity (Newman, PRL 2002): the Pearson correlation
    * of endpoint degrees over the UNDIRECTED edge list with both
    * orientations counted — positive on hub-meets-hub graphs (social),
    * negative on hub-meets-leaf (infrastructure, star-schema
    * co-occurrence). Sufficient stats `(n = 2m, Σx, Σy, Σxy, Σx²)` are
    * exact integers (symmetry makes the y-moments equal the
    * x-moments); `r` is the one shared-association float expression,
    * 6 dp, null on a degree-regular graph (zero variance).
    *
    * Output: ONE row `(m, r)`.
    *
    * Scale: one degree aggregate + one edge-grain join against the
    * degree map per endpoint, collapsed to a single row. Edge-linear.
    */
  def degreeAssortativity(edges: DataFrame, srcCol: String,
      dstCol: String): DataFrame = Pins.scoped { s =>
    val e = s.pin(undirected(edges, srcCol, dstCol))
    val deg = degrees(e).select(col("n").as("__node"), col("d").as("__deg"))
    val pairs = e
      .join(deg.select(col("__node").as("u"), col("__deg").as("__du")),
        Seq("u"))
      .join(deg.select(col("__node").as("v"), col("__deg").as("__dv")),
        Seq("v"))
    pairs
      .agg(count(lit(1)).as("__m"),
        sum(col("__du") + col("__dv")).as("sx"),
        sum(col("__du") * col("__dv") * 2L).as("sxy"),
        sum(col("__du") * col("__du") + col("__dv") * col("__dv"))
          .as("sxx"))
      .withColumn("n", col("__m") * 2L)
      .withColumn("r", round(expr(
        "CASE WHEN CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) " +
          "- CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) > 0 THEN " +
          "(CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) " +
          "- CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) " +
          "/ (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) " +
          "- CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) END"), 6))
      .select(col("__m").as("m"), col("r"))
  }

  /** Deterministic negative-edge sampling for link-prediction /
    * contrastive graph training: for every node `u`, draw `oversample`
    * hash-indexed candidates from the node set (`cand_idx =
    * mixed-hash("u#j") mod |V|` against the id-ordered node index),
    * drop real neighbors and self, and keep the first `k` by draw
    * index — seedless, so resuming a failed job regenerates the SAME
    * negatives (the property `rand()`-based samplers can't give a
    * 100 TB run). Candidates lost to the neighbor filter are NOT
    * redrawn (oversample is the redraw budget) — nodes adjacent to
    * most of V can emit < k rows, by contract.
    *
    * Output: `(u, j, neg_id)` — ≤ k rows per node, `j` the draw index
    * that survived.
    *
    * Scale: the node index is an id-ordered distributed two-level rank
    * over the NODE table (node grain, not edge grain, and no
    * single-partition window); draws are a literal
    * `oversample`-way fan-out joined back by index, and the neighbor
    * filter is a left-anti join on the (u, cand) edge key. All joins
    * are key-equi; nothing is pairwise.
    */
  def negativeEdgeSamples(edges: DataFrame, srcCol: String,
      dstCol: String, k: Int,
      oversample: Int): DataFrame = Pins.scoped { s =>
    require(oversample >= k && k >= 1, "need oversample >= k >= 1")
    // pinned (the modularity rationale): the final job reads e via
    // its neighbor list while the draws side re-reads indexed
    val e = s.pin(undirected(edges, srcCol, dstCol))
    val nodes = nodeIds(e, "u", "v")
    // id-ordered node index via the distributed two-level rank — the
    // former corpus-grain Window.orderBy(id) was the one
    // single-partition sort in the graph family (round 10).
    val ranked = globalRank(nodes, Seq(col("id")), "__rk1")
    val indexed = s.pin(
      ranked.withColumn("__idx", col("__rk1") - 1).drop("__rk1"))
    // the rank's range pin has no reader left once indexed is pinned
    Pins.release(ranked)
    val nV = indexed.agg(count(lit(1)).as("__n"))
    val draws = indexed.select(col("id").as("u"))
      .crossJoin(broadcast(nV))
      .select(col("u"), col("__n"),
        explode(sequence(lit(0), lit(oversample - 1))).as("j"))
      .withColumn("__idx", pmod(graft.functions.PolyHash.polyhash(
          concat(col("u").cast("string"), lit("#"),
            col("j").cast("string"))) * lit(2654435761L),
        lit(1000000007L)) % col("__n"))
      .join(indexed.select(col("__idx"), col("id").as("neg_id")),
        Seq("__idx"))
    draws
      .filter(col("neg_id") =!= col("u"))
      .join(neighbors(e).select(col("n").as("u"), col("m").as("neg_id")),
        Seq("u", "neg_id"), "left_anti")
      // hash collisions can re-draw the same negative: keep its first j
      .groupBy(col("u"), col("neg_id")).agg(min(col("j")).as("j"))
      .withColumn("__rk", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("u"))
          .orderBy(col("j"))))
      .filter(col("__rk") <= k)
      .select(col("u"), col("j"), col("neg_id"))
  }

  /** Pseudo-diameter by the double-BFS sweep (the standard
    * lower-bound heuristic, e.g. Magnien/Latapy/Habib 2009): BFS from
    * a deterministic anchor (the lexicographically smallest node),
    * jump to the farthest reached node (ties → smallest id), BFS
    * again — the second eccentricity is a diameter lower bound that
    * is exact on trees and within a small factor in practice, at TWO
    * BFS costs instead of all-pairs. Both sweeps are hop-capped at
    * `maxHops` (a sweep that still has frontier at the cap reports
    * the capped value — deterministic, documented; raise the cap to
    * chase the true bound). Input edges must already carry both
    * directions for an undirected reading (the [[bfsHops]] / q173
    * convention). Output ONE row: `(anchor0, ecc1, n_reached1,
    * anchor1, ecc2, n_reached2)`.
    *
    * Scale: two [[bfsRounds]] loops (2·maxHops frontier joins) on one
    * pinned edge frame — the edge distinct/repartition/pin paid ONCE.
    */
  def pseudoDiameter(edges: DataFrame, srcCol: String, dstCol: String,
      maxHops: Int): DataFrame = Pins.scoped { s =>
    require(maxHops >= 1, "need at least one hop")
    val e0 = directed(edges, srcCol, dstCol)
    val np = Pins.loopParts(e0)
    val e = s.loopCache(e0, "src", np)
    // farthest node, ties to the smallest id: one agg of (hop, id)
    // pairs via max_by on the (hop, negated-lexico) struct is not
    // string-safe — use max(hop) then min(id) at that hop instead
    def far(dist: DataFrame): DataFrame = {
      val mx = dist.agg(max(col("hop")).as("__mx"))
      dist.crossJoin(broadcast(mx)).filter(col("hop") === col("__mx"))
        .agg(min(col("id")).as("id"), max(col("hop")).as("ecc"))
    }
    val a0 = e.select(explode(array(col("src"), col("dst"))).as("id"))
      .agg(min(col("id")).as("id"))
    val d1 = bfsRounds(s, e, np, a0.select("id"), Nil, maxHops)
    val f1 = s.pin(far(d1))
    val n1 = d1.agg(count(lit(1)).as("n_reached1"))
    val d2 = bfsRounds(s, e, np, f1.select("id"), Nil, maxHops)
    val f2 = far(d2)
    val n2 = d2.agg(count(lit(1)).as("n_reached2"))
    a0.select(col("id").as("anchor0"))
      .crossJoin(f1.select(col("id").as("anchor1"),
        col("ecc").as("ecc1")))
      .crossJoin(broadcast(n1))
      .crossJoin(f2.select(col("ecc").as("ecc2")))
      .crossJoin(broadcast(n2))
      .select(col("anchor0"), col("ecc1").cast("int").as("ecc1"),
        col("n_reached1").cast("long").as("n_reached1"),
        col("anchor1"), col("ecc2").cast("int").as("ecc2"),
        col("n_reached2").cast("long").as("n_reached2"))
  }

  /** HITS hubs & authorities (Kleinberg, JACM 1999), `iters` synchronous
    * rounds, scores as MAX-normalized ppm integers: per round
    * `auth_raw(v) = Σ_{u→v} hub(u)` then `auth = (auth_raw · 10⁶) DIV
    * max(auth_raw)` (best authority = 1,000,000), and symmetrically
    * `hub_raw(u) = Σ_{u→v} auth(v)`. Kleinberg's convergence is
    * invariant to the per-round scaling choice, and max-normalization
    * keeps every value an exact integer — no L2 norm, no float drift,
    * so the rank table is oracle-checkable. Scores start at 10⁶;
    * nodes with no in-edges (resp. out-edges) hold authority (resp.
    * hub) 0.
    *
    * Scale shape: the [[push]] posture in both directions — the
    * distinct edge list and node frame are pinned pre-partitioned on
    * their join keys once, each round is one src-keyed join + one
    * dst-keyed aggregate per direction, the max is a one-row broadcast,
    * and the result is a scoped pin.
    *
    * Output: `(id, hub, auth)` for every node.
    */
  def hitsPpm(edges: DataFrame, srcCol: String, dstCol: String,
      iters: Int): DataFrame = Pins.scoped { s =>
    require(iters >= 1, "need at least one round")
    // TWO pre-partitioned pinned copies of the edge list, one per join
    // key (r13, guide §2.4 "remove shuffles outright"): each round joins
    // on src (hub propagation) AND on dst (auth propagation), and a
    // single (src,dst)-hash-partitioned pin satisfied neither, so
    // every round re-exchanged the EDGE-grain frame twice on top of the
    // two unavoidable aggregate exchanges (4 edge-grain exchanges/round
    // → 2). eDst also makes round-1's indegree aggregate exchange-free.
    // The rank frames come back from normRaw's pin still
    // hash-partitioned on id (a pin preserves partitioning), so
    // the per-round joins are fully co-partitioned. Cost: 2× edge pin.
    val eRaw = directed(edges, srcCol, dstCol)
    val np = Pins.loopParts(eRaw)
    val eSrc = s.loopCache(eRaw, "src", np)
    val eDst = s.loopCache(eSrc, "dst", np)
    val nodes = s.loopCache(nodeIds(eSrc, "src", "dst"), "id", np,
      skipIfSession = true)
    // each round's raw frame has TWO readers (the max scalar and the
    // next-round join) and sits on an iters-deep lineage — pin it or
    // every normalization recomputes the whole history
    // (measured 25 s -> ~5 s at sf0.1 for the 2-round gate graph).
    // Intermediate frames carry only ACTIVE nodes: an absent node is a
    // 0 in the next round's inner-join sums either way, zeros never
    // move the (non-negative) max, and the final expansion fills the
    // zeros — so the all-nodes left-join runs ONCE per output column,
    // not once per round (round-10 rewrite; values are bit-identical).
    def normRaw(raw0: DataFrame, c: String): DataFrame = {
      val raw = s.pin(raw0)
      val mx = raw.agg(max(col(c)).as("__mx"))
      raw.crossJoin(broadcast(mx))
        .select(col("id"), when(col("__mx").isNull || col("__mx") === 0L,
            lit(0L))
          .otherwise(expr(s"($c * 1000000) DIV __mx")).as(c))
    }
    def expand(frame: DataFrame, c: String): DataFrame =
      nodes.join(frame, Seq("id"), "left")
        .select(col("id"), coalesce(col(c), lit(0L)).as(c))
    var hub: DataFrame = null
    var auth: DataFrame = null
    for (i <- 1 to iters) {
      // round 1: every hub is the SAME constant, so the raw auth is
      // hub0·indegree and the constant cancels exactly in the floored
      // max-ratio ((k·x·10⁶) DIV (k·max) = (x·10⁶) DIV max) — the
      // normalized round-1 auth IS the normalized indegree, no join
      val rawAuth = if (i == 1)
        eDst.groupBy(col("dst").as("id")).agg(count(lit(1)).as("auth"))
      else eSrc.join(hub.withColumnRenamed("id", "src"), "src")
        .groupBy(col("dst").as("id")).agg(sum(col("hub")).as("auth"))
      auth = normRaw(rawAuth, "auth")
      hub = normRaw(eDst
        .join(auth.withColumnRenamed("id", "dst"), "dst")
        .groupBy(col("src").as("id")).agg(sum(col("auth")).as("hub")),
        "hub")
    }
    expand(hub, "hub").join(expand(auth, "auth"), Seq("id"))
      .select(col("id"), col("hub"), col("auth"))
  }

  /** Multi-source BFS over the UNDIRECTED graph: min-hop distance from
    * every seed to everything within `maxHops` — ONE distance frame
    * `(seed, id, hop)` that the whole sampled-centrality family
    * (closeness q381 / harmonic q382 / hop histogram q384) reads, built
    * once and shared exactly like the co-purchase edge memo: landmark
    * BFS is the standard scale substitute for all-pairs shortest paths
    * (ANF/HyperBall lineage), and every downstream statistic is a pure
    * aggregate of this frame.
    *
    * The [[bfsRounds]] loop with the seed key carried through the
    * frontier, so each round is one src-keyed join + one (seed,id)
    * min-aggregate — cost is O(hops · Σ_seeds reached-edges), linear in
    * the seed count, never all-pairs.
    */
  def multiSourceBfs(edges: DataFrame, srcCol: String, dstCol: String,
      seeds: DataFrame, seedCol: String,
      maxHops: Int): DataFrame = Pins.scoped { s =>
    require(maxHops >= 1, "need at least one hop")
    val e0 = neighbors(undirected(edges, srcCol, dstCol))
      .select(col("n").as("src"), col("m").as("dst"))
    val np = Pins.loopParts(e0)
    val e = s.loopCache(e0, "src", np)
    bfsRounds(s, e, np, seeds.select(col(seedCol).as("seed"))
        .filter(col("seed").isNotNull).distinct()
        .withColumn("id", col("seed")), Seq("seed"), maxHops)
      .withColumn("hop", col("hop").cast("int"))
  }

  /** Bounded-horizon closeness centrality per seed from a
    * [[multiSourceBfs]] distance frame: Wasserman–Faust normalized,
    * `C = (r−1)² · 10⁶ DIV ((N−1) · Σd)` with `r` = nodes reached
    * within the horizon, `N` = graph node count — the (r−1)/(N−1)
    * factor stops a seed that only sees its tiny component from
    * out-scoring a hub. Exact integers throughout. Output:
    * `(seed, n_reached, sum_hops, closeness_micro)`.
    */
  def closenessFromBfs(bfs: DataFrame, nNodes: Long): DataFrame =
    bfs.groupBy(col("seed"))
      .agg(count(lit(1)).as("n_reached"),
        sum(col("hop").cast("long")).as("sum_hops"))
      .select(col("seed"), col("n_reached"), col("sum_hops"),
        when(col("sum_hops") > 0,
          expr(s"(n_reached - 1) * (n_reached - 1) * 1000000L " +
            s"DIV ((${nNodes}L - 1) * sum_hops)"))
          .otherwise(lit(0L)).as("closeness_micro"))

  /** Bounded-horizon harmonic centrality per seed from the same frame:
    * `H = Σ_{d>0} 10⁶ DIV d` — the disconnected-safe centrality
    * (unreached nodes contribute 0, no (r−1)/(N−1) patch needed).
    * Per-term floor keeps the sum order-free and engine-exact. Output:
    * `(seed, n_reached, harmonic_micro)`.
    */
  def harmonicFromBfs(bfs: DataFrame): DataFrame =
    bfs.groupBy(col("seed"))
      .agg(count(lit(1)).as("n_reached"),
        sum(when(col("hop") > 0, expr("1000000L DIV hop"))
          .otherwise(lit(0L))).as("harmonic_micro"))

  /** Hop-count distribution of the sampled BFS frame: per hop, the
    * (seed, node) pair count and the cumulative parts-per-million —
    * the sampled neighborhood function N(h) (ANF, Palmer et al. KDD'02)
    * whose 90% crossing is the effective-diameter readout. The
    * cumulative is a ≤(maxHops+1)-row triangular self-join, not a
    * global window. Output: `(hop, n_pairs, cum_pairs, cum_ppm)`.
    */
  def hopHistogram(bfs: DataFrame): DataFrame = {
    val h = bfs.groupBy(col("hop")).agg(count(lit(1)).as("n_pairs"))
    val tot = h.agg(sum(col("n_pairs")).as("__tot"))
    val cum = h.select(col("hop").as("__h2"), col("n_pairs").as("__n2"))
    h.join(cum, col("__h2") <= col("hop"))
      .groupBy(col("hop"), col("n_pairs"))
      .agg(sum(col("__n2")).as("cum_pairs"))
      .crossJoin(tot)
      .select(col("hop"), col("n_pairs"), col("cum_pairs"),
        expr("cum_pairs * 1000000L DIV __tot").as("cum_ppm"))
  }

  /** Adamic–Adar link prediction over the UNDIRECTED graph: for every
    * non-adjacent pair with ≥ `minCommon` common neighbors,
    * `AA = Σ_z 1/ln(deg z)` — the inverse-log refinement between
    * common-neighbor counting ([[neighborJaccard]]) and the
    * inverse-degree [[resourceAllocation]] index. Emitted as the
    * per-term-rounded integer sum `aa_micro = Σ round(10⁶/ln(deg z))`
    * (a shared pivot has deg ≥ 2, so ln > 0; per-term rounding makes
    * the sum commutative and engine-exact — the q346 discipline).
    *
    * Scale: [[pivotScore]], the [[resourceAllocation]] plan with the
    * inverse-log term.
    */
  def adamicAdar(edges: DataFrame, srcCol: String, dstCol: String,
      minCommon: Int): DataFrame =
    pivotScore(edges, srcCol, dstCol, minCommon,
      sum(expr("CAST(round(1000000 / ln(CAST(__dz AS DOUBLE))) " +
        "AS BIGINT)")).as("aa_micro"))
}

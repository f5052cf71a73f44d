package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import graft.engine.{Graph, Relational}
import graft.llm.{Dedup, Lexical}

/** No operator leaves pinned blocks behind: for each call, the cached
  * RDDs that exist after it and did not before must all sit behind the
  * result's own `LogicalRDD` leaves (a pinned result, or the pin a lazy
  * result still reads). Tracks RDD ids, not counts — sibling suites
  * release asynchronously, so the global count can drop mid-call.
  */
class PinLeakSpec extends SparkSpec {
  import spark.implicits._

  private def docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, "the quick brown fox jumps over the lazy cat"),
    (3L, "a slow green turtle walks under the busy bridge"),
    (4L, "a slow green turtle walks under the busy road"),
    (5L, "lorem ipsum dolor sit amet consectetur")).toDF("doc_id", "text")

  private def edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L), (4L, 5L),
    (5L, 3L), (5L, 6L), (6L, 7L), (7L, 5L), (2L, 4L)).toDF("a", "b")

  private def seeds = Seq(1L).toDF("s")

  private def labels = Seq((1L, 10L), (6L, 20L)).toDF("n", "label")

  private def communities = Seq((1L, 1L), (2L, 1L), (3L, 1L), (4L, 2L),
    (5L, 2L), (6L, 2L), (7L, 2L)).toDF("n", "c")

  private def drift = Seq(("s0", 0L), ("s0", 10L), ("s1", 5L), ("s1", 10L),
    ("s2", 1L), ("s2", 11L)).toDF("s", "v")

  private def paired =
    Relational.ecdfPaired(drift, "s", "s0", "v", 0d, 12d, 4)

  private def blocks = Seq(("b1", "t1", 1L), ("b1", "t2", 2L),
    ("b2", "t1", 3L), ("b2", "t2", 1L), ("b3", "t1", 4L)).toDF("b", "t", "v")

  private def pvals = Seq((1L, 0.01), (2L, 0.04), (3L, 0.04), (4L, 0.3))
    .toDF("id", "p")

  private val operators: Seq[(String, () => DataFrame)] = Seq(
    "ksReportFromPaired" -> (() => Relational.ksReportFromPaired(paired)),
    "mannWhitneyReport" -> (() =>
      Relational.mannWhitneyReport(drift, "s", "s0", "v", 0d, 12d, 4)),
    "wassersteinReportFromPaired" -> (() =>
      Relational.wassersteinReportFromPaired(paired)),
    "cvmReportFromPaired" -> (() => Relational.cvmReportFromPaired(paired)),
    "andersonDarlingFromPaired" -> (() =>
      Relational.andersonDarlingFromPaired(paired)),
    "energyDistanceFromPaired" -> (() =>
      Relational.energyDistanceFromPaired(paired)),
    "kuiperReportFromPaired" -> (() =>
      Relational.kuiperReportFromPaired(paired)),
    "friedmanTest" -> (() => Relational.friedmanTest(blocks, "b", "t", "v")),
    "pageTrendTest" -> (() =>
      Relational.pageTrendTest(blocks, "b", "t", "v")),
    "bhFdr" -> (() => Relational.bhFdr(pvals, "id", "p", 20)),
    "holmBonferroni" -> (() => Relational.holmBonferroni(pvals, "id", "p", 20)),
    "byFdr" -> (() => Relational.byFdr(pvals, "id", "p", 20)),
    "skipgramPmi" -> (() =>
      Lexical.skipgramPmi(docs, "doc_id", "text", 2, 1L, 5)),
    "duplicateClusters" -> (() =>
      Dedup.duplicateClusters(edges, "a", "b")),
    "neighborJaccard" -> (() => Graph.neighborJaccard(edges, "a", "b", 1)),
    "kCorePeel" -> (() => Graph.kCorePeel(edges, "a", "b", 2, 2)),
    "pageRankPpm" -> (() => Graph.pageRankPpm(edges, "a", "b", 3)),
    "bfsHops" -> (() => Graph.bfsHops(edges, "a", "b", seeds, "s", 3)),
    "katzCentralityPpm" -> (() =>
      Graph.katzCentralityPpm(edges, "a", "b", 3)),
    "personalizedPageRankPpm" -> (() =>
      Graph.personalizedPageRankPpm(edges, "a", "b", seeds, "s", 3)),
    "hitsPpm" -> (() => Graph.hitsPpm(edges, "a", "b", 3)),
    "triangleCounts" -> (() => Graph.triangleCounts(edges, "a", "b")),
    "edgeTriangleSupport" -> (() =>
      Graph.edgeTriangleSupport(edges, "a", "b")),
    "kTrussFromSupport" -> (() => {
      // the input support is the caller's pin: released by the caller
      val support = Graph.edgeTriangleSupport(edges, "a", "b")
      try Graph.kTrussFromSupport(support, 4, 3)
      finally graft.engine.Pins.release(support)
    }),
    "multiSourceBfs" -> (() =>
      Graph.multiSourceBfs(edges, "a", "b", seeds, "s", 3)),
    "pseudoDiameter" -> (() => Graph.pseudoDiameter(edges, "a", "b", 3)),
    "labelPropagation" -> (() =>
      Graph.labelPropagation(edges, "a", "b", labels, "n", "label", 2)),
    "resourceAllocation" -> (() =>
      Graph.resourceAllocation(edges, "a", "b", 1)),
    "adamicAdar" -> (() => Graph.adamicAdar(edges, "a", "b", 1)),
    "clusteringCoefficient" -> (() =>
      Graph.clusteringCoefficient(edges, "a", "b")),
    "modularity" -> (() =>
      Graph.modularity(edges, "a", "b", communities, "n", "c")),
    "degreeAssortativity" -> (() =>
      Graph.degreeAssortativity(edges, "a", "b")),
    "negativeEdgeSamples" -> (() =>
      Graph.negativeEdgeSamples(edges, "a", "b", 2, 4)),
    "degreeHistogram" -> (() => Graph.degreeHistogram(edges, "a", "b")),
    "connectedComponents" -> (() =>
      Graph.connectedComponents(edges, "a", "b")),
    "fuzzyDuplicates" -> (() =>
      Dedup.fuzzyDuplicates(docs, "doc_id", "text", minJaccard = 0.3)),
    "prefixFilterCandidates" -> (() =>
      Dedup.prefixFilterCandidates(docs, "doc_id", "text", 3, 0.3)))

  operators.foreach { case (name, op) =>
    test(s"$name leaves no pinned blocks beyond its result's") {
      val cached = () => spark.sparkContext.getPersistentRDDs.keySet
      val before = cached()
      val out = op()
      out.collect()
      val own = out.queryExecution.analyzed.collect {
        case lr: LogicalRDD => lr.rdd.id
      }.toSet
      val leaked = cached() -- before -- own
      assert(leaked.isEmpty, s"$name leaked cached RDD(s): $leaked")
    }
  }
}

package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._
import scala.util.matching.Regex

import org.scalatest.funsuite.AnyFunSuite

/** Ownership gate: each policy in `src/main/scala` has one owning file,
  * and this fails the build on a use anywhere else, naming the line.
  *  - Every cache call goes through `graft.engine.Pins` (docs/SCALE.md
  *    "Caching policy"): a raw `persist`/`cache`/`checkpoint`/`unpersist`
  *    brings back the lazy-cache race or an unreleased pin.
  *  - Every session memo is `Pins.memo`: a `TrieMap` elsewhere is a
  *    second memo.
  *  - Every session is built by `graft.Harness` (the harness mains) or
  *    `graft.Graft` (library users): another builder is a copy of the
  *    recipe that drifts from it.
  *  - Every corpus-wide prefix scan is `graft.engine.PrefixScan`: a
  *    hand-built range-partition/offset copy elsewhere has to relearn
  *    its pin-before-both-readers rule (the q287 bug).
  */
class PinGateSpec extends AnyFunSuite {

  private val root = Paths.get("src/main/scala")
  private val pinsFile = root.resolve("graft/engine/Pins.scala")
  private val rawCall =
    """\.(persist|localCheckpoint|checkpoint|unpersist)\(|\.cache\(\)""".r

  /** (what, pattern, owning files, where to go instead). */
  private val rows = Seq(
    ("raw cache call", rawCall, Seq(pinsFile),
      "route these through graft.engine.Pins (pin / pinWith / scoped / " +
        "release)"),
    ("SparkSession.builder(", """SparkSession\.builder\(""".r,
      Seq(root.resolve("graft/Harness.scala"),
        root.resolve("graft/Graft.scala")),
      "build the session with graft.Harness.session() (harness mains) " +
        "or graft.Graft.builder() (library users)"),
    ("TrieMap", """\bTrieMap\b""".r, Seq(pinsFile),
      "memoize shared frames with graft.engine.Pins.memo"),
    ("spark_partition_id(", """spark_partition_id\(""".r,
      Seq(root.resolve("graft/engine/PrefixScan.scala")),
      "scan with graft.engine.PrefixScan.globalCumSum / globalRank, or " +
        "range-pin with PrefixScan.rangePin"))

  /** (line number, code) of every line `pattern` matches, comments
    * (`//` tails, `/* … */` blocks, scaladoc) stripped first.
    */
  private def matches(file: Path, pattern: Regex): Seq[(Int, String)] = {
    var inBlock = false
    Files.readAllLines(file).asScala.toSeq.zipWithIndex.flatMap {
      case (line, i) =>
        val code = new StringBuilder
        var rest = line
        while (rest.nonEmpty) {
          if (inBlock) {
            val end = rest.indexOf("*/")
            if (end < 0) rest = ""
            else { inBlock = false; rest = rest.drop(end + 2) }
          } else {
            val open = rest.indexOf("/*")
            val slash = rest.indexOf("//")
            if (slash >= 0 && (open < 0 || slash < open)) {
              code ++= rest.take(slash); rest = ""
            } else if (open >= 0) {
              code ++= rest.take(open); inBlock = true
              rest = rest.drop(open + 2)
            } else { code ++= rest; rest = "" }
          }
        }
        val c = code.toString
        if (pattern.findFirstIn(c).isDefined) Some((i + 1, c.trim)) else None
    }
  }

  private lazy val sources: Seq[Path] = Files.walk(root).iterator.asScala
    .filter(_.toString.endsWith(".scala")).toSeq.sorted

  for ((what, pattern, owners, hint) <- rows) {
    val names = owners.map(_.getFileName).mkString(" and ")
    test(s"no $what in src/main outside $names") {
      val offenders = sources.filterNot(owners.contains).flatMap { f =>
        matches(f, pattern).map { case (n, c) => s"$f:$n: $c" }
      }
      assert(offenders.isEmpty, s"$hint:\n${offenders.mkString("\n")}")
      owners.foreach(o => assert(matches(o, pattern).nonEmpty,
        s"the gate sees no $what in its owner $o"))
    }
  }

  test("the gate sees the cache calls Pins itself makes") {
    assert(sources.contains(pinsFile))
    assert(matches(pinsFile, rawCall).nonEmpty)
  }
}

package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Caching gate: every cache call in `src/main/scala` goes through
  * `graft.engine.Pins` (docs/SCALE.md "Caching policy"). A raw
  * `persist`/`cache`/`checkpoint`/`unpersist` anywhere else brings back
  * the lazy-cache race or an unreleased pin, so this fails the build
  * and names the line.
  */
class PinGateSpec extends AnyFunSuite {

  private val root = Paths.get("src/main/scala")
  private val pinsFile = root.resolve("graft/engine/Pins.scala")
  private val rawCall =
    """\.(persist|localCheckpoint|checkpoint|unpersist)\(|\.cache\(\)""".r

  /** (line number, code) of every line with a raw cache call, comments
    * (`//` tails, `/* … */` blocks, scaladoc) stripped first.
    */
  private def rawCalls(file: Path): Seq[(Int, String)] = {
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
        if (rawCall.findFirstIn(c).isDefined) Some((i + 1, c.trim)) else None
    }
  }

  private lazy val sources: Seq[Path] = Files.walk(root).iterator.asScala
    .filter(_.toString.endsWith(".scala")).toSeq.sorted

  test("no raw cache call in src/main outside Pins.scala") {
    val offenders = sources.filterNot(_ == pinsFile).flatMap { f =>
      rawCalls(f).map { case (n, c) => s"$f:$n: $c" }
    }
    assert(offenders.isEmpty,
      "route these through graft.engine.Pins (pin / pinWith / scoped / " +
        s"release):\n${offenders.mkString("\n")}")
  }

  test("the gate sees the cache calls Pins itself makes") {
    assert(sources.contains(pinsFile))
    assert(rawCalls(pinsFile).nonEmpty)
  }
}

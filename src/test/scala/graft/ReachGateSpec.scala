package graft

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** The owner-qualified name graph of a Scala source tree, walked from its
  * root files. Pure: it reads `(path, text)` pairs and nothing else.
  *
  * Comments are stripped; a plain string literal is opaque, an
  * interpolated one contributes the code in its `$x` / `${…}` holes.
  * Every top-level `object` of a non-root file owns its members (`def`,
  * `lazy val`, nested `class` / `object` / `trait` / `type`); its
  * non-lazy vals, `override` / `implicit` members and statements are its
  * initializer, reached with any member. A top-level `class` / `trait` of
  * a non-root file is one node, reached by its name anywhere.
  *
  * Member `n` of object `O` is reached when reached code holds `O.n`, or
  * a bare `n` in `O`'s own file or in a file that imports `O._` or
  * `O.{n}`. A member's code is reached when the member is. Matching by
  * owner is what tells `Streaming.sessionize` from `Windows.sessionize`.
  */
object Reach {

  final case class Member(owner: String, name: String, path: String,
                          line: Int, public: Boolean) {
    def key: String = if (owner.isEmpty) name else s"$owner.$name"
    override def toString: String = s"$path:$line: $key"
  }

  /** Public members no root reaches (allowlisted members count as roots),
    * and allowlist entries that name a missing member, or one the roots
    * reach without the allowlist.
    */
  final case class Report(unreached: Seq[Member], stale: Seq[String])

  // ---- lexer -------------------------------------------------------------

  private final case class Toks(text: Array[String], line: Array[Int])

  private def isIdStart(c: Char) = c.isLetter || c == '_'
  private def isIdPart(c: Char) = c.isLetterOrDigit || c == '_'

  /** Identifiers, `.`, `(`, `)`, `{`, `}` with their lines; comments and
    * literal text dropped.
    */
  private def lex(s: String): Toks = {
    val text = mutable.ArrayBuffer.empty[String]
    val line = mutable.ArrayBuffer.empty[Int]
    var ln = 1
    var i = 0
    val n = s.length
    def at(j: Int) = if (j < n) s.charAt(j) else '\u0000'
    def emit(t: String): Unit = { text += t; line += ln }
    def skipTo(j: Int): Unit = {
      while (i < j && i < n) { if (s.charAt(i) == '\n') ln += 1; i += 1 }
    }
    /** The code in an interpolated string body `s(from, to)`. */
    def holes(from: Int, to: Int): Unit = {
      var j = from
      while (j < to) {
        if (s.charAt(j) == '$' && j + 1 < to) {
          if (s.charAt(j + 1) == '{') {
            var depth = 1
            var k = j + 2
            while (k < to && depth > 0) {
              if (s.charAt(k) == '{') depth += 1
              else if (s.charAt(k) == '}') depth -= 1
              k += 1
            }
            val inner = lex(s.substring(j + 2, k - 1))
            inner.text.foreach(t => if (t != "{" && t != "}") emit(t))
            j = k
          } else if (isIdStart(s.charAt(j + 1))) {
            var k = j + 1
            while (k < to && isIdPart(s.charAt(k))) k += 1
            emit(s.substring(j + 1, k)); j = k
          } else j += 2
        } else j += 1
      }
    }
    while (i < n) {
      val c = s.charAt(i)
      if (c == '/' && at(i + 1) == '/') {
        while (i < n && s.charAt(i) != '\n') i += 1
      } else if (c == '/' && at(i + 1) == '*') {
        var depth = 0
        var done = false
        while (i < n && !done) {
          if (s.startsWith("/*", i)) { depth += 1; skipTo(i + 2) }
          else if (s.startsWith("*/", i)) {
            depth -= 1; skipTo(i + 2); done = depth == 0
          } else skipTo(i + 1)
        }
      } else if (c == '"') {
        val interp = i > 0 && isIdPart(s.charAt(i - 1))
        val triple = s.startsWith("\"\"\"", i)
        val start = i + (if (triple) 3 else 1)
        var j = start
        if (triple) {
          j = s.indexOf("\"\"\"", start)
          if (j < 0) j = n
          while (at(j + 3) == '"') j += 1
        } else {
          while (j < n && s.charAt(j) != '"' && s.charAt(j) != '\n') {
            if (interp && s.startsWith("${", j)) {
              // a hole may hold quotes of its own: s"${m("k")}"
              var depth = 0
              do {
                if (s.charAt(j) == '{') depth += 1
                else if (s.charAt(j) == '}') depth -= 1
                j += 1
              } while (j < n && depth > 0)
            } else j += (if (s.charAt(j) == '\\') 2 else 1)
          }
        }
        if (interp) holes(start, math.min(j, n))
        skipTo(j + (if (triple) 3 else 1))
      } else if (c == '\'') {
        if (at(i + 1) == '\\') {
          var j = i + 3
          while (j < n && s.charAt(j) != '\'') j += 1
          skipTo(j + 1)
        } else if (at(i + 2) == '\'') skipTo(i + 3)
        else i += 1
      } else if (c == '`') {
        val j = s.indexOf('`', i + 1)
        val end = if (j < 0) n else j
        emit(s.substring(i + 1, end)); skipTo(end + 1)
      } else if (isIdStart(c)) {
        val from = i
        while (i < n && isIdPart(s.charAt(i))) i += 1
        emit(s.substring(from, i))
      } else if (c.isDigit) {
        while (i < n && (isIdPart(s.charAt(i)) ||
          (s.charAt(i) == '.' && at(i + 1).isDigit))) i += 1
      } else {
        if (c == '.' || c == '(' || c == ')' || c == '{' || c == '}')
          emit(c.toString)
        else if (c == '\n') ln += 1
        i += 1
      }
    }
    Toks(text.toArray, line.toArray)
  }

  // ---- index -------------------------------------------------------------

  private val declKeywords = Set("def", "val", "var", "object", "class",
    "trait", "type")
  private val punct = Set(".", "(", ")", "{", "}")

  /** A node: tokens `[from, to)` of file `file`, reached as a whole. */
  private final case class Node(file: Int, from: Int, to: Int,
                                member: Option[Member], owner: String)

  /** Everything a walk needs, built once per tree. */
  private final class Index(files: IndexedSeq[(String, String)],
                            isRoot: String => Boolean) {
    val toks: IndexedSeq[Toks] = files.map { case (_, t) => lex(t) }
    val nodes = mutable.ArrayBuffer.empty[Node]
    /** owner → member name → node ids. */
    val members = mutable.Map.empty[String, mutable.Map[String, List[Int]]]
    /** owner → initializer node ids. */
    val inits = mutable.Map.empty[String, List[Int]]
    /** top-level class / trait name → node ids. */
    val types = mutable.Map.empty[String, List[Int]]
    /** owners defined per file. */
    val ownersIn = Array.fill(files.size)(mutable.Set.empty[String])

    private def add(n: Node): Int = { nodes += n; nodes.size - 1 }

    private def addMember(owner: String, name: String, id: Int): Unit = {
      val m = members.getOrElseUpdate(owner, mutable.Map.empty)
      m(name) = id :: m.getOrElse(name, Nil)
    }

    private def isPublic(mods: Set[String]): Boolean =
      !mods("private") && !mods("protected")

    /** Modifiers on the declaration's own line, before token `k`. */
    private def modifiers(t: Toks, k: Int): Set[String] = {
      var j = k - 1
      val out = mutable.Set.empty[String]
      while (j >= 0 && t.line(j) == t.line(k)) { out += t.text(j); j -= 1 }
      out.toSet
    }

    /** The declared name after keyword `k`, if it is an identifier. */
    private def nameAfter(t: Toks, k: Int): Option[String] =
      if (k + 1 < t.text.length && !punct(t.text(k + 1)))
        Some(t.text(k + 1)) else None

    private def isDecl(t: Toks, k: Int): Boolean =
      declKeywords(t.text(k)) && (k == 0 || t.text(k - 1) != ".")

    for (((path, _), f) <- files.zipWithIndex if !isRoot(path)) {
      val t = toks(f)
      val n = t.text.length
      // depth before each token
      val depth = new Array[Int](n + 1)
      for (k <- 0 until n) depth(k + 1) = depth(k) + (t.text(k) match {
        case "{" => 1
        case "}" => -1
        case _ => 0
      })
      val top = (0 until n).filter(k => depth(k) == 0 &&
        (isDecl(t, k) || t.text(k) == "import" || t.text(k) == "package"))
      for ((k, next) <- top.zip(top.drop(1) :+ n)
           if Set("object", "class", "trait")(t.text(k))) {
        val name = nameAfter(t, k).getOrElse("")
        if (t.text(k) != "object") {
          val member = Member("", name, path, t.line(k),
            isPublic(modifiers(t, k)))
          val id = add(Node(f, k, next, Some(member), ""))
          types(name) = id :: types.getOrElse(name, Nil)
        } else {
          ownersIn(f) += name
          val decls = (k + 1 until next).filter(j =>
            depth(j) == 1 && isDecl(t, j))
          val firstDecl = decls.headOption.getOrElse(next)
          inits(name) = add(Node(f, k, firstDecl, None, name)) ::
            inits.getOrElse(name, Nil)
          for ((j, end) <- decls.zip(decls.drop(1) :+ next)) {
            val mods = modifiers(t, j)
            val init = mods("override") || mods("implicit")
            nameAfter(t, j) match {
              case Some(m) if !init =>
                val member = Member(name, m, path, t.line(j), isPublic(mods))
                addMember(name, m, add(Node(f, j, end, Some(member), name)))
              case _ =>
                inits(name) = add(Node(f, j, end, None, name)) :: inits(name)
            }
          }
        }
      }
    }

    /** Per file: bare name → member node ids of owners in the file or
      * whose members it imports.
      */
    val bare: IndexedSeq[Map[String, List[Int]]] = toks.indices.map { f =>
      val t = toks(f)
      val out = mutable.Map.empty[String, List[Int]]
      def take(owner: String, name: Option[String]): Unit =
        members.get(owner).foreach { ms =>
          for ((m, ids) <- ms if name.forall(_ == m))
            out(m) = ids ++ out.getOrElse(m, Nil)
        }
      ownersIn(f).foreach(take(_, None))
      for (k <- t.text.indices if t.text(k) == "import") {
        // `import a.b.O._`, `import a.b.O.{x, y}` or `import a.b.O.x`
        val path = mutable.ArrayBuffer.empty[String]
        var j = k + 1
        var dot = true
        while (dot && j < t.text.length && !punct(t.text(j))) {
          path += t.text(j)
          dot = j + 1 < t.text.length && t.text(j + 1) == "."
          j += (if (dot) 2 else 1)
        }
        val last = path.lastOption.getOrElse("")
        if (last == "_" || last == "*") path.dropRight(1).lastOption
          .foreach(take(_, None))
        else if (dot && j < t.text.length && t.text(j) == "{") {
          var e = j + 1
          while (e < t.text.length && t.text(e) != "}") {
            if (t.text(e) == "_" || t.text(e) == "*") take(last, None)
            else take(last, Some(t.text(e)))
            e += 1
          }
        } else if (path.size >= 2) take(path(path.size - 2), Some(last))
      }
      out.toMap
    }

    /** Node ids reached from the root files and `extra`. */
    def reach(extra: Iterable[Int]): mutable.BitSet = {
      val seen = mutable.BitSet.empty
      val queue = mutable.Queue.empty[Int]
      def mark(id: Int): Unit = if (!seen(id)) {
        seen += id; queue += id
        inits.getOrElse(nodes(id).owner, Nil).foreach(mark)
      }
      def visit(f: Int, from: Int, to: Int): Unit = {
        val t = toks(f)
        for (k <- from until to) {
          val s = t.text(k)
          if (!punct(s)) {
            types.getOrElse(s, Nil).foreach(mark)
            val dotted = k > 0 && t.text(k - 1) == "."
            if (dotted) {
              if (k > 1) members.get(t.text(k - 2))
                .flatMap(_.get(s)).foreach(_.foreach(mark))
            } else {
              bare(f).getOrElse(s, Nil).foreach(mark)
              if (k + 1 >= t.text.length || t.text(k + 1) != ".")
                members.get(s).foreach(ms =>
                  (ms.getOrElse("apply", Nil) ++ ms.getOrElse("unapply", Nil))
                    .foreach(mark))
            }
          }
        }
      }
      for (((path, _), f) <- files.zipWithIndex if isRoot(path))
        visit(f, 0, toks(f).text.length)
      extra.foreach(mark)
      while (queue.nonEmpty) {
        val n = nodes(queue.dequeue())
        visit(n.file, n.from, n.to)
      }
      seen
    }
  }

  /** Walk `files` from those `isRoot` accepts. `allow` maps `Owner.name`
    * or `Owner.*` to the reason the members it names are kept.
    */
  def check(files: Seq[(String, String)], isRoot: String => Boolean,
            allow: Map[String, String]): Report = {
    val ix = new Index(files.toIndexedSeq, isRoot)
    val named = ix.nodes.indices.flatMap(i => ix.nodes(i).member.map(i -> _))
    def covers(entry: String, m: Member) =
      entry == m.key || entry == s"${m.owner}.*"
    val alone = ix.reach(Nil)
    val allowed = named.collect {
      case (i, m) if allow.keys.exists(covers(_, m)) => i
    }
    val kept = ix.reach(allowed)
    val unreached = named.collect {
      case (i, m) if m.public && !kept(i) => m
    }.sortBy(m => (m.path, m.line))
    val stale = allow.keys.toSeq.sorted.flatMap { e =>
      val covered = named.filter { case (_, m) => m.public && covers(e, m) }
      if (covered.isEmpty) Some(s"$e: names no public member")
      else if (covered.forall { case (i, _) => alone(i) })
        Some(s"$e: reached without the allowlist")
      else None
    }
    Report(unreached, stale)
  }
}

/** Reachability gate: every public member of `engine/`, `llm/`,
  * `streaming/` and `sources/` is reached from the registry's roots or
  * is on `allow` with its reason (ROADMAP aim 2: the registry's results
  * from the least code). The roots are what runs without being named:
  * the registry, the mains and the harness (the files of package
  * `graft`), the Catalyst expressions (`functions/`), the optimizer rules
  * (`plans/`), the Spark bridge and the data sources `META-INF/services`
  * loads.
  */
class ReachGateSpec extends AnyFunSuite {

  private val root = Paths.get("src/main/scala")

  private def isRoot(p: String): Boolean =
    p.matches("graft/[^/]+\\.scala") || p.startsWith("graft/functions/") ||
      p.startsWith("graft/plans/") ||
      p.startsWith("org/apache/spark/sql/graftbridge/") ||
      p.matches("graft/sources/[^/]+Source\\.scala")

  private val bboxKernel = "the source paper's bbox kernel (docs/COVERAGE.md " +
    "OP-MISC-2, OP-STR-1)"
  private val textReference = "reference implementation LlmSpec compares " +
    "the native ShingleHashes against"

  /** Members kept although no root reaches them, each with its reason. */
  private val allow: Map[String, String] = Map(
    "Config.*" -> "source-paper operator OP-SRC-6 (docs/COVERAGE.md)",
    "Planner.*" -> "source-paper operator OP-SRC-7 (docs/COVERAGE.md)",
    "Ingest.*" -> "source-paper operator OP-SRC-9 (docs/COVERAGE.md)",
    "Conversions.convert" -> "source-paper operator OP-FN (docs/COVERAGE.md)",
    "Predictors.variablesForPredictor" -> ("source-paper operator OP-FN's " +
      "variable registry: the source columns Conversions.convert takes"),
    "Geometry.inferLonLatIndices" -> bboxKernel,
    "Geometry.pointOuterBounds" -> bboxKernel,
    "Geometry.ensureMinBboxSize" -> bboxKernel,
    "Geometry.polygonBbox" -> bboxKernel,
    "Geometry.multiPolygonBbox" -> bboxKernel,
    "Geometry.unionBbox" -> bboxKernel,
    "Geometry.regionId" -> bboxKernel,
    "Text.shingleHashes" -> textReference,
    "Text.ngrams" -> textReference,
    "Text.shingleHashesFromTokens" -> textReference,
    "GeoTIFF.writeFloat32Tiled" -> ("the writer SourcesSpec builds its " +
      "tiled-GeoTIFF reader fixtures with"))

  private lazy val tree: Seq[(String, String)] =
    Files.walk(root).iterator.asScala
      .filter(_.toString.endsWith(".scala")).toSeq.sorted
      .map(p => root.relativize(p).toString -> Files.readString(p))

  test("every public member of engine/ llm/ streaming/ sources/ is reached " +
    "from the registry roots or allowlisted with its reason") {
    val r = Reach.check(tree, isRoot, allow)
    if (r.unreached.nonEmpty)
      fail("no root reaches these; delete them, or allowlist them with a " +
        "reason:\n" + r.unreached.map(m =>
          s"${root.resolve(m.path)}:${m.line}: ${m.key}").mkString("\n"))
    if (r.stale.nonEmpty)
      fail("stale allowlist entries:\n" + r.stale.mkString("\n"))
  }

  test("the gate sees the roots, and gates exactly engine/ llm/ " +
    "streaming/ sources/") {
    val paths = tree.map(_._1)
    assert(Seq("graft/Queries.scala", "graft/LlmQueries.scala",
      "graft/functions/ShingleHashes.scala",
      "graft/sources/GeoTIFFSource.scala").forall(p => paths.contains(p) &&
      isRoot(p)))
    val gated = paths.filterNot(isRoot)
    assert(gated.contains("graft/streaming/Streaming.scala"))
    assert(gated.forall(p => Seq("engine", "llm", "streaming", "sources")
      .exists(d => p.startsWith(s"graft/$d/"))), gated)
  }

  // ---- the walker on a synthetic tree ------------------------------------

  private def walk(files: (String, String)*)(
      allow: (String, String)*): Reach.Report =
    Reach.check(files, _.startsWith("root/"), allow.toMap)

  private def unreached(files: (String, String)*): Set[String] =
    walk(files: _*)().unreached.map(_.key).toSet

  private val lib = "lib/A.scala" ->
    """package lib
      |object A {
      |  def used(x: Int): Int = helper(x)
      |  private def helper(x: Int) = x + 1
      |  /** see also [[orphan]] */
      |  def orphan: Int = chained   // orphan() is never called
      |  def chained: Int = 2
      |  final case class Row(a: Int)
      |}
      |""".stripMargin

  test("walker: a def named only in a comment, or only by an unreached " +
    "def, is unreached; one a root calls is reached") {
    val q = "root/Q.scala" ->
      """object Q {
        |  // A.orphan is mentioned here only
        |  /* and A.chained here */
        |  def go = lib.A.used(1)
        |}
        |""".stripMargin
    assert(unreached(lib, q) == Set("A.orphan", "A.chained", "A.Row"))
  }

  test("walker: a same-named member of another object does not reach it") {
    val twin = "lib/B.scala" ->
      """package lib
        |import lib.A.used
        |object B {
        |  def orphan: Int = 1
        |  def chained: Int = used(0)
        |}
        |""".stripMargin
    val q = "root/Q.scala" ->
      """import lib.B
        |object Q { def go = B.orphan + s"${B.chained}" }
        |""".stripMargin
    // A.used is reached through B.chained's explicit import, not A.orphan
    assert(unreached(lib, twin, q) == Set("A.orphan", "A.chained", "A.Row"))
  }

  test("walker: import O._ reaches bare names; a plain string does not") {
    val q = "root/Q.scala" ->
      """import lib.A._
        |object Q { def go = (orphan, Row(1), "used") }
        |""".stripMargin
    assert(unreached(lib, q) == Set("A.used"))
  }

  test("walker: an allowlisted member is kept with what it calls; a stale " +
    "entry fails") {
    val q = "root/Q.scala" -> "object Q { def go = lib.A.used(1) }"
    val ok = walk(lib, q)("A.orphan" -> "kept", "A.Row" -> "kept")
    assert(ok.unreached.isEmpty && ok.stale.isEmpty)
    val stale = walk(lib, q)("A.orphan" -> "kept", "A.Row" -> "kept",
      "A.used" -> "reached", "A.gone" -> "missing", "Z.*" -> "missing")
    assert(stale.unreached.isEmpty)
    assert(stale.stale == Seq("A.gone: names no public member",
      "A.used: reached without the allowlist",
      "Z.*: names no public member"))
    val wild = walk(lib, q)("A.*" -> "kept")
    assert(wild.unreached.isEmpty && wild.stale.isEmpty)
  }

  test("walker: names the file and line of an unreached member") {
    val q = "root/Q.scala" -> "object Q { def go = lib.A.used(1) }"
    val r = walk(lib, q)("A.chained" -> "kept", "A.Row" -> "kept")
    assert(r.unreached.map(_.toString) == Seq("lib/A.scala:6: A.orphan"))
  }
}

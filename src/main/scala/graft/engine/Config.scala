package graft.engine

import java.nio.file.{Files, Paths}

/** OP-SRC-6 — the pipeline's YAML config loader (`argparser.py:31-38` +
  * `download_config.yaml` / `process_config.yaml`). The reference's config
  * files are a flat map of scalars, nulls, and inline lists; this is a
  * parser for exactly that public-YAML subset (comments, quoting, `null`/
  * `~`/empty, booleans, numbers, `[a, b]` flow lists) — no external YAML
  * dependency, no dataflow impact (driver-side, O(config)).
  */
object Config {

  /** The reference's config surface (both yaml files share one schema;
    * unused halves are null per action), plus explicit flags for the three
    * decisions the reference gathers via interactive Y/n prompts — a
    * library engine can't block on stdin, so each prompt becomes a config
    * key with the prompt's exact semantics. `None` = the reference would
    * have asked; callers must decide (the engine surfaces throw on None
    * rather than guess).
    *
    *  - `gapfill` (`main.py:166-175`): run the gap-fill step on the input.
    *  - `merge-polygons` (`main.py:334-351`): Y → one covering bbox region
    *    (the BOX processing type, kernel = `Geometry.bboxAgg` union);
    *    n → per-polygon regions (POLYGONS).
    *  - `delete-source` (`core.py:219-228`): delete originals after
    *    aggregation (kernel = `Ingest`'s delete-after path).
    */
  final case class PipelineConfig(
      action: String,
      outputFilename: Option[String],
      dataFile: Option[String],
      coordsDir: Option[String],
      start: Option[String],
      end: Option[String],
      preds: Seq[String],
      aggregationType: Option[String],
      idField: Option[String],
      gapfill: Option[Boolean] = None,
      mergePolygons: Option[Boolean] = None,
      deleteSource: Option[Boolean] = None) {

    /** Resolve a prompt-backed flag: configured value, or a clear error
      * naming the key — the non-interactive analogue of the reference's
      * "Invalid input" re-prompt loop. Private: the key name and Option
      * must stay paired (callers use the *Resolved accessors).
      */
    private def resolve(name: String, v: Option[Boolean]): Boolean =
      v.getOrElse(throw new IllegalArgumentException(
        s"config key `$name` is required in non-interactive use " +
          "(the reference prompts Y/n for it)"))
    def gapfillResolved: Boolean = resolve("gapfill", gapfill)
    def mergePolygonsResolved: Boolean = resolve("merge-polygons", mergePolygons)
    def deleteSourceResolved: Boolean = resolve("delete-source", deleteSource)
  }

  /** Parse the supported YAML subset to an insertion-ordered map. Values:
    * null, Boolean, Long, Double, String, or Seq of those.
    */
  def parseYaml(text: String): Map[String, Any] = {
    val out = scala.collection.mutable.LinkedHashMap.empty[String, Any]
    text.linesIterator.foreach { raw =>
      val line = stripComment(raw)
      if (line.trim.nonEmpty) {
        val i = line.indexOf(':')
        require(i > 0, s"unsupported YAML line (flat `key: value` only): $raw")
        val key = line.substring(0, i).trim
        out(key) = scalarOrList(line.substring(i + 1).trim)
      }
    }
    out.toMap
  }

  /** `#` starts a comment at line start or after whitespace — but not
    * inside quotes.
    */
  private def stripComment(line: String): String = {
    var inS = false; var inD = false
    var i = 0
    while (i < line.length) {
      line.charAt(i) match {
        case '\'' if !inD => inS = !inS
        case '"' if !inS => inD = !inD
        case '#' if !inS && !inD &&
            (i == 0 || line.charAt(i - 1).isWhitespace) =>
          return line.substring(0, i)
        case _ =>
      }
      i += 1
    }
    line
  }

  private def scalarOrList(s: String): Any =
    if (s.startsWith("[")) {
      require(s.endsWith("]"), s"unterminated flow list: $s")
      val body = s.substring(1, s.length - 1).trim
      if (body.isEmpty) Seq.empty
      else splitFlow(body).map(v => scalar(v.trim))
    } else scalar(s)

  /** Quote-aware flow-list splitter: commas inside quoted items are item
    * content, not separators.
    */
  private def splitFlow(body: String): Seq[String] = {
    val parts = scala.collection.mutable.ArrayBuffer.empty[String]
    val cur = new StringBuilder
    var inS = false; var inD = false
    body.foreach {
      case '\'' if !inD => inS = !inS; cur += '\''
      case '"' if !inS => inD = !inD; cur += '"'
      case ',' if !inS && !inD => parts += cur.toString; cur.clear()
      case c => cur += c
    }
    parts += cur.toString
    parts.toSeq
  }

  private def scalar(s: String): Any = s match {
    case "" | "null" | "~" | "Null" | "NULL" => null
    case "true" | "True" | "TRUE" => true
    case "false" | "False" | "FALSE" => false
    case q if q.length >= 2 && ((q.head == '\'' && q.last == '\'') ||
        (q.head == '"' && q.last == '"')) => q.substring(1, q.length - 1)
    case n if n.matches("[+-]?[0-9]+") => n.toLong
    case n if n.matches("[+-]?[0-9]*\\.[0-9]+([eE][+-]?[0-9]+)?") => n.toDouble
    case other => other
  }

  private def opt(m: Map[String, Any], k: String): Option[String] =
    m.get(k).flatMap(Option(_)).map(_.toString)

  /** Boolean flag with the prompt's Y/n vocabulary accepted too. */
  private def optBool(m: Map[String, Any], k: String): Option[Boolean] =
    m.get(k).flatMap(Option(_)).map {
      case b: Boolean => b
      case s => s.toString.trim match {
        case y if y.equalsIgnoreCase("y") || y.equalsIgnoreCase("yes") ||
          y.equalsIgnoreCase("true") => true
        case n if n.equalsIgnoreCase("n") || n.equalsIgnoreCase("no") ||
          n.equalsIgnoreCase("false") => false
        case other => throw new IllegalArgumentException(
          s"config key `$k` expects a boolean (true/false/Y/n), got `$other`")
      }
    }

  def fromMap(m: Map[String, Any]): PipelineConfig = PipelineConfig(
    action = opt(m, "action").getOrElse(
      throw new IllegalArgumentException("config requires `action`")),
    outputFilename = opt(m, "output-filename"),
    dataFile = opt(m, "data-file"),
    coordsDir = opt(m, "coords-dir"),
    start = opt(m, "start"),
    end = opt(m, "end"),
    preds = m.get("preds") match {
      case Some(xs: Seq[_]) => xs.map(_.toString)
      case _ => Nil
    },
    aggregationType = opt(m, "aggregation-type"),
    idField = opt(m, "id-field"),
    gapfill = optBool(m, "gapfill"),
    mergePolygons = optBool(m, "merge-polygons"),
    deleteSource = optBool(m, "delete-source"))

  /** Load + extension check (the reference rejects non-.yaml/.yml,
    * `argparser.py:36-38`).
    */
  def load(path: String): PipelineConfig = {
    require(path.endsWith(".yaml") || path.endsWith(".yml"),
      s"Only .yaml or .yml config files are supported. Not $path.")
    fromMap(parseYaml(new String(
      Files.readAllBytes(Paths.get(path)), "UTF-8")))
  }
}

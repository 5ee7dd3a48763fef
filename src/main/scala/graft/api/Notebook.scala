package graft.api

/** Notebook-script ingestion (B15 completion; ref:
  * `python_from_file` / `_process_ipynb`,
  * `/root/reference/projects/adapter/src/fal/dbt/fal_script.py:391-416`):
  * an `.ipynb` attached as a script contributes its CODE cells, with
  * magic lines stripped — lines starting with `%` and lines mentioning
  * the notebook bootstrap lib (the reference strips `faldbt.magics`;
  * ours is `graft.Shell`, the B15 analogue) — so the same notebook
  * runs interactively and as a pipeline script. Markdown/raw cells are
  * dropped. Where the reference joins cells into one Python source
  * (`"\n #cell \n"`), the Spark-native script body is SQL, so cells
  * stay a SEQUENCE of statements executed in order.
  */
object Notebook {

  private val NotebookLib = "graft.Shell"

  /** Code-cell sources of an .ipynb document, magic-stripped, blank
    * cells dropped (the reference keeps them — joined Python tolerates
    * empty segments; a SQL executor does not).
    */
  def cells(rawIpynb: String): Seq[String] = {
    val doc = Json.parse(rawIpynb)
    val cellList = doc match {
      case Json.JObject(fields) => fields.get("cells") match {
        case Some(Json.JArray(cs)) => cs
        case _ => throw new IllegalArgumentException(
          "not a notebook: no cells array")
      }
      case _ => throw new IllegalArgumentException(
        "not a notebook: top level is not an object")
    }
    cellList.flatMap {
      case Json.JObject(cell) =>
        val isCode = cell.get("cell_type")
          .collect { case Json.JString(s) => s }.contains("code")
        if (!isCode) None
        else {
          val src = cell.get("source") match {
            case Some(Json.JArray(lines)) =>
              lines.collect { case Json.JString(s) => s }.mkString
            case Some(Json.JString(s)) => s // nbformat also allows one string
            case _ => ""
          }
          val kept = src.linesWithSeparators
            .filterNot(l => l.startsWith("%") || l.contains(NotebookLib))
            .mkString
          if (kept.trim.isEmpty) None else Some(kept)
        }
      case _ => None
    }
  }

  /** Script statements from a file: `.ipynb` → its code cells; anything
    * else → the whole text as one statement (ref `python_from_file`).
    */
  def statementsFromFile(path: java.nio.file.Path): Seq[String] = {
    val raw = java.nio.file.Files.readString(path)
    if (path.getFileName.toString.endsWith(".ipynb")) cells(raw)
    else Seq(raw)
  }
}

/** Minimal JSON: one string escaper for every artifact the repo emits
  * by hand, and a recursive-descent reader (objects, arrays, strings
  * with escapes, numbers, bools, null) for the ones it reads back —
  * nbformat notebooks, `run_results.json`, `sources.json`. A ~90-line
  * codec beats a dependency the build must not add.
  */
private[graft] object Json {
  sealed trait Value
  final case class JObject(fields: Map[String, Value]) extends Value
  final case class JArray(items: Seq[Value]) extends Value
  final case class JString(s: String) extends Value
  final case class JNumber(n: Double) extends Value
  final case class JBool(b: Boolean) extends Value
  case object JNull extends Value

  /** JSON string literal: escapes quote, backslash, and ALL control
    * chars (<0x20) — a tab or CR left raw would make the consumer's
    * parser fail (a harness artifact silently dropping every
    * correctness row; a fork-server request splitting across lines). */
  def str(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def parse(text: String): Value = {
    val p = new Parser(text)
    val v = p.value()
    p.skipWs()
    require(p.eof, s"trailing content at offset ${p.pos}")
    v
  }

  /** `id → status` over the `results` array of a dbt-style artifact
    * (`run_results.json` keyed by `node`, `sources.json` by
    * `unique_id`); a later result for the same id wins. */
  def results(text: String, idKey: String): Map[String, String] = {
    val rs = parse(text) match {
      case JObject(doc) => doc.get("results") match {
        case Some(JArray(items)) => items
        case _ => Nil
      }
      case _ => Nil
    }
    rs.foldLeft(Map.empty[String, String]) {
      case (m, JObject(r)) => (r.get(idKey), r.get("status")) match {
        case (Some(JString(id)), Some(JString(st))) => m + (id -> st)
        case _ => m
      }
      case (m, _) => m
    }
  }

  private final class Parser(s: String) {
    var pos = 0
    def eof: Boolean = pos >= s.length
    def skipWs(): Unit =
      while (!eof && Character.isWhitespace(s.charAt(pos))) pos += 1
    private def expect(c: Char): Unit = {
      require(!eof && s.charAt(pos) == c,
        s"expected '$c' at offset $pos")
      pos += 1
    }
    def value(): Value = {
      skipWs()
      require(!eof, "unexpected end of input")
      s.charAt(pos) match {
        case '{' => obj()
        case '[' => arr()
        case '"' => JString(str())
        case 't' => lit("true"); JBool(true)
        case 'f' => lit("false"); JBool(false)
        case 'n' => lit("null"); JNull
        case _ => num()
      }
    }
    private def lit(w: String): Unit = {
      require(s.regionMatches(pos, w, 0, w.length),
        s"bad literal at offset $pos")
      pos += w.length
    }
    // every raw charAt goes through this so a truncated notebook fails
    // with the parser's own offset error, not StringIndexOutOfBounds
    private def cur(): Char = {
      require(!eof, s"unexpected end of input at offset $pos")
      s.charAt(pos)
    }
    private def obj(): JObject = {
      expect('{'); skipWs()
      val fields = Map.newBuilder[String, Value]
      if (!eof && s.charAt(pos) == '}') { pos += 1; return JObject(fields.result()) }
      while (true) {
        skipWs()
        val k = str()
        skipWs(); expect(':')
        fields += k -> value()
        skipWs()
        cur() match {
          case ',' => pos += 1
          case '}' => pos += 1; return JObject(fields.result())
          case c => throw new IllegalArgumentException(
            s"expected ',' or '}' at offset $pos, got '$c'")
        }
      }
      JObject(fields.result()) // unreachable
    }
    private def arr(): JArray = {
      expect('['); skipWs()
      val items = Seq.newBuilder[Value]
      if (!eof && s.charAt(pos) == ']') { pos += 1; return JArray(items.result()) }
      while (true) {
        items += value()
        skipWs()
        cur() match {
          case ',' => pos += 1
          case ']' => pos += 1; return JArray(items.result())
          case c => throw new IllegalArgumentException(
            s"expected ',' or ']' at offset $pos, got '$c'")
        }
      }
      JArray(items.result()) // unreachable
    }
    private def str(): String = {
      expect('"')
      val sb = new StringBuilder
      while (cur() != '"') {
        cur() match {
          case '\\' =>
            pos += 1
            cur() match {
              case 'n' => sb += '\n'
              case 't' => sb += '\t'
              case 'r' => sb += '\r'
              case 'b' => sb += '\b'
              case 'f' => sb += '\f'
              case 'u' =>
                require(pos + 5 <= s.length,
                  s"unexpected end of input at offset $pos")
                sb += Integer.parseInt(s.substring(pos + 1, pos + 5), 16)
                  .toChar
                pos += 4
              case c => sb += c // ", \, /
            }
          case c => sb += c
        }
        pos += 1
      }
      pos += 1
      sb.toString
    }
    private def num(): JNumber = {
      val start = pos
      while (!eof && "+-0123456789.eE".indexOf(s.charAt(pos)) >= 0) pos += 1
      require(pos > start, s"bad value at offset $start")
      JNumber(s.substring(start, pos).toDouble)
    }
  }
}

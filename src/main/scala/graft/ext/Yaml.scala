package graft.ext

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** YAML ingestion — the single most common config format in a crawled
  * code corpus: CI pipelines, Kubernetes manifests, docker-compose
  * files. A code-training pipeline mines service names, image
  * references, and resource numbers from exactly these.
  *
  * A from-scratch parser for a STRICT, well-specified subset of the
  * block style (the shape ~all CI/k8s YAML actually uses):
  *
  *  - '''block mappings''': `key: value` and `key:` + a more-indented
  *    child block; bare keys (`[A-Za-z_][A-Za-z0-9_-]*`); duplicate
  *    keys in one block are damage (never silently last-wins).
  *  - '''block sequences''': `- value`, a lone `-` + a child block,
  *    and the COMPACT `- key: value` form (a sequence of mappings —
  *    the dominant k8s shape: containers, volumes, env lists). The
  *    compact item's virtual indent is the column after the dash,
  *    exactly the YAML rule.
  *  - '''scalars''': double-quoted (`\" \\ \n \t \r \0 \uXXXX`
  *    escapes; unknown escape = damage), single-quoted (NO escapes —
  *    a backslash stays literal; `''` is the only special form, a
  *    quote), and plain. Plain scalars resolve `true`/`false` to
  *    booleans and `[-+]?(0|[1-9][0-9]*)` to integers; a plain string
  *    must start with an ASCII letter and stay inside
  *    `[A-Za-z0-9 ._/-]` — everything else quarantines.
  *  - comments (whitespace-then-`#` to EOL, full-line or trailing,
  *    never inside quotes), blank lines, space-only indentation.
  *
  * Out of the subset's scope — each a CLEAN per-document quarantine,
  * never a wrong value: anchors/aliases (`&`/`*`), tags (`!`), flow
  * collections (`[...]`/`{...}`), block scalars (`|`/`>`), multi-doc
  * markers (`---`/`...`), directives (`%`), tab indentation, floats,
  * timestamps, and every YAML-1.1 scalar my resolver would disagree
  * with SnakeYAML about (`yes`/`no`/`on`/`off`/`~`/`null`/octal-
  * looking leading-zero numbers, mixed-case `True`) — the blocklist
  * makes the spec differential's contract sound: WHEREVER this parser
  * accepts, SnakeYAML (an in-JVM independent implementation, test
  * classpath only) must produce the identical tree.
  *
  * Output: one row per scalar — (full path with sequence indices as
  * numeric segments, type tag, string value, integer value; booleans
  * ride `i_val` 0/1) — exact and SQL-replayable.
  *
  * Scale shape: map-only per document, zero shuffles. No reference
  * citation possible — the reference (`src/flinkarima.py:379-416`) has
  * no file surface; north-star scope beside [[Toml]]/[[JavaProps]] on
  * the code-training shelf.
  */
object Yaml {

  private def md5Hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString

  private val words = Array("anchor", "bloom", "cedar", "dune", "ember", "flint", "grove", "harbor")

  // ------------------------------------------------------------- fixture

  private[ext] def nEnv(id: Long): Int = {
    val m = md5Hex(s"yaml:$id")
    1 + Integer.parseInt(m.substring(0, 1), 16) % 3
  }

  private[ext] def nContainers(id: Long): Int = {
    val m = md5Hex(s"yaml:$id")
    1 + Integer.parseInt(m.substring(1, 2), 16) % 2
  }

  private def nib(id: Long, i: Int): Int = {
    val m = md5Hex(s"yaml:$id")
    Integer.parseInt(m.substring(i - 1, i), 16)
  }

  private def hex(id: Long, from: Int, len: Int): Long = {
    val m = md5Hex(s"yaml:$id")
    java.lang.Long.parseLong(m.substring(from - 1, from - 1 + len), 16)
  }

  private[ext] def replicasOf(id: Long): Long = nib(id, 3).toLong
  private[ext] def versionOf(id: Long): String = s"${nib(id, 4)}.${nib(id, 5)}.${nib(id, 6)}"
  private[ext] def mottoOf(id: Long): String =
    s"m ${words(nib(id, 7) % 8)} \"q\" \\ \nline2\tcol \u00e9"
  private[ext] def tierOf(id: Long): String = words(nib(id, 8) % 8)
  private[ext] def cpuMsOf(id: Long): Long = hex(id, 17, 4)
  private[ext] def burstOf(id: Long): Long =
    (if (id % 2 == 0) 1L else -1L) * hex(id, 21, 4)

  /** env entry k — three arms: plain, double-quoted with a tab escape,
    * single-quoted with the `''` form.
    */
  private[ext] def envOf(id: Long, k: Int): String = {
    val w = words(nib(id, 9 + k) % 8)
    ((id + k) % 3) match {
      case 0 => w
      case 1 => s"qa $w\t!"
      case _ => s"it's $w"
    }
  }

  private[ext] def containerName(id: Long, j: Int): String = s"app$j-${words(nib(id, 12 + j) % 8)}"
  private[ext] def containerImage(id: Long, j: Int): String = s"repo/${words(nib(id, 14 + j) % 8)}"
  private[ext] def containerPort(id: Long, j: Int): Long = 1024L + hex(id, 25 + 2 * j, 2)
  private[ext] def volumeSize(id: Long): Long = hex(id, 29, 3)

  private def dq(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\t' => "\\t"
      case '\r' => "\\r"
      case c if c > 0x7e => f"\\u${c.toInt}%04X"
      case c => c.toString
    } + "\""

  private[ext] def renderYaml(id: Long): String = {
    val sb = new StringBuilder
    sb.append("# generated pipeline manifest\n")
    sb.append(s"name: svc-$id\n")
    sb.append(s"replicas: ${replicasOf(id)} # desired count\n")
    sb.append(s"enabled: ${id % 3 == 0}\n")
    sb.append(s"""version: "${versionOf(id)}"\n""")
    sb.append(s"motto: ${dq(mottoOf(id))}\n")
    // single-quoted: backslashes stay LITERAL (no escapes in this style)
    sb.append("raw_label: 'C:\\new\\dir'\n")
    sb.append("\n")
    sb.append("limits: # resource block\n")
    sb.append(s"  cpu_ms: ${cpuMsOf(id)}\n")
    sb.append(s"  burst: ${burstOf(id)}\n")
    sb.append(s"  tier: ${tierOf(id)}\n")
    sb.append("env:\n")
    // every seventh manifest indents the sequence to the PARENT KEY's
    // level — legal YAML and common in CI files; the items are identical
    val envIndent = if (id % 7 == 1) "" else "  "
    for (k <- 0 until nEnv(id)) {
      val v = envOf(id, k)
      ((id + k) % 3) match {
        case 0 => sb.append(s"$envIndent- $v\n")
        case 1 => sb.append(s"$envIndent- ${dq(v)}\n")
        case _ => sb.append(s"$envIndent- '${v.replace("'", "''")}'\n")
      }
    }
    sb.append("containers:\n")
    for (j <- 0 until nContainers(id)) {
      // the compact sequence-of-mappings form: keys at the dash column + 2
      sb.append(s"  - name: ${containerName(id, j)}\n")
      sb.append(s"    image: ${containerImage(id, j)}\n")
      sb.append(s"    port: ${containerPort(id, j)}\n")
    }
    if (id % 5 == 0) {
      // the lone-dash form: the item's block starts on the next line
      sb.append("volumes:\n")
      sb.append("  -\n")
      sb.append("    kind: tmp\n")
      sb.append(s"    size_mb: ${volumeSize(id)}\n")
    }
    sb.toString
  }

  /** Fixture writer: one manifest per document row. */
  def encodeYaml(docs: DataFrame, idCol: String = "doc_id"): DataFrame =
    Stage.render(docs, idCol, "yaml_text")(renderYaml)

  // --------------------------------------------------------------- parser

  private final class MalformedYaml
      extends RuntimeException("malformed yaml", null, false, false)
  private def fail(): Nothing = throw new MalformedYaml

  final case class YamlEntry(
      doc_id: Long, path: String, vtype: String,
      s_val: Option[String], i_val: Option[Long])

  private sealed trait YVal
  private final case class YStr(v: String) extends YVal
  private final case class YInt(v: Long) extends YVal
  private final case class YBool(v: Boolean) extends YVal

  /** YAML-1.1 plain tokens SnakeYAML resolves to non-strings (or that
    * older resolvers disagree about) — out of the subset except the
    * lowercase booleans handled before this check runs.
    */
  private val resolverBlocklist = Set(
    "yes", "no", "on", "off", "y", "n", "null", "true", "false")

  private def isKeyStart(c: Char): Boolean =
    (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z') || c == '_'
  private def isKeyChar(c: Char): Boolean =
    isKeyStart(c) || (c >= '0' && c <= '9') || c == '-'
  private def isBareKey(s: String): Boolean =
    s.nonEmpty && isKeyStart(s.charAt(0)) && s.forall(isKeyChar)

  private def isPlainStringChar(c: Char): Boolean =
    (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z') ||
      (c >= '0' && c <= '9') || c == ' ' || c == '.' || c == '_' ||
      c == '/' || c == '-'

  private val intRe = "[-+]?(?:0|[1-9][0-9]{0,17})".r

  /** Classify a PLAIN scalar token (already comment-stripped, trimmed,
    * nonempty). The resolution order mirrors what keeps the SnakeYAML
    * agreement sound: exact lowercase booleans, the safe integer shape,
    * then strings gated to a charset no 1.1 resolver pattern overlaps.
    */
  private def classifyPlain(tok: String): YVal = {
    if (tok == "true") YBool(true)
    else if (tok == "false") YBool(false)
    else if (intRe.pattern.matcher(tok).matches()) YInt(java.lang.Long.parseLong(tok))
    else {
      if (resolverBlocklist.contains(tok.toLowerCase)) fail()
      if (!isKeyStart(tok.charAt(0)) || !tok.forall(isPlainStringChar)) fail()
      YStr(tok)
    }
  }

  /** Double-quoted scalar starting at `pos` (which must be the quote);
    * returns (value, position after the closing quote).
    */
  private def parseDoubleQuoted(line: String, pos0: Int): (String, Int) = {
    var pos = pos0 + 1
    val sb = new StringBuilder
    while (true) {
      if (pos >= line.length) fail() // multi-line scalars out of subset
      val ch = line.charAt(pos)
      pos += 1
      if (ch == '"') return (sb.toString, pos)
      else if (ch == '\\') {
        if (pos >= line.length) fail()
        val e = line.charAt(pos)
        pos += 1
        e match {
          case '"' => sb.append('"')
          case '\\' => sb.append('\\')
          case 'n' => sb.append('\n')
          case 't' => sb.append('\t')
          case 'r' => sb.append('\r')
          case '0' => sb.append('\u0000')
          case 'u' =>
            if (pos + 4 > line.length) fail()
            val hx = line.substring(pos, pos + 4)
            // ASCII hex only — Character.digit's Unicode leniency would
            // fabricate values from invalid input (the TOML/properties
            // lesson)
            if (!hx.forall(h => (h >= '0' && h <= '9') ||
              (h >= 'a' && h <= 'f') || (h >= 'A' && h <= 'F'))) fail()
            sb.append(Integer.parseInt(hx, 16).toChar)
            pos += 4
          case _ => fail() // unknown escape: damage
        }
      } else sb.append(ch)
    }
    fail()
  }

  /** Single-quoted scalar: no escapes; `''` is a literal quote. */
  private def parseSingleQuoted(line: String, pos0: Int): (String, Int) = {
    var pos = pos0 + 1
    val sb = new StringBuilder
    while (true) {
      if (pos >= line.length) fail()
      val ch = line.charAt(pos)
      pos += 1
      if (ch == '\'') {
        if (pos < line.length && line.charAt(pos) == '\'') { sb.append('\''); pos += 1 }
        else return (sb.toString, pos)
      } else sb.append(ch)
    }
    fail()
  }

  /** Only whitespace or a comment may follow at `pos`. */
  private def restIsNoise(line: String, pos0: Int): Boolean = {
    var pos = pos0
    while (pos < line.length && (line.charAt(pos) == ' ' || line.charAt(pos) == '\t')) pos += 1
    pos >= line.length || line.charAt(pos) == '#'
  }

  /** A scalar occupying the rest of `line` from `pos` (quoted or plain,
    * trailing comment allowed outside quotes).
    */
  private def parseScalar(line: String, pos0: Int): YVal = {
    var pos = pos0
    while (pos < line.length && line.charAt(pos) == ' ') pos += 1
    if (pos >= line.length) fail()
    line.charAt(pos) match {
      case '"' =>
        val (v, after) = parseDoubleQuoted(line, pos)
        if (!restIsNoise(line, after)) fail()
        YStr(v)
      case '\'' =>
        val (v, after) = parseSingleQuoted(line, pos)
        if (!restIsNoise(line, after)) fail()
        YStr(v)
      case _ =>
        // plain: cut at the first whitespace-preceded '#'
        var end = line.length
        var i = pos + 1
        var looking = true
        while (looking && i < end) {
          if (line.charAt(i) == '#' &&
            (line.charAt(i - 1) == ' ' || line.charAt(i - 1) == '\t')) { end = i; looking = false }
          i += 1
        }
        var e = end
        while (e > pos && (line.charAt(e - 1) == ' ' || line.charAt(e - 1) == '\t')) e -= 1
        if (e == pos) fail()
        classifyPlain(line.substring(pos, e))
    }
  }

  private final class Ln(var indent: Int, var content: String)

  private[ext] def parseYaml(id: Long, text: String): Seq[YamlEntry] = {
    val out = Vector.newBuilder[YamlEntry]
    def emit(path: String, v: YVal): Unit = v match {
      case YStr(s) => out += YamlEntry(id, path, "s", Some(s), None)
      case YInt(x) => out += YamlEntry(id, path, "i", None, Some(x))
      case YBool(b) => out += YamlEntry(id, path, "b", None, Some(if (b) 1L else 0L))
    }
    val lines = scala.collection.mutable.ArrayBuffer.empty[Ln]
    Option(text).getOrElse("").split("\n", -1).foreach { raw =>
      val l = raw.stripSuffix("\r")
      var ind = 0
      while (ind < l.length && l.charAt(ind) == ' ') ind += 1
      if (ind < l.length && l.charAt(ind) == '\t') fail() // tab indentation
      val content = l.substring(ind)
      if (content.nonEmpty && content.charAt(0) != '#') {
        // multi-doc markers and directives: out of the subset wholesale
        if (ind == 0 && (content.startsWith("---") || content.startsWith("...") ||
          content.startsWith("%"))) fail()
        lines += new Ln(ind, content)
      }
    }
    // a block (mapping or sequence, decided by its first line) at one
    // indent level; returns the index of the first line NOT consumed
    def parseBlock(i0: Int, indent: Int, path: String, depth: Int): Int = {
      if (depth > 16) fail() // hostile nesting bomb
      var i = i0
      def isDash(c: String): Boolean = c == "-" || c.startsWith("- ")
      val isSeq = isDash(lines(i).content)
      val seen = scala.collection.mutable.HashSet.empty[String]
      var idx = 0
      var open = true
      while (open && i < lines.length && lines(i).indent >= indent) {
        val ln = lines(i)
        if (ln.indent > indent) fail() // stray deeper line outside any value
        val dashed = isDash(ln.content)
        // a sequence indented to its PARENT KEY's level (the common
        // `key:` + `- item` shape) ends at the first non-dash sibling —
        // that line belongs to the enclosing mapping; a dash inside a
        // mapping block, though, is structural damage
        if (isSeq && !dashed) open = false
        else if (!isSeq && dashed) fail()
        else {
        val sub = if (path.isEmpty) "" else path + "."
        if (isSeq) {
          val itemPath = sub + idx
          if (ln.content == "-") {
            // lone dash: the item is the following deeper block
            if (i + 1 >= lines.length || lines(i + 1).indent <= indent) fail()
            i = parseBlock(i + 1, lines(i + 1).indent, itemPath, depth + 1)
          } else {
            var p = 1
            while (p < ln.content.length && ln.content.charAt(p) == ' ') p += 1
            val rest = ln.content.substring(p)
            val virtualIndent = ln.indent + p
            // compact `- key: ...`: the item is a mapping whose indent is
            // the column after the dash — rewrite this line and recurse
            val colon = rest.indexOf(':')
            val compact = colon > 0 && isBareKey(rest.substring(0, colon)) &&
              (colon + 1 == rest.length || rest.charAt(colon + 1) == ' ')
            if (compact) {
              ln.indent = virtualIndent
              ln.content = rest
              i = parseBlock(i, virtualIndent, itemPath, depth + 1)
            } else if (rest.startsWith("- ") || rest == "-") {
              fail() // compact nested sequence: out of the subset
            } else {
              emit(itemPath, parseScalar(ln.content, p))
              i += 1
            }
          }
          idx += 1
        } else {
          val colon = ln.content.indexOf(':')
          if (colon <= 0) fail()
          val key = ln.content.substring(0, colon)
          if (!isBareKey(key)) fail()
          if (!seen.add(key)) fail() // duplicate key: damage
          val rest = colon + 1
          if (rest < ln.content.length && ln.content.charAt(rest) != ' ') fail()
          if (restIsNoise(ln.content, rest)) {
            // no inline value: a child block must follow — deeper, or a
            // SEQUENCE at this very indent (YAML allows a block sequence
            // at its parent key's level; an empty value would be a 1.1
            // null — out of the subset)
            val childOk = i + 1 < lines.length && (lines(i + 1).indent > indent ||
              (lines(i + 1).indent == indent && isDash(lines(i + 1).content)))
            if (!childOk) fail()
            i = parseBlock(i + 1, lines(i + 1).indent, sub + key, depth + 1)
          } else {
            emit(sub + key, parseScalar(ln.content, rest))
            i += 1
          }
        }
        }
      }
      i
    }
    if (lines.nonEmpty) {
      if (lines(0).indent != 0) fail()
      val end = parseBlock(0, 0, "", 0)
      if (end != lines.length) fail()
    }
    out.result()
  }

  private[ext] def parseYamlSafe(id: Long, text: String): Seq[YamlEntry] =
    try parseYaml(id, text)
    catch { case _: MalformedYaml => Seq.empty }

  /** `yaml_entries`: every scalar of every manifest. Map-only. */
  def yamlEntries(docs: DataFrame, idCol: String = "doc_id",
                  textCol: String = "yaml_text"): Dataset[YamlEntry] = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs
      .filter(col(idCol).isNotNull)
      .select(col(idCol).cast("long"), col(textCol))
      .as[(Long, String)]
      .flatMap { case (id, text) => parseYamlSafe(id, text) }
  }
}

package graft.ext

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** TOML ingestion — the config-file shelf of a CODE corpus: every Rust
  * crate ships a `Cargo.toml`, every modern Python project a
  * `pyproject.toml`, and a code-training pipeline mines dependency
  * names, versions and metadata from exactly these.
  *
  * A from-scratch parser for the well-specified v1.0 core:
  *
  *  - '''keys''': bare (`a-zA-Z0-9_-`) and DOTTED (`a.b.c`), plus
  *    `[table]` / `[dotted.table]` headers prefixing what follows —
  *    every emitted row carries the FULL dotted path.
  *  - '''strings''': basic (`"..."` with the `\" \\ \n \t \r \uXXXX`
  *    escapes — an unknown escape is damage, per spec) and LITERAL
  *    (`'...'`, no escapes at all — a `\n` stays two characters; the
  *    fixture pins the difference).
  *  - '''integers''': decimal with optional sign and `_` separators
  *    (which must sit BETWEEN digits).
  *  - '''booleans''' and '''arrays''' of scalars (each element emitted
  *    as its own row with its index).
  *  - comments (`#` to EOL), blank lines, whitespace tolerance.
  *
  * Out of the subset's scope — each a CLEAN per-document quarantine,
  * never a wrong value: floats, dates, inline tables, arrays of tables,
  * multi-line strings. A duplicate key is damage per spec.
  *
  * Output: one row per SCALAR value — (key path, array index, type tag,
  * string value, integer value) — exact and SQL-replayable (booleans
  * ride `i_val` 0/1).
  *
  * Scale shape: map-only per document, zero shuffles. No reference
  * citation possible — the reference (`src/flinkarima.py:379-416`) has
  * no file surface; north-star scope beside [[Ipynb]]/[[Git]] on the
  * code-training shelf.
  */
object Toml {

  private def md5Hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString

  private val words = Array("anchor", "bloom", "cedar", "dune", "ember", "flint", "grove", "harbor")

  // ------------------------------------------------------------- fixture

  private[ext] def nDeps(id: Long): Int = {
    val m = md5Hex(s"toml:$id")
    1 + Integer.parseInt(m.substring(0, 1), 16) % 3
  }

  private[ext] def depName(id: Long, k: Int): String = {
    val m = md5Hex(s"toml:$id")
    def nib(i: Int) = Integer.parseInt(m.substring(i - 1, i), 16)
    // the index suffix keeps names collision-free: a duplicate key would
    // (correctly) quarantine the whole manifest
    words(nib(2 + k) % 8) + s"-rs$k"
  }

  private[ext] def depVersion(id: Long, k: Int): String = {
    val m = md5Hex(s"toml:$id")
    def nib(i: Int) = Integer.parseInt(m.substring(i - 1, i), 16)
    s"${nib(5 + k)}.${nib(8 + k)}.${nib(11 + k)}"
  }

  private[ext] def pkgDescription(id: Long): String = {
    val m = md5Hex(s"toml:$id")
    def nib(i: Int) = Integer.parseInt(m.substring(i - 1, i), 16)
    // escape hazards: a quote, a backslash-n, a tab, a \u escape
    s"pkg $id: " + words(nib(14) % 8) + " \"quoted\"\nline2\tcol \u00e9"
  }

  private[ext] def buildCount(id: Long): Long = {
    val m = md5Hex(s"toml:$id")
    val v = java.lang.Long.parseLong(m.substring(16, 22), 16)
    if (id % 2 == 0) v else -v // signed arm
  }

  private[ext] def featureWords(id: Long): Seq[String] = {
    val m = md5Hex(s"toml:$id")
    def nib(i: Int) = Integer.parseInt(m.substring(i - 1, i), 16)
    (0 until 1 + nib(22) % 3).map(j => words(nib(23 + j) % 8))
  }

  private def escBasic(s: String): String =
    s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\t' => "\\t"
      case '\r' => "\\r"
      case c if c > 0x7e => f"\\u${c.toInt}%04X"
      case c => c.toString
    }

  private[ext] def renderToml(id: Long): String = {
    val sb = new StringBuilder
    sb.append("# generated fixture manifest\n")
    sb.append("[package]\n")
    sb.append(s"""name = "pkg-$id" # trailing comment\n""")
    sb.append(s"""description = "${escBasic(pkgDescription(id))}"\n""")
    // literal string: the \n here must SURVIVE as two characters
    sb.append("raw-path = 'C:\\new\\dir'\n")
    sb.append(s"edition = 2021\n")
    sb.append(s"build-count = ${insertUnderscores(buildCount(id))}\n")
    sb.append(s"publish = ${id % 3 == 0}\n")
    sb.append("features = [")
    sb.append(featureWords(id).map(w => s""""$w"""").mkString(", "))
    sb.append("]\n\n")
    sb.append("[dependencies]\n")
    for (k <- 0 until nDeps(id))
      sb.append(s"""${depName(id, k)} = "${depVersion(id, k)}"\n""")
    sb.append("\n[profile.release]\ndebug = false\nopt-level = 3\n")
    // a dotted KEY under a table header
    sb.append("\n[meta]\nowner.team = \"graft\"\n")
    sb.toString
  }

  /** `1_234_567`-style separators on the decimal digits (spec: between
    * digits only).
    */
  private[ext] def insertUnderscores(v: Long): String = {
    val neg = v < 0
    val digits = math.abs(v).toString
    val grouped = digits.reverse.grouped(3).mkString("_").reverse
    (if (neg) "-" else "") + grouped
  }

  /** Fixture writer: one manifest per document row. */
  def encodeToml(docs: DataFrame, idCol: String = "doc_id"): DataFrame =
    Stage.render(docs, idCol, "toml_text")(renderToml)

  // --------------------------------------------------------------- parser

  private final class MalformedToml
      extends RuntimeException("malformed toml", null, false, false)
  private def fail(): Nothing = throw new MalformedToml

  final case class TomlEntry(
      doc_id: Long, key: String, arr_idx: Long, vtype: String,
      s_val: Option[String], i_val: Option[Long])

  private sealed trait TVal
  private final case class TStr(v: String) extends TVal
  private final case class TInt(v: Long) extends TVal
  private final case class TBool(v: Boolean) extends TVal
  private final case class TArr(items: Vector[TVal]) extends TVal

  private final class Cursor(val line: String) {
    var pos = 0
    def eol: Boolean = pos >= line.length
    def peek: Char = if (eol) '\u0000' else line.charAt(pos)
    def skipWs(): Unit = while (!eol && (peek == ' ' || peek == '\t')) pos += 1
    /** true when only whitespace / a comment remains. */
    def restIsNoise: Boolean = {
      skipWs()
      eol || peek == '#'
    }
  }

  private def isBareChar(c: Char): Boolean =
    (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z') ||
      (c >= '0' && c <= '9') || c == '_' || c == '-'

  /** A dotted key: bare segments separated by `.` (quoted segments out of
    * the subset — damage).
    */
  private def parseKey(c: Cursor): String = {
    val segs = Vector.newBuilder[String]
    var more = true
    while (more) {
      c.skipWs()
      val start = c.pos
      while (!c.eol && isBareChar(c.peek)) c.pos += 1
      if (c.pos == start) fail()
      segs += c.line.substring(start, c.pos)
      c.skipWs()
      if (c.peek == '.') { c.pos += 1 } else more = false
    }
    segs.result().mkString(".")
  }

  private def parseBasicString(c: Cursor): String = {
    if (c.peek != '"') fail()
    c.pos += 1
    val sb = new StringBuilder
    while (true) {
      if (c.eol) fail() // multi-line out of subset; unterminated is damage
      val ch = c.peek
      c.pos += 1
      if (ch == '"') return sb.toString
      else if (ch == '\\') {
        if (c.eol) fail()
        val e = c.peek
        c.pos += 1
        e match {
          case '"' => sb.append('"')
          case '\\' => sb.append('\\')
          case 'n' => sb.append('\n')
          case 't' => sb.append('\t')
          case 'r' => sb.append('\r')
          case 'u' =>
            if (c.pos + 4 > c.line.length) fail()
            val hex = c.line.substring(c.pos, c.pos + 4)
            // ASCII hex only: Character.digit's Unicode leniency would
            // fabricate a value from invalid TOML
            if (!hex.forall(h => (h >= '0' && h <= '9') ||
              (h >= 'a' && h <= 'f') || (h >= 'A' && h <= 'F'))) fail()
            sb.append(Integer.parseInt(hex, 16).toChar)
            c.pos += 4
          case _ => fail() // unknown escape: damage per spec
        }
      } else {
        // raw control chars (other than TAB) are invalid in basic strings
        if (ch < 0x20 && ch != '\t' || ch == 0x7f) fail()
        sb.append(ch)
      }
    }
    fail()
  }

  private def parseLiteralString(c: Cursor): String = {
    if (c.peek != '\'') fail()
    c.pos += 1
    val start = c.pos
    while (!c.eol && c.peek != '\'') {
      val ch = c.peek
      if (ch < 0x20 && ch != '\t' || ch == 0x7f) fail() // control chars invalid
      c.pos += 1
    }
    if (c.eol) fail()
    val s = c.line.substring(start, c.pos)
    c.pos += 1
    s
  }

  private def parseInt(c: Cursor): Long = {
    val start = c.pos
    if (c.peek == '+' || c.peek == '-') c.pos += 1
    var digits = 0
    var lastWasDigit = false
    var lastWasUnderscore = false
    while (!c.eol && ((c.peek >= '0' && c.peek <= '9') || c.peek == '_')) {
      if (c.peek == '_') {
        if (!lastWasDigit) fail() // separators sit BETWEEN digits
        lastWasUnderscore = true; lastWasDigit = false
      } else { digits += 1; lastWasDigit = true; lastWasUnderscore = false }
      c.pos += 1
    }
    if (digits == 0 || lastWasUnderscore || digits > 18) fail()
    val raw = c.line.substring(start, c.pos).replace("_", "")
    val body = raw.dropWhile(ch => ch == '+' || ch == '-')
    if (body.length > 1 && body.charAt(0) == '0') fail() // leading zeros: invalid TOML
    java.lang.Long.parseLong(raw)
  }

  private def parseValue(c: Cursor, depth: Int): TVal = {
    c.skipWs()
    c.peek match {
      case '"' => TStr(parseBasicString(c))
      case '\'' => TStr(parseLiteralString(c))
      case '[' =>
        if (depth > 0) fail() // nested arrays out of the subset
        c.pos += 1
        val items = Vector.newBuilder[TVal]
        var n = 0
        var done = false
        while (!done) {
          c.skipWs()
          if (c.peek == ']') { c.pos += 1; done = true }
          else {
            if (n > 0) {
              if (c.peek != ',') fail()
              c.pos += 1
              c.skipWs()
              if (c.peek == ']') { c.pos += 1; done = true } // trailing comma ok
            }
            if (!done) {
              items += parseValue(c, depth + 1)
              n += 1
              if (n > 4096) fail()
            }
          }
        }
        TArr(items.result())
      case ch if ch == 't' || ch == 'f' =>
        if (c.line.startsWith("true", c.pos)) { c.pos += 4; TBool(true) }
        else if (c.line.startsWith("false", c.pos)) { c.pos += 5; TBool(false) }
        else fail()
      case ch if ch == '+' || ch == '-' || (ch >= '0' && ch <= '9') =>
        val v = parseInt(c)
        // floats/dates out of the subset: a '.' or ':' next is damage
        if (!c.eol && (c.peek == '.' || c.peek == ':' || c.peek == 'e' || c.peek == 'E')) fail()
        TInt(v)
      case _ => fail()
    }
  }

  private[ext] def parseToml(id: Long, text: String): Seq[TomlEntry] = {
    val out = Vector.newBuilder[TomlEntry]
    val seen = scala.collection.mutable.HashSet.empty[String]
    var prefix = ""
    def emit(key: String, idx: Long, v: TVal): Unit = v match {
      case TStr(s) => out += TomlEntry(id, key, idx, "s", Some(s), None)
      case TInt(x) => out += TomlEntry(id, key, idx, "i", None, Some(x))
      case TBool(b) => out += TomlEntry(id, key, idx, "b", None, Some(if (b) 1L else 0L))
      case TArr(items) =>
        if (idx != 0L) fail() // nested arrays never reach here
        items.zipWithIndex.foreach { case (item, i) => emit(key, i.toLong, item) }
    }
    Option(text).getOrElse("").split("\n", -1).foreach { raw =>
      val line = raw.stripSuffix("\r")
      val c = new Cursor(line)
      c.skipWs()
      if (!c.eol && c.peek != '#') {
        if (c.peek == '[') {
          c.pos += 1
          if (c.peek == '[') fail() // arrays of tables out of the subset
          val key = parseKey(c)
          if (c.peek != ']') fail()
          c.pos += 1
          if (!c.restIsNoise) fail()
          prefix = key
        } else {
          val key = parseKey(c)
          c.skipWs()
          if (c.peek != '=') fail()
          c.pos += 1
          val v = parseValue(c, 0)
          if (!c.restIsNoise) fail()
          val full = if (prefix.isEmpty) key else s"$prefix.$key"
          if (!seen.add(full)) fail() // duplicate key: damage per spec
          emit(full, 0L, v)
        }
      }
    }
    out.result()
  }

  private[ext] def parseTomlSafe(id: Long, text: String): Seq[TomlEntry] =
    try parseToml(id, text)
    catch { case _: MalformedToml => Seq.empty }

  /** `toml_entries`: every scalar of every manifest. Map-only. */
  def tomlEntries(docs: DataFrame, idCol: String = "doc_id",
                  textCol: String = "toml_text"): Dataset[TomlEntry] = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs
      .filter(col(idCol).isNotNull)
      .select(col(idCol).cast("long"), col(textCol))
      .as[(Long, String)]
      .flatMap { case (id, text) => parseTomlSafe(id, text) }
  }
}

package graft.ext

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Java `.properties` ingestion — the other config shelf of a code
  * corpus (every Maven/Gradle/Spring project ships them), and the one
  * format here with a PERFECT in-JVM differential: the spec loads every
  * fixture through `java.util.Properties` and requires key-for-key
  * equality with this from-scratch parser.
  *
  * The format's rules, implemented exactly as the JDK documents them:
  *
  *  - '''logical lines''': a natural line whose trailing run of
  *    backslashes has ODD length continues onto the next natural line,
  *    whose LEADING whitespace is stripped; comment detection (`#`/`!`
  *    as first non-blank char) applies to the start of a logical line
  *    only — a continuation line starting with `#` is data.
  *  - '''key/value split''': the key ends at the first UNESCAPED `=`,
  *    `:` or whitespace; after a whitespace separator one `=`/`:` (with
  *    surrounding whitespace) is still part of the separator.
  *  - '''escapes''': `\t \n \r \f \\` and `\uXXXX`; an escaped
  *    separator (`\:`, `\=`, `\ `) binds into the key; any OTHER
  *    escaped character drops its backslash (`\b` → `b`) — the JDK's
  *    documented lenient rule, pinned by the differential.
  *
  * Malformed `\uXXXX` (short or non-hex) throws in the JDK and
  * quarantines the document here. Duplicate keys keep the LAST value
  * (Hashtable semantics — the differential pins this too).
  *
  * Scale shape: map-only per document, zero shuffles. No reference
  * citation possible — the reference (`src/flinkarima.py:379-416`) has
  * no file surface; north-star scope beside [[Toml]] on the config
  * shelf.
  */
object JavaProps {

  private def md5Hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString

  private val words = Array("anchor", "bloom", "cedar", "dune", "ember", "flint", "grove", "harbor")

  // ------------------------------------------------------------- fixture

  private[ext] def nProps(id: Long): Int = {
    val m = md5Hex(s"props:$id")
    2 + Integer.parseInt(m.substring(0, 1), 16) % 4
  }

  private[ext] def keyOf(id: Long, k: Int): String = {
    val m = md5Hex(s"props:$id")
    def nib(i: Int) = Integer.parseInt(m.substring(i - 1, i), 16)
    val base = words(nib(2 + k) % 8) + s".$k"
    ((id + k) % 4) match {
      case 0 => base + " sp" // escaped space in the key
      case 1 => base + "=eq" // escaped '=' in the key
      case 2 => base + ":co" // escaped ':' in the key
      case _ => base
    }
  }

  private[ext] def valueOf(id: Long, k: Int): String = {
    val m = md5Hex(s"props:$id")
    def nib(i: Int) = Integer.parseInt(m.substring(i - 1, i), 16)
    val hazard = ((id + k) % 5) match {
      case 0 => " tab\there"
      case 1 => " nl\nthere"
      case 2 => " \u00e9\u0394" // via backslash-u on the wire
      case 3 => " back\\slash"
      case _ => ""
    }
    s"value $k of doc $id: " + words(nib(8 + k) % 8) + hazard
  }

  /** Escape for the WRITER side: keys escape separators too. */
  private def esc(s: String, isKey: Boolean): String =
    s.flatMap {
      case '\\' => "\\\\"
      case '\t' => "\\t"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\f' => "\\f"
      case ' ' if isKey => "\\ "
      case '=' if isKey => "\\="
      case ':' if isKey => "\\:"
      case c if c > 0x7e => f"\\u${c.toInt}%04x"
      case c => c.toString
    }

  private[ext] def renderProps(id: Long): String = {
    val sb = new StringBuilder
    sb.append("# fixture properties\n! bang comment too\n\n")
    for (k <- 0 until nProps(id)) {
      val key = esc(keyOf(id, k), isKey = true)
      val value = esc(valueOf(id, k), isKey = false)
      val sep = ((id + k) % 3) match {
        case 0 => "=" case 1 => ": " case _ => " \t "
      }
      if ((id + k) % 4 == 2 && value.length > 10) {
        // a real line continuation splitting the value mid-way; the next
        // line's leading whitespace must strip. Split at a SAFE point (not
        // inside an escape pair)
        val cut = safeCut(value, value.length / 2)
        sb.append(key).append(sep).append(value.substring(0, cut))
          .append("\\\n    ").append(value.substring(cut)).append('\n')
      } else sb.append(key).append(sep).append(value).append('\n')
    }
    // duplicate key: the LAST value wins (Hashtable semantics)
    sb.append("dup.key = first\n")
    sb.append("dup.key = second\n")
    sb.toString
  }

  /** Back off a proposed cut until it does not split a `\x`/`\uXXXX`. */
  private def safeCut(s: String, at0: Int): Int = {
    var at = at0
    def insideEscape(p: Int): Boolean = {
      // count backslashes ending right before p: odd = p splits an escape
      var b = 0
      var i = p - 1
      while (i >= 0 && s.charAt(i) == '\\') { b += 1; i -= 1 }
      if (b % 2 == 1) return true
      // a \uXXXX whose 'u'/hex span covers p
      var j = math.max(0, p - 6)
      while (j < p) {
        if (s.charAt(j) == '\\' && j + 6 > p && j + 1 < s.length && s.charAt(j + 1) == 'u') {
          var bb = 0
          var q = j - 1
          while (q >= 0 && s.charAt(q) == '\\') { bb += 1; q -= 1 }
          if (bb % 2 == 0) return true
        }
        j += 1
      }
      false
    }
    // the remainder must not START with whitespace either: the reader's
    // continuation rule strips it, which would silently eat value spaces
    while (at > 1 && (insideEscape(at) ||
      s.charAt(at) == ' ' || s.charAt(at) == '\t')) at -= 1
    at
  }

  /** Fixture writer: one .properties text per document row. */
  def encodeProps(docs: DataFrame, idCol: String = "doc_id"): DataFrame =
    Stage.render(docs, idCol, "props_text")(renderProps)

  // --------------------------------------------------------------- parser

  private final class MalformedProps
      extends RuntimeException("malformed properties", null, false, false)
  private def fail(): Nothing = throw new MalformedProps

  final case class PropEntry(doc_id: Long, key: String, value: String)

  private def isWs(c: Char): Boolean = c == ' ' || c == '\t' || c == '\f'

  private def isAsciiHex(c: Char): Boolean =
    (c >= '0' && c <= '9') || (c >= 'a' && c <= 'f') || (c >= 'A' && c <= 'F')

  /** Natural lines → logical lines per the JDK rule. */
  private[ext] def logicalLines(text: String): Seq[String] = {
    val naturals = text.split("\r\n|\r|\n", -1)
    val out = Vector.newBuilder[String]
    var i = 0
    while (i < naturals.length) {
      var line = naturals(i)
      // comment / blank detection on the LOGICAL line start
      val t = line.dropWhile(isWs)
      if (t.isEmpty || t.charAt(0) == '#' || t.charAt(0) == '!') { i += 1 }
      else {
        val sb = new StringBuilder(t)
        var continues = trailingBackslashesOdd(sb)
        while (continues) {
          sb.deleteCharAt(sb.length - 1) // the continuation backslash
          i += 1
          val next = if (i < naturals.length) naturals(i) else ""
          sb.append(next.dropWhile(isWs))
          continues = trailingBackslashesOdd(sb)
        }
        out += sb.toString
        i += 1
      }
    }
    out.result()
  }

  private def trailingBackslashesOdd(sb: StringBuilder): Boolean = {
    var b = 0
    var i = sb.length - 1
    while (i >= 0 && sb.charAt(i) == '\\') { b += 1; i -= 1 }
    b % 2 == 1
  }

  private[ext] def unescape(s: String): String = {
    val sb = new StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '\\') {
        if (i + 1 >= s.length) fail()
        s.charAt(i + 1) match {
          case 't' => sb.append('\t'); i += 2
          case 'n' => sb.append('\n'); i += 2
          case 'r' => sb.append('\r'); i += 2
          case 'f' => sb.append('\f'); i += 2
          case 'u' =>
            if (i + 6 > s.length) fail()
            val hex = s.substring(i + 2, i + 6)
            // ASCII hex ONLY: Character.digit accepts fullwidth digits the
            // JDK's Properties loader rejects — the differential is law
            if (!hex.forall(isAsciiHex)) fail()
            sb.append(Integer.parseInt(hex, 16).toChar)
            i += 6
          case other => sb.append(other); i += 2 // the JDK's lenient drop
        }
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }

  /** Split one logical line at the first unescaped separator. */
  private[ext] def splitEntry(line: String): (String, String) = {
    var i = 0
    var sepAt = -1
    var sepIsWs = false
    while (i < line.length && sepAt < 0) {
      val c = line.charAt(i)
      if (c == '\\') i += 2
      else if (c == '=' || c == ':') { sepAt = i; i += 1 }
      else if (isWs(c)) { sepAt = i; sepIsWs = true; i += 1 }
      else i += 1
    }
    if (sepAt < 0) return (unescape(line), "") // key with empty value
    val key = line.substring(0, sepAt)
    var p = sepAt + 1
    while (p < line.length && isWs(line.charAt(p))) p += 1
    if (sepIsWs && p < line.length && (line.charAt(p) == '=' || line.charAt(p) == ':')) {
      p += 1
      while (p < line.length && isWs(line.charAt(p))) p += 1
    }
    (unescape(key), unescape(line.substring(p)))
  }

  private[ext] def parseProps(id: Long, text: String): Seq[PropEntry] = {
    val m = scala.collection.mutable.LinkedHashMap.empty[String, String]
    logicalLines(Option(text).getOrElse("")).foreach { line =>
      val (k, v) = splitEntry(line)
      m.remove(k) // last-wins but keep LAST insertion order deterministic
      m(k) = v
    }
    m.toSeq.map { case (k, v) => PropEntry(id, k, v) }
  }

  private[ext] def parsePropsSafe(id: Long, text: String): Seq[PropEntry] =
    try parseProps(id, text)
    catch { case _: MalformedProps => Seq.empty }

  /** `java_properties`: every (key, value) of every file. Map-only. */
  def propEntries(docs: DataFrame, idCol: String = "doc_id",
                  textCol: String = "props_text"): Dataset[PropEntry] = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs
      .filter(col(idCol).isNotNull)
      .select(col(idCol).cast("long"), col(textCol))
      .as[(Long, String)]
      .flatMap { case (id, text) => parsePropsSafe(id, text) }
  }
}

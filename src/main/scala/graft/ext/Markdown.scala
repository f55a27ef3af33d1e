package graft.ext

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** ======== Markdown text extraction ========
  *
  * The README/docs/forum shelf — after HTML, the most common authored
  * text format in a crawled corpus. A CommonMark-subset BLOCK extractor
  * with a documented profile:
  *
  *  - '''blocks''': ATX headings (`#{1,6}`, trailing `#` run stripped)
  *    AND setext headings (a paragraph line underlined with `===`/`---`
  *    — distinguishing the `---` underline from a thematic BREAK, which
  *    requires no open paragraph, is the classic corner); fenced code
  *    (``` ``` ``` / `~~~`, info string dropped, content RAW); single
  *    `>` blockquotes (consecutive marker lines joined); one-line list
  *    items (`-`/`*`/`+`/`N.`); paragraphs soft-wrap (lines joined with
  *    one space); thematic breaks emit nothing.
  *  - '''inlines''' (never inside code): `**`/`*` emphasis markers
  *    stripped; `_`/`__` stripped only at WORD BOUNDARIES (snake_case
  *    survives — the intraword rule naive strippers get wrong);
  *    backtick code spans keep their content verbatim (markers of equal
  *    run length); `[text](url)` keeps text, `![alt](url)` keeps alt;
  *    backslash escapes make any punctuation literal; the five named
  *    HTML entities + numeric references decode, a bare `&` stays.
  *
  * One output row per block with its kind (h1..h6 / para / item / quote
  * / code). Markdown has no framing to violate, so there is no
  * quarantine path — any bytes are SOME document; strictness lives in
  * the unterminated-fence rule (the fence runs to EOF, per CommonMark).
  * Map-only per document, zero shuffles. No reference citation possible
  * (no file surface in the reference) — north-star scope next to
  * [[Html]] and [[Latex]].
  */
object Markdown {

  private val words = Array("anchor", "bloom", "cedar", "dune", "ember", "flint", "grove", "harbor")

  private def md5Hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString

  // ------------------------------------------------------------- fixture

  /** Closed-form block model: an h1 title; `1 + nib(1)%3` sections, each
    * an h2 (ATX on even `k`, SETEXT on odd) and `1 + nib(2+k)%3`
    * paragraphs cycling seven inline arms; a quote after section 0's
    * first paragraph on `id % 3 == 0`; two list items after section 1's
    * paragraphs; a fenced code block after section 2's. A thematic break
    * separates sections (emitting nothing).
    */
  private[ext] def nSections(id: Long): Int = {
    val m = md5Hex(s"md:$id")
    1 + Integer.parseInt(m.substring(0, 1), 16) % 3
  }

  private[ext] def nParas(id: Long, k: Int): Int = {
    val m = md5Hex(s"md:$id")
    1 + Integer.parseInt(m.substring(1 + k, 2 + k), 16) % 3
  }

  private[ext] def docTitle(id: Long): String = {
    val m = md5Hex(s"md:$id")
    s"Md doc $id: ${words(Integer.parseInt(m.substring(31, 32), 16) % 8)}"
  }

  private[ext] def sectionText(id: Long, k: Int): String = {
    val m = md5Hex(s"md:$id")
    s"Section $k ${words(Integer.parseInt(m.substring(25 + k, 26 + k), 16) % 8)}"
  }

  private[ext] def hasQuote(id: Long): Boolean = id % 3 == 0
  private[ext] def quoteText(id: Long): String = s"Quoted $id across lines"
  private[ext] def itemText(id: Long, j: Int): String = s"Item $j of doc $id"
  private[ext] def codeText(id: Long): String = s"code(x_$id) # raw **not bold**"

  private[ext] def paraText(id: Long, k: Int, p: Int): String = {
    val m = md5Hex(s"md:$id")
    def nib(i: Int) = Integer.parseInt(m.substring(i - 1, i), 16)
    val w1 = words(nib(8 + (3 * k + p) % 12) % 8)
    val w2 = words(nib(20 + (2 * k + p) % 12) % 8)
    val tail = ((id + k + p) % 7) match {
      case 0 => s"$w2 bold"
      case 1 => s"$w2 em"
      case 2 => s"a*b $w2" // the code span keeps its content verbatim
      case 3 => s"$w2 link"
      case 4 => s"*lit* $w2"
      case 5 => s"a & b $w2"
      case _ => s"snake_case $w2"
    }
    s"Para $p of sec $k in doc $id: $w1 $tail"
  }

  /** Serialize the source: soft-wrapped paragraphs (base line + arm
    * line), the arm markup per [[paraText]], setext underlines on odd
    * sections, thematic breaks between sections.
    */
  private[ext] def renderMarkdown(id: Long): Array[Byte] = {
    val m = md5Hex(s"md:$id")
    def nib(i: Int) = Integer.parseInt(m.substring(i - 1, i), 16)
    val sb = new StringBuilder
    sb.append(s"# ${docTitle(id)} #\n") // closing-hash ATX form
    for (k <- 0 until nSections(id)) {
      sb.append("\n---\n\n") // thematic break: preceded by a blank line
      if (k % 2 == 0) sb.append(s"## ${sectionText(id, k)}\n")
      else sb.append(s"${sectionText(id, k)}\n----\n") // setext h2
      for (p <- 0 until nParas(id, k)) {
        val w1 = words(nib(8 + (3 * k + p) % 12) % 8)
        val w2 = words(nib(20 + (2 * k + p) % 12) % 8)
        sb.append(s"\nPara $p of sec $k in doc $id: $w1\n") // soft wrap
        ((id + k + p) % 7) match {
          case 0 => sb.append(s"**$w2** bold\n")
          case 1 => sb.append(s"*$w2* em\n")
          case 2 => sb.append(s"``a*b $w2``\n") // double-backtick span
          case 3 => sb.append(s"[$w2](http://example.com/$id) link\n")
          case 4 => sb.append(s"\\*lit\\* $w2\n")
          case 5 => sb.append(s"a &amp; b $w2\n")
          case _ => sb.append(s"snake_case $w2\n")
        }
        if (k == 0 && p == 0 && hasQuote(id)) {
          sb.append(s"\n> Quoted $id\n> across lines\n")
        }
      }
      if (k == 1) sb.append(s"\n- ${itemText(id, 0)}\n- ${itemText(id, 1)}\n")
      if (k == 2) sb.append(s"\n```python\n${codeText(id)}\n```\n")
    }
    sb.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8)
  }

  /** Fixture writer: one Markdown source per document row. */
  def encodeMarkdown(docs: DataFrame, idCol: String = "doc_id"): DataFrame =
    Stage.render(docs, idCol, "payload")(renderMarkdown)

  // --------------------------------------------------------------- parser

  final case class MdBlock(doc_id: Long, block_idx: Long, kind: String,
      n_chars: Long, checksum: Long)

  /** Decode HTML entities leniently: the five named + numeric refs; a
    * bare or unknown `&` stays literal (Markdown is not XML).
    */
  private def decodeEntities(s: String): String = {
    if (s.indexOf('&') < 0) return s
    val sb = new java.lang.StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c != '&') { sb.append(c); i += 1 }
      else {
        val semi = s.indexOf(';', i + 1)
        val name = if (semi > i && semi - i <= 10) s.substring(i + 1, semi) else null
        val rep: String = name match {
          case "amp" => "&"
          case "lt" => "<"
          case "gt" => ">"
          case "quot" => "\""
          case "apos" => "'"
          case n if n != null && n.length >= 2 && n.charAt(0) == '#' =>
            try {
              val cp = if (n.charAt(1) == 'x' || n.charAt(1) == 'X')
                Integer.parseInt(n.substring(2), 16)
              else Integer.parseInt(n.substring(1), 10)
              if (cp > 0 && cp <= 0x10ffff) new String(Character.toChars(cp)) else null
            } catch { case _: NumberFormatException => null }
          case _ => null
        }
        if (rep == null) { sb.append('&'); i += 1 }
        else { sb.append(rep); i = semi + 1 }
      }
    }
    sb.toString
  }

  private def isWordChar(c: Char): Boolean = Character.isLetterOrDigit(c)

  /** Inline pass: escapes, code spans (equal-length backtick runs,
    * content verbatim), links/images, emphasis-marker stripping with the
    * intraword-underscore rule, entity decode.
    */
  private[ext] def inline(s: String): String = {
    val sb = new java.lang.StringBuilder(s.length)
    var i = 0
    val n = s.length
    while (i < n) {
      val c = s.charAt(i)
      if (c == '\\' && i + 1 < n && "\\`*_{}[]()#+-.!<>&~|".indexOf(s.charAt(i + 1)) >= 0) {
        sb.append(s.charAt(i + 1)); i += 2
      } else if (c == '`') {
        var run = 0
        while (i + run < n && s.charAt(i + run) == '`') run += 1
        val closer = s.indexOf("`" * run, i + run)
        // CommonMark: the closer is an EXACTLY equal run; approximate
        // with the first equal-length run (fixture + common docs shape)
        if (closer < 0) { sb.append("`" * run); i += run }
        else {
          var content = s.substring(i + run, closer)
          if (content.startsWith(" ") && content.endsWith(" ") && content.trim.nonEmpty)
            content = content.substring(1, content.length - 1) // the one-space rule
          sb.append(content)
          i = closer + run
        }
      } else if (c == '!' && i + 1 < n && s.charAt(i + 1) == '[') {
        i += 1 // image: fall through to the link rule with the alt text
      } else if (c == '[') {
        val close = s.indexOf(']', i + 1)
        if (close > 0 && close + 1 < n && s.charAt(close + 1) == '(') {
          val urlEnd = s.indexOf(')', close + 2)
          if (urlEnd > 0) {
            sb.append(inline(s.substring(i + 1, close)))
            i = urlEnd + 1
          } else { sb.append('['); i += 1 }
        } else { sb.append('['); i += 1 }
      } else if (c == '*') {
        i += 1 // emphasis marker: stripped (single or doubled)
      } else if (c == '_') {
        val prevWord = i > 0 && isWordChar(s.charAt(i - 1))
        val nextWord = i + 1 < n && isWordChar(s.charAt(i + 1))
        if (prevWord && nextWord) sb.append('_') // intraword: literal
        i += 1
      } else if (c == '&') {
        // entities decode HERE, in the non-code scan — running a decode
        // pass over the assembled string would also hit code-span
        // content, which must stay verbatim (entity references are not
        // recognized inside code spans)
        val semi = s.indexOf(';', i + 1)
        if (semi > i && semi - i <= 10) {
          val rep = decodeEntities(s.substring(i, semi + 1))
          if (rep.length < semi + 1 - i) { sb.append(rep); i = semi + 1 }
          else { sb.append('&'); i += 1 }
        } else { sb.append('&'); i += 1 }
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }

  private val ListItem = "^([-*+]|\\d{1,9}[.)])\\s+(.*)$".r
  // the closing-hash run only strips when preceded by whitespace
  // (CommonMark: '# C#' keeps its trailing #)
  private val AtxHeading = "^(#{1,6})\\s+(.*?)(?:\\s+#+)?\\s*$".r

  private def isThematic(line: String): Boolean = {
    val t = line.replace(" ", "")
    t.length >= 3 && (t.forall(_ == '-') || t.forall(_ == '*') || t.forall(_ == '_'))
  }

  private[ext] def parseMarkdown(id: Long, bytes: Array[Byte]): Seq[MdBlock] = {
    val lines = new String(bytes, java.nio.charset.StandardCharsets.UTF_8)
      .split("\n", -1).map(_.stripSuffix("\r"))
    val blocks = Vector.newBuilder[(String, String)]
    val para = new java.lang.StringBuilder
    def flushPara(): Unit = {
      val t = para.toString.trim
      para.setLength(0)
      if (t.nonEmpty) blocks += (("para", t))
    }
    var i = 0
    val n = lines.length
    while (i < n) {
      val line = lines(i)
      val trimmed = line.trim
      if (trimmed.isEmpty) { flushPara(); i += 1 }
      else if (trimmed.startsWith("```") || trimmed.startsWith("~~~")) {
        flushPara()
        val fence = trimmed.take(3)
        i += 1
        val body = new java.lang.StringBuilder
        var closed = false
        while (i < n && !closed) {
          if (lines(i).trim.startsWith(fence)) { closed = true; i += 1 }
          else {
            if (body.length() > 0) body.append('\n')
            body.append(lines(i))
            i += 1
          }
        }
        // an unterminated fence runs to EOF, per CommonMark
        blocks += (("code", body.toString))
      } else trimmed match {
        case AtxHeading(hashes, text) =>
          flushPara()
          blocks += ((s"h${hashes.length}", inline(text)))
          i += 1
        case _ if trimmed.startsWith(">") =>
          flushPara()
          val q = new java.lang.StringBuilder
          while (i < n && lines(i).trim.startsWith(">")) {
            val stripped = lines(i).trim.substring(1).stripPrefix(" ")
            if (q.length() > 0) q.append(' ')
            q.append(stripped)
            i += 1
          }
          blocks += (("quote", inline(q.toString.trim)))
        case _ if para.length() > 0 && trimmed.nonEmpty &&
            (trimmed.forall(_ == '=') || trimmed.forall(_ == '-')) =>
          // setext underline closes the open paragraph as a heading
          val kind = if (trimmed.charAt(0) == '=') "h1" else "h2"
          val t = para.toString.trim
          para.setLength(0)
          blocks += ((kind, t))
          i += 1
        // spaced thematic breaks ('- - -', '* * *') outrank list items
        case _ if isThematic(trimmed) => flushPara(); i += 1
        case ListItem(_, rest) =>
          flushPara()
          blocks += (("item", inline(rest.trim)))
          i += 1
        case _ =>
          if (para.length() > 0) para.append(' ')
          para.append(inline(trimmed))
          i += 1
      }
    }
    flushPara()
    blocks.result().zipWithIndex.map { case ((kind, text), idx) =>
      val b = text.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      var cs = 0L
      b.foreach(x => cs = (cs * 31 + (x & 0xff)) % 1000000007L)
      MdBlock(id, idx.toLong, kind, b.length.toLong, cs)
    }
  }

  /** The operator: Markdown sources → the per-block text table (no
    * quarantine path — any bytes are some document). Map-only.
    */
  def markdownExtract(docs: DataFrame, idCol: String = "doc_id",
      payloadCol: String = "payload"): Dataset[MdBlock] = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs
      .select(col(idCol).cast("long"), col(payloadCol))
      .as[(Long, Array[Byte])]
      .flatMap { case (id, payload) =>
        try { if (payload == null) Nil else parseMarkdown(id, payload) }
        catch { case scala.util.control.NonFatal(_) => Nil }
      }
  }
}

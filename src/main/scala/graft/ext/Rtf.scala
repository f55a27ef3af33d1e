package graft.ext

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** ======== RTF text extraction ========
  *
  * The LEGACY office format — decades of .rtf sit on the same shelf the
  * [[Docx]]/[[Odt]]/[[Pdf]] readers mine, and unlike those it is neither
  * ZIP nor XML: RTF is a brace-grouped control-word stream, so this is a
  * from-scratch TOKENIZER, not a composition. The profile implements the
  * core machinery every real reader needs:
  *
  *  - '''control words''' `\word[N]` with the optional-space delimiter
  *    rule (the space is CONSUMED; any other delimiter is not);
  *  - '''control symbols''' `\{ \} \\` (literal braces/backslash),
  *    `\~` (non-breaking space), `\_` (non-breaking hyphen), `\-`
  *    (soft hyphen — zero width, dropped);
  *  - '''groups''' push/pop formatting state (`\uc` inherits per group);
  *  - '''destinations''': `{\*\...}` ignorable groups and the known
  *    non-text destinations (fonttbl, colortbl, stylesheet, pict,
  *    themedata, ...) are skipped whole; `{\info{\title ...}}` routes
  *    its title text to the metadata column instead of the body;
  *  - '''encoded text''': `\'hh` bytes through the shared WinAnsi plane
  *    ([[Charset.cp1252Decode]]) and `\uN` Unicode escapes (signed
  *    16-bit wire form) with the `\ucN` fallback-skip protocol — after
  *    `\uN`, the next `uc` plain-or-\'hh characters are fallback for
  *    non-Unicode readers and must be SKIPPED;
  *  - `\par` ends a paragraph (one output row each), `\line` a line,
  *    `\tab` a tab; raw CR/LF bytes in the file are NOT text (the spec's
  *    rule — writers wrap lines freely); `\binN` skips N raw bytes,
  *    bounds-checked before any allocation.
  *
  * STRICT: a missing `{\rtf1` magic, unbalanced braces, a malformed
  * `\'` escape, or a `\bin` running past the buffer quarantines the
  * whole document. Map-only per document, zero shuffles. No reference
  * citation possible (no file surface in the reference) — north-star
  * scope completing the office shelf.
  */
object Rtf {

  private val words = Array("anchor", "bloom", "cedar", "dune", "ember", "flint", "grove", "harbor")

  private def md5Hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString

  // ------------------------------------------------------------- fixture

  /** Closed-form text model (the oracle replays exactly this): doc `id`
    * carries `2 + nib(1)%4` paragraphs; paragraph `k` is fixture words
    * with `\line` instead of the inter-word space on `(id+k)%7 == 1` and
    * a hazard suffix cycling by `(id+k)%6`: escaped braces, `\'e9`,
    * `\uN`-escaped curly quotes (with `\uc0` and `\uc1` writer variants
    * by id parity), an embedded `\tab`, a `\~` non-breaking space, or
    * nothing.
    */
  private[ext] def nParas(id: Long): Int = {
    val m = md5Hex(s"rtf:$id")
    2 + Integer.parseInt(m.substring(0, 1), 16) % 4
  }

  private[ext] def docTitle(id: Long): String = {
    val m = md5Hex(s"rtf:$id")
    s"Rtf doc $id: ${words(Integer.parseInt(m.substring(31, 32), 16) % 8)}"
  }

  private[ext] def paraText(id: Long, k: Int): String = {
    val m = md5Hex(s"rtf:$id")
    def nib(i: Int) = Integer.parseInt(m.substring(i - 1, i), 16)
    val w1 = words(nib(8 + (3 * k) % 12) % 8)
    val w2 = words(nib(20 + (2 * k) % 12) % 8)
    val wsep = if ((id + k) % 7 == 1) "\n" else " "
    val suffix = ((id + k) % 6) match {
      case 0 => " {x}"
      case 1 => " é"
      case 2 => " “q”"
      case 3 => " a\tb"
      case 4 => " x\u00a0y" // non-breaking space
      case _ => ""
    }
    s"Rtf para $k of doc $id: $w1$wsep$w2$suffix"
  }

  /** One complete RTF for doc `id`: the `{\rtf1\ansi\ansicpg1252` header
    * with fonttbl/colortbl destinations, an ignorable `{\*\generator}`
    * group, a `{\pict}` hex blob on `id % 5 == 0`, the info group with
    * the title (absent on `id % 7 == 6`), and per paragraph the model's
    * arms serialized with the matching control words, closed by `\par`.
    * Line-wrapped every ~70 chars (raw CR/LF must be invisible).
    */
  private[ext] def renderRtf(id: Long): Array[Byte] = {
    val sb = new StringBuilder
    sb.append("{\\rtf1\\ansi\\ansicpg1252\\deff0")
    sb.append("{\\fonttbl{\\f0\\froman\\fcharset0 Times New Roman;}{\\f1\\fswiss Arial;}}")
    sb.append("\n{\\colortbl ;\\red255\\green0\\blue0;\\red0\\green0\\blue255;}")
    sb.append("{\\*\\generator Graft RTF 1.0;}")
    if (id % 7 != 6)
      sb.append("{\\info{\\title ").append(rtfEscape(docTitle(id))).append("}{\\author graft}}")
    if (id % 5 == 0)
      sb.append("{\\pict\\wmetafile8\\picw100\\pich100 0102abcdef0344}")
    sb.append("\n\\pard\\f0\\fs24 ")
    for (k <- 0 until nParas(id)) {
      val m = md5Hex(s"rtf:$id")
      def nib(i: Int) = Integer.parseInt(m.substring(i - 1, i), 16)
      val w1 = words(nib(8 + (3 * k) % 12) % 8)
      val w2 = words(nib(20 + (2 * k) % 12) % 8)
      sb.append(s"Rtf para $k of doc $id: ").append(w1)
      if ((id + k) % 7 == 1) sb.append("\\line ") else sb.append(' ')
      sb.append(w2)
      ((id + k) % 6) match {
        case 0 => sb.append(" \\{x\\}")
        case 1 => sb.append(" \\'e9")
        case 2 =>
          // the Unicode-escape arm: uc0 (no fallback) on even ids, the
          // classic uc1-with-'?'-fallback on odd — same decoded text
          if (id % 2 == 0) sb.append(" \\uc0\\u8220 q\\u8221 ")
          else sb.append(" \\uc1\\u8220?q\\u8221?")
        case 3 => sb.append(" a\\tab b")
        case 4 => sb.append(" x\\~y")
        case _ =>
      }
      sb.append("\\par")
      sb.append(if (k % 2 == 0) "\r\n" else "\n") // raw EOLs: not text
    }
    sb.append("}")
    sb.toString.getBytes("ISO-8859-1") // \'hh keeps everything in bytes
  }

  /** Escape plain text for an RTF destination (title): braces, backslash,
    * and non-ASCII through `\'hh`.
    */
  private def rtfEscape(s: String): String = {
    val sb = new StringBuilder
    s.foreach {
      case '\\' => sb.append("\\\\")
      case '{' => sb.append("\\{")
      case '}' => sb.append("\\}")
      case c if c < 0x80 => sb.append(c)
      case c => sb.append(f"\\'${Charset.cp1252Encode(c.toString)(0) & 0xff}%02x")
    }
    sb.toString
  }

  /** Fixture writer: one RTF per document row. */
  def encodeRtf(docs: DataFrame, idCol: String = "doc_id"): DataFrame =
    Stage.render(docs, idCol, "payload")(renderRtf)

  // --------------------------------------------------------------- parser

  private final class MalformedRtf
      extends RuntimeException("malformed rtf", null, false, false)
  private def fail(): Nothing = throw new MalformedRtf

  final case class RtfPara(doc_id: Long, para_idx: Long, title: String,
      n_chars: Long, checksum: Long)

  /** Per-group sink: body text, title text, or skipped. */
  private final val SinkBody = 0
  private final val SinkTitle = 1
  private final val SinkSkip = 2

  /** Destinations whose whole group is non-text. `info` is handled
    * specially (its `title` subgroup re-routes to the metadata sink).
    */
  private val SkipDestinations: Set[String] = Set(
    "fonttbl", "colortbl", "stylesheet", "listtable", "listoverridetable",
    "pict", "themedata", "header", "footer", "footnote", "xmlnstbl",
    "revtbl", "object")

  private[ext] def parseRtf(id: Long, bytes: Array[Byte]): Seq[RtfPara] = {
    val n = bytes.length
    if (n < 6 || new String(bytes, 0, math.min(6, n), "ISO-8859-1") != "{\\rtf1") fail()
    val paras = Vector.newBuilder[String]
    val body = new StringBuilder
    val title = new StringBuilder
    var nOut = 0
    def endPara(): Unit = {
      paras += body.toString
      body.setLength(0)
      nOut += 1; if (nOut > (1 << 20)) fail()
    }
    // group state: (sink, uc); pendingSkip = \uN fallback chars to eat.
    // Changes write THROUGH to the stack top so a nested group's close
    // restores the enclosing group's actual state (a destination word
    // like \fonttbl mutates the group it opened, not its parent)
    var sink = SinkBody
    var uc = 1
    val stack = scala.collection.mutable.ArrayBuffer.empty[(Int, Int)]
    var pendingSkip = 0
    var groupJustOpened = false
    var i = 1 // at the root '{'; the \rtf1 control word parses below
    stack += ((SinkBody, 1))
    def setSink(s: Int): Unit = { sink = s; stack(stack.length - 1) = ((s, uc)) }
    def setUc(v: Int): Unit = { uc = v; stack(stack.length - 1) = ((sink, v)) }
    def emit(s: String): Unit = {
      if (pendingSkip > 0) pendingSkip -= 1 // one fallback unit eaten
      else if (sink == SinkBody) body.append(s)
      else if (sink == SinkTitle) title.append(s)
    }
    while (i < n && stack.nonEmpty) {
      val c = bytes(i) & 0xff
      if (c == '{') {
        stack += ((sink, uc))
        groupJustOpened = true
        pendingSkip = 0
        i += 1
      } else if (c == '}') {
        stack.remove(stack.length - 1)
        if (stack.nonEmpty) { sink = stack.last._1; uc = stack.last._2 }
        groupJustOpened = false
        pendingSkip = 0
        i += 1
      } else if (c == '\\') {
        if (i + 1 >= n) fail()
        val d = bytes(i + 1) & 0xff
        if (d == '{' || d == '}' || d == '\\') { emit(d.toChar.toString); groupJustOpened = false; i += 2 }
        else if (d == '~') { emit("\u00a0"); groupJustOpened = false; i += 2 }
        else if (d == '_') { emit("\u2011"); groupJustOpened = false; i += 2 }
        else if (d == '-') { groupJustOpened = false; i += 2 } // soft hyphen: zero width
        else if (d == '*') {
          // ignorable destination: meaningful right after '{'; MUST go
          // through setSink so nested groups inside the destination
          // restore to Skip, not to the pre-\* parent sink (real Word
          // output nests groups inside {\*\listtable}/{\*\themedata})
          if (groupJustOpened) setSink(SinkSkip)
          groupJustOpened = false
          i += 2
        } else if (d == '\'') {
          if (i + 3 >= n) fail()
          val h = Character.digit(bytes(i + 2) & 0xff, 16)
          val lo = Character.digit(bytes(i + 3) & 0xff, 16)
          if (h < 0 || lo < 0) fail()
          emit(Charset.cp1252Decode(Array((((h << 4) | lo) & 0xff).toByte)))
          groupJustOpened = false
          i += 4
        } else if ((d >= 'a' && d <= 'z') || (d >= 'A' && d <= 'Z')) {
          // control word: letters, optional signed numeric parameter,
          // optional ONE-space delimiter (consumed)
          var j = i + 1
          val w0 = j
          while (j < n && (((bytes(j) & 0xff) >= 'a' && (bytes(j) & 0xff) <= 'z') ||
            ((bytes(j) & 0xff) >= 'A' && (bytes(j) & 0xff) <= 'Z'))) j += 1
          val word = new String(bytes, w0, j - w0, "ISO-8859-1")
          var neg = false
          var hasParam = false
          var param = 0L
          if (j < n && (bytes(j) & 0xff) == '-') { neg = true; j += 1 }
          while (j < n && (bytes(j) & 0xff) >= '0' && (bytes(j) & 0xff) <= '9') {
            hasParam = true
            param = param * 10 + ((bytes(j) & 0xff) - '0')
            if (param > (1L << 31)) fail()
            j += 1
          }
          if (neg && !hasParam) fail()
          if (neg) param = -param
          if (j < n && (bytes(j) & 0xff) == ' ') j += 1 // the delimiter rule
          val opened = groupJustOpened
          groupJustOpened = false
          word match {
            case "par" => if (sink == SinkBody && pendingSkip == 0) endPara()
            case "line" => emit("\n")
            case "tab" => emit("\t")
            case "uc" =>
              if (!hasParam || param < 0 || param > 16) fail()
              setUc(param.toInt)
            case "u" =>
              if (!hasParam) fail()
              val cp = (if (param < 0) param + 65536 else param).toInt
              if (cp < 0 || cp > 0xffff) fail()
              emit(cp.toChar.toString)
              // the emit above consumed one pendingSkip slot if active;
              // this \u then arms its OWN fallback skip
              pendingSkip = uc
            case "bin" =>
              if (!hasParam || param < 0 || param > n - j) fail()
              j += param.toInt // raw bytes: never text
            case "info" => if (opened) setSink(SinkSkip)
            case "title" =>
              // the title destination inside the (skipped) info group
              if (opened) { title.setLength(0); setSink(SinkTitle) }
            case w if opened && SkipDestinations.contains(w) => setSink(SinkSkip)
            case _ => // formatting words: ignored
          }
          i = j
        } else fail() // unknown control symbol
      } else if (c == '\r' || c == '\n') { i += 1 } // raw EOLs: invisible
      else {
        emit(new String(Array(c.toByte), "ISO-8859-1")) // plain text byte
        groupJustOpened = false
        i += 1
      }
    }
    if (stack.nonEmpty) fail() // unbalanced braces
    // trailing bytes after the root close: whitespace only
    while (i < n) {
      val c = bytes(i) & 0xff
      if (c != '\r' && c != '\n' && c != ' ' && c != '\t' && c != 0) fail()
      i += 1
    }
    if (body.nonEmpty) endPara() // an unterminated final paragraph
    val t = title.toString
    paras.result().zipWithIndex.map { case (text, k) =>
      val b = text.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      var cs = 0L
      b.foreach(x => cs = (cs * 31 + (x & 0xff)) % 1000000007L)
      RtfPara(id, k.toLong, t, b.length.toLong, cs)
    }
  }

  /** The operator: RTF documents → the per-paragraph text table; any
    * structural damage quarantines the whole document. Map-only.
    */
  def rtfExtract(docs: DataFrame, idCol: String = "doc_id",
      payloadCol: String = "payload"): Dataset[RtfPara] = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs
      .select(col(idCol).cast("long"), col(payloadCol))
      .as[(Long, Array[Byte])]
      .flatMap { case (id, payload) =>
        try { if (payload == null) Nil else parseRtf(id, payload) }
        catch { case scala.util.control.NonFatal(_) => Nil } // quarantine
      }
  }
}

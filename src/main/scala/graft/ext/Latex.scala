package graft.ext

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** ======== LaTeX text extraction ========
  *
  * The arXiv shelf — millions of scientific papers whose canonical form
  * is TeX source, the highest-value text a training pipeline mines after
  * the crawl itself. This is a from-scratch tokenizer over the TeX
  * surface syntax (nothing here is ZIP or XML), with a tight DOCUMENTED
  * profile of the constructs real papers use:
  *
  *  - '''comments''': `%` to end of line, and — the TeX rule naive
  *    strippers miss — the newline AND the next line's leading
  *    whitespace are consumed too, so a word split across a comment
  *    boundary rejoins WITHOUT a space;
  *  - '''paragraphs''': blank lines break blocks; intra-paragraph
  *    whitespace runs collapse to one space;
  *  - '''escapes & ligatures''': `\% \& \_ \$ \# \{ \}` literals, `\\`
  *    a line break, `~` a non-breaking space, `---`/`--` em/en dashes,
  *    ``` `` ``/`''` curly quotes;
  *  - '''accents''': `\'e \`a \^o \"u \~n \c{c}` (bare or braced base);
  *  - '''math''': `$…$` and `$$…$$` pass through VERBATIM including
  *    delimiters (the common corpus choice: math tokens are content);
  *    an unterminated formula quarantines;
  *  - '''commands''': sectioning (`\section`/`\subsection`/
  *    `\subsubsection`/`\paragraph`) and `\title` capture their braced
  *    argument as their OWN block (kind column); `\item` starts an
  *    `item` block; a discard set (`\label`, `\cite`, `\ref`,
  *    `\usepackage`, `\documentclass`, `\includegraphics`, `\author`,
  *    …) eats its `[opt]`/braced arguments; every other command drops
  *    with its following space (so `\emph{x}` contributes `x` through
  *    the transparent brace group);
  *  - '''environments''': `verbatim` captured raw as its own block
  *    (`%`/`\` inert inside), `figure`/`table` skipped whole,
  *    `itemize`/`enumerate`/`abstract`/unknown transparent.
  *
  * One output row per BLOCK with its kind (title / section / subsection
  * / para / item / verbatim) — the structure a curriculum or
  * section-aware filter keys on. Unbalanced braces, a runaway group, or
  * an unterminated environment quarantines the whole document. Map-only
  * per document, zero shuffles. No reference citation possible (no file
  * surface in the reference) — north-star scope opening the scientific
  * shelf.
  */
object Latex {

  private val words = Array("anchor", "bloom", "cedar", "dune", "ember", "flint", "grove", "harbor")

  private def md5Hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString

  // ------------------------------------------------------------- fixture

  /** Closed-form block model (the oracle replays exactly this): doc `id`
    * carries a title block, `1 + nib(1)%3` sections of `1 + nib(2+k)%3`
    * paragraphs each, two `item` blocks after section 1's paragraphs
    * (when it exists), and a `verbatim` block after section 2's (when it
    * exists). Paragraph `p` of section `k` ends in an arm cycling by
    * `(id+k+p)%8`: emph-wrapped, accented, verbatim math, quote+emdash
    * ligatures, escaped specials, nbsp+endash, a comment-split word, or
    * plain.
    */
  private[ext] def nSections(id: Long): Int = {
    val m = md5Hex(s"latex:$id")
    1 + Integer.parseInt(m.substring(0, 1), 16) % 3
  }

  private[ext] def nParas(id: Long, k: Int): Int = {
    val m = md5Hex(s"latex:$id")
    1 + Integer.parseInt(m.substring(1 + k, 2 + k), 16) % 3
  }

  private[ext] def docTitle(id: Long): String = {
    val m = md5Hex(s"latex:$id")
    s"Latex doc $id: ${words(Integer.parseInt(m.substring(31, 32), 16) % 8)}"
  }

  private[ext] def sectionText(id: Long, k: Int): String = {
    val m = md5Hex(s"latex:$id")
    s"Section $k ${words(Integer.parseInt(m.substring(25 + k, 26 + k), 16) % 8)}"
  }

  private[ext] def itemText(id: Long, j: Int): String = s"Item $j of doc $id"

  private[ext] def verbatimText(id: Long): String = s"x_$id & 100% raw $$stuff"

  private[ext] def paraText(id: Long, k: Int, p: Int): String = {
    val m = md5Hex(s"latex:$id")
    def nib(i: Int) = Integer.parseInt(m.substring(i - 1, i), 16)
    val w1 = words(nib(8 + (3 * k + p) % 12) % 8)
    val w2 = words(nib(20 + (2 * k + p) % 12) % 8)
    val tail = ((id + k + p) % 8) match {
      case 0 => s"$w2 end"
      case 1 => s"café $w2"
      case 2 => "$x^{2}_{" + w2 + "} + 1$"
      case 3 => "\u201c" + w2 + "\u201d\u2014q"
      case 4 => s"5% & ${w2}_x"
      case 5 => "a\u00a0" + w2 + "\u2013c"
      case _ => w2 // arms 6 (comment-split) and 7 (plain) read the same
    }
    s"Para $p of sec $k in doc $id: $w1 $tail"
  }

  /** Serialize the TeX source: a real-paper preamble (discarded
    * commands), `\title` + `\maketitle`, per section a `\section` and
    * its paragraphs (the tail source per arm; paragraphs wrap across
    * lines so whitespace collapse is exercised; a skipped `figure`
    * environment lands after section 0's first paragraph on
    * `id % 4 == 0`), an `itemize` after section 1, a `verbatim` after
    * section 2.
    */
  private[ext] def renderLatex(id: Long): Array[Byte] = {
    val m = md5Hex(s"latex:$id")
    def nib(i: Int) = Integer.parseInt(m.substring(i - 1, i), 16)
    val sb = new StringBuilder
    sb.append("\\documentclass[11pt]{article}\n")
    sb.append("% a generator comment line\n")
    sb.append("\\usepackage{amsmath}\n\\usepackage[utf8]{inputenc}\n")
    sb.append("\\newcommand{\\graft}{unused}\n")
    sb.append(s"\\title{${docTitle(id)}}\n")
    sb.append("\\author{Graft \\& co}\n\\date{}\n")
    sb.append("\\begin{document}\n\\maketitle\n")
    for (k <- 0 until nSections(id)) {
      sb.append(s"\n\\section{${sectionText(id, k)}}\\label{sec:$k}\n")
      for (p <- 0 until nParas(id, k)) {
        val w1 = words(nib(8 + (3 * k + p) % 12) % 8)
        val w2 = words(nib(20 + (2 * k + p) % 12) % 8)
        sb.append(s"\nPara $p of sec $k in\ndoc $id: $w1\n") // wrapped source
        ((id + k + p) % 8) match {
          case 0 => sb.append(s"\\emph{$w2} end\n")
          case 1 => sb.append(s"caf\\'e $w2\n")
          case 2 => sb.append("$x^{2}_{" + w2 + "} + 1$\n")
          case 3 => sb.append("``" + w2 + "''---q\n")
          case 4 => sb.append(s"5\\% \\& $w2\\_x\n")
          case 5 => sb.append(s"a~$w2--c\n")
          case 6 => sb.append(w2.take(3) + "%comment eats the break\n   " + w2.drop(3) + "\n")
          case _ => sb.append(s"$w2\n")
        }
        if (k == 0 && p == 0 && id % 4 == 0)
          sb.append("\\begin{figure}[h]\\centering\\includegraphics[width=5cm]{fig.png}" +
            s"\\caption{skip me $id}\\end{figure}\n")
      }
      if (k == 1) {
        sb.append("\n\\begin{itemize}\n")
        sb.append(s"\\item ${itemText(id, 0)}\n\\item ${itemText(id, 1)}\n")
        sb.append("\\end{itemize}\n")
      }
      if (k == 2) {
        sb.append("\n\\begin{verbatim}\n")
        sb.append(verbatimText(id)).append("\n")
        sb.append("\\end{verbatim}\n")
      }
    }
    sb.append("\n\\bibliographystyle{plain}\n\\bibliography{refs}\n")
    sb.append("\\end{document}\n")
    sb.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8)
  }

  /** Fixture writer: one TeX source per document row. */
  def encodeLatex(docs: DataFrame, idCol: String = "doc_id"): DataFrame =
    Stage.render(docs, idCol, "payload")(renderLatex)

  // --------------------------------------------------------------- parser

  private final class MalformedLatex
      extends RuntimeException("malformed latex", null, false, false)
  private def fail(): Nothing = throw new MalformedLatex

  final case class LatexBlock(doc_id: Long, block_idx: Long, kind: String,
      n_chars: Long, checksum: Long)

  /** Commands whose `[opt]`/braced arguments are metadata, not text —
    * one trailing group eaten (two for the starred pairs below).
    */
  private val DiscardOneArg: Set[String] = Set(
    "label", "cite", "citep", "citet", "ref", "eqref", "pageref", "usepackage",
    "documentclass", "includegraphics", "input", "include", "bibliography",
    "bibliographystyle", "author", "date", "footnote", "url", "href",
    "vspace", "hspace", "pagestyle", "thispagestyle", "caption")
  private val DiscardTwoArgs: Set[String] = Set("newcommand", "renewcommand", "setlength")

  private val Accents: Map[(Char, Char), Char] = Map(
    ('\'', 'e') -> 'é', ('\'', 'a') -> 'á', ('\'', 'o') -> 'ó', ('\'', 'i') -> 'í',
    ('\'', 'u') -> 'ú', ('`', 'a') -> 'à', ('`', 'e') -> 'è', ('^', 'e') -> 'ê',
    ('^', 'o') -> 'ô', ('^', 'a') -> 'â', ('"', 'o') -> 'ö', ('"', 'u') -> 'ü',
    ('"', 'a') -> 'ä', ('"', 'e') -> 'ë', ('~', 'n') -> 'ñ', ('~', 'a') -> 'ã',
    ('c', 'c') -> 'ç')

  private[ext] def parseLatex(id: Long, bytes: Array[Byte]): Seq[LatexBlock] = {
    val src = new String(bytes, java.nio.charset.StandardCharsets.UTF_8)
    val n = src.length
    val blocks = Vector.newBuilder[(String, String)]
    var nBlocks = 0
    val buf = new java.lang.StringBuilder
    var kind = "para"
    var pendingWs = false // a collapsed whitespace run awaiting a char
    // a captured group (section/title argument) redirects flushes
    var groupKind: String = null
    var groupDepth = 0
    var braceDepth = 0
    def append(s: String): Unit = {
      if (pendingWs && buf.length() > 0) buf.append(' ')
      pendingWs = false
      buf.append(s)
    }
    def appendRaw(c: Char): Unit = append(c.toString)
    def flush(): Unit = {
      val t = buf.toString.trim
      buf.setLength(0)
      pendingWs = false
      if (t.nonEmpty) {
        blocks += ((kind, t))
        nBlocks += 1; if (nBlocks > (1 << 20)) fail()
      }
      kind = "para"
    }
    var i = 0
    var guard = 0
    def skipCommentAndJoin(): Unit = {
      while (i < n && src.charAt(i) != '\n') i += 1
      if (i < n) i += 1 // the newline is eaten too
      while (i < n && (src.charAt(i) == ' ' || src.charAt(i) == '\t')) i += 1
    }
    def readGroupRaw(): String = {
      // balanced braces, raw content (discarded args; verbatim-ish)
      while (i < n && Character.isWhitespace(src.charAt(i))) i += 1
      if (i >= n || src.charAt(i) != '{') fail()
      i += 1
      val start = i
      var depth = 1
      while (i < n && depth > 0) {
        val c = src.charAt(i)
        if (c == '\\' && i + 1 < n) i += 1 // escaped anything
        else if (c == '{') depth += 1
        else if (c == '}') depth -= 1
        i += 1
      }
      if (depth != 0) fail()
      src.substring(start, i - 1)
    }
    def skipOptArgs(): Unit =
      while ({
        var j = i
        while (j < n && (src.charAt(j) == ' ' || src.charAt(j) == '\t')) j += 1
        if (j < n && src.charAt(j) == '[') {
          i = j + 1
          while (i < n && src.charAt(i) != ']') i += 1
          if (i >= n) fail()
          i += 1
          true
        } else false
      }) ()
    def envName(): String = readGroupRaw()
    while (i < n) {
      guard += 1; if (guard > (n << 2) + 64) fail() // progress guard
      val c = src.charAt(i)
      if (c == '%') { i += 1; skipCommentAndJoin() }
      else if (c == '\n') {
        // blank line(s) = paragraph break; a single newline is whitespace
        var j = i + 1
        var newlines = 1
        while (j < n && (src.charAt(j) == ' ' || src.charAt(j) == '\t' || src.charAt(j) == '\n')) {
          if (src.charAt(j) == '\n') newlines += 1
          j += 1
        }
        if (newlines >= 2 && groupKind == null) flush() else pendingWs = true
        i = j
      } else if (c == ' ' || c == '\t' || c == '\r') { pendingWs = true; i += 1 }
      else if (c == '~') { append("\u00a0"); i += 1 }
      else if (c == '-') {
        if (src.startsWith("---", i)) { append("\u2014"); i += 3 }
        else if (src.startsWith("--", i)) { append("\u2013"); i += 2 }
        else { appendRaw('-'); i += 1 }
      } else if (c == '`') {
        if (src.startsWith("``", i)) { append("\u201c"); i += 2 }
        else { append("\u2018"); i += 1 }
      } else if (c == '\'') {
        if (src.startsWith("''", i)) { append("\u201d"); i += 2 }
        else { appendRaw('\''); i += 1 }
      } else if (c == '$') {
        // math: verbatim including delimiters; $$…$$ or $…$
        val display = src.startsWith("$$", i)
        val delim = if (display) "$$" else "$"
        val from = i
        i += delim.length
        var end = -1
        while (end < 0 && i < n) {
          val ch = src.charAt(i)
          if (ch == '\\' && i + 1 < n) i += 2
          else if (src.startsWith(delim, i)) { end = i; i += delim.length }
          else i += 1
        }
        if (end < 0) fail() // unterminated formula
        append(src.substring(from, end + delim.length)
          .replaceAll("\\s+", " ")) // math wraps lines too
      } else if (c == '{') { braceDepth += 1; i += 1 }
      else if (c == '}') {
        braceDepth -= 1
        if (braceDepth < 0) fail()
        i += 1
        if (groupKind != null && braceDepth == groupDepth) {
          // the captured section/title argument closes: emit NOW
          val saved = kind
          kind = groupKind
          flush()
          groupKind = null
          kind = "para"
        }
      } else if (c == '\\') {
        if (i + 1 >= n) fail()
        val d = src.charAt(i + 1)
        if (d == '\\') { append("\n"); i += 2 }
        else if ("%&_$#{}".indexOf(d) >= 0) { appendRaw(d); i += 2 }
        else if ("'`^\"~".indexOf(d) >= 0 && i + 2 < n &&
          (Character.isLetter(src.charAt(i + 2)) || src.charAt(i + 2) == '{')) {
          // accent, bare (\'e) or braced (\'{e}) base
          i += 2
          val base =
            if (src.charAt(i) == '{') {
              val g = readGroupRaw()
              if (g.length != 1) fail()
              g.charAt(0)
            } else { val b = src.charAt(i); i += 1; b }
          append(Accents.getOrElse((d, base), fail()).toString)
        } else if (Character.isLetter(d)) {
          var j = i + 1
          while (j < n && Character.isLetter(src.charAt(j))) j += 1
          var word = src.substring(i + 1, j)
          if (j < n && src.charAt(j) == '*') j += 1 // starred forms
          i = j
          word match {
            case "begin" =>
              val env = envName()
              env match {
                case "verbatim" =>
                  flush()
                  val endTag = "\\end{verbatim}"
                  val at = src.indexOf(endTag, i)
                  if (at < 0) fail()
                  var body = src.substring(i, at)
                  if (body.startsWith("\n")) body = body.substring(1)
                  if (body.endsWith("\n")) body = body.substring(0, body.length - 1)
                  kind = "verbatim"
                  append(body)
                  flush()
                  i = at + endTag.length
                case "figure" | "table" | "figure*" | "table*" =>
                  flush()
                  val endTag = s"\\end{$env}"
                  val at = src.indexOf(endTag, i)
                  if (at < 0) fail()
                  i = at + endTag.length
                case "itemize" | "enumerate" => flush()
                case _ => // document/abstract/unknown: transparent
              }
            case "end" =>
              val env = envName()
              if (env == "itemize" || env == "enumerate" || env == "abstract") flush()
              else if (env == "document") { flush(); i = n } // done
            case "section" | "subsection" | "subsubsection" | "paragraph" | "title" =>
              flush()
              skipOptArgs()
              while (i < n && Character.isWhitespace(src.charAt(i))) i += 1
              if (i >= n || src.charAt(i) != '{') fail()
              if (groupKind != null) fail() // nested captures: out of profile
              groupKind = if (word == "title") "title"
                else if (word == "paragraph") "paragraph" else word
              groupDepth = braceDepth
              braceDepth += 1
              i += 1
            case "item" =>
              flush()
              skipOptArgs()
              kind = "item"
            case "c" if i < n && src.charAt(i) == '{' =>
              val g = readGroupRaw()
              if (g.length != 1) fail()
              append(Accents.getOrElse(('c', g.charAt(0)), fail()).toString)
            case w if DiscardTwoArgs.contains(w) =>
              skipOptArgs(); readGroupRaw(); skipOptArgs(); readGroupRaw()
            case w if DiscardOneArg.contains(w) =>
              skipOptArgs()
              // the braced argument is optional for some (e.g. \date{})
              var j2 = i
              while (j2 < n && (src.charAt(j2) == ' ' || src.charAt(j2) == '\t')) j2 += 1
              if (j2 < n && src.charAt(j2) == '{') { i = j2; readGroupRaw() }
            case _ =>
              // unknown command: dropped; TeX eats ONE following space
              if (i < n && src.charAt(i) == ' ') i += 1
          }
        } else fail() // a control symbol outside the profile
      } else { appendRaw(c); i += 1 }
    }
    if (groupKind != null || braceDepth != 0) fail()
    flush()
    blocks.result().zipWithIndex.map { case ((k, text), idx) =>
      val b = text.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      var cs = 0L
      b.foreach(x => cs = (cs * 31 + (x & 0xff)) % 1000000007L)
      LatexBlock(id, idx.toLong, k, b.length.toLong, cs)
    }
  }

  /** The operator: TeX sources → the per-block text table; structural
    * damage quarantines the whole document. Map-only, zero shuffles.
    */
  def latexExtract(docs: DataFrame, idCol: String = "doc_id",
      payloadCol: String = "payload"): Dataset[LatexBlock] = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs
      .select(col(idCol).cast("long"), col(payloadCol))
      .as[(Long, Array[Byte])]
      .flatMap { case (id, payload) =>
        try { if (payload == null) Nil else parseLatex(id, payload) }
        catch { case scala.util.control.NonFatal(_) => Nil } // quarantine
      }
  }
}

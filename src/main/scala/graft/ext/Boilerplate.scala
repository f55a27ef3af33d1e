package graft.ext

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** ======== main-content extraction (boilerplate removal) ========
  *
  * The curation step between raw page parsing ([[Html]]) and the text
  * pipeline: a crawled page is mostly chrome — navigation, related-link
  * boxes, footers — and training on it teaches a model to emit menus.
  * The classical extractors (Readability, jusText, trafilatura) all
  * reduce to the same three signals, which this operator implements in
  * exact integer space so the decision table is bitwise replayable:
  *
  *  1. **Semantic pruning**: text inside `nav`/`aside`/`footer`/`header`
  *     regions is boilerplate wholesale (the HTML5 sectioning rule).
  *  2. **Link density**: a block whose rendered text is ≥ half link
  *     text (`2·n_link_chars ≥ n_chars`) is a link list, not prose.
  *  3. **Length floor**: blocks under 25 rendered chars (headings,
  *     copyright lines, button labels) are not body text.
  *
  * Segmentation is the block-level tag walk every extractor shares:
  * block tags (p, div, h1–h6, li, table rows, sectioning tags) flush
  * the current text run as one block; inline tags (a, span, em, br)
  * do not; script/style are RAWTEXT and contribute nothing; comments
  * and hostile attributes (quoted `>`) are skipped by the same
  * quote-aware tag walk as [[Html.extractText]]; character references
  * decode BEFORE counting (an `&amp;` is one char of text, and an
  * `&nbsp;` collapses like any whitespace). Rendered text is
  * whitespace-collapsed (runs → one space, ends trimmed), counts are
  * chars of the collapsed text, and the per-block checksum is the
  * usual rolling hash over its UTF-8 bytes — so the oracle grades the
  * exact recovered text, not just the labels.
  *
  * Scale shape: map-only per page, zero shuffles — the walker is one
  * pass, O(page bytes), no allocation beyond the block builder. At
  * 100 TB this runs inside the crawl ingest map alongside charset
  * decode and HTML extraction.
  *
  * No reference citation — the reference has no crawl path
  * (src/flinkarima.py is metrics-only); north-star scope.
  */
object Boilerplate {

  // ------------------------------------------------------------- fixture

  private val words = Array("alpha", "bravo", "charlie", "delta", "echo", "foxtrot", "golf", "hotel")

  private def md5Hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString

  /** One deterministic page per doc id: a nav bar, a short h1, 2–4
    * content paragraphs (one optionally carrying an inline link that
    * must NOT flip it to boilerplate, one optionally carrying a
    * character-reference), an optional related-links div (high link
    * density OUTSIDE any semantic tag — the link rule's test), an
    * optional aside of links, and a footer — interleaved with the
    * parser hazards: a script decoy whose string literals look like
    * markup, a comment decoy holding a fake anchor, a quoted-'>'
    * attribute, uppercase tag spellings on every 5th page, `<br/>`,
    * and `&nbsp;`.
    */
  private[ext] def pageFor(id: Long): String = {
    val m = md5Hex(s"bp:$id")
    def nib(i: Int) = Integer.parseInt(m.substring(i - 1, i), 16)
    def w(i: Int) = words(nib(i) % 8)
    val np = 2 + nib(4) % 3
    val sb = new StringBuilder
    val navOpen = if (id % 5 == 0) "<NAV>" else "<nav>"
    val navClose = if (id % 5 == 0) "</NaV>" else "</nav>"
    sb.append(navOpen)
    sb.append("<a href=\"/\">Home</a> <a href=\"/about\">About</a> ")
    sb.append("<a href=\"/news\">News</a> <a href=\"/contact\">Contact</a>")
    sb.append(navClose).append('\n')
    sb.append("<h1>").append(w(1)).append(' ').append(w(2)).append(' ').append(w(3)).append("</h1>\n")
    var j = 0
    while (j < np) {
      val wa = words(nib(5 + j) % 8)
      val wb = words(nib(9 + j) % 8)
      sb.append("<p>")
      if (j == 0)
        sb.append("<script>var a=\"<p>fake</p> <a href='x'>link</a>\";</script>")
      if (j == 1)
        sb.append("<!-- <a href=\"/decoy\">c</a> -->")
      sb.append("id:").append(id).append(":p").append(j).append(' ')
      sb.append(wa).append(' ')
      if (j == 0 && id % 3 == 0)
        sb.append("<a href=\"/inline\">").append(wb).append("</a>")
      else sb.append(wb)
      sb.append(' ').append(wa).append(' ').append(wb)
      sb.append(' ').append(wa).append(' ').append(wb)
      if (j == 0 && id % 4 == 1) sb.append(" A&amp;B")
      sb.append("</p>\n")
      j += 1
    }
    if (nib(21) % 2 == 0) {
      sb.append("<div class=\"rel>ated\">More: ")
      sb.append("<a href=\"/r1\">").append(w(22)).append("</a> ")
      sb.append("<a href=\"/r2\">").append(w(23)).append("</a> ")
      sb.append("<a href=\"/r3\">").append(w(24)).append("</a></div>\n")
    }
    if (nib(17) % 2 == 0) {
      sb.append("<aside><a href=\"/s1\">").append(w(18)).append("</a> ")
      sb.append("<a href=\"/s2\">").append(w(19)).append("</a> ")
      sb.append("<a href=\"/s3\">").append(w(20)).append("</a></aside>\n")
    }
    sb.append("<footer>(c) 2026 example.com<br/> All&nbsp;rights reserved</footer>\n")
    sb.toString
  }

  def encodePages(docs: DataFrame, idCol: String = "doc_id"): DataFrame =
    Stage.render(docs, idCol, "html")(pageFor)

  // ------------------------------------------------------------- walker

  private val blockTags: Set[String] = Set(
    "p", "div", "h1", "h2", "h3", "h4", "h5", "h6", "ul", "ol", "li",
    "nav", "aside", "footer", "header", "section", "article", "main",
    "table", "tr", "td", "th", "blockquote", "pre")
  private val semanticBoiler: Set[String] = Set("nav", "aside", "footer", "header")

  final case class Block(doc_id: Long, block_id: Long, n_chars: Long,
      n_link_chars: Long, label: String, checksum: Long)

  /** Segment one page into labeled blocks (see object scaladoc for the
    * segmentation and label rules).
    */
  private[ext] def blocksOf(id: Long, html: String): Seq[Block] = {
    // U+00A0 (the decoded &nbsp;) is not Java whitespace but IS layout
    // whitespace to every extractor - normalize it with the rest
    def isWs(c: Char) = Character.isWhitespace(c) || c == '\u00a0' 
    val out = Seq.newBuilder[Block]
    val text = new StringBuilder
    var linkChars = 0L
    var semDepth = 0 // nav/aside/footer/header nesting
    var linkDepth = 0
    var blockId = 0L

    def flush(): Unit = {
      // collapse whitespace runs to single spaces, trim ends
      val collapsed = {
        val b = new StringBuilder(text.length)
        var pendingSpace = false
        var i = 0
        while (i < text.length) {
          val c = text.charAt(i)
          if (isWs(c)) { if (b.nonEmpty) pendingSpace = true }
          else {
            if (pendingSpace) { b.append(' '); pendingSpace = false }
            b.append(c)
          }
          i += 1
        }
        b.toString
      }
      text.setLength(0)
      val lc = linkChars
      linkChars = 0L
      if (collapsed.nonEmpty) {
        val bytes = collapsed.getBytes(java.nio.charset.StandardCharsets.UTF_8)
        var c = 0L
        bytes.foreach(b => c = (c * 31 + (b & 0xff)) % 1000000007L)
        val n = collapsed.length.toLong
        val label =
          if (semDepth > 0) "boilerplate"
          else if (2L * lc >= n) "boilerplate"
          else if (n < 25L) "boilerplate"
          else "content"
        out += Block(id, blockId, n, lc, label, c)
        blockId += 1L
      }
    }

    var p = 0
    val n = html.length
    while (p < n) {
      val c = html.charAt(p)
      if (c == '<') {
        if (html.startsWith("<!--", p)) {
          val end = html.indexOf("-->", p + 4)
          p = if (end < 0) n else end + 3
        } else {
          val isClose = p + 1 < n && html.charAt(p + 1) == '/'
          val name = Html.tagName(html, if (isClose) p + 1 else p)
          // walk the tag respecting quoted attribute values
          var q = p + 1
          var quote: Char = 0
          var closed = -1
          while (closed < 0 && q < n) {
            val ch = html.charAt(q)
            if (quote != 0) { if (ch == quote) quote = 0 }
            else if (ch == '"' || ch == '\'') quote = ch
            else if (ch == '>') closed = q
            q += 1
          }
          val selfClosed = closed >= 0 && html.charAt(closed - 1) == '/'
          p = if (closed < 0) n else closed + 1
          if (blockTags.contains(name)) {
            flush() // the run before this boundary belongs to the old region
            if (semanticBoiler.contains(name) && !selfClosed) {
              if (isClose) { if (semDepth > 0) semDepth -= 1 }
              else semDepth += 1
            }
          } else if (name == "a" && !selfClosed) {
            if (isClose) { if (linkDepth > 0) linkDepth -= 1 }
            else linkDepth += 1
          } else if (closed >= 0 && !isClose && !selfClosed &&
              (name == "script" || name == "style")) {
            // RAWTEXT: content until the matching close tag is not markup
            var r = p
            while (r < n && !Html.closes(html, r, name)) r += 1
            if (r >= n) p = n
            else {
              val gt = html.indexOf('>', r)
              p = if (gt < 0) n else gt + 1
            }
          }
        }
      } else if (c == '&') {
        val (decoded, next) = Html.entity(html, p)
        text.append(decoded)
        if (linkDepth > 0) decoded.foreach(ch => if (!isWs(ch)) linkChars += 1)
        p = next
      } else {
        text.append(c)
        if (linkDepth > 0 && !isWs(c)) linkChars += 1
        p += 1
      }
    }
    flush()
    out.result()
  }

  /** The operator: pages → labeled blocks. Map-only, zero shuffles. */
  def contentBlocks(pages: DataFrame, idCol: String = "doc_id",
      htmlCol: String = "html"): Dataset[Block] = {
    val spark = pages.sparkSession
    import spark.implicits._
    pages
      .select(col(idCol).cast("long"), col(htmlCol).cast("string"))
      .as[(Long, String)]
      .flatMap { case (id, html) => if (html == null) Nil else blocksOf(id, html) }
  }
}

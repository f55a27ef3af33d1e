package graft.ext

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** SVG text extraction — vector images are the web's OTHER image format,
  * and unlike raster formats their text is genuine markup: labels,
  * captions, chart axes. A crawl-scale pipeline extracts that text (it
  * indexes, it trains, it carries PII) exactly like HTML text.
  *
  * Rides the shared attribute-capturing XML walker
  * ([[Sitemaps.parseLeaves]]) in the `allowMixed` mode built for ODT —
  * SVG `<text>` content is inherently mixed (`pre <tspan>mid</tspan>
  * post`), and the assembly must preserve document order across nested
  * `tspan` runs. Extracted per `<text>` element: the `x`/`y` anchor
  * (integers in the fixture profile; a non-integer coordinate
  * quarantines rather than rounding), the assembled text (entity
  * decoding rides the walker), and the standard UTF-8 length/rolling
  * checksum. The document's shape census (`rect`/`circle`/`line`
  * element count) rides every row — the signal a figure-vs-diagram
  * classifier wants next to the text.
  *
  * A document whose root is not `svg`, nested `<text>` elements, or a
  * malformed coordinate quarantines the whole document.
  *
  * Scale shape: map-only per document, zero shuffles. No reference
  * citation possible — the reference (`src/flinkarima.py:379-416`) has
  * no file surface; north-star scope beside [[Html]] and the raster
  * [[Multimodal]] ladder.
  */
object Svg {

  private def md5Hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString

  private val words = Array("anchor", "bloom", "cedar", "dune", "ember", "flint", "grove", "harbor")
  private val shapeTags = Array("rect", "circle", "line")

  // ------------------------------------------------------------- fixture

  private[ext] def nTexts(id: Long): Int = {
    val m = md5Hex(s"svg:$id")
    1 + Integer.parseInt(m.substring(0, 1), 16) % 3
  }

  private[ext] def nShapes(id: Long): Int = {
    val m = md5Hex(s"svg:$id")
    Integer.parseInt(m.substring(1, 2), 16) % 4
  }

  private[ext] def anchorOf(id: Long, t: Int): (Int, Int) = {
    val m = md5Hex(s"svg:$id")
    def nib(i: Int) = Integer.parseInt(m.substring(i - 1, i), 16)
    (10 + nib(3 + t) * 7, 20 + nib(6 + t) * 11)
  }

  /** The assembled text the reader must recover across the tspan split. */
  private[ext] def textOf(id: Long, t: Int): String = {
    val m = md5Hex(s"svg:$id")
    def nib(i: Int) = Integer.parseInt(m.substring(i - 1, i), 16)
    val hazard = ((id + t) % 3) match {
      case 0 => " <&>" // entity-encoded on the wire
      case 1 => " \u00e9"
      case _ => ""
    }
    s"label $t of svg $id: " + words(nib(9 + t) % 8) +
      " mid-" + words(nib(12 + t) % 8) + " post" + hazard
  }

  private def xmlEscape(s: String): String =
    s.flatMap {
      case '<' => "&lt;"
      case '>' => "&gt;"
      case '&' => "&amp;"
      case '"' => "&quot;"
      case c => c.toString
    }

  // document-level metadata (nibbles 15/16 — the only two the text and
  // shape recipes leave free)
  private[ext] def dimsOf(id: Long): (Int, Int) = {
    val m = md5Hex(s"svg:$id")
    def nib(i: Int) = Integer.parseInt(m.substring(i - 1, i), 16)
    (64 * (1 + nib(15)), 48 * (1 + nib(16)))
  }

  private[ext] def descOf(id: Long): String = {
    val m = md5Hex(s"svg:$id")
    def nib(i: Int) = Integer.parseInt(m.substring(i - 1, i), 16)
    if (id % 3 != 1) s"vector ${words(nib(15) % 8)} & co" else ""
  }

  private[ext] def renderSvg(id: Long): String = {
    val sb = new StringBuilder
    val (w, h) = dimsOf(id)
    // half the corpus carries a viewBox with a non-zero origin — the
    // attribute alt-text/figure-curation filters actually read (aspect
    // ratio survives user-unit scaling only through the viewBox)
    val vb = if (id % 2 == 0) s""" viewBox="${id % 7} ${id % 5} $w $h"""" else ""
    sb.append("""<?xml version="1.0" encoding="UTF-8"?>""").append('\n')
    sb.append(s"""<svg xmlns="http://www.w3.org/2000/svg" width="$w" height="$h"$vb>""").append('\n')
    sb.append(s"  <title>figure $id</title>\n")
    val desc = descOf(id)
    if (desc.nonEmpty) sb.append(s"  <desc>${xmlEscape(desc)}</desc>\n")
    for (s0 <- 0 until nShapes(id)) {
      val tag = shapeTags(((id + s0) % 3).toInt)
      tag match {
        case "rect" => sb.append(s"""  <rect x="$s0" y="1" width="10" height="5" fill="#aabbcc"/>\n""")
        case "circle" => sb.append(s"""  <circle cx="$s0" cy="2" r="3"/>\n""")
        case _ => sb.append(s"""  <line x1="0" y1="$s0" x2="9" y2="9"/>\n""")
      }
    }
    for (t <- 0 until nTexts(id)) {
      val (x, y) = anchorOf(id, t)
      val full = textOf(id, t)
      // split the text around the "mid-" word: prefix text, a tspan run,
      // and a tail — mixed content in document order
      val at = full.indexOf(" mid-")
      val pre = full.substring(0, at + 1) // keep the leading space
      val restAt = full.indexOf(" post", at)
      val mid = full.substring(at + 1, restAt)
      val tail = full.substring(restAt)
      sb.append(s"""  <text x="$x" y="$y">${xmlEscape(pre)}<tspan font-weight="bold">""")
        .append(xmlEscape(mid)).append("</tspan>").append(xmlEscape(tail)).append("</text>\n")
    }
    sb.append("</svg>\n")
    sb.toString
  }

  /** Fixture writer: one SVG per document row. */
  def encodeSvg(docs: DataFrame, idCol: String = "doc_id"): DataFrame =
    Stage.render(docs, idCol, "svg_text")(renderSvg)

  // --------------------------------------------------------------- parser

  private final class MalformedSvg
      extends RuntimeException("malformed svg", null, false, false)
  private def fail(): Nothing = throw new MalformedSvg

  final case class SvgText(
      doc_id: Long, text_idx: Long, x: Long, y: Long, n_shapes: Long,
      n_chars: Long, checksum: Long)

  private def intAttr(v: String): Long = {
    if (v.isEmpty || v.length > 9 || !v.forall(c => c >= '0' && c <= '9')) fail()
    v.toLong
  }

  private[ext] def parseSvg(id: Long, xml: String): Seq[SvgText] = {
    val leaves =
      try Sitemaps.parseLeaves(Option(xml).getOrElse(""), withAttrs = true,
        withMarkers = true, withRawText = true, allowMixed = true)
      catch { case scala.util.control.NonFatal(_) => fail() }
    if (!leaves.headOption.map(_._1).exists(_.startsWith("svg@"))) fail()
    var shapes = 0L
    final case class Acc(var x: Long, var y: Long, val sb: StringBuilder)
    val texts = Vector.newBuilder[Acc]
    var cur: Acc = null
    def core(path: String): String = path.indexOf('@') match {
      case -1 => path
      case at => path.substring(0, at)
    }
    // the walker emits no close markers: a new `svg/text@<` marker simply
    // starts the next accumulator, and leaves route by their full path —
    // so adjacent text elements need no explicit close
    leaves.foreach { case (path, v) =>
      val c = core(path)
      if (path.endsWith("@<")) {
        val tag = c.substring(c.lastIndexOf('/') + 1)
        if (tag == "text") {
          if (c != "svg/text") fail() // nested or misplaced text element
          cur = Acc(-1L, -1L, new StringBuilder)
          texts += cur
        } else if (c.startsWith("svg/text/")) {
          if (c != "svg/text/tspan") fail() // only tspan runs inside text
        } else if (shapeTags.contains(tag) && c == s"svg/$tag") shapes += 1
      } else if (c == "svg/text" && path.endsWith("@x")) {
        if (cur == null) fail(); cur.x = intAttr(v)
      } else if (c == "svg/text" && path.endsWith("@y")) {
        if (cur == null) fail(); cur.y = intAttr(v)
      } else if (path.indexOf('@') < 0 && (c == "svg/text" || c == "svg/text/tspan")) {
        if (cur == null) fail()
        cur.sb.append(v)
      }
    }
    texts.result().zipWithIndex.map { case (acc, i) =>
      if (acc.x < 0 || acc.y < 0) fail() // missing anchor
      val b = acc.sb.toString.getBytes("UTF-8")
      var cs = 0L
      b.foreach(x => cs = (cs * 31 + (x & 0xff)) % 1000000007L)
      SvgText(id, i.toLong, acc.x, acc.y, shapes, b.length.toLong, cs)
    }
  }

  private[ext] def parseSvgSafe(id: Long, xml: String): Seq[SvgText] =
    try parseSvg(id, xml)
    catch { case _: MalformedSvg => Seq.empty }

  /** `svg_text`: every text element of every vector image. Map-only. */
  def svgText(docs: DataFrame, idCol: String = "doc_id",
              textCol: String = "svg_text"): Dataset[SvgText] = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs
      .filter(col(idCol).isNotNull)
      .select(col(idCol).cast("long"), col(textCol))
      .as[(Long, String)]
      .flatMap { case (id, xml) => parseSvgSafe(id, xml) }
  }

  // ------------------------------------------------------------- metadata

  /** Document-level metadata: dimensions, viewBox, and the
    * `<title>`/`<desc>` accessibility text — the fields an image-corpus
    * curation filter reads (alt-text mining keys on title/desc; aspect
    * and origin come from the viewBox, which survives user-unit scaling
    * where width/height do not). Absent viewBox → -1 sentinels (the
    * attribute is genuinely optional); absent desc → empty string.
    */
  final case class SvgMeta(
      doc_id: Long, width: Long, height: Long,
      vb_minx: Long, vb_miny: Long, vb_w: Long, vb_h: Long,
      title: String, desc_text: String, n_texts: Long, n_shapes: Long)

  /** `viewBox` value: exactly four non-negative integer tokens split on
    * whitespace (the fixture profile — real-world floats/negatives
    * quarantine rather than round, the [[Gpx]] convention).
    */
  private def parseViewBox(v: String): (Long, Long, Long, Long) = {
    val toks = v.trim.split("[ \\t]+")
    if (toks.length != 4) fail()
    val n = toks.map(intAttr)
    (n(0), n(1), n(2), n(3))
  }

  private[ext] def parseSvgMeta(id: Long, xml: String): SvgMeta = {
    val leaves =
      try Sitemaps.parseLeaves(Option(xml).getOrElse(""), withAttrs = true,
        withMarkers = true, withRawText = true, allowMixed = true)
      catch { case scala.util.control.NonFatal(_) => fail() }
    if (!leaves.headOption.map(_._1).exists(_.startsWith("svg@"))) fail()
    var width = -1L; var height = -1L
    var vb: (Long, Long, Long, Long) = (-1L, -1L, -1L, -1L)
    var title: String = null; var desc: String = null
    var nTexts = 0L; var nShapes = 0L
    leaves.foreach { case (path, v) =>
      path match {
        case "svg@width" => width = intAttr(v)
        case "svg@height" => height = intAttr(v)
        case "svg@viewBox" => vb = parseViewBox(v)
        case "svg/title" => if (title != null) fail() else title = v
        case "svg/desc" => if (desc != null) fail() else desc = v
        case "svg/text@<" => nTexts += 1
        case p if p.endsWith("@<") =>
          val c = p.substring(0, p.length - 2)
          val tag = c.substring(c.lastIndexOf('/') + 1)
          if (shapeTags.contains(tag) && c == s"svg/$tag") nShapes += 1
        case _ => ()
      }
    }
    if (width < 0 || height < 0 || title == null) fail()
    SvgMeta(id, width, height, vb._1, vb._2, vb._3, vb._4,
      title, if (desc == null) "" else desc, nTexts, nShapes)
  }

  private[ext] def parseSvgMetaSafe(id: Long, xml: String): Seq[SvgMeta] =
    try Seq(parseSvgMeta(id, xml))
    catch { case _: MalformedSvg => Seq.empty }

  /** `svg_meta`: one metadata row per vector image. Map-only. */
  def svgMeta(docs: DataFrame, idCol: String = "doc_id",
              textCol: String = "svg_text"): Dataset[SvgMeta] = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs
      .filter(col(idCol).isNotNull)
      .select(col(idCol).cast("long"), col(textCol))
      .as[(Long, String)]
      .flatMap { case (id, xml) => parseSvgMetaSafe(id, xml) }
  }
}

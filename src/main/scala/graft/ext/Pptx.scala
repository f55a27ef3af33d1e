package graft.ext

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** ======== PPTX (OOXML PresentationML) ingestion ========
  *
  * The slide-deck third of the OOXML shelf next to [[Docx]]: an OPC
  * package whose main part (`ppt/presentation.xml`) does NOT contain the
  * text — it carries `p:sldIdLst`, the ordered list of slide
  * RELATIONSHIP ids, resolved through the part's own relationship file
  * (`ppt/_rels/presentation.xml.rels`) to the slide parts, each a
  * DrawingML tree whose text sits in `a:t` runs under `a:p` paragraphs.
  * That two-file indirection (order from `sldIdLst`, targets from the
  * rels, the EPUB spine pattern one level deeper) is the semantic this
  * module grades; everything else is the established composition — the
  * strict ZIP walk, [[Epub.groupAttrs]] relationship grouping, and the
  * raw-text XML walker (`a:t` content is VERBATIM in DrawingML — no
  * xml:space dance, so a trim anywhere is a wrong answer).
  *
  * Text model: per slide, `a:p` elements open paragraphs (matched by
  * path suffix, so shapes/tables/grouped shapes all surface), `a:t`
  * leaves append verbatim, `a:br` appends a newline; a slide's text is
  * its paragraphs joined with newlines. One output row per slide.
  *
  * OPC strictness mirrors [[Docx]]: `[Content_Types].xml` must carry the
  * PresentationML main Override for the resolved part; exactly one
  * `officeDocument` relationship; every `sldId` must resolve through the
  * rels to a part present in the archive (dangling r:id, `..` traversal,
  * or XML damage quarantines the whole deck).
  *
  * Scale shape: map-only per document, zero shuffles; entry sizes capped
  * by the ZIP plane. No reference citation possible (no file surface in
  * the reference) — north-star scope next to [[Docx]]/[[Odt]].
  */
object Pptx {

  private val words = Array("anchor", "bloom", "cedar", "dune", "ember", "flint", "grove", "harbor")

  private def md5Hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString

  private val CtPresentation =
    "application/vnd.openxmlformats-officedocument.presentationml.presentation.main+xml"
  private val CtSlide =
    "application/vnd.openxmlformats-officedocument.presentationml.slide+xml"
  private val RelOfficeDocument =
    "http://schemas.openxmlformats.org/officeDocument/2006/relationships/officeDocument"
  private val RelSlide =
    "http://schemas.openxmlformats.org/officeDocument/2006/relationships/slide"
  private val RelCoreProps =
    "http://schemas.openxmlformats.org/package/2006/relationships/metadata/core-properties"

  // ------------------------------------------------------------- fixture

  /** Closed-form text model (the oracle replays exactly this): deck `id`
    * carries `1 + nib(1)%4` slides; slide `j` has `1 + nib(2+j)%3`
    * paragraphs; paragraph `p` is fixture words with a hazard suffix
    * cycling by `(id+j+p)%5`, an `a:br` between the words on
    * `(id+j+p)%4 == 3`, and a TWO-RUN split (the second run LEADING with
    * a space `a:t` preserves verbatim) on `(id+j+p)%4 == 1`. A slide's
    * text is its paragraphs joined with newlines.
    */
  private[ext] def nSlides(id: Long): Int = {
    val m = md5Hex(s"pptx:$id")
    1 + Integer.parseInt(m.substring(0, 1), 16) % 4
  }

  private[ext] def nParas(id: Long, j: Int): Int = {
    val m = md5Hex(s"pptx:$id")
    1 + Integer.parseInt(m.substring(1 + j, 2 + j), 16) % 3
  }

  private[ext] def deckTitle(id: Long): String = {
    val m = md5Hex(s"pptx:$id")
    s"Deck $id: ${words(Integer.parseInt(m.substring(31, 32), 16) % 8)}"
  }

  private[ext] def paraText(id: Long, j: Int, p: Int): String = {
    val m = md5Hex(s"pptx:$id")
    def nib(i: Int) = Integer.parseInt(m.substring(i - 1, i), 16)
    val w1 = words(nib(8 + (3 * j + p) % 12) % 8)
    val w2 = words(nib(20 + (2 * j + p) % 12) % 8)
    val suffix = ((id + j + p) % 5) match {
      case 0 => " & x"
      case 2 => " <t>"
      case 4 => " é"
      case _ => ""
    }
    val sep = if ((id + j + p) % 4 == 3) "\n" else " " // the a:br arm
    s"Slide $j para $p of deck $id: $w1$sep$w2$suffix"
  }

  private[ext] def slideText(id: Long, j: Int): String =
    (0 until nParas(id, j)).map(p => paraText(id, j, p)).mkString("\n")

  /** Serialize slide `j`: a `p:sp` shape per paragraph-pair boundary is
    * overkill — one shape with all `a:p` paragraphs matches what real
    * decks' body placeholders hold. Run-split and `a:br` arms per the
    * model; text rides [[Sitemaps.esc]].
    */
  private[ext] def renderSlideXml(id: Long, j: Int): String = {
    val sb = new StringBuilder
    sb.append("<?xml version=\"1.0\" encoding=\"UTF-8\" standalone=\"yes\"?>\n")
    sb.append("<p:sld xmlns:p=\"http://schemas.openxmlformats.org/presentationml/2006/main\"")
    sb.append(" xmlns:a=\"http://schemas.openxmlformats.org/drawingml/2006/main\">\n")
    sb.append("  <p:cSld><p:spTree>\n")
    sb.append("    <p:sp><p:txBody>\n")
    for (p <- 0 until nParas(id, j)) {
      sb.append("      <a:p><a:pPr lvl=\"0\"/>")
      val text = paraText(id, j, p)
      val arm = (id + j + p) % 4
      if (arm == 3) {
        // the a:br arm: the model's newline sits between the words
        val at = text.indexOf('\n')
        sb.append("<a:r><a:t>").append(Sitemaps.esc(text.substring(0, at))).append("</a:t></a:r>")
        sb.append("<a:br/>")
        sb.append("<a:r><a:t>").append(Sitemaps.esc(text.substring(at + 1))).append("</a:t></a:r>")
      } else if (arm == 1) {
        // two runs, split INSIDE the text at the last space — the second
        // run's leading space must survive (a:t is verbatim)
        val at = text.lastIndexOf(' ')
        sb.append("<a:r><a:rPr b=\"1\"/><a:t>").append(Sitemaps.esc(text.substring(0, at)))
          .append("</a:t></a:r>")
        sb.append("<a:r><a:t>").append(Sitemaps.esc(text.substring(at))).append("</a:t></a:r>")
      } else {
        sb.append("<a:r><a:t>").append(Sitemaps.esc(text)).append("</a:t></a:r>")
      }
      sb.append("</a:p>\n")
    }
    sb.append("    </p:txBody></p:sp>\n")
    sb.append("  </p:spTree></p:cSld>\n")
    sb.append("</p:sld>\n")
    sb.toString
  }

  /** One complete PPTX for deck `id`: Content_Types (presentation +
    * per-slide Overrides), package rels, `ppt/presentation.xml` whose
    * `sldIdLst` orders slides by r:id, the presentation rels (REVERSED
    * on `id % 3 == 0`, with slide FILE numbers offset from their order —
    * slide k is stored as `slides/slide<nSlides-k>.xml` — so resolving
    * by position or by filename instead of by r:id fails the oracle),
    * the slide parts, and `docProps/core.xml` (absent on `id % 7 == 2`).
    */
  private[ext] def renderPptx(id: Long): Array[Byte] = {
    val utf8 = java.nio.charset.StandardCharsets.UTF_8
    val ns = nSlides(id)
    val withCore = id % 7 != 2
    // slide ORDER j -> stored file number (reversed numbering: the
    // filename carries no order information, only the rels do)
    def fileNum(j: Int): Int = ns - j
    val contentTypes = {
      val slideOverrides = (0 until ns).map(j =>
        s"""  <Override PartName="/ppt/slides/slide${fileNum(j)}.xml" ContentType="$CtSlide"/>""")
      val core = if (withCore)
        Seq("""  <Override PartName="/docProps/core.xml" ContentType="application/vnd.openxmlformats-package.core-properties+xml"/>""")
      else Nil
      "<?xml version=\"1.0\" encoding=\"UTF-8\" standalone=\"yes\"?>\n" +
        "<Types xmlns=\"http://schemas.openxmlformats.org/package/2006/content-types\">\n" +
        "  <Default Extension=\"rels\" ContentType=\"application/vnd.openxmlformats-package.relationships+xml\"/>\n" +
        "  <Default Extension=\"xml\" ContentType=\"application/xml\"/>\n" +
        (Seq(s"""  <Override PartName="/ppt/presentation.xml" ContentType="$CtPresentation"/>""") ++
          slideOverrides ++ core).mkString("\n") + "\n</Types>\n"
    }
    val pkgRels =
      "<?xml version=\"1.0\" encoding=\"UTF-8\" standalone=\"yes\"?>\n" +
        "<Relationships xmlns=\"http://schemas.openxmlformats.org/package/2006/relationships\">\n" +
        s"""  <Relationship Id="rId1" Type="$RelOfficeDocument" Target="ppt/presentation.xml"/>""" + "\n" +
        (if (withCore)
          s"""  <Relationship Id="rId2" Type="$RelCoreProps" Target="docProps/core.xml"/>""" + "\n"
        else "") +
        "</Relationships>\n"
    val presentation =
      "<?xml version=\"1.0\" encoding=\"UTF-8\" standalone=\"yes\"?>\n" +
        "<p:presentation xmlns:p=\"http://schemas.openxmlformats.org/presentationml/2006/main\"" +
        " xmlns:r=\"http://schemas.openxmlformats.org/officeDocument/2006/relationships\">\n" +
        "  <p:sldIdLst>\n" +
        (0 until ns).map(j =>
          s"""    <p:sldId id="${256 + j}" r:id="rSlide${100 + j}"/>""").mkString("\n") +
        "\n  </p:sldIdLst>\n</p:presentation>\n"
    val presRels = {
      val items = (0 until ns).map(j =>
        s"""  <Relationship Id="rSlide${100 + j}" Type="$RelSlide" Target="slides/slide${fileNum(j)}.xml"/>""")
      val ordered = if (id % 3 == 0) items.reverse else items
      "<?xml version=\"1.0\" encoding=\"UTF-8\" standalone=\"yes\"?>\n" +
        "<Relationships xmlns=\"http://schemas.openxmlformats.org/package/2006/relationships\">\n" +
        ordered.mkString("\n") + "\n</Relationships>\n"
    }
    val core =
      "<?xml version=\"1.0\" encoding=\"UTF-8\" standalone=\"yes\"?>\n" +
        "<cp:coreProperties xmlns:cp=\"http://schemas.openxmlformats.org/package/2006/metadata/core-properties\"" +
        " xmlns:dc=\"http://purl.org/dc/elements/1.1/\">\n" +
        s"  <dc:title>${Sitemaps.esc(deckTitle(id))}</dc:title>\n" +
        "</cp:coreProperties>\n"
    val parts = Seq(
      ("[Content_Types].xml", contentTypes),
      ("_rels/.rels", pkgRels),
      ("ppt/presentation.xml", presentation),
      ("ppt/_rels/presentation.xml.rels", presRels)) ++
      (0 until ns).map(j => (s"ppt/slides/slide${fileNum(j)}.xml", renderSlideXml(id, j))) ++
      (if (withCore) Seq(("docProps/core.xml", core)) else Nil)
    Zip.buildZip(parts.zipWithIndex.map { case ((name, body), ord) =>
      (name, body.getBytes(utf8), if ((id + ord) % 2 == 1) 8 else 0)
    })
  }

  /** Fixture writer: one PPTX per document row. */
  def encodePptx(docs: DataFrame, idCol: String = "doc_id"): DataFrame =
    Stage.render(docs, idCol, "payload")(renderPptx)

  // --------------------------------------------------------------- reader

  private final class MalformedPptx
      extends RuntimeException("malformed pptx", null, false, false)
  private def fail(): Nothing = throw new MalformedPptx

  final case class PptxSlide(doc_id: Long, slide_idx: Long, title: String,
      n_chars: Long, checksum: Long)

  /** Assemble one slide's text from its DrawingML leaf walk: `a:p`
    * markers open paragraphs (joined with newlines), `a:t` leaves append
    * VERBATIM, `a:br` markers append a newline. Matching by path suffix —
    * shapes, tables and grouped shapes all surface the same way.
    */
  private[ext] def slideTextOf(slideXml: String): String = {
    val leaves = Sitemaps.parseLeaves(slideXml, withAttrs = true,
      withMarkers = true, withRawText = true)
    if (!leaves.headOption.map(_._1).exists(_.startsWith("p:sld"))) fail()
    val paras = Vector.newBuilder[String]
    var cur: StringBuilder = null
    var n = 0
    def close(): Unit = if (cur != null) { paras += cur.toString; cur = null }
    leaves.foreach { case (path, v) =>
      if (path.endsWith("/a:p@<")) {
        close()
        cur = new StringBuilder
        n += 1; if (n > (1 << 20)) fail()
      } else if (cur != null) {
        if (path.endsWith("/a:t")) cur.append(v) // verbatim: no trim, ever
        else if (path.endsWith("/a:br@<")) cur.append('\n')
      }
    }
    close()
    paras.result().mkString("\n")
  }

  /** Parse one deck: strict unzip → package rels → Content_Types check →
    * `sldIdLst` order resolved through the presentation's OWN rels →
    * per-slide text. Title off core properties when related.
    */
  private[ext] def parsePptx(id: Long, bytes: Array[Byte],
      maxEntryBytes: Int): Seq[PptxSlide] = {
    val utf8 = java.nio.charset.StandardCharsets.UTF_8
    val files = Zip.parseArchiveFiles(bytes, maxEntryBytes)
    if (files.isEmpty) fail()
    val byName = files.map(f => f._1 -> f._2).toMap
    if (byName.size != files.size) fail()

    val pkgRelsXml = new String(byName.getOrElse("_rels/.rels", fail()), utf8)
    val pkgRels = Epub.groupAttrs(
      Sitemaps.parseLeaves(pkgRelsXml, withAttrs = true, withMarkers = true),
      "Relationships/Relationship")
    def targetsOf(rels: Vector[Map[String, String]], tpe: String): Seq[String] =
      rels.filter(_.get("Type").contains(tpe))
        .map(_.getOrElse("Target", fail()))
        .map(t => if (t.startsWith("/")) t.substring(1) else t)
    val mainTargets = targetsOf(pkgRels, RelOfficeDocument)
    if (mainTargets.size != 1) fail()
    val presPath = mainTargets.head
    if (presPath.contains("..")) fail()

    val ctXml = new String(byName.getOrElse("[Content_Types].xml", fail()), utf8)
    val overrides = Epub.groupAttrs(
      Sitemaps.parseLeaves(ctXml, withAttrs = true, withMarkers = true), "Types/Override")
    if (!overrides.exists(o => o.get("PartName").contains("/" + presPath) &&
      o.get("ContentType").contains(CtPresentation))) fail()

    val title = targetsOf(pkgRels, RelCoreProps) match {
      case Seq() => ""
      case Seq(corePath) =>
        if (corePath.contains("..")) fail()
        Sitemaps.parseLeaves(new String(byName.getOrElse(corePath, fail()), utf8))
          .collectFirst { case ("cp:coreProperties/dc:title", t) => t }.getOrElse("")
      case _ => fail()
    }

    // slide ORDER from sldIdLst; targets from the presentation part's rels
    val presXml = new String(byName.getOrElse(presPath, fail()), utf8)
    val presLeaves = Sitemaps.parseLeaves(presXml, withAttrs = true, withMarkers = true)
    val sldIds = Epub.groupAttrs(presLeaves, "p:presentation/p:sldIdLst/p:sldId")
      .map(_.getOrElse("r:id", fail()))
    val presDir = presPath.lastIndexOf('/') match {
      case -1 => ""
      case i => presPath.substring(0, i + 1)
    }
    val presName = presPath.substring(presDir.length)
    val presRelsPath = presDir + "_rels/" + presName + ".rels"
    val presRelsXml = new String(byName.getOrElse(presRelsPath, fail()), utf8)
    val presRels = Epub.groupAttrs(
      Sitemaps.parseLeaves(presRelsXml, withAttrs = true, withMarkers = true),
      "Relationships/Relationship")
    val targetById = presRels
      .filter(_.get("Type").contains(RelSlide))
      .map(r => (r.getOrElse("Id", fail()), r.getOrElse("Target", fail())))
      .toMap
    if (targetById.size != presRels.count(_.get("Type").contains(RelSlide))) fail() // dup ids

    sldIds.zipWithIndex.map { case (rid, j) =>
      val target = targetById.getOrElse(rid, fail()) // dangling r:id
      if (target.contains("..")) fail()
      val path = if (target.startsWith("/")) target.substring(1) else presDir + target
      val slideXml = new String(byName.getOrElse(path, fail()), utf8)
      val text = slideTextOf(slideXml)
      val b = text.getBytes(utf8)
      var cs = 0L
      b.foreach(x => cs = (cs * 31 + (x & 0xff)) % 1000000007L)
      PptxSlide(id, j.toLong, title, b.length.toLong, cs)
    }
  }

  /** The operator: PPTX decks → the per-slide text table; any ZIP, OPC
    * or XML damage quarantines the whole deck. Map-only, zero shuffles.
    */
  def pptxExtract(decks: DataFrame, idCol: String = "doc_id",
      payloadCol: String = "payload", maxEntryBytes: Int = 1 << 26): Dataset[PptxSlide] = {
    val spark = decks.sparkSession
    import spark.implicits._
    decks
      .select(col(idCol).cast("long"), col(payloadCol))
      .as[(Long, Array[Byte])]
      .flatMap { case (id, payload) =>
        try { if (payload == null) Nil else parsePptx(id, payload, maxEntryBytes) }
        catch { case scala.util.control.NonFatal(_) => Nil } // quarantine
      }
  }
}

package graft.ext

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** ======== DOCX (OOXML WordprocessingML) ingestion ========
  *
  * The office-document shelf — the largest crawled text source after HTML
  * and PDF — ships as OOXML: a ZIP (OPC, the Open Packaging Conventions)
  * holding `[Content_Types].xml`, a `_rels/.rels` relationship map, the
  * main `word/document.xml` part and optional `docProps/core.xml`
  * metadata. Everything here is composition of machinery that already
  * carries green keys, the same layering contract as [[Epub]]:
  *
  *  - ZIP plane: [[Zip.parseArchiveFiles]] (the strict EOCD → CD → LFH
  *    cross-checked walk with CRC verification) and [[Zip.buildZip]];
  *  - XML plane: [[Sitemaps.parseLeaves]] with the attribute-capturing +
  *    marker profile, plus the `withRawText` mode added FOR this format —
  *    OOXML `w:t` runs keep their edge whitespace only under
  *    `xml:space="preserve"`, so the walker hands text through untrimmed
  *    and this consumer trims per element;
  *  - correlation: [[Epub.groupAttrs]] re-groups `Relationship`
  *    attribute leaves into per-element maps.
  *
  * OPC/WordprocessingML strictness enforced by the reader (each violation
  * quarantines the whole document — a broken container signals a broken
  * fetch):
  *  - `[Content_Types].xml` and `_rels/.rels` must exist and parse;
  *  - exactly ONE `officeDocument` relationship, its `Target` resolving
  *    inside the archive (no `..` traversal), and `[Content_Types].xml`
  *    must carry the WordprocessingML main-document `Override` for that
  *    part;
  *  - a declared `core-properties` relationship must resolve (title comes
  *    from its `dc:title`; with no such relationship the title is empty);
  *  - XML damage anywhere on the resolved chain fails the document.
  *
  * Text model: `w:p` elements are paragraphs (one output row each — table
  * cells' `w:tbl/w:tr/w:tc/w:p` paragraphs surface the same way, matched
  * by path SUFFIX); inside a paragraph, `w:t` leaves append text (trimmed
  * unless their element carries `xml:space="preserve"`), `w:tab` appends
  * a TAB and `w:br` a newline. Non-text machinery (`w:pPr`, `w:sectPr`,
  * `w:proofErr`, hyperlink wrappers) is ignored by path, which is what
  * makes the walk robust to producer noise.
  *
  * Scale shape: map-only per document (one flatMap: unzip → three small
  * XML parses → per-paragraph assembly), zero shuffles; entry sizes are
  * capped by the ZIP plane's `maxEntryBytes` before allocation. No
  * reference citation possible (no file surface in the reference —
  * `src/flinkarima.py:379-416` is Kafka/generator only); north-star scope
  * next to [[Pdf]] and [[Epub]].
  */
object Docx {

  private val words = Array("anchor", "bloom", "cedar", "dune", "ember", "flint", "grove", "harbor")

  private def md5Hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString

  // ------------------------------------------------------------- fixture

  /** Closed-form text model (the oracle replays exactly this): doc `id`
    * carries `2 + nib(1)%4` paragraphs; paragraph `k` has `1 + nib(2+k)%3`
    * runs; run `r` is fixture words plus a hazard suffix cycling by
    * `(id+k+r)%5` (`&`/`<tag>` entity arms, an é UTF-8 arm), a LEADING
    * SPACE under `xml:space="preserve"` on `(id+k+r)%4 == 1`, and after
    * each non-final run a separator cycling by `(id+k+r)%3`: `w:tab`
    * (TAB), `w:br` (newline), or direct concatenation.
    */
  private[ext] def nParas(id: Long): Int = {
    val m = md5Hex(s"docx:$id")
    2 + Integer.parseInt(m.substring(0, 1), 16) % 4
  }

  private[ext] def nRuns(id: Long, k: Int): Int = {
    val m = md5Hex(s"docx:$id")
    1 + Integer.parseInt(m.substring(1 + k, 2 + k), 16) % 3
  }

  private[ext] def docTitle(id: Long): String = {
    val m = md5Hex(s"docx:$id")
    s"Doc $id: ${words(Integer.parseInt(m.substring(31, 32), 16) % 8)}"
  }

  private[ext] def runText(id: Long, k: Int, r: Int): String = {
    val m = md5Hex(s"docx:$id")
    def nib(i: Int) = Integer.parseInt(m.substring(i - 1, i), 16)
    val w1 = words(nib(8 + (3 * k + r) % 12) % 8)
    val w2 = words(nib(20 + (2 * k + r) % 12) % 8)
    val lead = if ((id + k + r) % 4 == 1) " " else ""
    val suffix = ((id + k + r) % 5) match {
      case 0 => " & more"
      case 2 => " <tag>"
      case 4 => " é"
      case _ => ""
    }
    s"${lead}Para $k run $r of doc $id: $w1 $w2$suffix"
  }

  /** Separator appended AFTER run `r` (non-final runs only). */
  private[ext] def runSep(id: Long, k: Int, r: Int): String =
    ((id + k + r) % 3) match {
      case 0 => "\t"
      case 1 => "\n"
      case _ => ""
    }

  private[ext] def paraText(id: Long, k: Int): String = {
    val n = nRuns(id, k)
    (0 until n).map { r =>
      runText(id, k, r) + (if (r < n - 1) runSep(id, k, r) else "")
    }.mkString
  }

  /** Serialize `word/document.xml` for doc `id`: per paragraph a `w:p`
    * with `w:pPr` noise, runs as `w:r`/`w:t` (with `xml:space="preserve"`
    * on the leading-space arm; pretty-printed INSIDE the `w:t` — which
    * the reader must trim back — on the `(id+k+r)%4 == 3` arm),
    * separators as `w:tab`/`w:br` elements inside the run, and a trailing
    * `w:sectPr`. Text rides [[Sitemaps.esc]], so the entity arms grade
    * the unescape path.
    */
  private[ext] def renderDocumentXml(id: Long): String = {
    val sb = new StringBuilder
    sb.append("<?xml version=\"1.0\" encoding=\"UTF-8\" standalone=\"yes\"?>\n")
    sb.append("<w:document xmlns:w=\"http://schemas.openxmlformats.org/wordprocessingml/2006/main\">\n")
    sb.append("  <w:body>\n")
    for (k <- 0 until nParas(id)) {
      sb.append("    <w:p>\n")
      sb.append("      <w:pPr><w:pStyle w:val=\"Normal\"/></w:pPr>\n")
      val n = nRuns(id, k)
      for (r <- 0 until n) {
        val text = runText(id, k, r)
        val preserve = (id + k + r) % 4 == 1
        val pretty = (id + k + r) % 4 == 3
        sb.append("      <w:r><w:rPr><w:sz w:val=\"24\"/></w:rPr>")
        if (preserve) sb.append("<w:t xml:space=\"preserve\">").append(Sitemaps.esc(text))
        else if (pretty) sb.append("<w:t>\n        ").append(Sitemaps.esc(text)).append("\n      ")
        else sb.append("<w:t>").append(Sitemaps.esc(text))
        sb.append("</w:t>")
        if (r < n - 1) runSep(id, k, r) match {
          case "\t" => sb.append("<w:tab/>")
          case "\n" => sb.append("<w:br/>")
          case _ =>
        }
        sb.append("</w:r>\n")
      }
      sb.append("    </w:p>\n")
    }
    sb.append("    <w:sectPr><w:pgSz w:w=\"12240\" w:h=\"15840\"/></w:sectPr>\n")
    sb.append("  </w:body>\n")
    sb.append("</w:document>\n")
    sb.toString
  }

  private val CtDoc =
    "application/vnd.openxmlformats-officedocument.wordprocessingml.document.main+xml"
  private val RelOfficeDocument =
    "http://schemas.openxmlformats.org/officeDocument/2006/relationships/officeDocument"
  private val RelCoreProps =
    "http://schemas.openxmlformats.org/package/2006/relationships/metadata/core-properties"

  /** One complete DOCX for doc `id`: `[Content_Types].xml`, `_rels/.rels`
    * (relationship order REVERSED and a `styles.xml` relationship added
    * on `id % 3 == 0`, pinning that the reader resolves by TYPE, not
    * position), `word/document.xml`, `docProps/core.xml` (omitted
    * entirely on `id % 7 == 3` — title falls back to empty), and the
    * noise part `word/styles.xml`. Entries Flate-compressed inside the
    * zip on odd `id + ordinal`.
    */
  private[ext] def renderDocx(id: Long): Array[Byte] = {
    val utf8 = java.nio.charset.StandardCharsets.UTF_8
    val withCore = id % 7 != 3
    val contentTypes = {
      val overrides = Seq(
        s"""  <Override PartName="/word/document.xml" ContentType="$CtDoc"/>""") ++
        (if (withCore)
          Seq("""  <Override PartName="/docProps/core.xml" ContentType="application/vnd.openxmlformats-package.core-properties+xml"/>""")
        else Nil)
      "<?xml version=\"1.0\" encoding=\"UTF-8\" standalone=\"yes\"?>\n" +
        "<Types xmlns=\"http://schemas.openxmlformats.org/package/2006/content-types\">\n" +
        "  <Default Extension=\"rels\" ContentType=\"application/vnd.openxmlformats-package.relationships+xml\"/>\n" +
        "  <Default Extension=\"xml\" ContentType=\"application/xml\"/>\n" +
        overrides.mkString("\n") + "\n</Types>\n"
    }
    val rels = {
      val items = Seq(
        s"""  <Relationship Id="rId1" Type="$RelOfficeDocument" Target="word/document.xml"/>""") ++
        (if (withCore)
          Seq(s"""  <Relationship Id="rId2" Type="$RelCoreProps" Target="docProps/core.xml"/>""")
        else Nil) ++
        (if (id % 3 == 0)
          Seq("""  <Relationship Id="rId3" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/styles" Target="word/styles.xml"/>""")
        else Nil)
      val ordered = if (id % 3 == 0) items.reverse else items
      "<?xml version=\"1.0\" encoding=\"UTF-8\" standalone=\"yes\"?>\n" +
        "<Relationships xmlns=\"http://schemas.openxmlformats.org/package/2006/relationships\">\n" +
        ordered.mkString("\n") + "\n</Relationships>\n"
    }
    val core =
      "<?xml version=\"1.0\" encoding=\"UTF-8\" standalone=\"yes\"?>\n" +
        "<cp:coreProperties xmlns:cp=\"http://schemas.openxmlformats.org/package/2006/metadata/core-properties\"" +
        " xmlns:dc=\"http://purl.org/dc/elements/1.1/\">\n" +
        s"  <dc:title>${Sitemaps.esc(docTitle(id))}</dc:title>\n" +
        "  <dc:creator>graft</dc:creator>\n" +
        "</cp:coreProperties>\n"
    val styles =
      "<?xml version=\"1.0\" encoding=\"UTF-8\" standalone=\"yes\"?>\n" +
        "<w:styles xmlns:w=\"http://schemas.openxmlformats.org/wordprocessingml/2006/main\">" +
        s"<w:docDefaults><w:rPrDefault><w:rPr><w:sz w:val=\"${20 + id % 8}\"/></w:rPr></w:rPrDefault></w:docDefaults></w:styles>\n"
    val parts = Seq(
      ("[Content_Types].xml", contentTypes),
      ("_rels/.rels", rels),
      ("word/document.xml", renderDocumentXml(id)),
      ("word/styles.xml", styles)) ++
      (if (withCore) Seq(("docProps/core.xml", core)) else Nil)
    Zip.buildZip(parts.zipWithIndex.map { case ((name, body), ord) =>
      (name, body.getBytes(utf8), if ((id + ord) % 2 == 1) 8 else 0)
    })
  }

  /** Fixture writer: one DOCX per document row. */
  def encodeDocx(docs: DataFrame, idCol: String = "doc_id"): DataFrame =
    Stage.render(docs, idCol, "payload")(renderDocx)

  // --------------------------------------------------------------- reader

  private final class MalformedDocx
      extends RuntimeException("malformed docx", null, false, false)
  private def fail(): Nothing = throw new MalformedDocx

  final case class DocxPara(doc_id: Long, para_idx: Long, title: String,
      n_chars: Long, checksum: Long)

  /** Assemble paragraphs from a `word/document.xml` leaf walk: `w:p@<`
    * markers open paragraphs, `w:t` text leaves append (trimmed unless
    * the element's `xml:space` attribute said `preserve`), `w:tab`/`w:br`
    * markers append TAB/newline. Matching is by path SUFFIX so table-cell
    * and hyperlink-wrapped runs surface identically; everything else is
    * ignored noise. A `w:t`/`w:tab`/`w:br` outside any paragraph fails.
    */
  private[ext] def paragraphsOf(documentXml: String): Vector[String] = {
    val leaves = Sitemaps.parseLeaves(documentXml, withAttrs = true,
      withMarkers = true, withRawText = true)
    if (!leaves.headOption.map(_._1).exists(_.startsWith("w:document"))) fail()
    val out = Vector.newBuilder[String]
    var cur: StringBuilder = null
    var inT = false
    var preserve = false
    var nParas = 0
    def close(): Unit = if (cur != null) { out += cur.toString; cur = null }
    leaves.foreach { case (path, v) =>
      if (path.endsWith("/w:p@<")) {
        close()
        cur = new StringBuilder
        nParas += 1
        if (nParas > (1 << 20)) fail()
        inT = false
      } else if (path.endsWith("/w:t@<")) {
        inT = true; preserve = false
      } else if (path.endsWith("/w:t@xml:space")) {
        if (!inT) fail()
        v match {
          case "preserve" => preserve = true
          case "default" => preserve = false
          case _ => fail()
        }
      } else if (path.endsWith("/w:t")) {
        if (cur == null || !inT) fail()
        cur.append(if (preserve) v else v.trim)
        inT = false
      } else if (path.endsWith("/w:tab@<")) {
        if (cur == null) fail()
        cur.append('\t')
      } else if (path.endsWith("/w:br@<")) {
        if (cur == null) fail()
        cur.append('\n')
      }
      // all other paths (pPr/sectPr/rPr/attribute noise, inter-element
      // whitespace leaves on container paths): ignored
    }
    close()
    out.result()
  }

  /** Parse one document: strict unzip → `_rels/.rels` typed-relationship
    * resolution → `[Content_Types].xml` Override check → `dc:title` off
    * core properties → per-paragraph text assembly.
    */
  private[ext] def parseDocx(id: Long, bytes: Array[Byte],
      maxEntryBytes: Int): Seq[DocxPara] = {
    val utf8 = java.nio.charset.StandardCharsets.UTF_8
    val files = Zip.parseArchiveFiles(bytes, maxEntryBytes)
    if (files.isEmpty) fail()
    val byName = files.map(f => f._1 -> f._2).toMap
    if (byName.size != files.size) fail() // duplicate entry names

    val relsXml = new String(byName.getOrElse("_rels/.rels", fail()), utf8)
    val relLeaves = Sitemaps.parseLeaves(relsXml, withAttrs = true, withMarkers = true)
    val rels = Epub.groupAttrs(relLeaves, "Relationships/Relationship")
    def targetsOf(tpe: String): Seq[String] =
      rels.filter(_.get("Type").contains(tpe))
        .map(_.getOrElse("Target", fail()))
        .map(t => if (t.startsWith("/")) t.substring(1) else t)
    val docTargets = targetsOf(RelOfficeDocument)
    if (docTargets.size != 1) fail()
    val docPath = docTargets.head
    if (docPath.contains("..")) fail()

    // [Content_Types].xml must carry the main-document Override for the
    // resolved part — the OPC contract every real producer honors
    val ctXml = new String(byName.getOrElse("[Content_Types].xml", fail()), utf8)
    val ctLeaves = Sitemaps.parseLeaves(ctXml, withAttrs = true, withMarkers = true)
    val overrides = Epub.groupAttrs(ctLeaves, "Types/Override")
    val ctOk = overrides.exists(o =>
      o.get("PartName").contains("/" + docPath) && o.get("ContentType").contains(CtDoc))
    if (!ctOk) fail()

    val title = targetsOf(RelCoreProps) match {
      case Seq() => ""
      case Seq(corePath) =>
        if (corePath.contains("..")) fail()
        val coreXml = new String(byName.getOrElse(corePath, fail()), utf8)
        Sitemaps.parseLeaves(coreXml).collectFirst {
          case ("cp:coreProperties/dc:title", t) => t
        }.getOrElse("")
      case _ => fail() // more than one core-properties relationship
    }

    val docXml = new String(byName.getOrElse(docPath, fail()), utf8)
    paragraphsOf(docXml).zipWithIndex.map { case (text, k) =>
      val b = text.getBytes(utf8)
      var cs = 0L
      b.foreach(x => cs = (cs * 31 + (x & 0xff)) % 1000000007L)
      DocxPara(id, k.toLong, title, b.length.toLong, cs)
    }
  }

  /** The operator: DOCX documents → the per-paragraph text table; any
    * ZIP, OPC or XML damage quarantines the whole document. Map-only,
    * zero shuffles.
    */
  def docxExtract(docs: DataFrame, idCol: String = "doc_id",
      payloadCol: String = "payload", maxEntryBytes: Int = 1 << 26): Dataset[DocxPara] = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs
      .select(col(idCol).cast("long"), col(payloadCol))
      .as[(Long, Array[Byte])]
      .flatMap { case (id, payload) =>
        try { if (payload == null) Nil else parseDocx(id, payload, maxEntryBytes) }
        catch { case scala.util.control.NonFatal(_) => Nil } // quarantine
      }
  }
}

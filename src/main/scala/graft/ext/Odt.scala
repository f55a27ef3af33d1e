package graft.ext

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** ======== ODT (OpenDocument Text) ingestion ========
  *
  * The OTHER office format next to [[Docx]] — everything LibreOffice/
  * OpenOffice produce: an ODF package is a ZIP with a declared `mimetype`
  * (the same physically-first-and-STORED wire rule as EPUB's OCF — ODF
  * 1.2 §3.3), a `META-INF/manifest.xml` naming every part, the
  * `content.xml` body and optional `meta.xml` metadata. Composition of
  * the same planes as [[Epub]]/[[Docx]]:
  *
  *  - ZIP plane: [[Zip.parseArchiveFilesWithOffsets]] (mimetype-first is
  *    a PHYSICAL rule, checked on LFH offset 0);
  *  - XML plane: [[Sitemaps.parseLeaves]] with the `allowMixed` mode
  *    added FOR this format — ODF paragraphs are inherently mixed
  *    content (`<text:p>plain <text:span>styled</text:span> tail</text:p>`),
  *    so pending text flushes as an in-order leaf when a child opens.
  *
  * Text model (the documented whitespace profile, ODF 1.2 §6.1.2's
  * collapse rule): `text:p` (and `text:h`) elements are paragraphs — one
  * output row each; inside a paragraph, raw text leaves (the paragraph's
  * own text and any `text:span`/`text:a` descendants, matched by path
  * segment) are entity-decoded, their whitespace RUNS collapsed to one
  * space, and a paragraph-leading space stripped; the explicit
  * whitespace elements append verbatim — `text:s` (`text:c` repeat
  * count, default 1), `text:tab` (TAB), `text:line-break` (newline).
  * Styling wrappers contribute only their text.
  *
  * Package strictness (each violation quarantines the whole document):
  * mimetype physically first, STORED, content exactly
  * `application/vnd.oasis.opendocument.text`; the manifest must parse,
  * declare the package root with that media type, list `content.xml`,
  * and every listed non-directory part must exist in the archive; XML
  * damage anywhere on the resolved chain fails.
  *
  * Scale shape: map-only per document (one flatMap: unzip → three small
  * XML parses → per-paragraph assembly), zero shuffles; entry sizes are
  * capped by the ZIP plane before allocation. No reference citation
  * possible (no file surface in the reference) — north-star scope next
  * to [[Docx]].
  */
object Odt {

  private val words = Array("anchor", "bloom", "cedar", "dune", "ember", "flint", "grove", "harbor")

  private def md5Hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString

  private val OdtMime = "application/vnd.oasis.opendocument.text"

  // ------------------------------------------------------------- fixture

  /** Closed-form text model (the oracle replays exactly this): doc `id`
    * carries `2 + nib(1)%4` paragraphs; paragraph `k` has `1 + nib(2+k)%3`
    * segments; segment `s` is fixture words plus a hazard suffix cycling
    * by `(id+k+s)%5`, wrapped in a `text:span` on `(id+k+s)%3 == 1` and
    * pretty-printed inside the source (collapsed back by the reader) on
    * `(id+k+s)%7 == 0`; after each non-final segment a separator cycling
    * by `(id+k+s)%3`: `text:s` (2 or 3 spaces by id parity), `text:tab`,
    * or `text:line-break`.
    */
  private[ext] def nParas(id: Long): Int = {
    val m = md5Hex(s"odt:$id")
    2 + Integer.parseInt(m.substring(0, 1), 16) % 4
  }

  private[ext] def nSegs(id: Long, k: Int): Int = {
    val m = md5Hex(s"odt:$id")
    1 + Integer.parseInt(m.substring(1 + k, 2 + k), 16) % 3
  }

  private[ext] def docTitle(id: Long): String = {
    val m = md5Hex(s"odt:$id")
    s"Odt $id: ${words(Integer.parseInt(m.substring(31, 32), 16) % 8)}"
  }

  private[ext] def segText(id: Long, k: Int, s: Int): String = {
    val m = md5Hex(s"odt:$id")
    def nib(i: Int) = Integer.parseInt(m.substring(i - 1, i), 16)
    val w1 = words(nib(8 + (3 * k + s) % 12) % 8)
    val w2 = words(nib(20 + (2 * k + s) % 12) % 8)
    val suffix = ((id + k + s) % 5) match {
      case 0 => " & co"
      case 2 => " <b>"
      case 4 => " é"
      case _ => ""
    }
    s"Seg $s of para $k in doc $id: $w1 $w2$suffix"
  }

  /** Separator appended AFTER segment `s` (non-final segments only). */
  private[ext] def segSep(id: Long, k: Int, s: Int): String =
    ((id + k + s) % 3) match {
      case 0 => " " * (2 + (id % 2).toInt) // an explicit text:s run
      case 1 => "\t"
      case _ => "\n"
    }

  private[ext] def paraText(id: Long, k: Int): String = {
    val n = nSegs(id, k)
    (0 until n).map { s =>
      segText(id, k, s) + (if (s < n - 1) segSep(id, k, s) else "")
    }.mkString
  }

  /** Serialize `content.xml`: per paragraph a `text:p` whose segments are
    * plain mixed text or `text:span`-wrapped (the span arm), with the
    * source pretty-printed INSIDE the text on the mod-7 arm (a newline +
    * indent run the reader's collapse rule must fold back to one space),
    * and separators as the explicit whitespace elements.
    */
  private[ext] def renderContentXml(id: Long): String = {
    val sb = new StringBuilder
    sb.append("<?xml version=\"1.0\" encoding=\"UTF-8\"?>\n")
    sb.append("<office:document-content xmlns:office=\"urn:oasis:names:tc:opendocument:xmlns:office:1.0\"")
    sb.append(" xmlns:text=\"urn:oasis:names:tc:opendocument:xmlns:text:1.0\" office:version=\"1.2\">\n")
    sb.append("  <office:body>\n    <office:text>\n")
    for (k <- 0 until nParas(id)) {
      sb.append("      <text:p text:style-name=\"P1\">")
      val n = nSegs(id, k)
      for (s <- 0 until n) {
        val raw = Sitemaps.esc(segText(id, k, s))
        val pretty = (id + k + s) % 7 == 0
        // the pretty arm splits the text at the ": " — the reader's
        // whitespace collapse must fold the newline+indent back to it
        val body = if (pretty) raw.replaceFirst(": ", ":\n          ") else raw
        if ((id + k + s) % 3 == 1) sb.append("<text:span text:style-name=\"T1\">")
          .append(body).append("</text:span>")
        else sb.append(body)
        if (s < n - 1) ((id + k + s) % 3) match {
          case 0 => sb.append(s"""<text:s text:c="${2 + (id % 2).toInt}"/>""")
          case 1 => sb.append("<text:tab/>")
          case _ => sb.append("<text:line-break/>")
        }
      }
      sb.append("</text:p>\n")
    }
    sb.append("    </office:text>\n  </office:body>\n</office:document-content>\n")
    sb.toString
  }

  /** One complete ODT for doc `id`: `mimetype` physically first and
    * STORED, the manifest (meta.xml listed only when present — absent
    * entirely on `id % 7 == 5`, where the title falls back to empty),
    * `content.xml`, `meta.xml` with `dc:title`, and a `styles.xml`
    * noise part. Entries Flate-compressed on odd `id + ordinal`.
    */
  private[ext] def renderOdt(id: Long): Array[Byte] = {
    val utf8 = java.nio.charset.StandardCharsets.UTF_8
    val withMeta = id % 7 != 5
    val manifest = {
      val entries = Seq(
        s"""  <manifest:file-entry manifest:full-path="/" manifest:media-type="$OdtMime"/>""",
        """  <manifest:file-entry manifest:full-path="content.xml" manifest:media-type="text/xml"/>""",
        """  <manifest:file-entry manifest:full-path="styles.xml" manifest:media-type="text/xml"/>""") ++
        (if (withMeta)
          Seq("""  <manifest:file-entry manifest:full-path="meta.xml" manifest:media-type="text/xml"/>""")
        else Nil)
      "<?xml version=\"1.0\" encoding=\"UTF-8\"?>\n" +
        "<manifest:manifest xmlns:manifest=\"urn:oasis:names:tc:opendocument:xmlns:manifest:1.0\" manifest:version=\"1.2\">\n" +
        entries.mkString("\n") + "\n</manifest:manifest>\n"
    }
    val meta =
      "<?xml version=\"1.0\" encoding=\"UTF-8\"?>\n" +
        "<office:document-meta xmlns:office=\"urn:oasis:names:tc:opendocument:xmlns:office:1.0\"" +
        " xmlns:dc=\"http://purl.org/dc/elements/1.1/\" office:version=\"1.2\">\n" +
        s"  <office:meta><dc:title>${Sitemaps.esc(docTitle(id))}</dc:title></office:meta>\n" +
        "</office:document-meta>\n"
    val styles =
      "<?xml version=\"1.0\" encoding=\"UTF-8\"?>\n" +
        "<office:document-styles xmlns:office=\"urn:oasis:names:tc:opendocument:xmlns:office:1.0\"" +
        s" office:version=\"1.2\"><office:styles/></office:document-styles>\n"
    val parts = Seq(
      ("mimetype", OdtMime, -1), // -1: forced STORED below
      ("META-INF/manifest.xml", manifest, 0),
      ("content.xml", renderContentXml(id), 1),
      ("styles.xml", styles, 2)) ++
      (if (withMeta) Seq(("meta.xml", meta, 3)) else Nil)
    Zip.buildZip(parts.map { case (name, body, ord) =>
      val method = if (ord < 0) 0 else if ((id + ord) % 2 == 1) 8 else 0
      (name, body.getBytes(utf8), method)
    })
  }

  /** Fixture writer: one ODT per document row. */
  def encodeOdt(docs: DataFrame, idCol: String = "doc_id"): DataFrame =
    Stage.render(docs, idCol, "payload")(renderOdt)

  // --------------------------------------------------------------- reader

  private final class MalformedOdt
      extends RuntimeException("malformed odt", null, false, false)
  private def fail(): Nothing = throw new MalformedOdt

  final case class OdtPara(doc_id: Long, para_idx: Long, title: String,
      n_chars: Long, checksum: Long)

  /** Whether `path` (leaf or marker/attr path) sits inside a paragraph
    * element — `text:p` or `text:h` as a whole path segment (so
    * `text:page-number` and friends cannot alias).
    */
  private def inPara(path: String): Boolean = {
    val core = path.indexOf('@') match {
      case -1 => path
      case at => path.substring(0, at)
    }
    core.split('/').exists(seg => seg == "text:p" || seg == "text:h")
  }

  /** Collapse whitespace runs to one space — the ODF text-content rule;
    * explicit whitespace rides `text:s`/`text:tab`/`text:line-break`.
    */
  private def collapseWs(s: String): String = {
    val sb = new java.lang.StringBuilder(s.length)
    var i = 0
    var ws = false
    while (i < s.length) {
      val c = s.charAt(i)
      if (Character.isWhitespace(c)) ws = true
      else {
        if (ws) { sb.append(' '); ws = false }
        sb.append(c)
      }
      i += 1
    }
    if (ws) sb.append(' ')
    sb.toString
  }

  /** Whether every path segment BETWEEN the last `text:p`/`text:h` and
    * the leaf is an in-profile text wrapper — the elements whose text IS
    * paragraph content. Anything else (footnote bodies, annotations,
    * citation numbers, change tracking) carrying text inside a paragraph
    * is OUT of profile and must quarantine, never merge: partial text
    * from a structure this walker does not understand is worse than
    * none.
    */
  private val TextWrappers: Set[String] = Set("text:span", "text:a")
  private def wrapperChainOk(core: String): Boolean = {
    val segs = core.split('/')
    var last = -1
    var i = 0
    while (i < segs.length) {
      if (segs(i) == "text:p" || segs(i) == "text:h") last = i
      i += 1
    }
    if (last < 0) return false
    (last + 1 until segs.length).forall(j => TextWrappers.contains(segs(j)))
  }

  /** Assemble paragraphs from a `content.xml` leaf walk (mixed-content
    * mode): `text:p`/`text:h` markers open paragraphs; in-paragraph text
    * leaves append collapsed (a paragraph-LEADING space stripped);
    * `text:s` appends its `text:c` count of spaces (the attr leaf
    * follows the marker), `text:tab`/`text:line-break` append verbatim.
    * NESTED paragraphs (footnote bodies: `text:p → text:note → … →
    * text:p`) and text under non-wrapper descendants quarantine — out of
    * profile, and merging them would produce silently wrong text.
    */
  private[ext] def paragraphsOf(contentXml: String): Vector[String] = {
    val leaves = Sitemaps.parseLeaves(contentXml, withAttrs = true,
      withMarkers = true, withRawText = true, allowMixed = true)
    if (!leaves.headOption.map(_._1).exists(_.startsWith("office:document-content"))) fail()
    val out = Vector.newBuilder[String]
    var cur: StringBuilder = null
    var nParas = 0
    // a text:s marker defers until its optional text:c attr is seen
    var pendingSpaces = -1
    def flushSpaces(): Unit = if (pendingSpaces >= 0) {
      var i = 0
      while (i < pendingSpaces) { cur.append(' '); i += 1 }
      pendingSpaces = -1
    }
    def close(): Unit = if (cur != null) { flushSpaces(); out += cur.toString; cur = null }
    def core(path: String): String = path.indexOf('@') match {
      case -1 => path
      case at => path.substring(0, at)
    }
    leaves.foreach { case (path, v) =>
      if (path.endsWith("/text:p@<") || path.endsWith("/text:h@<")) {
        // a paragraph marker NESTED inside an open paragraph (footnote
        // bodies etc.) is out of profile
        val c = core(path)
        val parent = c.substring(0, c.lastIndexOf('/'))
        if (parent.split('/').exists(seg => seg == "text:p" || seg == "text:h")) fail()
        close()
        cur = new StringBuilder
        nParas += 1
        if (nParas > (1 << 20)) fail()
      } else if (cur != null && inPara(path)) {
        if (path.endsWith("/text:s@<")) {
          if (!wrapperChainOk(core(path).dropRight("/text:s".length))) fail()
          flushSpaces(); pendingSpaces = 1
        } else if (path.endsWith("/text:s@text:c")) {
          if (pendingSpaces < 0) fail()
          if (v.isEmpty || v.length > 4 || !v.forall(_.isDigit)) fail()
          pendingSpaces = v.toInt
        } else if (path.endsWith("/text:tab@<")) {
          if (!wrapperChainOk(core(path).dropRight("/text:tab".length))) fail()
          flushSpaces(); cur.append('\t')
        } else if (path.endsWith("/text:line-break@<")) {
          if (!wrapperChainOk(core(path).dropRight("/text:line-break".length))) fail()
          flushSpaces(); cur.append('\n')
        } else if (path.indexOf('@') < 0) { // a text leaf inside the paragraph
          if (!wrapperChainOk(path)) fail() // citation numbers etc.: out of profile
          flushSpaces()
          val t = collapseWs(v)
          cur.append(if (cur.isEmpty && t.startsWith(" ")) t.substring(1) else t)
        }
        // other markers/attrs (span/a styling): contribute nothing
      }
    }
    close()
    out.result()
  }

  /** Parse one document: strict unzip → mimetype wire rule → manifest →
    * optional `meta.xml` title → per-paragraph text assembly.
    */
  private[ext] def parseOdt(id: Long, bytes: Array[Byte],
      maxEntryBytes: Int): Seq[OdtPara] = {
    val utf8 = java.nio.charset.StandardCharsets.UTF_8
    val withOff = Zip.parseArchiveFilesWithOffsets(bytes, maxEntryBytes)
    if (withOff.isEmpty) fail()
    // ODF 1.2 §3.3: the mimetype entry is the physically FIRST file
    // (local header at byte 0), STORED, with the exact media type
    val (n0, d0, m0, off0) = withOff.minBy(_._4)
    if (off0 != 0L || n0 != "mimetype" || m0 != 0 || new String(d0, utf8) != OdtMime) fail()
    val byName = withOff.map(e => e._1 -> e._2).toMap
    if (byName.size != withOff.size) fail() // duplicate entry names

    val manifestXml = new String(byName.getOrElse("META-INF/manifest.xml", fail()), utf8)
    val manLeaves = Sitemaps.parseLeaves(manifestXml, withAttrs = true, withMarkers = true)
    val entries = Epub.groupAttrs(manLeaves, "manifest:manifest/manifest:file-entry")
    val rootOk = entries.exists(e =>
      e.get("manifest:full-path").contains("/") && e.get("manifest:media-type").contains(OdtMime))
    if (!rootOk) fail()
    val listed = entries.flatMap(_.get("manifest:full-path")).filterNot(_ == "/")
    if (!listed.contains("content.xml")) fail()
    listed.filterNot(_.endsWith("/")).foreach { p =>
      if (p.contains("..")) fail()
      if (!byName.contains(p)) fail() // a listed part is missing
    }

    val title = byName.get("meta.xml") match {
      case None => ""
      case Some(metaBytes) =>
        Sitemaps.parseLeaves(new String(metaBytes, utf8)).collectFirst {
          case ("office:document-meta/office:meta/dc:title", t) => t
        }.getOrElse("")
    }

    val contentXml = new String(byName.getOrElse("content.xml", fail()), utf8)
    paragraphsOf(contentXml).zipWithIndex.map { case (text, k) =>
      val b = text.getBytes(utf8)
      var cs = 0L
      b.foreach(x => cs = (cs * 31 + (x & 0xff)) % 1000000007L)
      OdtPara(id, k.toLong, title, b.length.toLong, cs)
    }
  }

  /** The operator: ODT documents → the per-paragraph text table; any ZIP,
    * package or XML damage quarantines the whole document. Map-only,
    * zero shuffles.
    */
  def odtExtract(docs: DataFrame, idCol: String = "doc_id",
      payloadCol: String = "payload", maxEntryBytes: Int = 1 << 26): Dataset[OdtPara] = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs
      .select(col(idCol).cast("long"), col(payloadCol))
      .as[(Long, Array[Byte])]
      .flatMap { case (id, payload) =>
        try { if (payload == null) Nil else parseOdt(id, payload, maxEntryBytes) }
        catch { case scala.util.control.NonFatal(_) => Nil } // quarantine
      }
  }
}

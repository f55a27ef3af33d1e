package graft.ext

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** ======== EPUB ingestion (OCF container + OPF spine + XHTML) ========
  *
  * The OTHER book format next to [[Pdf]]: an EPUB is a ZIP (OCF, the Open
  * Container Format) holding a declared `mimetype`, a `META-INF/
  * container.xml` pointing at the OPF package document, and the package's
  * manifest + spine naming the XHTML chapters in reading order. Everything
  * here is composition of machinery that already carries green keys:
  *
  *  - ZIP plane: [[Zip.parseArchiveFiles]] (the strict EOCD → CD → LFH
  *    cross-checked walk with CRC verification) and [[Zip.buildZip]];
  *  - XML plane: [[Sitemaps.parseLeaves]] with the attribute-capturing
  *    profile (`rootfile@full-path`, `item@id/@href`, `itemref@idref`);
  *  - text plane: chapters ride the shared HTML fixture/extractor pair
  *    ([[Html.toHtml]] / [[Html.extractText]] — identity-recovering, the
  *    wet_convert contract), so the oracle computes chapter text straight
  *    from the closed-form model.
  *
  * OCF strictness enforced by the reader (each violation quarantines the
  * whole book — a broken container signals a broken fetch):
  *  - the FIRST entry must be named `mimetype`, STORED (method 0), with
  *    content exactly `application/epub+zip` (OCF 3.0 §3.3 wire rule);
  *  - `META-INF/container.xml` must parse and name ≥1 rootfile whose
  *    `full-path` resolves inside the archive;
  *  - every spine `idref` must resolve through the manifest to an entry
  *    present in the archive (hrefs relative to the OPF's directory; no
  *    `..` traversal);
  *  - the spine must be non-empty; XML damage anywhere fails the book.
  *
  * The manifest may name MORE than the spine consumes (stylesheets, a
  * cover) — reading order is the SPINE's, and the fixture plants both a
  * non-spine `style.css` item and a manifest shuffled against spine order
  * to pin that the reader follows `idref`s, not manifest order.
  *
  * Scale shape: map-only per book (one flatMap: unzip → two small XML
  * parses → per-chapter text extraction), zero shuffles; entry sizes are
  * capped by the ZIP plane's `maxEntryBytes` before allocation. No
  * reference citation possible (no file surface in the reference) —
  * north-star scope next to [[Pdf]].
  */
object Epub {

  private val words = Array("anchor", "bloom", "cedar", "dune", "ember", "flint", "grove", "harbor")

  private def md5Hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString

  // ------------------------------------------------------------- fixture

  /** Closed-form text model (the oracle replays exactly this): book `id`
    * carries `1 + nib(1)%4` chapters; chapter `k` is `2 + nib(2+k)%3`
    * sentences joined by one space; the title is `Book <id>: <word>` off
    * nib(32).
    */
  private[ext] def nChapters(id: Long): Int = {
    val m = md5Hex(s"epub:$id")
    1 + Integer.parseInt(m.substring(0, 1), 16) % 4
  }

  private[ext] def bookTitle(id: Long): String = {
    val m = md5Hex(s"epub:$id")
    s"Book $id: ${words(Integer.parseInt(m.substring(31, 32), 16) % 8)}"
  }

  private[ext] def chapterText(id: Long, k: Int): String = {
    val m = md5Hex(s"epub:$id")
    def nib(i: Int) = Integer.parseInt(m.substring(i - 1, i), 16)
    val ns = 2 + nib(2 + k) % 3
    (0 until ns).map { s =>
      val w1 = words(nib(6 + 4 * k + s) % 8)
      val w2 = words(nib(22 + (4 * k + s) % 10) % 8)
      s"Chapter $k sentence $s of book $id: $w1 $w2."
    }.mkString(" ")
  }

  /** One complete EPUB for book `id`: `mimetype` first and stored, the
    * OCF container.xml, an OPF with metadata + manifest + spine (manifest
    * REVERSED against spine order on `id % 3 == 0`, plus a non-spine
    * `style.css` item), and one XHTML chapter file per spine entry
    * (Flate-compressed inside the zip on odd `id+k`). Chapter bodies ride
    * [[Html.toHtml]] so extraction is exactly [[chapterText]].
    */
  private[ext] def renderEpub(id: Long): Array[Byte] = {
    val nch = nChapters(id)
    val container =
      """<?xml version="1.0" encoding="UTF-8"?>
        |<container version="1.0" xmlns="urn:oasis:names:tc:opendocument:xmlns:container">
        |  <rootfiles>
        |    <rootfile full-path="OEBPS/content.opf" media-type="application/oebps-package+xml"/>
        |  </rootfiles>
        |</container>
        |""".stripMargin
    val manifestItems = (0 until nch).map(k =>
      s"""    <item id="c$k" href="ch$k.xhtml" media-type="application/xhtml+xml"/>""") :+
      s"""    <item id="css" href="style.css" media-type="text/css"/>"""
    val manifest = if (id % 3 == 0) manifestItems.reverse else manifestItems
    val spine = (0 until nch).map(k => s"""    <itemref idref="c$k"/>""")
    val title = bookTitle(id)
    val opf =
      s"""<?xml version="1.0" encoding="UTF-8"?>
         |<package version="2.0" unique-identifier="bookid" xmlns="http://www.idpf.org/2007/opf">
         |  <metadata xmlns:dc="http://purl.org/dc/elements/1.1/">
         |    <dc:title>${Sitemaps.esc(title)}</dc:title>
         |    <dc:identifier id="bookid">urn:graft:book:$id</dc:identifier>
         |    <dc:language>en</dc:language>
         |  </metadata>
         |  <manifest>
         |${manifest.mkString("\n")}
         |  </manifest>
         |  <spine>
         |${spine.mkString("\n")}
         |  </spine>
         |</package>
         |""".stripMargin
    val utf8 = java.nio.charset.StandardCharsets.UTF_8
    val entries = Seq.newBuilder[(String, Array[Byte], Int)]
    entries += (("mimetype", "application/epub+zip".getBytes(utf8), 0))
    entries += (("META-INF/container.xml", container.getBytes(utf8), 8))
    entries += (("OEBPS/content.opf", opf.getBytes(utf8), 8))
    entries += (("OEBPS/style.css", s"body{margin:${id % 7}px}".getBytes(utf8), 0))
    (0 until nch).foreach { k =>
      val xhtml = Html.toHtml(id * 31 + k, chapterText(id, k))
      entries += ((s"OEBPS/ch$k.xhtml", xhtml.getBytes(utf8),
        if ((id + k) % 2 == 1) 8 else 0))
    }
    Zip.buildZip(entries.result())
  }

  /** Fixture writer: one EPUB per document row. */
  def encodeEpub(docs: DataFrame, idCol: String = "doc_id"): DataFrame =
    Stage.render(docs, idCol, "payload")(renderEpub)

  // --------------------------------------------------------------- reader

  private final class MalformedEpub
      extends RuntimeException("malformed epub", null, false, false)
  private def fail(): Nothing = throw new MalformedEpub

  /** Correlate repeated attribute leaves (`prefix@name → value`) back into
    * per-element maps. Elements are delimited by the walker's `@<` boundary
    * markers (parseLeaves withMarkers) — attribute-order-robust AND safe
    * against adjacent elements merging when one is missing an attribute
    * (an item without `href` must quarantine, not borrow its neighbor's).
    */
  private[ext] def groupAttrs(leaves: Vector[(String, String)],
      prefix: String): Vector[Map[String, String]] = {
    val out = Vector.newBuilder[Map[String, String]]
    var cur: Map[String, String] = null
    leaves.foreach { case (path, v) =>
      if (path == prefix + "@<") {
        if (cur != null) out += cur
        cur = Map.empty
      } else if (path.startsWith(prefix + "@") && cur != null) {
        val an = path.substring(prefix.length + 1)
        if (cur.contains(an)) fail() // duplicate attribute in one element
        cur += an -> v
      }
    }
    if (cur != null) out += cur
    out.result()
  }

  final case class EpubChapter(doc_id: Long, chapter_idx: Long, title: String,
      n_chars: Long, checksum: Long)

  /** Parse one book: strict unzip → OCF mimetype rule → container.xml →
    * OPF manifest + spine → per-chapter XHTML text extraction.
    */
  private[ext] def parseEpub(id: Long, bytes: Array[Byte],
      maxEntryBytes: Int): Seq[EpubChapter] = {
    val utf8 = java.nio.charset.StandardCharsets.UTF_8
    val withOff = Zip.parseArchiveFilesWithOffsets(bytes, maxEntryBytes)
    if (withOff.isEmpty) fail()
    // OCF 3.0 §3.3 is a PHYSICAL layout rule: the `mimetype` entry must be
    // the physically first file in the archive (local header at byte 0),
    // STORED, with exact content. CD order is NOT the criterion — a foreign
    // EPUB whose central directory lists entries in a different order than
    // they sit on disk is still conforming, so the check keys on lfhOffset.
    val (n0, d0, m0, off0) = withOff.minBy(_._4)
    if (off0 != 0L || n0 != "mimetype" || m0 != 0 ||
      new String(d0, utf8) != "application/epub+zip") fail()
    val files = withOff.map(e => (e._1, e._2, e._3))
    val byName = files.map(f => f._1 -> f._2).toMap
    if (byName.size != files.size) fail() // duplicate entry names

    val container = byName.getOrElse("META-INF/container.xml", fail())
    val cLeaves = Sitemaps.parseLeaves(new String(container, utf8), withAttrs = true)
    val opfPath = cLeaves.collectFirst {
      case ("container/rootfiles/rootfile@full-path", p) => p
    }.getOrElse(fail())
    if (opfPath.contains("..")) fail()
    val opfDir = opfPath.lastIndexOf('/') match {
      case -1 => ""
      case i => opfPath.substring(0, i + 1)
    }

    val opf = byName.getOrElse(opfPath, fail())
    val leaves = Sitemaps.parseLeaves(new String(opf, utf8), withAttrs = true,
      withMarkers = true)
    val title = leaves.collectFirst { case ("package/metadata/dc:title", t) => t }.getOrElse("")
    val items = groupAttrs(leaves, "package/manifest/item")
    val hrefById = items.map { it =>
      (it.getOrElse("id", fail()), it.getOrElse("href", fail()))
    }.toMap
    if (hrefById.size != items.size) fail() // duplicate manifest ids
    val spine = leaves.collect { case ("package/spine/itemref@idref", r) => r }
    if (spine.isEmpty) fail()

    spine.zipWithIndex.map { case (idref, k) =>
      val href = hrefById.getOrElse(idref, fail()) // dangling idref
      if (href.contains("..")) fail()
      val data = byName.getOrElse(opfDir + href, fail())
      val text = Html.extractText(new String(data, utf8))
      val b = text.getBytes(utf8)
      var cs = 0L
      b.foreach(x => cs = (cs * 31 + (x & 0xff)) % 1000000007L)
      EpubChapter(id, k.toLong, title, b.length.toLong, cs)
    }
  }

  /** The operator: EPUB books → the per-chapter text table; any ZIP, OCF
    * or XML damage quarantines the whole book. Map-only, zero shuffles.
    */
  def epubExtract(books: DataFrame, idCol: String = "doc_id",
      payloadCol: String = "payload", maxEntryBytes: Int = 1 << 26): Dataset[EpubChapter] = {
    val spark = books.sparkSession
    import spark.implicits._
    books
      .select(col(idCol).cast("long"), col(payloadCol))
      .as[(Long, Array[Byte])]
      .flatMap { case (id, payload) =>
        try { if (payload == null) Nil else parseEpub(id, payload, maxEntryBytes) }
        catch { case scala.util.control.NonFatal(_) => Nil } // quarantine
      }
  }
}

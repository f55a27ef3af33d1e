package graft.ext

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** ======== XLSX (OOXML SpreadsheetML) ingestion ========
  *
  * The spreadsheet third of the OOXML shelf next to [[Docx]]/[[Pptx]] —
  * and the part of the office corpus that carries TABULAR training data.
  * The defining semantic is the SHARED STRING TABLE indirection: cells
  * do not hold their text, they hold an index (`t="s"` + `<v>idx</v>`)
  * into `xl/sharedStrings.xml`, where each `<si>` may split its text
  * across rich-text runs (`<r><t>…</t></r>`) and carry
  * `xml:space="preserve"` edge whitespace. A reader that skips the
  * table, mis-indexes it, or trims preserved spaces produces wrong cell
  * text — exactly what the oracle grades. On top of that:
  *
  *  - sheet ORDER from `workbook.xml`'s `<sheets>` resolved through the
  *    workbook's OWN rels (the [[Pptx]] two-file pattern; the fixture
  *    reverse-numbers sheet files so filename order is wrong);
  *  - cell references (`B3`) parsed as bijective base-26 columns +
  *    1-based rows, cross-checked against the enclosing `<row r=…>`;
  *  - cell types: shared (`s`), inline (`inlineStr` via `<is><t>`),
  *    formula-string (`str`), and default numeric — each emitted with
  *    its resolved text.
  *
  * Strictness: a `t="s"` cell with a non-integer or out-of-range index,
  * a cell ref disagreeing with its row, a missing referenced
  * sharedStrings part, or XML damage anywhere quarantines the whole
  * workbook. Map-only per document, zero shuffles. No reference
  * citation possible (no file surface in the reference) — north-star
  * scope completing the OOXML trio.
  */
object Xlsx {

  private val words = Array("anchor", "bloom", "cedar", "dune", "ember", "flint", "grove", "harbor")

  private def md5Hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString

  private val CtWorkbook =
    "application/vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"
  private val RelOfficeDocument =
    "http://schemas.openxmlformats.org/officeDocument/2006/relationships/officeDocument"
  private val RelWorksheet =
    "http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet"
  private val RelSharedStrings =
    "http://schemas.openxmlformats.org/officeDocument/2006/relationships/sharedStrings"

  // ------------------------------------------------------------- fixture

  /** Closed-form cell model (the oracle replays exactly this): workbook
    * `id` carries `1 + nib(1)%3` sheets; sheet `s` is a full grid of
    * `2 + nib(2+s)%3` rows × `2 + (id+s)%2` columns; cell `(r,c)` cycles
    * by `(id+s+r+c)%5`: a unique shared string, an exact integer number,
    * an inline string, a sheet-constant REPEATED shared string (the
    * writer's table must dedup it), or a leading-space shared string
    * under `xml:space="preserve"` split across two rich-text runs.
    */
  private[ext] def nSheets(id: Long): Int = {
    val m = md5Hex(s"xlsx:$id")
    1 + Integer.parseInt(m.substring(0, 1), 16) % 3
  }

  private[ext] def nRows(id: Long, s: Int): Int = {
    val m = md5Hex(s"xlsx:$id")
    2 + Integer.parseInt(m.substring(1 + s, 2 + s), 16) % 3
  }

  private[ext] def nCols(id: Long, s: Int): Int = 2 + ((id + s) % 2).toInt

  private[ext] def sheetName(id: Long, s: Int): String = {
    val m = md5Hex(s"xlsx:$id")
    s"S$s ${words(Integer.parseInt(m.substring(27 + s, 28 + s), 16) % 8)}"
  }

  /** (ctype, text) for cell (r, c) of sheet `s` — 0-based row/col. */
  private[ext] def cellModel(id: Long, s: Int, r: Int, c: Int): (String, String) = {
    val m = md5Hex(s"xlsx:$id")
    def nib(i: Int) = Integer.parseInt(m.substring(i - 1, i), 16)
    ((id + s + r + c) % 5) match {
      case 0 =>
        val w = words(nib(8 + (3 * s + 2 * r + c) % 12) % 8)
        ("s", s"Cell $r $c of sheet $s in doc $id: $w")
      case 1 => ("n", (id * 7 + s * 5 + r * 3 + c).toString)
      case 2 =>
        val w2 = words(nib(20 + (s + r + 2 * c) % 12) % 8)
        ("inlineStr", s"Inline $r $c: $w2")
      case 3 => ("s", s"Repeated of sheet $s doc $id")
      case _ => ("s", s" padded $r$c")
    }
  }

  /** Bijective base-26 column letters (0 → A, 25 → Z, 26 → AA). */
  private[ext] def colLetters(c: Int): String = {
    var v = c + 1
    val sb = new StringBuilder
    while (v > 0) {
      val d = (v - 1) % 26
      sb.insert(0, ('A' + d).toChar)
      v = (v - 1) / 26
    }
    sb.toString
  }

  /** Serialize sheet `s`'s worksheet XML and collect its shared strings
    * into `table` (first-use interning — the writer-side dedup the
    * repeated arm exercises).
    */
  private[ext] def renderSheetXml(id: Long, s: Int,
      table: scala.collection.mutable.LinkedHashMap[String, Int]): String = {
    def intern(str: String): Int =
      table.getOrElseUpdate(str, table.size)
    val sb = new StringBuilder
    sb.append("<?xml version=\"1.0\" encoding=\"UTF-8\" standalone=\"yes\"?>\n")
    sb.append("<worksheet xmlns=\"http://schemas.openxmlformats.org/spreadsheetml/2006/main\">\n")
    sb.append("  <sheetData>\n")
    for (r <- 0 until nRows(id, s)) {
      sb.append(s"""    <row r="${r + 1}">""")
      for (c <- 0 until nCols(id, s)) {
        val ref = colLetters(c) + (r + 1)
        val (ctype, text) = cellModel(id, s, r, c)
        ctype match {
          case "s" =>
            sb.append(s"""<c r="$ref" t="s"><v>${intern(text)}</v></c>""")
          case "n" =>
            sb.append(s"""<c r="$ref"><v>${text}</v></c>""")
          case _ =>
            sb.append(s"""<c r="$ref" t="inlineStr"><is><t>${Sitemaps.esc(text)}</t></is></c>""")
        }
      }
      sb.append("</row>\n")
    }
    sb.append("  </sheetData>\n</worksheet>\n")
    sb.toString
  }

  /** Serialize the shared string table: the preserve-arm strings (leading
    * space) split across two rich-text runs with `xml:space="preserve"`
    * on the first; everything else a plain `<t>`.
    */
  private[ext] def renderSharedStrings(table: Seq[String]): String = {
    val sb = new StringBuilder
    sb.append("<?xml version=\"1.0\" encoding=\"UTF-8\" standalone=\"yes\"?>\n")
    sb.append(s"""<sst xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" count="${table.size}" uniqueCount="${table.size}">""")
    sb.append('\n')
    table.foreach { str =>
      if (str.startsWith(" ") && str.length > 4) {
        val cut = str.length / 2
        sb.append("  <si><r><rPr><b/></rPr><t xml:space=\"preserve\">")
          .append(Sitemaps.esc(str.substring(0, cut)))
          .append("</t></r><r><t>").append(Sitemaps.esc(str.substring(cut)))
          .append("</t></r></si>\n")
      } else {
        sb.append("  <si><t>").append(Sitemaps.esc(str)).append("</t></si>\n")
      }
    }
    sb.append("</sst>\n")
    sb.toString
  }

  /** One complete XLSX for workbook `id`: Content_Types, package rels,
    * `xl/workbook.xml` (sheet order by r:id), workbook rels (REVERSED on
    * `id % 3 == 0`, sheet files reverse-numbered), the worksheets, and
    * `xl/sharedStrings.xml` holding the interned table.
    */
  private[ext] def renderXlsx(id: Long): Array[Byte] = {
    val utf8 = java.nio.charset.StandardCharsets.UTF_8
    val ns = nSheets(id)
    def fileNum(s: Int): Int = ns - s
    val table = scala.collection.mutable.LinkedHashMap[String, Int]()
    val sheetXmls = (0 until ns).map(s => renderSheetXml(id, s, table))
    val contentTypes =
      "<?xml version=\"1.0\" encoding=\"UTF-8\" standalone=\"yes\"?>\n" +
        "<Types xmlns=\"http://schemas.openxmlformats.org/package/2006/content-types\">\n" +
        "  <Default Extension=\"rels\" ContentType=\"application/vnd.openxmlformats-package.relationships+xml\"/>\n" +
        "  <Default Extension=\"xml\" ContentType=\"application/xml\"/>\n" +
        s"""  <Override PartName="/xl/workbook.xml" ContentType="$CtWorkbook"/>""" + "\n" +
        (0 until ns).map(s =>
          s"""  <Override PartName="/xl/worksheets/sheet${fileNum(s)}.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.worksheet+xml"/>""")
          .mkString("\n") + "\n" +
        "  <Override PartName=\"/xl/sharedStrings.xml\" ContentType=\"application/vnd.openxmlformats-officedocument.spreadsheetml.sharedStrings+xml\"/>\n" +
        "</Types>\n"
    val pkgRels =
      "<?xml version=\"1.0\" encoding=\"UTF-8\" standalone=\"yes\"?>\n" +
        "<Relationships xmlns=\"http://schemas.openxmlformats.org/package/2006/relationships\">\n" +
        s"""  <Relationship Id="rId1" Type="$RelOfficeDocument" Target="xl/workbook.xml"/>""" +
        "\n</Relationships>\n"
    val workbook =
      "<?xml version=\"1.0\" encoding=\"UTF-8\" standalone=\"yes\"?>\n" +
        "<workbook xmlns=\"http://schemas.openxmlformats.org/spreadsheetml/2006/main\"" +
        " xmlns:r=\"http://schemas.openxmlformats.org/officeDocument/2006/relationships\">\n" +
        "  <sheets>\n" +
        (0 until ns).map(s =>
          s"""    <sheet name="${Sitemaps.esc(sheetName(id, s))}" sheetId="${s + 1}" r:id="rSheet${100 + s}"/>""")
          .mkString("\n") +
        "\n  </sheets>\n</workbook>\n"
    val wbRels = {
      val items = (0 until ns).map(s =>
        s"""  <Relationship Id="rSheet${100 + s}" Type="$RelWorksheet" Target="worksheets/sheet${fileNum(s)}.xml"/>""") :+
        s"""  <Relationship Id="rIdSst" Type="$RelSharedStrings" Target="sharedStrings.xml"/>"""
      val ordered = if (id % 3 == 0) items.reverse else items
      "<?xml version=\"1.0\" encoding=\"UTF-8\" standalone=\"yes\"?>\n" +
        "<Relationships xmlns=\"http://schemas.openxmlformats.org/package/2006/relationships\">\n" +
        ordered.mkString("\n") + "\n</Relationships>\n"
    }
    val parts = Seq(
      ("[Content_Types].xml", contentTypes),
      ("_rels/.rels", pkgRels),
      ("xl/workbook.xml", workbook),
      ("xl/_rels/workbook.xml.rels", wbRels),
      ("xl/sharedStrings.xml", renderSharedStrings(table.keys.toSeq))) ++
      (0 until ns).map(s => (s"xl/worksheets/sheet${fileNum(s)}.xml", sheetXmls(s)))
    Zip.buildZip(parts.zipWithIndex.map { case ((name, body), ord) =>
      (name, body.getBytes(utf8), if ((id + ord) % 2 == 1) 8 else 0)
    })
  }

  /** Fixture writer: one XLSX per document row. */
  def encodeXlsx(docs: DataFrame, idCol: String = "doc_id"): DataFrame =
    Stage.render(docs, idCol, "payload")(renderXlsx)

  // --------------------------------------------------------------- reader

  private final class MalformedXlsx
      extends RuntimeException("malformed xlsx", null, false, false)
  private def fail(): Nothing = throw new MalformedXlsx

  final case class XlsxCell(doc_id: Long, sheet_idx: Long, sheet_name: String,
      row_idx: Long, col_idx: Long, ctype: String, text: String)

  /** Parse the shared string table: per `<si>`, concatenate its `<t>`
    * leaves (plain or inside rich-text `<r>` runs), each trimmed unless
    * its element carries `xml:space="preserve"` — the [[Docx]] rule.
    */
  private[ext] def parseSharedStrings(xml: String): Vector[String] = {
    val leaves = Sitemaps.parseLeaves(xml, withAttrs = true,
      withMarkers = true, withRawText = true)
    if (!leaves.headOption.map(_._1).exists(_.startsWith("sst"))) fail()
    val out = Vector.newBuilder[String]
    var cur: StringBuilder = null
    var preserve = false
    var inT = false
    var n = 0
    def close(): Unit = if (cur != null) { out += cur.toString; cur = null }
    leaves.foreach { case (path, v) =>
      if (path == "sst/si@<") {
        close()
        cur = new StringBuilder
        n += 1; if (n > (1 << 22)) fail()
        inT = false
      } else if (cur != null) {
        if (path.endsWith("/t@<")) { inT = true; preserve = false }
        else if (path.endsWith("/t@xml:space")) {
          if (!inT) fail()
          v match {
            case "preserve" => preserve = true
            case "default" => preserve = false
            case _ => fail()
          }
        } else if (path.endsWith("/t")) {
          if (!inT) fail()
          cur.append(if (preserve) v else v.trim)
          inT = false
        }
      }
    }
    close()
    out.result()
  }

  /** Parse one worksheet's cells against the shared table. Leaves walk:
    * `row@<`/`row@r` set the current (1-based) row, `c@<`/`c@r`/`c@t`
    * open a cell, `v` and `is/t` leaves provide the raw value; cells
    * finalize at the next boundary. The ref's row must agree with the
    * enclosing row element.
    */
  private[ext] def parseSheet(xml: String, shared: Vector[String]): Vector[(Int, Int, String, String)] = {
    val leaves = Sitemaps.parseLeaves(xml, withAttrs = true,
      withMarkers = true, withRawText = true)
    if (!leaves.headOption.map(_._1).exists(_.startsWith("worksheet"))) fail()
    val out = Vector.newBuilder[(Int, Int, String, String)]
    var rowR = -1 // current row element's declared 1-based number
    var ref: String = null
    var ctype: String = null
    var raw: String = null
    var inCell = false
    var isPreserve = false // inline-string <t> xml:space state
    var n = 0
    def parseRef(r: String): (Int, Int) = {
      var i = 0
      var colV = 0
      while (i < r.length && r.charAt(i) >= 'A' && r.charAt(i) <= 'Z') {
        colV = colV * 26 + (r.charAt(i) - 'A' + 1)
        if (colV > (1 << 20)) fail()
        i += 1
      }
      if (i == 0 || i >= r.length) fail()
      var rowV = 0L
      while (i < r.length) {
        val ch = r.charAt(i)
        if (ch < '0' || ch > '9') fail()
        rowV = rowV * 10 + (ch - '0')
        if (rowV > (1 << 24)) fail()
        i += 1
      }
      if (rowV < 1) fail()
      (rowV.toInt - 1, colV - 1)
    }
    def closeCell(): Unit = if (inCell) {
      if (ref == null) fail()
      val (r, c) = parseRef(ref)
      if (rowR >= 0 && r != rowR - 1) fail() // ref disagrees with its row
      // a VALUE-LESS cell is routine Excel output (a styled-but-empty
      // cell in the used range, <c r="A1" s="1"/>) — skipped, not fatal;
      // a declared string/inline type with no value IS damage
      if (raw == null && (ctype == null || ctype == "n")) {
        inCell = false; ref = null; ctype = null; raw = null
        return
      }
      val t = ctype match {
        case null | "n" =>
          raw.trim
        case "s" =>
          val v = if (raw == null) fail() else raw.trim
          if (v.isEmpty || v.length > 9 || !v.forall(_.isDigit)) fail()
          val idx = v.toInt
          if (idx >= shared.length) fail() // index past the table
          shared(idx)
        case "str" =>
          if (raw == null) fail()
          raw
        case "inlineStr" =>
          if (raw == null) fail()
          raw
        case _ => fail() // unknown cell type
      }
      out += ((r, c, if (ctype == null) "n" else ctype, t))
      n += 1; if (n > (1 << 22)) fail()
      inCell = false; ref = null; ctype = null; raw = null
    }
    leaves.foreach { case (path, v) =>
      if (path.endsWith("/row@<")) { closeCell(); rowR = -1 }
      else if (path.endsWith("/row@r")) {
        if (v.isEmpty || v.length > 8 || !v.forall(_.isDigit)) fail()
        rowR = v.toInt
      } else if (path.endsWith("/c@<")) { closeCell(); inCell = true; isPreserve = false }
      else if (inCell && path.endsWith("/c@r")) ref = v
      else if (inCell && path.endsWith("/c@t")) ctype = v
      else if (inCell && path.endsWith("/c/v")) raw = v.trim
      else if (inCell && (path.endsWith("/c/is/t@<") || path.endsWith("/c/is/r/t@<")))
        isPreserve = false
      else if (inCell && (path.endsWith("/c/is/t@xml:space") || path.endsWith("/c/is/r/t@xml:space")))
        v match {
          case "preserve" => isPreserve = true
          case "default" => isPreserve = false
          case _ => fail()
        }
      else if (inCell && (path.endsWith("/c/is/t") || path.endsWith("/c/is/r/t"))) {
        // inline strings follow the SAME xml:space rule as the shared
        // table (trim unless preserved); rich-text runs concatenate
        val piece = if (isPreserve) v else v.trim
        raw = (if (raw == null) "" else raw) + piece
      }
    }
    closeCell()
    out.result()
  }

  /** Parse one workbook: OPC chain → sheet order via workbook rels →
    * shared string table → per-sheet cells.
    */
  private[ext] def parseXlsx(id: Long, bytes: Array[Byte],
      maxEntryBytes: Int): Seq[XlsxCell] = {
    val utf8 = java.nio.charset.StandardCharsets.UTF_8
    val files = Zip.parseArchiveFiles(bytes, maxEntryBytes)
    if (files.isEmpty) fail()
    val byName = files.map(f => f._1 -> f._2).toMap
    if (byName.size != files.size) fail()

    val pkgRels = Epub.groupAttrs(
      Sitemaps.parseLeaves(new String(byName.getOrElse("_rels/.rels", fail()), utf8),
        withAttrs = true, withMarkers = true),
      "Relationships/Relationship")
    val wbTargets = pkgRels.filter(_.get("Type").contains(RelOfficeDocument))
      .map(_.getOrElse("Target", fail()))
      .map(t => if (t.startsWith("/")) t.substring(1) else t)
    if (wbTargets.size != 1) fail()
    val wbPath = wbTargets.head
    if (wbPath.contains("..")) fail()

    val overrides = Epub.groupAttrs(
      Sitemaps.parseLeaves(new String(byName.getOrElse("[Content_Types].xml", fail()), utf8),
        withAttrs = true, withMarkers = true), "Types/Override")
    if (!overrides.exists(o => o.get("PartName").contains("/" + wbPath) &&
      o.get("ContentType").contains(CtWorkbook))) fail()

    val wbLeaves = Sitemaps.parseLeaves(new String(byName.getOrElse(wbPath, fail()), utf8),
      withAttrs = true, withMarkers = true)
    val sheets = Epub.groupAttrs(wbLeaves, "workbook/sheets/sheet")
      .map(s => (s.getOrElse("name", fail()), s.getOrElse("r:id", fail())))
    val wbDir = wbPath.lastIndexOf('/') match {
      case -1 => ""
      case i => wbPath.substring(0, i + 1)
    }
    val wbName = wbPath.substring(wbDir.length)
    val wbRels = Epub.groupAttrs(
      Sitemaps.parseLeaves(
        new String(byName.getOrElse(wbDir + "_rels/" + wbName + ".rels", fail()), utf8),
        withAttrs = true, withMarkers = true),
      "Relationships/Relationship")
    def resolve(target: String): String = {
      if (target.contains("..")) fail()
      if (target.startsWith("/")) target.substring(1) else wbDir + target
    }
    val sheetById = wbRels.filter(_.get("Type").contains(RelWorksheet))
      .map(r => (r.getOrElse("Id", fail()), r.getOrElse("Target", fail())))
      .toMap
    val shared: Vector[String] =
      wbRels.filter(_.get("Type").contains(RelSharedStrings))
        .map(_.getOrElse("Target", fail())) match {
        case Seq() => Vector.empty // a workbook with no string cells
        case Seq(t) =>
          parseSharedStrings(new String(byName.getOrElse(resolve(t), fail()), utf8))
        case _ => fail()
      }

    sheets.zipWithIndex.flatMap { case ((name, rid), sIdx) =>
      val target = sheetById.getOrElse(rid, fail()) // dangling r:id
      val xml = new String(byName.getOrElse(resolve(target), fail()), utf8)
      parseSheet(xml, shared).map { case (r, c, ctype, text) =>
        XlsxCell(id, sIdx.toLong, name, r.toLong, c.toLong, ctype, text)
      }
    }
  }

  /** The operator: XLSX workbooks → the per-cell table; any ZIP, OPC,
    * table-index or XML damage quarantines the whole workbook. Map-only,
    * zero shuffles.
    */
  def xlsxExtract(docs: DataFrame, idCol: String = "doc_id",
      payloadCol: String = "payload", maxEntryBytes: Int = 1 << 26): Dataset[XlsxCell] = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs
      .select(col(idCol).cast("long"), col(payloadCol))
      .as[(Long, Array[Byte])]
      .flatMap { case (id, payload) =>
        try { if (payload == null) Nil else parseXlsx(id, payload, maxEntryBytes) }
        catch { case scala.util.control.NonFatal(_) => Nil } // quarantine
      }
  }
}

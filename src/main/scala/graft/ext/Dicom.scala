package graft.ext

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** DICOM ingestion, from scratch — medical-imaging corpora are a
  * first-class training-data shelf, and every object ships as a Part
  * 10 file. Implemented per the published standard (PS3.10 file
  * format, PS3.5 data structures), Explicit VR Little Endian:
  *
  *  - 128-byte zero preamble + `DICM` magic;
  *  - File Meta Information (group 0002) with its (0002,0000)
  *    GroupLength element required FIRST and verified to cover the
  *    meta group EXACTLY; TransferSyntaxUID must be Explicit VR LE
  *    (`1.2.840.10008.1.2.1`) — implicit VR and big-endian syntaxes
  *    quarantine rather than misparse;
  *  - data elements as (group, element) LE tags with explicit VR —
  *    short-form VRs carry a 16-bit length, the long-form set
  *    (OB/OW/OF/SQ/UT/UN) 2 reserved bytes + 32-bit length; unknown
  *    VR codes are damage;
  *  - the PS3.5 EVEN-length rule enforced on every value (UI padded
  *    with NUL, strings with space — the reader strips exactly one
  *    trailing pad);
  *  - elements strictly ascending by (group, element), duplicates
  *    damage (the PS3.5 data-set ordering rule);
  *  - SQ sequences with DEFINED lengths: (FFFE,E000) items (no VR)
  *    consumed exactly, nested element walks recursing under a depth
  *    cap; undefined (0xFFFFFFFF) lengths are out of scope and
  *    quarantine cleanly;
  *  - PixelData (7FE0,0010) as OW, its length cross-checked against
  *    Rows x Columns x 2 — a geometry/payload mismatch is damage;
  *  - the file must end exactly at the last element.
  *
  * Scale shape: map-only per object, zero shuffles.
  */
object Dicom {

  private def md5Hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString

  private def nib(id: Long, i: Int): Int = {
    val m = md5Hex(s"dicom:$id")
    Integer.parseInt(m.substring(i - 1, i), 16)
  }

  // ------------------------------------------------------------- fixture

  private val TransferSyntax = "1.2.840.10008.1.2.1"
  private val SopClassCt = "1.2.840.10008.5.1.4.1.1.2"
  private val modalities = Array("CT", "MR", "US", "XA")
  private val spacings = Array("0.5", "0.75", "1.0", "1.25")

  private[ext] def modalityOf(id: Long): String = modalities(nib(id, 1) % 4)
  private[ext] def sopInstanceOf(id: Long): String = s"1.2.840.99999.$id"
  private[ext] def studyDateOf(id: Long): String = {
    val d = java.time.LocalDate.of(2023, 1, 1).plusDays(id % 365)
    d.format(java.time.format.DateTimeFormatter.ofPattern("yyyyMMdd"))
  }
  private[ext] def patientNameOf(id: Long): String = s"Subject^S$id"
  private[ext] def patientIdOf(id: Long): String = s"P$id"
  private[ext] def seriesNumberOf(id: Long): Long = 1L + nib(id, 2) % 9
  private[ext] def rowsOf(id: Long): Int = 2
  private[ext] def colsOf(id: Long): Int = 2 + nib(id, 3) % 3
  private[ext] def pixelSpacingOf(id: Long): String = s"0.5\\${spacings(nib(id, 4) % 4)}"
  private[ext] def nSeqItemsOf(id: Long): Int = 1 + (id % 2).toInt
  private[ext] def seqRefOf(id: Long, i: Int): String = s"1.2.840.99999.$id.${i + 1}"
  private[ext] def pixelLenOf(id: Long): Int = rowsOf(id) * colsOf(id) * 2
  private[ext] def pixelsOf(id: Long): Array[Byte] = {
    val hx = md5Hex(s"px:$id")
    (0 until pixelLenOf(id)).map(i => Integer.parseInt(hx.substring(2 * i, 2 * i + 2), 16).toByte).toArray
  }

  private def ascii(s: String): Array[Byte] = s.getBytes(java.nio.charset.StandardCharsets.US_ASCII)

  private final class W {
    val out = new java.io.ByteArrayOutputStream()
    def u16(v: Int): Unit = { out.write(v & 0xff); out.write((v >> 8) & 0xff) }
    def u32(v: Long): Unit = (0 until 4).foreach(i => out.write(((v >>> (8 * i)) & 0xff).toInt))
    def raw(b: Array[Byte]): Unit = out.write(b, 0, b.length)
    def tag(group: Int, elem: Int): Unit = { u16(group); u16(elem) }
    /** Explicit-VR element; pads odd values per PS3.5 (NUL for UI/OB, space
      * otherwise).
      */
    def element(group: Int, elem: Int, vr: String, value: Array[Byte]): Unit = {
      val padded =
        if (value.length % 2 == 0) value
        else value :+ (if (vr == "UI" || vr == "OB") 0.toByte else ' '.toByte)
      tag(group, elem)
      raw(ascii(vr))
      if (longForm(vr)) { u16(0); u32(padded.length.toLong) }
      else u16(padded.length)
      raw(padded)
    }
  }

  private def longForm(vr: String): Boolean =
    vr == "OB" || vr == "OW" || vr == "OF" || vr == "SQ" || vr == "UT" || vr == "UN"

  private[ext] def renderDicom(id: Long): Array[Byte] = {
    // meta group body (everything after the GroupLength element)
    val meta = new W
    meta.element(0x0002, 0x0001, "OB", Array[Byte](0x00, 0x01))
    meta.element(0x0002, 0x0002, "UI", ascii(SopClassCt))
    meta.element(0x0002, 0x0003, "UI", ascii(sopInstanceOf(id)))
    meta.element(0x0002, 0x0010, "UI", ascii(TransferSyntax))
    meta.element(0x0002, 0x0012, "UI", ascii("1.2.840.99999.0.1"))
    val metaBody = meta.out.toByteArray

    // the referenced-image sequence: defined-length items
    val seq = new W
    (0 until nSeqItemsOf(id)).foreach { i =>
      val item = new W
      item.element(0x0008, 0x1150, "UI", ascii(SopClassCt))
      item.element(0x0008, 0x1155, "UI", ascii(seqRefOf(id, i)))
      val body = item.out.toByteArray
      seq.tag(0xfffe, 0xe000)
      seq.u32(body.length.toLong)
      seq.raw(body)
    }
    val seqBody = seq.out.toByteArray

    val ds = new W
    ds.element(0x0008, 0x0020, "DA", ascii(studyDateOf(id)))
    ds.element(0x0008, 0x0060, "CS", ascii(modalityOf(id)))
    ds.element(0x0008, 0x1140, "SQ", seqBody)
    ds.element(0x0010, 0x0010, "PN", ascii(patientNameOf(id)))
    ds.element(0x0010, 0x0020, "LO", ascii(patientIdOf(id)))
    ds.element(0x0020, 0x0011, "IS", ascii(seriesNumberOf(id).toString))
    val us = new W
    us.u16(rowsOf(id))
    ds.element(0x0028, 0x0010, "US", us.out.toByteArray)
    val us2 = new W
    us2.u16(colsOf(id))
    ds.element(0x0028, 0x0011, "US", us2.out.toByteArray)
    ds.element(0x0028, 0x0030, "DS", ascii(pixelSpacingOf(id)))
    ds.element(0x7fe0, 0x0010, "OW", pixelsOf(id))

    val out = new W
    out.raw(new Array[Byte](128)) // preamble
    out.raw(ascii("DICM"))
    out.element(0x0002, 0x0000, "UL", { val w = new W; w.u32(metaBody.length.toLong); w.out.toByteArray })
    out.raw(metaBody)
    out.raw(ds.out.toByteArray)
    out.out.toByteArray
  }

  /** Fixture writer: one Part 10 file per document row. */
  def encodeDicom(docs: DataFrame, idCol: String = "doc_id"): DataFrame =
    Stage.render(docs, idCol, "dicom")(renderDicom)

  // --------------------------------------------------------------- reader

  private final class MalformedDicom
      extends RuntimeException("malformed dicom", null, false, false)
  private def fail(): Nothing = throw new MalformedDicom

  private val MaxLen = 1 << 26
  private val MaxDepth = 8
  private val ShortVrs = Set("AE", "AS", "AT", "CS", "DA", "DS", "DT", "FL", "FD",
    "IS", "LO", "LT", "PN", "SH", "SL", "SS", "ST", "TM", "UI", "UL", "US")
  private val LongVrs = Set("OB", "OW", "OF", "SQ", "UT", "UN")

  private def u16At(b: Array[Byte], p: Int): Int = (b(p) & 0xff) | ((b(p + 1) & 0xff) << 8)
  private def u32At(b: Array[Byte], p: Int): Long =
    (b(p) & 0xffL) | ((b(p + 1) & 0xffL) << 8) | ((b(p + 2) & 0xffL) << 16) |
      ((b(p + 3) & 0xffL) << 24)

  private final case class Elem(group: Int, elem: Int, vr: String, vStart: Int, vEnd: Int)

  /** One explicit-VR element header at `p`. */
  private def readElem(b: Array[Byte], p: Int, limit: Int): (Elem, Int) = {
    if (p + 8 > limit) fail()
    val group = u16At(b, p)
    val elem = u16At(b, p + 2)
    val vr = new String(b, p + 4, 2, java.nio.charset.StandardCharsets.US_ASCII)
    val (len, vs) =
      if (ShortVrs.contains(vr)) (u16At(b, p + 6).toLong, p + 8)
      else if (LongVrs.contains(vr)) {
        if (p + 12 > limit) fail()
        if (b(p + 6) != 0 || b(p + 7) != 0) fail() // reserved bytes
        (u32At(b, p + 8), p + 12)
      } else fail()
    if (len == 0xffffffffL) fail() // undefined lengths out of scope
    if (len % 2 != 0) fail() // PS3.5 even-length rule
    if (len > MaxLen || vs + len > limit) fail()
    (Elem(group, elem, vr, vs, vs + len.toInt), vs + len.toInt)
  }

  /** Strip exactly one trailing pad byte (NUL for UI, space otherwise). */
  private def strValue(b: Array[Byte], e: Elem): String = {
    var end = e.vEnd
    if (end > e.vStart) {
      val last = b(end - 1)
      if (e.vr == "UI" && last == 0) end -= 1
      else if (e.vr != "UI" && last == ' ') end -= 1
    }
    new String(b, e.vStart, end - e.vStart, java.nio.charset.StandardCharsets.US_ASCII)
  }

  /** Walk a defined-length element region; returns elements in order,
    * enforcing strict (group, element) ascent.
    */
  private def walk(b: Array[Byte], from: Int, until: Int): Vector[Elem] = {
    var p = from
    var prev = -1L
    val out = Vector.newBuilder[Elem]
    while (p < until) {
      val (e, q) = readElem(b, p, until)
      val key = (e.group.toLong << 16) | e.elem
      if (key <= prev) fail() // strictly ascending, no duplicates
      prev = key
      out += e
      p = q
    }
    if (p != until) fail()
    out.result()
  }

  /** SQ value: defined-length (FFFE,E000) items, each a nested walk —
    * and any SQ element INSIDE an item recurses here too, so nested
    * sequences are structurally validated all the way down (capped).
    */
  private def seqItems(b: Array[Byte], from: Int, until: Int, depth: Int): Vector[Vector[Elem]] = {
    if (depth > MaxDepth) fail()
    var p = from
    val out = Vector.newBuilder[Vector[Elem]]
    while (p < until) {
      if (p + 8 > until) fail()
      if (u16At(b, p) != 0xfffe || u16At(b, p + 2) != 0xe000) fail()
      val len = u32At(b, p + 4)
      if (len == 0xffffffffL) fail()
      if (len > MaxLen || p + 8 + len > until) fail()
      val items = walk(b, p + 8, p + 8 + len.toInt)
      items.foreach { e =>
        if (e.vr == "SQ") seqItems(b, e.vStart, e.vEnd, depth + 1)
      }
      out += items
      p += 8 + len.toInt
    }
    if (p != until) fail()
    out.result()
  }

  final case class DicomRec(
    doc_id: Long, n_meta: Long, n_elements: Long, transfer_syntax: String,
    sop_class: String, sop_instance: String, study_date: String, modality: String,
    patient_name: String, patient_id: String, series_number: Long,
    n_rows: Long, n_cols: Long, pixel_spacing: String, n_seq_items: Long,
    seq_refs: String, pixel_len: Long, pixel_checksum: Long)

  private[ext] def parseDicom(id: Long, b: Array[Byte]): DicomRec = {
    if (b == null || b.length < 140 || b.length > MaxLen) fail()
    (0 until 128).foreach(i => if (b(i) != 0) fail()) // zero preamble
    if (b(128) != 'D' || b(129) != 'I' || b(130) != 'C' || b(131) != 'M') fail()
    // (0002,0000) UL GroupLength must come first
    val (gl, afterGl) = readElem(b, 132, b.length)
    if (gl.group != 0x0002 || gl.elem != 0x0000 || gl.vr != "UL" ||
      gl.vEnd - gl.vStart != 4) fail()
    val metaLen = u32At(b, gl.vStart)
    if (metaLen > MaxLen || afterGl + metaLen > b.length) fail()
    val metaEnd = afterGl + metaLen.toInt
    val meta = walk(b, afterGl, metaEnd)
    if (meta.exists(_.group != 0x0002)) fail() // group length covers exactly group 0002
    def metaStr(elem: Int): String =
      strValue(b, meta.find(e => e.elem == elem).getOrElse(fail()))
    val ts = metaStr(0x0010)
    if (ts != TransferSyntax) fail() // implicit VR / big-endian out of scope
    val ds = walk(b, metaEnd, b.length)
    if (ds.exists(_.group == 0x0002)) fail() // meta elements must not leak
    def find(group: Int, elem: Int): Elem =
      ds.find(e => e.group == group && e.elem == elem).getOrElse(fail())
    def str(group: Int, elem: Int): String = strValue(b, find(group, elem))
    val rowsE = find(0x0028, 0x0010)
    val colsE = find(0x0028, 0x0011)
    if (rowsE.vr != "US" || rowsE.vEnd - rowsE.vStart != 2 ||
      colsE.vr != "US" || colsE.vEnd - colsE.vStart != 2) fail()
    val nRows = u16At(b, rowsE.vStart)
    val nCols = u16At(b, colsE.vStart)
    val px = find(0x7fe0, 0x0010)
    if (px.vr != "OW") fail()
    val pxLen = px.vEnd - px.vStart
    // Long arithmetic: 2 * 46342^2 wraps a 32-bit product and would
    // false-accept a crafted geometry (review finding)
    if (pxLen.toLong != nRows.toLong * nCols.toLong * 2L) fail()
    var cks = 0L
    (px.vStart until px.vEnd).foreach(i => cks = (cks * 31 + (b(i) & 0xff)) % 1000000007L)
    val sq = find(0x0008, 0x1140)
    if (sq.vr != "SQ") fail()
    val items = seqItems(b, sq.vStart, sq.vEnd, 0)
    val refs = items.map { item =>
      strValue(b, item.find(e => e.group == 0x0008 && e.elem == 0x1155).getOrElse(fail()))
    }
    val series = str(0x0020, 0x0011).trim
    val seriesNum = series.toLongOption.getOrElse(fail())
    DicomRec(id, meta.length.toLong + 1, ds.length.toLong, ts,
      metaStr(0x0002), metaStr(0x0003), str(0x0008, 0x0020), str(0x0008, 0x0060),
      str(0x0010, 0x0010), str(0x0010, 0x0020), seriesNum,
      nRows.toLong, nCols.toLong, str(0x0028, 0x0030), items.length.toLong,
      refs.mkString(","), pxLen.toLong, cks)
  }

  private[ext] def parseDicomSafe(id: Long, b: Array[Byte]): Seq[DicomRec] =
    try Seq(parseDicom(id, b))
    catch { case scala.util.control.NonFatal(_) => Seq.empty }

  /** `dicom_meta`: the Part 10 inventory. Map-only. */
  def dicomMeta(docs: DataFrame, idCol: String = "doc_id",
                binCol: String = "dicom"): Dataset[DicomRec] = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs
      .filter(col(idCol).isNotNull)
      .select(col(idCol).cast("long"), col(binCol))
      .as[(Long, Array[Byte])]
      .flatMap { case (id, b) => if (b == null) Nil else parseDicomSafe(id, b) }
  }
}

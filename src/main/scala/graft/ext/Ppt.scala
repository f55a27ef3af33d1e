package graft.ext

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Legacy PowerPoint (.ppt, MS-PPT 97-2003) text extraction — the last
  * of the three 97-2003 office binaries, riding the shared from-scratch
  * CFB/OLE2 layer ([[Doc.Cfb]] / [[Doc.renderCfb]]) beside [[Doc]]
  * (.doc) and [[Xls]] (.xls).
  *
  * A .ppt is a compound file whose `PowerPoint Document` stream is a
  * tree of 8-byte-headed records (version/instance, type, length;
  * version 0xF = container). Text does NOT live at a fixed offset — the
  * reader must follow the persist-directory resolution chain, exactly
  * as a real consumer does:
  *
  *  1. the `Current User` stream's CurrentUserAtom (magic headerToken
  *     distinguishes unencrypted files) → `offsetToCurrentEdit`;
  *  2. the UserEditAtom there → `offsetPersistDirectory` and the
  *     document's persist id (`docPersistIdRef`);
  *  3. the PersistDirectoryAtom → persist-id → stream-offset map
  *     (packed entries: 20-bit first id + 12-bit count, then offsets);
  *  4. the DocumentContainer at THAT offset → SlideListWithText
  *     (instance 0) → per slide a SlidePersistAtom (slide id, persist
  *     ref, declared text count — all cross-checked: the persist ref
  *     must resolve through the directory to a SlideContainer) followed
  *     by TextHeaderAtom + TextCharsAtom (UTF-16LE) / TextBytesAtom
  *     (cp1252, including the 0x80-0x9F quad: curly quotes, ellipsis;
  *     the five undefined bytes are damage).
  *
  * The fixture writes what an incrementally-saved real file looks like:
  * a STALE DocumentContainer from a "previous edit" sits earlier in the
  * stream with decoy text — a reader that scans from offset 0 instead
  * of following the chain extracts the wrong text and fails the oracle.
  *
  * Out of scope, each a clean quarantine: encrypted files (the
  * CurrentUserAtom token), incremental edit CHAINS (`offsetLastEdit !=
  * 0`), undefined cp1252 bytes, any structural mismatch.
  *
  * Scale shape: map-only per document, zero shuffles. No reference
  * citation possible — the reference (`src/flinkarima.py:379-416`) has
  * no file surface; north-star scope completing the office shelf.
  */
object Ppt {

  private def md5Hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString

  private val words = Array("anchor", "bloom", "cedar", "dune", "ember", "flint", "grove", "harbor")

  // record types (MS-PPT numbering)
  private val RtDocument = 0x03E8
  private val RtDocumentAtom = 0x03E9
  private val RtSlide = 0x03EE
  private val RtSlideAtom = 0x03EF
  private val RtSlidePersistAtom = 0x03F3
  private val RtSlideListWithText = 0x0FF0
  private val RtUserEditAtom = 0x0FF5
  private val RtCurrentUserAtom = 0x0FF6
  private val RtTextHeaderAtom = 0x0F9F
  private val RtTextCharsAtom = 0x0FA0
  private val RtTextBytesAtom = 0x0FA8
  private val RtPersistDirectoryAtom = 0x1772

  private val HeaderTokenPlain = 0xE391C05F
  private val HeaderTokenEncrypted = 0xF3D1C4DF

  // ------------------------------------------------------------- fixture

  private[ext] def nSlides(id: Long): Int = {
    val m = md5Hex(s"ppt:$id")
    1 + Integer.parseInt(m.substring(0, 1), 16) % 3
  }

  private[ext] def nTexts(id: Long, j: Int): Int = {
    val m = md5Hex(s"ppt:$id")
    1 + Integer.parseInt(m.substring(1 + j, 2 + j), 16) % 2
  }

  private[ext] def slideIdOf(id: Long, j: Int): Long = 256L + 4 * j + id % 4

  /** Chars (UTF-16) vs Bytes (cp1252) arm. */
  private[ext] def isCharsArm(id: Long, j: Int, t: Int): Boolean = (id + j + t) % 2 == 0

  /** The text every slide block must recover. Hazards: the cp1252
    * 0x80-0x9F quad (curly quotes + ellipsis) on one arm, e-acute on
    * another; a non-cp1252 Greek capital only on Chars-arm texts.
    */
  private[ext] def textOf(id: Long, j: Int, t: Int): String = {
    val m = md5Hex(s"ppt:$id")
    def nib(i: Int) = Integer.parseInt(m.substring(i - 1, i), 16)
    val w = words(nib(5 + 2 * j + t) % 8)
    val hazard = ((id + j + t) % 3) match {
      case 0 => " “q”…"
      case 1 => " é"
      case _ => ""
    }
    val uni = if (isCharsArm(id, j, t) && (id + j + t) % 5 == 0) " Δ" else ""
    s"s$j t$t of ppt $id: $w$hazard$uni"
  }

  // cp1252's 0x80-0x9F block (the rest is latin-1); -1 = undefined byte
  private val cp1252High: Array[Int] = Array(
    0x20AC, -1, 0x201A, 0x0192, 0x201E, 0x2026, 0x2020, 0x2021,
    0x02C6, 0x2030, 0x0160, 0x2039, 0x0152, -1, 0x017D, -1,
    -1, 0x2018, 0x2019, 0x201C, 0x201D, 0x2022, 0x2013, 0x2014,
    0x02DC, 0x2122, 0x0161, 0x203A, 0x0153, -1, 0x017E, 0x0178)

  private[ext] def cp1252Encode(s: String): Array[Byte] = {
    val out = new Array[Byte](s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i).toInt
      out(i) =
        if (c < 0x80 || (c >= 0xA0 && c <= 0xFF)) c.toByte
        else {
          val k = cp1252High.indexOf(c)
          if (k < 0) throw new IllegalArgumentException(s"not cp1252-able: U+${c.toHexString}")
          (0x80 + k).toByte
        }
      i += 1
    }
    out
  }

  private def rec(ver: Int, inst: Int, typ: Int, body: Array[Byte]): Array[Byte] = {
    val out = java.nio.ByteBuffer.allocate(8 + body.length)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    out.putShort(((inst << 4) | (ver & 0xF)).toShort)
    out.putShort(typ.toShort)
    out.putInt(body.length)
    out.put(body)
    out.array()
  }

  private def u16le(v: Int): Array[Byte] = Array((v & 0xff).toByte, ((v >> 8) & 0xff).toByte)
  private def u32le(v: Int): Array[Byte] =
    Array((v & 0xff).toByte, ((v >> 8) & 0xff).toByte, ((v >> 16) & 0xff).toByte, ((v >>> 24) & 0xff).toByte)

  private def concat(parts: Array[Byte]*): Array[Byte] = {
    val out = new Array[Byte](parts.map(_.length).sum)
    var p = 0
    parts.foreach { b => System.arraycopy(b, 0, out, p, b.length); p += b.length }
    out
  }

  private def slidePersistAtom(persistRef: Int, nTexts: Int, slideId: Long): Array[Byte] =
    rec(0, 0, RtSlidePersistAtom, concat(
      u32le(persistRef), u32le(0), u32le(nTexts), u32le(slideId.toInt), u32le(0)))

  private def textRecords(id: Long, j: Int, t: Int): Array[Byte] = {
    val txt = textOf(id, j, t)
    val header = rec(0, t, RtTextHeaderAtom, u32le(if (t == 0) 0 else 1)) // title / body
    val atom =
      if (isCharsArm(id, j, t))
        rec(0, 0, RtTextCharsAtom, txt.getBytes(java.nio.charset.StandardCharsets.UTF_16LE))
      else rec(0, 0, RtTextBytesAtom, cp1252Encode(txt))
    concat(header, atom)
  }

  private def documentContainer(id: Long, stale: Boolean): Array[Byte] = {
    val docAtom = rec(1, 0, RtDocumentAtom, new Array[Byte](40))
    val slwtBody = concat((0 until nSlides(id)).map { j =>
      val texts = concat((0 until nTexts(id, j)).map { t =>
        if (stale) {
          val header = rec(0, t, RtTextHeaderAtom, u32le(0))
          val atom = rec(0, 0, RtTextBytesAtom,
            cp1252Encode(s"STALE decoy $j/$t must not surface"))
          concat(header, atom)
        } else textRecords(id, j, t)
      }: _*)
      concat(slidePersistAtom(2 + j, nTexts(id, j), slideIdOf(id, j)), texts)
    }: _*)
    val slwt = rec(0xF, 0, RtSlideListWithText, slwtBody)
    rec(0xF, 0, RtDocument, concat(docAtom, slwt))
  }

  private[ext] def renderPptStreams(id: Long): (Array[Byte], Array[Byte]) = {
    // stream layout mirrors a one-incremental-save real file: the stale
    // previous-edit DocumentContainer FIRST, then the slide containers,
    // then the live DocumentContainer, persist directory, UserEditAtom
    val stale = documentContainer(id, stale = true)
    val slides = (0 until nSlides(id)).map { _ =>
      rec(0xF, 0, RtSlide, rec(2, 0, RtSlideAtom, new Array[Byte](24)))
    }
    val live = documentContainer(id, stale = false)
    val slideOffsets = slides.scanLeft(stale.length)(_ + _.length)
    val liveOff = slideOffsets.last
    val persistOff = liveOff + live.length
    // one packed directory group: ids 1 (document), 2..n+1 (slides)
    val persistBody = concat(
      u32le((((1 + nSlides(id)) << 20) | 1)) +:
        (u32le(liveOff) +: (0 until nSlides(id)).map(j => u32le(slideOffsets(j)))): _*)
    val persistDir = rec(0, 0, RtPersistDirectoryAtom, persistBody)
    val editOff = persistOff + persistDir.length
    val userEdit = rec(0, 0, RtUserEditAtom, concat(
      u32le(slideIdOf(id, nSlides(id) - 1).toInt), // lastSlideIdRef
      u16le(0), Array(0.toByte, 3.toByte), // version, minor, major
      u32le(0), // offsetLastEdit: 0 = no earlier edit in the chain
      u32le(persistOff),
      u32le(1), // docPersistIdRef
      u32le(2 + nSlides(id)), // persistIdSeed
      u16le(1), u16le(0))) // lastView, unused
    val ppStream = concat(concat(stale +: slides: _*), live, persistDir, userEdit)
    val user = "graft".getBytes(java.nio.charset.StandardCharsets.US_ASCII)
    val currentUser = rec(0, 0, RtCurrentUserAtom, concat(
      u32le(0x14), u32le(HeaderTokenPlain), u32le(editOff),
      u16le(user.length), u16le(0x03F4), Array(3.toByte, 0.toByte), u16le(0),
      user, u32le(9)))
    (currentUser, ppStream)
  }

  private[ext] def renderPpt(id: Long): Array[Byte] = {
    val (cu, pp) = renderPptStreams(id)
    Doc.renderCfb(Seq(("Current User", cu), ("PowerPoint Document", pp)))
  }

  /** Fixture writer: one compound file per document row. */
  def encodePpt(docs: DataFrame, idCol: String = "doc_id"): DataFrame =
    Stage.render(docs, idCol, "ppt")(renderPpt)

  // --------------------------------------------------------------- parser

  private final class MalformedPpt
      extends RuntimeException("malformed ppt", null, false, false)
  private def fail(): Nothing = throw new MalformedPpt

  private def rdU16(b: Array[Byte], p: Int): Int = {
    if (p < 0 || p + 2 > b.length) fail()
    (b(p) & 0xff) | ((b(p + 1) & 0xff) << 8)
  }
  private def rdU32(b: Array[Byte], p: Int): Long = {
    if (p < 0 || p + 4 > b.length) fail()
    (b(p) & 0xffL) | ((b(p + 1) & 0xffL) << 8) | ((b(p + 2) & 0xffL) << 16) | ((b(p + 3) & 0xffL) << 24)
  }

  /** One record header at `off`: (version, instance, type, bodyStart,
    * bodyEnd) — bounds-checked against `limit`.
    */
  private def recAt(b: Array[Byte], off: Int, limit: Int): (Int, Int, Int, Int, Int) = {
    if (off < 0 || off + 8 > limit) fail()
    val vi = rdU16(b, off)
    val typ = rdU16(b, off + 2)
    val len = rdU32(b, off + 4)
    if (len > limit - off - 8) fail()
    (vi & 0xF, vi >>> 4, typ, off + 8, off + 8 + len.toInt)
  }

  private def cp1252Decode(b: Array[Byte], from: Int, until: Int): String = {
    val sb = new StringBuilder(until - from)
    var i = from
    while (i < until) {
      val v = b(i) & 0xff
      if (v >= 0x80 && v <= 0x9F) {
        val c = cp1252High(v - 0x80)
        if (c < 0) fail() // one of the five undefined cp1252 bytes
        sb.append(c.toChar)
      } else sb.append(v.toChar)
      i += 1
    }
    sb.toString
  }

  final case class PptText(doc_id: Long, slide_idx: Long, slide_id: Long,
      text_idx: Long, n_bytes: Long, checksum: Long)

  private[ext] def parsePpt(id: Long, bytes: Array[Byte]): Seq[PptText] = {
    val cfb = try new Doc.Cfb(bytes) catch { case scala.util.control.NonFatal(_) => fail() }
    val cu = cfb.stream("Current User").getOrElse(fail())
    val pp = cfb.stream("PowerPoint Document").getOrElse(fail())

    // 1. CurrentUserAtom → offsetToCurrentEdit
    val (cuVer, _, cuTyp, cuBody, cuEnd) = recAt(cu, 0, cu.length)
    if (cuVer != 0 || cuTyp != RtCurrentUserAtom || cuEnd - cuBody < 24) fail()
    if (rdU32(cu, cuBody) != 0x14L) fail()
    val token = rdU32(cu, cuBody + 4)
    if (token == (HeaderTokenEncrypted & 0xffffffffL)) fail() // encrypted: quarantine
    if (token != (HeaderTokenPlain & 0xffffffffL)) fail()
    val editOff = rdU32(cu, cuBody + 8)
    if (rdU16(cu, cuBody + 14) != 0x03F4 || (cu(cuBody + 16) & 0xff) != 3) fail()

    // 2. UserEditAtom → persist directory offset + document persist id
    val (ueVer, _, ueTyp, ueBody, ueEnd) = recAt(pp, editOff.toInt, pp.length)
    if (ueVer != 0 || ueTyp != RtUserEditAtom || ueEnd - ueBody < 28) fail()
    if (rdU32(pp, ueBody + 8) != 0L) fail() // incremental edit chains: out of scope
    val persistDirOff = rdU32(pp, ueBody + 12)
    val docPersistId = rdU32(pp, ueBody + 16)

    // 3. PersistDirectoryAtom → persist id → offset
    val (pdVer, _, pdTyp, pdBody, pdEnd) = recAt(pp, persistDirOff.toInt, pp.length)
    if (pdVer != 0 || pdTyp != RtPersistDirectoryAtom) fail()
    val persist = scala.collection.mutable.HashMap.empty[Long, Long]
    var p = pdBody
    while (p < pdEnd) {
      val head = rdU32(pp, p)
      val firstId = head & 0xFFFFF
      val count = (head >>> 20).toInt
      if (count == 0 || p + 4 + 4 * count > pdEnd) fail()
      for (k <- 0 until count) {
        if (persist.put(firstId + k, rdU32(pp, p + 4 + 4 * k)).isDefined) fail()
      }
      p += 4 + 4 * count
    }

    // 4. DocumentContainer via the directory — NEVER by scanning
    val docOff = persist.getOrElse(docPersistId, fail())
    val (dVer, _, dTyp, dBody, dEnd) = recAt(pp, docOff.toInt, pp.length)
    if (dVer != 0xF || dTyp != RtDocument) fail()

    // locate the slide SlideListWithText (instance 0); exactly one
    var slwt: Option[(Int, Int)] = None
    var c = dBody
    while (c < dEnd) {
      val (v, inst, typ, body, end) = recAt(pp, c, dEnd)
      if (typ == RtSlideListWithText && inst == 0) {
        if (v != 0xF || slwt.isDefined) fail()
        slwt = Some((body, end))
      }
      c = end
    }
    val (sBody, sEnd) = slwt.getOrElse(fail())

    // 5. walk the SLWT: SlidePersistAtom opens a slide; TextHeaderAtom
    // arms the next text atom; unknown non-container atoms are skipped
    final case class Slide(persistRef: Long, slideId: Long, declared: Long,
      texts: scala.collection.mutable.ArrayBuffer[String])
    val slides = Vector.newBuilder[Slide]
    var cur: Slide = null
    var armed = false
    var w = sBody
    while (w < sEnd) {
      val (v, _, typ, body, end) = recAt(pp, w, sEnd)
      typ match {
        case RtSlidePersistAtom =>
          if (v != 0 || end - body != 20) fail()
          cur = Slide(rdU32(pp, body), rdU32(pp, body + 12), rdU32(pp, body + 8),
            scala.collection.mutable.ArrayBuffer.empty[String])
          slides += cur
          armed = false
        case RtTextHeaderAtom =>
          if (cur == null || armed) fail()
          armed = true
        case RtTextCharsAtom =>
          if (cur == null || !armed) fail()
          if ((end - body) % 2 != 0) fail()
          cur.texts += new String(pp, body, end - body,
            java.nio.charset.StandardCharsets.UTF_16LE)
          armed = false
        case RtTextBytesAtom =>
          if (cur == null || !armed) fail()
          cur.texts += cp1252Decode(pp, body, end)
          armed = false
        case _ => () // StyleTextPropAtom and friends: skipped
      }
      w = end
    }
    if (armed) fail() // a TextHeaderAtom with no text atom

    // 6. cross-check every slide against the persist directory and its
    // declared text count, then emit in presentation (SLWT) order
    slides.result().zipWithIndex.flatMap { case (s, j) =>
      val off = persist.getOrElse(s.persistRef, fail())
      val (sv, _, st, _, _) = recAt(pp, off.toInt, pp.length)
      if (sv != 0xF || st != RtSlide) fail()
      if (s.declared != s.texts.length.toLong) fail()
      s.texts.zipWithIndex.map { case (txt, t) =>
        val b = txt.getBytes(java.nio.charset.StandardCharsets.UTF_8)
        var cs = 0L
        b.foreach(x => cs = (cs * 31 + (x & 0xff)) % 1000000007L)
        PptText(id, j.toLong, s.slideId, t.toLong, b.length.toLong, cs)
      }
    }
  }

  private[ext] def parsePptSafe(id: Long, bytes: Array[Byte]): Seq[PptText] =
    try parsePpt(id, bytes)
    catch { case scala.util.control.NonFatal(_) => Seq.empty }

  /** `ppt_extract`: every text block of every slide. Map-only. */
  def pptExtract(docs: DataFrame, idCol: String = "doc_id",
                 binCol: String = "ppt"): Dataset[PptText] = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs
      .filter(col(idCol).isNotNull)
      .select(col(idCol).cast("long"), col(binCol))
      .as[(Long, Array[Byte])]
      .flatMap { case (id, b) => if (b == null) Nil else parsePptSafe(id, b) }
  }
}

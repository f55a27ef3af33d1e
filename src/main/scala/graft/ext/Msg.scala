package graft.ext

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Outlook message (.msg, MS-OXMSG) ingestion — the third rider on the
  * shared OLE2 container ([[Doc.Cfb]]), covering the enterprise-email
  * shelf beside the [[Mbox]] internet-mail stack.
  *
  * A .msg is a compound file whose top level carries one
  * `__properties_version1.0` stream (a 32-byte header + 16-byte records:
  * property tag, flags, and for variable-length types the declared value
  * SIZE) plus one `__substg1.0_XXXXYYYY` stream per variable-length
  * property — XXXX the property id, YYYY the type: `001F` PT_UNICODE
  * (UTF-16LE, no terminator in the stream) or `001E` PT_STRING8 (cp1252).
  * The reader walks the property stream, resolves each string property's
  * value from its substg stream BY THE NAME the tag implies, and
  * cross-checks the declared size against the stream (the terminator's
  * inclusion varies by producer: `len` and `len + width` both accepted,
  * anything else is damage).
  *
  * Extracted properties: subject (0x0037), sender name (0x0C1A), body
  * (0x1000) — the sender cycling PT_UNICODE / PT_STRING8 by id parity so
  * both decoders grade. Unknown property records and extra substg
  * streams are SKIPPED (real messages carry dozens), but a KNOWN
  * property whose substg is missing, a size mismatch, or a malformed
  * record table quarantines the message.
  *
  * Scale shape: map-only per document, zero shuffles. No reference
  * citation possible — the reference (`src/flinkarima.py:379-416`) has
  * no file surface; north-star scope beside [[Mbox]] and the other CFB
  * formats ([[Doc]], [[Xls]]).
  */
object Msg {

  private def md5Hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString

  private val words = Array("anchor", "bloom", "cedar", "dune", "ember", "flint", "grove", "harbor")

  // ------------------------------------------------------------- fixture

  private[ext] def subjectOf(id: Long): String = {
    val m = md5Hex(s"msg:$id")
    def nib(i: Int) = Integer.parseInt(m.substring(i - 1, i), 16)
    val hazard = (id % 3) match {
      case 0 => " \u00e9"
      case 1 => " \u0394" // non-cp1252: subject is always PT_UNICODE, fine
      case _ => ""
    }
    s"Subject $id: " + words(nib(1) % 8) + hazard
  }

  private[ext] def senderOf(id: Long): String = {
    val m = md5Hex(s"msg:$id")
    def nib(i: Int) = Integer.parseInt(m.substring(i - 1, i), 16)
    // the PT_STRING8 arm (even ids) must stay cp1252-encodable
    s"Sender " + words(nib(2) % 8) + (if (id % 4 == 1) " \u00e9" else "")
  }

  private[ext] def nBodyLines(id: Long): Int = {
    val m = md5Hex(s"msg:$id")
    1 + Integer.parseInt(m.substring(2, 3), 16) % 4
  }

  private[ext] def bodyOf(id: Long): String = {
    val m = md5Hex(s"msg:$id")
    def nib(i: Int) = Integer.parseInt(m.substring(i - 1, i), 16)
    (0 until nBodyLines(id)).map { l =>
      s"line $l of msg $id: " + words(nib(4 + l) % 8) + " " + words(nib(9 + l) % 8) +
        (if ((id + l) % 3 == 0) " \u201cq\u201d" else "")
    }.mkString("\r\n")
  }

  private val TagSubject = 0x0037
  private val TagSender = 0x0C1A
  private val TagBody = 0x1000
  private val TypeUnicode = 0x001F
  private val TypeString8 = 0x001E

  private[ext] def renderMsg(id: Long): Array[Byte] = {
    val senderIs8 = id % 2 == 0
    val props = Seq[(Int, Int, String)](
      (TagSubject, TypeUnicode, subjectOf(id)),
      (TagSender, if (senderIs8) TypeString8 else TypeUnicode, senderOf(id)),
      (TagBody, TypeUnicode, bodyOf(id)))

    def encode(typ: Int, s: String): Array[Byte] =
      if (typ == TypeUnicode) s.getBytes(java.nio.charset.StandardCharsets.UTF_16LE)
      else Charset.cp1252Encode(s)

    val propStream = new java.io.ByteArrayOutputStream(128)
    def u32(v: Int): Unit = {
      propStream.write(v & 0xff); propStream.write((v >> 8) & 0xff)
      propStream.write((v >> 16) & 0xff); propStream.write((v >>> 24) & 0xff)
    }
    // top-level header: 8 reserved + nextRecip + nextAttach + recipCount +
    // attachCount + 8 reserved = 32 bytes
    u32(0); u32(0); u32(0); u32(0); u32(0); u32(0); u32(0); u32(0)
    props.foreach { case (tag, typ, s) =>
      u32((tag << 16) | typ) // canonical property tag, LE on the wire
      u32(0x06) // flags: readable | writable
      val bytes = encode(typ, s)
      val width = if (typ == TypeUnicode) 2 else 1
      u32(bytes.length + width) // declared size INCLUDING the terminator
      u32(0) // reserved
    }

    val streams = Seq(("__properties_version1.0", propStream.toByteArray)) ++
      props.map { case (tag, typ, s) =>
        (f"__substg1.0_$tag%04X$typ%04X", encode(typ, s))
      }
    Doc.renderCfb(streams) // 4 streams: exercises the two-sector directory
  }

  /** Fixture writer: one .msg compound file per document row. */
  def encodeMsg(docs: DataFrame, idCol: String = "doc_id"): DataFrame =
    Stage.render(docs, idCol, "payload")(renderMsg)

  // --------------------------------------------------------------- parser

  private final class MalformedMsg
      extends RuntimeException("malformed msg", null, false, false)
  private def fail(): Nothing = throw new MalformedMsg

  final case class MsgRow(
      doc_id: Long, subject: String, sender: String, n_props: Long,
      body_n_chars: Long, body_checksum: Long)

  private[ext] def parseMsg(id: Long, bytes: Array[Byte]): MsgRow = {
    val cfb = try new Doc.Cfb(bytes) catch { case _: RuntimeException => fail() }
    def streamOf(name: String): Option[Array[Byte]] =
      try cfb.stream(name) catch { case _: RuntimeException => fail() }
    val props = streamOf("__properties_version1.0").getOrElse(fail())
    if (props.length < 32 || (props.length - 32) % 16 != 0) fail()
    val nRecords = (props.length - 32) / 16
    if (nRecords > (1 << 16)) fail()
    def u32(p: Int): Long =
      (props(p) & 0xffL) | ((props(p + 1) & 0xffL) << 8) |
        ((props(p + 2) & 0xffL) << 16) | ((props(p + 3) & 0xffL) << 24)

    var subject: String = null
    var sender: String = null
    var body: String = null
    var k = 0
    while (k < nRecords) {
      val at = 32 + 16 * k
      val tag = u32(at)
      val propId = ((tag >> 16) & 0xffff).toInt
      val typ = (tag & 0xffff).toInt
      if ((propId == TagSubject || propId == TagSender || propId == TagBody) &&
          (typ == TypeUnicode || typ == TypeString8)) {
        val declared = u32(at + 8)
        val name = f"__substg1.0_$propId%04X$typ%04X"
        val data = streamOf(name).getOrElse(fail()) // a KNOWN prop must resolve
        if (data.length > (1 << 26)) fail()
        val width = if (typ == TypeUnicode) 2 else 1
        // producers vary on terminator inclusion: accept both, no more
        if (declared != data.length && declared != data.length + width) fail()
        val value =
          if (typ == TypeUnicode) {
            if (data.length % 2 != 0) fail()
            new String(data, "UTF-16LE")
          } else Charset.cp1252Decode(data)
        propId match {
          case TagSubject => subject = value
          case TagSender => sender = value
          case TagBody => body = value
        }
      }
      k += 1
    }
    if (subject == null || sender == null || body == null) fail()
    val bb = body.getBytes("UTF-8")
    var cs = 0L
    bb.foreach(x => cs = (cs * 31 + (x & 0xff)) % 1000000007L)
    MsgRow(id, subject, sender, nRecords.toLong, bb.length.toLong, cs)
  }

  private[ext] def parseMsgSafe(id: Long, bytes: Array[Byte]): Option[MsgRow] =
    try Some(parseMsg(id, Option(bytes).getOrElse(Array.empty)))
    catch { case _: MalformedMsg => None }

  /** `msg_extract`: one row per Outlook message. Map-only. */
  def msgExtract(docs: DataFrame, idCol: String = "doc_id",
                 binCol: String = "payload"): Dataset[MsgRow] = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs
      .filter(col(idCol).isNotNull)
      .select(col(idCol).cast("long"), col(binCol))
      .as[(Long, Array[Byte])]
      .flatMap { case (id, bytes) => parseMsgSafe(id, bytes) }
  }
}

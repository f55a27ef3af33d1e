package graft.ext

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Schema-less protobuf wire-format scanning, from scratch — ML lakes
  * are full of length-delimited protobuf streams whose `.proto` files
  * are long gone, and the first ingestion question is structural:
  * which field numbers, which wire types, how much payload, in what
  * order. This is the `pickle_scan` discipline applied to the other
  * serialization format a training pipeline actually meets: inventory
  * WITHOUT a schema, quarantine on any wire-level damage, guess
  * nothing (a length-delimited field is opaque bytes — string vs
  * nested message is a schema-level fact, so the scan surfaces length
  * + checksum and refuses to speculate).
  *
  * Implemented per the published protobuf encoding rules
  * (protobuf.dev/programming-guides/encoding):
  *
  *  - tags as varints `(field_no << 3) | wire_type`, field 0 invalid,
  *    multi-byte tags (field >= 16) decoded;
  *  - wire types: 0 varint (<= 10 bytes), 1 fixed64 (LE), 5 fixed32
  *    (LE, surfaced unsigned), 2 length-delimited (bounded); the
  *    deprecated group types 3/4 and reserved 6/7 are damage;
  *  - stream framing: `writeDelimitedTo` convention — varint message
  *    length then message bytes, back to back, consumed EXACTLY (a
  *    tag or value straddling a message boundary is damage, as is
  *    trailing garbage).
  *
  * One output row per field occurrence in wire order: `varint_val`
  * carries the raw varint / fixed64 (signed) / fixed32 (unsigned)
  * value, `len`+`checksum` the length-delimited payload (base-31
  * rolling checksum the oracle replays byte-for-byte — including the
  * nested-message and packed-varint fixtures, whose encodings the SQL
  * rebuilds from the closed forms).
  *
  * Scale shape: map-only per stream, zero shuffles.
  */
object Protobuf {

  private def md5Hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString

  private val words = Array("anchor", "bloom", "cedar", "dune", "ember", "flint", "grove", "harbor")

  private def nib(id: Long, i: Int): Int = {
    val m = md5Hex(s"proto:$id")
    Integer.parseInt(m.substring(i - 1, i), 16)
  }

  // ------------------------------------------------------------- fixture

  private[ext] def nMsgs(id: Long): Int = 1 + nib(id, 1) % 3
  private[ext] def seqOf(id: Long, m: Int): Long = id * 10 + m
  private[ext] def nameOf(id: Long, m: Int): String =
    s"msg $m of proto $id: ${words(nib(id, 2 + m) % 8)}"
  private[ext] def f64Of(id: Long, m: Int): Long = id * 1000 + m
  private[ext] def f32Of(id: Long, m: Int): Long = 3221225472L + nib(id, 4 + m)
  private[ext] def kOf(id: Long, m: Int): Int = nib(id, 5 + m)
  private[ext] def noteOf(id: Long, m: Int): String = s"note-${words(nib(id, 8 + m) % 8)}"
  private[ext] def boolOf(id: Long, m: Int): Long = (id + m) % 2
  private[ext] def hasPacked(id: Long, m: Int): Boolean = m % 2 == 0
  private[ext] def packedOf(m: Int): Seq[Int] = Seq(m + 1, m + 2, m + 3)
  private[ext] def wideOf(id: Long, m: Int): String =
    s"wide-tag ${words(nib(id, 11 + m) % 8)}"

  private def utf8(s: String): Array[Byte] = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)

  private final class W {
    val out = new java.io.ByteArrayOutputStream()
    def varint(v: Long): Unit = Bits.writeUvarint(out, v)
    def tag(field: Int, wire: Int): Unit = varint((field.toLong << 3) | wire)
    def fixed64(v: Long): Unit =
      (0 until 8).foreach(i => out.write(((v >>> (8 * i)) & 0xff).toInt))
    def fixed32(v: Long): Unit =
      (0 until 4).foreach(i => out.write(((v >>> (8 * i)) & 0xff).toInt))
    def bytes(b: Array[Byte]): Unit = { varint(b.length.toLong); out.write(b, 0, b.length) }
  }

  private[ext] def renderMsg(id: Long, m: Int): Array[Byte] = {
    val w = new W
    w.tag(1, 0); w.varint(seqOf(id, m))
    w.tag(2, 2); w.bytes(utf8(nameOf(id, m)))
    w.tag(3, 1); w.fixed64(f64Of(id, m))
    w.tag(4, 5); w.fixed32(f32Of(id, m))
    // nested message: field 1 varint k (single byte by construction),
    // field 2 string note — the oracle rebuilds these four framing bytes
    val nested = new W
    nested.tag(1, 0); nested.varint(kOf(id, m).toLong)
    nested.tag(2, 2); nested.bytes(utf8(noteOf(id, m)))
    w.tag(5, 2); w.bytes(nested.out.toByteArray)
    w.tag(6, 0); w.varint(boolOf(id, m))
    if (hasPacked(id, m)) {
      val packed = new W
      packedOf(m).foreach(v => packed.varint(v.toLong))
      w.tag(7, 2); w.bytes(packed.out.toByteArray)
    }
    w.tag(16, 2); w.bytes(utf8(wideOf(id, m))) // two-byte tag
    w.out.toByteArray
  }

  private[ext] def renderStream(id: Long): Array[Byte] = {
    val w = new W
    (0 until nMsgs(id)).foreach { m =>
      val b = renderMsg(id, m)
      w.varint(b.length.toLong)
      w.out.write(b, 0, b.length)
    }
    w.out.toByteArray
  }

  /** Fixture writer: one delimited stream per document row. */
  def encodeProto(docs: DataFrame, idCol: String = "doc_id"): DataFrame =
    Stage.render(docs, idCol, "proto")(renderStream)

  // --------------------------------------------------------------- reader

  private final class MalformedProto
      extends RuntimeException("malformed protobuf", null, false, false)
  private def fail(): Nothing = throw new MalformedProto

  private val MaxLen = 1 << 26
  private val MaxMsgs = 1 << 20

  final case class ProtoField(
    doc_id: Long, msg_idx: Long, elem_idx: Long, field_no: Long,
    wire_type: Long, varint_val: Long, len: Long, checksum: Long)

  /** A protobuf reader over `b(from until until)`: varints are ≤ 10 bytes. */
  private final class Reader(b: Array[Byte], from: Int, until: Int)
      extends Bits.WireReader(b, from, until) {
    def fail(): Nothing = Protobuf.fail()
  }

  /** Scan one message at [from, until). The reader bounds every field by
    * `until` (`skip` for the fixed widths, `lenDelim` for spans), so a
    * field that runs past the message fails there.
    */
  private def scanMsg(id: Long, msgIdx: Long, b: Array[Byte], from: Int, until: Int,
      out: scala.collection.mutable.Builder[ProtoField, Vector[ProtoField]]): Unit = {
    val r = new Reader(b, from, until)
    var elem = 0L
    while (r.more) {
      val tag = r.varint()
      val p1 = r.pos
      val field = tag >>> 3
      val wire = (tag & 7).toInt
      if (field == 0 || field > Int.MaxValue) fail()
      wire match {
        case 0 =>
          val v = r.varint()
          out += ProtoField(id, msgIdx, elem, field, 0L, v, 0L, 0L)
        case 1 =>
          r.skip(1)
          var v = 0L
          var i = 7
          while (i >= 0) { v = (v << 8) | (b(p1 + i) & 0xffL); i -= 1 }
          out += ProtoField(id, msgIdx, elem, field, 1L, v, 8L, 0L)
        case 5 =>
          r.skip(5)
          var v = 0L
          var i = 3
          while (i >= 0) { v = (v << 8) | (b(p1 + i) & 0xffL); i -= 1 }
          out += ProtoField(id, msgIdx, elem, field, 5L, v, 4L, 0L)
        case 2 =>
          val (p2, e) = r.lenDelim()
          var cks = 0L
          var i = p2
          while (i < e) { cks = (cks * 31 + (b(i) & 0xff)) % 1000000007L; i += 1 }
          out += ProtoField(id, msgIdx, elem, field, 2L, 0L, (e - p2).toLong, cks)
        case _ => fail() // groups (3/4) and reserved (6/7) are damage
      }
      elem += 1L
    }
  }

  private[ext] def scanStream(id: Long, b: Array[Byte]): Seq[ProtoField] = {
    if (b == null || b.length == 0 || b.length > MaxLen) fail()
    val out = Vector.newBuilder[ProtoField]
    val r = new Reader(b, 0, b.length)
    var msg = 0L
    while (r.more) {
      val (p1, e) = r.lenDelim()
      if (msg >= MaxMsgs) fail()
      scanMsg(id, msg, b, p1, e, out)
      msg += 1L
    }
    out.result()
  }

  private[ext] def scanStreamSafe(id: Long, b: Array[Byte]): Seq[ProtoField] =
    try scanStream(id, b)
    catch { case scala.util.control.NonFatal(_) => Seq.empty }

  /** `protobuf_scan`: the per-field wire inventory. Map-only. */
  def protobufScan(docs: DataFrame, idCol: String = "doc_id",
                   binCol: String = "proto"): Dataset[ProtoField] = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs
      .filter(col(idCol).isNotNull)
      .select(col(idCol).cast("long"), col(binCol))
      .as[(Long, Array[Byte])]
      .flatMap { case (id, b) => if (b == null) Nil else scanStreamSafe(id, b) }
  }
}

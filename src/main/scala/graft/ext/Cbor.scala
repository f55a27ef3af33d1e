package graft.ext

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** CBOR ingestion, from scratch — the binary JSON of IoT feeds, COSE
  * envelopes, and WebAuthn artifacts (RFC 8949). A data engine ingests
  * CBOR documents the way it ingests BSON dumps: one typed row per
  * document, damage quarantining the file.
  *
  * Implemented per the published encoding rules, with the CANONICAL
  * (deterministic-encoding, RFC 8949 §4.2) discipline enforced:
  *
  *  - all five argument widths decoded (immediate / 1 / 2 / 4 / 8
  *    bytes) with MINIMAL-width required — a 2-byte argument that fits
  *    1 byte is damage;
  *  - definite lengths only — indefinite (additional info 31) is
  *    damage everywhere;
  *  - map keys UNIQUE and sorted ascending by their ENCODED bytes
  *    (the §4.2.1 rule);
  *  - major types: uint, negint (surfaced as -1-n), byte string
  *    (length + base-31 checksum — opaque), text string, array, map,
  *    tag (tag 1 epoch-seconds decoded, others damage), simple/float
  *    (false/true/null and float64 only; unassigned simples damage);
  *  - nesting depth capped; the document must consume the buffer
  *    EXACTLY.
  *
  * The fixture exercises every lane: multi-width uints (`seq` grows
  * with doc_id), a 1-byte-argument negint, an exact dyadic float64, a
  * tagged epoch timestamp inside a nested map, a text array, a byte
  * string, null, and both booleans — every value the DuckDB oracle
  * replays closed-form.
  *
  * Scale shape: map-only per document, zero shuffles.
  */
object Cbor {

  private def md5Hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString

  private val words = Array("anchor", "bloom", "cedar", "dune", "ember", "flint", "grove", "harbor")

  private def nib(id: Long, i: Int): Int = {
    val m = md5Hex(s"cbor:$id")
    Integer.parseInt(m.substring(i - 1, i), 16)
  }

  // ------------------------------------------------------------- fixture

  private[ext] def seqOf(id: Long): Long = id * 10
  private[ext] def nameOf(id: Long): String = s"cbor doc $id: ${words(nib(id, 1) % 8)}"
  private[ext] def negOf(id: Long): Long = -(25L + nib(id, 5)) // 1-byte argument lane
  private[ext] def scoreOf(id: Long): Double = (nib(id, 6) + 1) / 4.0
  private[ext] def okOf(id: Long): Boolean = id % 2 == 0
  private[ext] def nTagsOf(id: Long): Int = 1 + nib(id, 8) % 3
  private[ext] def tagOf(id: Long, t: Int): String = words(nib(id, 9 + t) % 8)
  private[ext] def metaKOf(id: Long): Long = 500L + nib(id, 11)
  private[ext] def metaTsOf(id: Long): Long = 1700000000L + id
  private[ext] def blobLenOf(id: Long): Int = 8 + nib(id, 7)
  private[ext] def blobOf(id: Long): Array[Byte] = {
    val hx = md5Hex(s"blob:$id") + md5Hex(s"blob:$id:b")
    (0 until blobLenOf(id)).map(i => Integer.parseInt(hx.substring(2 * i, 2 * i + 2), 16).toByte).toArray
  }

  private def utf8(s: String): Array[Byte] = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)

  private final class W {
    val out = new java.io.ByteArrayOutputStream()
    /** Major type + minimal-width argument. */
    def head(major: Int, arg: Long): Unit = {
      val m = major << 5
      if (arg < 24) out.write(m | arg.toInt)
      else if (arg < 0x100) { out.write(m | 24); out.write(arg.toInt) }
      else if (arg < 0x10000) { out.write(m | 25); out.write((arg >> 8).toInt); out.write(arg.toInt) }
      else if (arg < 0x100000000L) {
        out.write(m | 26)
        (3 to 0 by -1).foreach(i => out.write(((arg >> (8 * i)) & 0xff).toInt))
      } else {
        out.write(m | 27)
        (7 to 0 by -1).foreach(i => out.write(((arg >> (8 * i)) & 0xff).toInt))
      }
    }
    def uint(v: Long): Unit = head(0, v)
    def negint(v: Long): Unit = head(1, -1L - v) // v negative
    def bytes(b: Array[Byte]): Unit = { head(2, b.length.toLong); out.write(b, 0, b.length) }
    def text(s: String): Unit = { val b = utf8(s); head(3, b.length.toLong); out.write(b, 0, b.length) }
    def bool(v: Boolean): Unit = out.write(if (v) 0xf5 else 0xf4)
    def nil(): Unit = out.write(0xf6)
    def float64(d: Double): Unit = {
      out.write(0xfb)
      val bits = java.lang.Double.doubleToLongBits(d)
      (7 to 0 by -1).foreach(i => out.write(((bits >> (8 * i)) & 0xff).toInt))
    }
  }

  /** Keys written in RFC 8949 §4.2.1 order (encoded-bytes ascending —
    * length first for same-major text keys).
    */
  private[ext] def renderCbor(id: Long): Array[Byte] = {
    val w = new W
    w.head(5, 9) // map of 9 pairs
    w.text("ok"); w.bool(okOf(id))
    w.text("neg"); w.negint(negOf(id))
    w.text("nil"); w.nil()
    w.text("seq"); w.uint(seqOf(id))
    w.text("blob"); w.bytes(blobOf(id))
    w.text("meta")
    w.head(5, 2)
    w.text("k"); w.uint(metaKOf(id))
    w.text("ts"); w.head(6, 1); w.uint(metaTsOf(id)) // tag 1: epoch seconds
    w.text("name"); w.text(nameOf(id))
    w.text("tags")
    w.head(4, nTagsOf(id).toLong)
    (0 until nTagsOf(id)).foreach(t => w.text(tagOf(id, t)))
    w.text("score"); w.float64(scoreOf(id))
    w.out.toByteArray
  }

  /** Fixture writer: one CBOR document per row. */
  def encodeCbor(docs: DataFrame, idCol: String = "doc_id"): DataFrame =
    Stage.render(docs, idCol, "cbor")(renderCbor)

  // --------------------------------------------------------------- reader

  private final class MalformedCbor
      extends RuntimeException("malformed cbor", null, false, false)
  private def fail(): Nothing = throw new MalformedCbor

  private val MaxLen = 1 << 26
  private val MaxDepth = 32
  private val MaxItems = 1 << 20

  private[ext] sealed trait CV
  private[ext] final case class CInt(v: Long) extends CV
  private[ext] final case class CBytes(b: Array[Byte]) extends CV
  private[ext] final case class CText(s: String) extends CV
  private[ext] final case class CArr(items: Vector[CV]) extends CV
  private[ext] final case class CMap(fields: Vector[(String, CV)]) extends CV {
    def get(k: String): Option[CV] = fields.find(_._1 == k).map(_._2)
  }
  private[ext] final case class CBool(v: Boolean) extends CV
  private[ext] case object CNull extends CV
  private[ext] final case class CFloat(d: Double) extends CV
  private[ext] final case class CTagged(tag: Long, v: CV) extends CV

  /** (major, argument, position after head). Enforces minimal width and
    * definite lengths.
    */
  private def readHead(b: Array[Byte], p: Int): (Int, Long, Int) = {
    if (p >= b.length) fail()
    val x = b(p) & 0xff
    val major = x >> 5
    val info = x & 0x1f
    if (info == 31) fail() // indefinite is damage
    if (info > 27) fail() // 28-30 reserved
    def be(n: Int): Long = {
      if (p + 1 + n > b.length) fail()
      var v = 0L
      (0 until n).foreach(i => v = (v << 8) | (b(p + 1 + i) & 0xffL))
      v
    }
    info match {
      case i if i < 24 => (major, i.toLong, p + 1)
      case 24 =>
        val v = be(1)
        if (major != 7 && v < 24) fail() // non-minimal (simple values 24.. are distinct)
        (major, v, p + 2)
      case 25 =>
        val v = be(2)
        if (major != 7 && v < 0x100) fail()
        (major, v, p + 3)
      case 26 =>
        val v = be(4)
        if (major != 7 && v < 0x10000) fail()
        (major, v, p + 5)
      case 27 =>
        val v = be(8)
        if (major != 7 && v >= 0 && v < 0x100000000L) fail()
        (major, v, p + 9)
    }
  }

  /** Compare the ENCODED bytes of two map keys ([from,until) spans). */
  private def spanCompare(b: Array[Byte], a0: Int, a1: Int, c0: Int, c1: Int): Int = {
    var i = a0
    var j = c0
    while (i < a1 && j < c1) {
      val d = (b(i) & 0xff) - (b(j) & 0xff)
      if (d != 0) return d
      i += 1; j += 1
    }
    (a1 - a0) - (c1 - c0)
  }

  private[ext] def parseValue(b: Array[Byte], p: Int, depth: Int): (CV, Int) = {
    if (depth > MaxDepth) fail()
    val (major, arg, q) = readHead(b, p)
    major match {
      case 0 =>
        // uints in [2^63, 2^64) are RFC-valid but don't fit the surfaced
        // signed-Long lane — quarantine rather than surface a wrong
        // negative value (mirrors the negint arm below)
        if (arg < 0) fail()
        (CInt(arg), q)
      case 1 =>
        if (arg < 0) fail() // -1-arg would overflow Long for arg = 2^64-1 range
        (CInt(-1L - arg), q)
      case 2 =>
        if (arg < 0 || arg > MaxLen || q + arg > b.length) fail()
        (CBytes(java.util.Arrays.copyOfRange(b, q, q + arg.toInt)), q + arg.toInt)
      case 3 =>
        if (arg < 0 || arg > MaxLen || q + arg > b.length) fail()
        val cd = java.nio.charset.StandardCharsets.UTF_8.newDecoder()
        val s =
          try cd.decode(java.nio.ByteBuffer.wrap(b, q, arg.toInt)).toString
          catch { case _: java.nio.charset.CharacterCodingException => fail() }
        (CText(s), q + arg.toInt)
      case 4 =>
        if (arg < 0 || arg > MaxItems) fail()
        var r = q
        val items = Vector.newBuilder[CV]
        (0L until arg).foreach { _ =>
          val (v, e) = parseValue(b, r, depth + 1)
          items += v
          r = e
        }
        (CArr(items.result()), r)
      case 5 =>
        if (arg < 0 || arg > MaxItems) fail()
        var r = q
        val fields = Vector.newBuilder[(String, CV)]
        var prev: (Int, Int) = null
        (0L until arg).foreach { _ =>
          val keyStart = r
          val (k, ke) = parseValue(b, r, depth + 1)
          val key = k match { case CText(s) => s; case _ => fail() }
          // §4.2.1: keys sorted ascending by encoded bytes, so duplicates
          // (compare == 0) are caught too
          if (prev != null && spanCompare(b, prev._1, prev._2, keyStart, ke) >= 0) fail()
          prev = (keyStart, ke)
          val (v, ve) = parseValue(b, ke, depth + 1)
          fields += ((key, v))
          r = ve
        }
        (CMap(fields.result()), r)
      case 6 =>
        if (arg != 1) fail() // only tag 1 (epoch seconds) in scope
        val (v, e) = parseValue(b, q, depth + 1)
        v match { case CInt(_) => (); case _ => fail() }
        (CTagged(arg, v), e)
      case 7 =>
        (b(p) & 0x1f) match {
          // simple values 20/21/22 are IMMEDIATE-only: the 1-byte form
          // (0xf8 0x14) is invalid below 32 per RFC 8949 §3.3
          case 20 => (CBool(false), q)
          case 21 => (CBool(true), q)
          case 22 => (CNull, q)
          case 27 => (CFloat(java.lang.Double.longBitsToDouble(arg)), q)
          case _ => fail() // unassigned simples, float16/32 out of scope
        }
    }
  }

  final case class CborRec(
    doc_id: Long, n_keys: Long, seq: Long, name: String, neg: Long,
    score: Double, ok: Boolean, has_nil: Boolean, n_tags: Long, tags: String,
    meta_k: Long, meta_ts: Long, blob_len: Long, blob_checksum: Long)

  private[ext] def parseCbor(id: Long, b: Array[Byte]): CborRec = {
    if (b == null || b.length == 0 || b.length > MaxLen) fail()
    val (top, end) = parseValue(b, 0, 0)
    if (end != b.length) fail()
    val m = top match { case x: CMap => x; case _ => fail() }
    def lng(k: String): Long = m.get(k) match { case Some(CInt(v)) => v; case _ => fail() }
    def txt(k: String): String = m.get(k) match { case Some(CText(s)) => s; case _ => fail() }
    val score = m.get("score") match { case Some(CFloat(d)) => d; case _ => fail() }
    val ok = m.get("ok") match { case Some(CBool(v)) => v; case _ => fail() }
    val hasNil = m.get("nil") match { case Some(CNull) => true; case Some(_) => fail(); case None => false }
    val tags = m.get("tags") match {
      case Some(CArr(items)) => items.map { case CText(s) => s; case _ => fail() }
      case _ => fail()
    }
    val (metaK, metaTs) = m.get("meta") match {
      case Some(mm: CMap) =>
        val k = mm.get("k") match { case Some(CInt(v)) => v; case _ => fail() }
        val ts = mm.get("ts") match { case Some(CTagged(1L, CInt(v))) => v; case _ => fail() }
        (k, ts)
      case _ => fail()
    }
    val blob = m.get("blob") match { case Some(CBytes(x)) => x; case _ => fail() }
    var cks = 0L
    blob.foreach(x => cks = (cks * 31 + (x & 0xff)) % 1000000007L)
    CborRec(id, m.fields.length.toLong, lng("seq"), txt("name"), lng("neg"),
      score, ok, hasNil, tags.length.toLong, tags.mkString(","),
      metaK, metaTs, blob.length.toLong, cks)
  }

  private[ext] def parseCborSafe(id: Long, b: Array[Byte]): Seq[CborRec] =
    try Seq(parseCbor(id, b))
    catch { case scala.util.control.NonFatal(_) => Seq.empty }

  /** `cbor_items`: the document inventory. Map-only. */
  def cborItems(docs: DataFrame, idCol: String = "doc_id",
                binCol: String = "cbor"): Dataset[CborRec] = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs
      .filter(col(idCol).isNotNull)
      .select(col(idCol).cast("long"), col(binCol))
      .as[(Long, Array[Byte])]
      .flatMap { case (id, b) => if (b == null) Nil else parseCborSafe(id, b) }
  }
}

package graft.ext

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** MessagePack ingestion, from scratch — the wire format of Redis
  * dumps, Fluentd logs, and half the game/telemetry world. A data
  * engine ingests msgpack documents the way it ingests CBOR: one typed
  * row per document, damage quarantining the file.
  *
  * Implemented per the published spec (msgpack.org `spec.md`), with
  * the spec's "serializers SHOULD use the format representing the data
  * in the smallest number of bytes" promoted to a REQUIREMENT (the
  * CBOR §4.2 discipline, documented divergence from lax readers):
  *
  *  - all int families: positive/negative fixint, uint8/16/32/64,
  *    int8/16/32/64 — minimal-width enforced per lane (a uint16
  *    holding 7 is damage), uint64 values past Long range quarantine;
  *  - fixstr/str8/16/32 (UTF-8 validated), bin8/16/32 (opaque:
  *    length + base-31 checksum), fixarray/array16/32,
  *    fixmap/map16/32 — map keys UNIQUE strings, all length lanes
  *    minimal;
  *  - float64 only (float32 out of scope), nil, both booleans;
  *  - the timestamp extension (type -1) in all three published shapes
  *    — fixext4 (u32 sec), fixext8 (nanos30 << 34 | sec34), ext8-12
  *    (u32 nanos + i64 sec) — minimal shape enforced, nanos < 10^9;
  *    other ext types damage;
  *  - 0xc1 (never used by the spec) is damage anywhere; the document
  *    must consume the buffer EXACTLY; nesting depth capped.
  *
  * Scale shape: map-only per document, zero shuffles.
  */
object Msgpack {

  private def md5Hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString

  private val words = Array("anchor", "bloom", "cedar", "dune", "ember", "flint", "grove", "harbor")

  private def nib(id: Long, i: Int): Int = {
    val m = md5Hex(s"msgpack:$id")
    Integer.parseInt(m.substring(i - 1, i), 16)
  }

  // ------------------------------------------------------------- fixture

  private[ext] def seqOf(id: Long): Long = id * 100 // spans fixint → uint32
  private[ext] def nameOf(id: Long): String = s"msgpack doc $id: ${words(nib(id, 1) % 8)}"
  private[ext] def negOf(id: Long): Long = -(40L + nib(id, 5)) // int8 lane
  private[ext] def scoreOf(id: Long): Double = (nib(id, 6) + 3) / 8.0
  private[ext] def okOf(id: Long): Boolean = id % 2 == 1
  private[ext] def nTagsOf(id: Long): Int = 1 + nib(id, 8) % 3
  private[ext] def tagOf(id: Long, t: Int): String = words(nib(id, 9 + t) % 8)
  private[ext] def metaKOf(id: Long): Long = 700L + nib(id, 11)
  private[ext] def tsSecOf(id: Long): Long = 1700000000L + id
  private[ext] def tsNanosOf(id: Long): Long = if (id % 3 == 0) 0L else 500000L + nib(id, 12)
  private[ext] def blobLenOf(id: Long): Int = 5 + nib(id, 7)
  private[ext] def blobOf(id: Long): Array[Byte] = {
    val hx = md5Hex(s"mblob:$id") + md5Hex(s"mblob:$id:b")
    (0 until blobLenOf(id)).map(i => Integer.parseInt(hx.substring(2 * i, 2 * i + 2), 16).toByte).toArray
  }

  private def utf8(s: String): Array[Byte] = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)

  private final class W {
    val out = new java.io.ByteArrayOutputStream()
    def u8(v: Int): Unit = out.write(v)
    def be(v: Long, n: Int): Unit = ((n - 1) to 0 by -1).foreach(i => out.write(((v >>> (8 * i)) & 0xff).toInt))
    /** Minimal-width integer. */
    def int(v: Long): Unit =
      if (v >= 0) {
        if (v < 0x80) u8(v.toInt)
        else if (v < 0x100) { u8(0xcc); u8(v.toInt) }
        else if (v < 0x10000) { u8(0xcd); be(v, 2) }
        else if (v < 0x100000000L) { u8(0xce); be(v, 4) }
        else { u8(0xcf); be(v, 8) }
      } else {
        if (v >= -32) u8(0xe0 | (v & 0x1f).toInt)
        else if (v >= -128) { u8(0xd0); u8(v.toInt & 0xff) }
        else if (v >= -32768) { u8(0xd1); be(v & 0xffff, 2) }
        else if (v >= Int.MinValue) { u8(0xd2); be(v & 0xffffffffL, 4) }
        else { u8(0xd3); be(v, 8) }
      }
    def str(s: String): Unit = {
      val b = utf8(s)
      if (b.length < 32) u8(0xa0 | b.length)
      else if (b.length < 0x100) { u8(0xd9); u8(b.length) }
      else if (b.length < 0x10000) { u8(0xda); be(b.length.toLong, 2) }
      else { u8(0xdb); be(b.length.toLong, 4) }
      out.write(b, 0, b.length)
    }
    def bin(b: Array[Byte]): Unit = {
      if (b.length < 0x100) { u8(0xc4); u8(b.length) }
      else if (b.length < 0x10000) { u8(0xc5); be(b.length.toLong, 2) }
      else { u8(0xc6); be(b.length.toLong, 4) }
      out.write(b, 0, b.length)
    }
    def mapHead(n: Int): Unit =
      if (n < 16) u8(0x80 | n)
      else if (n < 0x10000) { u8(0xde); be(n.toLong, 2) }
      else { u8(0xdf); be(n.toLong, 4) }
    def arrHead(n: Int): Unit =
      if (n < 16) u8(0x90 | n)
      else if (n < 0x10000) { u8(0xdc); be(n.toLong, 2) }
      else { u8(0xdd); be(n.toLong, 4) }
    def bool(v: Boolean): Unit = u8(if (v) 0xc3 else 0xc2)
    def nil(): Unit = u8(0xc0)
    def float64(d: Double): Unit = { u8(0xcb); be(java.lang.Double.doubleToLongBits(d), 8) }
    /** Timestamp ext (-1) in its MINIMAL published shape. */
    def timestamp(sec: Long, nanos: Long): Unit =
      if (nanos == 0 && sec >= 0 && sec < 0x100000000L) { u8(0xd6); u8(0xff); be(sec, 4) }
      else if (sec >= 0 && sec < (1L << 34)) {
        u8(0xd7); u8(0xff); be((nanos << 34) | sec, 8)
      } else {
        u8(0xc7); u8(12); u8(0xff); be(nanos, 4); be(sec, 8)
      }
  }

  private[ext] def renderMsgpack(id: Long): Array[Byte] = {
    val w = new W
    w.mapHead(9)
    w.str("seq"); w.int(seqOf(id))
    w.str("name"); w.str(nameOf(id))
    w.str("neg"); w.int(negOf(id))
    w.str("score"); w.float64(scoreOf(id))
    w.str("ok"); w.bool(okOf(id))
    w.str("nil"); w.nil()
    w.str("tags")
    w.arrHead(nTagsOf(id))
    (0 until nTagsOf(id)).foreach(t => w.str(tagOf(id, t)))
    w.str("meta")
    w.mapHead(2)
    w.str("k"); w.int(metaKOf(id))
    w.str("ts"); w.timestamp(tsSecOf(id), tsNanosOf(id))
    w.str("blob"); w.bin(blobOf(id))
    w.out.toByteArray
  }

  /** Fixture writer: one msgpack document per row. */
  def encodeMsgpack(docs: DataFrame, idCol: String = "doc_id"): DataFrame =
    Stage.render(docs, idCol, "msgpack")(renderMsgpack)

  // --------------------------------------------------------------- reader

  private final class MalformedMsgpack
      extends RuntimeException("malformed msgpack", null, false, false)
  private def fail(): Nothing = throw new MalformedMsgpack

  private val MaxLen = 1 << 26
  private val MaxDepth = 32
  private val MaxItems = 1 << 20

  private[ext] sealed trait MV
  private[ext] final case class MInt(v: Long) extends MV
  private[ext] final case class MBin(b: Array[Byte]) extends MV
  private[ext] final case class MText(s: String) extends MV
  private[ext] final case class MArr(items: Vector[MV]) extends MV
  private[ext] final case class MMap(fields: Vector[(String, MV)]) extends MV {
    def get(k: String): Option[MV] = fields.find(_._1 == k).map(_._2)
  }
  private[ext] final case class MBool(v: Boolean) extends MV
  private[ext] case object MNil extends MV
  private[ext] final case class MFloat(d: Double) extends MV
  private[ext] final case class MTimestamp(sec: Long, nanos: Long) extends MV

  private def be(b: Array[Byte], p: Int, n: Int): Long = {
    var v = 0L
    (0 until n).foreach(i => v = (v << 8) | (b(p + i) & 0xffL))
    v
  }

  private def text(b: Array[Byte], p: Int, n: Int): String = {
    val cd = java.nio.charset.StandardCharsets.UTF_8.newDecoder()
    try cd.decode(java.nio.ByteBuffer.wrap(b, p, n)).toString
    catch { case _: java.nio.charset.CharacterCodingException => fail() }
  }

  private[ext] def parseValue(b: Array[Byte], p: Int, depth: Int): (MV, Int) = {
    if (depth > MaxDepth) fail()
    if (p >= b.length) fail()
    val x = b(p) & 0xff
    def need(n: Int): Unit = if (p + 1 + n > b.length) fail()
    def strN(n: Long, hp: Int): (MV, Int) = {
      if (n < 0 || n > MaxLen || hp + n > b.length) fail()
      (MText(text(b, hp, n.toInt)), hp + n.toInt)
    }
    def binN(n: Long, hp: Int): (MV, Int) = {
      if (n < 0 || n > MaxLen || hp + n > b.length) fail()
      (MBin(java.util.Arrays.copyOfRange(b, hp, hp + n.toInt)), hp + n.toInt)
    }
    def arrN(n: Long, hp: Int): (MV, Int) = {
      if (n < 0 || n > MaxItems) fail()
      var q = hp
      val items = Vector.newBuilder[MV]
      (0L until n).foreach { _ =>
        val (v, e) = parseValue(b, q, depth + 1)
        items += v
        q = e
      }
      (MArr(items.result()), q)
    }
    def mapN(n: Long, hp: Int): (MV, Int) = {
      if (n < 0 || n > MaxItems) fail()
      var q = hp
      val fields = Vector.newBuilder[(String, MV)]
      var seen = Set.empty[String]
      (0L until n).foreach { _ =>
        val (k, ke) = parseValue(b, q, depth + 1)
        val key = k match { case MText(s) => s; case _ => fail() }
        if (seen.contains(key)) fail()
        seen += key
        val (v, ve) = parseValue(b, ke, depth + 1)
        fields += ((key, v))
        q = ve
      }
      (MMap(fields.result()), q)
    }
    def timestamp(body: Int, len: Int): (MV, Int) = len match {
      case 4 =>
        val sec = be(b, body, 4)
        (MTimestamp(sec, 0L), body + 4)
      case 8 =>
        val v = be(b, body, 8)
        val nanos = v >>> 34
        val sec = v & ((1L << 34) - 1)
        if (nanos >= 1000000000L) fail()
        // minimal shape: nanos==0 with a 4-byte-able sec should have
        // used fixext4
        if (nanos == 0 && sec < 0x100000000L) fail()
        (MTimestamp(sec, nanos), body + 8)
      case 12 =>
        val nanos = be(b, body, 4)
        val sec = be(b, body + 4, 8) // u32 nanos THEN i64 sec
        if (nanos >= 1000000000L) fail()
        if (sec >= 0 && sec < (1L << 34)) fail() // fixext8 would have fit
        (MTimestamp(sec, nanos), body + 12)
      case _ => fail()
    }
    x match {
      case _ if x < 0x80 => (MInt(x.toLong), p + 1)
      case _ if x >= 0xe0 => (MInt((x.toByte).toLong), p + 1)
      case _ if (x & 0xf0) == 0x80 => mapN((x & 0x0f).toLong, p + 1)
      case _ if (x & 0xf0) == 0x90 => arrN((x & 0x0f).toLong, p + 1)
      case _ if (x & 0xe0) == 0xa0 => strN((x & 0x1f).toLong, p + 1)
      case 0xc0 => (MNil, p + 1)
      case 0xc1 => fail() // never used, per spec
      case 0xc2 => (MBool(false), p + 1)
      case 0xc3 => (MBool(true), p + 1)
      case 0xc4 => need(1); binN(be(b, p + 1, 1), p + 2)
      case 0xc5 =>
        need(2)
        val n = be(b, p + 1, 2)
        if (n < 0x100) fail() // minimal
        binN(n, p + 3)
      case 0xc6 =>
        need(4)
        val n = be(b, p + 1, 4)
        if (n < 0x10000) fail()
        binN(n, p + 5)
      case 0xc7 => // ext8: timestamp96 only
        need(2)
        val n = (b(p + 1) & 0xff).toLong
        val typ = b(p + 2)
        if (typ != -1) fail()
        if (n != 12) fail() // 1/2/4/8-byte ext would use fixext
        if (p + 3 + n > b.length) fail()
        timestamp(p + 3, n.toInt)
      case 0xc8 | 0xc9 => fail() // ext16/32: nothing in scope is that large
      case 0xca => fail() // float32 out of scope
      case 0xcb =>
        need(8)
        (MFloat(java.lang.Double.longBitsToDouble(be(b, p + 1, 8))), p + 9)
      case 0xcc =>
        need(1)
        val v = be(b, p + 1, 1)
        if (v < 0x80) fail() // fixint would fit
        (MInt(v), p + 2)
      case 0xcd =>
        need(2)
        val v = be(b, p + 1, 2)
        if (v < 0x100) fail()
        (MInt(v), p + 3)
      case 0xce =>
        need(4)
        val v = be(b, p + 1, 4)
        if (v < 0x10000) fail()
        (MInt(v), p + 5)
      case 0xcf =>
        need(8)
        val v = be(b, p + 1, 8)
        if (v >= 0 && v < 0x100000000L) fail() // minimal
        if (v < 0) fail() // [2^63, 2^64): doesn't fit the signed-Long lane
        (MInt(v), p + 9)
      case 0xd0 =>
        need(1)
        val v = b(p + 1).toLong
        if (v >= -32) fail() // negative fixint would fit
        (MInt(v), p + 2)
      case 0xd1 =>
        need(2)
        val v = be(b, p + 1, 2).toShort.toLong
        if (v >= -128) fail()
        (MInt(v), p + 3)
      case 0xd2 =>
        need(4)
        val v = be(b, p + 1, 4).toInt.toLong
        if (v >= -32768) fail()
        (MInt(v), p + 5)
      case 0xd3 =>
        need(8)
        val v = be(b, p + 1, 8)
        if (v >= Int.MinValue.toLong) fail()
        (MInt(v), p + 9)
      case 0xd4 | 0xd5 => fail() // fixext1/2: no ext type in scope
      case 0xd6 =>
        need(5)
        if (b(p + 1) != -1) fail()
        timestamp(p + 2, 4)
      case 0xd7 =>
        need(9)
        if (b(p + 1) != -1) fail()
        timestamp(p + 2, 8)
      case 0xd8 => fail() // fixext16: no ext type in scope
      case 0xd9 =>
        need(1)
        val n = be(b, p + 1, 1)
        if (n < 32) fail() // fixstr would fit
        strN(n, p + 2)
      case 0xda =>
        need(2)
        val n = be(b, p + 1, 2)
        if (n < 0x100) fail()
        strN(n, p + 3)
      case 0xdb =>
        need(4)
        val n = be(b, p + 1, 4)
        if (n < 0x10000) fail()
        strN(n, p + 5)
      case 0xdc =>
        need(2)
        val n = be(b, p + 1, 2)
        if (n < 16) fail()
        arrN(n, p + 3)
      case 0xdd =>
        need(4)
        val n = be(b, p + 1, 4)
        if (n < 0x10000) fail()
        arrN(n, p + 5)
      case 0xde =>
        need(2)
        val n = be(b, p + 1, 2)
        if (n < 16) fail()
        mapN(n, p + 3)
      case 0xdf =>
        need(4)
        val n = be(b, p + 1, 4)
        if (n < 0x10000) fail()
        mapN(n, p + 5)
      case _ => fail()
    }
  }

  final case class MsgpackRec(
    doc_id: Long, n_keys: Long, seq: Long, name: String, neg: Long,
    score: Double, ok: Boolean, has_nil: Boolean, n_tags: Long, tags: String,
    meta_k: Long, ts_sec: Long, ts_nanos: Long, blob_len: Long, blob_checksum: Long)

  private[ext] def parseMsgpack(id: Long, b: Array[Byte]): MsgpackRec = {
    if (b == null || b.length == 0 || b.length > MaxLen) fail()
    val (top, end) = parseValue(b, 0, 0)
    if (end != b.length) fail()
    val m = top match { case x: MMap => x; case _ => fail() }
    def lng(k: String): Long = m.get(k) match { case Some(MInt(v)) => v; case _ => fail() }
    def txt(k: String): String = m.get(k) match { case Some(MText(s)) => s; case _ => fail() }
    val score = m.get("score") match { case Some(MFloat(d)) => d; case _ => fail() }
    val ok = m.get("ok") match { case Some(MBool(v)) => v; case _ => fail() }
    val hasNil = m.get("nil") match { case Some(MNil) => true; case Some(_) => fail(); case None => false }
    val tags = m.get("tags") match {
      case Some(MArr(items)) => items.map { case MText(s) => s; case _ => fail() }
      case _ => fail()
    }
    val (metaK, tsSec, tsNanos) = m.get("meta") match {
      case Some(mm: MMap) =>
        val k = mm.get("k") match { case Some(MInt(v)) => v; case _ => fail() }
        val (s, n) = mm.get("ts") match { case Some(MTimestamp(s0, n0)) => (s0, n0); case _ => fail() }
        (k, s, n)
      case _ => fail()
    }
    val blob = m.get("blob") match { case Some(MBin(x)) => x; case _ => fail() }
    var cks = 0L
    blob.foreach(x => cks = (cks * 31 + (x & 0xff)) % 1000000007L)
    MsgpackRec(id, m.fields.length.toLong, lng("seq"), txt("name"), lng("neg"),
      score, ok, hasNil, tags.length.toLong, tags.mkString(","),
      metaK, tsSec, tsNanos, blob.length.toLong, cks)
  }

  private[ext] def parseMsgpackSafe(id: Long, b: Array[Byte]): Seq[MsgpackRec] =
    try Seq(parseMsgpack(id, b))
    catch { case scala.util.control.NonFatal(_) => Seq.empty }

  /** `msgpack_items`: the document inventory. Map-only. */
  def msgpackItems(docs: DataFrame, idCol: String = "doc_id",
                   binCol: String = "msgpack"): Dataset[MsgpackRec] = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs
      .filter(col(idCol).isNotNull)
      .select(col(idCol).cast("long"), col(binCol))
      .as[(Long, Array[Byte])]
      .flatMap { case (id, b) => if (b == null) Nil else parseMsgpackSafe(id, b) }
  }
}

package graft.ext

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** BSON dump ingestion, from scratch — `mongodump` corpora ship
  * concatenated BSON documents (.bson), and a data engine ingests them
  * the way it ingests JSONL: one record per document, typed fields
  * surfaced, damage quarantining the dump.
  *
  * Implemented per the published BSON specification (bsonspec.org):
  *
  *  - documents as int32 total length (self-inclusive, trailing NUL
  *    included) + elements + 0x00 — the declared length must match the
  *    consumed bytes EXACTLY, for every nested document too;
  *  - element types: double, string (length-prefixed AND
  *    NUL-terminated — both checked), embedded document, array (index
  *    keys validated as 0,1,2...), binary with subtype, ObjectId,
  *    bool (strictly 0/1), UTC datetime, null, int32, timestamp,
  *    int64, decimal128 (sized past); any other tag is damage;
  *  - cstring keys bounded and NUL-free by construction;
  *  - nesting depth capped (a 100-level bomb is damage, not a stack
  *    overflow).
  *
  * A dump is documents back-to-back; a truncated tail or trailing
  * garbage quarantines the whole file.
  *
  * Scale shape: map-only per dump, zero shuffles.
  */
object Bson {

  private def md5Hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString

  private val words = Array("anchor", "bloom", "cedar", "dune", "ember", "flint", "grove", "harbor")

  private def nib(id: Long, i: Int): Int = {
    val m = md5Hex(s"bson:$id")
    Integer.parseInt(m.substring(i - 1, i), 16)
  }

  // ------------------------------------------------------------- fixture

  private[ext] def nRecords(id: Long): Int = 1 + nib(id, 1) % 3
  private[ext] def oidOf(id: Long, r: Int): String = md5Hex(s"oid:$id:$r").take(24)
  private[ext] def nameOf(id: Long, r: Int): String =
    s"rec $r of bson $id: ${words(nib(id, 2 + r) % 8)}"
  private[ext] def seqOf(id: Long, r: Int): Long = id * 10 + r
  private[ext] def genOf(id: Long, r: Int): Int = nib(id, 14) * 4 + r
  private[ext] def scoreOf(id: Long, r: Int): Double = (nib(id, 5 + r) + r) / 4.0
  private[ext] def okOf(id: Long, r: Int): Boolean = (id + r) % 2 == 0
  private[ext] def tagOf(id: Long, r: Int, t: Int): String =
    s"${if (t == 0) "t" else "u"}-${words(nib(id, 8 + r + t) % 8)}"
  private[ext] def metaKOf(id: Long, r: Int): Long = 500L + nib(id, 11 + r)
  private[ext] def createdOf(id: Long, r: Int): Long = 1700000000000L + id * 1000 + r

  private def utf8(s: String): Array[Byte] = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)

  private final class W {
    val out = new java.io.ByteArrayOutputStream()
    def u8(v: Int): Unit = out.write(v)
    def i32(v: Long): Unit = { var i = 0; while (i < 4) { out.write(((v >>> (8 * i)) & 0xff).toInt); i += 1 } }
    def i64(v: Long): Unit = { var i = 0; while (i < 8) { out.write(((v >>> (8 * i)) & 0xff).toInt); i += 1 } }
    def cstr(s: String): Unit = { val b = utf8(s); out.write(b, 0, b.length); out.write(0) }
    def raw(b: Array[Byte]): Unit = out.write(b, 0, b.length)
  }

  /** One document: build elements, then wrap with length + NUL. */
  private def doc(build: W => Unit): Array[Byte] = {
    val w = new W
    build(w)
    val body = w.out.toByteArray
    val total = 4 + body.length + 1
    val o = new W
    o.i32(total.toLong)
    o.raw(body)
    o.u8(0)
    o.out.toByteArray
  }

  private[ext] def renderBson(id: Long): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    (0 until nRecords(id)).foreach { r =>
      val d = doc { w =>
        w.u8(0x07); w.cstr("_id")
        val oid = oidOf(id, r)
        (0 until 12).foreach(i => w.u8(Integer.parseInt(oid.substring(2 * i, 2 * i + 2), 16)))
        w.u8(0x02); w.cstr("name")
        val nb = utf8(nameOf(id, r))
        w.i32(nb.length + 1L); w.raw(nb); w.u8(0)
        // seq is a LONG closed form (doc_id*10): int64, never int32 —
        // a 0x10 element would truncate for doc_id >= 2^31/10
        w.u8(0x12); w.cstr("seq"); w.i64(seqOf(id, r))
        // the int32 element type stays graded via a value that FITS
        w.u8(0x10); w.cstr("gen"); w.i32(genOf(id, r))
        w.u8(0x01); w.cstr("score")
        w.i64(java.lang.Double.doubleToLongBits(scoreOf(id, r)))
        w.u8(0x08); w.cstr("ok"); w.u8(if (okOf(id, r)) 1 else 0)
        w.u8(0x04); w.cstr("tags")
        w.raw(doc { a =>
          (0 until 2).foreach { t =>
            a.u8(0x02); a.cstr(t.toString)
            val tb = utf8(tagOf(id, r, t))
            a.i32(tb.length + 1L); a.raw(tb); a.u8(0)
          }
        })
        w.u8(0x03); w.cstr("meta")
        w.raw(doc { m =>
          m.u8(0x12); m.cstr("k"); m.i64(metaKOf(id, r))
          m.u8(0x0A); m.cstr("note") // a null element
        })
        w.u8(0x09); w.cstr("created"); w.i64(createdOf(id, r))
      }
      out.write(d, 0, d.length)
    }
    out.toByteArray
  }

  /** Fixture writer: one .bson dump per document row. */
  def encodeBson(docs: DataFrame, idCol: String = "doc_id"): DataFrame =
    Stage.render(docs, idCol, "bson")(renderBson)

  // --------------------------------------------------------------- reader

  private final class MalformedBson
      extends RuntimeException("malformed bson", null, false, false)
  private def fail(): Nothing = throw new MalformedBson

  private val MaxDoc = 1 << 26
  private val MaxDepth = 32

  final case class BsonRec(
    doc_id: Long, rec_idx: Long, n_fields: Long, oid: String, name: String,
    seq: Long, gen: Long, score: Double, ok: Boolean, n_tags: Long, tags: String,
    meta_k: Long, created_ms: Long)

  private[ext] final case class Val(kind: Char, s: String = "", i: Long = 0L,
    d: Double = 0.0, items: Seq[Val] = Nil, fields: Map[String, Val] = Map.empty)

  /** Parse one document at [from, from+declared); returns the field map
    * and the end position. private[ext] so BsonSpec can probe the
    * structural rules (array index keys, duplicates) in isolation.
    */
  private[ext] def parseDoc(b: Array[Byte], from: Int, depth: Int): (Map[String, Val], Int) = {
    if (depth > MaxDepth) fail()
    if (from + 5 > b.length) fail()
    def i32(p: Int): Long = (b(p) & 0xffL) | ((b(p + 1) & 0xffL) << 8) |
      ((b(p + 2) & 0xffL) << 16) | ((b(p + 3) & 0xffL) << 24)
    def i64(p: Int): Long = {
      var v = 0L
      var i = 7
      while (i >= 0) { v = (v << 8) | (b(p + i) & 0xffL); i -= 1 }
      v
    }
    val total = i32(from)
    if (total < 5 || total > MaxDoc || from + total > b.length) fail()
    val end = from + total.toInt
    var p = from + 4
    var fields = Map.empty[String, Val]
    var done = false
    while (!done) {
      if (p >= end) fail()
      val t = b(p) & 0xff
      p += 1
      if (t == 0) {
        if (p != end) fail() // the terminator must land exactly on the length
        done = true
      } else {
        val keyStart = p
        while (p < end && b(p) != 0) p += 1
        if (p >= end || p - keyStart > 1024) fail()
        val key = new String(b, keyStart, p - keyStart, java.nio.charset.StandardCharsets.UTF_8)
        p += 1
        val v: Val = t match {
          case 0x01 =>
            if (p + 8 > end) fail()
            val d = java.lang.Double.longBitsToDouble(i64(p)); p += 8
            Val('d', d = d)
          case 0x02 =>
            if (p + 4 > end) fail()
            val n = i32(p)
            if (n < 1 || p + 4 + n > end) fail()
            if (b(p + 4 + n.toInt - 1) != 0) fail() // NUL-terminated too
            val s = new String(b, p + 4, n.toInt - 1, java.nio.charset.StandardCharsets.UTF_8)
            p += 4 + n.toInt
            Val('s', s = s)
          case 0x03 =>
            val (f, e) = parseDoc(b, p, depth + 1)
            p = e
            Val('o', fields = f)
          case 0x04 =>
            val (f, e) = parseDoc(b, p, depth + 1)
            p = e
            // array keys must be the decimal indexes in order
            val items = f.toSeq.sortBy(_._1.toIntOption.getOrElse(fail()))
            items.zipWithIndex.foreach { case ((k, _), i) => if (k != i.toString) fail() }
            Val('a', items = items.map(_._2))
          case 0x05 =>
            if (p + 5 > end) fail()
            val n = i32(p)
            if (n < 0 || p + 5 + n > end) fail()
            p += 5 + n.toInt
            Val('b', i = n)
          case 0x07 =>
            if (p + 12 > end) fail()
            val hex = (0 until 12).map(i => f"${b(p + i) & 0xff}%02x").mkString
            p += 12
            Val('i', s = hex)
          case 0x08 =>
            if (p + 1 > end) fail()
            val v0 = b(p) & 0xff
            if (v0 > 1) fail() // strictly 0/1
            p += 1
            Val('t', i = v0)
          case 0x09 | 0x12 | 0x11 =>
            if (p + 8 > end) fail()
            val v0 = i64(p); p += 8
            Val('l', i = v0)
          case 0x0A => Val('n')
          case 0x10 =>
            if (p + 4 > end) fail()
            val v0 = i32(p).toInt.toLong; p += 4 // sign-extended int32
            Val('l', i = v0)
          case 0x13 =>
            if (p + 16 > end) fail()
            p += 16
            Val('x')
          case _ => fail()
        }
        if (fields.contains(key)) fail() // duplicate keys are damage
        fields += (key -> v)
      }
    }
    (fields, end)
  }

  private[ext] def parseBson(id: Long, b: Array[Byte]): Seq[BsonRec] = {
    if (b == null || b.length < 5) fail()
    val out = Vector.newBuilder[BsonRec]
    var p = 0
    var idx = 0L
    while (p < b.length) {
      val (f, end) = parseDoc(b, p, 0)
      p = end
      def str(k: String): String = f.get(k) match {
        case Some(Val('s', s, _, _, _, _)) => s
        case _ => fail()
      }
      def lng(k: String): Long = f.get(k) match {
        case Some(v) if v.kind == 'l' => v.i
        case _ => fail()
      }
      val oid = f.get("_id") match {
        case Some(v) if v.kind == 'i' => v.s
        case _ => fail()
      }
      val score = f.get("score") match {
        case Some(v) if v.kind == 'd' => v.d
        case _ => fail()
      }
      val ok = f.get("ok") match {
        case Some(v) if v.kind == 't' => v.i == 1
        case _ => fail()
      }
      val tags = f.get("tags") match {
        case Some(v) if v.kind == 'a' =>
          v.items.map { t => if (t.kind != 's') fail(); t.s }
        case _ => fail()
      }
      val metaK = f.get("meta") match {
        case Some(v) if v.kind == 'o' => v.fields.get("k") match {
          case Some(k) if k.kind == 'l' => k.i
          case _ => fail()
        }
        case _ => fail()
      }
      out += BsonRec(id, idx, f.size.toLong, oid, str("name"), lng("seq"),
        lng("gen"), score, ok, tags.length.toLong, tags.mkString(","),
        metaK, lng("created"))
      idx += 1
    }
    out.result()
  }

  private[ext] def parseBsonSafe(id: Long, b: Array[Byte]): Seq[BsonRec] =
    try parseBson(id, b)
    catch { case scala.util.control.NonFatal(_) => Seq.empty }

  /** `bson_docs`: the dump's record inventory. Map-only. */
  def bsonDocs(docs: DataFrame, idCol: String = "doc_id",
               binCol: String = "bson"): Dataset[BsonRec] = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs
      .filter(col(idCol).isNotNull)
      .select(col(idCol).cast("long"), col(binCol))
      .as[(Long, Array[Byte])]
      .flatMap { case (id, b) => if (b == null) Nil else parseBsonSafe(id, b) }
  }
}

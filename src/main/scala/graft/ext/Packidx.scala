package graft.ext

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Git pack-index (.idx v2) ingestion, from scratch — the random-access
  * side of [[graft.ext.Git]]'s packfiles: every hosted repo scan reads
  * these to locate objects without inflating the pack. Implemented per
  * the published `gitformat-pack` documentation:
  *
  *  - magic `\\377tOc` + version 2;
  *  - the 256-entry FANOUT table: entry b = cumulative count of object
  *    ids whose first byte is <= b — verified monotone, consistent
  *    with each id's actual first byte, and fanout[255] equal to the
  *    object count;
  *  - object ids sorted strictly ascending (duplicates damage), the
  *    per-object CRC-32 table, and the 4-byte offset table whose
  *    MSB-set entries index the 8-BYTE LARGE-OFFSET table (planted on
  *    every fourth doc — the >2 GiB pack trap most readers get wrong);
  *    a large-offset index out of range, an unreferenced large-offset
  *    slot, or a small offset stored in the large table is damage;
  *  - the trailer: the pack's id, then the index's OWN SHA-1 over
  *    everything before it — VERIFIED (JDK SHA-1), so one flipped byte
  *    anywhere in the file quarantines.
  *
  * Scale shape: map-only per index, zero shuffles.
  */
object Packidx {

  private def md5Hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString

  private def nib(id: Long, i: Int): Int = {
    val m = md5Hex(s"pidx:$id")
    Integer.parseInt(m.substring(i - 1, i), 16)
  }

  // ------------------------------------------------------------- fixture

  private[ext] def nObjectsOf(id: Long): Int = 3 + nib(id, 1) % 5
  private[ext] def hasLargeOffset(id: Long): Boolean = id % 4 == 0
  /** 40-hex object id for pre-sort slot k (ids are arbitrary in an
    * index; md5-derived here).
    */
  private[ext] def oidOf(id: Long, k: Int): String =
    md5Hex(s"oid:$id:$k") + md5Hex(s"oid:$id:$k:b").take(8)
  private[ext] def crcOf(id: Long, k: Int): Long =
    java.lang.Long.parseLong(md5Hex(s"crc:$id:$k").take(8), 16)
  private[ext] def offsetOf(id: Long, k: Int): Long =
    if (hasLargeOffset(id) && k == 0) 0x100000000L + id * 64 + nib(id, 2)
    else 12L + 50 * k

  private def hex2bytes(hx: String): Array[Byte] =
    (0 until hx.length / 2).map(i => Integer.parseInt(hx.substring(2 * i, 2 * i + 2), 16).toByte).toArray

  private final class W {
    val out = new java.io.ByteArrayOutputStream()
    def be32(v: Long): Unit = (3 to 0 by -1).foreach(i => out.write(((v >>> (8 * i)) & 0xff).toInt))
    def be64(v: Long): Unit = (7 to 0 by -1).foreach(i => out.write(((v >>> (8 * i)) & 0xff).toInt))
    def raw(b: Array[Byte]): Unit = out.write(b, 0, b.length)
  }

  private[ext] def packIdOf(id: Long): String = md5Hex(s"packid:$id") + md5Hex(s"packid:$id:b").take(8)

  private[ext] def renderIdx(id: Long): Array[Byte] = {
    val n = nObjectsOf(id)
    // (sorted oid, original pre-sort slot) — crc/offset follow the slot
    val entries = (0 until n).map(k => (oidOf(id, k), k)).sortBy(_._1)
    val w = new W
    w.raw(Array[Byte](0xff.toByte, 't', 'O', 'c'))
    w.be32(2L)
    // fanout
    val counts = new Array[Int](256)
    entries.foreach { case (oid, _) => counts(Integer.parseInt(oid.take(2), 16)) += 1 }
    var cum = 0L
    (0 until 256).foreach { b => cum += counts(b); w.be32(cum) }
    entries.foreach { case (oid, _) => w.raw(hex2bytes(oid)) }
    entries.foreach { case (_, k) => w.be32(crcOf(id, k)) }
    // offsets: 4-byte entries, MSB-set index into the large table
    val large = scala.collection.mutable.ArrayBuffer.empty[Long]
    entries.foreach { case (_, k) =>
      val off = offsetOf(id, k)
      if (off < 0x80000000L) w.be32(off)
      else {
        w.be32(0x80000000L | large.length)
        large += off
      }
    }
    large.foreach(w.be64)
    w.raw(hex2bytes(packIdOf(id)))
    val body = w.out.toByteArray
    val sha1 = java.security.MessageDigest.getInstance("SHA-1").digest(body)
    body ++ sha1
  }

  /** Fixture writer: one .idx per document row. */
  def encodeIdx(docs: DataFrame, idCol: String = "doc_id"): DataFrame =
    Stage.render(docs, idCol, "idx")(renderIdx)

  // --------------------------------------------------------------- reader

  private final class MalformedIdx
      extends RuntimeException("malformed pack index", null, false, false)
  private def fail(): Nothing = throw new MalformedIdx

  private val MaxLen = 1 << 26
  private val MaxObjects = 1 << 20

  final case class PackIdxRec(
    doc_id: Long, obj_idx: Long, oid: String, crc32: Long, offset: Long,
    n_objects: Long, pack_id: String)

  private def be32At(b: Array[Byte], p: Int): Long =
    ((b(p) & 0xffL) << 24) | ((b(p + 1) & 0xffL) << 16) | ((b(p + 2) & 0xffL) << 8) | (b(p + 3) & 0xffL)

  private[ext] def parseIdx(id: Long, b: Array[Byte]): Seq[PackIdxRec] = {
    if (b == null || b.length < 8 + 1024 + 40 + 20 || b.length > MaxLen) fail()
    if ((b(0) & 0xff) != 0xff || b(1) != 't' || b(2) != 'O' || b(3) != 'c') fail()
    if (be32At(b, 4) != 2L) fail()
    // the index's own SHA-1 over everything before it
    val sha = java.security.MessageDigest.getInstance("SHA-1")
      .digest(java.util.Arrays.copyOfRange(b, 0, b.length - 20))
    (0 until 20).foreach(i => if (sha(i) != b(b.length - 20 + i)) fail())
    // fanout: monotone, final entry = object count
    var prev = 0L
    val fanout = (0 until 256).map { i =>
      val v = be32At(b, 8 + 4 * i)
      if (v < prev) fail()
      prev = v
      v
    }
    val n = fanout(255)
    if (n < 1 || n > MaxObjects) fail()
    val oidsAt = 8 + 1024
    val crcsAt = oidsAt + 20 * n.toInt
    val offsAt = crcsAt + 4 * n.toInt
    val largeAt = offsAt + 4 * n.toInt
    // trailer: 20-byte pack id + 20-byte index SHA-1
    if (largeAt + 40 > b.length) fail()
    val largeCount = (b.length - 40 - largeAt) / 8
    if (largeAt + 8 * largeCount + 40 != b.length) fail() // exact layout
    var prevOid = ""
    val largeUsed = new Array[Boolean](largeCount.toInt)
    val out = Vector.newBuilder[PackIdxRec]
    val packId = (0 until 20).map(i => f"${b(largeAt + 8 * largeCount.toInt + i) & 0xff}%02x").mkString
    (0 until n.toInt).foreach { i =>
      val oid = (0 until 20).map(j => f"${b(oidsAt + 20 * i + j) & 0xff}%02x").mkString
      if (oid <= prevOid && i > 0) fail() // strictly ascending
      prevOid = oid
      // fanout consistency: this id's first byte bucket must contain i
      val fb = Integer.parseInt(oid.take(2), 16)
      val lo = if (fb == 0) 0L else fanout(fb - 1)
      if (i < lo || i >= fanout(fb)) fail()
      val crc = be32At(b, crcsAt + 4 * i)
      val rawOff = be32At(b, offsAt + 4 * i)
      val off =
        if ((rawOff & 0x80000000L) == 0) rawOff
        else {
          val li = (rawOff & 0x7fffffffL).toInt
          if (li >= largeCount) fail()
          if (largeUsed(li)) fail() // one slot per object
          largeUsed(li) = true
          var v = 0L
          (0 until 8).foreach(j => v = (v << 8) | (b(largeAt + 8 * li + j) & 0xffL))
          if (v < 0x80000000L) fail() // a small offset has no business here
          v
        }
      out += PackIdxRec(id, i.toLong, oid, crc, off, n, packId)
    }
    if (largeUsed.exists(!_)) fail() // unreferenced large-offset slots
    out.result()
  }

  private[ext] def parseIdxSafe(id: Long, b: Array[Byte]): Seq[PackIdxRec] =
    try parseIdx(id, b)
    catch { case scala.util.control.NonFatal(_) => Seq.empty }

  /** `pack_index`: the per-object index inventory. Map-only. */
  def packIndex(docs: DataFrame, idCol: String = "doc_id",
                binCol: String = "idx"): Dataset[PackIdxRec] = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs
      .filter(col(idCol).isNotNull)
      .select(col(idCol).cast("long"), col(binCol))
      .as[(Long, Array[Byte])]
      .flatMap { case (id, b) => if (b == null) Nil else parseIdxSafe(id, b) }
  }
}

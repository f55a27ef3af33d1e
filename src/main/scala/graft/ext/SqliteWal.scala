package graft.ext

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** SQLite write-ahead-log ingestion, from scratch — the `-wal` file
  * beside every live SQLite database ([[graft.ext.Sqlite]]'s sibling):
  * browser profiles and message stores are routinely captured
  * mid-transaction, and their latest writes live only in the WAL.
  * Implemented per the published format (sqlite.org/fileformat2.html
  * §WAL and the checksum algorithm documented in wal.c):
  *
  *  - 32-byte header: magic 0x377f0682 / 0x377f0683 (the LOW BIT
  *    selects the checksum word order — both arms exercised), format
  *    3007000, page size (power of two, >= 512), checkpoint sequence,
  *    salt pair, and the header's OWN cumulative checksum over its
  *    first 24 bytes, VERIFIED;
  *  - frames: 24-byte header (page number, commit db-size, the
  *    header's salt pair echoed, cumulative checksum pair) + one page;
  *  - the cumulative checksum chain (s1 += x[i] + s2; s2 += x[i+1] +
  *    s1 over 32-bit words, seeded by the header checksum, extended by
  *    each frame's first 8 bytes + page content) VERIFIED per frame;
  *  - the published RECOVERY RULE, not a naive walk: frames are valid
  *    only while salts match and checksums chain; the first invalid
  *    frame ENDS the log and everything after is ignored (stale frames
  *    from before the last checkpoint are normal WAL content, so a
  *    salt-mismatched tail is NOT damage — the fixture plants one on
  *    every third doc). A torn FINAL frame — fewer than frame-size
  *    bytes left — is likewise normal crash residue the walk stops
  *    before, exactly as sqlite recovery does; only an EMPTY valid
  *    prefix quarantines (the fixture contract always commits at least
  *    one frame);
  *  - page numbers positive; commit frames carry the new database size
  *    in pages, non-commit frames zero.
  *
  * Scale shape: map-only per log, zero shuffles.
  */
object SqliteWal {

  private def md5Hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString

  private def md5HexOf(b: Array[Byte]): String =
    java.security.MessageDigest.getInstance("MD5").digest(b)
      .map("%02x".format(_)).mkString

  private def nib(id: Long, i: Int): Int = {
    val m = md5Hex(s"swal:$id")
    Integer.parseInt(m.substring(i - 1, i), 16)
  }

  private val PageSize = 512

  // ------------------------------------------------------------- fixture

  /** Big-endian checksum words when the magic's low bit is 1. */
  private[ext] def isBigEndian(id: Long): Boolean = id % 2 == 0
  private[ext] def nTxnsOf(id: Long): Int = 1 + nib(id, 1) % 3
  private[ext] def nFramesOf(id: Long, t: Int): Int = 1 + ((id + t) % 2).toInt
  private[ext] def hasStaleTail(id: Long): Boolean = id % 3 == 0
  private[ext] def ckptSeqOf(id: Long): Long = nib(id, 2).toLong
  private[ext] def salt1Of(id: Long): Long = 0x11110000L + nib(id, 3)
  private[ext] def salt2Of(id: Long): Long = 0x22220000L + nib(id, 4)
  private[ext] def pageNoOf(id: Long, t: Int, f: Int): Long = 1L + (t + f + id) % 4
  private[ext] def dbSizeOf(id: Long, t: Int): Long = 4L + t
  /** Page content: the 32-char ASCII md5 unit repeated (512 / 32). */
  private[ext] def pageOf(id: Long, t: Int, f: Int): Array[Byte] = {
    val unit = md5Hex(s"walpg:$id:$t:$f").getBytes(java.nio.charset.StandardCharsets.US_ASCII)
    val out = new Array[Byte](PageSize)
    var i = 0
    while (i < PageSize) { out(i) = unit(i % 32); i += 1 }
    out
  }

  /** The wal.c cumulative checksum: extend (s1, s2) over 8-byte steps of
    * 32-bit words in the order the magic selects.
    */
  private[ext] def walChecksum(b: Array[Byte], from: Int, until: Int,
      be: Boolean, s10: Long, s20: Long): (Long, Long) = {
    var s1 = s10
    var s2 = s20
    var i = from
    while (i < until) {
      val x0 =
        if (be) ((b(i) & 0xffL) << 24) | ((b(i + 1) & 0xffL) << 16) | ((b(i + 2) & 0xffL) << 8) | (b(i + 3) & 0xffL)
        else (b(i) & 0xffL) | ((b(i + 1) & 0xffL) << 8) | ((b(i + 2) & 0xffL) << 16) | ((b(i + 3) & 0xffL) << 24)
      val x1 =
        if (be) ((b(i + 4) & 0xffL) << 24) | ((b(i + 5) & 0xffL) << 16) | ((b(i + 6) & 0xffL) << 8) | (b(i + 7) & 0xffL)
        else (b(i + 4) & 0xffL) | ((b(i + 5) & 0xffL) << 8) | ((b(i + 6) & 0xffL) << 16) | ((b(i + 7) & 0xffL) << 24)
      s1 = (s1 + x0 + s2) & 0xffffffffL
      s2 = (s2 + x1 + s1) & 0xffffffffL
      i += 8
    }
    (s1, s2)
  }

  private final class W {
    val out = new java.io.ByteArrayOutputStream()
    def be32(v: Long): Unit = (3 to 0 by -1).foreach(i => out.write(((v >>> (8 * i)) & 0xff).toInt))
    def raw(b: Array[Byte]): Unit = out.write(b, 0, b.length)
  }

  private[ext] def renderWal(id: Long): Array[Byte] = {
    val be = isBigEndian(id)
    val h = new W
    h.be32(if (be) 0x377f0683L else 0x377f0682L)
    h.be32(3007000L)
    h.be32(PageSize.toLong)
    h.be32(ckptSeqOf(id))
    h.be32(salt1Of(id))
    h.be32(salt2Of(id))
    val hb = h.out.toByteArray
    val (hs1, hs2) = walChecksum(hb, 0, 24, be, 0L, 0L)
    h.be32(hs1); h.be32(hs2)
    val out = new W
    out.raw(h.out.toByteArray)
    var s1 = hs1
    var s2 = hs2
    def frame(pno: Long, dbSize: Long, page: Array[Byte], salt1: Long): Unit = {
      val fh = new W
      fh.be32(pno)
      fh.be32(dbSize)
      val first8 = fh.out.toByteArray
      val (a1, a2) = walChecksum(first8, 0, 8, be, s1, s2)
      val (b1, b2) = walChecksum(page, 0, page.length, be, a1, a2)
      s1 = b1; s2 = b2
      out.raw(first8)
      out.be32(salt1)
      out.be32(salt2Of(id))
      out.be32(s1)
      out.be32(s2)
      out.raw(page)
    }
    (0 until nTxnsOf(id)).foreach { t =>
      val nf = nFramesOf(id, t)
      (0 until nf).foreach { f =>
        frame(pageNoOf(id, t, f), if (f == nf - 1) dbSizeOf(id, t) else 0L,
          pageOf(id, t, f), salt1Of(id))
      }
    }
    if (hasStaleTail(id)) {
      // a frame from BEFORE the last checkpoint: wrong salt-1, correctly
      // ignored by the recovery rule (the checksum chain is deliberately
      // continued so ONLY the salt rule can reject it)
      frame(9L, 9L, pageOf(id, 15, 15), salt1Of(id) + 1)
    }
    out.out.toByteArray
  }

  /** Fixture writer: one -wal per document row. */
  def encodeWal(docs: DataFrame, idCol: String = "doc_id"): DataFrame =
    Stage.render(docs, idCol, "wal")(renderWal)

  // --------------------------------------------------------------- reader

  private final class MalformedWal
      extends RuntimeException("malformed sqlite wal", null, false, false)
  private def fail(): Nothing = throw new MalformedWal

  private val MaxLen = 1 << 26

  final case class SqliteWalRec(
    doc_id: Long, frame_idx: Long, page_no: Long, db_size: Long,
    is_commit: Boolean, big_endian: Boolean, ckpt_seq: Long, page_md5: String)

  private def be32At(b: Array[Byte], p: Int): Long =
    ((b(p) & 0xffL) << 24) | ((b(p + 1) & 0xffL) << 16) | ((b(p + 2) & 0xffL) << 8) | (b(p + 3) & 0xffL)

  private[ext] def parseWal(id: Long, b: Array[Byte]): Seq[SqliteWalRec] = {
    if (b == null || b.length < 32 || b.length > MaxLen) fail()
    val magic = be32At(b, 0)
    val be = magic match {
      case 0x377f0683L => true
      case 0x377f0682L => false
      case _ => fail()
    }
    if (be32At(b, 4) != 3007000L) fail()
    val pageSize = be32At(b, 8)
    if (pageSize < 512 || pageSize > 65536 || (pageSize & (pageSize - 1)) != 0) fail()
    val ckpt = be32At(b, 12)
    val salt1 = be32At(b, 16)
    val salt2 = be32At(b, 20)
    val (hs1, hs2) = walChecksum(b, 0, 24, be, 0L, 0L)
    if (hs1 != be32At(b, 24) || hs2 != be32At(b, 28)) fail()
    val frameSize = 24 + pageSize.toInt
    // the file is header + whole frames; a torn final frame is normal
    // (recovery ignores it), but we require frame alignment INSIDE the
    // region we accept — the walk below simply stops before a partial
    // tail, matching sqlite's recovery
    var p = 32
    var s1 = hs1
    var s2 = hs2
    var idx = 0L
    val out = Vector.newBuilder[SqliteWalRec]
    var stopped = false
    while (!stopped && p + frameSize <= b.length) {
      val pno = be32At(b, p)
      val dbSize = be32At(b, p + 4)
      val fSalt1 = be32At(b, p + 8)
      val fSalt2 = be32At(b, p + 12)
      if (fSalt1 != salt1 || fSalt2 != salt2) stopped = true
      else {
        val (a1, a2) = walChecksum(b, p, p + 8, be, s1, s2)
        val (c1, c2) = walChecksum(b, p + 24, p + frameSize, be, a1, a2)
        if (c1 != be32At(b, p + 16) || c2 != be32At(b, p + 20)) stopped = true
        else if (pno < 1) stopped = true // invalid frame = end of log, keep the prefix
        else {
          s1 = c1; s2 = c2
          val page = java.util.Arrays.copyOfRange(b, p + 24, p + frameSize)
          out += SqliteWalRec(id, idx, pno, dbSize, dbSize > 0, be, ckpt, md5HexOf(page))
          idx += 1
          p += frameSize
        }
      }
    }
    val res = out.result()
    if (res.isEmpty) fail() // an empty valid prefix is damage for the fixture contract
    res
  }

  private[ext] def parseWalSafe(id: Long, b: Array[Byte]): Seq[SqliteWalRec] =
    try parseWal(id, b)
    catch { case scala.util.control.NonFatal(_) => Seq.empty }

  /** `sqlite_wal_frames`: the valid-prefix frame inventory. Map-only. */
  def sqliteWalFrames(docs: DataFrame, idCol: String = "doc_id",
                      binCol: String = "wal"): Dataset[SqliteWalRec] = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs
      .filter(col(idCol).isNotNull)
      .select(col(idCol).cast("long"), col(binCol))
      .as[(Long, Array[Byte])]
      .flatMap { case (id, b) => if (b == null) Nil else parseWalSafe(id, b) }
  }
}

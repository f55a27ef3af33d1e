package graft.ext

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** LevelDB/RocksDB write-ahead-log ingestion, from scratch — the
  * `.log`/`.wal` sibling of [[graft.ext.Sst]]: every embedded-KV store
  * recovers from exactly this format, and a forensic pipeline reads
  * the tail of the database from it. Implemented per the published
  * LevelDB `doc/log_format.md`:
  *
  *  - the file is a sequence of 32768-byte BLOCKS; a record that does
  *    not fit the current block is split into FIRST/MIDDLE.../LAST
  *    fragments, and a block tail of fewer than 7 bytes (the header
  *    size) is ZERO padding — non-zero trailer bytes are damage;
  *  - fragment header: 4-byte MASKED crc32c (little-endian; the JDK's
  *    `CRC32C` under the TFRecord/SST masking
  *    scheme, VERIFIED per fragment — the crc
  *    covers the type byte then the payload, exactly as
  *    `log_writer.cc` computes it), 2-byte little-endian length,
  *    1-byte type (1 FULL / 2 FIRST / 3 MIDDLE / 4 LAST);
  *  - the fragment state machine is ENFORCED: FULL and FIRST only at
  *    record start, MIDDLE/LAST only inside one, every record closed
  *    by LAST, no unterminated record at EOF;
  *  - a fragment may not cross its block's boundary.
  *
  * The fixture's first record exceeds one block (a repeating 16-byte
  * md5 pattern), so the FIRST/MIDDLE/LAST path runs on every file; the
  * oracle replays each record's length and md5 by rebuilding the same
  * payload with DuckDB's `repeat`, so a mis-joined fragment or a byte
  * lost at a block seam fails the hash.
  *
  * Scale shape: map-only per log, zero shuffles.
  */
object LeveldbLog {

  private def md5Hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString

  private def md5HexOf(b: Array[Byte]): String =
    java.security.MessageDigest.getInstance("MD5").digest(b)
      .map("%02x".format(_)).mkString

  private def nib(id: Long, i: Int): Int = {
    val m = md5Hex(s"wal:$id")
    Integer.parseInt(m.substring(i - 1, i), 16)
  }

  private val BlockSize = 32768
  private val HeaderSize = 7

  // ------------------------------------------------------------- fixture

  private[ext] def nRecordsOf(id: Long): Int = 2 + nib(id, 1) % 3
  /** Record 0 spans blocks; the rest are small. Payloads are the
    * 32-char ASCII md5 hex unit repeated (lengths multiples of 32), so
    * the oracle rebuilds them as `repeat(md5(...), len/32)` and grades
    * the reassembled md5 with DuckDB's VARCHAR md5.
    */
  private[ext] def recordLenOf(id: Long, r: Int): Int =
    if (r == 0) BlockSize + 1024 + nib(id, 2) * 32
    else 96 + nib(id, 3 + r) * 32
  /** The repeating 32-byte ASCII unit of record r. */
  private[ext] def unitHexOf(id: Long, r: Int): String = md5Hex(s"walrec:$id:$r")
  private[ext] def payloadOf(id: Long, r: Int): Array[Byte] = {
    val ub = unitHexOf(id, r).getBytes(java.nio.charset.StandardCharsets.US_ASCII)
    val n = recordLenOf(id, r)
    val out = new Array[Byte](n)
    var i = 0
    while (i < n) { out(i) = ub(i % 32); i += 1 }
    out
  }

  private def maskedCrc(payload: Array[Byte], from: Int, until: Int, typ: Byte): Long = {
    // crc over type byte then payload, as log_writer.cc computes it
    val c = new java.util.zip.CRC32C
    c.update(typ)
    c.update(payload, from, until - from)
    TfRecord.mask(c.getValue.toInt) & 0xffffffffL
  }

  private[ext] def renderLog(id: Long): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    def blockLeft(): Int = BlockSize - (out.size() % BlockSize)
    (0 until nRecordsOf(id)).foreach { r =>
      val payload = payloadOf(id, r)
      var off = 0
      var begun = false
      while (!begun || off < payload.length) {
        if (blockLeft() < HeaderSize) {
          (0 until blockLeft()).foreach(_ => out.write(0)) // zero trailer
        }
        val avail = blockLeft() - HeaderSize
        val take = math.min(avail, payload.length - off)
        val isFirst = !begun
        val isLast = off + take == payload.length
        val typ: Byte =
          if (isFirst && isLast) 1 // FULL
          else if (isFirst) 2 // FIRST
          else if (isLast) 4 // LAST
          else 3 // MIDDLE
        val crc = maskedCrc(payload, off, off + take, typ)
        (0 until 4).foreach(i => out.write(((crc >>> (8 * i)) & 0xff).toInt))
        out.write(take & 0xff); out.write((take >> 8) & 0xff)
        out.write(typ.toInt)
        out.write(payload, off, take)
        off += take
        begun = true
      }
    }
    out.toByteArray
  }

  /** Fixture writer: one WAL per document row. */
  def encodeLog(docs: DataFrame, idCol: String = "doc_id"): DataFrame =
    Stage.render(docs, idCol, "wal")(renderLog)

  // --------------------------------------------------------------- reader

  private final class MalformedLog
      extends RuntimeException("malformed leveldb log", null, false, false)
  private def fail(): Nothing = throw new MalformedLog

  private val MaxLen = 1 << 26

  final case class WalRec(
    doc_id: Long, rec_idx: Long, n_fragments: Long, rec_len: Long, rec_md5: String)

  private[ext] def parseLog(id: Long, b: Array[Byte]): Seq[WalRec] = {
    if (b == null || b.length == 0 || b.length > MaxLen) fail()
    val out = Vector.newBuilder[WalRec]
    var p = 0
    var recIdx = 0L
    var current: java.io.ByteArrayOutputStream = null
    var fragments = 0L
    while (p < b.length) {
      val blockEnd = math.min((p / BlockSize + 1) * BlockSize, b.length)
      if (blockEnd - p < HeaderSize) {
        // zero trailer only
        (p until blockEnd).foreach(i => if (b(i) != 0) fail())
        p = blockEnd
      } else {
        val crc = (b(p) & 0xffL) | ((b(p + 1) & 0xffL) << 8) |
          ((b(p + 2) & 0xffL) << 16) | ((b(p + 3) & 0xffL) << 24)
        val len = (b(p + 4) & 0xff) | ((b(p + 5) & 0xff) << 8)
        val typ = b(p + 6) & 0xff
        if (crc == 0 && len == 0 && typ == 0) {
          // an all-zero header is the other legal trailer shape (a
          // writer that zero-fills a tail >= 7 bytes at reopen); the
          // REST of the block must be zero too
          (p until blockEnd).foreach(i => if (b(i) != 0) fail())
          p = blockEnd
        } else {
          if (p + HeaderSize + len > blockEnd) fail() // no crossing the seam
          val ds = p + HeaderSize
          if (maskedCrc(b, ds, ds + len, typ.toByte) != crc) fail()
          typ match {
            case 1 => // FULL
              if (current != null) fail()
              val payload = java.util.Arrays.copyOfRange(b, ds, ds + len)
              out += WalRec(id, recIdx, 1L, len.toLong, md5HexOf(payload))
              recIdx += 1
            case 2 => // FIRST
              if (current != null) fail()
              current = new java.io.ByteArrayOutputStream()
              current.write(b, ds, len)
              fragments = 1L
            case 3 => // MIDDLE
              if (current == null) fail()
              current.write(b, ds, len)
              fragments += 1
            case 4 => // LAST
              if (current == null) fail()
              current.write(b, ds, len)
              fragments += 1
              val payload = current.toByteArray
              out += WalRec(id, recIdx, fragments, payload.length.toLong, md5HexOf(payload))
              current = null
              recIdx += 1
            case _ => fail()
          }
          p = ds + len
        }
      }
    }
    if (current != null) fail() // unterminated record at EOF
    val res = out.result()
    if (res.isEmpty) fail()
    res
  }

  private[ext] def parseLogSafe(id: Long, b: Array[Byte]): Seq[WalRec] =
    try parseLog(id, b)
    catch { case scala.util.control.NonFatal(_) => Seq.empty }

  /** `wal_records`: the reassembled record inventory. Map-only. */
  def walRecords(docs: DataFrame, idCol: String = "doc_id",
                 binCol: String = "wal"): Dataset[WalRec] = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs
      .filter(col(idCol).isNotNull)
      .select(col(idCol).cast("long"), col(binCol))
      .as[(Long, Array[Byte])]
      .flatMap { case (id, b) => if (b == null) Nil else parseLogSafe(id, b) }
  }
}

package graft.ext

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** ======== REAL codec: Snappy block format, from scratch ========
  *
  * The compression format inside most real parquet files (and Avro,
  * LevelDB, Kafka): byte-oriented LZ77 with no entropy coding, built for
  * decode speed. Implemented from the published format description:
  *
  *  - preamble: the uncompressed length as a little-endian base-128
  *    varint;
  *  - literals: tag `(len-1)<<2` for len <= 60, tags 60/61 switching to
  *    1- or 2-byte explicit lengths;
  *  - copies: 1-byte-offset form (tag%4 == 1, len 4..11, 11-bit offset
  *    split across the tag), 2-byte-offset form (tag%4 == 2, len 1..64,
  *    16-bit LE offset), 4-byte-offset form (tag%4 == 3) accepted on
  *    decode; overlapping copies replay byte-at-a-time exactly like
  *    DEFLATE back-references.
  *
  * The compressor mirrors real Snappy's shape — a single-slot hash table
  * over 4-byte windows, literal runs between matches, matches emitted as
  * 64-byte-capped copy chains — and CROSS-VERIFIES both directions
  * against the production `org.xerial.snappy` library in SnappySpec (our
  * decoder reads its output, its decoder reads ours). The oracled key
  * uses the round-trip contract: decoded length + checksum replay from
  * the source text, so an emission or decode slip on any doc fails the
  * hash. Map-only, no shuffle.
  */
object Snappy {

  private final class MalformedSnappy extends RuntimeException("malformed snappy", null, false, false)

  private def emitLiteral(out: java.io.ByteArrayOutputStream, data: Array[Byte], from: Int, len: Int): Unit = {
    if (len == 0) return
    val l = len - 1
    if (len <= 60) out.write(l << 2)
    else if (len <= 256) { out.write(60 << 2); out.write(l) }
    else if (len <= 65536) { out.write(61 << 2); out.write(l & 0xff); out.write((l >> 8) & 0xff) }
    else if (len <= (1 << 24)) {
      out.write(62 << 2); out.write(l & 0xff); out.write((l >> 8) & 0xff); out.write((l >> 16) & 0xff)
    } else {
      out.write(63 << 2)
      out.write(l & 0xff); out.write((l >> 8) & 0xff); out.write((l >> 16) & 0xff); out.write((l >>> 24) & 0xff)
    }
    out.write(data, from, len)
  }

  private def emitCopy(out: java.io.ByteArrayOutputStream, offset: Int, lenIn: Int): Unit = {
    var len = lenIn
    // long matches become chains of <=64-byte copies (the real encoder's move)
    while (len >= 68) { emitCopyChunk(out, offset, 64); len -= 64 }
    if (len > 64) { emitCopyChunk(out, offset, 60); len -= 60 } // leave >=4 for the tail
    emitCopyChunk(out, offset, len)
  }

  private def emitCopyChunk(out: java.io.ByteArrayOutputStream, offset: Int, len: Int): Unit = {
    if (len >= 4 && len <= 11 && offset < 2048) {
      out.write(1 | ((len - 4) << 2) | ((offset >> 8) << 5))
      out.write(offset & 0xff)
    } else {
      out.write(2 | ((len - 1) << 2))
      out.write(offset & 0xff)
      out.write((offset >> 8) & 0xff)
    }
  }

  /** Compress with the real encoder shape: single-slot hash table over
    * 4-byte windows, matches >= 4 bytes within a 64 KiB offset.
    */
  private[ext] def compress(data: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(data.length / 2 + 32)
    Bits.writeUvarint(out, data.length)
    val n = data.length
    if (n < 4) { emitLiteral(out, data, 0, n); return out.toByteArray }
    val HashBits = 14
    val table = new Array[Int](1 << HashBits)
    java.util.Arrays.fill(table, -1)
    def hash4(i: Int): Int = {
      val v = ((data(i) & 0xff) << 24) | ((data(i + 1) & 0xff) << 16) |
        ((data(i + 2) & 0xff) << 8) | (data(i + 3) & 0xff)
      (v * 0x1e35a7bd) >>> (32 - HashBits)
    }
    var litStart = 0
    var i = 0
    while (i + 3 < n) {
      val h = hash4(i)
      val cand = table(h)
      table(h) = i
      if (cand >= 0 && i - cand <= 65535 &&
        data(cand) == data(i) && data(cand + 1) == data(i + 1) &&
        data(cand + 2) == data(i + 2) && data(cand + 3) == data(i + 3)) {
        emitLiteral(out, data, litStart, i - litStart)
        var l = 4
        while (i + l < n && data(cand + l) == data(i + l)) l += 1
        emitCopy(out, i - cand, l)
        i += l
        litStart = i
      } else i += 1
    }
    emitLiteral(out, data, litStart, n - litStart)
    out.toByteArray
  }

  /** Strict decode: every length and offset bounds-checked, the output
    * must land exactly on the preamble's declared length, and the input
    * must be fully consumed.
    */
  private[ext] def decompress(bytes: Array[Byte], maxOut: Int): Array[Byte] = {
    if (bytes == null || bytes.length == 0) throw new MalformedSnappy
    val r = new Bits.Cursor(bytes, 0, bytes.length) { def fail(): Nothing = throw new MalformedSnappy }
    val declared = r.uvarint(6) // the length preamble
    if (declared < 0 || declared > maxOut) throw new MalformedSnappy
    val out = new Array[Byte](declared.toInt)
    var o = 0
    var p = r.pos
    val n = bytes.length
    while (p < n) {
      val tag = bytes(p) & 0xff
      p += 1
      (tag & 0x3) match {
        case 0 => // literal
          var len = (tag >> 2) + 1
          if (len > 60) {
            val extra = len - 60 // 1..4 length bytes
            if (p + extra > n) throw new MalformedSnappy
            var v = 0L
            var k = 0
            while (k < extra) { v |= (bytes(p + k) & 0xffL) << (8 * k); k += 1 }
            if (v > Int.MaxValue - 1) throw new MalformedSnappy
            len = v.toInt + 1
            p += extra
          }
          if (p + len > n || o + len > out.length) throw new MalformedSnappy
          System.arraycopy(bytes, p, out, o, len)
          p += len; o += len
        case c =>
          val (len, offset) = c match {
            case 1 =>
              if (p >= n) throw new MalformedSnappy
              val l = ((tag >> 2) & 0x7) + 4
              val off = ((tag >> 5) << 8) | (bytes(p) & 0xff)
              p += 1
              (l, off)
            case 2 =>
              if (p + 2 > n) throw new MalformedSnappy
              val l = (tag >> 2) + 1
              val off = (bytes(p) & 0xff) | ((bytes(p + 1) & 0xff) << 8)
              p += 2
              (l, off)
            case _ =>
              if (p + 4 > n) throw new MalformedSnappy
              val l = (tag >> 2) + 1
              val off = (bytes(p) & 0xff) | ((bytes(p + 1) & 0xff) << 8) |
                ((bytes(p + 2) & 0xff) << 16) | ((bytes(p + 3) & 0xff) << 24)
              p += 4
              (l, off)
          }
          if (offset <= 0 || offset > o || o + len > out.length) throw new MalformedSnappy
          var k = 0
          while (k < len) { out(o) = out(o - offset); o += 1; k += 1 } // overlap-safe
      }
    }
    if (o != out.length) throw new MalformedSnappy
    out
  }

  final case class SnappyStats(
      doc_id: Long, n_bytes: Long, snappy_len: Long, ratio: Double, checksum: Long)

  /** Compress-then-decode round trip per document, the same oracle shape
    * as the DEFLATE signal: `n_bytes`/`checksum` describe the DECODED
    * bytes (replayed by the oracle from the source text; a failed round
    * trip emits -1), while `snappy_len`/`ratio` are engine-model values
    * pinned by the snappy-java cross-differential in SnappySpec.
    */
  def snappySignal(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): Dataset[SnappyStats] = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs
      .filter(col(idCol).isNotNull && col(idCol) >= 0 && col(textCol).isNotNull)
      .select(col(idCol).cast("long"), col(textCol))
      .as[(Long, String)]
      .map { case (id, text) =>
        val data = text.getBytes(java.nio.charset.StandardCharsets.UTF_8)
        val comp = compress(data)
        val ratio = comp.length.toDouble / math.max(1, data.length)
        try {
          val back = decompress(comp, data.length)
          var c = 0L
          back.foreach(b => c = (c * 31 + (b & 0xff)) % 1000000007L)
          SnappyStats(id, back.length.toLong, comp.length.toLong, ratio, c)
        } catch {
          case scala.util.control.NonFatal(_) =>
            SnappyStats(id, -1L, comp.length.toLong, ratio, -1L)
        }
      }
  }
}

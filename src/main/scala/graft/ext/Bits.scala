package graft.ext

import java.util.zip.{Adler32, CRC32, CRC32C}

/** ======== Shared codec primitives for the `ext/` formats ========
  *
  * The checksums and the LEB128 varint that the format modules share.
  * Their bytes are pinned by `BitsSpec`'s check values, each format's
  * spec and the oracle hashes of the keys that reach them.
  *
  * Checksums, all over `bytes(from until until)`:
  *  - [[crc32]]: reflected CRC-32 (ISO-HDLC), the JDK's intrinsified
  *    `CRC32`. PNG chunks, gzip, zip, 7z, xz and parquet page CRCs.
  *  - [[crc32c]]: CRC-32C (Castagnoli), the JDK's `CRC32C`. TFRecord,
  *    the LevelDB log and SST blocks (each applies the TFRecord mask).
  *  - [[adler32]]: Adler-32 (RFC 1950), the JDK's `Adler32`. The zlib
  *    trailer of PNG, zlib/deflate archives, dex, git, PDF and WOFF.
  *  - [[crc32MsbUpdate]]: the unreflected CRC-32 (polynomial 0x04C11DB7
  *    fed MSB-first), which the JDK lacks. bzip2 runs it with init and
  *    final xor 0xFFFFFFFF, Ogg with init 0 and no final xor; each
  *    caller keeps its own init and final xor, so only the table is
  *    shared. xz's CRC-64 has a single user and stays in [[Xz]].
  *
  * LEB128 unsigned varints: 7-bit groups, least significant first, the
  * high bit set on every byte but the last. [[writeUvarint]] is the one
  * writer and [[Cursor.uvarint]] the one reader; [[zigzag]] and
  * [[unzigzag]] map signed values onto them (Avro longs, ORC signed
  * runs, parquet thrift and DELTA_BINARY_PACKED).
  *
  * The reader takes the format's byte bound as `maxBytes`. The bound is
  * part of each wire format, not a setting: 10 bytes for 64-bit fields
  * (protobuf, Avro, ORC, SST, tf.Example, parquet, and the postings and
  * RLE blocks), 9 for the xz VLI's 63 bits, 6 for the snappy and rANS
  * length preambles and parquet's RLE/bit-packed run headers, and 5 for
  * 32-bit fields (wasm, dex, git delta sizes). A format that reads past its bound is reading damage, and a
  * decoder that honours a looser one accepts streams its own format
  * rejects. Any range check below that width (wasm's u32, rANS's
  * `Int.MaxValue`, git's size cap) stays at the call site.
  */
object Bits {

  // -------------------------------------------------------- checksums

  def crc32(bytes: Array[Byte], from: Int, until: Int): Int = {
    val c = new CRC32
    c.update(bytes, from, until - from)
    c.getValue.toInt
  }

  def crc32c(bytes: Array[Byte], from: Int, until: Int): Int = {
    val c = new CRC32C
    c.update(bytes, from, until - from)
    c.getValue.toInt
  }

  def adler32(bytes: Array[Byte], from: Int, until: Int): Int = {
    val c = new Adler32
    c.update(bytes, from, until - from)
    c.getValue.toInt
  }

  private val MsbTable: Array[Int] = Array.tabulate(256) { i =>
    var c = i << 24
    var k = 0
    while (k < 8) { c = if (c < 0) (c << 1) ^ 0x04c11db7 else c << 1; k += 1 }
    c
  }

  /** One byte through the MSB-first CRC-32 (polynomial 0x04C11DB7). */
  def crc32MsbUpdate(crc: Int, byte: Int): Int =
    (crc << 8) ^ MsbTable(((crc >>> 24) ^ byte) & 0xff)

  // --------------------------------------------------- LEB128 varints

  def writeUvarint(out: java.io.ByteArrayOutputStream, v: Long): Unit = {
    var x = v
    while ((x & ~0x7fL) != 0) { out.write(((x & 0x7f) | 0x80).toInt); x >>>= 7 }
    out.write(x.toInt)
  }

  def zigzag(v: Long): Long = (v << 1) ^ (v >> 63)

  def unzigzag(u: Long): Long = (u >>> 1) ^ -(u & 1L)

  /** A read position over `buf(pos until limit)`. The format supplies
    * `fail()`, so a truncated or overlong varint surfaces as that
    * format's own exception.
    */
  abstract class Cursor(val buf: Array[Byte], var pos: Int, val limit: Int) {
    def fail(): Nothing

    final def u8(): Int = {
      if (pos >= limit) fail()
      val v = buf(pos) & 0xff
      pos += 1
      v
    }

    /** An unsigned LEB128 varint of at most `maxBytes` bytes. Bits past
      * the 64th (only a 10th byte can carry them) are dropped.
      */
    final def uvarint(maxBytes: Int): Long = {
      var p = pos
      var v = 0L
      var shift = 0
      val maxShift = 7 * maxBytes
      while (p < limit && shift < maxShift) {
        val b = buf(p)
        p += 1
        v |= (b & 0x7fL) << shift
        if (b >= 0) { pos = p; return v }
        shift += 7
      }
      fail()
    }
  }
}

package graft.ext

import java.util.zip.{Adler32, CRC32, CRC32C}

/** ======== Shared codec primitives for the `ext/` formats ========
  *
  * The checksums, the zlib wrapper, the LEB128 varint and the bit
  * readers and writers that the format modules share.
  * Their bytes are pinned by `BitsSpec`'s check values, each format's
  * spec and the oracle hashes of the keys that reach them.
  *
  * Checksums, all over `bytes(from until until)`:
  *  - [[crc32]]: reflected CRC-32 (ISO-HDLC), the JDK's intrinsified
  *    `CRC32`. PNG chunks, gzip, zip, 7z, xz and parquet page CRCs.
  *  - [[crc32c]]: CRC-32C (Castagnoli), the JDK's `CRC32C`. TFRecord.
  *    The LevelDB log and SST blocks feed a `CRC32C` the type byte and
  *    the payload range directly (each applies the TFRecord mask).
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
  *
  * zlib (RFC 1950): [[zlibWrap]] frames a deflate body with the 0x78
  * CMF byte, the caller's FLG byte and the big-endian Adler-32 of the
  * raw bytes. Archives' HTTP deflate, Sfnt's WOFF tables and the PNG
  * IDAT writer pass FLG 0x01; Git objects and PDF streams pass 0x9c.
  * Each keeps its own body (dynamic, fixed or stored blocks).
  *
  * Bit I/O: one reader and one writer per bit order, each over a 64-bit
  * buffer. A reader's format supplies `fail()`, as with [[Cursor]], so
  * a truncated stream throws that format's own exception; checks that
  * belong to one format (Brotli's zero pad bits, FLAC's unary cap, the
  * LZW decoders' "fewer than `width` bits left" end) stay at the call
  * site, over [[BitReader.alignByte]] and [[BitReader.bitsLeft]].
  *  - LSB-first ([[LsbReader]], [[LsbWriter]]): values fill each byte
  *    from its least significant bit. Deflate (Multimodal's inflate and
  *    deflate), Brotli, WebP lossless, zstd's forward streams (FSE table
  *    descriptions and the sequence and Huffman streams a backward
  *    reader consumes), Gorilla timestamps, `.Z` LZW and GIF LZW.
  *    Deflate, Brotli and WebP send prefix codes most significant code
  *    bit first through [[LsbWriter.putCode]].
  *  - MSB-first ([[MsbReader]], [[MsbWriter]]): values fill each byte
  *    from its most significant bit. bzip2, FLAC, and TIFF and PDF LZW.
  * A read returns at most 32 bits, so a wider field is two reads at the
  * call site (Gorilla's 64-bit stamps, FLAC's 36-bit sample count); a
  * writer splits a wider value inside `put`, in the order its reader
  * takes the two halves back.
  * Bit loops that stay with their format: zstd's `BackReader` reads the
  * stream backward from a sentinel bit, the JPEG entropy reader and
  * writer in [[Multimodal]] undo and apply 0xFF byte stuffing, and the
  * pack/unpack loops in [[ParquetFile]] and [[BitPack]] run a whole
  * block at one fixed width. None reads plain bytes one field at a
  * time.
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

  // ------------------------------------------------------ zlib wrapper

  /** `body` (a raw deflate stream of `raw`) framed as zlib: CMF 0x78
    * (deflate, 32 KiB window), `flg`, the body, then the big-endian
    * Adler-32 of `raw`.
    */
  def zlibWrap(flg: Int, body: Array[Byte], raw: Array[Byte]): Array[Byte] = {
    val out = new Array[Byte](body.length + 6)
    out(0) = 0x78
    out(1) = flg.toByte
    System.arraycopy(body, 0, out, 2, body.length)
    val a = adler32(raw, 0, raw.length)
    var k = 0
    while (k < 4) { out(body.length + 2 + k) = (a >>> (24 - 8 * k)).toByte; k += 1 }
    out
  }

  // ----------------------------------------------------------- bit I/O

  /** A bit read position over `buf(from until limit)`. Up to 56 bits sit
    * in `acc`, loaded a byte at a time; the subclass fixes which end of
    * each byte comes first. `fail()` is the format's, and every read
    * past `limit` reaches it.
    */
  sealed abstract class BitReader(
      protected val buf: Array[Byte], from: Int, protected val limit: Int) {
    def fail(): Nothing

    /** The next `n` bits (0..32) as an unsigned value. */
    def read(n: Int): Int

    protected var pos: Int = from // the next byte to load into `acc`
    protected var acc: Long = 0L
    protected var cnt: Int = 0 // bits buffered in `acc`

    /** Bits consumed since `buf(0)`. */
    final def bitPos: Long = pos * 8L - cnt

    final def bitsLeft: Long = (limit - pos) * 8L + cnt

    /** Consumes the bits up to the next byte boundary and returns them. */
    final def alignByte(): Int = read(cnt & 7)

    /** The index of the next byte; fails unless byte-aligned. */
    final def bytePos: Int = {
      if ((cnt & 7) != 0) fail()
      pos - (cnt >> 3)
    }

    /** Consumes `n` bits; fails past `limit`. */
    final def skip(n: Int): Unit = {
      if (n < 0 || n > bitsLeft) fail()
      var rest = n
      if (rest > cnt) { // whole bytes past the buffer are never loaded
        val bytes = (rest - cnt) >> 3
        pos += bytes
        rest -= bytes << 3
      }
      while (rest > 0) { val k = math.min(rest, 32); read(k); rest -= k }
    }
  }

  /** LSB-first: the first bit read is the lowest bit of `buf(from)`, and
    * a value's first bit is its least significant.
    */
  abstract class LsbReader(b: Array[Byte], from: Int, until: Int)
      extends BitReader(b, from, until) {
    final def read(n: Int): Int = {
      if (cnt < n) { refill(); if (cnt < n) fail() }
      val v = (acc & ((1L << n) - 1)).toInt
      acc >>>= n
      cnt -= n
      v
    }

    /** [[read]] without consuming; bits past `limit` read as zero, as
      * `acc` holds nothing above its `cnt` buffered bits.
      */
    final def peek(n: Int): Int = {
      if (cnt < n) refill()
      (acc & ((1L << n) - 1)).toInt
    }

    private def refill(): Unit =
      while (cnt <= 48 && pos < limit) { acc |= (buf(pos) & 0xffL) << cnt; pos += 1; cnt += 8 }
  }

  /** MSB-first: the first bit read is the highest bit of `buf(from)`, and
    * a value's first bit is its most significant.
    */
  abstract class MsbReader(b: Array[Byte], from: Int, until: Int)
      extends BitReader(b, from, until) {
    final def read(n: Int): Int = {
      if (cnt < n) { refill(); if (cnt < n) fail() }
      cnt -= n
      ((acc >>> cnt) & ((1L << n) - 1)).toInt
    }

    private def refill(): Unit =
      while (cnt <= 48 && pos < limit) { acc = (acc << 8) | (buf(pos) & 0xff); pos += 1; cnt += 8 }
  }

  /** A growable byte array written a bit at a time; the subclass fixes
    * the bit order. A byte is stored as soon as its 8 bits are in.
    */
  sealed abstract class BitWriter(sizeHint: Int) {
    protected var buf: Array[Byte] = new Array[Byte](math.max(sizeHint, 16))
    protected var len: Int = 0 // whole bytes stored
    protected var acc: Long = 0L
    protected var nb: Int = 0 // bits in `acc` not yet stored, 0..7 between calls

    /** The low `n` bits (0..64) of `v`. */
    def put(v: Long, n: Int): Unit

    final def bitLength: Long = len * 8L + nb

    /** Zero bits up to the next byte boundary. */
    final def alignByte(): Unit = put(0, (8 - nb) & 7)

    /** `src(from until until)` as whole bytes, after [[alignByte]]. */
    final def putBytes(src: Array[Byte], from: Int, until: Int): Unit = {
      alignByte()
      val n = until - from
      if (len + n > buf.length) buf = java.util.Arrays.copyOf(buf, math.max(len << 1, len + n))
      System.arraycopy(src, from, buf, len, n)
      len += n
    }

    /** The bytes written, after [[alignByte]]. Writing may go on. */
    final def toArray: Array[Byte] = {
      alignByte()
      java.util.Arrays.copyOf(buf, len)
    }

    protected final def store(byte: Long): Unit = {
      if (len == buf.length) buf = java.util.Arrays.copyOf(buf, len << 1)
      buf(len) = byte.toByte
      len += 1
    }
  }

  /** The writer [[LsbReader]] reads: a value's least significant bit
    * goes first. Values wider than 32 bits go as two puts, low half first.
    */
  final class LsbWriter(sizeHint: Int = 64) extends BitWriter(sizeHint) {
    def put(v: Long, n: Int): Unit =
      if (n > 32) { put(v, 32); put(v >>> 32, n - 32) }
      else {
        acc |= (v & ((1L << n) - 1)) << nb
        nb += n
        while (nb >= 8) { store(acc); acc >>>= 8; nb -= 8 }
      }

    /** A `len`-bit prefix code, most significant code bit first (the
      * Huffman codes of deflate, Brotli and WebP lossless).
      */
    def putCode(code: Int, len: Int): Unit =
      if (len > 0) put(Integer.reverse(code) >>> (32 - len), len)
  }

  /** The writer [[MsbReader]] reads: a value's most significant bit goes
    * first. Values wider than 32 bits go as two puts, high half first.
    */
  final class MsbWriter(sizeHint: Int = 64) extends BitWriter(sizeHint) {
    def put(v: Long, n: Int): Unit =
      if (n > 32) { put(v >>> 32, n - 32); put(v, 32) }
      else {
        acc = (acc << n) | (v & ((1L << n) - 1))
        nb += n
        while (nb >= 8) { nb -= 8; store(acc >>> nb) }
      }
  }
}

package graft.ext

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** ======== REAL entropy coder: static rANS, from scratch ========
  *
  * The fourth entropy-coding family in the repo's ladder (after fixed
  * Huffman, dynamic Huffman, and LZW): range asymmetric numeral systems,
  * the coder inside zstd and modern video codecs, reaching fractional-
  * bit-per-symbol precision a Huffman code cannot. Byte-wise rANS in the
  * standard formulation:
  *
  *  - model: per-byte frequencies normalized to M = 2^12 (every present
  *    symbol keeps >= 1 slot; the deterministic largest-symbol remainder
  *    fix-up makes the table a pure function of the input);
  *  - header: varint input length, present-symbol count, (symbol,
  *    12-bit frequency) pairs;
  *  - encode runs BACKWARD over the input (the ANS stack discipline)
  *    with state renormalization emitting low bytes while
  *    `x >= ((L >> 12) << 8) * freq` (L = 2^23), then
  *    `x = (x / f) << 12 | (x mod f) + cum`; the final 32-bit state is
  *    written little-endian and the byte stream reversed so the decoder
  *    reads forward;
  *  - decode inverts exactly: slot = x & 0xFFF, symbol via the slot
  *    table, `x = f * (x >> 12) + slot - cum`, refilling bytes while
  *    x < L; strict: declared length, full input consumption, and the
  *    state returning to L are all checked.
  *
  * Pure integer arithmetic end to end, so compress∘decompress is
  * deterministic on any JVM — the oracled key replays decoded length +
  * checksum from the source text, and RansSpec pins the rate against the
  * Shannon entropy of the empirical distribution (the property that
  * makes ANS worth having over Huffman).
  * Map-only, no shuffle.
  */
object Rans {

  private final class MalformedRans extends RuntimeException("malformed rans", null, false, false)

  private final val ScaleBits = 12
  private final val M = 1 << ScaleBits
  private final val L = 1 << 23

  /** Normalize byte frequencies to sum EXACTLY M, every present symbol
    * >= 1 slot. A surplus goes to the most frequent symbol; a deficit
    * (possible when many rare symbols were floored up to 1) is taken
    * from the currently-largest entries, never below 1 — both walks are
    * deterministic (ties to the lowest byte value), so the table is a
    * pure function of the input, which the decoder rebuilds from the
    * header rather than recomputing.
    */
  private[ext] def normalizedFreqs(data: Array[Byte]): Array[Int] = {
    val raw = new Array[Long](256)
    data.foreach(b => raw(b & 0xff) += 1)
    val n = data.length.toLong
    val freqs = new Array[Int](256)
    var sum = 0
    var biggest = -1
    var i = 0
    while (i < 256) {
      if (raw(i) > 0) {
        freqs(i) = math.max(1L, raw(i) * M / n).toInt
        sum += freqs(i)
        if (biggest < 0 || raw(i) > raw(biggest)) biggest = i
      }
      i += 1
    }
    if (biggest >= 0) {
      if (sum < M) freqs(biggest) += M - sum
      else while (sum > M) { // shave the largest entries, keeping every symbol >= 1
        var mx = -1
        var j = 0
        while (j < 256) { if (freqs(j) > 1 && (mx < 0 || freqs(j) > freqs(mx))) mx = j; j += 1 }
        val take = math.min(sum - M, freqs(mx) - 1)
        freqs(mx) -= take
        sum -= take
      }
    }
    freqs
  }

  private[ext] def compress(data: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(data.length / 2 + 64)
    Bits.writeUvarint(out, data.length)
    if (data.isEmpty) return out.toByteArray
    val freqs = normalizedFreqs(data)
    val present = (0 until 256).filter(freqs(_) > 0)
    out.write(present.length - 1) // 1..256 present symbols
    present.foreach { s =>
      out.write(s)
      out.write(freqs(s) & 0xff)
      out.write((freqs(s) >> 8) & 0xff) // 12 bits fit
    }
    val cum = new Array[Int](257)
    var i = 0
    while (i < 256) { cum(i + 1) = cum(i) + freqs(i); i += 1 }
    // encode backward; emitted bytes collected then reversed
    val body = new java.io.ByteArrayOutputStream(data.length / 2 + 16)
    var x = L.toLong
    i = data.length - 1
    while (i >= 0) {
      val s = data(i) & 0xff
      val f = freqs(s)
      val xMax = ((L >> ScaleBits) << 8).toLong * f
      while (x >= xMax) { body.write((x & 0xff).toInt); x >>= 8 }
      x = ((x / f) << ScaleBits) | ((x % f) + cum(s))
      i -= 1
    }
    // final state, little-endian, then the body bytes reversed so the
    // decoder consumes forward
    val bodyBytes = body.toByteArray
    out.write((x & 0xff).toInt); out.write(((x >> 8) & 0xff).toInt)
    out.write(((x >> 16) & 0xff).toInt); out.write(((x >> 24) & 0xff).toInt)
    var j = bodyBytes.length - 1
    while (j >= 0) { out.write(bodyBytes(j)); j -= 1 }
    out.toByteArray
  }

  private[ext] def decompress(bytes: Array[Byte], maxOut: Int): Array[Byte] = {
    if (bytes == null || bytes.length == 0) throw new MalformedRans
    val r = new Bits.Cursor(bytes, 0, bytes.length) { def fail(): Nothing = throw new MalformedRans }
    val len = r.uvarint(6)
    if (len > Int.MaxValue) throw new MalformedRans
    val n = len.toInt
    if (n < 0 || n > maxOut) throw new MalformedRans
    if (n == 0) {
      if (r.pos != bytes.length) throw new MalformedRans
      return Array.emptyByteArray
    }
    var p = r.pos
    if (p >= bytes.length) throw new MalformedRans
    val nSyms = (bytes(p) & 0xff) + 1
    p += 1
    val freqs = new Array[Int](256)
    var k = 0
    var sum = 0
    while (k < nSyms) {
      if (p + 3 > bytes.length) throw new MalformedRans
      val s = bytes(p) & 0xff
      val f = (bytes(p + 1) & 0xff) | ((bytes(p + 2) & 0xff) << 8)
      if (f == 0 || f > M || freqs(s) != 0) throw new MalformedRans
      freqs(s) = f
      sum += f
      p += 3
      k += 1
    }
    if (sum != M) throw new MalformedRans
    val cum = new Array[Int](257)
    var i = 0
    while (i < 256) { cum(i + 1) = cum(i) + freqs(i); i += 1 }
    val slotSym = new Array[Byte](M) // slot -> symbol lookup
    i = 0
    while (i < 256) {
      var sl = cum(i)
      while (sl < cum(i + 1)) { slotSym(sl) = i.toByte; sl += 1 }
      i += 1
    }
    if (p + 4 > bytes.length) throw new MalformedRans
    var x = (bytes(p) & 0xffL) | ((bytes(p + 1) & 0xffL) << 8) |
      ((bytes(p + 2) & 0xffL) << 16) | ((bytes(p + 3) & 0xffL) << 24)
    p += 4
    val out = new Array[Byte](n)
    var o = 0
    while (o < n) {
      val slot = (x & (M - 1)).toInt
      val s = slotSym(slot) & 0xff
      out(o) = s.toByte
      x = freqs(s) * (x >> ScaleBits) + slot - cum(s)
      while (x < L && p < bytes.length) { x = (x << 8) | (bytes(p) & 0xff); p += 1 }
      if (x < L && o < n - 1) throw new MalformedRans // starved before the last symbol
      o += 1
    }
    // the encoder started from exactly L: anything else is corruption
    if (x != L || p != bytes.length) throw new MalformedRans
    out
  }

  final case class RansStats(
      doc_id: Long, n_bytes: Long, rans_len: Long, ratio: Double, checksum: Long)

  /** Entropy-coding signal per document — rate ~ empirical byte entropy,
    * a sharper redundancy probe than LZ ratios on short texts (no match
    * window to fill). Same oracle shape as the other round-trip keys.
    */
  def ransSignal(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): Dataset[RansStats] = {
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
          RansStats(id, back.length.toLong, comp.length.toLong, ratio, c)
        } catch {
          case scala.util.control.NonFatal(_) =>
            RansStats(id, -1L, comp.length.toLong, ratio, -1L)
        }
      }
  }
}

package graft.ext

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** ======== REAL zstd frame codec, from scratch (RFC 8878) ========
  *
  * The capstone of the repo's compression ladder: the zstd frame format
  * over its two entropy stages — FSE (the tabled ANS variant whose
  * 32-bit-state cousin lives in [[Rans]]) and canonical Huffman — plus
  * the LZ77 sequence layer. This is the codec real 2020s corpora
  * (parquet pages, WARC crawls, model checkpoints) actually arrive in,
  * which is why the ladder needed it after deflate/Snappy/LZ4/rANS.
  *
  * Decoder: the full frame grammar —
  *  - frame header (magic, descriptor, window/single-segment, content
  *    size, dictionary id), XXH64 content checksum verification;
  *    dictionary frames decode against RFC 8878 §5 dictionaries — both
  *    STRUCTURED (entropy-table + repcode priming, id-checked) and raw
  *    content (history pre-seed) — with wrong-id/missing-dict damage
  *    quarantined like any other malformed frame;
  *  - raw / RLE / compressed blocks;
  *  - literals: raw, RLE, Huffman-compressed (1- and 4-stream, with
  *    jump table), and treeless (previous-table reuse); Huffman tree
  *    descriptions both direct (nibble weights) and FSE-compressed
  *    (two interleaved states over a ≤2^6 table), last weight implied
  *    by power-of-two completion;
  *  - sequences: predefined / RLE / FSE-compressed / repeat modes for
  *    LL, OF and ML; FSE table descriptions via the variable-precision
  *    forward bitstream; the backward interleaved sequence bitstream
  *    (init LL→OF→ML, per-sequence extra bits OF→ML→LL, state updates
  *    LL→ML→OF); the three-slot repeat-offset history with the
  *    LL==0 shift and the rep1−1 special case;
  *  - sequence execution over the sliding history (overlapping copies
  *    byte-wise), strict bounds on every read.
  *
  * Encoder: valid frames any zstd implementation decodes —
  *  - single-segment frame with exact content size + XXH64 checksum;
  *  - greedy hash-table LZ77 (min match 4) emitting (LL, ML, offset)
  *    sequences, FSE-encoded BACKWARD (states flushed ML→OF→LL,
  *    sentinel close) under the SMALLER of the spec's predefined
  *    distributions and data-derived tables built from the block's own
  *    code histograms (deterministic normalization to 2^log slots, the
  *    variable-precision table-description writer — the exact inverse
  *    of the reader — and RLE mode for single-code channels);
  *  - literals HUFFMAN-compressed (canonical depth-≤11 code from the
  *    shared two-queue builder, codes read off the decoder's own table
  *    layout, direct nibble-weights description, 1-stream or 4-stream
  *    with jump table), RLE when one distinct byte, raw when entropy
  *    coding does not win — on English text this lands within ~10-25%
  *    of libzstd level 3 (ZstdSpec pins the factor);
  *  - per-128KB blocks with matches reaching back across blocks;
  *    literal-only blocks (nbSeq = 0) still compress;
  *  - raw-block fallback whenever nothing wins.
  *
  * Everything is integer arithmetic on explicit tables, so
  * compress∘decompress is deterministic on any JVM: the oracled key
  * replays decoded length + checksum from the source text, and
  * ZstdSpec cross-verifies BOTH directions against zstd-jni (the
  * production libzstd binding on Spark's own classpath) plus malformed-
  * input quarantine. Map-only, no shuffle.
  */
object Zstd {

  private final class MalformedZstd extends RuntimeException("malformed zstd", null, false, false)
  private def fail(): Nothing = throw new MalformedZstd

  // ---------------------------------------------------------------- XXH64

  /** XXH64 (Collet's xxHash, public spec) — the frame checksum hash.
    * Implemented directly so the codec has no library dependency in
    * main; XxhSpec-style pinning happens via the zstd-jni differential
    * (a wrong hash fails the checksum on every lib-decoded frame).
    */
  private[ext] def xxh64(data: Array[Byte], seed: Long): Long = {
    val P1 = 0x9E3779B185EBCA87L; val P2 = 0xC2B2AE3D27D4EB4FL
    val P3 = 0x165667B19E3779F9L; val P4 = 0x85EBCA77C2B2AE63L
    val P5 = 0x27D4EB2F165667C5L
    val n = data.length
    def le64(i: Int): Long = {
      var v = 0L; var j = 7
      while (j >= 0) { v = (v << 8) | (data(i + j) & 0xffL); j -= 1 }
      v
    }
    def le32(i: Int): Long = {
      var v = 0L; var j = 3
      while (j >= 0) { v = (v << 8) | (data(i + j) & 0xffL); j -= 1 }
      v
    }
    var i = 0
    var h = 0L
    if (n >= 32) {
      var v1 = seed + P1 + P2; var v2 = seed + P2; var v3 = seed; var v4 = seed - P1
      while (i + 32 <= n) {
        v1 = java.lang.Long.rotateLeft(v1 + le64(i) * P2, 31) * P1
        v2 = java.lang.Long.rotateLeft(v2 + le64(i + 8) * P2, 31) * P1
        v3 = java.lang.Long.rotateLeft(v3 + le64(i + 16) * P2, 31) * P1
        v4 = java.lang.Long.rotateLeft(v4 + le64(i + 24) * P2, 31) * P1
        i += 32
      }
      h = java.lang.Long.rotateLeft(v1, 1) + java.lang.Long.rotateLeft(v2, 7) +
        java.lang.Long.rotateLeft(v3, 12) + java.lang.Long.rotateLeft(v4, 18)
      def merge(acc: Long, v: Long): Long =
        (acc ^ (java.lang.Long.rotateLeft(v * P2, 31) * P1)) * P1 + P4
      h = merge(h, v1); h = merge(h, v2); h = merge(h, v3); h = merge(h, v4)
    } else h = seed + P5
    h += n
    while (i + 8 <= n) {
      h = java.lang.Long.rotateLeft(h ^ (java.lang.Long.rotateLeft(le64(i) * P2, 31) * P1), 27) * P1 + P4
      i += 8
    }
    if (i + 4 <= n) {
      h = java.lang.Long.rotateLeft(h ^ (le32(i) * P1), 23) * P2 + P3
      i += 4
    }
    while (i < n) {
      h = java.lang.Long.rotateLeft(h ^ ((data(i) & 0xffL) * P5), 11) * P1
      i += 1
    }
    h ^= h >>> 33; h *= P2; h ^= h >>> 29; h *= P3; h ^= h >>> 32
    h
  }

  // ------------------------------------------------------------ bit I/O

  /** Backward bitstream reader (sequences, Huffman streams, FSE-coded
    * weights): bits were written LSB-first forward; the last byte's
    * highest set bit is the sentinel; reading proceeds from the top bit
    * index downward, returned MSB-first — so a field written with
    * [[Bits.LsbWriter.put]] reads back as the same value. Reads past the
    * start return zero bits and set [[overrun]] (the C reader's
    * overflow status, which the two-state FSE weight loop uses as its
    * termination signal); any overrun in a strict context is malformed.
    */
  private final class BackReader(bytes: Array[Byte], from: Int, until: Int) {
    if (until <= from) fail()
    private val last = bytes(until - 1) & 0xff
    if (last == 0) fail() // missing sentinel
    private var bitPos: Int = (until - 1 - from) * 8 + (31 - Integer.numberOfLeadingZeros(last))
    def read(n: Int): Int = {
      var v = 0; var j = 0
      while (j < n) {
        val idx = bitPos - 1 - j
        val bit = if (idx >= 0) (bytes(from + (idx >> 3)) >> (idx & 7)) & 1 else 0
        v = (v << 1) | bit
        j += 1
      }
      bitPos -= n
      v
    }
    /** Non-consuming [[read]] (zero-filled below the stream start) —
      * the prefix-code peek the Huffman table lookup needs.
      */
    def peek(n: Int): Int = {
      var v = 0; var j = 0
      while (j < n) {
        val idx = bitPos - 1 - j
        val bit = if (idx >= 0) (bytes(from + (idx >> 3)) >> (idx & 7)) & 1 else 0
        v = (v << 1) | bit
        j += 1
      }
      v
    }
    def skip(n: Int): Unit = bitPos -= n
    def overrun: Boolean = bitPos < 0
    def exhausted: Boolean = bitPos == 0
  }

  // ---------------------------------------------------------------- FSE

  /** FSE decode table: per-state symbol / nbBits / baseline, built from
    * normalized counts (−1 = "less than 1": one cell at the table's
    * high end, full-reset baseline 0). Spreading and state numbering
    * follow the spec so encoder-side tables built from the same counts
    * are the exact inverse.
    */
  private final class FseDTable(val accuracyLog: Int, norm: Array[Int]) {
    val size: Int = 1 << accuracyLog
    val symbol = new Array[Int](size)
    val nbBits = new Array[Int](size)
    val baseline = new Array[Int](size)
    locally {
      var highThreshold = size - 1
      // low-probability symbols at the high end
      var s = 0
      while (s < norm.length) {
        if (norm(s) == -1) { symbol(highThreshold) = s; highThreshold -= 1 }
        s += 1
      }
      // spread the rest
      val step = (size >> 1) + (size >> 3) + 3
      val mask = size - 1
      var pos = 0
      s = 0
      while (s < norm.length) {
        var c = 0
        while (c < norm(s)) {
          symbol(pos) = s
          do { pos = (pos + step) & mask } while (pos > highThreshold)
          c += 1
        }
        s += 1
      }
      if (pos != 0) fail() // table corrupted: spread must return to 0
      // state numbering in table order
      val symbolNext = new Array[Int](norm.length)
      s = 0
      while (s < norm.length) {
        symbolNext(s) = if (norm(s) == -1) 1 else norm(s)
        s += 1
      }
      var u = 0
      while (u < size) {
        val sy = symbol(u)
        val nextState = symbolNext(sy); symbolNext(sy) += 1
        val nb = accuracyLog - (31 - Integer.numberOfLeadingZeros(nextState))
        nbBits(u) = nb
        baseline(u) = (nextState << nb) - size
        u += 1
      }
    }
  }

  /** Single-symbol (RLE-mode) decode table: 0-bit state updates. */
  private def rleTable(sym: Int): FseDTable = {
    val t = new FseDTable(0, Array(1))
    t.symbol(0) = sym; t.nbBits(0) = 0; t.baseline(0) = 0
    t
  }

  /** FSE table description (RFC 8878 §4.1.1): variable-precision counts
    * on a forward bitstream. Returns (normalized counts, accuracy log,
    * bytes consumed).
    */
  private def readFseDescription(bytes: Array[Byte], from: Int, until: Int,
      maxLog: Int, maxSymbol: Int): (Array[Int], Int, Int) = {
    val in = new Bits.LsbReader(bytes, from, until) { def fail(): Nothing = Zstd.fail() }
    val accuracyLog = in.read(4) + 5
    if (accuracyLog > maxLog) fail()
    val tableSize = 1 << accuracyLog
    var remaining = tableSize + 1
    var threshold = tableSize
    var nbBits = accuracyLog + 1
    val norm = scala.collection.mutable.ArrayBuffer.empty[Int]
    var previous0 = false
    while (remaining > 1) {
      if (previous0) {
        var rep = in.read(2)
        while (rep == 3) { norm ++= Seq(0, 0, 0); rep = in.read(2) }
        var z = 0
        while (z < rep) { norm += 0; z += 1 }
        previous0 = false
      } else {
        val max = (2 * threshold - 1) - remaining
        val peeked = in.peek(nbBits)
        var count =
          if ((peeked & (threshold - 1)) < max) { in.skip(nbBits - 1); peeked & (threshold - 1) }
          else {
            in.skip(nbBits)
            val v = peeked & (2 * threshold - 1)
            if (v >= threshold) v - max else v
          }
        count -= 1 // −1 = less-than-one probability
        remaining -= (if (count < 0) -count else count)
        norm += count
        previous0 = count == 0
        while (remaining > 1 && remaining < threshold) { nbBits -= 1; threshold >>= 1 }
      }
      if (norm.length > maxSymbol + 1) fail()
    }
    if (remaining != 1) fail()
    in.alignByte()
    (norm.toArray, accuracyLog, in.bytePos - from)
  }

  /** FSE encode table from the same normalized counts as the decode
    * side (Collet's construction: per-symbol deltaNbBits /
    * deltaFindState plus the state-transition table).
    */
  private final class FseCTable(val accuracyLog: Int, norm: Array[Int]) {
    private val size = 1 << accuracyLog
    private val stateTable = new Array[Int](size)
    private val deltaNbBits = new Array[Int](norm.length)
    private val deltaFindState = new Array[Int](norm.length)
    locally {
      val d = new FseDTable(accuracyLog, norm) // reuse the spread
      val cumul = new Array[Int](norm.length + 1)
      var s = 0
      while (s < norm.length) {
        cumul(s + 1) = cumul(s) + (if (norm(s) == -1) 1 else norm(s))
        s += 1
      }
      val cnext = cumul.clone()
      var u = 0
      while (u < size) {
        val sy = d.symbol(u)
        stateTable(cnext(sy)) = size + u
        cnext(sy) += 1
        u += 1
      }
      var total = 0
      s = 0
      while (s < norm.length) {
        norm(s) match {
          case 0 =>
            deltaNbBits(s) = ((accuracyLog + 1) << 16) - size
          case -1 | 1 =>
            deltaNbBits(s) = (accuracyLog << 16) - size
            deltaFindState(s) = total - 1
            total += 1
          case c =>
            val maxBitsOut = accuracyLog - (31 - Integer.numberOfLeadingZeros(c - 1))
            val minStatePlus = c << maxBitsOut
            deltaNbBits(s) = (maxBitsOut << 16) - minStatePlus
            deltaFindState(s) = total - c
            total += c
        }
        s += 1
      }
    }
    /** First (chronologically last-written) symbol: state init without output. */
    def initState(sym: Int): Int = {
      val nbBitsOut = (deltaNbBits(sym) + (1 << 15)) >> 16
      val state = (nbBitsOut << 16) - deltaNbBits(sym)
      stateTable((state >> nbBitsOut) + deltaFindState(sym))
    }
    def encode(w: Bits.LsbWriter, state: Int, sym: Int): Int = {
      val nbBitsOut = (state + deltaNbBits(sym)) >> 16
      w.put(state, nbBitsOut)
      stateTable((state >> nbBitsOut) + deltaFindState(sym))
    }
    def flush(w: Bits.LsbWriter, state: Int): Unit = w.put(state, accuracyLog)
  }

  // --------------------------------------- sequence code tables (RFC 8878)

  private val LlBase = Array(0, 1, 2, 3, 4, 5, 6, 7, 8, 9, 10, 11, 12, 13, 14, 15,
    16, 18, 20, 22, 24, 28, 32, 40, 48, 64, 128, 256, 512, 1024, 2048, 4096,
    8192, 16384, 32768, 65536)
  private val LlBits = Array(0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0,
    1, 1, 1, 1, 2, 2, 3, 3, 4, 6, 7, 8, 9, 10, 11, 12, 13, 14, 15, 16)
  private val MlBase = Array(3, 4, 5, 6, 7, 8, 9, 10, 11, 12, 13, 14, 15, 16, 17, 18,
    19, 20, 21, 22, 23, 24, 25, 26, 27, 28, 29, 30, 31, 32, 33, 34,
    35, 37, 39, 41, 43, 47, 51, 59, 67, 83, 99, 131, 259, 515, 1027, 2051,
    4099, 8195, 16387, 32771, 65539)
  private val MlBits = Array(0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0,
    0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0,
    1, 1, 1, 1, 2, 2, 3, 3, 4, 4, 5, 7, 8, 9, 10, 11, 12, 13, 14, 15, 16)

  private val LlPredef = Array(4, 3, 2, 2, 2, 2, 2, 2, 2, 2, 2, 2, 2, 1, 1, 1,
    2, 2, 2, 2, 2, 2, 2, 2, 2, 3, 2, 1, 1, 1, 1, 1, -1, -1, -1, -1)
  private val MlPredef = Array(1, 4, 3, 2, 2, 2, 2, 2, 2, 1, 1, 1, 1, 1, 1, 1,
    1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1,
    1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, -1, -1, -1, -1, -1, -1, -1)
  private val OfPredef = Array(1, 1, 1, 1, 1, 1, 2, 2, 2, 1, 1, 1, 1, 1, 1, 1,
    1, 1, 1, 1, 1, 1, 1, 1, -1, -1, -1, -1, -1)
  private val LlPredefLog = 6
  private val MlPredefLog = 6
  private val OfPredefLog = 5

  private lazy val llPredefD = new FseDTable(LlPredefLog, LlPredef)
  private lazy val mlPredefD = new FseDTable(MlPredefLog, MlPredef)
  private lazy val ofPredefD = new FseDTable(OfPredefLog, OfPredef)
  private lazy val llPredefC = new FseCTable(LlPredefLog, LlPredef.clone())
  private lazy val mlPredefC = new FseCTable(MlPredefLog, MlPredef.clone())
  private lazy val ofPredefC = new FseCTable(OfPredefLog, OfPredef.clone())

  /** Literal-length value → code (inverse of [[LlBase]]). */
  private def llCode(v: Int): Int = {
    if (v < 16) v
    else {
      var c = 35
      while (LlBase(c) > v) c -= 1
      c
    }
  }

  /** Match-length value → code (inverse of [[MlBase]], value ≥ 3). */
  private def mlCode(v: Int): Int = {
    if (v < 35) v - 3
    else {
      var c = 52
      while (MlBase(c) > v) c -= 1
      c
    }
  }

  // ------------------------------------------------------------- Huffman

  /** Canonical Huffman decode table (single-level, HUF "X1" layout):
    * tableLog-bit peek indexes 2^(w−1) consecutive cells per symbol,
    * filled in weight order then symbol order.
    */
  private final class HufTable(weights: Array[Int]) {
    val maxW: Int = weights.max
    if (maxW <= 0) fail()
    private var total = 0
    weights.foreach(w => if (w > 0) total += 1 << (w - 1))
    val tableLog: Int = 32 - Integer.numberOfLeadingZeros(total - 1) // total is 2^k
    if (total != (1 << tableLog) || tableLog > 12) fail()
    val size: Int = 1 << tableLog
    val symbol = new Array[Int](size)
    val nbBits = new Array[Int](size)
    locally {
      var pos = 0
      var w = 1
      while (w <= maxW) {
        var s = 0
        while (s < weights.length) {
          if (weights(s) == w) {
            val cells = 1 << (w - 1)
            val nb = tableLog + 1 - w
            var c = 0
            while (c < cells) { symbol(pos) = s; nbBits(pos) = nb; pos += 1; c += 1 }
          }
          s += 1
        }
        w += 1
      }
      if (pos != size) fail()
    }
  }

  /** Huffman tree description (RFC 8878 §4.2.1): direct nibble weights
    * (header ≥ 128) or FSE-compressed weights (two interleaved states,
    * ≤2^6 table); the last present symbol's weight is implied by
    * power-of-two completion. Returns (table, bytes consumed incl.
    * header byte).
    */
  private def readHufTable(bytes: Array[Byte], from: Int, until: Int): (HufTable, Int) = {
    if (from >= until) fail()
    val header = bytes(from) & 0xff
    val (ws, consumed) =
      if (header >= 128) {
        val n = header - 127
        val nb = (n + 1) / 2
        if (from + 1 + nb > until) fail()
        val w = new Array[Int](n)
        var i = 0
        while (i < n) {
          val b = bytes(from + 1 + (i >> 1)) & 0xff
          w(i) = if ((i & 1) == 0) b >> 4 else b & 0xf
          i += 1
        }
        (w, 1 + nb)
      } else {
        val cSize = header
        if (from + 1 + cSize > until) fail()
        val (norm, log, descBytes) =
          readFseDescription(bytes, from + 1, from + 1 + cSize, 6, 255)
        val d = new FseDTable(log, norm)
        val br = new BackReader(bytes, from + 1 + descBytes, from + 1 + cSize)
        var s1 = br.read(log)
        var s2 = br.read(log)
        if (br.overrun) fail()
        val out = scala.collection.mutable.ArrayBuffer.empty[Int]
        var done = false
        while (!done) {
          out += d.symbol(s1); s1 = d.baseline(s1) + br.read(d.nbBits(s1))
          if (br.overrun) { out += d.symbol(s2); done = true }
          else {
            out += d.symbol(s2); s2 = d.baseline(s2) + br.read(d.nbBits(s2))
            if (br.overrun) { out += d.symbol(s1); done = true }
          }
          if (out.length > 255) fail()
        }
        (out.toArray, 1 + cSize)
      }
    // implied last weight: complete the 2^(w−1) sum to the next power of two
    var total = 0
    ws.foreach { w => if (w > 12) fail(); if (w > 0) total += 1 << (w - 1) }
    if (total == 0) fail()
    // smallest power of two STRICTLY above total (the implied weight is >= 1)
    val nextPow = Integer.highestOneBit(total) << 1
    val rest = nextPow - total
    if (rest == 0 || Integer.bitCount(rest) != 1) fail()
    val lastW = 32 - Integer.numberOfLeadingZeros(rest) // log2(rest) + 1
    (new HufTable(ws :+ lastW), consumed)
  }

  /** Decode `count` literals from one backward Huffman stream: peek
    * tableLog bits (zero-padded near the start — prefix codes stay
    * decodable), consume only the cell's code length; the stream must
    * land on exactly zero remaining bits.
    */
  private def hufDecodeStream(t: HufTable, bytes: Array[Byte], from: Int, until: Int,
      count: Int, out: Array[Byte], outFrom: Int): Unit = {
    val br = new BackReader(bytes, from, until)
    var i = 0
    while (i < count) {
      val cell = br.peek(t.tableLog)
      out(outFrom + i) = t.symbol(cell).toByte
      br.skip(t.nbBits(cell))
      i += 1
    }
    if (br.overrun || !br.exhausted) fail()
  }

  // ------------------------------------------------------- frame decoding

  private final val Magic = 0xFD2FB528
  private final val EmptyBytes = new Array[Byte](0)

  /** Per-frame mutable decoder state: previous Huffman table (treeless
    * literals) and previous FSE tables (repeat sequence modes).
    */
  private final class FrameState {
    var huf: HufTable = null
    var llT: FseDTable = null
    var ofT: FseDTable = null
    var mlT: FseDTable = null
    var rep1 = 1; var rep2 = 4; var rep3 = 8
  }

  /** Growable frame-decode buffer: the decoded output lives in ONE
    * array threaded through every block, so history reads (LZ matches
    * reaching into earlier blocks) are direct indexing. Replaces the
    * per-block `toByteArray` history re-materialization that made
    * multi-block frame decode O(n²) in copied bytes (~16 GB of copies
    * for a 64 MB document).
    */
  private final class OutBuf(initial: Int, limit: Long) {
    private var a = new Array[Byte](math.max(64, initial))
    var len = 0
    def byteAt(i: Int): Byte = a(i)
    private def grow(need: Int): Unit = {
      // Long arithmetic with a hard clamp at `limit`: a caller passing
      // maxOut near Int.MaxValue must not send `cap << 1` negative
      // (doubling past 2^30 overflows Int and the loop never ends).
      if (need < 0 || need > limit) fail()
      var cap = a.length.toLong
      while (cap < need) cap = math.min(cap << 1, limit)
      a = java.util.Arrays.copyOf(a, cap.toInt)
    }
    def append(b: Byte): Unit = {
      if (len == a.length) grow(len + 1)
      a(len) = b; len += 1
    }
    def appendRange(src: Array[Byte], from: Int, n: Int): Unit = {
      if (len + n > a.length) grow(len + n)
      System.arraycopy(src, from, a, len, n)
      len += n
    }
    def appendFill(b: Byte, n: Int): Unit = {
      if (len + n > a.length) grow(len + n)
      java.util.Arrays.fill(a, len, len + n, b)
      len += n
    }
    def toArray: Array[Byte] = java.util.Arrays.copyOf(a, len)
  }

  /** A parsed zstd dictionary (RFC 8878 §5): either a STRUCTURED
    * dictionary (magic 0xEC30A437 — id, entropy tables that seed the
    * first block's repeat/treeless modes, initial repcodes, content) or
    * RAW CONTENT (no magic: the whole blob is match history, id 0).
    */
  private final class ZDict(
      val id: Long, val content: Array[Byte],
      val huf: HufTable, val llT: FseDTable, val ofT: FseDTable, val mlT: FseDTable,
      val rep1: Int, val rep2: Int, val rep3: Int)

  private final val DictMagic = 0xEC30A437L

  /** Parse a dictionary blob. Structured layout after magic + 4-byte LE
    * id: entropy tables in stream order Huffman(literals), FSE(offsets),
    * FSE(match lengths), FSE(literal lengths) — each in its in-block
    * serialization — then three 4-byte LE initial repcodes, then the
    * raw content. Anything not starting with the magic is a raw-content
    * dictionary (history only, no entropy priming).
    */
  private def parseDictionary(bytes: Array[Byte]): ZDict = {
    if (bytes == null || bytes.length == 0) fail()
    if (bytes.length < 8 || leAt(bytes, 0, 4) != DictMagic)
      return new ZDict(0L, bytes, null, null, null, null, 1, 4, 8)
    val id = leAt(bytes, 4, 4)
    var p = 8
    val (huf, hufBytes) = readHufTable(bytes, p, bytes.length); p += hufBytes
    val (ofN, ofLog, ofBytes) = readFseDescription(bytes, p, bytes.length, 8, 31); p += ofBytes
    val ofT = new FseDTable(ofLog, ofN)
    val (mlN, mlLog, mlBytes) = readFseDescription(bytes, p, bytes.length, 9, 52); p += mlBytes
    val mlT = new FseDTable(mlLog, mlN)
    val (llN, llLog, llBytes) = readFseDescription(bytes, p, bytes.length, 9, 35); p += llBytes
    val llT = new FseDTable(llLog, llN)
    if (p + 12 > bytes.length) fail()
    val r1 = leAt(bytes, p, 4).toInt
    val r2 = leAt(bytes, p + 4, 4).toInt
    val r3 = leAt(bytes, p + 8, 4).toInt
    p += 12
    if (r1 <= 0 || r2 <= 0 || r3 <= 0) fail()
    new ZDict(id, java.util.Arrays.copyOfRange(bytes, p, bytes.length),
      huf, llT, ofT, mlT, r1, r2, r3)
  }

  /** Strict whole-frame decode: magic, header, every block, content
    * size and XXH64 checksum all verified; any damage throws (callers
    * quarantine). `maxOut` bounds memory on frames with unknown
    * content size.
    */
  private[ext] def decompress(bytes: Array[Byte], maxOut: Int): Array[Byte] = {
    val (out, end) = decodeFrame(bytes, 0, maxOut)
    if (end != bytes.length) fail() // exactly one frame
    out
  }

  /** [[decompress]] against a dictionary: the frame's Dictionary_ID
    * (when present) must match a structured dictionary's id; dictionary
    * content pre-seeds the match history and structured entropy tables /
    * repcodes prime the first block. A frame that DECLARES a dictionary
    * id decoded without one is malformed — callers quarantine.
    */
  private[ext] def decompressWithDict(bytes: Array[Byte], dictBytes: Array[Byte],
      maxOut: Int): Array[Byte] = {
    val dict = parseDictionary(dictBytes)
    val (out, end) = decodeFrame(bytes, 0, maxOut, dict)
    if (end != bytes.length) fail()
    out
  }

  /** One data frame starting at `start`; returns (content, end offset)
    * so multi-frame streams ([[decompressFrames]], [[zstExtract]]) can
    * demux on the decode end position — the WARC-member discipline.
    */
  private def decodeFrame(bytes: Array[Byte], start: Int, maxOut: Int,
      dict: ZDict = null): (Array[Byte], Int) = {
    val in = bytes
    def u8(i: Int): Int = { if (i >= in.length) fail(); in(i) & 0xff }
    def le(i: Int, n: Int): Long = {
      var v = 0L; var j = n - 1
      while (j >= 0) { v = (v << 8) | u8(i + j); j -= 1 }
      v
    }
    var p = start
    if (le(p, 4) != (Magic.toLong & 0xffffffffL)) fail()
    p += 4
    val desc = u8(p); p += 1
    val fcsFlag = desc >> 6
    val singleSegment = (desc & 0x20) != 0
    if ((desc & 0x08) != 0) fail() // reserved bit
    val hasChecksum = (desc & 0x04) != 0
    val didBytes = (desc & 0x03) match {
      case 0 => 0
      case 1 => 1
      case 2 => 2
      case _ => 4
    }
    if (!singleSegment) p += 1 // window descriptor (history is unbounded here)
    val declaredDictId: Long =
      if (didBytes == 0) -1L
      else { val v = le(p, didBytes); p += didBytes; v }
    // a frame that names a dictionary cannot decode without one; a
    // STRUCTURED dictionary must carry the named id (raw-content
    // dictionaries have no id — the caller vouches for the pairing)
    if (declaredDictId >= 0 && dict == null) fail()
    if (declaredDictId >= 0 && dict != null && dict.id != 0L && declaredDictId != dict.id) fail()
    val fcsBytes = fcsFlag match {
      case 0 => if (singleSegment) 1 else 0
      case 1 => 2
      case 2 => 4
      case 3 => 8
    }
    val contentSize: Long =
      if (fcsBytes == 0) -1L
      else {
        val raw = le(p, fcsBytes)
        p += fcsBytes
        if (fcsBytes == 2) raw + 256L else raw
      }
    if (contentSize > maxOut) fail()
    val ob = new OutBuf(
      if (contentSize >= 0) contentSize.toInt
      else math.min(maxOut.toLong, 4L * math.max(64, in.length - start)).toInt,
      // headroom of one max-size block: appends are bounds-checked per
      // block AFTER landing, so the buffer may legitimately overshoot
      // maxOut by < MaxBlock before the check fails the frame
      math.min(Int.MaxValue - 8L, maxOut.toLong + MaxBlock))
    val st = new FrameState
    val dictContent = if (dict != null) dict.content else EmptyBytes
    if (dict != null) {
      st.huf = dict.huf; st.llT = dict.llT; st.ofT = dict.ofT; st.mlT = dict.mlT
      st.rep1 = dict.rep1; st.rep2 = dict.rep2; st.rep3 = dict.rep3
    }
    var lastBlock = false
    while (!lastBlock) {
      val bh = le(p, 3).toInt; p += 3
      lastBlock = (bh & 1) != 0
      val btype = (bh >> 1) & 3
      val bsize = bh >>> 3
      // RFC 8878 Block_Maximum_Size: no block — compressed or not — may
      // exceed 128 KB, so a crafted block header cannot call for a
      // gigabyte append before the per-block maxOut check lands
      if (bsize > MaxBlock) fail()
      btype match {
        case 0 => // raw
          if (p + bsize > in.length) fail()
          ob.appendRange(in, p, bsize); p += bsize
        case 1 => // RLE: bsize = regenerated size, 1 content byte
          val b = u8(p); p += 1
          ob.appendFill(b.toByte, bsize)
        case 2 =>
          if (p + bsize > in.length) fail()
          decodeBlock(in, p, p + bsize, ob, st, dictContent)
          p += bsize
        case _ => fail()
      }
      if (ob.len > maxOut) fail()
    }
    val result = ob.toArray
    if (contentSize >= 0 && result.length != contentSize) fail()
    if (hasChecksum) {
      val want = le(p, 4); p += 4
      if ((xxh64(result, 0L) & 0xffffffffL) != want) fail()
    }
    (result, p)
  }

  /** All data frames of a multi-frame stream (the real `.zst` file
    * shape: frames concatenate; SKIPPABLE frames — magic 0x184D2A5x +
    * 4-byte LE size, the container for seek tables and user metadata —
    * are skipped). Strict to the last byte.
    */
  private[ext] def decompressFrames(bytes: Array[Byte], maxOutPerFrame: Int): Vector[Array[Byte]] = {
    val out = Vector.newBuilder[Array[Byte]]
    var p = 0
    while (p < bytes.length) {
      val magic = leAt(bytes, p, 4)
      if ((magic & 0xfffffff0L) == 0x184D2A50L) {
        val size = leAt(bytes, p + 4, 4)
        p += 8 + size.toInt
        if (p > bytes.length || size > bytes.length) fail()
      } else {
        val (content, end) = decodeFrame(bytes, p, maxOutPerFrame)
        out += content
        p = end
      }
    }
    out.result()
  }

  private def leAt(in: Array[Byte], i: Int, n: Int): Long = {
    if (i + n > in.length) fail()
    var v = 0L; var j = n - 1
    while (j >= 0) { v = (v << 8) | (in(i + j) & 0xffL); j -= 1 }
    v
  }

  /** One compressed block: literals section, sequences section,
    * sequence execution appending to `ob` (the whole-frame output — LZ
    * matches index straight into it, or into `dictContent` below
    * position 0). Regenerated size is capped at the RFC's 128 KB
    * Block_Maximum_Size INSIDE the execution loop, so a crafted
    * sequence section cannot balloon memory before the frame-level
    * check runs (decompression-bomb quarantine, not an OOM).
    */
  private def decodeBlock(in: Array[Byte], from: Int, until: Int,
      ob: OutBuf, st: FrameState, dictContent: Array[Byte]): Unit = {
    var p = from
    def u8(i: Int): Int = { if (i >= until) fail(); in(i) & 0xff }
    // ---- literals section
    val h0 = u8(p)
    val litType = h0 & 3
    val sf = (h0 >> 2) & 3
    var literals: Array[Byte] = null
    litType match {
      case 0 | 1 => // raw | RLE
        val rs = sf match {
          case 0 | 2 => p += 1; h0 >>> 3
          case 1 => val v = u8(p) | (u8(p + 1) << 8); p += 2; v >>> 4
          case _ => val v = u8(p) | (u8(p + 1) << 8) | (u8(p + 2) << 16); p += 3; v >>> 4
        }
        if (rs > MaxBlock) fail() // literals cannot exceed the block's regenerated cap
        if (litType == 0) {
          if (p + rs > until) fail()
          literals = java.util.Arrays.copyOfRange(in, p, p + rs); p += rs
        } else {
          val b = u8(p); p += 1
          literals = new Array[Byte](rs)
          java.util.Arrays.fill(literals, b.toByte)
        }
      case _ => // compressed | treeless
        var rs = 0; var cs = 0; var fourStreams = true
        sf match {
          case 0 =>
            fourStreams = false
            val v = u8(p) | (u8(p + 1) << 8) | (u8(p + 2) << 16); p += 3
            rs = (v >> 4) & 0x3ff; cs = (v >> 14) & 0x3ff
          case 1 =>
            val v = u8(p) | (u8(p + 1) << 8) | (u8(p + 2) << 16); p += 3
            rs = (v >> 4) & 0x3ff; cs = (v >> 14) & 0x3ff
          case 2 =>
            val v = u8(p) | (u8(p + 1) << 8) | (u8(p + 2) << 16) | (u8(p + 3) << 24); p += 4
            rs = (v >> 4) & 0x3fff; cs = (v >> 18) & 0x3fff
          case _ =>
            val v = (le5(in, p, until): Long); p += 5
            rs = ((v >> 4) & 0x3ffff).toInt; cs = ((v >> 22) & 0x3ffff).toInt
        }
        if (rs > MaxBlock) fail() // literals cannot exceed the block's regenerated cap
        val litEnd = p + cs
        if (litEnd > until) fail()
        val table =
          if (litType == 2) {
            val (t, consumed) = readHufTable(in, p, litEnd)
            p += consumed
            st.huf = t
            t
          } else {
            if (st.huf == null) fail() // treeless with no previous table
            st.huf
          }
        literals = new Array[Byte](rs)
        if (!fourStreams) hufDecodeStream(table, in, p, litEnd, rs, literals, 0)
        else {
          if (p + 6 > litEnd) fail()
          val s1 = u8(p) | (u8(p + 1) << 8)
          val s2 = u8(p + 2) | (u8(p + 3) << 8)
          val s3 = u8(p + 4) | (u8(p + 5) << 8)
          val dataFrom = p + 6
          val r123 = (rs + 3) / 4
          val r4 = rs - 3 * r123
          if (r4 < 0) fail()
          val f1 = dataFrom; val f2 = f1 + s1; val f3 = f2 + s2; val f4 = f3 + s3
          if (f4 > litEnd) fail()
          hufDecodeStream(table, in, f1, f2, r123, literals, 0)
          hufDecodeStream(table, in, f2, f3, r123, literals, r123)
          hufDecodeStream(table, in, f3, f4, r123, literals, 2 * r123)
          hufDecodeStream(table, in, f4, litEnd, r4, literals, 3 * r123)
        }
        p = litEnd
    }
    // ---- sequences section
    val b0 = u8(p); p += 1
    val nbSeq =
      if (b0 == 0) 0
      else if (b0 < 128) b0
      else if (b0 < 255) { val v = ((b0 - 128) << 8) + u8(p); p += 1; v }
      else { val v = u8(p) + (u8(p + 1) << 8) + 0x7f00; p += 2; v }
    if (nbSeq == 0) {
      ob.appendRange(literals, 0, literals.length)
      return
    }
    val modes = u8(p); p += 1
    if ((modes & 3) != 0) fail() // reserved bits
    def loadTable(mode: Int, predef: FseDTable, maxLog: Int, maxSym: Int,
        prev: FseDTable): FseDTable = mode match {
      case 0 => predef
      case 1 => val t = rleTable(u8(p)); p += 1; t
      case 2 =>
        val (norm, log, consumed) = readFseDescription(in, p, until, maxLog, maxSym)
        p += consumed
        new FseDTable(log, norm)
      case _ => if (prev == null) fail() else prev
    }
    // declaration order in the stream: LL, OF, ML
    val llT = loadTable((modes >> 6) & 3, llPredefD, 9, 35, st.llT)
    val ofT = loadTable((modes >> 4) & 3, ofPredefD, 8, 31, st.ofT)
    val mlT = loadTable((modes >> 2) & 3, mlPredefD, 9, 52, st.mlT)
    st.llT = llT; st.ofT = ofT; st.mlT = mlT
    // ---- interleaved backward bitstream
    val br = new BackReader(in, p, until)
    var llS = br.read(llT.accuracyLog)
    var ofS = br.read(ofT.accuracyLog)
    var mlS = br.read(mlT.accuracyLog)
    if (br.overrun) fail()
    val blockStart = ob.len // history before this block ends here
    val blockCap = blockStart + MaxBlock // RFC 8878 Block_Maximum_Size
    var litPos = 0
    var s = 0
    while (s < nbSeq) {
      val ofCode = ofT.symbol(ofS)
      if (ofCode > 30) fail() // offsets stay in Int range; beyond is damage here
      val ofValue = (1L << ofCode) + br.read(ofCode)
      val mlC = mlT.symbol(mlS)
      val ml = MlBase(mlC) + br.read(MlBits(mlC))
      val llC = llT.symbol(llS)
      val ll = LlBase(llC) + br.read(LlBits(llC))
      if (br.overrun) fail()
      // repcode resolution
      val offset: Int =
        if (ofValue > 3) {
          val o = (ofValue - 3).toInt
          st.rep3 = st.rep2; st.rep2 = st.rep1; st.rep1 = o
          o
        } else {
          val idx = ofValue.toInt + (if (ll == 0) 1 else 0)
          idx match {
            case 1 => st.rep1
            case 2 => val o = st.rep2; st.rep2 = st.rep1; st.rep1 = o; o
            case 3 => val o = st.rep3; st.rep3 = st.rep2; st.rep2 = st.rep1; st.rep1 = o; o
            case _ =>
              val o = st.rep1 - 1
              if (o <= 0) fail()
              st.rep3 = st.rep2; st.rep2 = st.rep1; st.rep1 = o
              o
          }
        }
      if (litPos + ll > literals.length) fail()
      // the bomb gate: nbSeq × ml can call for gigabytes; the block cap
      // bounds the append BEFORE any memory is committed
      if (ob.len + ll + ml > blockCap) fail()
      ob.appendRange(literals, litPos, ll)
      litPos += ll
      val matchStart = ob.len - offset
      if (matchStart + dictContent.length < 0) fail()
      var i = 0
      var q = matchStart
      while (i < ml) {
        // q < 0 reaches into dictionary content; appends grow ob.len, so
        // overlapping matches read the bytes just written
        ob.append(if (q < 0) dictContent(dictContent.length + q) else ob.byteAt(q))
        q += 1; i += 1
      }
      s += 1
      if (s < nbSeq) {
        llS = llT.baseline(llS) + br.read(llT.nbBits(llS))
        mlS = mlT.baseline(mlS) + br.read(mlT.nbBits(mlS))
        ofS = ofT.baseline(ofS) + br.read(ofT.nbBits(ofS))
        if (br.overrun) fail()
      }
    }
    if (!br.exhausted || br.overrun) fail()
    // trailing literals
    val rest = literals.length - litPos
    if (ob.len + rest > blockCap) fail()
    ob.appendRange(literals, litPos, rest)
  }

  private def le5(in: Array[Byte], p: Int, until: Int): Long = {
    if (p + 5 > until) fail()
    var v = 0L; var j = 4
    while (j >= 0) { v = (v << 8) | (in(p + j) & 0xffL); j -= 1 }
    v
  }

  // ------------------------------------------------------- frame encoding

  private final val MaxBlock = 128 * 1024

  private final case class Seq77(ll: Int, ml: Int, offset: Int)

  /** Hash-chain LZ77 with one-step LAZY matching over one block (the
    * zlib parse discipline): every position links into per-hash chains
    * (up to 32 probes pick the LONGEST match, ties to the nearest),
    * and a found match is deferred one position — if the next position
    * matches longer, the current byte becomes a literal and the longer
    * match wins. Chains persist across blocks so matches reach back
    * through the whole frame (the decoder keeps full history —
    * single-segment window); matches never extend past the block end
    * (sequences cannot span blocks). Min match 4.
    */
  /** Insert-only chain build over a region that will never be emitted
    * (dictionary priming). [[lz77]] inserts every position 0..until-4 in
    * ascending order while ALSO running its match search; this builds
    * the IDENTICAL chains (same hash, same insertion order) without the
    * wasted probes — per-document dictionary priming went from the
    * dominant cost of `zstd_dict_roundtrip` to noise. The hash MUST
    * stay in lockstep with [[lz77]]'s.
    */
  private def primeChains(data: Array[Byte], from: Int, until: Int,
      head: Array[Int], chain: Array[Int]): Unit = {
    var i = from
    while (i + 4 <= until) {
      val v = (data(i) & 0xff) | ((data(i + 1) & 0xff) << 8) |
        ((data(i + 2) & 0xff) << 16) | ((data(i + 3) & 0xff) << 24)
      val h = (v * 0x9E3779B1) >>> 17
      chain(i) = head(h)
      head(h) = i
      i += 1
    }
  }

  private def lz77(data: Array[Byte], from: Int, until: Int,
      head: Array[Int], chain: Array[Int]): (Vector[Seq77], Array[Byte]) = {
    val MaxProbes = 32
    val seqs = Vector.newBuilder[Seq77]
    val lits = new java.io.ByteArrayOutputStream()
    def hash(p: Int): Int = {
      val v = (data(p) & 0xff) | ((data(p + 1) & 0xff) << 8) |
        ((data(p + 2) & 0xff) << 16) | ((data(p + 3) & 0xff) << 24)
      (v * 0x9E3779B1) >>> 17 // 15-bit table
    }
    def insert(p: Int): Unit = {
      val h = hash(p)
      chain(p) = head(h)
      head(h) = p
    }
    // longest match at i among up to MaxProbes chain candidates
    def bestLen(i: Int): (Int, Int) = { // (len, offset); (0, 0) if < 4
      var cand = head(hash(i))
      var probes = 0
      var bl = 0
      var bo = 0
      val lim = until - i
      while (cand >= 0 && probes < MaxProbes) {
        var l = 0
        while (l < lim && data(cand + l) == data(i + l)) l += 1
        if (l > bl) { bl = l; bo = i - cand }
        cand = chain(cand)
        probes += 1
      }
      if (bl >= 4) (bl, bo) else (0, 0)
    }
    var anchor = from
    var i = from
    var pendPos = -1
    var pendLen = 0
    var pendOff = 0
    while (i + 4 <= until) {
      val (ml, off) = bestLen(i)
      insert(i)
      if (pendPos >= 0 && ml <= pendLen) {
        // the deferred match stands: emit it
        val ll = pendPos - anchor
        lits.write(data, anchor, ll)
        seqs += Seq77(ll, pendLen, pendOff)
        val stop = pendPos + pendLen
        var k = i + 1
        while (k < stop && k + 4 <= until) { insert(k); k += 1 }
        i = stop
        anchor = stop
        pendPos = -1
      } else {
        if (ml >= 4) { pendPos = i; pendLen = ml; pendOff = off }
        i += 1
      }
    }
    if (pendPos >= 0) {
      val ll = pendPos - anchor
      lits.write(data, anchor, ll)
      seqs += Seq77(ll, pendLen, pendOff)
      anchor = pendPos + pendLen
    }
    lits.write(data, anchor, until - anchor)
    (seqs.result(), lits.toByteArray)
  }

  /** Canonical zstd Huffman encode table from byte frequencies, depth
    * ≤ 11 (the literals limit): lengths from [[Multimodal.huffmanLengths]]
    * (the [[Bits.huffmanDepths]] tree build under deflate's halving
    * limit loop), weights `maxBits + 1 − len`, codes read off the
    * decoder's own table layout (cells assigned in weight order then
    * symbol order — symbol code = cellStart >> (w−1)), so encode and
    * decode are inverses by construction. Returns null when Huffman
    * cannot apply: < 2 present symbols (RLE territory) or a present
    * symbol above 128 (the direct nibble-weights description addresses
    * symbols 0..128 only — the FSE-compressed-weights description would
    * lift this; documented fallback to raw).
    */
  private final class HufEncoder(freq: Array[Int]) {
    val lastPresent: Int = freq.lastIndexWhere(_ > 0)
    private val nPresent = freq.count(_ > 0)
    val usable: Boolean = nPresent >= 2 && lastPresent <= 128
    val code = new Array[Int](256)
    val bits = new Array[Int](256)
    var treeDesc: Array[Byte] = null
    if (usable) {
      val lens = Multimodal.huffmanLengths(freq, 11)
      val maxBits = lens.max
      val weights = new Array[Int](256)
      var s = 0
      while (s < 256) {
        if (lens(s) > 0) { weights(s) = maxBits + 1 - lens(s); bits(s) = lens(s) }
        s += 1
      }
      // decoder table layout: weight ascending, symbol ascending; a symbol
      // of weight w spans 2^(w-1) cells starting at pos
      var pos = 0
      var w = 1
      while (w <= maxBits) {
        s = 0
        while (s < 256) {
          if (weights(s) == w) { code(s) = pos >> (w - 1); pos += 1 << (w - 1) }
          s += 1
        }
        w += 1
      }
      // direct nibble description: weights of symbols 0..lastPresent-1,
      // lastPresent's weight implied by power-of-two completion
      val n = lastPresent
      val desc = new java.io.ByteArrayOutputStream()
      desc.write(127 + n)
      var i = 0
      while (i < n) {
        val hi = weights(i)
        val lo = if (i + 1 < n) weights(i + 1) else 0
        desc.write((hi << 4) | lo)
        i += 2
      }
      treeDesc = desc.toByteArray
    }
    /** One backward Huffman stream over `data[from, until)` — written in
      * reverse so the decoder's first (top-bits) read is `data(from)`.
      */
    def stream(data: Array[Byte], from: Int, until: Int): Array[Byte] = {
      val bw = new Bits.LsbWriter
      var i = until - 1
      while (i >= from) {
        val b = data(i) & 0xff
        bw.put(code(b), bits(b))
        i -= 1
      }
      bw.put(1, 1) // the sentinel BackReader starts below
      bw.toArray
    }
  }

  /** Literals section bytes (header + payload), choosing the smallest
    * legal encoding: RLE (one distinct byte), Huffman-compressed
    * (1-stream when the 10-bit size fields fit, else 4-stream with the
    * jump table), raw otherwise.
    */
  private def encodeLiterals(lits: Array[Byte]): Array[Byte] = {
    val rs = lits.length
    def rawSection(): Array[Byte] = {
      val out = new java.io.ByteArrayOutputStream()
      val lh = 0 | (3 << 2) | (rs << 4)
      out.write(lh & 0xff); out.write((lh >> 8) & 0xff); out.write((lh >> 16) & 0xff)
      out.write(lits, 0, rs)
      out.toByteArray
    }
    if (rs == 0) return rawSection()
    var allSame = true
    var i = 1
    while (allSame && i < rs) { allSame = lits(i) == lits(0); i += 1 }
    if (allSame) { // RLE literals: 3-byte header + the byte
      val out = new java.io.ByteArrayOutputStream()
      val lh = 1 | (3 << 2) | (rs << 4)
      out.write(lh & 0xff); out.write((lh >> 8) & 0xff); out.write((lh >> 16) & 0xff)
      out.write(lits(0) & 0xff)
      return out.toByteArray
    }
    if (rs < 32) return rawSection()
    val freq = new Array[Int](256)
    lits.foreach(b => freq(b & 0xff) += 1)
    val enc = new HufEncoder(freq)
    if (!enc.usable) return rawSection()
    val out = new java.io.ByteArrayOutputStream()
    if (rs <= 1023) { // 1 stream, size_format 00 (10-bit sizes)
      val s1 = enc.stream(lits, 0, rs)
      val cs = enc.treeDesc.length + s1.length
      if (cs > 1023 || 3 + cs >= 3 + rs) return rawSection()
      val lh = 2 | (0 << 2) | (rs << 4) | (cs << 14)
      out.write(lh & 0xff); out.write((lh >> 8) & 0xff); out.write((lh >> 16) & 0xff)
      out.write(enc.treeDesc, 0, enc.treeDesc.length)
      out.write(s1, 0, s1.length)
    } else { // 4 streams, size_format 11 (18-bit sizes)
      val r123 = (rs + 3) / 4
      val a = enc.stream(lits, 0, r123)
      val b = enc.stream(lits, r123, 2 * r123)
      val c = enc.stream(lits, 2 * r123, 3 * r123)
      val d = enc.stream(lits, 3 * r123, rs)
      if (a.length > 0xffff || b.length > 0xffff || c.length > 0xffff) return rawSection()
      val cs = enc.treeDesc.length + 6 + a.length + b.length + c.length + d.length
      if (cs > 262143 || 5 + cs >= 3 + rs) return rawSection()
      val lh = 2L | (3L << 2) | (rs.toLong << 4) | (cs.toLong << 22)
      var j = 0
      while (j < 5) { out.write(((lh >> (8 * j)) & 0xff).toInt); j += 1 }
      out.write(enc.treeDesc, 0, enc.treeDesc.length)
      out.write(a.length & 0xff); out.write((a.length >> 8) & 0xff)
      out.write(b.length & 0xff); out.write((b.length >> 8) & 0xff)
      out.write(c.length & 0xff); out.write((c.length >> 8) & 0xff)
      out.write(a, 0, a.length); out.write(b, 0, b.length)
      out.write(c, 0, c.length); out.write(d, 0, d.length)
    }
    out.toByteArray
  }

  /** Deterministic normalization of code counts to exactly 2^log slots,
    * every present symbol ≥ 1 (the [[Rans]] normalization discipline:
    * surplus off the largest entries, deficit onto the most frequent,
    * ties to the lowest symbol).
    */
  private def normalizeCounts(counts: Array[Int], log: Int): Array[Int] = {
    val tableSize = 1 << log
    val total = counts.map(_.toLong).sum
    val norm = new Array[Int](counts.length)
    var s = 0
    while (s < counts.length) {
      if (counts(s) > 0)
        norm(s) = math.max(1L, counts(s).toLong * tableSize / total).toInt
      s += 1
    }
    var diff = tableSize - norm.sum
    while (diff > 0) { // deficit of slots: feed the most frequent
      var best = -1
      s = 0
      while (s < counts.length) {
        if (norm(s) > 0 && (best < 0 || counts(s) > counts(best))) best = s
        s += 1
      }
      norm(best) += 1; diff -= 1
    }
    while (diff < 0) { // surplus: shave the largest normalized, floor 1
      var best = -1
      s = 0
      while (s < counts.length) {
        if (norm(s) > 1 && (best < 0 || norm(s) > norm(best))) best = s
        s += 1
      }
      norm(best) -= 1; diff += 1
    }
    norm
  }

  /** FSE table description writer — the exact inverse of
    * [[readFseDescription]]: 4-bit accuracy log, variable-precision
    * counts (count+1; small values in nbBits−1 bits when below the
    * dynamic max), 2-bit zero-repeat flags after each zero, thresholds
    * halving as `remaining` shrinks, byte-padded.
    */
  private def writeFseDescription(norm: Array[Int], log: Int): Array[Byte] = {
    val w = new Bits.LsbWriter
    w.put(log - 5, 4)
    val tableSize = 1 << log
    var remaining = tableSize + 1
    var threshold = tableSize
    var nbBits = log + 1
    var s = 0
    while (remaining > 1 && s < norm.length) {
      val count = norm(s)
      s += 1
      val value = count + 1
      val max = (2 * threshold - 1) - remaining
      if (value < max) w.put(value, nbBits - 1)
      else w.put(if (value < threshold) value else value + max, nbBits)
      remaining -= (if (count < 0) -count else count)
      while (remaining > 1 && remaining < threshold) { nbBits -= 1; threshold >>= 1 }
      if (count == 0 && remaining > 1) {
        // zero-repeat flags for the run of zeros that follows
        var zeros = 0
        while (s < norm.length && norm(s) == 0) { zeros += 1; s += 1 }
        while (zeros >= 3) { w.put(3, 2); zeros -= 3 }
        w.put(zeros, 2)
      }
    }
    w.toArray
  }

  /** One sequence channel's encoding choice: predefined table, RLE
    * symbol, or a data-derived FSE table with its description.
    */
  private final case class SeqChan(mode: Int, header: Array[Byte], ct: FseCTable) {
    def init(sym: Int): Int = if (ct == null) 0 else ct.initState(sym)
    def encode(w: Bits.LsbWriter, state: Int, sym: Int): Int =
      if (ct == null) 0 else ct.encode(w, state, sym)
    def flush(w: Bits.LsbWriter, state: Int): Unit = if (ct != null) ct.flush(w, state)
  }

  private def predefChan(ct: FseCTable): SeqChan = SeqChan(0, Array.emptyByteArray, ct)

  /** Data-derived channel: RLE when one distinct code, else an FSE
    * table normalized from the block's own code histogram.
    */
  private def describedChan(codes: Vector[Int], maxSym: Int, log: Int): SeqChan = {
    val counts = new Array[Int](math.min(maxSym, codes.max) + 1)
    codes.foreach(c => counts(c) += 1)
    val present = counts.count(_ > 0)
    if (present == 1) SeqChan(1, Array(codes.head.toByte), null)
    else {
      val norm = normalizeCounts(counts, log)
      SeqChan(2, writeFseDescription(norm, log), new FseCTable(log, norm))
    }
  }

  /** The sequences section (count header + modes + descriptions +
    * backward bitstream) for one choice of channels.
    */
  private def seqSection(seqs: Vector[Seq77], llC: Vector[Int], mlC: Vector[Int],
      ofC: Vector[Int], ofValues: Vector[Long],
      ll: SeqChan, of: SeqChan, ml: SeqChan): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    val n = seqs.length
    if (n < 128) out.write(n)
    else if (n < 0x7f00) { out.write((n >> 8) + 128); out.write(n & 0xff) }
    else { out.write(255); out.write((n - 0x7f00) & 0xff); out.write(((n - 0x7f00) >> 8) & 0xff) }
    out.write((ll.mode << 6) | (of.mode << 4) | (ml.mode << 2))
    out.write(ll.header, 0, ll.header.length)
    out.write(of.header, 0, of.header.length)
    out.write(ml.header, 0, ml.header.length)
    val w = new Bits.LsbWriter
    val last = n - 1
    var mlS = ml.init(mlC(last))
    var ofS = of.init(ofC(last))
    var llS = ll.init(llC(last))
    w.put(seqs(last).ll - LlBase(llC(last)), LlBits(llC(last)))
    w.put(seqs(last).ml - MlBase(mlC(last)), MlBits(mlC(last)))
    w.put((ofValues(last) - (1L << ofC(last))).toInt, ofC(last))
    var k = n - 2
    while (k >= 0) {
      ofS = of.encode(w, ofS, ofC(k))
      mlS = ml.encode(w, mlS, mlC(k))
      llS = ll.encode(w, llS, llC(k))
      w.put(seqs(k).ll - LlBase(llC(k)), LlBits(llC(k)))
      w.put(seqs(k).ml - MlBase(mlC(k)), MlBits(mlC(k)))
      w.put((ofValues(k) - (1L << ofC(k))).toInt, ofC(k))
      k -= 1
    }
    ml.flush(w, mlS)
    of.flush(w, ofS)
    ll.flush(w, llS)
    w.put(1, 1) // the sentinel BackReader starts below
    val bits = w.toArray
    out.write(bits, 0, bits.length)
    out.toByteArray
  }

  /** One compressed block: literals section (Huffman / RLE / raw,
    * whichever is smallest) + sequences under the smaller of the
    * PREDEFINED tables (no description) and DATA-DERIVED tables (RLE /
    * FSE-described from the block's own code histograms — round 10's
    * encoder-side FSE table construction, closing the loop with the
    * decoder's description reader), written exactly as the spec's
    * decoder consumes them (encode order: last sequence's extra bits
    * first; states flushed ML→OF→LL). A block with no sequences still
    * compresses when its literals do (nbSeq = 0). Returns null when
    * nothing wins over a raw block.
    */
  /** Encode one compressed block. `rep1/rep2/rep3` is the DECODER's
    * offset history entering the block — it persists across blocks
    * within a frame (RFC 8878 §3.1.1.5: only a frame, not a block,
    * resets it), so the caller threads it through and the returned
    * triple is the post-block history. A per-block (1,4,8) reset here
    * was a live corruption: block 2's first offset-1 run match would be
    * emitted as a repcode the decoder resolves against block 1's last
    * offset (regression-pinned vs zstd-jni in ZstdSpec). Returns
    * (block bytes or null for the raw fallback, r1', r2', r3'); on null
    * the caller must NOT advance the history — raw blocks never touch
    * it on the decode side.
    */
  private def encodeBlock(seqs: Vector[Seq77], lits: Array[Byte], blockLen: Int,
      rep1: Int, rep2: Int, rep3: Int): (Array[Byte], Int, Int, Int) = {
    val out = new java.io.ByteArrayOutputStream()
    val litSection = encodeLiterals(lits)
    out.write(litSection, 0, litSection.length)
    if (seqs.isEmpty) {
      out.write(0) // no sequences: the block is its literals
      val block = out.toByteArray
      return (if (block.length >= blockLen) null else block, rep1, rep2, rep3)
    }
    // codes per sequence; offsets use REPCODES where the decoder's
    // three-slot history (simulated here with its exact update rules,
    // including the LL==0 shift) already holds the offset — a repeated
    // offset costs ofCode 0/1 and zero-to-one extra bits instead of
    // log2(offset) bits, the big win on structured text
    val llC = seqs.map(s => llCode(s.ll))
    val mlC = seqs.map(s => mlCode(s.ml))
    var r1 = rep1; var r2 = rep2; var r3 = rep3
    val ofValues = {
      seqs.map { s =>
        val o = s.offset
        val v: Long =
          if (s.ll != 0) {
            if (o == r1) 1L else if (o == r2) 2L else if (o == r3) 3L
            else o.toLong + 3L
          } else {
            if (o == r2) 1L else if (o == r3) 2L else if (o == r1 - 1 && o > 0) 3L
            else o.toLong + 3L
          }
        // decoder-identical history update for the chosen value
        if (v > 3L) { r3 = r2; r2 = r1; r1 = o }
        else {
          val idx = v.toInt + (if (s.ll == 0) 1 else 0)
          idx match {
            case 1 => // rep1: unchanged
            case 2 => val t = r2; r2 = r1; r1 = t
            case 3 => val t = r3; r3 = r2; r2 = r1; r1 = t
            case _ => r3 = r2; r2 = r1; r1 = o
          }
        }
        v
      }
    }
    val ofC = ofValues.map(v => 63 - java.lang.Long.numberOfLeadingZeros(v))
    if (ofC.exists(_ > 30)) return (null, rep1, rep2, rep3) // keep offsets in Int range
    // variant A: predefined tables (zero description bytes; OF alphabet
    // capped at code 28 there)
    val pre: Array[Byte] =
      if (ofC.exists(_ > 28)) null
      else seqSection(seqs, llC, mlC, ofC, ofValues,
        predefChan(llPredefC), predefChan(ofPredefC), predefChan(mlPredefC))
    // variant B: RLE / FSE-described tables from the block's histograms
    val desc: Array[Byte] = seqSection(seqs, llC, mlC, ofC, ofValues,
      describedChan(llC, 35, 6), describedChan(ofC, 31, 5), describedChan(mlC, 52, 6))
    val section =
      if (pre == null) desc
      else if (desc.length < pre.length) desc
      else pre
    out.write(section, 0, section.length)
    val block = out.toByteArray
    // no win: caller emits raw and must keep the ENTERING history
    if (block.length >= blockLen) (null, rep1, rep2, rep3) else (block, r1, r2, r3)
  }

  /** Compress to a standalone zstd frame: single-segment header with
    * exact content size, per-≤128KB blocks (Huffman/RLE/raw literals +
    * predefined-or-described FSE sequences, raw-block fallback), XXH64
    * content checksum. Any conforming decoder — including zstd-jni in
    * ZstdSpec — reproduces the input bytes.
    */
  private[ext] def compress(data: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    // magic LE
    out.write(0x28); out.write(0xB5); out.write(0x2F); out.write(0xFD)
    val n = data.length
    val fcsFlag = if (n < 256) 0 else if (n < 65536 + 256) 1 else 2
    out.write((fcsFlag << 6) | 0x20 | 0x04) // single-segment + checksum
    fcsFlag match {
      case 0 => out.write(n)
      case 1 => val v = n - 256; out.write(v & 0xff); out.write((v >> 8) & 0xff)
      case _ =>
        out.write(n & 0xff); out.write((n >> 8) & 0xff)
        out.write((n >> 16) & 0xff); out.write((n >> 24) & 0xff)
    }
    val head = Array.fill(1 << 15)(-1)
    val chain = Array.fill(math.max(1, n))(-1)
    var p = 0
    var wroteBlock = false
    var r1 = 1; var r2 = 4; var r3 = 8 // decoder history: per FRAME, not per block
    while (p < n || !wroteBlock) {
      val end = math.min(p + MaxBlock, n)
      val isLast = end == n
      val (seqs, lits) = lz77(data, p, end, head, chain)
      val (enc, nr1, nr2, nr3) = encodeBlock(seqs, lits, end - p, r1, r2, r3)
      if (enc != null) {
        r1 = nr1; r2 = nr2; r3 = nr3
        val bh = (if (isLast) 1 else 0) | (2 << 1) | (enc.length << 3)
        out.write(bh & 0xff); out.write((bh >> 8) & 0xff); out.write((bh >> 16) & 0xff)
        out.write(enc, 0, enc.length)
      } else {
        val bh = (if (isLast) 1 else 0) | (0 << 1) | ((end - p) << 3)
        out.write(bh & 0xff); out.write((bh >> 8) & 0xff); out.write((bh >> 16) & 0xff)
        out.write(data, p, end - p)
      }
      p = end
      wroteBlock = true
    }
    val cks = xxh64(data, 0L)
    out.write((cks & 0xff).toInt); out.write(((cks >> 8) & 0xff).toInt)
    out.write(((cks >> 16) & 0xff).toInt); out.write(((cks >> 24) & 0xff).toInt)
    out.toByteArray
  }

  /** [[compress]] against a RAW-CONTENT dictionary: the dictionary
    * bytes pre-seed the LZ77 window — hash chains are primed over the
    * dictionary region (emitting nothing), so matches from the first
    * data byte on may carry offsets reaching PAST the output start,
    * which [[decompressWithDict]] (and libzstd, cross-pinned in
    * ZstdSpec) resolve against the dictionary content. The frame is
    * otherwise the standard single-segment layout with the DATA's
    * content size and checksum; raw-content dictionaries carry no id
    * (the caller vouches for the pairing, per the zstd raw-dict
    * contract), so the header declares none and repcode history starts
    * at the spec's 1/4/8 on both sides.
    */
  private[ext] def compressWithRawDict(data: Array[Byte], dict: Array[Byte]): Array[Byte] = {
    if (dict == null || dict.length == 0) return compress(data)
    val full = new Array[Byte](dict.length + data.length)
    System.arraycopy(dict, 0, full, 0, dict.length)
    System.arraycopy(data, 0, full, dict.length, data.length)
    val out = new java.io.ByteArrayOutputStream()
    out.write(0x28); out.write(0xB5); out.write(0x2F); out.write(0xFD)
    val n = data.length
    val fcsFlag = if (n < 256) 0 else if (n < 65536 + 256) 1 else 2
    out.write((fcsFlag << 6) | 0x20 | 0x04) // single-segment + checksum
    fcsFlag match {
      case 0 => out.write(n)
      case 1 => val v = n - 256; out.write(v & 0xff); out.write((v >> 8) & 0xff)
      case _ =>
        out.write(n & 0xff); out.write((n >> 8) & 0xff)
        out.write((n >> 16) & 0xff); out.write((n >> 24) & 0xff)
    }
    val head = Array.fill(1 << 15)(-1)
    val chain = Array.fill(math.max(1, full.length))(-1)
    primeChains(full, 0, dict.length, head, chain)
    var p = dict.length
    var wroteBlock = false
    var r1 = 1; var r2 = 4; var r3 = 8 // raw dicts leave the spec history
    while (p < full.length || !wroteBlock) {
      val end = math.min(p + MaxBlock, full.length)
      val isLast = end == full.length
      val (seqs, lits) = lz77(full, p, end, head, chain)
      val (enc, nr1, nr2, nr3) = encodeBlock(seqs, lits, end - p, r1, r2, r3)
      if (enc != null) {
        r1 = nr1; r2 = nr2; r3 = nr3
        val bh = (if (isLast) 1 else 0) | (2 << 1) | (enc.length << 3)
        out.write(bh & 0xff); out.write((bh >> 8) & 0xff); out.write((bh >> 16) & 0xff)
        out.write(enc, 0, enc.length)
      } else {
        val bh = (if (isLast) 1 else 0) | (0 << 1) | ((end - p) << 3)
        out.write(bh & 0xff); out.write((bh >> 8) & 0xff); out.write((bh >> 16) & 0xff)
        out.write(full, p, end - p)
      }
      p = end
      wroteBlock = true
    }
    val cks = xxh64(data, 0L)
    out.write((cks & 0xff).toInt); out.write(((cks >> 8) & 0xff).toInt)
    out.write(((cks >> 16) & 0xff).toInt); out.write(((cks >> 24) & 0xff).toInt)
    out.toByteArray
  }

  // ------------------------------------------------------------- operator

  final case class ZstdStats(
      doc_id: Long, n_bytes: Long, zstd_len: Long, ratio: Double, checksum: Long)

  final case class ZstEntry(
      archive_id: Long, rec_idx: Long, rec_doc_id: Long, n_bytes: Long, checksum: Long)

  final case class DictSegment(seg_rank: Long, score: Long, segment: String)

  /** Distributed zstd dictionary TRAINING — the COVER/fastcover idea
    * (Liao et al.; zstd's own trainer family) re-expressed as three
    * bounded Spark stages: (1) count all `gramLen`-char shingles across
    * the corpus (the one big shuffle, map-side combined), keep the
    * `topGrams` most frequent (deterministic tie-break on UTF-8 bytes
    * — Spark binary sort and DuckDB BLOB compare agree, where raw
    * string orderings would not); (2) score fixed-length candidate
    * segments (stride-sampled from every document, exact-deduped) by
    * the summed frequency of the shingles they cover, via a broadcast
    * join against the bounded top-gram table; (3) take the `nSegments`
    * best (same byte-wise tie-break) — the dictionary is their
    * concatenation, BEST SEGMENT LAST, nearest the window edge where
    * offsets are cheapest (libzstd's own layout convention). Every
    * stage is bounded (topGrams rows broadcast, nSegments·segLen dict)
    * and every ordering is a pinned total order, so the selection is
    * bit-reproducible and the DuckDB oracle replays it relationally.
    *
    * 100 TB note: a dictionary saturates on a tiny fraction of a large
    * corpus — pass a SAMPLE as `docs` (e.g. a deterministic hash
    * sample of a few hundred MB, zstd's own trainers cap samples the
    * same way); the shingle count and the segment distinct() are the
    * two corpus-linear shuffles, and both scale with the SAMPLE, not
    * the corpus. The driver key trains on the whole fixture table
    * because at test scale the fixture IS the sample.
    */
  /** Code-point window slices of `t` — bitwise `substring(t, i·stride+1,
    * win)` for every full window (Spark substring/length slice by code
    * point). A compiled loop instead of the `transform(sequence(...), i ->
    * substring(...))` chain the stages used before round 17: higher-order
    * functions are CodegenFallback, so every gram paid an interpreted
    * lambda dispatch — the dominant cost of dictTrain's two explodes.
    */
  private def cpSlices(t: String, win: Int, stride: Int): Iterator[String] = {
    val cps = t.codePoints.toArray
    val last = cps.length - win
    if (last < 0) Iterator.empty
    else Iterator.range(0, last + 1, stride).map(i => new String(cps, i, win))
  }

  def dictTrain(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text",
      segLen: Int = 64, stride: Int = 32, gramLen: Int = 8,
      topGrams: Int = 2048, nSegments: Int = 128): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val base = docs
      .filter(col(idCol).isNotNull && col(idCol) >= 0 && col(textCol).isNotNull)
      .select(col(textCol).as("text"))
      // one staging exchange: the bench's documents table is a single
      // parquet row group (one scan partition), which would serialize
      // the 8-gram explosion onto one thread before the groupBy; a real
      // corpus scan is many partitions (see [[Stage]])
      .repartition(docs.sparkSession.sparkContext.defaultParallelism)
      .as[String]
    // docs shorter than the window produce no slices, exactly the old
    // length(text) >= win filters
    val freqs = base
      .flatMap(t => cpSlices(t, gramLen, 1))
      .toDF("gram")
      .groupBy("gram").agg(count(lit(1)).as("cnt"))
    val topf = freqs
      .orderBy(col("cnt").desc, encode(col("gram"), "UTF-8"))
      .limit(topGrams)
    val segments = base
      .flatMap(t => cpSlices(t, segLen, stride))
      .toDF("segment")
      .distinct()
    val scored = segments
      .as[String]
      .flatMap(s => cpSlices(s, gramLen, 1).map(g => (s, g)))
      .toDF("segment", "gram")
      .join(broadcast(topf), Seq("gram"), "left")
      .groupBy("segment")
      .agg(sum(coalesce(col("cnt"), lit(0L))).as("score"))
    // the final rank: nSegments rows. orderBy+limit is a global top-k
    // (TakeOrderedAndProject — no full sort), and the rank assignment is
    // a single-row sort_array/posexplode aggregate over those <=128 rows
    // (the skew_profile pattern) — no global Window, no single-partition
    // WindowExec warning, bounded driver-free state. Scores are
    // non-negative counts, so negation is a safe descending key; the
    // UTF-8 bytes mirror the binary tie-break the oracle replays.
    scored
      .orderBy(col("score").desc, encode(col("segment"), "UTF-8"))
      .limit(nSegments)
      .agg(sort_array(collect_list(struct(
        (col("score") * lit(-1L)).as("nscore"),
        encode(col("segment"), "UTF-8").as("sbytes"),
        col("score").as("score"),
        col("segment").as("segment")))).as("xs"))
      .select(posexplode(col("xs")).as(Seq("seg_rank", "x")))
      .select(col("seg_rank").cast("long").as("seg_rank"),
        col("x.score").cast("long").as("score"), col("x.segment").as("segment"))
  }

  /** Assemble the trained dictionary bytes from [[dictTrain]]'s output:
    * segments concatenated WORST-first so the best segment sits at the
    * end, adjacent to the compression window. Bounded collect —
    * nSegments · segLen chars by construction.
    */
  def assembleDict(ranked: DataFrame): Array[Byte] = {
    val rows = ranked.select(col("seg_rank"), col("segment")).collect()
      .map(r => (r.getLong(0), r.getString(1))).sortBy(-_._1)
    val out = new java.io.ByteArrayOutputStream()
    rows.foreach { case (_, s) => out.write(s.getBytes(java.nio.charset.StandardCharsets.UTF_8)) }
    out.toByteArray
  }

  final case class ZstdDictStats(doc_id: Long, n_bytes: Long, checksum: Long)

  /** Per-document round trip through the DICTIONARY pair:
    * [[compressWithRawDict]] against a corpus-trained dictionary, then
    * [[decompressWithDict]]. The oracle replays length + checksum from
    * source text (the deflate-shape contract; compressed size is the
    * engine-model half, pinned by ZstdSpec's libzstd differential and
    * the spec's dict-must-beat-no-dict ratio gate). The dictionary
    * broadcasts as a closure constant — KBs by construction.
    */
  def dictSignal(docs: DataFrame, dict: Array[Byte],
      idCol: String = "doc_id", textCol: String = "text"): Dataset[ZstdDictStats] = {
    val spark = docs.sparkSession
    import spark.implicits._
    Stage.docTexts(docs, idCol, textCol).filter(col(textCol).isNotNull)
      .map { case (id, text) =>
        // family convention (zstdSignal, brotliSignal): one damaged
        // round trip quarantines as a (-1, -1) sentinel row instead of
        // failing the whole job
        try {
          val data = text.getBytes(java.nio.charset.StandardCharsets.UTF_8)
          val comp = compressWithRawDict(data, dict)
          val back = decompressWithDict(comp, dict, math.max(1, data.length))
          var c = 0L
          back.foreach(b => c = (c * 31 + (b & 0xff)) % 1000000007L)
          ZstdDictStats(id, back.length.toLong, c)
        } catch {
          case scala.util.control.NonFatal(_) => ZstdDictStats(id, -1L, -1L)
        }
      }
  }

  /** Documents grouped into multi-frame `.zst` archives: per record,
    * one SKIPPABLE frame carrying the doc id (8-byte LE payload — the
    * seekable-zstd convention of metadata-in-skippable-frames) followed
    * by one data frame with the document bytes. Frames concatenate
    * with no outer framing — exactly how concatenated zstd streams
    * work on disk.
    */
  def encodeZstArchives(docs: DataFrame, nArchives: Int = 16,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    Archives.assembleArchives(docs, nArchives, idCol, textCol) { (id, text) =>
      val out = new java.io.ByteArrayOutputStream()
      out.write(0x50); out.write(0x2A); out.write(0x4D); out.write(0x18) // skippable magic LE
      out.write(8); out.write(0); out.write(0); out.write(0)
      var j = 0
      while (j < 8) { out.write(((id >> (8 * j)) & 0xff).toInt); j += 1 }
      val frame = compress(text.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      out.write(frame, 0, frame.length)
      out.toByteArray
    }

  /** The demux loop: (skippable id frame, data frame) pairs to records,
    * THROWING on any damage; [[zstExtract]] quarantines the archive.
    */
  private def demuxZstArchive(aid: Long, payload: Array[Byte],
      maxRecordBytes: Int): Vector[ZstEntry] = {
    val entries = Vector.newBuilder[ZstEntry]
    var p = 0
    var recIdx = 0L
    var pendingId = -1L
    while (p < payload.length) {
      val magic = leAt(payload, p, 4)
      if ((magic & 0xfffffff0L) == 0x184D2A50L) {
        val size = leAt(payload, p + 4, 4).toInt
        if (size != 8 || p + 16 > payload.length) fail()
        pendingId = leAt(payload, p + 8, 8)
        p += 16
      } else {
        if (pendingId < 0) fail() // data frame without its id frame
        val (content, end) = decodeFrame(payload, p, maxRecordBytes)
        var c = 0L
        content.foreach(b => c = (c * 31 + (b & 0xff)) % 1000000007L)
        entries += ZstEntry(aid, recIdx, pendingId, content.length.toLong, c)
        recIdx += 1L
        pendingId = -1L
        p = end
      }
    }
    if (pendingId >= 0) fail() // trailing id frame with no data frame
    entries.result()
  }

  /** Demux + decode a multi-frame zstd archive column: each (skippable
    * id frame, data frame) pair becomes one record row with the decoded
    * length and base-31 checksum. Damage quarantines the WHOLE archive
    * (the archive-family contract — a half-read archive is worse than a
    * reported missing one). Map-only flatMap.
    */
  def zstExtract(archives: DataFrame, maxRecordBytes: Int = 1 << 26): Dataset[ZstEntry] = {
    val spark = archives.sparkSession
    import spark.implicits._
    archives
      .select(col("archive_id").cast("long"), col("payload"))
      .as[(Long, Array[Byte])]
      .flatMap { case (aid, payload) =>
        try demuxZstArchive(aid, payload, maxRecordBytes)
        catch { case scala.util.control.NonFatal(_) => Vector.empty } // quarantine
      }
  }

  /** Compress-then-decode round trip per document — the `deflate_
    * roundtrip` oracle shape: the oracle recomputes length + base-31
    * checksum from the source text, so one damaged bit in one document
    * fails the hash (a broken round trip emits −1). Map-only.
    */
  def zstdSignal(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): Dataset[ZstdStats] = {
    val spark = docs.sparkSession
    import spark.implicits._
    Stage.docTexts(docs, idCol, textCol).filter(col(textCol).isNotNull)
      .map { case (id, text) =>
        val data = text.getBytes(java.nio.charset.StandardCharsets.UTF_8)
        val comp = compress(data)
        val ratio = comp.length.toDouble / math.max(1, data.length)
        try {
          val back = decompress(comp, math.max(1, data.length))
          var c = 0L
          back.foreach(b => c = (c * 31 + (b & 0xff)) % 1000000007L)
          ZstdStats(id, back.length.toLong, comp.length.toLong, ratio, c)
        } catch {
          case scala.util.control.NonFatal(_) =>
            ZstdStats(id, -1L, comp.length.toLong, ratio, -1L)
        }
      }
  }
}
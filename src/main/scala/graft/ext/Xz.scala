package graft.ext

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** ======== xz / LZMA, from scratch (the LAST classic corpus container) ==
  *
  * With bzip2 landed, `.xz` is the one remaining container the big public
  * corpora actually ship in (Wikimedia dumps publish both `.bz2` and
  * multistream `.xz`; kernel and many dataset tarballs are xz-only).
  * This implements the public format family bottom-up:
  *
  *   LZMA   — the range-coded LZ77 core (Pavlov's public-domain spec):
  *            an 11-bit adaptive binary range decoder over the standard
  *            probability model groups (isMatch, the isRep family and
  *            isRep0Long per state×posState, literal tables context-selected by lc/lp
  *            with matched-literal decoding, 6-level posSlot trees per
  *            length class, reverse bit-trees for the positional and
  *            align bits, the 12-state state machine, rep0–rep3
  *            distance history, end-of-stream marker).
  *   LZMA2  — the chunk layer: uncompressed chunks (0x01 reset / 0x02),
  *            LZMA chunks with the control byte's unpacked-size high
  *            bits and the three reset modes (state, state+props,
  *            state+props+dict), end marker.
  *   xz     — the container: stream header/footer with flag CRC32s and
  *            the backward-size cross-check, block headers (VLI sizes,
  *            filter chain — LZMA2 only, as real encoders emit), block
  *            padding, integrity check of the UNCOMPRESSED data in all
  *            four live flavors (none / CRC32 / CRC64-ECMA / SHA-256),
  *            the index (record-for-record cross-checked against the
  *            blocks actually read), and multi-stream concatenation
  *            with 4-byte stream padding.
  *
  * The WRITER side has two rungs: [[compressRaw]] emits valid xz
  * streams from UNCOMPRESSED LZMA2 chunks (the framing fallback), and
  * [[compress]] is a REAL greedy-LZMA encoder — a range ENCODER
  * mirroring the decoder's probability trajectory byte-for-byte, a
  * hash-4 matcher with rep0 continuation, the full distance-slot
  * machinery, and per-chunk fallback to raw when a span expands. Both
  * rungs and the decoder are differentialed against the tukaani
  * reference implementation across presets, props, dictionary sizes
  * and all four check types (test-classpath only — the library itself
  * never touches the jar).
  *
  * Damage model: any structural, range-coder, check, or index violation
  * throws MalformedXz and the extract operator quarantines the ARCHIVE
  * whole — the family contract. Bombs are capped in-loop: every chunk
  * states its unpacked size up front and the decoder enforces `maxOut`
  * BEFORE materializing, never after.
  *
  * No reference citation — `/root/reference/src/flinkarima.py` has no
  * compression surface; north-star crawl-ingest scope. 100 TB shape:
  * map-only per archive, no shuffle, damage never crosses an archive
  * boundary.
  */
object Xz {

  private final class MalformedXz extends RuntimeException("malformed xz", null, false, false)
  private def fail(): Nothing = throw new MalformedXz

  // ----------------------------------------------------------- checks

  /** CRC-64/ECMA-182 reflected (poly 0xC96C5795D7870F42) — xz's default
    * integrity check. It stays local: xz is its only user and the JDK has
    * no CRC-64 (the CRC-32 checks go through [[Bits.crc32]]).
    */
  private val Crc64Tab: Array[Long] = {
    val t = new Array[Long](256)
    var i = 0
    while (i < 256) {
      var c = i.toLong
      var k = 0
      while (k < 8) { c = (c >>> 1) ^ (if ((c & 1L) != 0) 0xC96C5795D7870F42L else 0L); k += 1 }
      t(i) = c
      i += 1
    }
    t
  }

  private def crc64(b: Array[Byte], from: Int, until: Int): Long = {
    var c = -1L
    var i = from
    while (i < until) { c = (c >>> 8) ^ Crc64Tab(((c ^ b(i)) & 0xff).toInt); i += 1 }
    ~c
  }

  // -------------------------------------------------------------- VLI

  /** xz variable-length integers: LEB128 of ≤ 9 bytes (63 bits), minimal
    * form not enforced on read (per spec, only the 63-bit bound is).
    */
  private final class VliReader(b: Array[Byte], from: Int) extends Bits.Cursor(b, from, b.length) {
    def fail(): Nothing = Xz.fail()
    def vli(): Long = uvarint(9)
  }

  // ------------------------------------------------------ LZMA decoder

  private final val NumStates = 12

  /** Adaptive binary range decoder (the public LZMA spec's normalization
    * and 11-bit probability update), reading from a bounded slice.
    */
  private final class RangeDec(b: Array[Byte], var pos: Int, val limit: Int) {
    var range: Long = 0xffffffffL
    var code: Long = 0L
    // init: one ignored zero byte + 4 code bytes, big-endian
    locally {
      if (pos + 5 > limit) fail()
      if (b(pos) != 0) fail()
      var i = 1
      while (i <= 4) { code = (code << 8) | (b(pos + i) & 0xff); i += 1 }
      pos += 5
    }
    private def normalize(): Unit =
      if (range < (1L << 24)) {
        if (pos >= limit) fail()
        range <<= 8
        code = ((code << 8) | (b(pos) & 0xff)) & 0xffffffffL
        pos += 1
      }
    def decodeBit(probs: Array[Short], i: Int): Int = {
      val p = probs(i) & 0xffff
      val bound = (range >>> 11) * p
      if (code < bound) {
        range = bound
        probs(i) = (p + ((2048 - p) >> 5)).toShort
        normalize()
        0
      } else {
        range -= bound
        code -= bound
        probs(i) = (p - (p >> 5)).toShort
        normalize()
        1
      }
    }
    def decodeDirect(n: Int): Int = {
      var res = 0
      var k = n
      while (k > 0) {
        range >>>= 1
        code -= range
        val t = 0L - (code >>> 63) // -1 if code went negative (borrow)
        code += range & t
        res = (res << 1) + (t + 1).toInt
        normalize()
        k -= 1
      }
      res
    }
    def treeDecode(probs: Array[Short], nBits: Int): Int = {
      var m = 1
      var k = 0
      while (k < nBits) { m = (m << 1) + decodeBit(probs, m); k += 1 }
      m - (1 << nBits)
    }
    def treeDecodeRev(probs: Array[Short], nBits: Int): Int = treeDecodeRevOff(probs, 0, nBits)

    /** Reverse bit-tree with a base offset — the spec's
      * `BitTreeReverseDecode(PosDecoders + dist - posSlot, …)` pointer
      * arithmetic, expressed as an index base.
      */
    def treeDecodeRevOff(probs: Array[Short], off: Int, nBits: Int): Int = {
      var m = 1
      var sym = 0
      var k = 0
      while (k < nBits) {
        val bit = decodeBit(probs, off + m)
        m = (m << 1) + bit
        sym |= bit << k
        k += 1
      }
      sym
    }
    def finishedClean: Boolean = code == 0L
  }

  private def newProbs(n: Int): Array[Short] = Array.fill(n)(1024.toShort)

  /** Length decoder state (choice/choice2 + low/mid per posState + high). */
  private final class LenDec {
    val choice = newProbs(2)
    val low = Array.fill(16)(newProbs(8))
    val mid = Array.fill(16)(newProbs(8))
    val high = newProbs(256)
    def decode(rc: RangeDec, posState: Int): Int =
      if (rc.decodeBit(choice, 0) == 0) 2 + rc.treeDecode(low(posState), 3)
      else if (rc.decodeBit(choice, 1) == 0) 10 + rc.treeDecode(mid(posState), 3)
      else 18 + rc.treeDecode(high, 8)
  }

  /** One LZMA probability-model instance (reset per LZMA2 state reset). */
  private final class LzmaState(var lc: Int, var lp: Int, var pb: Int) {
    if (lc > 8 || lp > 4 || pb > 4) fail()
    var state = 0
    var rep0 = 0; var rep1 = 0; var rep2 = 0; var rep3 = 0
    val isMatch = newProbs(NumStates << 4)
    val isRep = newProbs(NumStates)
    val isRepG0 = newProbs(NumStates)
    val isRepG1 = newProbs(NumStates)
    val isRepG2 = newProbs(NumStates)
    val isRep0Long = newProbs(NumStates << 4)
    val posSlot = Array.fill(4)(newProbs(64))
    val specPos = newProbs(115)
    val align = newProbs(16)
    val lenDec = new LenDec
    val repLenDec = new LenDec
    val literals = newProbs(0x300 << (lc + lp))
  }

  /** Decode ONE LZMA chunk of exactly `unpacked` bytes into `out`
    * (which already holds the window history). `dictStart` bounds how
    * far back matches may reach (an LZMA2 dict reset).
    */
  private def lzmaDecode(rc: RangeDec, st: LzmaState, out: ExpandBuf,
      dictStart: Int, unpacked: Int): Unit = {
    val posMask = (1 << st.pb) - 1
    val litPosMask = (1 << st.lp) - 1
    val end = out.len + unpacked
    while (out.len < end) {
      // positions are relative to the last DICT RESET (the LZMA2
      // dictionary position, which restarts at 0 on reset)
      val dpos = out.len - dictStart
      val posState = dpos & posMask
      if (rc.decodeBit(st.isMatch, (st.state << 4) + posState) == 0) {
        // ---- literal
        val prev = if (out.len > dictStart) out.byteAt(out.len - 1) & 0xff else 0
        val litState = ((dpos & litPosMask) << st.lc) + (prev >> (8 - st.lc))
        val base = 0x300 * litState
        var sym = 1
        if (st.state >= 7) {
          // matched literal: steer by the byte at distance rep0+1
          var matchByte = (if (out.len - st.rep0 - 1 >= dictStart) out.byteAt(out.len - st.rep0 - 1) else 0) & 0xff
          var break = false
          while (!break && sym < 0x100) {
            val matchBit = (matchByte >> 7) & 1
            matchByte <<= 1
            val bit = rc.decodeBit(st.literals, base + ((1 + matchBit) << 8) + sym)
            sym = (sym << 1) | bit
            if (matchBit != bit) break = true
          }
        }
        while (sym < 0x100) sym = (sym << 1) | rc.decodeBit(st.literals, base + sym)
        out.append((sym & 0xff).toByte)
        st.state = if (st.state < 4) 0 else if (st.state < 10) st.state - 3 else st.state - 6
      } else {
        var len = 0
        if (rc.decodeBit(st.isRep, st.state) == 1) {
          // ---- rep match
          if (rc.decodeBit(st.isRepG0, st.state) == 0) {
            if (rc.decodeBit(st.isRep0Long, (st.state << 4) + posState) == 0) {
              // short rep: one byte at rep0
              st.state = if (st.state < 7) 9 else 11
              if (out.len - st.rep0 - 1 < dictStart) fail()
              out.append(out.byteAt(out.len - st.rep0 - 1))
              len = -1 // handled
            }
          } else {
            val dist =
              if (rc.decodeBit(st.isRepG1, st.state) == 0) st.rep1
              else if (rc.decodeBit(st.isRepG2, st.state) == 0) { val d = st.rep2; st.rep2 = st.rep1; d }
              else { val d = st.rep3; st.rep3 = st.rep2; st.rep2 = st.rep1; d }
            st.rep1 = st.rep0
            st.rep0 = dist
          }
          if (len == 0) {
            len = st.repLenDec.decode(rc, posState)
            st.state = if (st.state < 7) 8 else 11
          }
        } else {
          // ---- new match
          st.rep3 = st.rep2; st.rep2 = st.rep1; st.rep1 = st.rep0
          len = st.lenDec.decode(rc, posState)
          st.state = if (st.state < 7) 7 else 10
          val lenClass = math.min(len - 2, 3)
          val slot = rc.treeDecode(st.posSlot(lenClass), 6)
          if (slot < 4) st.rep0 = slot
          else {
            val numDirect = (slot >> 1) - 1
            var dist = (2 | (slot & 1)) << numDirect
            if (slot < 14)
              dist += rc.treeDecodeRevOff(st.specPos, dist - slot, numDirect)
            else {
              dist += rc.decodeDirect(numDirect - 4) << 4
              dist += rc.treeDecodeRev(st.align, 4)
            }
            st.rep0 = dist
          }
          if (st.rep0 == -1 || st.rep0 == 0xffffffff) {
            // end-of-stream marker: only legal exactly at chunk end
            if (out.len != end) fail()
            if (!rc.finishedClean) fail()
            return
          }
        }
        if (len > 0) {
          if (out.len + len > end) fail() // match overruns the declared size
          val dist = st.rep0 + 1
          if (out.len - dist < dictStart) fail()
          var k = 0
          var q = out.len - dist
          while (k < len) { out.append(out.byteAt(q)); q += 1; k += 1 }
        }
      }
    }
  }

  /** Growable output buffer with history access (the LZMA window). */
  private final class ExpandBuf(initial: Int, val maxLen: Int) {
    private var a = new Array[Byte](math.max(64, initial))
    var len = 0
    def byteAt(i: Int): Byte = a(i)
    def append(b: Byte): Unit = {
      if (len >= maxLen) fail()
      if (len == a.length) {
        val cap = math.min(maxLen.toLong, a.length.toLong << 1)
        a = java.util.Arrays.copyOf(a, math.max(cap, len + 1L).toInt)
      }
      a(len) = b; len += 1
    }
    def appendRange(src: Array[Byte], from: Int, n: Int): Unit = {
      if (len + n > maxLen) fail()
      if (len + n > a.length) {
        var cap = a.length.toLong
        while (cap < len + n) cap = math.min(maxLen.toLong, cap << 1)
        a = java.util.Arrays.copyOf(a, cap.toInt)
      }
      System.arraycopy(src, from, a, len, n)
      len += n
    }
    def slice(from: Int): Array[Byte] = java.util.Arrays.copyOfRange(a, from, len)
  }

  // ---------------------------------------------------------- LZMA2

  /** Decode one LZMA2 byte stream (`[from, until)`) appending to `out`;
    * returns the position just after the 0x00 end marker.
    */
  private def lzma2Decode(b: Array[Byte], from: Int, until: Int, out: ExpandBuf): Int = {
    var pos = from
    var dictStart = out.len
    var st: LzmaState = null
    var lc = -1; var lp = -1; var pb = -1 // last-seen props (survive state drops)
    var needDictReset = true // the first chunk must reset the dictionary
    while (true) {
      if (pos >= until) fail()
      val control = b(pos) & 0xff
      pos += 1
      if (control == 0x00) return pos
      else if (control == 0x01 || control == 0x02) {
        if (control == 0x01) { dictStart = out.len; needDictReset = false }
        else if (needDictReset) fail() // continuation before any dict reset
        if (pos + 2 > until) fail()
        val size = (((b(pos) & 0xff) << 8) | (b(pos + 1) & 0xff)) + 1
        pos += 2
        if (pos + size > until) fail()
        out.appendRange(b, pos, size)
        pos += size
        // an uncompressed chunk resets the LZMA state machine: the next
        // LZMA chunk must carry reset >= 1 (props survive)
        st = null
      } else if (control >= 0x80) {
        val unpacked = (((control & 0x1f) << 16) | ((b(pos) & 0xff) << 8) | (b(pos + 1) & 0xff)) + 1
        val packed = (((b(pos + 2) & 0xff) << 8) | (b(pos + 3) & 0xff)) + 1
        pos += 4
        val reset = (control >> 5) & 3
        if (needDictReset && reset != 3) fail()
        if (reset >= 2) {
          if (pos >= until) fail()
          val props = b(pos) & 0xff
          pos += 1
          if (props > (4 * 5 + 4) * 9 + 8) fail()
          lc = props % 9
          lp = (props / 9) % 5
          pb = props / 45
          st = new LzmaState(lc, lp, pb)
        } else if (reset == 1) {
          if (lc < 0) fail() // reset-state with no props ever seen
          st = new LzmaState(lc, lp, pb)
        } else if (st == null) fail() // reset 0 after a state drop
        if (reset == 3) { dictStart = out.len; needDictReset = false }
        if (pos + packed > until) fail()
        val rc = new RangeDec(b, pos, pos + packed)
        lzmaDecode(rc, st, out, dictStart, unpacked)
        if (rc.pos != pos + packed) fail() // chunk must consume exactly its bytes
        pos += packed
      } else fail()
    }
    pos // unreachable
  }

  // ------------------------------------------------------ xz container

  private val Magic = Array[Byte](0xfd.toByte, '7', 'z', 'X', 'Z', 0)
  private val FooterMagic = Array[Byte]('Y', 'Z')

  /** Decode ONE xz stream starting at byte `pos`; returns (content, end
    * byte position just after the footer). Verifies: header/footer flag
    * CRCs, block header CRCs, per-block integrity check (none / CRC32 /
    * CRC64 / SHA-256), declared compressed/uncompressed sizes where
    * present, the index against the blocks actually read, and the
    * footer's backward-size pointer.
    */
  private[ext] def decodeStream(in: Array[Byte], pos0: Int, maxOut: Int): (Array[Byte], Int) = {
    var pos = pos0
    if (pos + 12 > in.length) fail()
    var i = 0
    while (i < 6) { if (in(pos + i) != Magic(i)) fail(); i += 1 }
    if (in(pos + 6) != 0) fail() // stream flags byte 1 must be null
    val checkType = in(pos + 7) & 0xff
    val checkLen = checkType match {
      case 0x00 => 0
      case 0x01 => 4
      case 0x04 => 8
      case 0x0a => 32
      case _ => fail()
    }
    if (Bits.crc32(in, pos + 6, pos + 8) != leInt(in, pos + 8)) fail()
    pos += 12
    val out = new ExpandBuf(1 << 12, maxOut)
    val records = Vector.newBuilder[(Long, Long)] // (unpaddedSize, uncompressedSize)
    var indexPos = -1
    while (indexPos < 0) {
      if (pos >= in.length) fail()
      val first = in(pos) & 0xff
      if (first == 0) indexPos = pos // index indicator
      else {
        // ---- block
        val headerSize = (first + 1) * 4
        if (pos + headerSize > in.length) fail()
        if (Bits.crc32(in, pos, pos + headerSize - 4) != leInt(in, pos + headerSize - 4)) fail()
        val flags = in(pos + 1) & 0xff
        val nFilters = (flags & 3) + 1
        if ((flags & 0x3c) != 0) fail() // reserved bits
        val h = new VliReader(in, pos + 2)
        var compSize = -1L
        var uncompSize = -1L
        if ((flags & 0x40) != 0) compSize = h.vli()
        if ((flags & 0x80) != 0) uncompSize = h.vli()
        var f = 0
        var sawLzma2 = false
        while (f < nFilters) {
          val id = h.vli()
          val propsLen = h.vli()
          val p2 = h.pos
          h.pos = p2 + propsLen.toInt
          if (h.pos > pos + headerSize - 4) fail()
          if (id == 0x21) {
            if (propsLen != 1) fail()
            sawLzma2 = true
            val dictByte = in(p2) & 0xff
            if (dictByte > 40) fail()
          } else fail() // only the LZMA2 chain is in the wild for .xz
          f += 1
        }
        if (!sawLzma2) fail()
        var p = h.pos
        while (p < pos + headerSize - 4) { if (in(p) != 0) fail(); p += 1 } // header padding
        // ---- block data (LZMA2 stream)
        val dataStart = pos + headerSize
        val outStart = out.len
        val dataEnd = lzma2Decode(in, dataStart,
          if (compSize >= 0) math.min(in.length.toLong, dataStart + compSize).toInt else in.length, out)
        val blockUncomp = (out.len - outStart).toLong
        if (compSize >= 0 && (dataEnd - dataStart).toLong != compSize) fail()
        if (uncompSize >= 0 && blockUncomp != uncompSize) fail()
        // block padding to 4 bytes
        var q = dataEnd
        while (((q - pos) & 3) != 0) { if (q >= in.length || in(q) != 0) fail(); q += 1 }
        // integrity check of the uncompressed data
        if (q + checkLen > in.length) fail()
        checkType match {
          case 0x00 =>
          case 0x01 =>
            val want = leInt(in, q)
            val data = out.slice(outStart)
            if (Bits.crc32(data, 0, data.length) != want) fail()
          case 0x04 =>
            val want = leLong(in, q)
            val data = out.slice(outStart)
            if (crc64(data, 0, data.length) != want) fail()
          case 0x0a =>
            val data = out.slice(outStart)
            val got = java.security.MessageDigest.getInstance("SHA-256").digest(data)
            var k = 0
            while (k < 32) { if (got(k) != in(q + k)) fail(); k += 1 }
        }
        val unpadded = (dataEnd - pos).toLong + checkLen
        records += ((unpadded, blockUncomp))
        pos = q + checkLen
      }
    }
    // ---- index: 0x00, VLI count, records, padding, CRC32
    val idxStart = indexPos
    val r = new VliReader(in, indexPos + 1)
    val cnt = r.vli()
    val recs = records.result()
    if (cnt != recs.length.toLong) fail()
    recs.foreach { case (unpadded, uncomp) =>
      val u1 = r.vli()
      val u2 = r.vli()
      if (u1 != unpadded || u2 != uncomp) fail()
    }
    var p = r.pos
    while (((p - idxStart) & 3) != 0) { if (p >= in.length || in(p) != 0) fail(); p += 1 }
    if (p + 4 > in.length) fail()
    if (Bits.crc32(in, idxStart, p) != leInt(in, p)) fail()
    p += 4
    val indexSize = (p - idxStart).toLong
    // ---- footer: CRC32(backwardSize ++ flags), backwardSize, flags, "YZ"
    if (p + 12 > in.length) fail()
    if (Bits.crc32(in, p + 4, p + 10) != leInt(in, p)) fail()
    val backward = ((leInt(in, p + 4).toLong & 0xffffffffL) + 1) * 4
    if (backward != indexSize) fail()
    if (in(p + 8) != 0 || (in(p + 9) & 0xff) != checkType) fail()
    if (in(p + 10) != FooterMagic(0) || in(p + 11) != FooterMagic(1)) fail()
    (out.slice(0), p + 12)
  }

  private def leInt(b: Array[Byte], p: Int): Int =
    (b(p) & 0xff) | ((b(p + 1) & 0xff) << 8) | ((b(p + 2) & 0xff) << 16) | ((b(p + 3) & 0xff) << 24)

  private def leLong(b: Array[Byte], p: Int): Long =
    (leInt(b, p).toLong & 0xffffffffL) | (leInt(b, p + 4).toLong << 32)

  /** One logical stream. Damage throws MalformedXz. */
  def decompress(bytes: Array[Byte], maxOut: Int): Array[Byte] = decodeStream(bytes, 0, maxOut)._1

  /** All concatenated streams, skipping 4-byte-aligned null stream
    * padding between them (the multistream convention dump archives
    * use).
    */
  def decompressStreams(bytes: Array[Byte], maxOutPerStream: Int): Vector[Array[Byte]] = {
    val out = Vector.newBuilder[Array[Byte]]
    var p = 0
    while (p < bytes.length) {
      if (bytes(p) == 0) {
        // stream padding: multiple-of-4 null run
        val start = p
        while (p < bytes.length && bytes(p) == 0) p += 1
        if (((p - start) & 3) != 0) fail()
      } else {
        val (content, end) = decodeStream(bytes, p, maxOutPerStream)
        out += content
        if (end <= p) fail()
        p = end
      }
    }
    out.result()
  }

  // ------------------------------------------------------------ writer

  /** Minimal xz writer: one block of UNCOMPRESSED LZMA2 chunks (valid
    * input for every xz decoder — XzSpec proves tukaani accepts it),
    * CRC32 integrity check, correct index and footer. The brotli
    * `compressRaw` playbook: real framing, no entropy coding.
    */
  def compressRaw(data: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(data.length + 64)
    out.write(Magic, 0, 6)
    val flags = Array[Byte](0, 0x01) // CRC32 check
    out.write(flags, 0, 2)
    writeLeInt(out, Bits.crc32(flags, 0, 2))
    var unpadded = 0L
    var records = List.empty[(Long, Long)]
    if (data.nonEmpty) {
      // ---- block header: one LZMA2 filter, 8 MB dictionary, no sizes
      val hdr = new java.io.ByteArrayOutputStream(16)
      hdr.write(0) // placeholder for size byte
      hdr.write(0) // flags: 1 filter, no size fields
      Bits.writeUvarint(hdr, 0x21) // LZMA2
      Bits.writeUvarint(hdr, 1)
      hdr.write(26) // dict size byte: (2|(26&1)) << (26/2+11) = 2 << 24 = 32 MB, ≥ any record
      while ((hdr.size + 4) % 4 != 0) hdr.write(0)
      val h = hdr.toByteArray
      h(0) = (((h.length + 4) / 4) - 1).toByte
      out.write(h, 0, h.length)
      writeLeInt(out, Bits.crc32(h, 0, h.length))
      // ---- LZMA2 uncompressed chunks
      val dataStart = out.size
      var off = 0
      var first = true
      while (off < data.length) {
        val n = math.min(1 << 16, data.length - off)
        out.write(if (first) 0x01 else 0x02)
        out.write((n - 1) >> 8); out.write((n - 1) & 0xff)
        out.write(data, off, n)
        off += n
        first = false
      }
      out.write(0x00) // LZMA2 end marker
      val dataLen = out.size - dataStart
      var pad = 0
      while ((h.length + 4 + dataLen + pad) % 4 != 0) { out.write(0); pad += 1 }
      writeLeInt(out, Bits.crc32(data, 0, data.length))
      unpadded = (h.length + 4 + dataLen).toLong + 4 // header + data + check (no padding)
      records = List((unpadded, data.length.toLong))
    }
    // ---- index
    val idx = new java.io.ByteArrayOutputStream(32)
    idx.write(0x00)
    Bits.writeUvarint(idx, records.length.toLong)
    records.foreach { case (u, s) => Bits.writeUvarint(idx, u); Bits.writeUvarint(idx, s) }
    while ((idx.size % 4) != 0) idx.write(0)
    val ib = idx.toByteArray
    out.write(ib, 0, ib.length)
    writeLeInt(out, Bits.crc32(ib, 0, ib.length))
    // ---- footer
    val tail = new Array[Byte](6)
    val backward = ((ib.length + 4) / 4 - 1)
    tail(0) = (backward & 0xff).toByte
    tail(1) = ((backward >> 8) & 0xff).toByte
    tail(2) = ((backward >> 16) & 0xff).toByte
    tail(3) = ((backward >> 24) & 0xff).toByte
    tail(4) = 0; tail(5) = 0x01
    writeLeInt(out, Bits.crc32(tail, 0, 6))
    out.write(tail, 0, 6)
    out.write(FooterMagic, 0, 2)
    out.toByteArray
  }

  private def writeLeInt(out: java.io.ByteArrayOutputStream, v: Int): Unit = {
    out.write(v & 0xff); out.write((v >> 8) & 0xff)
    out.write((v >> 16) & 0xff); out.write((v >> 24) & 0xff)
  }

  // ------------------------------------------------- REAL LZMA encoder

  /** The LZMA range ENCODER — the arithmetic mirror of [[RangeDec]]:
    * identical probability updates (so encoder and decoder walk the
    * same model trajectory), the classic shift-low carry machinery
    * (cache + pending-0xFF run), and a 5-byte flush. Total output is
    * exactly `5 + normalizations` bytes — the same count the decoder
    * consumes, which is what makes size-known LZMA2 chunks close
    * bit-exactly (the leading byte is the zero the decoder skips).
    */
  private final class RangeEnc {
    private val out = new java.io.ByteArrayOutputStream(1 << 12)
    private var low: Long = 0L
    private var range: Long = 0xffffffffL
    private var cache: Int = 0
    private var cacheSize: Long = 1L
    private def shiftLow(): Unit = {
      if (low < 0xff000000L || (low >>> 32) != 0) {
        var temp = cache
        val carry = (low >>> 32).toInt
        var cont = true
        while (cont) {
          out.write((temp + carry) & 0xff)
          temp = 0xff
          cacheSize -= 1
          cont = cacheSize != 0
        }
        cache = ((low >>> 24) & 0xff).toInt
      }
      cacheSize += 1
      low = (low & 0x00ffffffL) << 8
    }
    def encodeBit(probs: Array[Short], i: Int, bit: Int): Unit = {
      val p = probs(i) & 0xffff
      val bound = (range >>> 11) * p
      if (bit == 0) {
        range = bound
        probs(i) = (p + ((2048 - p) >> 5)).toShort
      } else {
        low += bound
        range -= bound
        probs(i) = (p - (p >> 5)).toShort
      }
      while (range < (1L << 24)) { range <<= 8; shiftLow() }
    }
    def encodeDirect(v: Int, n: Int): Unit = {
      var k = n - 1
      while (k >= 0) {
        range >>>= 1
        if (((v >>> k) & 1) != 0) low += range
        while (range < (1L << 24)) { range <<= 8; shiftLow() }
        k -= 1
      }
    }
    def treeEncode(probs: Array[Short], nBits: Int, sym: Int): Unit = {
      var m = 1
      var k = nBits - 1
      while (k >= 0) {
        val bit = (sym >>> k) & 1
        encodeBit(probs, m, bit)
        m = (m << 1) + bit
        k -= 1
      }
    }
    def treeEncodeRevOff(probs: Array[Short], off: Int, nBits: Int, sym: Int): Unit = {
      var m = 1
      var k = 0
      while (k < nBits) {
        val bit = (sym >>> k) & 1
        encodeBit(probs, off + m, bit)
        m = (m << 1) + bit
        k += 1
      }
    }
    def flushAndGet: Array[Byte] = {
      var k = 0
      while (k < 5) { shiftLow(); k += 1 }
      out.toByteArray
    }
    def size: Int = out.size
  }

  private def lenEncode(rc: RangeEnc, ld: LenDec, posState: Int, len0: Int): Unit = {
    val len = len0 - 2
    if (len < 8) { rc.encodeBit(ld.choice, 0, 0); rc.treeEncode(ld.low(posState), 3, len) }
    else if (len < 16) {
      rc.encodeBit(ld.choice, 0, 1); rc.encodeBit(ld.choice, 1, 0)
      rc.treeEncode(ld.mid(posState), 3, len - 8)
    } else {
      rc.encodeBit(ld.choice, 0, 1); rc.encodeBit(ld.choice, 1, 1)
      rc.treeEncode(ld.high, 8, len - 16)
    }
  }

  private final val MaxMatchLen = 273

  /** Encode one span [from, until) of `data` as a single LZMA chunk
    * body (no chunk header), mutating the shared model `st`. Returns
    * the range-coded bytes.
    */
  private def lzmaEncodeSpan(data: Array[Byte], from: Int, until: Int, dictBase: Int,
      st: LzmaState, table: Array[Int], maxBack: Int, hardCap: Int): Array[Byte] = {
    val rc = new RangeEnc
    val posMask = (1 << st.pb) - 1
    val litPosMask = (1 << st.lp) - 1
    def hash4(i: Int): Int = {
      val v = ((data(i) & 0xff) << 24) | ((data(i + 1) & 0xff) << 16) |
        ((data(i + 2) & 0xff) << 8) | (data(i + 3) & 0xff)
      (v * 0x9e3779b1) >>> 16
    }
    var i = from
    while (i < until) {
      if (rc.size > hardCap) return null // expansion guard: caller falls back to raw
      // positions and history are relative to the block's dict epoch —
      // the decoder's dictionary restarts at each block
      val posState = (i - dictBase) & posMask
      // ---- candidate search: rep0 continuation + one hash candidate
      var repLen = 0
      val repDist = st.rep0 + 1
      if (i - repDist >= dictBase) {
        while (repLen < MaxMatchLen && i + repLen < until &&
          data(i + repLen - repDist) == data(i + repLen)) repLen += 1
      }
      var candLen = 0
      var candDist = 0
      if (i + 4 <= until) {
        val h = hash4(i)
        val cand = table(h)
        table(h) = i
        if (cand >= dictBase && cand < i && i - cand <= maxBack &&
          data(cand) == data(i) && data(cand + 1) == data(i + 1) &&
          data(cand + 2) == data(i + 2) && data(cand + 3) == data(i + 3)) {
          candLen = 4
          while (candLen < MaxMatchLen && i + candLen < until &&
            data(cand + candLen) == data(i + candLen)) candLen += 1
          candDist = i - cand
        }
      }
      val useRep = repLen >= 2 && (repLen + 1 >= candLen || candLen < 4)
      if (useRep) {
        // ---- rep0 match (the only rep the greedy parse emits)
        rc.encodeBit(st.isMatch, (st.state << 4) + posState, 1)
        rc.encodeBit(st.isRep, st.state, 1)
        rc.encodeBit(st.isRepG0, st.state, 0)
        rc.encodeBit(st.isRep0Long, (st.state << 4) + posState, 1)
        lenEncode(rc, st.repLenDec, posState, repLen)
        st.state = if (st.state < 7) 8 else 11
        i += repLen
      } else if (candLen >= 4) {
        // ---- new match
        rc.encodeBit(st.isMatch, (st.state << 4) + posState, 1)
        rc.encodeBit(st.isRep, st.state, 0)
        lenEncode(rc, st.lenDec, posState, candLen)
        st.rep3 = st.rep2; st.rep2 = st.rep1; st.rep1 = st.rep0
        st.rep0 = candDist - 1
        val dist = st.rep0
        val lenClass = math.min(candLen - 2, 3)
        val slot =
          if (dist < 4) dist
          else {
            val nb = 31 - Integer.numberOfLeadingZeros(dist)
            (nb << 1) | ((dist >>> (nb - 1)) & 1)
          }
        rc.treeEncode(st.posSlot(lenClass), 6, slot)
        if (slot >= 4) {
          val numDirect = (slot >> 1) - 1
          val base = (2 | (slot & 1)) << numDirect
          val rem = dist - base
          if (slot < 14) rc.treeEncodeRevOff(st.specPos, base - slot, numDirect, rem)
          else {
            rc.encodeDirect(rem >>> 4, numDirect - 4)
            rc.treeEncodeRevOff(st.align, 0, 4, rem & 15)
          }
        }
        st.state = if (st.state < 7) 7 else 10
        // index the matched span so later positions can reach into it
        var j = i + 1
        val stop = math.min(i + candLen, until - 4)
        while (j < stop) { table(hash4(j)) = j; j += 1 }
        i += candLen
      } else {
        // ---- literal
        rc.encodeBit(st.isMatch, (st.state << 4) + posState, 0)
        val prev = if (i > dictBase) data(i - 1) & 0xff else 0
        val litState = (((i - dictBase) & litPosMask) << st.lc) + (prev >> (8 - st.lc))
        val base = 0x300 * litState
        val sym = data(i) & 0xff
        if (st.state >= 7) {
          var matchByte = (if (i - st.rep0 - 1 >= dictBase) data(i - st.rep0 - 1) else 0) & 0xff
          var m = 1
          var k = 7
          var steered = true
          while (k >= 0) {
            val bit = (sym >>> k) & 1
            if (steered) {
              val matchBit = (matchByte >> 7) & 1
              matchByte = (matchByte << 1) & 0xff
              rc.encodeBit(st.literals, base + ((1 + matchBit) << 8) + m, bit)
              if (matchBit != bit) steered = false
            } else rc.encodeBit(st.literals, base + m, bit)
            m = (m << 1) + bit
            k -= 1
          }
        } else {
          var m = 1
          var k = 7
          while (k >= 0) {
            val bit = (sym >>> k) & 1
            rc.encodeBit(st.literals, base + m, bit)
            m = (m << 1) + bit
            k -= 1
          }
        }
        st.state = if (st.state < 4) 0 else if (st.state < 10) st.state - 3 else st.state - 6
        i += 1
      }
    }
    rc.flushAndGet
  }

  /** REAL xz compression — the greedy-LZMA rung (the brotli-q1
    * counterpart): one block whose LZMA2 stream carries genuinely
    * range-coded chunks from a hash-4 greedy parse (rep0 continuation
    * preferred, matched-literal coding, the full distance slot
    * machinery), with per-chunk fallback to uncompressed chunks when a
    * span expands (the reference encoder's own escape hatch — state
    * drops and the next LZMA chunk resets it, exactly the protocol the
    * decoder enforces). Props lc=3 lp=0 pb=2, 32 MB window byte,
    * CRC32 integrity check. Every stream this emits must decode both
    * here AND in tukaani (XzSpec pins both, plus the ratio win over
    * [[compressRaw]]).
    */
  /** Encode `[from, until)` as one COMPLETE LZMA2 stream — first chunk
    * dict-resets, greedy-LZMA chunks with raw fallback on expansion,
    * 0x00 end marker. Shared by the xz block writer (one call per
    * block = the per-block dict epoch) and the 7z folder writer
    * ([[SevenZip]] — LZMA2 is the same coder in both containers).
    */
  private[ext] def lzma2EncodeBody(data: Array[Byte], from: Int, until0: Int,
      out: java.io.ByteArrayOutputStream): Unit = {
    val lc = 3; val lp = 0; val pb = 2
    val props = (pb * 5 + lp) * 9 + lc
    val chunkCap = 56 * 1024
    val table = new Array[Int](1 << 16)
    java.util.Arrays.fill(table, -1)
    var st: LzmaState = null
    var dictResetDone = false
    var stateLive = false
    var off = from
    while (off < until0) {
      val until = math.min(off + chunkCap, until0)
      val stForSpan = if (stateLive) st else new LzmaState(lc, lp, pb)
      val packed = lzmaEncodeSpan(data, off, until, from, stForSpan, table,
        (1 << 25) - 273, 60 * 1024)
      val unpacked = until - off
      if (packed != null && packed.length < unpacked && packed.length <= 65536) {
        val reset =
          if (!dictResetDone) 3
          else if (!stateLive) 2 // props resend keeps the decoder honest
          else 0
        val control = 0x80 | (reset << 5) | ((unpacked - 1) >> 16)
        out.write(control)
        out.write(((unpacked - 1) >> 8) & 0xff); out.write((unpacked - 1) & 0xff)
        out.write((packed.length - 1) >> 8); out.write((packed.length - 1) & 0xff)
        if (reset >= 2) out.write(props)
        out.write(packed, 0, packed.length)
        st = stForSpan
        stateLive = true
        dictResetDone = true
      } else {
        // expansion fallback: raw chunk(s); drops the LZMA state (the
        // decoder's rule), so the next LZMA chunk resends props
        var o2 = off
        while (o2 < until) {
          val n = math.min(1 << 16, until - o2)
          out.write(if (!dictResetDone) 0x01 else 0x02)
          out.write((n - 1) >> 8); out.write((n - 1) & 0xff)
          out.write(data, o2, n)
          o2 += n
          dictResetDone = true
        }
        st = null
        stateLive = false
      }
      off = until
    }
    out.write(0x00) // LZMA2 end marker
  }

  /** Decode one complete raw LZMA2 stream occupying EXACTLY
    * `[from, until)` (end marker included) — the 7z folder shape; the
    * xz block path uses [[lzma2Decode]] directly with its own
    * end-position bookkeeping.
    */
  private[ext] def lzma2Raw(b: Array[Byte], from: Int, until: Int, maxOut: Int): Array[Byte] = {
    val out = new ExpandBuf(math.min(maxOut, 1 << 16), maxOut)
    val end = lzma2Decode(b, from, until, out)
    if (end != until) fail() // stream must consume exactly its region
    out.slice(0)
  }

  def compress(data: Array[Byte], blockSize: Int = 1 << 20): Array[Byte] = {
    if (data.isEmpty) return compressRaw(data)
    require(blockSize > 0)
    val out = new java.io.ByteArrayOutputStream(data.length / 2 + 64)
    out.write(Magic, 0, 6)
    val flags = Array[Byte](0, 0x01) // CRC32 check
    out.write(flags, 0, 2)
    writeLeInt(out, Bits.crc32(flags, 0, 2))
    var records = List.newBuilder[(Long, Long)] // (unpaddedSize, uncompressedSize)
    var blockStart = 0
    while (blockStart < data.length) {
      val blockEnd = math.min(blockStart + blockSize, data.length)
      // ---- block header (one LZMA2 filter, 32 MB dict byte, no sizes)
      val hdr = new java.io.ByteArrayOutputStream(16)
      hdr.write(0); hdr.write(0)
      Bits.writeUvarint(hdr, 0x21); Bits.writeUvarint(hdr, 1); hdr.write(26)
      while ((hdr.size + 4) % 4 != 0) hdr.write(0)
      val h = hdr.toByteArray
      h(0) = (((h.length + 4) / 4) - 1).toByte
      out.write(h, 0, h.length)
      writeLeInt(out, Bits.crc32(h, 0, h.length))
      // ---- LZMA2 chunks: fresh dict epoch per block (matches and
      // position context never cross a block boundary — each block's
      // first chunk dict-resets, mirroring the decoder's per-block
      // lzma2Decode call)
      val dataStart = out.size
      lzma2EncodeBody(data, blockStart, blockEnd, out)
      val dataLen = out.size - dataStart
      var pad = 0
      while ((h.length + 4 + dataLen + pad) % 4 != 0) { out.write(0); pad += 1 }
      writeLeInt(out, Bits.crc32(data, blockStart, blockEnd))
      records += (((h.length + 4 + dataLen).toLong + 4, (blockEnd - blockStart).toLong))
      blockStart = blockEnd
    }
    // ---- index + footer
    val recs = records.result()
    val idx = new java.io.ByteArrayOutputStream(32)
    idx.write(0x00)
    Bits.writeUvarint(idx, recs.length.toLong)
    recs.foreach { case (u, s) => Bits.writeUvarint(idx, u); Bits.writeUvarint(idx, s) }
    while ((idx.size % 4) != 0) idx.write(0)
    val ib = idx.toByteArray
    out.write(ib, 0, ib.length)
    writeLeInt(out, Bits.crc32(ib, 0, ib.length))
    val tail = new Array[Byte](6)
    val backward = (ib.length + 4) / 4 - 1
    tail(0) = (backward & 0xff).toByte
    tail(1) = ((backward >> 8) & 0xff).toByte
    tail(2) = ((backward >> 16) & 0xff).toByte
    tail(3) = ((backward >> 24) & 0xff).toByte
    tail(4) = 0; tail(5) = 0x01
    writeLeInt(out, Bits.crc32(tail, 0, 6))
    out.write(tail, 0, 6)
    out.write(FooterMagic, 0, 2)
    out.toByteArray
  }

  // --------------------------------------------------------- operators

  final case class XzStats(doc_id: Long, n_bytes: Long, checksum: Long)

  /** Per-document round trip through the REAL LZMA encoder and the full
    * decoder — the `deflate_roundtrip` oracle shape with the (-1, -1)
    * damage sentinel; compression RATIO is the engine-model half,
    * pinned in XzSpec (LZMA chunks beat raw chunks >2× on text, and
    * tukaani independently decodes every stream). Map-only.
    */
  def xzSignal(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): Dataset[XzStats] = {
    val spark = docs.sparkSession
    import spark.implicits._
    Stage.docTexts(docs, idCol, textCol).filter(col(textCol).isNotNull)
      .map { case (id, text) =>
        try {
          val data = text.getBytes(java.nio.charset.StandardCharsets.UTF_8)
          val back = decompress(compress(data), math.max(1, data.length))
          var c = 0L
          back.foreach(b => c = (c * 31 + (b & 0xff)) % 1000000007L)
          XzStats(id, back.length.toLong, c)
        } catch {
          case scala.util.control.NonFatal(_) => XzStats(id, -1L, -1L)
        }
      }
  }

  final case class XzEntry(
      archive_id: Long, rec_idx: Long, rec_doc_id: Long, n_bytes: Long, checksum: Long)

  /** Documents grouped into multistream `.xz` archives: one stream per
    * record (payload `"<doc_id>\n" + text`), concatenated with 4-byte
    * null stream padding after every other record — the multistream
    * dump convention. Mirrors [[Bzip2.encodeBz2Archives]].
    */
  def encodeXzArchives(docs: DataFrame, nArchives: Int = 16,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    Archives.assembleArchives(docs, nArchives, idCol, textCol) { (id, text) =>
      val payload = (id.toString + "\n" + text).getBytes(java.nio.charset.StandardCharsets.UTF_8)
      val stream = compress(payload) // REAL LZMA chunks per record
      if (id % 2 == 0) stream ++ Array[Byte](0, 0, 0, 0) // stream padding
      else stream
    }

  private[ext] def demuxXzArchive(aid: Long, payload: Array[Byte],
      maxRecordBytes: Int): Vector[XzEntry] = {
    val entries = Vector.newBuilder[XzEntry]
    var recIdx = 0L
    decompressStreams(payload, maxRecordBytes).foreach { content =>
      var nl = 0
      while (nl < content.length && content(nl) != '\n') nl += 1
      if (nl >= content.length) fail()
      val id = new String(content, 0, nl, java.nio.charset.StandardCharsets.UTF_8).toLong
      var c = 0L
      var i = nl + 1
      while (i < content.length) { c = (c * 31 + (content(i) & 0xff)) % 1000000007L; i += 1 }
      entries += XzEntry(aid, recIdx, id, (content.length - nl - 1).toLong, c)
      recIdx += 1L
    }
    entries.result()
  }

  /** The `.xz` ingest gate — same oracle shape and whole-archive damage
    * discipline as `bz2_extract`/`zst_extract`.
    */
  def xzExtract(archives: DataFrame, maxRecordBytes: Int = 1 << 26): Dataset[XzEntry] = {
    val spark = archives.sparkSession
    import spark.implicits._
    archives
      .select(col("archive_id").cast("long"), col("payload"))
      .as[(Long, Array[Byte])]
      .flatMap { case (aid, payload) =>
        try demuxXzArchive(aid, payload, maxRecordBytes)
        catch { case scala.util.control.NonFatal(_) => Vector.empty } // quarantine
      }
  }
}

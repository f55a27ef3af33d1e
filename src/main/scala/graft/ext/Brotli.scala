package graft.ext

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** ======== REAL brotli decoder, from scratch (RFC 7932) ========
  *
  * The web's second `Content-Encoding` and the last rung of the repo's
  * codec ladder: brotli is what crawl responses increasingly arrive in,
  * so a crawl-ingest engine that stops at gzip silently drops a growing
  * slice of the corpus. Decode side implemented in full:
  *
  *  - stream header (WBITS 10–24 variable code);
  *  - meta-block headers: ISLAST/ISLASTEMPTY, MNIBBLES, MLEN,
  *    uncompressed meta-blocks (byte-aligned raw copy), metadata
  *    meta-blocks (length-prefixed skip);
  *  - prefix codes in both serializations: SIMPLE (1/2/3/4 symbols with
  *    the tree-select bit and the RFC's partial sorting rules) and
  *    COMPLEX (code-length code under the fixed meta-code, 16/17 repeat
  *    semantics with the accumulating repeat counter, Kraft-exact space
  *    accounting at both levels);
  *  - block switching for all three categories (block-type codes with
  *    the 0="previous", 1="next" specials, block-count codes over the
  *    26-entry base/extra table);
  *  - context modeling: the four literal context modes via the 2 KiB
  *    context lookup table, context maps with run-length encoding and
  *    inverse move-to-front, distance contexts from the copy length;
  *  - insert©ies: the 704-symbol insert-and-copy code, implicit
  *    distance-0 cells, the 24-entry insert/copy base+extra tables;
  *  - distances: the 16 short codes over the last-four ring buffer
  *    (with ±1/±2/±3 arithmetic), NDIRECT direct codes, and the
  *    NPOSTFIX/hcode long-distance form; ring updates exactly per spec
  *    (never for code 0 or dictionary references);
  *  - the STATIC DICTIONARY: 122,784 bytes, 13,504 words (RFC 7932
  *    Appendix A) with all 121 word transforms (Appendix B) — identity,
  *    omit-first/last 1–9, uppercase-first/all with the multi-byte
  *    UTF-8 uppercase rules — applied to out-of-window distances.
  *
  * The three static blobs (dictionary, transforms, context LUT) are
  * PUBLIC SPEC DATA shipped as resources, extracted from libbrotli by
  * `tools/extract_brotli_tables.py`, which cross-validates every
  * transform against `BrotliTransformDictionaryWord` byte-for-byte.
  *
  * Verification is differential like the zstd codec, but via committed
  * fixtures (no JVM brotli exists on the sandbox classpath): BrotliSpec
  * decodes libbrotli-produced streams across qualities 0/1/5/9/11,
  * windows 10–24 and both modes against bit-exact regenerated inputs,
  * plus malformed-stream quarantine. The ENCODE side is deliberately
  * minimal — [[compressRaw]] emits valid uncompressed-meta-block
  * streams (any brotli decoder accepts them; the fixture generator
  * proves libbrotli does) so the oracled round-trip key and the
  * `Content-Encoding: br` crawl path have a real producer without
  * pretending we ship a competitive brotli encoder.
  *
  * No reference citation — `/root/reference/src/flinkarima.py` has no
  * compression surface; this is north-star crawl-ingest scope.
  *
  * 100 TB shape: map-only per-document decode, memory bounded by the
  * declared `maxOut` (checked as output grows, before materialization),
  * damage quarantined via [[MalformedBrotli]] like every codec here.
  */
object Brotli {

  final class MalformedBrotli extends RuntimeException("malformed brotli", null, false, false)
  private def fail(): Nothing = throw new MalformedBrotli

  // ------------------------------------------------- static spec tables

  private def resource(name: String): Array[Byte] = {
    val in = getClass.getResourceAsStream("/graft/brotli/" + name)
    if (in == null) throw new IllegalStateException(s"missing brotli resource $name")
    try {
      val out = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](8192)
      var n = in.read(buf)
      while (n >= 0) { out.write(buf, 0, n); n = in.read(buf) }
      out.toByteArray
    } finally in.close()
  }

  // dictionary.bin: [32 x u8 size_bits][32 x u32be offsets][122784 data]
  private lazy val (dictSizeBits, dictOffsets, dictData): (Array[Int], Array[Int], Array[Byte]) = {
    val b = resource("dictionary.bin")
    val sb = new Array[Int](32)
    val off = new Array[Int](32)
    var i = 0
    while (i < 32) { sb(i) = b(i) & 0xff; i += 1 }
    i = 0
    while (i < 32) {
      off(i) = ((b(32 + 4 * i) & 0xff) << 24) | ((b(33 + 4 * i) & 0xff) << 16) |
        ((b(34 + 4 * i) & 0xff) << 8) | (b(35 + 4 * i) & 0xff)
      i += 1
    }
    (sb, off, java.util.Arrays.copyOfRange(b, 160, b.length))
  }

  private lazy val contextLut: Array[Byte] = {
    val b = resource("context_lut.bin")
    if (b.length != 2048) throw new IllegalStateException("context LUT size")
    b
  }

  // transforms.bin: [u8 n][n x (u8 plen, prefix, u8 type, u8 slen, suffix)]
  private lazy val transforms: Array[(Array[Byte], Int, Array[Byte])] = {
    val b = resource("transforms.bin")
    val n = b(0) & 0xff
    val out = new Array[(Array[Byte], Int, Array[Byte])](n)
    var p = 1
    var i = 0
    while (i < n) {
      val pl = b(p) & 0xff; p += 1
      val pre = java.util.Arrays.copyOfRange(b, p, p + pl); p += pl
      val typ = b(p) & 0xff; p += 1
      val sl = b(p) & 0xff; p += 1
      val suf = java.util.Arrays.copyOfRange(b, p, p + sl); p += sl
      out(i) = (pre, typ, suf)
      i += 1
    }
    out
  }

  // ------------------------------------------------------------ bit I/O

  // RFC 7932 §1.5: values are LSB-first ([[Bits.LsbReader]]); prefix
  // codes go most significant code bit first, one `read(1)` per code
  // bit in [[Bits.PrefixCode.decode]].

  /** Byte-align; the discarded pad bits must be zero (RFC §9.1). */
  private def alignZero(br: Bits.LsbReader): Unit = if (br.alignByte() != 0) fail()

  // ----------------------------------------------------- prefix decoding

  /** The fixed meta-code for code-length code lengths (RFC §3.5):
    * symbols 0..5 with lengths 2,4,3,2,2,4.
    */
  private val MetaLens = Array(2, 4, 3, 2, 2, 4)
  private val metaCode = Bits.PrefixCode(MetaLens)

  private val ClOrder = Array(1, 2, 3, 4, 0, 5, 17, 6, 16, 7, 8, 9, 10, 11, 12, 13, 14, 15)

  /** Read one prefix code over `alphabetSize` symbols — simple or
    * complex serialization (RFC §3.4/3.5), with strict space accounting
    * at both the code-length-code and symbol level.
    */
  private def readPrefixCode(br: Bits.LsbReader, alphabetSize: Int): Bits.PrefixCode = {
    val hskip = br.read(2)
    if (hskip == 1) {
      // ---- simple code
      val nsym = br.read(2) + 1
      var abits = 0
      while ((1 << abits) < alphabetSize) abits += 1
      val syms = new Array[Int](nsym)
      var i = 0
      while (i < nsym) {
        syms(i) = br.read(abits)
        if (syms(i) >= alphabetSize) fail()
        var j = 0
        while (j < i) { if (syms(j) == syms(i)) fail(); j += 1 }
        i += 1
      }
      def sw(a: Int, b: Int): Unit =
        if (syms(a) > syms(b)) { val t = syms(a); syms(a) = syms(b); syms(b) = t }
      nsym match {
        case 1 => Bits.PrefixCode.single(syms(0))
        case 2 => sw(0, 1); Bits.PrefixCode(syms, Array(1, 1))
        case 3 => sw(1, 2); Bits.PrefixCode(syms, Array(1, 2, 2))
        case _ =>
          if (br.read(1) == 0) { // flat 2,2,2,2
            sw(0, 1); sw(2, 3); sw(0, 2); sw(1, 3); sw(1, 2)
            Bits.PrefixCode(syms, Array(2, 2, 2, 2))
          } else { // 1,2,3,3: only the two deepest sorted
            sw(2, 3)
            Bits.PrefixCode(syms, Array(1, 2, 3, 3))
          }
      }
    } else {
      // ---- complex code: code lengths for the code-length code first
      val clLens = new Array[Int](18)
      var space = 0
      var numNonZero = 0
      var i = hskip
      while (i < 18 && space < 32) {
        val v = metaCode.decode(br)
        clLens(ClOrder(i)) = v
        if (v != 0) { space += 32 >> v; numNonZero += 1 }
        i += 1
      }
      if (space > 32) fail()
      if (space < 32 && numNonZero != 1) fail()
      val clCode =
        if (numNonZero == 1) Bits.PrefixCode.single(clLens.indexWhere(_ != 0))
        else Bits.PrefixCode(clLens)
      // ---- now the symbol code lengths with 16/17 repeats
      val symLens = new Array[Int](alphabetSize)
      var space2 = 0
      var prevNonZero = 8
      var repeat = 0
      var repeatLen = -1
      var s = 0
      while (s < alphabetSize && space2 < 32768) {
        val cl = clCode.decode(br)
        if (cl < 16) {
          symLens(s) = cl
          s += 1
          if (cl != 0) { space2 += 32768 >> cl; prevNonZero = cl }
          repeat = 0
          repeatLen = -1
        } else {
          val extraBits = if (cl == 16) 2 else 3
          val newLen = if (cl == 16) prevNonZero else 0
          if (repeatLen != newLen) { repeat = 0; repeatLen = newLen }
          val old = repeat
          if (repeat > 0) repeat = (repeat - 2) << extraBits
          repeat += br.read(extraBits) + 3
          val delta = repeat - old
          if (s + delta > alphabetSize) fail()
          var k = 0
          while (k < delta) { symLens(s) = newLen; s += 1; k += 1 }
          if (newLen != 0) space2 += delta * (32768 >> newLen)
        }
      }
      if (space2 > 32768) fail()
      if (space2 < 32768) {
        // under-full is valid ONLY as a single-symbol code
        var nz = -1
        var n = 0
        var k = 0
        while (k < alphabetSize) { if (symLens(k) != 0) { nz = k; n += 1 }; k += 1 }
        if (n != 1) fail()
        Bits.PrefixCode.single(nz)
      } else Bits.PrefixCode(symLens)
    }
  }

  // ------------------------------------------------- block-switch codes

  // block count code: 26 symbols of (extra bits, base)
  private val BlkExtra = Array(2, 2, 2, 2, 3, 3, 3, 3, 4, 4, 4, 4, 5, 5, 5, 5,
    6, 6, 7, 8, 9, 10, 11, 12, 13, 24)
  private val BlkBase = Array(1, 5, 9, 13, 17, 25, 33, 41, 49, 65, 81, 97, 113, 145, 177, 209,
    241, 305, 369, 497, 753, 1265, 2289, 4337, 8433, 16625)

  /** NBLTYPES / NTREES variable code (RFC §9.2): 1, or 1+(1<<k)+extra. */
  private def readTypeCount(br: Bits.LsbReader): Int = {
    if (br.read(1) == 0) 1
    else {
      val k = br.read(3)
      if (k == 0) 2 else (1 << k) + 1 + br.read(k)
    }
  }

  private final class BlockState(val n: Int, tCode: Bits.PrefixCode, cCode: Bits.PrefixCode,
      br: Bits.LsbReader) {
    var btype = 0
    var prev = 1
    var blen: Long = if (n < 2) Long.MaxValue else readCount(br)
    private def readCount(b: Bits.LsbReader): Long = {
      val s = cCode.decode(b)
      if (s >= 26) fail()
      BlkBase(s).toLong + b.read(BlkExtra(s))
    }
    /** Consume one element; switch the block type when the count runs out. */
    def tick(b: Bits.LsbReader): Unit = {
      if (blen == 0) {
        val s = tCode.decode(b)
        val next = s match {
          case 0 => prev
          case 1 => (btype + 1) % n
          case _ => s - 2
        }
        if (next >= n) fail()
        prev = btype
        btype = next
        blen = readCount(b)
      }
      blen -= 1
    }
  }

  private def readBlockState(br: Bits.LsbReader): BlockState = {
    val n = readTypeCount(br)
    if (n >= 2) {
      val tCode = readPrefixCode(br, n + 2)
      val cCode = readPrefixCode(br, 26)
      new BlockState(n, tCode, cCode, br)
    } else new BlockState(1, null, null, br)
  }

  // ------------------------------------------------------- context maps

  private def inverseMtf(map: Array[Byte]): Unit = {
    val mtf = new Array[Int](256)
    var i = 0
    while (i < 256) { mtf(i) = i; i += 1 }
    i = 0
    while (i < map.length) {
      val idx = map(i) & 0xff
      val v = mtf(idx)
      var j = idx
      while (j > 0) { mtf(j) = mtf(j - 1); j -= 1 }
      mtf(0) = v
      map(i) = v.toByte
      i += 1
    }
  }

  private def readContextMap(br: Bits.LsbReader, size: Int, ntrees: Int): Array[Byte] = {
    val map = new Array[Byte](size)
    if (ntrees < 2) return map
    val rleMax = if (br.read(1) == 1) br.read(4) + 1 else 0
    val code = readPrefixCode(br, rleMax + ntrees)
    var i = 0
    while (i < size) {
      val s = code.decode(br)
      if (s == 0) { map(i) = 0; i += 1 }
      else if (s <= rleMax) {
        val reps = (1 << s) + br.read(s)
        if (i + reps > size) fail()
        i += reps // zeros
      } else {
        val v = s - rleMax
        if (v >= ntrees) fail()
        map(i) = v.toByte
        i += 1
      }
    }
    if (br.read(1) == 1) inverseMtf(map)
    map
  }

  // --------------------------------------------- insert/copy/dist tables

  private val InsBase = Array(0, 1, 2, 3, 4, 5, 6, 8, 10, 14, 18, 26, 34, 50, 66, 98,
    130, 194, 322, 578, 1090, 2114, 6210, 22594)
  private val InsExtra = Array(0, 0, 0, 0, 0, 0, 1, 1, 2, 2, 3, 3, 4, 4, 5, 5,
    6, 7, 8, 9, 10, 12, 14, 24)
  private val CopyBase = Array(2, 3, 4, 5, 6, 7, 8, 9, 10, 12, 14, 18, 22, 30, 38, 54,
    70, 102, 134, 198, 326, 582, 1094, 2118)
  private val CopyExtra = Array(0, 0, 0, 0, 0, 0, 0, 0, 1, 1, 2, 2, 3, 3, 4, 4,
    5, 5, 6, 7, 8, 9, 10, 24)

  // 704-symbol insert-and-copy code: cell = sym >> 6; cells 0,1 carry
  // implicit distance code 0 (reuse last distance, no ring update)
  private val CellInsStart = Array(0, 0, 0, 0, 8, 8, 0, 16, 8, 16, 16)
  private val CellCopyStart = Array(0, 8, 0, 8, 0, 8, 16, 0, 16, 8, 16)

  // ------------------------------------------------------------- decode

  /** Strict whole-stream decode; any violation of RFC 7932 throws
    * [[MalformedBrotli]] (callers quarantine). `maxOut` caps the output
    * BEFORE materialization — a decompression bomb fails, it does not
    * OOM.
    */
  def decompress(bytes: Array[Byte], maxOut: Int): Array[Byte] = {
    if (bytes == null || bytes.length == 0) fail()
    val br = new Bits.LsbReader(bytes, 0, bytes.length) { def fail(): Nothing = Brotli.fail() }
    // stream header: window bits
    val wbits =
      if (br.read(1) == 0) 16
      else {
        val n = br.read(3)
        if (n != 0) 17 + n
        else {
          val m = br.read(3)
          if (m == 0) 17
          else if (m == 1) fail() // reserved
          else 8 + m
        }
      }
    val maxBackward = (1 << wbits) - 16
    var out = new Array[Byte](math.min(maxOut.toLong, math.max(64L, 4L * bytes.length)).toInt)
    var pos = 0
    def ensure(extra: Long): Unit = {
      if (pos + extra > maxOut) fail()
      if (pos + extra > out.length) {
        var cap = out.length.toLong
        while (cap < pos + extra) cap <<= 1
        out = java.util.Arrays.copyOf(out, math.min(cap, maxOut.toLong).toInt)
      }
    }
    // distance ring buffer, most recent first (RFC 7932 §4 initializes
    // it as 16,15,11,4 listed FOURTH-to-last first: the last distance
    // starts at 4, second-to-last 11, third 15, fourth 16)
    var d1 = 4; var d2 = 11; var d3 = 15; var d4 = 16
    var isLast = false
    while (!isLast) {
      isLast = br.read(1) == 1
      if (isLast && br.read(1) == 1) {
        // ISLASTEMPTY
      } else {
        val mnibbles = br.read(2)
        if (mnibbles == 3) {
          // metadata meta-block: skipped, not part of the output
          if (isLast) fail()
          if (br.read(1) != 0) fail() // reserved
          val mskipBytes = br.read(2)
          val mskip =
            if (mskipBytes == 0) 0
            else {
              val v = br.read(8 * mskipBytes)
              if (mskipBytes > 1 && (v >> (8 * (mskipBytes - 1))) == 0) fail() // minimality
              v + 1
            }
          alignZero(br)
          br.skip(8 * mskip)
        } else {
          val nib = mnibbles + 4
          val mlenRaw = br.read(4 * nib)
          if (nib > 4 && (mlenRaw >> (4 * (nib - 1))) == 0) fail() // minimality
          val mlen = mlenRaw + 1
          val uncompressed = if (!isLast) br.read(1) == 1 else false
          if (uncompressed) {
            alignZero(br)
            val from = br.bytePos
            ensure(mlen)
            if (from + mlen > bytes.length) fail()
            System.arraycopy(bytes, from, out, pos, mlen)
            pos += mlen
            br.skip(8 * mlen)
          } else {
            // ---- compressed meta-block header
            val bsL = readBlockState(br)
            val bsI = readBlockState(br)
            val bsD = readBlockState(br)
            val npostfix = br.read(2)
            val ndirect = br.read(4) << npostfix
            val postfixMask = (1 << npostfix) - 1
            val cmodes = new Array[Int](bsL.n)
            var i = 0
            while (i < bsL.n) { cmodes(i) = br.read(2); i += 1 }
            val ntreesL = readTypeCount(br)
            val cmapL = readContextMap(br, 64 * bsL.n, ntreesL)
            val ntreesD = readTypeCount(br)
            val cmapD = readContextMap(br, 4 * bsD.n, ntreesD)
            val litCodes = new Array[Bits.PrefixCode](ntreesL)
            i = 0
            while (i < ntreesL) { litCodes(i) = readPrefixCode(br, 256); i += 1 }
            val icCodes = new Array[Bits.PrefixCode](bsI.n)
            i = 0
            while (i < bsI.n) { icCodes(i) = readPrefixCode(br, 704); i += 1 }
            val distAlphabet = 16 + ndirect + (48 << npostfix)
            val distCodes = new Array[Bits.PrefixCode](ntreesD)
            i = 0
            while (i < ntreesD) { distCodes(i) = readPrefixCode(br, distAlphabet); i += 1 }
            // ---- command loop
            var mpos = 0
            while (mpos < mlen) {
              // no-progress guard: with single-symbol (0-bit) codes and an
              // empty transformed dictionary word (omit >= word length), a
              // crafted stream could make an iteration that consumes no
              // bits and emits no bytes — an infinite loop, not just junk
              val loopBit = br.bitPos
              val loopM = mpos
              bsI.tick(br)
              val sym = icCodes(bsI.btype).decode(br)
              val cell = sym >> 6
              val insCode = CellInsStart(cell) + ((sym >> 3) & 7)
              val copyCode = CellCopyStart(cell) + (sym & 7)
              val implicitD0 = cell < 2
              val ilen = InsBase(insCode) + br.read(InsExtra(insCode))
              val clen = CopyBase(copyCode) + br.read(CopyExtra(copyCode))
              if (mpos + ilen > mlen) fail()
              ensure(ilen)
              var j = 0
              while (j < ilen) {
                bsL.tick(br)
                val p1 = if (pos > 0) out(pos - 1) & 0xff else 0
                val p2 = if (pos > 1) out(pos - 2) & 0xff else 0
                val mode = cmodes(bsL.btype)
                val ctx = (contextLut((mode << 9) + p1) & 0xff) |
                  (contextLut((mode << 9) + 256 + p2) & 0xff)
                val tree = cmapL((bsL.btype << 6) + ctx) & 0xff
                out(pos) = litCodes(tree).decode(br).toByte
                pos += 1
                j += 1
              }
              mpos += ilen
              if (mpos < mlen) {
                // ---- distance
                var dcode = 0
                var distance = 0
                if (implicitD0) distance = d1
                else {
                  bsD.tick(br)
                  val dctx = if (clen > 4) 3 else clen - 2 // copy len 2,3,4,>=5 -> 0..3
                  val tree = cmapD((bsD.btype << 2) + dctx) & 0xff
                  dcode = distCodes(tree).decode(br)
                  distance =
                    if (dcode == 0) d1
                    else if (dcode < 16) {
                      val v = dcode match {
                        case 1 => d2
                        case 2 => d3
                        case 3 => d4
                        case k if k < 10 => d1 + (if ((k & 1) == 0) -((k - 2) >> 1) else (k - 3) >> 1)
                        case k => d2 + (if ((k & 1) == 0) -((k - 8) >> 1) else (k - 9) >> 1)
                      }
                      if (v <= 0) fail()
                      v
                    } else if (dcode < 16 + ndirect) dcode - 16 + 1
                    else {
                      val x = dcode - ndirect - 16
                      val hcode = x >> npostfix
                      val lcode = x & postfixMask
                      val ndistbits = 1 + (hcode >> 1)
                      val extra = br.read(ndistbits)
                      val offset = ((2 + (hcode & 1)) << ndistbits) - 4
                      ((offset + extra) << npostfix) + lcode + ndirect + 1
                    }
                }
                val maxDist = math.min(pos.toLong, maxBackward.toLong).toInt
                if (distance <= maxDist) {
                  // backward copy (may overlap)
                  if (mpos + clen > mlen) fail()
                  ensure(clen)
                  var k = 0
                  var q = pos - distance
                  while (k < clen) { out(pos) = out(q); pos += 1; q += 1; k += 1 }
                  mpos += clen
                  if (dcode != 0) { d4 = d3; d3 = d2; d2 = d1; d1 = distance }
                } else {
                  // static dictionary reference
                  if (clen < 4 || clen > 24 || dictSizeBits(clen) == 0) fail()
                  val address = distance - maxDist - 1
                  val nbits = dictSizeBits(clen)
                  val index = address & ((1 << nbits) - 1)
                  val tid = address >> nbits
                  if (tid >= transforms.length) fail()
                  val wordOff = dictOffsets(clen) + index * clen
                  val (pre, typ, suf) = transforms(tid)
                  val word = transformWord(dictData, wordOff, clen, pre, typ, suf)
                  if (mpos + word.length > mlen) fail()
                  ensure(word.length)
                  System.arraycopy(word, 0, out, pos, word.length)
                  pos += word.length
                  mpos += word.length
                  // ring NOT updated for dictionary references
                }
              } else if (mpos > mlen) fail()
              if (mpos == loopM && br.bitPos == loopBit) fail()
            }
          }
        }
      }
    }
    alignZero(br)
    if (br.bitsLeft != 0) fail() // strict: exactly one stream
    java.util.Arrays.copyOf(out, pos)
  }

  // ------------------------------------------------ dictionary transform

  /** RFC 7932 §8: uppercase one position, returning bytes consumed —
    * ASCII flips bit 5; 2-byte UTF-8 flips bit 5 of the continuation;
    * 3-byte flips bit 0|2 of the last (validated against libbrotli by
    * the extraction script).
    */
  private def upper(b: Array[Byte], i: Int): Int = {
    val c = b(i) & 0xff
    if (c < 192) {
      if (c >= 'a' && c <= 'z') b(i) = (c ^ 32).toByte
      1
    } else if (c < 224) {
      if (i + 1 < b.length) b(i + 1) = ((b(i + 1) & 0xff) ^ 32).toByte
      2
    } else {
      if (i + 2 < b.length) b(i + 2) = ((b(i + 2) & 0xff) ^ 5).toByte
      3
    }
  }

  private def transformWord(dict: Array[Byte], off: Int, len: Int,
      pre: Array[Byte], typ: Int, suf: Array[Byte]): Array[Byte] = {
    var from = off
    var n = len
    if (typ >= 12 && typ <= 20) { // omit first 1..9
      val cut = typ - 11
      if (cut < n) { from += cut; n -= cut } else n = 0
    } else if (typ >= 1 && typ <= 9) { // omit last 1..9
      n = if (typ < n) n - typ else 0
    }
    val w = java.util.Arrays.copyOfRange(dict, from, from + n)
    if (typ == 10) { if (w.length > 0) upper(w, 0) }
    else if (typ == 11) {
      var i = 0
      while (i < w.length) i += upper(w, i)
    } else if (typ != 0 && !(typ >= 1 && typ <= 9) && !(typ >= 12 && typ <= 20)) fail()
    val out = new Array[Byte](pre.length + w.length + suf.length)
    System.arraycopy(pre, 0, out, 0, pre.length)
    System.arraycopy(w, 0, out, pre.length, w.length)
    System.arraycopy(suf, 0, out, pre.length + w.length, suf.length)
    out
  }

  // ----------------------------------------------------- minimal encode

  /** Deliberately minimal brotli ENCODER: uncompressed meta-blocks only
    * (≤ 2^24 bytes each, minimal MNIBBLES), wbits 16, empty-last
    * terminator. Every byte pattern is a valid RFC 7932 stream that any
    * decoder accepts — the fixture generator proves libbrotli decodes
    * this exact framing — which is all the oracled round-trip key and
    * the `Content-Encoding: br` writer need. The compressed-path
    * sophistication lives in the DECODER, where a crawl engine needs it.
    */
  def compressRaw(data: Array[Byte]): Array[Byte] = {
    val w = new Bits.LsbWriter(data.length + 8)
    w.put(0, 1) // WBITS = 16
    var off = 0
    while (off < data.length) {
      val chunk = math.min(1 << 24, data.length - off)
      w.put(0, 1) // ISLAST = 0
      val nib = if (chunk - 1 < (1 << 16)) 4 else if (chunk - 1 < (1 << 20)) 5 else 6
      w.put(nib - 4, 2)
      w.put(chunk - 1, 4 * nib)
      w.put(1, 1) // ISUNCOMPRESSED
      w.putBytes(data, off, off + chunk) // after zero pad bits
      off += chunk
    }
    w.put(1, 1); w.put(1, 1) // ISLAST, ISLASTEMPTY
    w.toArray
  }

  // ----------------------------------------------------- REAL encoder

  /** Kraft-exact Huffman code lengths over `freq` (used symbols only,
    * every entry > 0): [[Bits.huffmanDepths]], length-limited by the
    * flattening loop (freq = freq/2 + 1, rebuild) — ≤ 15 for symbol
    * codes, ≤ 5 for the code-length code whose lengths must fit the
    * fixed meta-code.
    */
  private[ext] def limitedLengths(freq0: Array[Long], maxLen: Int): Array[Int] = {
    var freq = freq0
    var lens = Bits.huffmanDepths(freq)
    while (lens.max > maxLen) {
      freq = freq.map(f => (f >> 1) + 1)
      lens = Bits.huffmanDepths(freq)
    }
    lens
  }

  /** Serialize one prefix code over `alphabetSize` symbols from symbol
    * frequencies, choosing the SIMPLE form for ≤ 4 used symbols and the
    * COMPLEX form (code-length code + 17-runs for zero gaps) above.
    * Returns the canonical (codeBySymbol, lenBySymbol) the decoder will
    * reconstruct — bit-for-bit the inverse of [[readPrefixCode]].
    */
  private def writePrefixCode(w: Bits.LsbWriter, alphabetSize: Int,
      freq: Array[Long]): (Array[Int], Array[Int]) = {
    var abits = 0
    while ((1 << abits) < alphabetSize) abits += 1
    val used0 = (0 until alphabetSize).filter(freq(_) > 0L).toArray
    val used = if (used0.isEmpty) Array(0) else used0
    val symLens = new Array[Int](alphabetSize) // all 0 for the 0-bit one-symbol code
    if (used.length == 1) {
      w.put(1, 2) // simple form
      w.put(0, 2) // NSYM = 1
      w.put(used(0).toLong, abits)
    } else if (used.length == 2) {
      w.put(1, 2); w.put(1, 2)
      w.put(used(0).toLong, abits); w.put(used(1).toLong, abits)
      used.foreach(symLens(_) = 1)
    } else if (used.length == 3) {
      // lengths 1,2,2 with the FIRST LISTED symbol depth 1: most frequent first
      val top = used.maxBy(s => (freq(s), -s))
      val rest = used.filter(_ != top) // ascending already
      w.put(1, 2); w.put(2, 2)
      w.put(top.toLong, abits); w.put(rest(0).toLong, abits); w.put(rest(1).toLong, abits)
      symLens(top) = 1; rest.foreach(symLens(_) = 2)
    } else if (used.length == 4) {
      w.put(1, 2); w.put(3, 2)
      used.foreach(s => w.put(s.toLong, abits))
      w.put(0, 1) // tree-select: flat 2,2,2,2
      used.foreach(symLens(_) = 2)
    } else {
      // ---- complex form
      val lensUsed = limitedLengths(used.map(freq), 15)
      var i = 0
      while (i < used.length) { symLens(used(i)) = lensUsed(i); i += 1 }
      val lastNz = used.last
      // CL stream: lengths in symbol order, zero gaps as 17-runs
      // (bijective base-8 accumulation — the decoder recurrence is
      // T_k = 8 T_{k-1} - 13 + e_k), trailing zeros omitted (the
      // decoder stops at Kraft-exact space)
      val clSyms = Array.newBuilder[Int]
      val clExtra = Array.newBuilder[Int] // -1 = no extra
      def zeroRun(z0: Int): Unit = {
        var z = z0
        if (z < 3) { var k = 0; while (k < z) { clSyms += 0; clExtra += -1; k += 1 } }
        else {
          val digits = Array.newBuilder[Int]
          while (z > 10) {
            val e = (z + 13) % 8
            digits += e
            z = (z + 13 - e) / 8
          }
          val ds = digits.result()
          clSyms += 17; clExtra += (z - 3)
          var k = ds.length - 1
          while (k >= 0) { clSyms += 17; clExtra += ds(k); k -= 1 }
        }
      }
      i = 0
      while (i <= lastNz) {
        if (symLens(i) != 0) { clSyms += symLens(i); clExtra += -1; i += 1 }
        else {
          var j = i
          while (symLens(j) == 0) j += 1 // lastNz bounds the scan
          zeroRun(j - i)
          i = j
        }
      }
      val cls = clSyms.result()
      val cle = clExtra.result()
      val clFreqMap = new Array[Long](18)
      cls.foreach(s => clFreqMap(s) += 1)
      val clUsed = (0 until 18).filter(clFreqMap(_) > 0).toArray
      val clLensUsed = limitedLengths(clUsed.map(clFreqMap), 5)
      val clLens = new Array[Int](18)
      i = 0
      while (i < clUsed.length) { clLens(clUsed(i)) = clLensUsed(i); i += 1 }
      // a single-symbol CL code decodes as 0 bits per symbol (the
      // under-full numNonZero==1 path) — emit nothing for it
      val (clCode, clLen) =
        if (clUsed.length == 1) (new Array[Int](18), new Array[Int](18))
        else (Bits.PrefixCode(clLens).codes, clLens)
      w.put(0, 2) // HSKIP = 0
      // CL lengths in ClOrder; stop exactly where the decoder stops
      var space = 0
      i = 0
      while (i < 18 && space < 32) {
        val v = clLens(ClOrder(i))
        w.putCode(metaCode.codes(v), MetaLens(v))
        if (v != 0) space += 32 >> v
        i += 1
      }
      // symbol lengths through the CL code (extras are LSB-first values)
      i = 0
      while (i < cls.length) {
        val s = cls(i)
        w.putCode(clCode(s), clLen(s))
        if (s == 17) w.put(cle(i).toLong, 3)
        i += 1
      }
    }
    (Bits.PrefixCode(symLens).codes, symLens)
  }

  // insert/copy code lookup: largest code whose base is ≤ the length
  private def lenCode(base: Array[Int], v: Int): Int = {
    var c = base.length - 1
    while (base(c) > v) c -= 1
    c
  }

  // cell for (insCode>>3, copyCode>>3) among the EXPLICIT-distance cells
  private val CellOf = Array(2, 3, 6, 4, 5, 8, 7, 9, 10)

  private final case class Cmd(insPos: Int, insLen: Int, copyLen: Int,
      dcode: Int, dbits: Int, dval: Int)

  /** REAL compressed-meta-block brotli encoder — the quality-1 rung:
    * greedy hash-4 LZ77 over the ring (single-candidate table, the
    * reference encoder's fast-path shape), one literal / one
    * insert©-length / one distance prefix code per meta-block, each
    * computed from the block's actual frequencies and serialized in
    * the simple or complex form as size dictates. Distances use code 0
    * (reuse, no ring update) when the match repeats the last distance
    * and the NPOSTFIX=0/NDIRECT=0 long form otherwise; the encoder
    * mirrors the decoder's ring exactly. No static-dictionary
    * references and no context modeling — those are the q5+/q11 rungs;
    * this one exists so `Content-Encoding: br` writer paths emit
    * genuinely COMPRESSED streams ([[compressRaw]] stays as the
    * framing-only fallback).
    */
  def compressQ1(data: Array[Byte]): Array[Byte] = {
    val w = new Bits.LsbWriter(math.max(64, data.length / 2))
    // window: smallest wbits whose window covers the input (distances
    // never exceed the data length), floored at 10, capped at 24
    var wbits = 10
    while (wbits < 24 && ((1 << wbits) - 16) < data.length) wbits += 1
    if (wbits == 16) w.put(0, 1)
    else if (wbits >= 18) { w.put(1, 1); w.put((wbits - 17).toLong, 3) }
    else if (wbits == 17) { w.put(1, 1); w.put(0, 3); w.put(0, 3) }
    else { w.put(1, 1); w.put(0, 3); w.put((wbits - 8).toLong, 3) }
    val maxBackward = (1 << wbits) - 16
    if (data.isEmpty) {
      w.put(1, 1); w.put(1, 1) // ISLAST, ISLASTEMPTY
      return w.toArray
    }
    val hashBits = 16
    val table = new Array[Int](1 << hashBits)
    java.util.Arrays.fill(table, -1)
    def hash4(i: Int): Int = {
      val v = ((data(i) & 0xff) << 24) | ((data(i + 1) & 0xff) << 16) |
        ((data(i + 2) & 0xff) << 8) | (data(i + 3) & 0xff)
      (v * 0x9e3779b1) >>> (32 - hashBits)
    }
    var d1 = 4; var d2 = 11; var d3 = 15; var d4 = 16
    val chunkMax = 1 << 22
    var off = 0
    while (off < data.length) {
      val end = math.min(off + chunkMax, data.length)
      val isLast = end == data.length
      val mlen = end - off
      // ---- greedy parse
      val cmds = scala.collection.mutable.ArrayBuffer.empty[Cmd]
      val litFreq = new Array[Long](256)
      val icFreq = new Array[Long](704)
      val dFreq = new Array[Long](64)
      var anchor = off
      var i = off
      def pushCmd(insPos: Int, insLen: Int, copyLen: Int, dist: Int): Unit = {
        var dcode = 0; var dbits = 0; var dval = 0
        if (copyLen >= 0) {
          if (dist == d1) { dcode = 0 }
          else {
            var nb = 1
            while (dist.toLong > (4L << nb) - 4) nb += 1
            val odd = (dist - 1).toLong >= (3L << nb) - 4
            val offset = ((2L + (if (odd) 1 else 0)) << nb) - 4
            dcode = 16 + 2 * (nb - 1) + (if (odd) 1 else 0)
            dbits = nb
            dval = (dist - 1 - offset).toInt
            d4 = d3; d3 = d2; d2 = d1; d1 = dist
          }
          dFreq(dcode) += 1
        }
        val insCode = lenCode(InsBase, insLen)
        val copyCode = if (copyLen >= 0) lenCode(CopyBase, copyLen) else 2 // fake clen 4, 0 extras
        val cell = CellOf((insCode >> 3) * 3 + (copyCode >> 3))
        val sym = (cell << 6) | ((insCode & 7) << 3) | (copyCode & 7)
        icFreq(sym) += 1
        var k = insPos
        while (k < insPos + insLen) { litFreq(data(k) & 0xff) += 1; k += 1 }
        cmds += Cmd(insPos, insLen, copyLen, dcode, dbits, dval)
      }
      while (i + 4 <= end) {
        val h = hash4(i)
        val cand = table(h)
        table(h) = i
        if (cand >= 0 && i - cand <= maxBackward &&
            data(cand) == data(i) && data(cand + 1) == data(i + 1) &&
            data(cand + 2) == data(i + 2) && data(cand + 3) == data(i + 3)) {
          var m = 4
          while (i + m < end && data(cand + m) == data(i + m)) m += 1
          pushCmd(anchor, i - anchor, m, i - cand)
          // index the matched span (every position keeps total work linear)
          var j = i + 1
          val stop = math.min(i + m, end - 4)
          while (j < stop) { table(hash4(j)) = j; j += 1 }
          i += m
          anchor = i
        } else i += 1
      }
      if (anchor < end || cmds.isEmpty) pushCmd(anchor, end - anchor, -1, 0)
      // ---- meta-block header
      w.put(if (isLast) 1 else 0, 1)
      if (isLast) w.put(0, 1) // not ISLASTEMPTY
      val nib = if (mlen - 1 < (1 << 16)) 4 else if (mlen - 1 < (1 << 20)) 5 else 6
      w.put((nib - 4).toLong, 2)
      w.put((mlen - 1).toLong, 4 * nib)
      if (!isLast) w.put(0, 1) // not ISUNCOMPRESSED
      w.put(0, 1); w.put(0, 1); w.put(0, 1) // NBLTYPES L/I/D = 1
      w.put(0, 2) // NPOSTFIX
      w.put(0, 4) // NDIRECT
      w.put(0, 2) // literal context mode (unused: single tree)
      w.put(0, 1) // NTREESL = 1
      w.put(0, 1) // NTREESD = 1
      val (litCode, litLen) = writePrefixCode(w, 256, litFreq)
      val (icCode, icLen) = writePrefixCode(w, 704, icFreq)
      val (dCode, dLen) = writePrefixCode(w, 64, dFreq)
      // ---- commands
      cmds.foreach { c =>
        val insCode = lenCode(InsBase, c.insLen)
        val copyCode = if (c.copyLen >= 0) lenCode(CopyBase, c.copyLen) else 2
        val cell = CellOf((insCode >> 3) * 3 + (copyCode >> 3))
        val sym = (cell << 6) | ((insCode & 7) << 3) | (copyCode & 7)
        w.putCode(icCode(sym), icLen(sym))
        w.put((c.insLen - InsBase(insCode)).toLong, InsExtra(insCode))
        if (c.copyLen >= 0) w.put((c.copyLen - CopyBase(copyCode)).toLong, CopyExtra(copyCode))
        var k = c.insPos
        while (k < c.insPos + c.insLen) {
          val b = data(k) & 0xff
          w.putCode(litCode(b), litLen(b))
          k += 1
        }
        if (c.copyLen >= 0) {
          w.putCode(dCode(c.dcode), dLen(c.dcode))
          if (c.dbits > 0) w.put(c.dval.toLong, c.dbits)
        }
      }
      off = end
    }
    w.toArray
  }

  // ------------------------------------------------------------ operator

  final case class BrotliStats(doc_id: Long, n_bytes: Long, br_len: Long, checksum: Long)

  /** Per-document round trip through the raw-framing encoder and the
    * full decoder — the `deflate_roundtrip` oracle shape: the oracle
    * replays the decoded length, the CLOSED-FORM framed length
    * (header-nibble model) and the base-31 checksum from the source
    * text; a framing or decode slip fails the hash. Map-only.
    */
  final case class BrotliQ1Stats(doc_id: Long, n_bytes: Long, checksum: Long)

  /** Per-document round trip through the REAL quality-1 encoder
    * ([[compressQ1]]) and the full decoder. The oracle replays length +
    * base-31 checksum from the source text — the compressed size is the
    * engine-model half, pinned instead by BrotliSpec (q1 must beat the
    * raw framing on compressible text; streams decode through the
    * libbrotli-differentialed decoder). Map-only, zero shuffles.
    */
  def brotliQ1Signal(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): Dataset[BrotliQ1Stats] = {
    val spark = docs.sparkSession
    import spark.implicits._
    Stage.docTexts(docs, idCol, textCol).filter(col(textCol).isNotNull)
      .map { case (id, text) =>
        try {
          val data = text.getBytes(java.nio.charset.StandardCharsets.UTF_8)
          val back = decompress(compressQ1(data), math.max(1, data.length))
          var c = 0L
          back.foreach(b => c = (c * 31 + (b & 0xff)) % 1000000007L)
          BrotliQ1Stats(id, back.length.toLong, c)
        } catch {
          case scala.util.control.NonFatal(_) => BrotliQ1Stats(id, -1L, -1L)
        }
      }
  }

  def brotliSignal(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): Dataset[BrotliStats] = {
    val spark = docs.sparkSession
    import spark.implicits._
    Stage.docTexts(docs, idCol, textCol).filter(col(textCol).isNotNull)
      .map { case (id, text) =>
        val data = text.getBytes(java.nio.charset.StandardCharsets.UTF_8)
        val comp = compressRaw(data)
        try {
          val back = decompress(comp, math.max(1, data.length))
          var c = 0L
          back.foreach(b => c = (c * 31 + (b & 0xff)) % 1000000007L)
          BrotliStats(id, back.length.toLong, comp.length.toLong, c)
        } catch {
          case scala.util.control.NonFatal(_) => BrotliStats(id, -1L, comp.length.toLong, -1L)
        }
      }
  }
}

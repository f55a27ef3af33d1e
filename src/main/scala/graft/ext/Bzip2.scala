package graft.ext

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** ======== bzip2, from scratch (the Wikipedia-dump container) ========
  *
  * The one classic corpus container the codec ladder was missing:
  * Wikipedia dumps — a canonical LLM corpus — ship as `.bz2`. There is
  * no IETF RFC; this implements the de-facto format (the bit-stream
  * written by Seward's bzip2, byte-for-byte compatible with every
  * decoder in the wild), both directions:
  *
  *   RLE1  — initial run-length: a run of 4 identical bytes is followed
  *           by one count byte (0–255 extra repeats; the writer caps at
  *           251 like the original tool).
  *   BWT   — Burrows–Wheeler transform of the RLE1'd block (≤ level ×
  *           100 000 bytes). The forward transform sorts ROTATIONS by
  *           prefix-doubling over cyclic ranks (O(n log n), packed
  *           (rank, rank, idx) Long keys — no comparator-on-strings
  *           quadratic blowup on repetitive text); ties left by a fully
  *           periodic block are broken by index, which is still a valid
  *           BWT (the inverse permutation is tie-agnostic).
  *   MTF + RLE2 — move-to-front over the block's USED byte values, with
  *           zero-runs written in bijective base 2 (RUNA/RUNB).
  *   Huffman — per-50-symbol group coding with 2–6 tables, MTF'd unary
  *           selectors, delta-coded code lengths. The writer emits
  *           nGroups=2 with two identical canonical tables (valid,
  *           simple, and within a few % of multi-table on this corpus);
  *           the reader accepts the full 2–6 table format.
  *   CRC   — per-block and combined stream CRC-32 (poly 0x04C11DB7,
  *           MSB-first, unreflected), both verified on decode.
  *
  * Damage model: any structural or entropy-stream violation throws
  * MalformedBzip2, and the extract operators quarantine the ARCHIVE —
  * the per-archive blast-radius contract the WARC/zst/zip family
  * established. Decompression bombs are capped in-loop: a block may not
  * regenerate more than the header-declared block size before BWT, and
  * RLE1 output is checked against `maxOut` as it grows, never after.
  *
  * No reference citation — `/root/reference/src/flinkarima.py` has no
  * compression path; north-star crawl-ingest scope. 100 TB shape:
  * map-only per archive, one shuffle nowhere; archives parallelize
  * embarrassingly and damage never crosses an archive boundary.
  */
object Bzip2 {

  private final class MalformedBzip2 extends RuntimeException("malformed bzip2", null, false, false)
  private def fail(): Nothing = throw new MalformedBzip2

  // bzip2's CRC-32 is `Bits.crc32MsbUpdate` (polynomial 0x04C11DB7 fed
  // MSB-first, NOT the reflected zlib crc32) with init and final-xor
  // 0xFFFFFFFF.

  // ------------------------------------------------------------ forward
  /** BWT by prefix-doubling over CYCLIC ranks: key for step k is
    * (rank(i), rank(i+k mod n)) packed with the index into one Long, so
    * each round is one primitive-array sort. Returns (last column,
    * origPtr).
    */
  private[ext] def bwt(s: Array[Byte]): (Array[Byte], Int) = {
    val n = s.length
    if (n == 0) return (Array.emptyByteArray, 0)
    if (n == 1) return (s.clone(), 0)
    var rank = new Array[Int](n)
    var i = 0
    while (i < n) { rank(i) = s(i) & 0xff; i += 1 }
    val keys = new Array[Long](n)
    var next = new Array[Int](n)
    var k = 1
    var distinct = false
    while (k < n && !distinct) {
      i = 0
      while (i < n) {
        val j = i + k; val jj = if (j >= n) j - n else j
        keys(i) = (rank(i).toLong << 41) | (rank(jj).toLong << 20) | i.toLong
        i += 1
      }
      java.util.Arrays.sort(keys)
      var r = 0
      next(keys(0).toInt & 0xfffff) = 0
      i = 1
      distinct = true
      while (i < n) {
        if ((keys(i) >>> 20) != (keys(i - 1) >>> 20)) r += 1 else distinct = false
        next(keys(i).toInt & 0xfffff) = r
        i += 1
      }
      val t = rank; rank = next; next = t
      k <<= 1
    }
    // final order: by (rank, index) — index ties only for periodic blocks
    i = 0
    while (i < n) { keys(i) = (rank(i).toLong << 20) | i.toLong; i += 1 }
    java.util.Arrays.sort(keys)
    val out = new Array[Byte](n)
    var orig = -1
    i = 0
    while (i < n) {
      val sa = (keys(i) & 0xfffff).toInt
      if (sa == 0) orig = i
      out(i) = s(if (sa == 0) n - 1 else sa - 1)
      i += 1
    }
    (out, orig)
  }

  /** Huffman code lengths for `freq` (every entry ≥ 1): the
    * [[Bits.huffmanDepths]] tree, capped at `maxLen` by the bzip2
    * flattening loop (freq = freq/2 + 1, rebuild).
    */
  private[ext] def limitedLengths(freq: Array[Int], maxLen: Int): Array[Int] = {
    var weight = freq.map(_.toLong)
    var len = Bits.huffmanDepths(weight)
    while (len.max > maxLen) {
      weight = weight.map(f => (f >> 1) + 1)
      len = Bits.huffmanDepths(weight)
    }
    len
  }

  /** One logical `.bz2` stream. `level` ∈ 1..9 selects the block size
    * (level × 100 000). The writer targets level 1 by default: at
    * 900 KB blocks the prefix-doubling sort dominates fixture time for
    * no oracle benefit, and real dump splitters feed ≤ 1 MB chunks.
    */
  def compress(data: Array[Byte], level: Int = 1): Array[Byte] = {
    require(level >= 1 && level <= 9, s"bzip2 level $level")
    val w = new Bits.MsbWriter(1 << 10)
    w.put('B', 8); w.put('Z', 8); w.put('h', 8); w.put('0' + level, 8)
    val cap = level * 100000 - 300 // RLE1 appends ≤ 260 bytes past the check
    var i = 0
    var combined = 0
    while (i < data.length) {
      // --- fill one block: RLE1 while computing the block CRC over the RAW bytes
      val buf = new java.io.ByteArrayOutputStream(math.min(data.length - i + 16, cap + 320))
      var crc = 0xffffffff
      while (i < data.length && buf.size < cap) {
        val b = data(i) & 0xff
        var run = 1
        while (i + run < data.length && run < 255 && (data(i + run) & 0xff) == b) run += 1
        var r = 0
        while (r < run) { crc = Bits.crc32MsbUpdate(crc, b); r += 1 }
        if (run >= 4) {
          buf.write(b); buf.write(b); buf.write(b); buf.write(b); buf.write(run - 4)
        } else { r = 0; while (r < run) { buf.write(b); r += 1 } }
        i += run
      }
      val blockCrc = ~crc
      combined = ((combined << 1) | (combined >>> 31)) ^ blockCrc
      encodeBlock(w, buf.toByteArray, blockCrc)
    }
    w.put(0x177245L, 24); w.put(0x385090L, 24) // stream footer magic
    w.put(combined.toLong & 0xffffffffL, 32)
    w.toArray
  }

  private def encodeBlock(w: Bits.MsbWriter, s: Array[Byte], blockCrc: Int): Unit = {
    val (last, origPtr) = bwt(s)
    // used-byte map
    val used = new Array[Boolean](256)
    last.foreach(b => used(b & 0xff) = true)
    val usedList = (0 until 256).filter(used).toArray
    val nUsed = usedList.length
    val alpha = nUsed + 2
    var i = 0
    // MTF + RLE2
    val syms = new java.util.ArrayList[Integer](last.length + 8)
    val mtf = usedList.clone()
    var runLen = 0
    def flushRun(): Unit = {
      var n = runLen
      while (n > 0) { // bijective base 2: digits 1 (RUNA) and 2 (RUNB)
        val d = (n - 1) % 2 // 0 → RUNA, 1 → RUNB
        syms.add(d)
        n = (n - d - 1) / 2
      }
      runLen = 0
    }
    i = 0
    while (i < last.length) {
      val v = last(i) & 0xff
      var j = 0
      while (mtf(j) != v) j += 1
      if (j == 0) runLen += 1
      else {
        flushRun()
        syms.add(j + 1)
        while (j > 0) { mtf(j) = mtf(j - 1); j -= 1 }
        mtf(0) = v
      }
      i += 1
    }
    flushRun()
    syms.add(alpha - 1) // EOB
    // Huffman: one length table used as both groups
    val freq = new Array[Int](alpha)
    java.util.Arrays.fill(freq, 1)
    i = 0
    while (i < syms.size) { freq(syms.get(i)) += 1; i += 1 }
    val len = limitedLengths(freq, 20)
    val code = Bits.PrefixCode(len).codes
    // --- emit
    w.put(0x314159L, 24); w.put(0x265359L, 24) // block magic
    w.put(blockCrc.toLong & 0xffffffffL, 32)
    w.put(0, 1) // not randomized (deprecated)
    w.put(origPtr.toLong, 24)
    var hi = 0
    while (hi < 16) {
      var any = false
      var j = 0
      while (j < 16) { if (used(hi * 16 + j)) any = true; j += 1 }
      w.put(if (any) 1 else 0, 1)
      hi += 1
    }
    hi = 0
    while (hi < 16) {
      var any = false
      var j = 0
      while (j < 16) { if (used(hi * 16 + j)) any = true; j += 1 }
      if (any) { j = 0; while (j < 16) { w.put(if (used(hi * 16 + j)) 1 else 0, 1); j += 1 } }
      hi += 1
    }
    val nGroups = 2
    val nSel = (syms.size + 49) / 50
    w.put(nGroups.toLong, 3)
    w.put(nSel.toLong, 15)
    i = 0
    while (i < nSel) { w.put(0, 1); i += 1 } // selector 0, MTF-stable, unary "0"
    var g = 0
    while (g < nGroups) { // two identical tables
      var cur = len(0)
      w.put(cur.toLong, 5)
      var s2 = 0
      while (s2 < alpha) {
        while (cur < len(s2)) { w.put(2, 2); cur += 1 } // "10" increment
        while (cur > len(s2)) { w.put(3, 2); cur -= 1 } // "11" decrement
        w.put(0, 1)
        s2 += 1
      }
      g += 1
    }
    i = 0
    while (i < syms.size) {
      val s3 = syms.get(i)
      w.put(code(s3).toLong, len(s3))
      i += 1
    }
  }

  // ------------------------------------------------------------ decode
  /** Decode ONE `.bz2` stream starting at byte `pos`; returns (content,
    * end byte position) so concatenated streams demux. `maxOut` caps
    * total regenerated output (checked in-loop during RLE1).
    */
  private[ext] def decodeStream(in: Array[Byte], pos: Int, maxOut: Int): (Array[Byte], Int) = {
    if (pos + 4 > in.length || in(pos) != 'B' || in(pos + 1) != 'Z' || in(pos + 2) != 'h') fail()
    val level = in(pos + 3) - '0'
    if (level < 1 || level > 9) fail()
    val blockMax = level * 100000
    val r = new Bits.MsbReader(in, pos + 4, in.length) { def fail(): Nothing = Bzip2.fail() }
    val out = new java.io.ByteArrayOutputStream(math.min(maxOut, 1 << 16))
    var combined = 0
    while (true) {
      val mHi = r.read(24); val mLo = r.read(24)
      if (mHi == 0x177245 && mLo == 0x385090) {
        if (r.read(32) != combined) fail()
        r.alignByte()
        return (out.toByteArray, r.bytePos)
      }
      if (mHi != 0x314159 || mLo != 0x265359) fail()
      val blockCrc = r.read(32)
      if (r.read(1) != 0) fail() // randomized blocks: deprecated, never written
      val origPtr = r.read(24)
      // symbol map
      val used = new Array[Boolean](256)
      val hiMap = r.read(16)
      var hi = 0
      var nUsed = 0
      while (hi < 16) {
        if ((hiMap & (0x8000 >>> hi)) != 0) {
          val lo = r.read(16)
          var j = 0
          while (j < 16) {
            if ((lo & (0x8000 >>> j)) != 0) { used(hi * 16 + j) = true; nUsed += 1 }
            j += 1
          }
        }
        hi += 1
      }
      if (nUsed == 0) fail()
      val usedList = new Array[Int](nUsed)
      var u = 0
      var b0 = 0
      while (b0 < 256) { if (used(b0)) { usedList(u) = b0; u += 1 }; b0 += 1 }
      val alpha = nUsed + 2
      val nGroups = r.read(3)
      if (nGroups < 2 || nGroups > 6) fail()
      val nSel = r.read(15)
      if (nSel < 1) fail()
      val selectors = new Array[Int](nSel)
      val selMtf = Array.tabulate(nGroups)(identity)
      var s = 0
      while (s < nSel) {
        var j = 0
        while (r.read(1) == 1) { j += 1; if (j >= nGroups) fail() }
        val v = selMtf(j)
        while (j > 0) { selMtf(j) = selMtf(j - 1); j -= 1 }
        selMtf(0) = v
        selectors(s) = v
        s += 1
      }
      val tables = Array.fill(nGroups) {
        val len = new Array[Int](alpha)
        var cur = r.read(5)
        var sym = 0
        while (sym < alpha) {
          var guard = 0
          while (r.read(1) == 1) {
            if (r.read(1) == 0) cur += 1 else cur -= 1
            guard += 1; if (guard > 40 || cur < 1 || cur > 23) fail()
          }
          if (cur < 1 || cur > 23) fail() // a start length with no delta bits
          len(sym) = cur
          sym += 1
        }
        Bits.PrefixCode(len)
      }
      // MTF + RLE2 inverse into the BWT buffer
      val bwtBuf = new Array[Byte](blockMax)
      var n = 0
      val mtf = usedList.clone()
      var runLen = 0L
      var runBit = 0
      var groupIdx = -1
      var groupLeft = 0
      var done = false
      while (!done) {
        if (groupLeft == 0) {
          groupIdx += 1
          if (groupIdx >= nSel) fail()
          groupLeft = 50
        }
        groupLeft -= 1
        val sym = tables(selectors(groupIdx)).decode(r)
        if (sym <= 1) {
          runLen += (sym + 1).toLong << runBit
          runBit += 1
          if (runLen > blockMax) fail() // zero-run bomb
        } else {
          if (runLen > 0) {
            if (n + runLen > blockMax) fail()
            java.util.Arrays.fill(bwtBuf, n, n + runLen.toInt, mtf(0).toByte)
            n += runLen.toInt
            runLen = 0; runBit = 0
          }
          if (sym == alpha - 1) done = true
          else {
            var j = sym - 1
            if (j >= nUsed) fail()
            val v = mtf(j)
            while (j > 0) { mtf(j) = mtf(j - 1); j -= 1 }
            mtf(0) = v
            if (n >= blockMax) fail()
            bwtBuf(n) = v.toByte
            n += 1
          }
        }
      }
      if (origPtr >= n) fail()
      // inverse BWT (LF-mapping walk)
      val base = new Array[Int](257)
      var i = 0
      while (i < n) { base((bwtBuf(i) & 0xff) + 1) += 1; i += 1 }
      i = 1
      while (i < 257) { base(i) += base(i - 1); i += 1 }
      val tt = new Array[Int](n)
      i = 0
      while (i < n) { val c = bwtBuf(i) & 0xff; tt(base(c)) = i; base(c) += 1; i += 1 }
      // RLE1 inverse while walking, CRC as we emit
      var crc = 0xffffffff
      var p = tt(origPtr)
      var k = 0
      var prev = -1
      var same = 0
      while (k < n) {
        val c = bwtBuf(p) & 0xff
        p = tt(p)
        k += 1
        if (same == 4) { // c is the repeat-count byte for the preceding run
          if (out.size + c > maxOut) fail()
          var z = 0
          while (z < c) { out.write(prev); crc = Bits.crc32MsbUpdate(crc, prev); z += 1 }
          same = 0; prev = -1
        } else {
          if (c == prev) same += 1 else { same = 1; prev = c }
          if (out.size + 1 > maxOut) fail()
          out.write(c); crc = Bits.crc32MsbUpdate(crc, c)
        }
      }
      if (same == 4) fail() // run announced but its count byte is missing
      if (~crc != blockCrc) fail()
      combined = ((combined << 1) | (combined >>> 31)) ^ blockCrc
    }
    null // unreachable
  }

  /** One logical stream (multi-block). Damage throws MalformedBzip2. */
  def decompress(bytes: Array[Byte], maxOut: Int): Array[Byte] = decodeStream(bytes, 0, maxOut)._1

  /** All concatenated streams of a `.bz2` file — the on-disk shape
    * produced by parallel compressors (lbzip2/pbzip2) and dump
    * splitters.
    */
  def decompressStreams(bytes: Array[Byte], maxOutPerStream: Int): Vector[Array[Byte]] = {
    val out = Vector.newBuilder[Array[Byte]]
    var p = 0
    while (p < bytes.length) {
      val (content, end) = decodeStream(bytes, p, maxOutPerStream)
      out += content
      if (end <= p) fail()
      p = end
    }
    out.result()
  }

  // --------------------------------------------------------- operators

  final case class Bz2Entry(
      archive_id: Long, rec_idx: Long, rec_doc_id: Long, n_bytes: Long, checksum: Long)

  /** Documents grouped into multi-stream `.bz2` archives: one stream
    * per record (the lbzip2 convention), payload `"<doc_id>\n" + text`.
    * Mirrors [[Zstd.encodeZstArchives]] so the two ingest families
    * share an oracle shape.
    */
  def encodeBz2Archives(docs: DataFrame, nArchives: Int = 16,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    Archives.assembleArchives(docs, nArchives, idCol, textCol) { (id, text) =>
      val payload = (id.toString + "\n" + text).getBytes(java.nio.charset.StandardCharsets.UTF_8)
      compress(payload, level = 1)
    }

  private[ext] def demuxBz2Archive(aid: Long, payload: Array[Byte],
      maxRecordBytes: Int): Vector[Bz2Entry] = {
    val entries = Vector.newBuilder[Bz2Entry]
    var p = 0
    var recIdx = 0L
    while (p < payload.length) {
      val (content, end) = decodeStream(payload, p, maxRecordBytes)
      if (end <= p) fail()
      p = end
      var nl = 0
      while (nl < content.length && content(nl) != '\n') nl += 1
      if (nl >= content.length) fail() // record without its id line
      val id = new String(content, 0, nl, java.nio.charset.StandardCharsets.UTF_8).toLong
      var c = 0L
      var i = nl + 1
      while (i < content.length) { c = (c * 31 + (content(i) & 0xff)) % 1000000007L; i += 1 }
      entries += Bz2Entry(aid, recIdx, id, (content.length - nl - 1).toLong, c)
      recIdx += 1L
    }
    entries.result()
  }

  /** The `.bz2` ingest gate: demux concatenated streams, verify every
    * block and stream CRC, and reduce each record to integers the
    * oracle recomputes from the source text. A damaged archive
    * quarantines whole (its blast radius) — identical contract to
    * [[Zstd.zstExtract]].
    */
  def bz2Extract(archives: DataFrame, maxRecordBytes: Int = 1 << 26): Dataset[Bz2Entry] = {
    val spark = archives.sparkSession
    import spark.implicits._
    archives
      .select(col("archive_id").cast("long"), col("payload"))
      .as[(Long, Array[Byte])]
      .flatMap { case (aid, payload) =>
        try demuxBz2Archive(aid, payload, maxRecordBytes)
        catch { case scala.util.control.NonFatal(_) => Vector.empty } // quarantine
      }
  }
}

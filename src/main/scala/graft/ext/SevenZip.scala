package graft.ext

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** ======== 7z container over the LZMA stack ========
  *
  * The second container the LZMA2 coder ships in: where `.xz` frames
  * one stream, `.7z` is an ARCHIVE — many entries, a property-tree
  * header, and the same LZMA2 bitstream inside each folder. Both
  * directions from scratch, COMPOSING the repo's own coder
  * ([[Xz.lzma2EncodeBody]] / [[Xz.lzma2Raw]] — the 7z rung reuses the
  * xz rung's encoder and decoder verbatim, which is exactly how the
  * real tools are built):
  *
  *  - 32-byte signature block: magic + version + CRC32 of the 20-byte
  *    start header, which locates and CRC-protects the END header.
  *  - 7z NUMBER encoding (the first-byte-mask variable u64 — a
  *    different animal from xz VLIs and Avro zigzags, all three now in
  *    house).
  *  - The property tree: PackInfo (pack sizes, optional CRCs),
  *    UnpackInfo (folders = coder chains; this reader supports the
  *    single-coder folders every per-entry-compressed archive uses,
  *    COPY and LZMA2, with coder attributes), CodersUnpackSize,
  *    optional folder CRCs, optional SubStreamsInfo (counts must be 1
  *    per folder — solid multi-file folders are out of subset and
  *    quarantine rather than misread), FilesInfo (UTF-16LE names,
  *    kEmptyStream bitfield honored, unknown properties skipped by
  *    their declared size — which is how kMTime/kAttributes from real
  *    writers pass through).
  *  - kEncodedHeader: the END HEADER itself packed in a folder (what
  *    7-Zip emits by default) — decoded with the same folder machinery
  *    then re-parsed, one level deep.
  *
  * Every unpack size is bounds-capped before allocation; folder CRCs
  * are verified when present; damage quarantines the archive whole.
  * Differential: commons-compress SevenZFile reads our archives (both
  * coders), and SevenZOutputFile's archives (LZMA2-coded, its own
  * property layout) read here through OUR LZMA2 decoder — bit-exact.
  *
  * Scale shape: map-only demux per archive. No reference citation —
  * north-star scope, the container capstone of the LZMA family.
  */
object SevenZip {

  private val Magic = Array[Byte]('7', 'z', 0xbc.toByte, 0xaf.toByte, 0x27, 0x1c)

  // ------------------------------------------------------ number coding

  private[ext] def writeNumber(out: java.io.ByteArrayOutputStream, v: Long): Unit = {
    require(v >= 0)
    var firstByte = 0
    var mask = 0x80
    var extra = 8
    var i = 0
    var break = false
    while (!break && i < 8) {
      if (v < (1L << (7 * (i + 1)))) {
        firstByte |= (v >>> (8 * i)).toInt
        extra = i
        break = true
      } else {
        firstByte |= mask
        mask >>= 1
        i += 1
      }
    }
    out.write(firstByte)
    var j = 0
    while (j < extra) { out.write(((v >>> (8 * j)) & 0xff).toInt); j += 1 }
  }

  private final class MalformedSevenZip
      extends RuntimeException("malformed 7z", null, false, false)
  private def fail(): Nothing = throw new MalformedSevenZip

  private final class Reader(val b: Array[Byte], var p: Int, val until: Int) {
    def u8(): Int = {
      if (p >= until) fail()
      val v = b(p) & 0xff
      p += 1
      v
    }
    def number(): Long = {
      val first = u8()
      var mask = 0x80
      var value = 0L
      var i = 0
      while (i < 8) {
        if ((first & mask) == 0) {
          val high = (first & (mask - 1)).toLong << (8 * i)
          var v = 0L
          var j = 0
          while (j < i) { v |= (u8().toLong & 0xff) << (8 * j); j += 1 }
          return v | high
        }
        mask >>= 1
        i += 1
      }
      var v = 0L
      var j = 0
      while (j < 8) { v |= (u8().toLong & 0xff) << (8 * j); j += 1 }
      v
    }
    def bytes(n: Int): Array[Byte] = {
      if (n < 0 || p + n > until) fail()
      val out = java.util.Arrays.copyOfRange(b, p, p + n)
      p += n
      out
    }
    def leInt(): Int = {
      if (p + 4 > until) fail() // same guard as u8()/bytes()
      val v = (b(p) & 0xff) | ((b(p + 1) & 0xff) << 8) | ((b(p + 2) & 0xff) << 16) | ((b(p + 3) & 0xff) << 24)
      p += 4
      v
    }
  }

  // ------------------------------------------------------------- writer

  /** Documents grouped into 16 `.7z` archives (id % 16, entries in id
    * order), one single-coder folder per entry — COPY on even archives,
    * LZMA2 (the repo's own encoder) on odd; folder CRCs written; names
    * `doc<id>.txt` in UTF-16LE.
    */
  def encode7zArchives(docs: DataFrame, nArchives: Int = 16,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs
      .filter(col(idCol).isNotNull && col(idCol) >= 0 && col(textCol).isNotNull)
      .select(col(idCol).cast("long"), col(textCol))
      .as[(Long, String)]
      .groupByKey(_._1 % nArchives)
      .mapGroups { (aid, it) =>
        val recs = it.toArray.sortBy(_._1)
        val lzma2 = aid % 2 == 1
        val packed = recs.map { case (id, text) =>
          val payload = (id.toString + "\n" + text).getBytes(java.nio.charset.StandardCharsets.UTF_8)
          val stream =
            if (lzma2) {
              val bos = new java.io.ByteArrayOutputStream(payload.length / 2 + 16)
              Xz.lzma2EncodeBody(payload, 0, payload.length, bos)
              bos.toByteArray
            } else payload
          (id, payload, stream)
        }
        // ---- header property tree
        val h = new java.io.ByteArrayOutputStream()
        h.write(0x01) // kHeader
        h.write(0x04) // kMainStreamsInfo
        h.write(0x06) // kPackInfo
        writeNumber(h, 0L) // packPos
        writeNumber(h, packed.length.toLong)
        h.write(0x09) // kSize
        packed.foreach { case (_, _, s) => writeNumber(h, s.length.toLong) }
        h.write(0x00) // kEnd(PackInfo)
        h.write(0x07) // kUnpackInfo
        h.write(0x0b) // kFolder
        writeNumber(h, packed.length.toLong)
        h.write(0x00) // external = 0
        packed.foreach { _ =>
          writeNumber(h, 1L) // one coder
          if (lzma2) {
            h.write(0x21) // flags: idSize 1 | hasAttrs 0x20
            h.write(0x21) // LZMA2 coder id
            writeNumber(h, 1L) // propsSize
            h.write(26) // dict-size byte (the xz writer's value)
          } else {
            h.write(0x01) // flags: idSize 1
            h.write(0x00) // COPY coder id
          }
        }
        h.write(0x0c) // kCodersUnpackSize
        packed.foreach { case (_, payload, _) => writeNumber(h, payload.length.toLong) }
        h.write(0x0a) // kCRC (folder digests)
        h.write(0x01) // all defined
        packed.foreach { case (_, payload, _) =>
          val c = Bits.crc32(payload, 0, payload.length)
          h.write(c & 0xff); h.write((c >>> 8) & 0xff); h.write((c >>> 16) & 0xff); h.write((c >>> 24) & 0xff)
        }
        h.write(0x00) // kEnd(UnpackInfo)
        h.write(0x08) // kSubStreamsInfo (defaults: one substream per folder)
        h.write(0x00) // kEnd(SubStreamsInfo)
        h.write(0x00) // kEnd(MainStreamsInfo)
        h.write(0x05) // kFilesInfo
        writeNumber(h, packed.length.toLong)
        val names = new java.io.ByteArrayOutputStream()
        names.write(0x00) // external = 0
        packed.foreach { case (id, _, _) =>
          s"doc$id.txt".foreach { ch =>
            names.write(ch.toInt & 0xff); names.write((ch.toInt >>> 8) & 0xff)
          }
          names.write(0); names.write(0) // UTF-16LE NUL
        }
        h.write(0x11) // kName
        writeNumber(h, names.size.toLong)
        names.writeTo(h)
        h.write(0x00) // kEnd(FilesInfo)
        h.write(0x00) // kEnd(Header)
        val header = h.toByteArray
        // ---- assemble: signature block + pack streams + header
        val out = new java.io.ByteArrayOutputStream()
        out.write(Magic, 0, 6)
        out.write(0); out.write(4) // version 0.4
        val packTotal = packed.map(_._3.length.toLong).sum
        val start = new java.io.ByteArrayOutputStream(20)
        def w64(v: Long): Unit = {
          var j = 0
          while (j < 8) { start.write(((v >>> (8 * j)) & 0xff).toInt); j += 1 }
        }
        w64(packTotal) // next header offset (relative to byte 32)
        w64(header.length.toLong)
        val hc = Bits.crc32(header, 0, header.length)
        start.write(hc & 0xff); start.write((hc >>> 8) & 0xff)
        start.write((hc >>> 16) & 0xff); start.write((hc >>> 24) & 0xff)
        val sb = start.toByteArray
        val sc = Bits.crc32(sb, 0, sb.length)
        out.write(sc & 0xff); out.write((sc >>> 8) & 0xff)
        out.write((sc >>> 16) & 0xff); out.write((sc >>> 24) & 0xff)
        out.write(sb, 0, sb.length)
        packed.foreach { case (_, _, s) => out.write(s, 0, s.length) }
        out.write(header, 0, header.length)
        (aid, out.toByteArray)
      }
      .toDF("archive_id", "payload")
  }

  // ------------------------------------------------------------- reader

  private final case class Folder(coderId: Long, props: Array[Byte],
      packIdx: Int, unpackSize: Long, crc: Option[Int])

  private final case class StreamsInfo(packPos: Long, packSizes: Array[Long],
      folders: Array[Folder])

  private def parseStreamsInfo(r: Reader, maxEntryBytes: Int): StreamsInfo = {
    var packPos = 0L
    var packSizes = Array.empty[Long]
    var folders = Array.empty[Folder]
    var tp = r.u8()
    while (tp != 0x00) {
      tp match {
        case 0x06 => // kPackInfo
          packPos = r.number()
          val nPack = r.number()
          if (nPack < 0 || nPack > (1 << 20)) fail()
          var t2 = r.u8()
          while (t2 != 0x00) {
            t2 match {
              case 0x09 =>
                packSizes = Array.fill(nPack.toInt)(r.number())
              case 0x0a => // pack CRCs: skip
                skipDigests(r, nPack.toInt)
              case _ => fail()
            }
            t2 = r.u8()
          }
        case 0x07 => // kUnpackInfo: kFolder, kCodersUnpackSize, [kCRC], kEnd
          var t2 = r.u8()
          while (t2 != 0x00) {
            t2 match {
              case 0x0b => // kFolder
                val nFolders = r.number()
                if (nFolders < 0 || nFolders > (1 << 20)) fail()
                if (r.u8() != 0x00) fail() // external folders unsupported
                folders = new Array[Folder](nFolders.toInt)
                var i = 0
                while (i < nFolders.toInt) {
                  val nCoders = r.number()
                  if (nCoders != 1L) fail() // multi-coder chains out of subset
                  val flags = r.u8()
                  val idSize = flags & 0x0f
                  if ((flags & 0x10) != 0) fail() // complex coders out of subset
                  var coderId = 0L
                  var j = 0
                  while (j < idSize) { coderId = (coderId << 8) | r.u8(); j += 1 }
                  val props =
                    if ((flags & 0x20) != 0) {
                      val n = r.number()
                      if (n < 0 || n > 64) fail()
                      r.bytes(n.toInt)
                    } else Array.empty[Byte]
                  folders(i) = Folder(coderId, props, i, 0L, None)
                  i += 1
                }
              case 0x0c => // kCodersUnpackSize (per out-stream = per folder here)
                var i = 0
                while (i < folders.length) {
                  val sz = r.number()
                  if (sz < 0 || sz > maxEntryBytes) fail()
                  folders(i) = folders(i).copy(unpackSize = sz)
                  i += 1
                }
              case 0x0a => // folder CRCs
                val defined = readBitsAllDefined(r, folders.length)
                var k = 0
                while (k < folders.length) {
                  if (defined(k)) folders(k) = folders(k).copy(crc = Some(r.leInt()))
                  k += 1
                }
              case _ => fail()
            }
            t2 = r.u8()
          }
        case 0x08 => // kSubStreamsInfo
          var t2 = r.u8()
          while (t2 != 0x00) {
            t2 match {
              case 0x0d => // kNumUnpackStream: must be 1 per folder
                var i = 0
                while (i < folders.length) { if (r.number() != 1L) fail(); i += 1 }
              case 0x0a => // substream digests (some may be undefined)
                // digests for streams with unknown CRC: count = folders
                // lacking a folder CRC (one substream each)
                val need = folders.count(_.crc.isEmpty)
                val defined = readBitsAllDefined(r, need)
                var k = 0
                var fi = 0
                while (fi < folders.length) {
                  if (folders(fi).crc.isEmpty) {
                    if (defined(k)) folders(fi) = folders(fi).copy(crc = Some(r.leInt()))
                    k += 1
                  }
                  fi += 1
                }
              case 0x09 => fail() // substream sizes: >1 per folder only
              case _ => fail()
            }
            t2 = r.u8()
          }
        case _ => fail()
      }
      tp = r.u8()
    }
    if (packSizes.length != folders.length) fail() // one pack stream per folder
    StreamsInfo(packPos, packSizes, folders)
  }

  private def skipDigests(r: Reader, n: Int): Unit = {
    val defined = readBitsAllDefined(r, n)
    var i = 0
    while (i < n) { if (defined(i)) r.leInt(); i += 1 }
  }

  private def readBitsAllDefined(r: Reader, n: Int): Array[Boolean] = {
    val all = r.u8()
    if (all != 0) Array.fill(n)(true)
    else {
      val out = new Array[Boolean](n)
      var i = 0
      var cur = 0
      var mask = 0
      while (i < n) {
        if (mask == 0) { cur = r.u8(); mask = 0x80 }
        out(i) = (cur & mask) != 0
        mask >>= 1
        i += 1
      }
      out
    }
  }

  private def decodeFolder(payload: Array[Byte], base: Long, si: StreamsInfo,
      idx: Int, maxEntryBytes: Int): Array[Byte] = {
    var off = base + si.packPos
    var i = 0
    while (i < idx) { off += si.packSizes(i); i += 1 }
    val f = si.folders(idx)
    val size = si.packSizes(idx)
    if (off < 0 || size < 0 || off + size > payload.length) fail()
    val from = off.toInt
    val until = from + size.toInt
    val out = f.coderId match {
      case 0x00 => // COPY
        if (size != f.unpackSize) fail()
        java.util.Arrays.copyOfRange(payload, from, until)
      case 0x21 => // LZMA2
        Xz.lzma2Raw(payload, from, until, maxEntryBytes)
      case _ => fail() // coder out of subset
    }
    if (out.length.toLong != f.unpackSize) fail()
    f.crc.foreach { c => if (Bits.crc32(out, 0, out.length) != c) fail() }
    out
  }

  final case class SevenZEntry(
      archive_id: Long, rec_idx: Long, rec_doc_id: Long, n_bytes: Long, checksum: Long)

  private[ext] def demux(aid: Long, payload: Array[Byte], maxEntryBytes: Int): Vector[SevenZEntry] = {
    if (payload.length < 32) fail()
    var i = 0
    while (i < 6) { if (payload(i) != Magic(i)) fail(); i += 1 }
    val sig = new Reader(payload, 8, payload.length)
    val startCrc = sig.leInt()
    if (Bits.crc32(payload, 12, 32) != startCrc) fail()
    val r0 = new Reader(payload, 12, 32)
    var nextOffset = 0L
    var nextSize = 0L
    locally {
      var v = 0L; var j = 0
      while (j < 8) { v |= (r0.u8().toLong & 0xff) << (8 * j); j += 1 }
      nextOffset = v
      v = 0L; j = 0
      while (j < 8) { v |= (r0.u8().toLong & 0xff) << (8 * j); j += 1 }
      nextSize = v
    }
    val nextCrc = r0.leInt()
    val hdrStart = 32L + nextOffset
    if (nextSize < 0 || nextSize > (1 << 26) || hdrStart < 32 ||
      hdrStart + nextSize > payload.length) fail()
    if (Bits.crc32(payload, hdrStart.toInt, (hdrStart + nextSize).toInt) != nextCrc) fail()

    // the end header: raw kHeader, or kEncodedHeader -> decode + re-parse
    var hdr = java.util.Arrays.copyOfRange(payload, hdrStart.toInt, (hdrStart + nextSize).toInt)
    var r = new Reader(hdr, 0, hdr.length)
    var tp = r.u8()
    if (tp == 0x17) { // kEncodedHeader
      val si = parseStreamsInfo(r, 1 << 26)
      if (si.folders.length != 1) fail()
      hdr = decodeFolder(payload, 32L, si, 0, 1 << 26)
      r = new Reader(hdr, 0, hdr.length)
      tp = r.u8()
    }
    if (tp != 0x01) fail() // kHeader
    var main: StreamsInfo = null
    var numFiles = 0
    var names: Array[String] = Array.empty
    var emptyStream: Array[Boolean] = Array.empty
    var t2 = r.u8()
    while (t2 != 0x00) {
      t2 match {
        case 0x04 => // kMainStreamsInfo
          main = parseStreamsInfo(r, maxEntryBytes)
        case 0x05 => // kFilesInfo
          val nf = r.number()
          if (nf < 0 || nf > (1 << 20)) fail()
          numFiles = nf.toInt
          emptyStream = new Array[Boolean](numFiles)
          var pt = r.number()
          while (pt != 0x00) {
            val size = r.number()
            if (size < 0 || size > (1 << 26)) fail()
            val end = r.p + size.toInt
            if (end > r.until) fail()
            pt match {
              case 0x0e => // kEmptyStream bit vector (no all-defined byte)
                var i2 = 0
                var cur = 0
                var mask = 0
                while (i2 < numFiles) {
                  if (mask == 0) { cur = r.u8(); mask = 0x80 }
                  emptyStream(i2) = (cur & mask) != 0
                  mask >>= 1
                  i2 += 1
                }
              case 0x11 => // kName
                if (r.u8() != 0x00) fail() // external names unsupported
                val nb = Seq.newBuilder[String]
                val sbuf = new StringBuilder
                while (r.p < end) {
                  val lo = r.u8(); val hi = r.u8()
                  val ch = (lo | (hi << 8)).toChar
                  if (ch == '\u0000') { nb += sbuf.toString; sbuf.setLength(0) }
                  else sbuf.append(ch)
                }
                names = nb.result().toArray
              case _ => () // kMTime, kAttributes, ...: skip by size
            }
            r.p = end
            pt = r.number()
          }
        case _ => fail()
      }
      t2 = r.u8()
    }
    if (main == null) fail()
    if (names.nonEmpty && names.length != numFiles) fail()
    // map non-empty files to folders in order
    val entries = Vector.newBuilder[SevenZEntry]
    var fi = 0
    var folderIdx = 0
    var recIdx = 0L
    while (fi < numFiles) {
      if (!emptyStream(fi)) {
        if (folderIdx >= main.folders.length) fail()
        val content = decodeFolder(payload, 32L, main, folderIdx, maxEntryBytes)
        var nl = 0
        while (nl < content.length && content(nl) != '\n') nl += 1
        if (nl >= content.length) fail()
        val id = new String(content, 0, nl, java.nio.charset.StandardCharsets.UTF_8).toLong
        var c = 0L
        var k = nl + 1
        while (k < content.length) { c = (c * 31 + (content(k) & 0xff)) % 1000000007L; k += 1 }
        entries += SevenZEntry(aid, recIdx, id, (content.length - nl - 1).toLong, c)
        recIdx += 1L
        folderIdx += 1
      }
      fi += 1
    }
    if (folderIdx != main.folders.length) fail() // every folder consumed
    entries.result()
  }

  /** The ingest gate: archives → per-entry rows; damage quarantines
    * whole.
    */
  def sevenZExtract(archives: DataFrame, maxEntryBytes: Int = 1 << 26): Dataset[SevenZEntry] = {
    val spark = archives.sparkSession
    import spark.implicits._
    archives
      .select(col("archive_id").cast("long"), col("payload"))
      .as[(Long, Array[Byte])]
      .flatMap { case (aid, payload) =>
        try demux(aid, payload, maxEntryBytes)
        catch { case scala.util.control.NonFatal(_) => Vector.empty } // quarantine
      }
  }
}

package graft.ext

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** ======== REAL container codec: ZIP (PKWARE APPNOTE) ========
  *
  * Training corpora routinely arrive as ZIP bundles (Common Crawl
  * derivatives, dataset dumps, scraped site mirrors), so the engine
  * carries a from-scratch ZIP reader: EOCD back-scan, central-directory
  * walk, local-file-header cross-check, stored + DEFLATE entry decode
  * (the from-scratch inflate in [[Multimodal]]), CRC-32 and size
  * verification per entry. The writer exists to put every structural
  * variation under the oracled path — it is NOT the production
  * direction (archives arrive pre-built from the blob store): entries
  * cycle stored / fixed-Huffman / dynamic-Huffman methods, some carry
  * the bit-3 data-descriptor profile (sizes deferred past the data, with
  * and without the optional PK\x07\x08 signature), some carry extra
  * fields the reader must skip by length, and the EOCD carries a
  * variable-length archive comment so the back-scan is real.
  *
  * Scale shape: one archive = one row; decode is a map-only flatMap
  * (zero shuffles). Damage anywhere in an archive drops THAT archive
  * only — the established malformed-drop convention.
  *
  * No reference citation — `/root/reference/src/flinkarima.py` has no
  * container path; north-star crawl-ingestion scope.
  */
object Zip {

  private final class MalformedZip extends RuntimeException("malformed zip", null, false, false)

  private def utf8(s: String): Array[Byte] = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)

  // ------------------------------------------------------------- writer

  private def w16(out: java.io.ByteArrayOutputStream, v: Int): Unit = {
    out.write(v & 0xff); out.write((v >> 8) & 0xff)
  }
  private def w32(out: java.io.ByteArrayOutputStream, v: Long): Unit = {
    out.write((v & 0xff).toInt); out.write(((v >> 8) & 0xff).toInt)
    out.write(((v >> 16) & 0xff).toInt); out.write(((v >> 24) & 0xff).toInt)
  }

  /** Pack documents into `nArchives` ZIP archives (doc order by id inside
    * each). Per entry, keyed off the doc id so the corpus exercises every
    * reader path: method 0/8-fixed/8-dynamic cycles with `id % 3`; ids
    * `% 5 == 0` use the bit-3 data-descriptor profile (LFH sizes zero,
    * descriptor after the data — WITH the PK78 signature for `% 10 == 0`,
    * signatureless for `% 10 == 5`, both legal per APPNOTE 4.3.9); ids
    * `% 4 == 1` carry a 6-byte extra field the reader must skip.
    */
  def encodeZipArchives(docs: DataFrame, nArchives: Int = 16,
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
        val out = new java.io.ByteArrayOutputStream()
        // (name, method, flags, crc, csize, usize, extraLen, lfhOffset)
        val cd = Array.newBuilder[(Array[Byte], Int, Int, Long, Int, Int, Int, Int)]
        recs.foreach { case (id, text) =>
          val data = utf8(text)
          val crc = Bits.crc32(data, 0, data.length) & 0xffffffffL
          val method = if (id % 3 == 0) 0 else 8
          val comp = (id % 3) match {
            case 0 => data
            case 1 => Multimodal.deflateFixed(data)
            case _ => Multimodal.deflateDynamic(data)
          }
          val descriptor = id % 5 == 0
          val flags = if (descriptor) 0x08 else 0
          val name = utf8(s"d$id.txt")
          val extra: Array[Byte] =
            if (id % 4 == 1) Array[Byte]('G', 'R', 2, 0, (id % 256).toByte, ((id / 256) % 256).toByte)
            else Array.emptyByteArray
          val lfhOffset = out.size()
          w32(out, 0x04034b50L); w16(out, 20); w16(out, flags); w16(out, method)
          w16(out, 0); w16(out, 0x21) // MS-DOS time 0, date 1980-01-01
          if (descriptor) { w32(out, 0); w32(out, 0); w32(out, 0) }
          else { w32(out, crc); w32(out, comp.length.toLong); w32(out, data.length.toLong) }
          w16(out, name.length); w16(out, extra.length)
          out.write(name); out.write(extra); out.write(comp)
          if (descriptor) {
            if (id % 10 == 0) w32(out, 0x08074b50L) // optional descriptor signature
            w32(out, crc); w32(out, comp.length.toLong); w32(out, data.length.toLong)
          }
          cd += ((name, method, flags, crc, comp.length, data.length, extra.length, lfhOffset))
        }
        val cdOffset = out.size()
        val entries = cd.result()
        entries.foreach { case (name, method, flags, crc, csize, usize, _, lfhOffset) =>
          w32(out, 0x02014b50L); w16(out, 20); w16(out, 20); w16(out, flags); w16(out, method)
          w16(out, 0); w16(out, 0x21)
          w32(out, crc); w32(out, csize.toLong); w32(out, usize.toLong)
          w16(out, name.length); w16(out, 0); w16(out, 0) // no extra/comment in CD
          w16(out, 0); w16(out, 0); w32(out, 0)           // disk, int attrs, ext attrs
          w32(out, lfhOffset.toLong)
          out.write(name)
        }
        val cdSize = out.size() - cdOffset
        val comment = utf8(s"graft archive $aid")
        w32(out, 0x06054b50L); w16(out, 0); w16(out, 0)
        w16(out, entries.length); w16(out, entries.length)
        w32(out, cdSize.toLong); w32(out, cdOffset.toLong)
        w16(out, comment.length); out.write(comment)
        (aid, out.toByteArray)
      }
      .toDF("archive_id", "payload")
  }

  /** Generic single-archive builder (plain profile: no descriptors, no
    * extra fields) for container formats layered ON zip — OCF/EPUB needs
    * exact control of entry names, order and methods (`mimetype` must be
    * FIRST and STORED). `method` per entry: 0 stored, 8 deflate (the
    * repo's own dynamic-Huffman coder).
    */
  private[ext] def buildZip(entries: Seq[(String, Array[Byte], Int)]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    val cd = Array.newBuilder[(Array[Byte], Int, Long, Int, Int, Int)]
    entries.foreach { case (nameS, data, method) =>
      val name = utf8(nameS)
      val crc = Bits.crc32(data, 0, data.length) & 0xffffffffL
      val comp = method match {
        case 0 => data
        case 8 => Multimodal.deflateDynamic(data)
        case _ => throw new MalformedZip
      }
      val lfhOffset = out.size()
      w32(out, 0x04034b50L); w16(out, 20); w16(out, 0); w16(out, method)
      w16(out, 0); w16(out, 0x21)
      w32(out, crc); w32(out, comp.length.toLong); w32(out, data.length.toLong)
      w16(out, name.length); w16(out, 0)
      out.write(name); out.write(comp)
      cd += ((name, method, crc, comp.length, data.length, lfhOffset))
    }
    val cdOffset = out.size()
    val built = cd.result()
    built.foreach { case (name, method, crc, csize, usize, lfhOffset) =>
      w32(out, 0x02014b50L); w16(out, 20); w16(out, 20); w16(out, 0); w16(out, method)
      w16(out, 0); w16(out, 0x21)
      w32(out, crc); w32(out, csize.toLong); w32(out, usize.toLong)
      w16(out, name.length); w16(out, 0); w16(out, 0)
      w16(out, 0); w16(out, 0); w32(out, 0)
      w32(out, lfhOffset.toLong)
      out.write(name)
    }
    val cdSize = out.size() - cdOffset
    w32(out, 0x06054b50L); w16(out, 0); w16(out, 0)
    w16(out, built.length); w16(out, built.length)
    w32(out, cdSize.toLong); w32(out, cdOffset.toLong)
    w16(out, 0)
    out.toByteArray
  }

  // ------------------------------------------------------------- reader

  private def u16(b: Array[Byte], p: Int): Int = {
    if (p < 0 || p + 2 > b.length) throw new MalformedZip
    (b(p) & 0xff) | ((b(p + 1) & 0xff) << 8)
  }
  private def u32(b: Array[Byte], p: Int): Long = {
    if (p < 0 || p + 4 > b.length) throw new MalformedZip
    (b(p) & 0xffL) | ((b(p + 1) & 0xffL) << 8) | ((b(p + 2) & 0xffL) << 16) | ((b(p + 3) & 0xffL) << 24)
  }
  private def u64(b: Array[Byte], p: Int): Long = {
    val v = u32(b, p) | (u32(b, p + 4) << 32)
    if (v < 0) throw new MalformedZip // 2^63+ offsets: hostile
    v
  }

  /** Resolve one value out of an extra-field ZIP64 block (header 0x0001):
    * the block carries 8-byte values ONLY for the fixed fields that were
    * saturated to 0xFFFFFFFF, in the fixed order usize, csize, lfhOffset.
    * `slot` = how many saturated fields PRECEDE the requested one.
    */
  private def zip64Field(b: Array[Byte], extraFrom: Int, extraLen: Int, slot: Int): Long = {
    var p = extraFrom
    val end = extraFrom + extraLen
    while (p + 4 <= end) {
      val id = u16(b, p)
      val len = u16(b, p + 2)
      if (p + 4 + len > end) throw new MalformedZip
      if (id == 0x0001) {
        if (8 * (slot + 1) > len) throw new MalformedZip
        return u64(b, p + 4 + 8 * slot)
      }
      p += 4 + len
    }
    throw new MalformedZip // saturated field with no ZIP64 extra block
  }

  /** Locate the end-of-central-directory record by scanning backwards
    * from EOF over the (0..65535-byte) archive comment — the only
    * correct way to open a ZIP, since the comment length is only stored
    * INSIDE the record it trails.
    */
  private def findEocd(b: Array[Byte]): Int = {
    val min = math.max(0, b.length - 22 - 65535)
    var p = b.length - 22
    while (p >= min) {
      if (u32(b, p) == 0x06054b50L && p + 22 + u16(b, p + 20) == b.length) return p
      p -= 1
    }
    throw new MalformedZip
  }

  final case class ZipEntry(
      archive_id: Long, rec_idx: Long, rec_doc_id: Long, n_bytes: Long, checksum: Long)

  private def rollingChecksum(data: Array[Byte]): Long = {
    var c = 0L
    var i = 0
    while (i < data.length) { c = (c * 31 + (data(i) & 0xff)) % 1000000007L; i += 1 }
    c
  }

  /** Parse one archive strictly: EOCD -> central directory -> per entry
    * LFH cross-check (signature, name equality with the CD — a mismatch
    * means the offsets are lying) -> decode by method -> CRC-32 + size
    * verification (descriptor profile verified against the CD copy).
    * Any violation throws and the whole archive is dropped by the
    * caller.
    */
  private[ext] def parseArchive(aid: Long, b: Array[Byte], maxEntryBytes: Int): Seq[ZipEntry] = {
    parseArchiveFiles(b, maxEntryBytes).zipWithIndex.map { case ((name, data, _), idx) =>
      val docId = name match {
        case s if s.startsWith("d") && s.endsWith(".txt") =>
          try s.substring(1, s.length - 4).toLong
          catch { case _: NumberFormatException => throw new MalformedZip }
        case _ => throw new MalformedZip
      }
      ZipEntry(aid, idx.toLong, docId, data.length.toLong, rollingChecksum(data))
    }
  }

  /** The generic strict walk [[parseArchive]] rides: EOCD → central
    * directory → per entry LFH cross-check → decode → CRC-32 + size
    * verification. Returns `(name, data, method)` in central-directory
    * order — the unit other container formats built ON ZIP (OCF/EPUB,
    * office documents, JARs) consume. Any violation throws.
    */
  private[ext] def parseArchiveFiles(b: Array[Byte],
      maxEntryBytes: Int): Seq[(String, Array[Byte], Int)] =
    parseArchiveFilesWithOffsets(b, maxEntryBytes).map(e => (e._1, e._2, e._3))

  /** [[parseArchiveFiles]] plus each entry's local-file-header offset as the
    * 4th element. CD order need not match physical (LFH) order, and some
    * container rules are about PHYSICAL layout — OCF 3.0 §3.3 requires the
    * `mimetype` entry to be the physically FIRST file (lfhOffset == 0), so
    * [[Epub]]/[[Docx]]-style consumers check the offset, not CD position.
    */
  private[ext] def parseArchiveFilesWithOffsets(b: Array[Byte],
      maxEntryBytes: Int): Seq[(String, Array[Byte], Int, Long)] = {
    val eocd = findEocd(b)
    var nEntries: Long = u16(b, eocd + 10)
    if (u16(b, eocd + 8).toLong != nEntries || u16(b, eocd + 4) != 0 || u16(b, eocd + 6) != 0)
      throw new MalformedZip // single-disk archives only
    var cdSize = u32(b, eocd + 12)
    var cdOffset = u32(b, eocd + 16)
    var cdEnd = eocd.toLong
    if (nEntries == 0xffffL || cdSize == 0xffffffffL || cdOffset == 0xffffffffL) {
      // ZIP64 (APPNOTE 4.3.14/4.3.15): a saturated EOCD field means the
      // real figures live in the ZIP64 EOCD record, reached through the
      // 20-byte locator that sits immediately before the classic EOCD —
      // the format every >4 GiB / >65535-entry archive on a real corpus
      // store uses, so the walker must speak it even though fixtures are
      // small (the spec forces the structures onto small archives)
      val loc = eocd - 20
      if (loc < 0 || u32(b, loc) != 0x07064b50L) throw new MalformedZip
      if (u32(b, loc + 4) != 0 || u32(b, loc + 16) != 1) throw new MalformedZip // one disk
      val e64 = u64(b, loc + 8)
      // subtraction form: `e64 + 56` can wrap for a hostile offset near
      // Long.MaxValue, silently passing the addition-form guard
      if (e64 > loc.toLong - 56) throw new MalformedZip
      val z = e64.toInt
      if (u32(b, z) != 0x06064b50L) throw new MalformedZip
      if (u32(b, z + 16) != 0 || u32(b, z + 20) != 0) throw new MalformedZip // disks
      nEntries = u64(b, z + 24)
      if (u64(b, z + 32) != nEntries) throw new MalformedZip
      cdSize = u64(b, z + 40)
      cdOffset = u64(b, z + 48)
      cdEnd = e64
    }
    if (nEntries > (1L << 20)) throw new MalformedZip // entry-count bomb
    if (cdOffset + cdSize != cdEnd) throw new MalformedZip
    val entries = Array.newBuilder[(String, Array[Byte], Int, Long)]
    var p = cdOffset.toInt
    var idx = 0L
    while (idx < nEntries) {
      if (u32(b, p) != 0x02014b50L) throw new MalformedZip
      val flags = u16(b, p + 8)
      val method = u16(b, p + 10)
      val crc = u32(b, p + 16)
      var csize = u32(b, p + 20)
      var usize = u32(b, p + 24)
      val nameLen = u16(b, p + 28)
      val extraLen = u16(b, p + 30)
      val commentLen = u16(b, p + 32)
      var lfhL = u32(b, p + 42)
      if (p + 46 + nameLen + extraLen > b.length) throw new MalformedZip
      val name = new String(b, p + 46, nameLen, java.nio.charset.StandardCharsets.UTF_8)
      // per-entry ZIP64: saturated fixed fields resolve out of the 0x0001
      // extra block, 8-byte values in fixed order for the saturated ones
      val extraFrom = p + 46 + nameLen
      var slot = 0
      if (usize == 0xffffffffL) { usize = zip64Field(b, extraFrom, extraLen, slot); slot += 1 }
      if (csize == 0xffffffffL) { csize = zip64Field(b, extraFrom, extraLen, slot); slot += 1 }
      if (lfhL == 0xffffffffL) { lfhL = zip64Field(b, extraFrom, extraLen, slot); slot += 1 }
      if (lfhL < 0 || lfhL >= b.length) throw new MalformedZip
      val lfh = lfhL.toInt
      if (csize > maxEntryBytes || usize > maxEntryBytes) throw new MalformedZip
      // LFH cross-check
      if (u32(b, lfh) != 0x04034b50L) throw new MalformedZip
      if (u16(b, lfh + 6) != flags || u16(b, lfh + 8) != method) throw new MalformedZip
      val lfhNameLen = u16(b, lfh + 26)
      val lfhExtraLen = u16(b, lfh + 28)
      if (lfhNameLen != nameLen) throw new MalformedZip
      var q = lfh + 30
      if (q + nameLen > b.length) throw new MalformedZip
      var i = 0
      while (i < nameLen) { if (b(q + i) != b(p + 46 + i)) throw new MalformedZip; i += 1 }
      if ((flags & 0x08) == 0) {
        // sizes present in the LFH must agree with the CD; a ZIP64 LFH
        // saturates both and carries them in ITS 0x0001 block (usize
        // then csize, both mandatory there per APPNOTE 4.5.3)
        if (u32(b, lfh + 14) != crc) throw new MalformedZip
        var lcs = u32(b, lfh + 18)
        var lus = u32(b, lfh + 22)
        if (lcs == 0xffffffffL || lus == 0xffffffffL) {
          val lext = lfh + 30 + nameLen
          lus = zip64Field(b, lext, lfhExtraLen, 0)
          lcs = zip64Field(b, lext, lfhExtraLen, 1)
        }
        if (lcs != csize || lus != usize) throw new MalformedZip
      } else {
        if (u32(b, lfh + 14) != 0 || u32(b, lfh + 18) != 0 || u32(b, lfh + 22) != 0)
          throw new MalformedZip
      }
      val dataStart = q + nameLen + lfhExtraLen
      val dataEnd = dataStart + csize.toInt
      if (dataEnd > b.length) throw new MalformedZip
      val data: Array[Byte] = method match {
        case 0 =>
          if (csize != usize) throw new MalformedZip
          java.util.Arrays.copyOfRange(b, dataStart, dataEnd)
        case 8 =>
          // the CD's usize is the exact output size — pass it as the hint
          // so the decoder allocates once at that size, not at the 64 MB
          // cap (an unhinted cap-sized buffer is zeroed PER ENTRY, which
          // turned a linear decode into an allocation storm at sf0.1)
          Multimodal.inflateWithEnd(b, dataStart, dataEnd, maxEntryBytes,
            sizeHint = usize.toInt)._1
        case _ => throw new MalformedZip
      }
      if (data.length.toLong != usize) throw new MalformedZip
      if ((Bits.crc32(data, 0, data.length) & 0xffffffffL) != crc) throw new MalformedZip
      if ((flags & 0x08) != 0) {
        // the trailing descriptor must agree with the CD copy
        val hasSig = u32(b, dataEnd) == 0x08074b50L
        val d = if (hasSig) dataEnd + 4 else dataEnd
        if (u32(b, d) != crc || u32(b, d + 4) != csize || u32(b, d + 8) != usize)
          throw new MalformedZip
      }
      entries += ((name, data, method, lfh.toLong))
      p += 46 + nameLen + extraLen + commentLen
      idx += 1
    }
    if (p.toLong != cdEnd) throw new MalformedZip
    entries.result().toSeq
  }

  /** [[buildZip]]'s FORCED-ZIP64 twin: every entry saturates its LFH and
    * CD size/offset fields to 0xFFFFFFFF with the real values in 0x0001
    * extra blocks, and the archive closes with the ZIP64 EOCD record +
    * locator + a saturated classic EOCD — exactly the layout a >4 GiB
    * producer emits, forced onto a small archive so the reader's ZIP64
    * paths sit under tests (and under java.util.zip.ZipFile as the
    * foreign differential).
    */
  private[ext] def buildZip64(entries: Seq[(String, Array[Byte], Int)]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    def w64(v: Long): Unit = { w32(out, v & 0xffffffffL); w32(out, (v >>> 32) & 0xffffffffL) }
    val cd = Array.newBuilder[(Array[Byte], Int, Long, Int, Int, Long)]
    entries.foreach { case (nameS, data, method) =>
      val name = utf8(nameS)
      val crc = Bits.crc32(data, 0, data.length) & 0xffffffffL
      val comp = method match {
        case 0 => data
        case 8 => Multimodal.deflateDynamic(data)
        case _ => throw new MalformedZip
      }
      val lfhOffset = out.size().toLong
      w32(out, 0x04034b50L); w16(out, 45); w16(out, 0); w16(out, method)
      w16(out, 0); w16(out, 0x21)
      w32(out, crc); w32(out, 0xffffffffL); w32(out, 0xffffffffL) // saturated sizes
      w16(out, name.length); w16(out, 20) // ZIP64 extra: 4 + 16
      out.write(name)
      w16(out, 0x0001); w16(out, 16); w64(data.length.toLong); w64(comp.length.toLong)
      out.write(comp)
      cd += ((name, method, crc, comp.length, data.length, lfhOffset))
    }
    val cdOffset = out.size().toLong
    val built = cd.result()
    built.foreach { case (name, method, crc, csize, usize, lfhOffset) =>
      w32(out, 0x02014b50L); w16(out, 45); w16(out, 45); w16(out, 0); w16(out, method)
      w16(out, 0); w16(out, 0x21)
      w32(out, crc); w32(out, 0xffffffffL); w32(out, 0xffffffffL)
      w16(out, name.length); w16(out, 28); w16(out, 0) // ZIP64 extra: 4 + 24
      w16(out, 0); w16(out, 0); w32(out, 0)
      w32(out, 0xffffffffL) // saturated LFH offset
      out.write(name)
      w16(out, 0x0001); w16(out, 24)
      w64(usize.toLong); w64(csize.toLong); w64(lfhOffset)
    }
    val cdSize = out.size().toLong - cdOffset
    val e64 = out.size().toLong
    w32(out, 0x06064b50L); w64(44L) // size of remainder
    w16(out, 45); w16(out, 45); w32(out, 0); w32(out, 0)
    w64(built.length.toLong); w64(built.length.toLong)
    w64(cdSize); w64(cdOffset)
    w32(out, 0x07064b50L); w32(out, 0); w64(e64); w32(out, 1) // locator
    w32(out, 0x06054b50L); w16(out, 0); w16(out, 0)
    w16(out, 0xffff); w16(out, 0xffff)
    w32(out, 0xffffffffL); w32(out, 0xffffffffL)
    w16(out, 0)
    out.toByteArray
  }

  /** Decode ZIP archives end to end, map-only; damaged archives are
    * dropped whole, clean archives in the same batch survive.
    */
  def zipExtract(archives: DataFrame, maxEntryBytes: Int = 1 << 26): Dataset[ZipEntry] = {
    val spark = archives.sparkSession
    import spark.implicits._
    archives
      .select(col("archive_id").cast("long"), col("payload"))
      .as[(Long, Array[Byte])]
      .flatMap { case (aid, payload) =>
        try parseArchive(aid, payload, maxEntryBytes)
        catch { case scala.util.control.NonFatal(_) => Nil }
      }
  }
}

package graft.ext

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Parquet file-format internals, from scratch — the engine's OWN
  * storage format, written and read at the byte level with no parquet
  * library: a data engine that can introspect (and emit) its native
  * format's footers without a dependency is the difference between
  * "runs on Spark" and "understands its storage".
  *
  * Implemented per the published format (parquet-format's
  * `parquet.thrift` + the Thrift Compact Protocol spec + the
  * Encodings.md RLE/bit-packed hybrid):
  *
  *  - '''Thrift compact protocol''': zigzag varints, short/long-form
  *    field headers with delta field ids, bool-in-header, strings,
  *    lists, nested structs — BOTH directions, with a full generic
  *    skip so unknown/optional fields in real-world footers
  *    (statistics, logical types, column orders, key-value metadata)
  *    pass through safely. The fixture deliberately plants a
  *    key_value_metadata list so the skip path is graded.
  *  - '''file layout''': `PAR1` magic both ends, footer length u32 LE;
  *    FileMetaData → schema (a full SchemaElement TREE walk computing
  *    each leaf's max definition/repetition level) → row groups →
  *    column chunks → ColumnMetaData (type, encodings, path, codec,
  *    value counts, sizes, data + dictionary page offsets).
  *  - '''pages''': BOTH chunk layouts real writers emit — an optional
  *    PLAIN dictionary page followed by data pages, walked until the
  *    chunk's value count is consumed. v1 pages: SNAPPY decompression
  *    (the repo's own [[Snappy]] coder) over the whole body, 1-bit
  *    definition levels for OPTIONAL columns (4-byte-length-prefixed
  *    RLE/bit-packed hybrid), then values as PLAIN
  *    (INT32/INT64/FLOAT/DOUBLE LE, length-prefixed BYTE_ARRAY) or
  *    RLE_DICTIONARY / PLAIN_DICTIONARY indices (1-byte bit width +
  *    hybrid runs) resolved through the chunk's dictionary. v2 pages:
  *    level sections OUTSIDE the compressed region with header-carried
  *    byte lengths, the `is_compressed` flag, and the DELTA family —
  *    DELTA_BINARY_PACKED (block/miniblock packed deltas, INT32
  *    wrapping arithmetic), DELTA_LENGTH_BYTE_ARRAY and
  *    DELTA_BYTE_ARRAY (front coding) — what parquet-mr v2 writers
  *    emit when the dictionary overflows. This covers both
  *    parquet-cpp/pyarrow v1 files (the REAL testdata decodes to
  *    values) and parquet-mr/Spark `parquet.writer.version=v2` files.
  *
  * Grading is three-sided (ParquetFileSpec): (1) the bitwise DuckDB
  * oracle replays per-column per-row-group aggregates of the decoded
  * values — the fixture cycles UNCOMPRESSED/SNAPPY by file and
  * PLAIN/dictionary by column, and plants an OPTIONAL column with
  * nulls, so every decode arm sits under the hash; (2) SPARK ITSELF
  * reads the from-scratch files and must see the exact fixture rows —
  * the strongest possible writer check; (3) the reader runs against
  * the REAL pyarrow-written testdata parquet files and must agree
  * with parquet-mr footer-field-for-field AND with Spark's own decode
  * value-for-value — the strongest possible reader check, against a
  * foreign writer.
  *
  * Decode-subset boundary: v2 data pages, nested/repeated columns
  * (max repetition level > 0 or definition level > 1), codecs beyond
  * UNCOMPRESSED/SNAPPY, and types beyond
  * INT32/INT64/FLOAT/DOUBLE/BYTE_ARRAY surface their METADATA row
  * (vtype 'm', no aggregates) rather than quarantining the file —
  * only structural damage (bad magic, broken thrift, bounds
  * violations, a dictionary index past its dictionary) quarantines.
  * Encrypted footers are damage.
  *
  * Scale shape: map-only per file, zero shuffles; at 100 TB the footer
  * walk is a range read of the file tail, never a full-file scan.
  */
object ParquetFile {

  private def md5Hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString

  private val words = Array("anchor", "bloom", "cedar", "dune", "ember", "flint", "grove", "harbor")

  private val TypeNames = Array("BOOLEAN", "INT32", "INT64", "INT96",
    "FLOAT", "DOUBLE", "BYTE_ARRAY", "FIXED_LEN_BYTE_ARRAY")
  private val CodecNames = Array("UNCOMPRESSED", "SNAPPY", "GZIP", "LZO",
    "BROTLI", "LZ4", "ZSTD", "LZ4_RAW")

  // ------------------------------------------------------------- fixture

  private def nib(id: Long, i: Int): Int = {
    val m = md5Hex(s"pqf:$id")
    Integer.parseInt(m.substring(i - 1, i), 16)
  }

  private[ext] def nRows(id: Long): Int = 3 + nib(id, 1) % 4
  private[ext] val RowsPerGroup = 3

  private[ext] def idVal(id: Long, k: Int): Long = id * 100 + k
  private[ext] def titleVal(id: Long, k: Int): String =
    s"row $k of pq $id: ${words(nib(id, 2 + k) % 8)}" +
      (if ((id + k) % 3 == 0) " é" else "")
  private[ext] def scoreVal(id: Long, k: Int): Double =
    (nib(id, 9 + k) + 4 * k + id % 7) / 4.0
  /** OPTIONAL column: null every third row — the definition-level arm. */
  private[ext] def noteIsNull(id: Long, k: Int): Boolean = (id + k) % 3 == 0
  private[ext] def noteVal(id: Long, k: Int): String =
    s"note $k of pq $id: ${words(nib(id, 14 + k) % 8)}" +
      (if ((id + k) % 4 == 0) " ü" else "")
  /** SNAPPY files alternate with UNCOMPRESSED ones. */
  private[ext] def useSnappy(id: Long): Boolean = id % 2 == 1
  /** Every fifth file carries v2 data pages (levels outside the
    * compressed region, header-carried level lengths) — both page
    * versions sit under the oracle.
    */
  private[ext] def useV2(id: Long): Boolean = id % 5 == 0
  /** title dictionary-encodes on two of three files, score on one of four
    * — every (codec, encoding) pair occurs across the corpus.
    */
  private[ext] def titleDict(id: Long): Boolean = id % 3 != 0
  private[ext] def scoreDict(id: Long): Boolean = id % 4 == 0

  // ---- thrift compact protocol writer

  private final class TWriter {
    val out = new java.io.ByteArrayOutputStream()
    private var lastId = List(0) // per-struct-nesting last field id

    def varint(v: Long): Unit = Bits.writeUvarint(out, v)

    def fieldHeader(id: Int, t: Int): Unit = {
      val delta = id - lastId.head
      if (delta >= 1 && delta <= 15) out.write((delta << 4) | t)
      else { out.write(t); varint(Bits.zigzag(id.toLong)) }
      lastId = id :: lastId.tail
    }
    def i32(id: Int, v: Int): Unit = { fieldHeader(id, 5); varint(Bits.zigzag(v.toLong)) }
    def i64(id: Int, v: Long): Unit = { fieldHeader(id, 6); varint(Bits.zigzag(v)) }
    /** Compact-protocol bool: the VALUE rides the field header type. */
    def bool(id: Int, v: Boolean): Unit = fieldHeader(id, if (v) 1 else 2)
    def str(id: Int, s: String): Unit = {
      fieldHeader(id, 8)
      val b = s.getBytes("UTF-8")
      varint(b.length.toLong); out.write(b)
    }
    def listBegin(id: Int, size: Int, elemType: Int): Unit = {
      fieldHeader(id, 9)
      if (size < 15) out.write((size << 4) | elemType)
      else { out.write(0xF0 | elemType); varint(size.toLong) }
    }
    def structBegin(id: Int): Unit = { fieldHeader(id, 12); lastId = 0 :: lastId }
    /** A struct as a LIST ELEMENT carries no field header. */
    def structElemBegin(): Unit = { lastId = 0 :: lastId }
    def structEnd(): Unit = { out.write(0); lastId = lastId.tail }
    def bytes: Array[Byte] = out.toByteArray
  }

  /** One primitive SchemaElement (shared by every fixture writer). */
  private def writePrim(w: TWriter, typ: Int, name: String, repetition: Int,
      converted: Option[Int]): Unit = {
    w.structElemBegin()
    w.i32(1, typ)
    w.i32(3, repetition)
    w.str(4, name)
    converted.foreach(c => w.i32(6, c))
    w.structEnd()
  }

  /** One group SchemaElement: no type, a children count. */
  private def writeGroup(w: TWriter, name: String, repetition: Int, children: Int): Unit = {
    w.structElemBegin()
    w.i32(3, repetition)
    w.str(4, name)
    w.i32(5, children)
    w.structEnd()
  }

  /** Footer + LE length + trailing magic onto a PAR1-opened stream. */
  private def finishFile(out: java.io.ByteArrayOutputStream, footer: Array[Byte]): Array[Byte] = {
    out.write(footer, 0, footer.length)
    val len = footer.length
    out.write(len & 0xff); out.write((len >> 8) & 0xff)
    out.write((len >> 16) & 0xff); out.write((len >>> 24) & 0xff)
    out.write("PAR1".getBytes("ISO-8859-1"))
    out.toByteArray
  }

  // ---- RLE/bit-packed hybrid writer pieces (Encodings.md)

  /** One bit-packed run covering all `values` (LSB-first packing, groups
    * of 8, zero-padded tail) — the layout every hybrid consumer accepts.
    */
  private def hybridBitPacked(values: Seq[Int], bitWidth: Int): Array[Byte] = {
    val groups = (values.length + 7) / 8
    val out = new java.io.ByteArrayOutputStream()
    Bits.writeUvarint(out, (groups.toLong << 1) | 1L)
    val packed = new Array[Byte](groups * bitWidth)
    var i = 0
    while (i < values.length) {
      var k = 0
      while (k < bitWidth) {
        if (((values(i) >> k) & 1) != 0) {
          val bit = i.toLong * bitWidth + k
          packed((bit >> 3).toInt) = (packed((bit >> 3).toInt) | (1 << (bit & 7))).toByte
        }
        k += 1
      }
      i += 1
    }
    out.write(packed, 0, packed.length)
    out.toByteArray
  }

  /** 4-byte-length-prefixed 1-bit definition levels for one v1 data page. */
  private def defLevels(flags: Seq[Boolean]): Array[Byte] =
    levelBytesV1(flags.map(f => if (f) 1 else 0), 1)

  private def bitWidthFor(dictSize: Int): Int =
    math.max(1, 32 - Integer.numberOfLeadingZeros(math.max(dictSize - 1, 1)))

  /** v1 data page (header thrift + body) for one column of one row
    * group; `body` is the UNCOMPRESSED page body (def levels + values),
    * compressed here when the file's codec says so. Returns (page bytes,
    * uncompressed total = header + raw body) for the footer's size
    * bookkeeping.
    */
  private def dataPage(numValues: Int, encoding: Int, body: Array[Byte],
      snappy: Boolean): (Array[Byte], Long) = {
    val stored = if (snappy) Snappy.compress(body) else body
    val w = new TWriter
    w.i32(1, 0) // type = DATA_PAGE
    w.i32(2, body.length) // uncompressed_page_size
    w.i32(3, stored.length) // compressed_page_size
    w.i32(4, Bits.crc32(stored, 0, stored.length)) // page CRC (over stored body)
    w.structBegin(5) // data_page_header
    w.i32(1, numValues)
    w.i32(2, encoding)
    w.i32(3, 3) // definition_level_encoding = RLE
    w.i32(4, 3) // repetition_level_encoding
    w.structEnd()
    w.out.write(0) // end of PageHeader struct
    val header = w.bytes
    (header ++ stored, header.length.toLong + body.length)
  }

  /** v2 data page: repetition + definition levels sit OUTSIDE the
    * compressed region (no 4-byte length prefix — their byte lengths
    * ride the header), and only the values section compresses when
    * `is_compressed` says so.
    */
  private def dataPageV2(numValues: Int, numNulls: Int, numRows: Int, encoding: Int,
      repLevels: Array[Byte], defLevels: Array[Byte], values: Array[Byte],
      snappy: Boolean): (Array[Byte], Long) = {
    val stored = if (snappy) Snappy.compress(values) else values
    val levelsLen = repLevels.length + defLevels.length
    val w = new TWriter
    w.i32(1, 3) // type = DATA_PAGE_V2
    w.i32(2, levelsLen + values.length) // uncompressed_page_size
    w.i32(3, levelsLen + stored.length) // compressed_page_size
    // page CRC: levels + stored values — the whole body after the header
    w.i32(4, Bits.crc32(repLevels ++ defLevels ++ stored, 0, levelsLen + stored.length))
    w.structBegin(8) // data_page_header_v2
    w.i32(1, numValues)
    w.i32(2, numNulls)
    w.i32(3, numRows)
    w.i32(4, encoding)
    w.i32(5, defLevels.length) // definition_levels_byte_length
    w.i32(6, repLevels.length) // repetition_levels_byte_length
    w.bool(7, snappy) // is_compressed
    w.structEnd()
    w.out.write(0) // end of PageHeader struct
    val header = w.bytes
    (header ++ repLevels ++ defLevels ++ stored,
      header.length.toLong + levelsLen + values.length)
  }

  /** PLAIN dictionary page (header thrift + values). */
  private def dictPage(numValues: Int, values: Array[Byte], snappy: Boolean): (Array[Byte], Long) = {
    val stored = if (snappy) Snappy.compress(values) else values
    val w = new TWriter
    w.i32(1, 2) // type = DICTIONARY_PAGE
    w.i32(2, values.length)
    w.i32(3, stored.length)
    w.i32(4, Bits.crc32(stored, 0, stored.length)) // page CRC
    w.structBegin(7) // dictionary_page_header
    w.i32(1, numValues)
    w.i32(2, 2) // encoding = PLAIN_DICTIONARY
    w.structEnd()
    w.out.write(0)
    val header = w.bytes
    (header ++ stored, header.length.toLong + values.length)
  }

  private def leI64(v: Long): Array[Byte] =
    Array.tabulate(8)(i => ((v >> (8 * i)) & 0xff).toByte)
  private def leI32(v: Int): Array[Byte] =
    Array.tabulate(4)(i => ((v >> (8 * i)) & 0xff).toByte)
  private def plainString(s: String): Array[Byte] = {
    val b = s.getBytes("UTF-8")
    leI32(b.length) ++ b
  }

  private[ext] def renderParquet(id: Long): Array[Byte] = {
    val n = nRows(id)
    val snappy = useSnappy(id)
    val groups = (0 until n).grouped(RowsPerGroup).toSeq
    val out = new java.io.ByteArrayOutputStream()
    out.write("PAR1".getBytes("ISO-8859-1"))
    // pages, row-group-major then column-major; record offsets/sizes
    final case class Chunk(typ: Int, path: String, numValues: Long,
      offset: Long, dictOffset: Long, dataOffset: Long, size: Long,
      uncompressed: Long, encodings: Seq[Int],
      nullCount: Long, minValue: Option[Array[Byte]], maxValue: Option[Array[Byte]])
    // page body for a dictionary-encoded column: first-occurrence dict +
    // indices; PLAIN otherwise. `plain` renders one value.
    def dictColumn(optional: Boolean, present: Seq[Boolean],
        vals: Seq[Array[Byte]]): (Array[Byte], Array[Byte], Int) = {
      val keys = vals.map(_.toSeq)
      val dictKeys = keys.distinct
      val dict = dictKeys.flatten.toArray
      val idx = keys.map(dictKeys.indexOf)
      val bw = bitWidthFor(dictKeys.length)
      // an OPTIONAL column's v1 page ALWAYS carries a def-levels section
      // — even when every value in this page happens to be present
      val levels = if (optional) defLevels(present) else Array.emptyByteArray
      val body = levels ++ Array(bw.toByte) ++ hybridBitPacked(idx, bw)
      (dict, body, dictKeys.length)
    }
    val rowGroups = groups.map { ks =>
      final case class ColSpec(typ: Int, path: String, optional: Boolean, dict: Boolean,
        present: Seq[Boolean], values: Seq[Array[Byte]],
        minV: Option[Array[Byte]], maxV: Option[Array[Byte]])
      def strStat(ss: Seq[String])(pick: (Array[Byte], Array[Byte]) => Boolean): Option[Array[Byte]] =
        ss.map(_.getBytes(java.nio.charset.StandardCharsets.UTF_8))
          .reduceOption((a, b) => if (pick(a, b)) a else b)
      // BYTE_ARRAY statistics order is UNSIGNED byte-wise lexicographic
      def byteLt(a: Array[Byte], b: Array[Byte]): Boolean = {
        var i = 0
        while (i < a.length && i < b.length) {
          val d = (a(i) & 0xff) - (b(i) & 0xff)
          if (d != 0) return d < 0
          i += 1
        }
        a.length < b.length
      }
      val idVals = ks.map(idVal(id, _))
      val scoreVals = ks.map(scoreVal(id, _))
      val titleVals = ks.map(titleVal(id, _))
      val noteVals = ks.filter(k => !noteIsNull(id, k)).map(noteVal(id, _))
      val cols = Seq(
        ColSpec(2, "id", optional = false, dict = false,
          ks.map(_ => true), ks.map(k => leI64(idVal(id, k))),
          Some(leI64(idVals.min)), Some(leI64(idVals.max))),
        ColSpec(6, "title", optional = false, dict = titleDict(id),
          ks.map(_ => true), ks.map(k => plainString(titleVal(id, k))),
          strStat(titleVals)(byteLt), strStat(titleVals)((a, b) => byteLt(b, a))),
        ColSpec(5, "score", optional = false, dict = scoreDict(id),
          ks.map(_ => true),
          ks.map(k => leI64(java.lang.Double.doubleToLongBits(scoreVal(id, k)))),
          Some(leI64(java.lang.Double.doubleToLongBits(scoreVals.min))),
          Some(leI64(java.lang.Double.doubleToLongBits(scoreVals.max)))),
        ColSpec(6, "note", optional = true, dict = false,
          ks.map(k => !noteIsNull(id, k)),
          ks.filter(k => !noteIsNull(id, k)).map(k => plainString(noteVal(id, k))),
          strStat(noteVals)(byteLt), strStat(noteVals)((a, b) => byteLt(b, a))))
      cols.map { c =>
        val off = out.size.toLong
        var dictOff = -1L
        var uncompressed = 0L
        val v2 = useV2(id)
        val numNulls = c.present.count(!_)
        // v2 levels ride OUTSIDE the page body with no length prefix
        val levelsV2 = if (c.optional) hybridBitPacked(
          c.present.map(f => if (f) 1 else 0), 1) else Array.emptyByteArray
        val (dataOff, encs) =
          if (c.dict) {
            val (dict, body, nDict) = dictColumn(c.optional && !v2, c.present, c.values)
            val (dp, dpUncomp) = dictPage(nDict, dict, snappy)
            dictOff = off
            out.write(dp, 0, dp.length)
            uncompressed += dpUncomp
            val dataOff = out.size.toLong
            val (page, pgUncomp) =
              if (v2) dataPageV2(ks.length, numNulls, ks.length, 8,
                Array.emptyByteArray, levelsV2, body, snappy)
              else dataPage(ks.length, 8, body, snappy) // RLE_DICTIONARY
            out.write(page, 0, page.length)
            uncompressed += pgUncomp
            (dataOff, Seq(3, 8, 0)) // RLE, RLE_DICTIONARY, PLAIN (the dict page)
          } else if (v2) {
            val (page, pgUncomp) =
              dataPageV2(ks.length, numNulls, ks.length, 0,
                Array.emptyByteArray, levelsV2, c.values.flatten.toArray, snappy)
            out.write(page, 0, page.length)
            uncompressed += pgUncomp
            (off, Seq(0, 3)) // PLAIN, RLE
          } else {
            // see dictColumn: OPTIONAL pages carry def levels unconditionally
            val levels = if (c.optional) defLevels(c.present) else Array.emptyByteArray
            val body = levels ++ c.values.flatten.toArray
            val (page, pgUncomp) = dataPage(ks.length, 0, body, snappy) // PLAIN
            out.write(page, 0, page.length)
            uncompressed += pgUncomp
            (off, Seq(0, 3)) // PLAIN, RLE
          }
        Chunk(c.typ, c.path, ks.length.toLong, off, dictOff, dataOff,
          out.size.toLong - off, uncompressed, encs,
          numNulls.toLong, c.minV, c.maxV)
      }
    }
    // footer
    val w = new TWriter
    w.i32(1, 1) // version
    // schema: root + 4 primitive elements (3 REQUIRED, note OPTIONAL)
    w.listBegin(2, 5, 12)
    w.structElemBegin() // root
    w.str(4, "schema")
    w.i32(5, 4)
    w.structEnd()
    def prim(typ: Int, name: String, repetition: Int, converted: Option[Int]): Unit = {
      w.structElemBegin()
      w.i32(1, typ)
      w.i32(3, repetition)
      w.str(4, name)
      converted.foreach(c => w.i32(6, c)) // converted_type (UTF8 = 0)
      w.structEnd()
    }
    prim(2, "id", 0, None)
    prim(6, "title", 0, Some(0))
    prim(5, "score", 0, None)
    prim(6, "note", 1, Some(0)) // OPTIONAL
    w.i64(3, n.toLong) // num_rows
    w.listBegin(4, rowGroups.length, 12)
    rowGroups.zipWithIndex.foreach { case (chunks, g) =>
      w.structElemBegin() // RowGroup
      w.listBegin(1, chunks.length, 12)
      chunks.foreach { c =>
        w.structElemBegin() // ColumnChunk
        w.i64(2, c.offset) // file_offset
        w.structBegin(3) // ColumnMetaData
        w.i32(1, c.typ)
        w.listBegin(2, c.encodings.length, 5)
        c.encodings.foreach(e => w.varint((e.toLong << 1))) // zigzag of non-negative
        w.listBegin(3, 1, 8)
        val pb = c.path.getBytes("UTF-8")
        w.varint(pb.length.toLong); w.out.write(pb)
        w.i32(4, if (snappy) 1 else 0) // codec
        w.i64(5, c.numValues)
        w.i64(6, c.uncompressed) // total_uncompressed_size (incl page headers)
        w.i64(7, c.size) // total_compressed_size
        w.i64(9, c.dataOffset) // data_page_offset
        if (c.dictOffset >= 0) w.i64(11, c.dictOffset) // dictionary_page_offset
        // Statistics: null_count + the modern min_value/max_value pair
        // (PLAIN-encoded; byte-wise unsigned order for BYTE_ARRAY)
        w.structBegin(12)
        w.i64(3, c.nullCount)
        c.maxValue.foreach { b => w.fieldHeader(5, 8); w.varint(b.length.toLong); w.out.write(b, 0, b.length) }
        c.minValue.foreach { b => w.fieldHeader(6, 8); w.varint(b.length.toLong); w.out.write(b, 0, b.length) }
        w.structEnd()
        w.structEnd()
        w.structEnd()
      }
      w.i64(2, chunks.map(_.size).sum) // total_byte_size
      w.i64(3, groups(g).length.toLong) // num_rows
      w.structEnd()
    }
    // key_value_metadata: present so readers must SKIP an optional
    // list<struct> they don't consume (the graded skip path)
    w.listBegin(5, 1, 12)
    w.structElemBegin()
    w.str(1, "writer.note")
    w.str(2, s"graft fixture $id")
    w.structEnd()
    w.str(6, "graft parquet writer") // created_by
    w.out.write(0) // end FileMetaData
    finishFile(out, w.bytes)
  }

  /** Fixture writer: one parquet file per document row. */
  def encodeParquet(docs: DataFrame, idCol: String = "doc_id"): DataFrame =
    Stage.render(docs, idCol, "pq")(renderParquet)

  // --------------------------------------------------------------- reader

  private final class MalformedParquet
      extends RuntimeException("malformed parquet", null, false, false)
  private def fail(): Nothing = throw new MalformedParquet

  /** Thrift compact protocol reader over a byte range. */
  private[ext] final class TReader(bytes: Array[Byte], from: Int, until: Int)
      extends Bits.Cursor(bytes, from, until) {
    private var lastId = List(0)

    def fail(): Nothing = ParquetFile.fail()
    def varint(): Long = uvarint(10)
    def zigzag(): Long = Bits.unzigzag(varint())
    def binary(): Array[Byte] = {
      val n = varint()
      if (n < 0 || n > limit - pos) fail()
      val out = java.util.Arrays.copyOfRange(bytes, pos, pos + n.toInt)
      pos += n.toInt
      out
    }
    def string(): String = new String(binary(), java.nio.charset.StandardCharsets.UTF_8)

    /** Next field in the current struct: (fieldId, type) or None at stop. */
    def field(): Option[(Int, Int)] = {
      val b = u8()
      if (b == 0) return None
      val t = b & 0x0f
      val delta = (b >> 4) & 0x0f
      val id = if (delta != 0) lastId.head + delta else zigzag().toInt
      lastId = id :: lastId.tail
      Some((id, t))
    }
    def structBegin(): Unit = { lastId = 0 :: lastId }
    def structEnd(): Unit = { lastId = lastId.tail }
    def listHeader(): (Int, Int) = {
      val b = u8()
      val t = b & 0x0f
      val s = (b >> 4) & 0x0f
      val size = if (s == 15) varint().toInt else s
      if (size < 0 || size > limit - pos) fail() // every element is ≥ 0 bytes… cap anyway
      (size, t)
    }

    /** Skip one STRUCT FIELD value of compact type `t` (a bool field's
      * value rides its header, so 1/2 consume nothing here).
      */
    def skip(t: Int): Unit = t match {
      case 1 | 2 => ()
      case other => skipElem(other)
    }

    /** Skip one LIST/SET/MAP ELEMENT of compact type `t` — unlike field
      * values, a bool ELEMENT occupies one byte.
      */
    private def skipElem(t: Int): Unit = t match {
      case 1 | 2 | 3 => pos += 1; if (pos > limit) fail()
      case 4 | 5 | 6 => varint()
      case 7 => pos += 8; if (pos > limit) fail()
      case 8 => binary()
      case 9 | 10 =>
        val (size, et) = listHeader()
        var i = 0
        while (i < size) { skipElem(et); i += 1 }
      case 11 =>
        val n = varint().toInt
        if (n < 0) fail()
        if (n > 0) {
          val kv = u8()
          val kt = (kv >> 4) & 0x0f
          val vt = kv & 0x0f
          var i = 0
          while (i < n) { skipElem(kt); skipElem(vt); i += 1 }
        }
      case 12 =>
        structBegin()
        var more = true
        while (more) field() match {
          case Some((_, ft)) => skip(ft)
          case None => more = false
        }
        structEnd()
      case _ => fail()
    }
  }

  final case class PqColumn(path: String, typ: Int, codec: Int,
    encodings: Seq[Int], numValues: Long, dataPageOffset: Long,
    totalCompressed: Long, totalUncompressed: Long, fileOffset: Long,
    dictPageOffset: Long, statNullCount: Long,
    statMin: Option[Array[Byte]], statMax: Option[Array[Byte]],
    bloomOffset: Long = -1L, bloomLength: Int = -1,
    offsetIndexOffset: Long = -1L, offsetIndexLength: Int = -1,
    columnIndexOffset: Long = -1L, columnIndexLength: Int = -1)
  final case class PqRowGroup(numRows: Long, totalByteSize: Long, columns: Seq[PqColumn])
  final case class PqSchemaCol(name: String, typ: Int, converted: Int,
    repetition: Int, maxDef: Int, maxRep: Int)
  final case class PqFooter(version: Int, numRows: Long,
    schema: Seq[PqSchemaCol], rowGroups: Seq[PqRowGroup], createdBy: String)

  /** Parse the footer of a complete parquet file. */
  private[ext] def parseFooter(bytes: Array[Byte]): PqFooter = {
    val n = bytes.length
    if (n < 12) fail()
    def magicAt(p: Int): Boolean =
      bytes(p) == 'P' && bytes(p + 1) == 'A' && bytes(p + 2) == 'R' && bytes(p + 3) == '1'
    if (!magicAt(0) || !magicAt(n - 4)) fail()
    val fLen = (bytes(n - 8) & 0xff) | ((bytes(n - 7) & 0xff) << 8) |
      ((bytes(n - 6) & 0xff) << 16) | ((bytes(n - 5) & 0xff) << 24)
    if (fLen <= 0 || fLen > n - 12) fail()
    val r = new TReader(bytes, n - 8 - fLen, n - 8)

    var version = 0
    var numRows = -1L
    var createdBy = ""
    var schema = Vector.empty[PqSchemaCol]
    val rowGroups = Vector.newBuilder[PqRowGroup]

    final case class RawElem(typ: Int, repetition: Int, name: String,
      children: Int, converted: Int)
    def readSchemaElementRaw(): RawElem = {
      r.structBegin()
      var typ = -1; var name = ""; var converted = -1; var children = 0
      var repetition = 0
      var more = true
      while (more) r.field() match {
        case Some((1, 5)) => typ = r.zigzag().toInt
        case Some((3, 5)) => repetition = r.zigzag().toInt
        case Some((4, 8)) => name = r.string()
        case Some((5, 5)) => children = r.zigzag().toInt
        case Some((6, 5)) => converted = r.zigzag().toInt
        case Some((_, t)) => r.skip(t)
        case None => more = false
      }
      r.structEnd()
      RawElem(typ, repetition, name, children, converted)
    }

    /** The SchemaElement list is a preorder tree serialization; walking
      * the children counts yields each LEAF's max definition/repetition
      * level (OPTIONAL adds a def level, REPEATED adds both) — the
      * numbers the page decoder needs. Leaves come out in column order.
      */
    def walkSchema(raw: Seq[RawElem]): Vector[PqSchemaCol] = {
      if (raw.isEmpty || raw.head.children <= 0) fail()
      val out = Vector.newBuilder[PqSchemaCol]
      var stack = List((raw.head.children, 0, 0)) // remaining, maxDef, maxRep
      raw.tail.foreach { e =>
        if (stack.isEmpty) fail()
        val (rem, d0, r0) = stack.head
        if (rem <= 0) fail()
        stack = (rem - 1, d0, r0) :: stack.tail
        if (e.repetition < 0 || e.repetition > 2) fail()
        val d = d0 + (if (e.repetition != 0) 1 else 0)
        val rp = r0 + (if (e.repetition == 2) 1 else 0)
        if (e.children > 0) stack = (e.children, d, rp) :: stack
        else {
          if (e.typ < 0) fail()
          out += PqSchemaCol(e.name, e.typ, e.converted, e.repetition, d, rp)
        }
        while (stack.nonEmpty && stack.head._1 == 0) stack = stack.tail
      }
      if (stack.nonEmpty) fail() // declared children missing
      out.result()
    }

    def readColumnMeta(): PqColumn = {
      r.structBegin()
      var typ = -1; var codec = -1; var numValues = -1L
      var tu = -1L; var tc = -1L; var dpo = -1L; var dicto = -1L
      var bloomOff = -1L; var bloomLen = -1
      var path = ""
      var statNulls = -1L
      var statMin: Option[Array[Byte]] = None
      var statMax: Option[Array[Byte]] = None
      val encs = Vector.newBuilder[Int]
      var more = true
      while (more) r.field() match {
        case Some((1, 5)) => typ = r.zigzag().toInt
        case Some((2, 9)) =>
          val (size, et) = r.listHeader()
          if (et != 5) fail()
          for (_ <- 0 until size) encs += r.zigzag().toInt
        case Some((3, 9)) =>
          val (size, et) = r.listHeader()
          if (et != 8) fail()
          path = (0 until size).map(_ => r.string()).mkString(".")
        case Some((4, 5)) => codec = r.zigzag().toInt
        case Some((5, 6)) => numValues = r.zigzag()
        case Some((6, 6)) => tu = r.zigzag()
        case Some((7, 6)) => tc = r.zigzag()
        case Some((9, 6)) => dpo = r.zigzag()
        case Some((11, 6)) => dicto = r.zigzag()
        case Some((14, 6)) => bloomOff = r.zigzag()
        case Some((15, 5)) => bloomLen = r.zigzag().toInt
        case Some((12, 12)) => // Statistics
          r.structBegin()
          var legacyMin: Option[Array[Byte]] = None
          var legacyMax: Option[Array[Byte]] = None
          var m2 = true
          while (m2) r.field() match {
            case Some((1, 8)) => legacyMax = Some(r.binary()) // deprecated max
            case Some((2, 8)) => legacyMin = Some(r.binary()) // deprecated min
            case Some((3, 6)) => statNulls = r.zigzag()
            case Some((5, 8)) => statMax = Some(r.binary())
            case Some((6, 8)) => statMin = Some(r.binary())
            case Some((_, t)) => r.skip(t)
            case None => m2 = false
          }
          r.structEnd()
          // old writers carry only the deprecated pair
          if (statMin.isEmpty) statMin = legacyMin
          if (statMax.isEmpty) statMax = legacyMax
        case Some((_, t)) => r.skip(t)
        case None => more = false
      }
      r.structEnd()
      if (typ < 0 || codec < 0 || numValues < 0 || dpo < 0 || tu < 0 || tc < 0) fail()
      PqColumn(path, typ, codec, encs.result(), numValues, dpo, tc, tu, -1L, dicto,
        statNulls, statMin, statMax, bloomOff, bloomLen)
    }

    def readColumnChunk(): PqColumn = {
      r.structBegin()
      var fileOffset = -1L
      var col: PqColumn = null
      var oiOff = -1L; var oiLen = -1; var ciOff = -1L; var ciLen = -1
      var more = true
      while (more) r.field() match {
        case Some((2, 6)) => fileOffset = r.zigzag()
        case Some((3, 12)) => col = readColumnMeta()
        case Some((4, 6)) => oiOff = r.zigzag()
        case Some((5, 5)) => oiLen = r.zigzag().toInt
        case Some((6, 6)) => ciOff = r.zigzag()
        case Some((7, 5)) => ciLen = r.zigzag().toInt
        case Some((_, t)) => r.skip(t)
        case None => more = false
      }
      r.structEnd()
      if (col == null) fail()
      col.copy(fileOffset = fileOffset, offsetIndexOffset = oiOff, offsetIndexLength = oiLen,
        columnIndexOffset = ciOff, columnIndexLength = ciLen)
    }

    def readRowGroup(): PqRowGroup = {
      r.structBegin()
      var numRows = -1L; var total = -1L
      val cols = Vector.newBuilder[PqColumn]
      var more = true
      while (more) r.field() match {
        case Some((1, 9)) =>
          val (size, et) = r.listHeader()
          if (et != 12) fail()
          for (_ <- 0 until size) cols += readColumnChunk()
        case Some((2, 6)) => total = r.zigzag()
        case Some((3, 6)) => numRows = r.zigzag()
        case Some((_, t)) => r.skip(t)
        case None => more = false
      }
      r.structEnd()
      if (numRows < 0) fail()
      PqRowGroup(numRows, total, cols.result())
    }

    r.structBegin()
    var more = true
    while (more) r.field() match {
      case Some((1, 5)) => version = r.zigzag().toInt
      case Some((2, 9)) =>
        val (size, et) = r.listHeader()
        if (et != 12) fail()
        schema = walkSchema((0 until size).map(_ => readSchemaElementRaw()))
      case Some((3, 6)) => numRows = r.zigzag()
      case Some((4, 9)) =>
        val (size, et) = r.listHeader()
        if (et != 12) fail()
        for (_ <- 0 until size) rowGroups += readRowGroup()
      case Some((6, 8)) => createdBy = r.string()
      case Some((_, t)) => r.skip(t)
      case None => more = false
    }
    if (numRows < 0) fail()
    PqFooter(version, numRows, schema, rowGroups.result(), createdBy)
  }

  // ---- RLE/bit-packed hybrid reader (Encodings.md)

  /** Decode `count` hybrid-encoded values of `bitWidth` bits from
    * `b[from, until)`. RLE runs carry their value in ceil(bitWidth/8) LE
    * bytes; bit-packed runs hold groups of 8 LSB-first values (the tail
    * group's surplus values are padding and are discarded).
    */
  private def hybrid(b: Array[Byte], from: Int, until: Int, bitWidth: Int, count: Int): Array[Int] = {
    if (bitWidth < 0 || bitWidth > 32) fail()
    val out = new Array[Int](count)
    var n = 0
    val r = new Bits.Cursor(b, from, until) { def fail(): Nothing = ParquetFile.fail() }
    val byteW = (bitWidth + 7) / 8
    while (n < count) {
      val header = r.uvarint(6) // the run header: a ULEB128 of ≤ 6 bytes
      if ((header & 1L) == 0L) { // RLE run
        val run = header >>> 1
        if (run <= 0L || run > (count - n).toLong) fail()
        var v = 0L
        var i = 0
        while (i < byteW) { v |= r.u8().toLong << (8 * i); i += 1 }
        val vi = v.toInt
        var j = 0L
        while (j < run) { out(n) = vi; n += 1; j += 1 }
      } else { // bit-packed run
        val groups = (header >>> 1).toInt
        if (groups <= 0 || groups > (1 << 26)) fail()
        // Long arithmetic: at the group cap, groups * 32 bits overflows Int
        // (2^31 negative) and would slip past the bounds check below
        val nbytesL = groups.toLong * bitWidth
        if (nbytesL > until - r.pos) fail()
        val nbytes = nbytesL.toInt
        val p = r.pos
        val totalVals = groups * 8
        var j = 0
        var bitPos = 0L
        while (j < totalVals && n < count) {
          var v = 0L
          var k = 0
          while (k < bitWidth) {
            val bit = bitPos + k
            v |= (((b(p + (bit >> 3).toInt) >> (bit & 7).toInt) & 1).toLong) << k
            k += 1
          }
          bitPos += bitWidth
          out(n) = v.toInt; n += 1; j += 1
        }
        r.pos += nbytes
      }
    }
    out
  }

  /** PLAIN-decode exactly `count` values of physical `typ` consuming
    * `b[from, until)` exactly.
    */
  private def decodePlain(b: Array[Byte], from: Int, until: Int, typ: Int, count: Int): Seq[Any] = {
    def le32(q: Int): Int =
      (b(q) & 0xff) | ((b(q + 1) & 0xff) << 8) | ((b(q + 2) & 0xff) << 16) | ((b(q + 3) & 0xff) << 24)
    def le64(q: Int): Long = {
      var v = 0L
      var i = 0
      while (i < 8) { v |= (b(q + i) & 0xffL) << (8 * i); i += 1 }
      v
    }
    var p = from
    val out = Vector.newBuilder[Any]
    var i = 0
    while (i < count) {
      typ match {
        case 1 => // INT32
          if (p + 4 > until) fail()
          out += le32(p).toLong; p += 4
        case 2 => // INT64
          if (p + 8 > until) fail()
          out += le64(p); p += 8
        case 4 => // FLOAT
          if (p + 4 > until) fail()
          out += java.lang.Float.intBitsToFloat(le32(p)).toDouble; p += 4
        case 5 => // DOUBLE
          if (p + 8 > until) fail()
          out += java.lang.Double.longBitsToDouble(le64(p)); p += 8
        case 6 => // BYTE_ARRAY
          if (p + 4 > until) fail()
          val len = le32(p)
          if (len < 0 || p + 4 + len > until) fail()
          out += new String(b, p + 4, len, java.nio.charset.StandardCharsets.UTF_8)
          p += 4 + len
        case _ => fail() // unreachable: gated by the caller
      }
      i += 1
    }
    if (p != until) fail() // the section must be consumed exactly
    out.result()
  }

  private val MaxPageBytes = 1 << 26

  // ---- the DELTA encoding family (Encodings.md) — what parquet-mr v2
  // writers emit when the dictionary overflows: ints as
  // DELTA_BINARY_PACKED, strings as DELTA_(LENGTH_)BYTE_ARRAY.

  /** DELTA_BINARY_PACKED: `<block size> <miniblocks/block> <total count>
    * <first value>` then per block `<min delta> <bit widths> <miniblock
    * bit-packed deltas>`; value = prev + minDelta + packed. `wrap32`
    * applies INT32's wrapping arithmetic. Returns (values, end position)
    * — the caller of the composite string encodings keeps reading.
    */
  private def deltaBinaryPacked(b: Array[Byte], from: Int, until: Int,
      wrap32: Boolean): (Array[Long], Int) = {
    val r = new Bits.Cursor(b, from, until) { def fail(): Nothing = ParquetFile.fail() }
    def uvarint(): Long = r.uvarint(10)
    def zz(): Long = Bits.unzigzag(uvarint())
    val blockSize = uvarint()
    val mbPerBlock = uvarint()
    if (blockSize <= 0 || blockSize % 128 != 0 || blockSize > (1 << 20)) fail()
    if (mbPerBlock <= 0 || mbPerBlock > blockSize || blockSize % mbPerBlock != 0) fail()
    val mbSize = (blockSize / mbPerBlock).toInt
    if (mbSize % 32 != 0) fail()
    val total = uvarint()
    if (total < 0 || total > MaxPageBytes) fail()
    val totalI = total.toInt
    val out = new Array[Long](totalI)
    var n = 0
    var cur = zz() // first value
    if (wrap32) cur = cur.toInt.toLong
    if (totalI > 0) { out(0) = cur; n = 1 }
    while (n < totalI) {
      val minDelta = zz()
      val widths = new Array[Int](mbPerBlock.toInt)
      var i = 0
      while (i < widths.length) {
        widths(i) = r.u8(); i += 1
      }
      var mb = 0
      while (mb < widths.length && n < totalI) {
        val w = widths(mb)
        if (w > 64) fail()
        val nbytesL = mbSize.toLong * w / 8
        if (nbytesL > until - r.pos) fail()
        val nbytes = nbytesL.toInt
        val p = r.pos
        var j = 0
        var bitPos = 0L
        while (j < mbSize && n < totalI) {
          var v = 0L
          var k = 0
          while (k < w) {
            val bit = bitPos + k
            v |= (((b(p + (bit >> 3).toInt) >> (bit & 7).toInt) & 1).toLong) << k
            k += 1
          }
          bitPos += w
          cur = cur + minDelta + v
          if (wrap32) cur = cur.toInt.toLong
          out(n) = cur; n += 1; j += 1
        }
        r.pos += nbytes
        mb += 1
      }
    }
    (out, r.pos)
  }

  /** DELTA_LENGTH_BYTE_ARRAY: delta-packed lengths, then the concatenated
    * bytes — consumed exactly.
    */
  private def deltaLengthByteArray(b: Array[Byte], from: Int, until: Int,
      count: Int): Seq[Any] = {
    val (lens, p0) = deltaBinaryPacked(b, from, until, wrap32 = true)
    if (lens.length != count) fail()
    var q = p0
    val out = lens.toSeq.map { len =>
      if (len < 0 || len > until - q) fail()
      val s = new String(b, q, len.toInt, java.nio.charset.StandardCharsets.UTF_8)
      q += len.toInt
      s
    }
    if (q != until) fail()
    out
  }

  /** DELTA_BYTE_ARRAY (incremental/front coding): delta-packed prefix
    * lengths, then suffixes as DELTA_LENGTH_BYTE_ARRAY; value_i =
    * value_{i−1}[0, prefix_i) ++ suffix_i.
    */
  private def deltaByteArray(b: Array[Byte], from: Int, until: Int,
      count: Int): Seq[Any] = {
    val (prefixes, p0) = deltaBinaryPacked(b, from, until, wrap32 = true)
    if (prefixes.length != count) fail()
    val (suffixLens, p1) = deltaBinaryPacked(b, p0, until, wrap32 = true)
    if (suffixLens.length != count) fail()
    var q = p1
    var prev = Array.emptyByteArray
    val out = Vector.newBuilder[Any]
    var i = 0
    while (i < count) {
      val pre = prefixes(i)
      val suf = suffixLens(i)
      if (pre < 0 || pre > prev.length || suf < 0 || suf > until - q) fail()
      val v = new Array[Byte](pre.toInt + suf.toInt)
      System.arraycopy(prev, 0, v, 0, pre.toInt)
      System.arraycopy(b, q, v, pre.toInt, suf.toInt)
      q += suf.toInt
      out += new String(v, java.nio.charset.StandardCharsets.UTF_8)
      prev = v
      i += 1
    }
    if (q != until) fail()
    out.result()
  }

  /** Decode every value of one column chunk by walking its pages from
    * the dictionary page (when present) through the data pages until
    * the chunk's value count is consumed — v1 pages (prefix-length RLE
    * levels inside the body) and v2 pages (header-carried level lengths
    * outside the compressed region, delta encodings) alike. Returns the
    * NON-NULL values plus the full definition/repetition level streams
    * (Dremel shredding — [[Dremel]] implements the same algorithm
    * standalone under its own oracle); None for chunks OUTSIDE the
    * decode subset (codecs beyond UNCOMPRESSED/SNAPPY, exotic types or
    * encodings) — their metadata still surfaces; only structural damage
    * fails. Nested and repeated columns (maxDef > 1 or maxRep > 0)
    * decode generically: level widths derive from the schema walk's max
    * levels, a value is present iff its def level equals maxDef, and
    * the caller reassembles records from the streams.
    */
  private[ext] def decodeChunkLevels(bytes: Array[Byte], chunk: PqColumn,
      maxDef: Int, maxRep: Int): Option[(Seq[Any], Seq[Int], Seq[Int])] = {
    if (chunk.codec != 0 && chunk.codec != 1) return None // only raw + snappy
    if (chunk.typ != 1 && chunk.typ != 2 && chunk.typ != 4 && chunk.typ != 5 && chunk.typ != 6)
      return None
    val defW = if (maxDef == 0) 0 else 32 - Integer.numberOfLeadingZeros(maxDef)
    val repW = if (maxRep == 0) 0 else 32 - Integer.numberOfLeadingZeros(maxRep)
    val allDefs = Vector.newBuilder[Int]
    val allReps = Vector.newBuilder[Int]
    val start =
      if (chunk.dictPageOffset >= 0 && chunk.dictPageOffset < chunk.dataPageOffset)
        chunk.dictPageOffset
      else chunk.dataPageOffset
    if (start < 0 || start > bytes.length) fail()
    var pos = start.toInt
    var dict: IndexedSeq[Any] = null
    val out = Vector.newBuilder[Any]
    var read = 0L
    while (read < chunk.numValues) {
      // ---- PageHeader thrift
      val r = new TReader(bytes, pos, bytes.length)
      r.structBegin()
      var pageType = -1; var uncomp = -1; var comp = -1
      var crc = 0; var crcSet = false
      var dNum = -1; var dEnc = -1
      var vNum = -1; var vEnc = -1; var dlEnc = -1; var rlEnc = -1
      var v2Num = -1; var v2Nulls = -1; var v2Enc = -1
      var v2DefLen = -1; var v2RepLen = 0; var v2Compressed = true // spec default
      var more = true
      while (more) r.field() match {
        case Some((1, 5)) => pageType = r.zigzag().toInt
        case Some((2, 5)) => uncomp = r.zigzag().toInt
        case Some((3, 5)) => comp = r.zigzag().toInt
        case Some((4, 5)) => crc = r.zigzag().toInt; crcSet = true
        case Some((5, 12)) =>
          r.structBegin()
          var m2 = true
          while (m2) r.field() match {
            case Some((1, 5)) => vNum = r.zigzag().toInt
            case Some((2, 5)) => vEnc = r.zigzag().toInt
            case Some((3, 5)) => dlEnc = r.zigzag().toInt
            case Some((4, 5)) => rlEnc = r.zigzag().toInt
            case Some((_, t)) => r.skip(t)
            case None => m2 = false
          }
          r.structEnd()
        case Some((7, 12)) =>
          r.structBegin()
          var m2 = true
          while (m2) r.field() match {
            case Some((1, 5)) => dNum = r.zigzag().toInt
            case Some((2, 5)) => dEnc = r.zigzag().toInt
            case Some((_, t)) => r.skip(t)
            case None => m2 = false
          }
          r.structEnd()
        case Some((8, 12)) => // data_page_header_v2
          r.structBegin()
          var m2 = true
          while (m2) r.field() match {
            case Some((1, 5)) => v2Num = r.zigzag().toInt
            case Some((2, 5)) => v2Nulls = r.zigzag().toInt
            case Some((4, 5)) => v2Enc = r.zigzag().toInt
            case Some((5, 5)) => v2DefLen = r.zigzag().toInt
            case Some((6, 5)) => v2RepLen = r.zigzag().toInt
            case Some((7, t)) if t == 1 || t == 2 => v2Compressed = t == 1
            case Some((_, t)) => r.skip(t)
            case None => m2 = false
          }
          r.structEnd()
        case Some((_, t)) => r.skip(t)
        case None => more = false
      }
      r.structEnd()
      if (uncomp < 0 || uncomp > MaxPageBytes || comp < 0) fail()
      val dataStart = r.pos
      if (comp > bytes.length - dataStart) fail()
      // page CRC, when the writer stamped one (parquet-mr does by
      // default since 1.12): CRC-32 over the serialized body after the
      // header — the stored (compressed) bytes, levels included for v2
      if (crcSet && Bits.crc32(bytes, dataStart, dataStart + comp) != crc) fail()
      pos = dataStart + comp
      // ---- page body (decompressed)
      lazy val page: Array[Byte] =
        if (chunk.codec == 0) {
          if (comp != uncomp) fail()
          java.util.Arrays.copyOfRange(bytes, dataStart, dataStart + comp)
        } else {
          val d = try Snappy.decompress(
            java.util.Arrays.copyOfRange(bytes, dataStart, dataStart + comp), MaxPageBytes)
          catch { case scala.util.control.NonFatal(_) => fail() }
          if (d.length != uncomp) fail()
          d
        }
      pageType match {
        case 2 => // dictionary page
          if (dict != null || dNum < 0) fail()
          if (dEnc != 0 && dEnc != 2) return None // PLAIN(_DICTIONARY) only
          dict = decodePlain(page, 0, page.length, chunk.typ, dNum).toIndexedSeq
        case 0 => // v1 data page
          // bound num_values by the chunk's REMAINING count before it
          // sizes any decode allocation — a hostile header would
          // otherwise drive a huge def-level array
          if (vNum < 0 || vEnc < 0 || read + vNum > chunk.numValues) fail()
          var p = 0
          // 4-byte-length-prefixed RLE-hybrid level section (rep first,
          // then def — the v1 body order)
          def levelSection(width: Int, maxLevel: Int): Seq[Int] = {
            if (p + 4 > page.length) fail()
            val len = (page(p) & 0xff) | ((page(p + 1) & 0xff) << 8) |
              ((page(p + 2) & 0xff) << 16) | ((page(p + 3) & 0xff) << 24)
            p += 4
            if (len < 0 || len > page.length - p) fail()
            val lv = hybrid(page, p, p + len, width, vNum)
            p += len
            if (lv.exists(l => l < 0 || l > maxLevel)) fail()
            lv
          }
          if (maxRep > 0) {
            if (rlEnc != 3) return None // repetition levels must be RLE-hybrid
            allReps ++= levelSection(repW, maxRep)
          }
          val nDefined =
            if (maxDef > 0) {
              if (dlEnc != 3) return None // definition levels must be RLE-hybrid
              val defs = levelSection(defW, maxDef)
              allDefs ++= defs
              defs.count(_ == maxDef)
            } else vNum
          vEnc match {
            case 0 => // PLAIN
              out ++= decodePlain(page, p, page.length, chunk.typ, nDefined)
            case 2 | 8 => // (PLAIN_|RLE_)DICTIONARY indices
              if (dict == null) fail()
              if (nDefined > 0) {
                if (p >= page.length) fail()
                val bw = page(p) & 0xff
                p += 1
                val idx = hybrid(page, p, page.length, bw, nDefined)
                idx.foreach { i =>
                  if (i < 0 || i >= dict.length) fail()
                  out += dict(i)
                }
              }
            case _ => return None // delta encodings etc.: out of subset
          }
          read += vNum
        case 3 => // v2 data page: levels OUTSIDE the compressed region
          if (v2Num < 0 || v2Enc < 0 || read + v2Num > chunk.numValues) fail()
          if (maxRep == 0 && v2RepLen != 0) return None // flat: no rep section
          if (v2RepLen < 0 || v2DefLen < 0 || v2RepLen + v2DefLen > comp) fail()
          if (maxRep > 0) {
            // an omitted rep section means every entry starts a record
            val reps: Seq[Int] = if (v2RepLen == 0) Seq.fill(v2Num)(0)
              else hybrid(bytes, dataStart, dataStart + v2RepLen, repW, v2Num).toSeq
            if (reps.exists(l => l < 0 || l > maxRep)) fail()
            allReps ++= reps
          }
          val nDefined =
            if (maxDef > 0) {
              val defs: Seq[Int] = if (v2DefLen == 0) {
                // writers may omit levels only when nothing is null
                if (v2Nulls > 0) fail()
                Seq.fill(v2Num)(maxDef)
              } else hybrid(bytes, dataStart + v2RepLen,
                dataStart + v2RepLen + v2DefLen, defW, v2Num).toSeq
              if (defs.exists(l => l < 0 || l > maxDef)) fail()
              allDefs ++= defs
              defs.count(_ == maxDef)
            } else {
              if (v2DefLen != 0) return None // unexpected level section
              v2Num
            }
          // the header's null count must agree with the decoded levels
          // (only unambiguous on non-repeated columns, where def < maxDef
          // IS a null — for repeated ones it may be an empty list)
          if (maxRep == 0 && v2Nulls >= 0 && v2Num - nDefined != v2Nulls) fail()
          val valsAt = dataStart + v2RepLen + v2DefLen
          val valsComp = comp - v2RepLen - v2DefLen
          val valsUncomp = uncomp - v2RepLen - v2DefLen
          if (valsUncomp < 0) fail()
          val values: Array[Byte] =
            if (chunk.codec == 0 || !v2Compressed) {
              if (valsComp != valsUncomp) fail()
              java.util.Arrays.copyOfRange(bytes, valsAt, valsAt + valsComp)
            } else {
              val d = try Snappy.decompress(
                java.util.Arrays.copyOfRange(bytes, valsAt, valsAt + valsComp), MaxPageBytes)
              catch { case scala.util.control.NonFatal(_) => fail() }
              if (d.length != valsUncomp) fail()
              d
            }
          v2Enc match {
            case 0 => // PLAIN
              out ++= decodePlain(values, 0, values.length, chunk.typ, nDefined)
            case 2 | 8 => // dictionary indices
              if (dict == null) fail()
              if (nDefined > 0) {
                if (values.length == 0) fail()
                val bw = values(0) & 0xff
                val idx = hybrid(values, 1, values.length, bw, nDefined)
                idx.foreach { i =>
                  if (i < 0 || i >= dict.length) fail()
                  out += dict(i)
                }
              }
            case 5 if chunk.typ == 1 || chunk.typ == 2 => // DELTA_BINARY_PACKED
              // an all-null page may carry an empty values section
              if (nDefined > 0 || values.length > 0) {
                val (vals, end) = deltaBinaryPacked(values, 0, values.length,
                  wrap32 = chunk.typ == 1)
                if (vals.length != nDefined || end != values.length) fail()
                vals.foreach(out += _)
              }
            case 6 if chunk.typ == 6 => // DELTA_LENGTH_BYTE_ARRAY
              if (nDefined > 0 || values.length > 0)
                out ++= deltaLengthByteArray(values, 0, values.length, nDefined)
            case 7 if chunk.typ == 6 => // DELTA_BYTE_ARRAY
              if (nDefined > 0 || values.length > 0)
                out ++= deltaByteArray(values, 0, values.length, nDefined)
            case _ => return None // other encodings: out of subset
          }
          read += v2Num
        case _ => return None // index/bloom pages: out of subset
      }
    }
    if (read != chunk.numValues) fail()
    Some((out.result(), allDefs.result(), allReps.result()))
  }

  /** Values-only view of [[decodeChunkLevels]]. */
  private def decodeChunk(bytes: Array[Byte], chunk: PqColumn,
      maxDef: Int, maxRep: Int): Option[Seq[Any]] =
    decodeChunkLevels(bytes, chunk, maxDef, maxRep).map(_._1)

  final case class ParquetColStat(
    doc_id: Long, row_group: Long, col_idx: Long, path: String,
    ptype: String, codec: String, num_values: Long, vtype: String,
    i_sum: Option[Long], r_sum: Option[Double],
    s_bytes: Option[Long], s_checksum: Option[Long])

  private[ext] def parseParquet(id: Long, bytes: Array[Byte]): Seq[ParquetColStat] = {
    val f = parseFooter(Option(bytes).getOrElse(fail()))
    if (f.rowGroups.map(_.numRows).sum != f.numRows) fail()
    f.rowGroups.zipWithIndex.flatMap { case (rg, g) =>
      rg.columns.zipWithIndex.map { case (c, ci) =>
        if (c.typ < 0 || c.typ >= TypeNames.length) fail()
        if (c.codec < 0 || c.codec >= CodecNames.length) fail()
        if (ci >= f.schema.length) fail() // chunks must map onto schema leaves
        val leaf = f.schema(ci)
        val decoded = decodeChunk(bytes, c, leaf.maxDef, leaf.maxRep)
        val (vtype, iSum, rSum, sBytes, sCk) = decoded match {
          case None =>
            // out of the decode subset: the footer metadata still grades
            ("m", None, None, None, None)
          case Some(values) => c.typ match {
            case 1 | 2 =>
              ("i", Some(values.map(_.asInstanceOf[Long]).sum), None, None, None)
            case 4 | 5 =>
              ("f", None, Some(values.map(_.asInstanceOf[Double]).sum), None, None)
            case _ =>
              val cat = values.map(_.asInstanceOf[String]).mkString("")
              val b = cat.getBytes("UTF-8")
              var ck = 0L
              b.foreach(x => ck = (ck * 31 + (x & 0xff)) % 1000000007L)
              ("s", None, None, Some(b.length.toLong), Some(ck))
          }
        }
        ParquetColStat(id, g.toLong, ci.toLong, c.path, TypeNames(c.typ),
          CodecNames(c.codec), c.numValues, vtype, iSum, rSum, sBytes, sCk)
      }
    }
  }

  private[ext] def parseParquetSafe(id: Long, bytes: Array[Byte]): Seq[ParquetColStat] =
    try parseParquet(id, bytes)
    catch { case scala.util.control.NonFatal(_) => Seq.empty }

  final case class ParquetChunkStats(
    doc_id: Long, row_group: Long, col_idx: Long, path: String, ptype: String,
    null_count: Long, i_min: Option[Long], i_max: Option[Long],
    r_min: Option[Double], r_max: Option[Double],
    s_min: Option[String], s_max: Option[String])

  /** Decode one PLAIN-encoded statistics value by physical type; None
    * when the byte width disagrees (truncated or foreign-typed stats
    * are surfaced as absent, never misread).
    */
  private def decodeStat(typ: Int, b: Array[Byte]): Option[Any] = typ match {
    case 1 if b.length == 4 =>
      Some(((b(0) & 0xffL) | ((b(1) & 0xffL) << 8) | ((b(2) & 0xffL) << 16) |
        ((b(3) & 0xffL) << 24)).toInt.toLong)
    case 2 if b.length == 8 =>
      var v = 0L; var i = 7
      while (i >= 0) { v = (v << 8) | (b(i) & 0xffL); i -= 1 }
      Some(v)
    case 4 if b.length == 4 =>
      Some(java.lang.Float.intBitsToFloat(
        (b(0) & 0xff) | ((b(1) & 0xff) << 8) | ((b(2) & 0xff) << 16) | ((b(3) & 0xff) << 24)).toDouble)
    case 5 if b.length == 8 =>
      var v = 0L; var i = 7
      while (i >= 0) { v = (v << 8) | (b(i) & 0xffL); i -= 1 }
      Some(java.lang.Double.longBitsToDouble(v))
    case 6 => Some(new String(b, java.nio.charset.StandardCharsets.UTF_8))
    case _ => None
  }

  /** Per-chunk footer STATISTICS rows — the numbers predicate pushdown
    * prunes row groups with at 100 TB; a wrong min/max silently skips
    * live data, so they are graded bitwise like values.
    */
  private[ext] def parseParquetStats(id: Long, bytes: Array[Byte]): Seq[ParquetChunkStats] = {
    val f = parseFooter(Option(bytes).getOrElse(fail()))
    f.rowGroups.zipWithIndex.flatMap { case (rg, g) =>
      rg.columns.zipWithIndex.map { case (c, ci) =>
        if (c.typ < 0 || c.typ >= TypeNames.length) fail()
        val minD = c.statMin.flatMap(decodeStat(c.typ, _))
        val maxD = c.statMax.flatMap(decodeStat(c.typ, _))
        def iOf(v: Option[Any]) = v.collect { case x: Long => x }
        def rOf(v: Option[Any]) = v.collect { case x: Double => x }
        def sOf(v: Option[Any]) = v.collect { case x: String => x }
        ParquetChunkStats(id, g.toLong, ci.toLong, c.path, TypeNames(c.typ),
          c.statNullCount, iOf(minD), iOf(maxD), rOf(minD), rOf(maxD), sOf(minD), sOf(maxD))
      }
    }
  }

  private[ext] def parseParquetStatsSafe(id: Long, bytes: Array[Byte]): Seq[ParquetChunkStats] =
    try parseParquetStats(id, bytes)
    catch { case scala.util.control.NonFatal(_) => Seq.empty }

  /** `parquet_stats`: footer statistics of every column chunk. Map-only
    * — at 100 TB this is a range read of the footer, never a data scan.
    */
  def parquetStats(docs: DataFrame, idCol: String = "doc_id",
                   binCol: String = "pq"): Dataset[ParquetChunkStats] = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs
      .filter(col(idCol).isNotNull)
      .select(col(idCol).cast("long"), col(binCol))
      .as[(Long, Array[Byte])]
      .flatMap { case (id, b) => if (b == null) Nil else parseParquetStatsSafe(id, b) }
  }

  /** `parquet_meta`: footer + decoded-value statistics of every column
    * chunk of every file. Map-only.
    */
  def parquetMeta(docs: DataFrame, idCol: String = "doc_id",
                  binCol: String = "pq"): Dataset[ParquetColStat] = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs
      .filter(col(idCol).isNotNull)
      .select(col(idCol).cast("long"), col(binCol))
      .as[(Long, Array[Byte])]
      .flatMap { case (id, b) => if (b == null) Nil else parseParquetSafe(id, b) }
  }

  // ================== nested/repeated columns (Dremel assembly) ==================
  // The last real decode boundary: a schema with an optional GROUP, a
  // repeated leaf, and a repeated GROUP with an optional member — every
  // level combination Dremel shredding admits at depth 2 — written by
  // the fixture at the byte level (multi-component column paths, rep+def
  // level sections in both page versions) and REASSEMBLED from the level
  // streams alone, per the algorithm [[Dremel]] pins standalone:
  //
  //   message schema {
  //     required int64 id;                    // maxDef 0, maxRep 0
  //     optional group info {
  //       optional binary name (UTF8);        // maxDef 2
  //       optional int64 weight;              // maxDef 2
  //     }
  //     repeated binary tags (UTF8);          // maxDef 1, maxRep 1
  //     repeated group pairs {
  //       required int64 k;                   // maxDef 1, maxRep 1
  //       optional binary v (UTF8);           // maxDef 2, maxRep 1
  //     }
  //   }

  private def nibN(id: Long, i: Int): Int = {
    val m = md5Hex(s"pqn:$id")
    Integer.parseInt(m.substring(i - 1, i), 16)
  }

  private[ext] def nRowsN(id: Long): Int = 2 + nibN(id, 1) % 3
  private[ext] val RowsPerGroupN = 2
  private[ext] def infoPresent(id: Long, k: Int): Boolean = nibN(id, 2 + k) % 4 != 0
  private[ext] def namePresent(id: Long, k: Int): Boolean =
    infoPresent(id, k) && nibN(id, 6 + k) % 3 != 0
  private[ext] def nameValN(id: Long, k: Int): String = s"${words(nibN(id, 10 + k) % 8)}-$k"
  private[ext] def weightPresent(id: Long, k: Int): Boolean =
    infoPresent(id, k) && (id + k) % 2 == 0
  private[ext] def weightValN(id: Long, k: Int): Long = id * 10 + 7L * k
  private[ext] def nTagsN(id: Long, k: Int): Int = nibN(id, 14 + k) % 3
  private[ext] def tagValN(id: Long, k: Int, j: Int): String =
    words((nibN(id, 18 + k) + 3 * j) % 8)
  private[ext] def nPairsN(id: Long, k: Int): Int = nibN(id, 22 + k) % 3
  private[ext] def pairKValN(id: Long, k: Int, j: Int): Long = id + 13L * k + 5L * j
  private[ext] def pairVPresent(id: Long, k: Int, j: Int): Boolean = (id + k + j) % 3 != 0
  private[ext] def pairVValN(id: Long, k: Int, j: Int): String =
    words((nibN(id, 26 + k) + j) % 8)

  /** 4-byte-length-prefixed RLE/bit-packed hybrid level section (the v1
    * page body layout).
    */
  private def levelBytesV1(levels: Seq[Int], width: Int): Array[Byte] = {
    val h = hybridBitPacked(levels, width)
    val out = new java.io.ByteArrayOutputStream()
    val n = h.length
    out.write(n & 0xff); out.write((n >> 8) & 0xff)
    out.write((n >> 16) & 0xff); out.write((n >>> 24) & 0xff)
    out.write(h, 0, h.length)
    out.toByteArray
  }

  private[ext] def renderNestedParquet(id: Long): Array[Byte] = {
    val n = nRowsN(id)
    val snappy = useSnappy(id)
    val v2 = useV2(id)
    val groups = (0 until n).grouped(RowsPerGroupN).toSeq
    val out = new java.io.ByteArrayOutputStream()
    out.write("PAR1".getBytes("ISO-8859-1"))
    final case class LeafSpec(typ: Int, pathParts: Seq[String], maxDef: Int, maxRep: Int,
      entries: Int => Seq[(Int, Int, Option[Array[Byte]])]) // row k -> (def, rep, value)
    // per-row leaf streams; rep of a row's FIRST entry is always 0
    // (record boundary), later entries repeat at level 1
    val leafSpecs = Seq(
      LeafSpec(2, Seq("id"), 0, 0,
        k => Seq((0, 0, Some(leI64(idVal(id, k)))))),
      LeafSpec(6, Seq("info", "name"), 2, 0, { k =>
        val d = if (!infoPresent(id, k)) 0 else if (!namePresent(id, k)) 1 else 2
        Seq((d, 0, if (d == 2) Some(plainString(nameValN(id, k))) else None))
      }),
      LeafSpec(2, Seq("info", "weight"), 2, 0, { k =>
        val d = if (!infoPresent(id, k)) 0 else if (!weightPresent(id, k)) 1 else 2
        Seq((d, 0, if (d == 2) Some(leI64(weightValN(id, k))) else None))
      }),
      LeafSpec(6, Seq("tags"), 1, 1, { k =>
        val t = nTagsN(id, k)
        if (t == 0) Seq((0, 0, None))
        else (0 until t).map(j => (1, if (j == 0) 0 else 1, Some(plainString(tagValN(id, k, j)))))
      }),
      LeafSpec(2, Seq("pairs", "k"), 1, 1, { k =>
        val p = nPairsN(id, k)
        if (p == 0) Seq((0, 0, None))
        else (0 until p).map(j => (1, if (j == 0) 0 else 1, Some(leI64(pairKValN(id, k, j)))))
      }),
      LeafSpec(6, Seq("pairs", "v"), 2, 1, { k =>
        val p = nPairsN(id, k)
        if (p == 0) Seq((0, 0, None))
        else (0 until p).map { j =>
          val d = if (pairVPresent(id, k, j)) 2 else 1
          (d, if (j == 0) 0 else 1, if (d == 2) Some(plainString(pairVValN(id, k, j))) else None)
        }
      }))
    final case class Chunk(typ: Int, pathParts: Seq[String], numValues: Long,
      offset: Long, size: Long, uncompressed: Long)
    val rowGroups = groups.map { ks =>
      leafSpecs.map { spec =>
        val es = ks.flatMap(spec.entries)
        val defs = es.map(_._1)
        val reps = es.map(_._2)
        val values = es.flatMap(_._3).flatten.toArray
        val defW = if (spec.maxDef == 0) 0 else 32 - Integer.numberOfLeadingZeros(spec.maxDef)
        val repW = if (spec.maxRep == 0) 0 else 32 - Integer.numberOfLeadingZeros(spec.maxRep)
        val off = out.size.toLong
        val numNulls = defs.count(_ < spec.maxDef)
        val (page, pgUncomp) =
          if (v2) dataPageV2(es.length, numNulls, ks.length, 0,
            if (spec.maxRep > 0) hybridBitPacked(reps, repW) else Array.emptyByteArray,
            if (spec.maxDef > 0) hybridBitPacked(defs, defW) else Array.emptyByteArray,
            values, snappy)
          else {
            val body =
              (if (spec.maxRep > 0) levelBytesV1(reps, repW) else Array.emptyByteArray) ++
              (if (spec.maxDef > 0) levelBytesV1(defs, defW) else Array.emptyByteArray) ++ values
            dataPage(es.length, 0, body, snappy) // PLAIN
          }
        out.write(page, 0, page.length)
        Chunk(spec.typ, spec.pathParts, es.length.toLong, off, out.size.toLong - off, pgUncomp)
      }
    }
    // footer: the full schema TREE (groups with children counts)
    val w = new TWriter
    w.i32(1, 1) // version
    w.listBegin(2, 9, 12)
    w.structElemBegin() // root
    w.str(4, "schema")
    w.i32(5, 4)
    w.structEnd()
    def prim(typ: Int, name: String, repetition: Int, converted: Option[Int]): Unit =
      writePrim(w, typ, name, repetition, converted)
    def group(name: String, repetition: Int, children: Int): Unit =
      writeGroup(w, name, repetition, children)
    prim(2, "id", 0, None)
    group("info", 1, 2)
    prim(6, "name", 1, Some(0))
    prim(2, "weight", 1, None)
    prim(6, "tags", 2, Some(0))
    group("pairs", 2, 2)
    prim(2, "k", 0, None)
    prim(6, "v", 1, Some(0))
    w.i64(3, n.toLong) // num_rows
    w.listBegin(4, rowGroups.length, 12)
    rowGroups.zipWithIndex.foreach { case (chunks, g) =>
      w.structElemBegin() // RowGroup
      w.listBegin(1, chunks.length, 12)
      chunks.foreach { c =>
        w.structElemBegin() // ColumnChunk
        w.i64(2, c.offset) // file_offset
        w.structBegin(3) // ColumnMetaData
        w.i32(1, c.typ)
        w.listBegin(2, 2, 5)
        w.varint(0L << 1); w.varint(3L << 1) // PLAIN, RLE
        w.listBegin(3, c.pathParts.length, 8)
        c.pathParts.foreach { part =>
          val pb = part.getBytes("UTF-8")
          w.varint(pb.length.toLong); w.out.write(pb)
        }
        w.i32(4, if (snappy) 1 else 0) // codec
        w.i64(5, c.numValues)
        w.i64(6, c.uncompressed)
        w.i64(7, c.size)
        w.i64(9, c.offset) // data_page_offset
        w.structEnd()
        w.structEnd()
      }
      w.i64(2, chunks.map(_.size).sum)
      w.i64(3, groups(g).length.toLong)
      w.structEnd()
    }
    w.str(6, "graft nested parquet writer")
    w.out.write(0) // end FileMetaData
    finishFile(out, w.bytes)
  }

  /** Fixture writer: one nested parquet file per document row. */
  def encodeNestedParquet(docs: DataFrame, idCol: String = "doc_id"): DataFrame =
    Stage.render(docs, idCol, "pq")(renderNestedParquet)

  final case class ParquetNestedRow(
    doc_id: Long, row_idx: Long, id_val: Long,
    info_name: Option[String], info_weight: Option[Long],
    n_tags: Long, tags_cat: String, n_pairs: Long, k_sum: Long, v_cat: String)

  /** Group one leaf's (values, defs, reps) streams into per-record entry
    * lists — the Dremel reassembly boundary walk: rep 0 starts a record,
    * a value is present iff def == maxDef.
    */
  private def recordsOf(maxDef: Int,
      decoded: (Seq[Any], Seq[Int], Seq[Int])): Vector[Vector[(Int, Option[Any])]] = {
    val (values, defs0, reps) = decoded
    val defs = if (defs0.nonEmpty) defs0 else Seq.fill(values.length)(0)
    if (reps.nonEmpty && reps.length != defs.length) fail()
    var vi = 0
    val rows = Vector.newBuilder[Vector[(Int, Option[Any])]]
    var cur: scala.collection.mutable.ArrayBuffer[(Int, Option[Any])] = null
    var i = 0
    while (i < defs.length) {
      val r = if (reps.isEmpty) 0 else reps(i)
      if (r == 0) {
        if (cur != null) rows += cur.toVector
        cur = scala.collection.mutable.ArrayBuffer.empty
      }
      if (cur == null) fail() // a record cannot OPEN at rep > 0
      val v = if (defs(i) == maxDef) {
        if (vi >= values.length) fail()
        val x = values(vi); vi += 1; Some(x)
      } else None
      cur += ((defs(i), v))
      i += 1
    }
    if (cur != null) rows += cur.toVector
    if (vi != values.length) fail()
    rows.result()
  }

  private[ext] def parseNestedParquet(docId: Long, bytes: Array[Byte]): Seq[ParquetNestedRow] = {
    val f = parseFooter(Option(bytes).getOrElse(fail()))
    if (f.rowGroups.map(_.numRows).sum != f.numRows) fail()
    val expected = Seq("id", "info.name", "info.weight", "tags", "pairs.k", "pairs.v")
    val out = Vector.newBuilder[ParquetNestedRow]
    var rowIdx = 0L
    f.rowGroups.foreach { rg =>
      if (rg.columns.length != expected.length || f.schema.length != expected.length) fail()
      val byPath = rg.columns.zipWithIndex.map { case (c, ci) =>
        if (c.path != expected(ci)) fail() // leaf order is the schema's
        val leaf = f.schema(ci)
        val decoded = decodeChunkLevels(bytes, c, leaf.maxDef, leaf.maxRep).getOrElse(fail())
        c.path -> recordsOf(leaf.maxDef, decoded)
      }.toMap
      val ids = byPath("id"); val names = byPath("info.name")
      val weights = byPath("info.weight"); val tags = byPath("tags")
      val pk = byPath("pairs.k"); val pv = byPath("pairs.v")
      val m = rg.numRows.toInt
      if (Seq(ids, names, weights, tags, pk, pv).exists(_.length != m)) fail()
      var i = 0
      while (i < m) {
        if (ids(i).length != 1 || names(i).length != 1 || weights(i).length != 1) fail()
        val idV = ids(i).head._2.getOrElse(fail()).asInstanceOf[Long]
        // the two members of one optional group must agree on its presence
        if ((names(i).head._1 >= 1) != (weights(i).head._1 >= 1)) fail()
        val nameV = names(i).head._2.map(_.asInstanceOf[String])
        val weightV = weights(i).head._2.map(_.asInstanceOf[Long])
        val tagVals =
          if (tags(i).length == 1 && tags(i).head._1 == 0) Vector.empty
          else tags(i).map { case (d, v) =>
            if (d != 1 || v.isEmpty) fail()
            v.get.asInstanceOf[String]
          }
        // both leaves of one repeated group carry the SAME entry shape
        if (pk(i).length != pv(i).length) fail()
        val empty = pk(i).length == 1 && pk(i).head._1 == 0
        if (empty && pv(i).head._1 != 0) fail()
        val (kVals, vVals) =
          if (empty) (Vector.empty[Long], Vector.empty[Option[String]])
          else (
            pk(i).map { case (d, v) =>
              if (d != 1 || v.isEmpty) fail()
              v.get.asInstanceOf[Long]
            },
            pv(i).map { case (d, v) =>
              if (d < 1 || (d == 2) != v.nonEmpty) fail()
              v.map(_.asInstanceOf[String])
            })
        out += ParquetNestedRow(docId, rowIdx, idV, nameV, weightV,
          tagVals.length.toLong, tagVals.mkString(","),
          kVals.length.toLong, kVals.sum,
          vVals.map(_.getOrElse("_")).mkString(","))
        rowIdx += 1
        i += 1
      }
    }
    out.result()
  }

  private[ext] def parseNestedParquetSafe(docId: Long, bytes: Array[Byte]): Seq[ParquetNestedRow] =
    try parseNestedParquet(docId, bytes)
    catch { case scala.util.control.NonFatal(_) => Seq.empty }

  /** `parquet_nested`: decode + Dremel-reassemble every nested file's
    * records. Map-only per file, zero shuffles.
    */
  def parquetNested(docs: DataFrame, idCol: String = "doc_id",
                    binCol: String = "pq"): Dataset[ParquetNestedRow] = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs
      .filter(col(idCol).isNotNull)
      .select(col(idCol).cast("long"), col(binCol))
      .as[(Long, Array[Byte])]
      .flatMap { case (id, b) => if (b == null) Nil else parseNestedParquetSafe(id, b) }
  }

  // ==================== page indexes (ColumnIndex / OffsetIndex) ====================
  // The PageIndex.md structures PAGE-level pruning reads instead of the
  // pages themselves: per chunk an OffsetIndex (page location list —
  // offset, compressed size incl. header, first row index) and a
  // ColumnIndex (per-page null flags, min/max, boundary order, null
  // counts), both thrift structs sitting between the data and the
  // footer. At 100 TB a point predicate touching 1 page instead of a
  // whole row group is the difference between a range read and a scan —
  // and a WRONG index silently skips live rows, so it grades bitwise.

  final case class PageLoc(offset: Long, compressedSize: Int, firstRow: Long)
  final case class ColIndex(nullPages: Seq[Boolean], minValues: Seq[Array[Byte]],
    maxValues: Seq[Array[Byte]], boundaryOrder: Int, nullCounts: Option[Seq[Long]])

  private def serializeOffsetIndex(locs: Seq[PageLoc]): Array[Byte] = {
    val w = new TWriter
    w.listBegin(1, locs.length, 12)
    locs.foreach { l =>
      w.structElemBegin()
      w.i64(1, l.offset)
      w.i32(2, l.compressedSize)
      w.i64(3, l.firstRow)
      w.structEnd()
    }
    w.out.write(0)
    w.bytes
  }

  private def serializeColumnIndex(ci: ColIndex): Array[Byte] = {
    val w = new TWriter
    w.listBegin(1, ci.nullPages.length, 1) // list<bool>
    ci.nullPages.foreach(b => w.out.write(if (b) 1 else 2))
    w.listBegin(2, ci.minValues.length, 8)
    ci.minValues.foreach { b => w.varint(b.length.toLong); w.out.write(b, 0, b.length) }
    w.listBegin(3, ci.maxValues.length, 8)
    ci.maxValues.foreach { b => w.varint(b.length.toLong); w.out.write(b, 0, b.length) }
    w.i32(4, ci.boundaryOrder)
    ci.nullCounts.foreach { ns =>
      w.listBegin(5, ns.length, 6)
      ns.foreach(n => w.varint(Bits.zigzag(n)))
    }
    w.out.write(0)
    w.bytes
  }

  /** Parse one OffsetIndex; strict — ascending offsets, first_row from 0
    * ascending, exact byte-length consumption.
    */
  private[ext] def readOffsetIndex(bytes: Array[Byte], off: Long, len: Int): Seq[PageLoc] = {
    if (off < 0 || len <= 0 || off + len > bytes.length) fail()
    val r = new TReader(bytes, off.toInt, off.toInt + len)
    r.structBegin()
    val locs = Vector.newBuilder[PageLoc]
    var more = true
    while (more) r.field() match {
      case Some((1, 9)) =>
        val (size, et) = r.listHeader()
        if (et != 12) fail()
        for (_ <- 0 until size) {
          r.structBegin()
          var o = -1L; var cs = -1; var fr = -1L
          var m2 = true
          while (m2) r.field() match {
            case Some((1, 6)) => o = r.zigzag()
            case Some((2, 5)) => cs = r.zigzag().toInt
            case Some((3, 6)) => fr = r.zigzag()
            case Some((_, t)) => r.skip(t)
            case None => m2 = false
          }
          r.structEnd()
          if (o < 0 || cs <= 0 || fr < 0) fail()
          locs += PageLoc(o, cs, fr)
        }
      case Some((_, t)) => r.skip(t)
      case None => more = false
    }
    r.structEnd()
    if (r.pos != off.toInt + len) fail() // declared length must be exact
    val ls = locs.result()
    if (ls.isEmpty) fail()
    if (ls.head.firstRow != 0L) fail()
    ls.sliding(2).foreach {
      case Seq(a, b) => if (b.offset <= a.offset || b.firstRow <= a.firstRow) fail()
      case _ => ()
    }
    ls
  }

  /** Parse one ColumnIndex; strict — aligned list lengths, boundary
    * order in range, exact consumption.
    */
  private[ext] def readColumnIndex(bytes: Array[Byte], off: Long, len: Int): ColIndex = {
    if (off < 0 || len <= 0 || off + len > bytes.length) fail()
    val r = new TReader(bytes, off.toInt, off.toInt + len)
    r.structBegin()
    var nullPages: Seq[Boolean] = null
    val mins = Vector.newBuilder[Array[Byte]]
    val maxs = Vector.newBuilder[Array[Byte]]
    var nMin = 0; var nMax = 0
    var boundary = -1
    var nullCounts: Option[Seq[Long]] = None
    var more = true
    while (more) r.field() match {
      case Some((1, 9)) =>
        val (size, et) = r.listHeader()
        if (et != 1 && et != 2) fail() // bool elements
        nullPages = (0 until size).map { _ =>
          r.u8() match {
            case 1 => true
            case 2 => false
            case 0 => false // some writers emit 0/1
            case _ => fail()
          }
        }
      case Some((2, 9)) =>
        val (size, et) = r.listHeader()
        if (et != 8) fail()
        nMin = size
        for (_ <- 0 until size) mins += r.binary()
      case Some((3, 9)) =>
        val (size, et) = r.listHeader()
        if (et != 8) fail()
        nMax = size
        for (_ <- 0 until size) maxs += r.binary()
      case Some((4, 5)) => boundary = r.zigzag().toInt
      case Some((5, 9)) =>
        val (size, et) = r.listHeader()
        if (et != 6) fail()
        nullCounts = Some((0 until size).map(_ => r.zigzag()))
      case Some((_, t)) => r.skip(t)
      case None => more = false
    }
    r.structEnd()
    if (r.pos != off.toInt + len) fail()
    if (nullPages == null || boundary < 0 || boundary > 2) fail()
    if (nMin != nullPages.length || nMax != nullPages.length) fail()
    if (nullCounts.exists(_.length != nullPages.length)) fail()
    ColIndex(nullPages, mins.result(), maxs.result(), boundary, nullCounts)
  }

  // ---- page-index fixture: multi-page chunks, an OPTIONAL column with
  // whole-null pages, UNORDERED values so the index is load-bearing

  private def nibI(id: Long, i: Int): Int = {
    val m = md5Hex(s"pqi:$id")
    Integer.parseInt(m.substring(i - 1, i), 16)
  }

  private[ext] def nRowsI(id: Long): Int = 4 + nibI(id, 1) % 4
  private[ext] val RowsPerPageI = 2
  private[ext] def idValI(id: Long, k: Int): Long = id * 50 + (k * 13 + nibI(id, 2)) % 29
  private[ext] def titleNullPageI(id: Long, p: Int): Boolean = (id + p) % 5 == 0
  private[ext] def titleValI(id: Long, k: Int): String = words(nibI(id, 3 + k) % 8)

  private[ext] def renderPageIndexParquet(id: Long): Array[Byte] = {
    val n = nRowsI(id)
    val pages = (0 until n).grouped(RowsPerPageI).toSeq
    val out = new java.io.ByteArrayOutputStream()
    out.write("PAR1".getBytes("ISO-8859-1"))
    final case class ChunkW(typ: Int, path: String, offset: Long, size: Long,
      uncompressed: Long, locs: Seq[PageLoc], ci: ColIndex,
      var oiOff: Long = -1L, var oiLen: Int = -1, var ciOff: Long = -1L, var ciLen: Int = -1)
    def byteLt(a: Array[Byte], b: Array[Byte]): Boolean = {
      var i = 0
      while (i < a.length && i < b.length) {
        val d = (a(i) & 0xff) - (b(i) & 0xff)
        if (d != 0) return d < 0
        i += 1
      }
      a.length < b.length
    }
    // id chunk: REQUIRED INT64, one v1 PLAIN page per row pair
    val idChunk = {
      val off = out.size.toLong
      var uncomp = 0L
      val locs = Vector.newBuilder[PageLoc]
      val mins = Vector.newBuilder[Array[Byte]]
      val maxs = Vector.newBuilder[Array[Byte]]
      pages.foreach { ks =>
        val pOff = out.size.toLong
        val (page, pgUncomp) = dataPage(ks.length, 0,
          ks.flatMap(k => leI64(idValI(id, k))).toArray, snappy = false)
        out.write(page, 0, page.length)
        uncomp += pgUncomp
        locs += PageLoc(pOff, (out.size.toLong - pOff).toInt, ks.head.toLong)
        val vs = ks.map(k => idValI(id, k))
        mins += leI64(vs.min)
        maxs += leI64(vs.max)
      }
      ChunkW(2, "id", off, out.size.toLong - off, uncomp, locs.result(),
        ColIndex(pages.map(_ => false), mins.result(), maxs.result(), 0,
          Some(pages.map(_ => 0L))))
    }
    // title chunk: OPTIONAL BYTE_ARRAY with whole-null pages
    val titleChunk = {
      val off = out.size.toLong
      var uncomp = 0L
      val locs = Vector.newBuilder[PageLoc]
      val mins = Vector.newBuilder[Array[Byte]]
      val maxs = Vector.newBuilder[Array[Byte]]
      pages.zipWithIndex.foreach { case (ks, p) =>
        val pOff = out.size.toLong
        val isNull = titleNullPageI(id, p)
        val present = ks.map(_ => !isNull)
        val values = if (isNull) Array.emptyByteArray
          else ks.flatMap(k => plainString(titleValI(id, k))).toArray
        val body = defLevels(present) ++ values
        val (page, pgUncomp) = dataPage(ks.length, 0, body, snappy = false)
        out.write(page, 0, page.length)
        uncomp += pgUncomp
        locs += PageLoc(pOff, (out.size.toLong - pOff).toInt, ks.head.toLong)
        if (isNull) { mins += Array.emptyByteArray; maxs += Array.emptyByteArray }
        else {
          val vs = ks.map(k => titleValI(id, k).getBytes("UTF-8"))
          mins += vs.reduce((a, b) => if (byteLt(a, b)) a else b)
          maxs += vs.reduce((a, b) => if (byteLt(b, a)) a else b)
        }
      }
      ChunkW(6, "title", off, out.size.toLong - off, uncomp, locs.result(),
        ColIndex(pages.zipWithIndex.map { case (_, p) => titleNullPageI(id, p) },
          mins.result(), maxs.result(), 0,
          Some(pages.zipWithIndex.map { case (ks, p) =>
            if (titleNullPageI(id, p)) ks.length.toLong else 0L
          })))
    }
    val chunks = Seq(idChunk, titleChunk)
    // the index region: all ColumnIndexes then all OffsetIndexes (the
    // parquet-mr layout), between data and footer
    chunks.foreach { c =>
      val b = serializeColumnIndex(c.ci)
      c.ciOff = out.size.toLong; c.ciLen = b.length
      out.write(b, 0, b.length)
    }
    chunks.foreach { c =>
      val b = serializeOffsetIndex(c.locs)
      c.oiOff = out.size.toLong; c.oiLen = b.length
      out.write(b, 0, b.length)
    }
    val w = new TWriter
    w.i32(1, 1)
    w.listBegin(2, 3, 12)
    w.structElemBegin()
    w.str(4, "schema")
    w.i32(5, 2)
    w.structEnd()
    def prim(typ: Int, name: String, repetition: Int, converted: Option[Int]): Unit =
      writePrim(w, typ, name, repetition, converted)
    prim(2, "id", 0, None)
    prim(6, "title", 1, Some(0))
    w.i64(3, n.toLong)
    w.listBegin(4, 1, 12)
    w.structElemBegin() // the single RowGroup
    w.listBegin(1, chunks.length, 12)
    chunks.foreach { c =>
      w.structElemBegin()
      w.i64(2, c.offset)
      w.structBegin(3)
      w.i32(1, c.typ)
      w.listBegin(2, 2, 5)
      w.varint(0L << 1); w.varint(3L << 1)
      w.listBegin(3, 1, 8)
      val pb = c.path.getBytes("UTF-8")
      w.varint(pb.length.toLong); w.out.write(pb)
      w.i32(4, 0)
      w.i64(5, n.toLong)
      w.i64(6, c.uncompressed)
      w.i64(7, c.size)
      w.i64(9, c.offset)
      w.structEnd()
      w.i64(4, c.oiOff)
      w.i32(5, c.oiLen)
      w.i64(6, c.ciOff)
      w.i32(7, c.ciLen)
      w.structEnd()
    }
    w.i64(2, chunks.map(_.size).sum)
    w.i64(3, n.toLong)
    w.structEnd()
    w.str(6, "graft page-index parquet writer")
    w.out.write(0)
    finishFile(out, w.bytes)
  }

  /** Fixture writer: one page-indexed parquet file per document row. */
  def encodePageIndexParquet(docs: DataFrame, idCol: String = "doc_id"): DataFrame =
    Stage.render(docs, idCol, "pq")(renderPageIndexParquet)

  final case class ParquetPageIndexRow(
    doc_id: Long, col_idx: Long, path: String, page: Long, first_row: Long,
    null_page: Boolean, null_count: Long,
    i_min: Option[Long], i_max: Option[Long],
    s_min: Option[String], s_max: Option[String])

  /** Walk every chunk's OffsetIndex + ColumnIndex and CROSS-CHECK each
    * page location against the actual page header at that offset (the
    * location's compressed size includes the header) — a drifted index
    * is precisely the bug that silently skips live pages.
    */
  private[ext] def parsePageIndexParquet(id: Long, bytes: Array[Byte]): Seq[ParquetPageIndexRow] = {
    val f = parseFooter(Option(bytes).getOrElse(fail()))
    f.rowGroups.flatMap { rg =>
      rg.columns.zipWithIndex.flatMap { case (c, ci) =>
        if (c.offsetIndexOffset < 0 || c.columnIndexOffset < 0) fail() // fixture contract
        val locs = readOffsetIndex(bytes, c.offsetIndexOffset, c.offsetIndexLength)
        val colIdx = readColumnIndex(bytes, c.columnIndexOffset, c.columnIndexLength)
        if (colIdx.nullPages.length != locs.length) fail()
        if (locs.last.firstRow >= rg.numRows) fail()
        locs.foreach { l =>
          // the page header at the recorded offset must agree on size
          val r = new TReader(bytes, l.offset.toInt, bytes.length)
          r.structBegin()
          var comp = -1
          var m2 = true
          while (m2) r.field() match {
            case Some((3, 5)) => comp = r.zigzag().toInt
            case Some((_, t)) => r.skip(t)
            case None => m2 = false
          }
          r.structEnd()
          if (comp < 0) fail()
          val headerLen = r.pos - l.offset.toInt
          if (headerLen + comp != l.compressedSize) fail()
        }
        locs.indices.map { p =>
          val nullPage = colIdx.nullPages(p)
          val minB = colIdx.minValues(p)
          val maxB = colIdx.maxValues(p)
          if (nullPage && (minB.nonEmpty || maxB.nonEmpty)) fail() // null pages carry empty bounds
          if (!nullPage && (minB.isEmpty || maxB.isEmpty)) fail()
          val minD = if (nullPage) None else decodeStat(c.typ, minB)
          val maxD = if (nullPage) None else decodeStat(c.typ, maxB)
          def iOf(v: Option[Any]) = v.collect { case x: Long => x }
          def sOf(v: Option[Any]) = v.collect { case x: String => x }
          ParquetPageIndexRow(id, ci.toLong, c.path, p.toLong, locs(p).firstRow,
            nullPage, colIdx.nullCounts.map(_(p)).getOrElse(-1L),
            iOf(minD), iOf(maxD), sOf(minD), sOf(maxD))
        }
      }
    }
  }

  private[ext] def parsePageIndexParquetSafe(id: Long, bytes: Array[Byte]): Seq[ParquetPageIndexRow] =
    try parsePageIndexParquet(id, bytes)
    catch { case scala.util.control.NonFatal(_) => Seq.empty }

  /** `parquet_page_index`: the per-page pruning metadata of every file,
    * cross-checked against the pages it indexes. Map-only.
    */
  def parquetPageIndex(docs: DataFrame, idCol: String = "doc_id",
                       binCol: String = "pq"): Dataset[ParquetPageIndexRow] = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs
      .filter(col(idCol).isNotNull)
      .select(col(idCol).cast("long"), col(binCol))
      .as[(Long, Array[Byte])]
      .flatMap { case (id, b) => if (b == null) Nil else parsePageIndexParquetSafe(id, b) }
  }

  // =================== Delta checkpoint parquet (for DeltaLog) ===================
  // The classic `NNN.checkpoint.parquet` row shape: one row per action,
  // each action an optional GROUP (protocol / metaData / add / remove),
  // `add.partitionValues` the standard parquet MAP (repeated key_value
  // group) — the real nested-schema consumer of the generalized level
  // path above. Written and read here because this object owns the
  // thrift/page machinery; [[DeltaLog]] composes the snapshot semantics.

  private[ext] sealed trait CkptAction
  private[ext] final case class CkptProtocol(minReader: Long) extends CkptAction
  private[ext] final case class CkptMeta(tableId: String) extends CkptAction
  private[ext] final case class CkptAdd(path: String, lang: String, size: Long) extends CkptAction
  private[ext] final case class CkptRemove(path: String) extends CkptAction

  private[ext] def renderDeltaCheckpoint(actions: Seq[CkptAction]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    out.write("PAR1".getBytes("ISO-8859-1"))
    // leaf streams, one row per action: (def, rep, value)
    final case class LeafSpec(typ: Int, pathParts: Seq[String], maxDef: Int, maxRep: Int,
      entries: CkptAction => Seq[(Int, Int, Option[Array[Byte]])])
    def absent: Seq[(Int, Int, Option[Array[Byte]])] = Seq((0, 0, None))
    val leafSpecs = Seq(
      LeafSpec(1, Seq("protocol", "minReaderVersion"), 2, 0, {
        case CkptProtocol(v) => Seq((2, 0, Some(leI32(v.toInt))))
        case _ => absent
      }),
      LeafSpec(6, Seq("metaData", "id"), 2, 0, {
        case CkptMeta(tid) => Seq((2, 0, Some(plainString(tid))))
        case _ => absent
      }),
      LeafSpec(6, Seq("add", "path"), 2, 0, {
        case CkptAdd(p, _, _) => Seq((2, 0, Some(plainString(p))))
        case _ => absent
      }),
      LeafSpec(6, Seq("add", "partitionValues", "key_value", "key"), 3, 1, {
        case CkptAdd(_, _, _) => Seq((3, 0, Some(plainString("lang"))))
        case _ => absent
      }),
      LeafSpec(6, Seq("add", "partitionValues", "key_value", "value"), 4, 1, {
        case CkptAdd(_, lang, _) => Seq((4, 0, Some(plainString(lang))))
        case _ => absent
      }),
      LeafSpec(2, Seq("add", "size"), 2, 0, {
        case CkptAdd(_, _, sz) => Seq((2, 0, Some(leI64(sz))))
        case _ => absent
      }),
      LeafSpec(6, Seq("remove", "path"), 2, 0, {
        case CkptRemove(p) => Seq((2, 0, Some(plainString(p))))
        case _ => absent
      }))
    final case class Chunk(typ: Int, pathParts: Seq[String], numValues: Long,
      offset: Long, size: Long, uncompressed: Long)
    val chunks = leafSpecs.map { spec =>
      val es = actions.flatMap(spec.entries)
      val defs = es.map(_._1)
      val reps = es.map(_._2)
      val values = es.flatMap(_._3).flatten.toArray
      val defW = 32 - Integer.numberOfLeadingZeros(spec.maxDef)
      val repW = if (spec.maxRep == 0) 0 else 32 - Integer.numberOfLeadingZeros(spec.maxRep)
      val off = out.size.toLong
      val body =
        (if (spec.maxRep > 0) levelBytesV1(reps, repW) else Array.emptyByteArray) ++
        levelBytesV1(defs, defW) ++ values
      val (page, pgUncomp) = dataPage(es.length, 0, body, snappy = false) // PLAIN
      out.write(page, 0, page.length)
      Chunk(spec.typ, spec.pathParts, es.length.toLong, off, out.size.toLong - off, pgUncomp)
    }
    val w = new TWriter
    w.i32(1, 1) // version
    w.listBegin(2, 14, 12)
    w.structElemBegin() // root
    w.str(4, "schema")
    w.i32(5, 4)
    w.structEnd()
    def prim(typ: Int, name: String, repetition: Int, converted: Option[Int]): Unit =
      writePrim(w, typ, name, repetition, converted)
    def group(name: String, repetition: Int, children: Int): Unit =
      writeGroup(w, name, repetition, children)
    group("protocol", 1, 1)
    prim(1, "minReaderVersion", 1, None)
    group("metaData", 1, 1)
    prim(6, "id", 1, Some(0))
    group("add", 1, 3)
    prim(6, "path", 1, Some(0))
    group("partitionValues", 1, 1)
    group("key_value", 2, 2)
    prim(6, "key", 0, Some(0))
    prim(6, "value", 1, Some(0))
    prim(2, "size", 1, None)
    group("remove", 1, 1)
    prim(6, "path", 1, Some(0))
    w.i64(3, actions.length.toLong) // num_rows
    w.listBegin(4, 1, 12)
    w.structElemBegin() // the single RowGroup
    w.listBegin(1, chunks.length, 12)
    chunks.foreach { c =>
      w.structElemBegin() // ColumnChunk
      w.i64(2, c.offset)
      w.structBegin(3) // ColumnMetaData
      w.i32(1, c.typ)
      w.listBegin(2, 2, 5)
      w.varint(0L << 1); w.varint(3L << 1) // PLAIN, RLE
      w.listBegin(3, c.pathParts.length, 8)
      c.pathParts.foreach { part =>
        val pb = part.getBytes("UTF-8")
        w.varint(pb.length.toLong); w.out.write(pb)
      }
      w.i32(4, 0) // UNCOMPRESSED
      w.i64(5, c.numValues)
      w.i64(6, c.uncompressed)
      w.i64(7, c.size)
      w.i64(9, c.offset)
      w.structEnd()
      w.structEnd()
    }
    w.i64(2, chunks.map(_.size).sum)
    w.i64(3, actions.length.toLong)
    w.structEnd()
    w.str(6, "graft delta checkpoint writer")
    w.out.write(0)
    finishFile(out, w.bytes)
  }

  // ==================== split-block bloom filters (SBBF) ====================
  // The parquet BloomFilter spec (BloomFilter.md): per column chunk, a
  // BloomFilterHeader (thrift) + a bitset of 32-byte BLOCKS (8 x u32
  // words), XXH64(seed 0) over the value's plain byte representation,
  // block chosen by the TOP 32 hash bits scaled to the block count, and
  // one bit per word selected by the published 8 odd SALT constants —
  // the structure row-group pruning uses for point predicates on
  // NON-sorted columns at 100 TB, where min/max stats prune nothing.

  private val BloomSalt: Array[Long] = Array(
    0x47b6137bL, 0x44974d91L, 0x8824ad5bL, 0xa2b7289dL,
    0x705495c7L, 0x2df1424bL, 0x9efc4947L, 0x5c6bfb31L)

  /** The (blockIndex, 8 bit positions) of one hash in an SBBF of
    * `numBlocks` blocks.
    */
  private def bloomSlots(h: Long, numBlocks: Int): (Int, Array[Int]) = {
    val block = (((h >>> 32) * numBlocks.toLong) >>> 32).toInt
    val x = h & 0xffffffffL
    (block, Array.tabulate(8)(i => (((x * BloomSalt(i)) & 0xffffffffL) >>> 27).toInt))
  }

  private[ext] def bloomInsert(words: Array[Int], numBlocks: Int, h: Long): Unit = {
    val (block, bits) = bloomSlots(h, numBlocks)
    var i = 0
    while (i < 8) { words(block * 8 + i) |= 1 << bits(i); i += 1 }
  }

  private[ext] def bloomContains(words: Array[Int], numBlocks: Int, h: Long): Boolean = {
    val (block, bits) = bloomSlots(h, numBlocks)
    (0 until 8).forall(i => (words(block * 8 + i) & (1 << bits(i))) != 0)
  }

  /** XXH64(seed 0) over a value's plain byte representation — raw UTF-8
    * bytes for BYTE_ARRAY, little-endian fixed width for numerics (the
    * parquet-mr convention, differentialed against Spark-written blooms
    * in ParquetFileSpec).
    */
  private[ext] def bloomHashBytes(b: Array[Byte]): Long = Zstd.xxh64(b, 0L)
  private[ext] def bloomHashLong(v: Long): Long = Zstd.xxh64(leI64(v), 0L)

  /** Serialize header + bitset. */
  private[ext] def renderBloom(words: Array[Int]): Array[Byte] = {
    val w = new TWriter
    w.i32(1, words.length * 4) // numBytes
    w.structBegin(2); w.structBegin(1); w.structEnd(); w.structEnd() // SplitBlockAlgorithm
    w.structBegin(3); w.structBegin(1); w.structEnd(); w.structEnd() // XxHash
    w.structBegin(4); w.structBegin(1); w.structEnd(); w.structEnd() // Uncompressed
    w.out.write(0) // end BloomFilterHeader
    words.foreach { word =>
      w.out.write(word & 0xff); w.out.write((word >> 8) & 0xff)
      w.out.write((word >> 16) & 0xff); w.out.write((word >>> 24) & 0xff)
    }
    w.bytes
  }

  /** Read one chunk's bloom filter: (numBytes, words). None when the
    * chunk carries none or a union arm outside SBBF/XXH64/UNCOMPRESSED;
    * structural damage fails.
    */
  private[ext] def readBloom(bytes: Array[Byte], chunk: PqColumn): Option[(Int, Array[Int])] = {
    if (chunk.bloomOffset < 0) return None
    if (chunk.bloomOffset > bytes.length) fail()
    val r = new TReader(bytes, chunk.bloomOffset.toInt, bytes.length)
    r.structBegin()
    var numBytes = -1
    var algOk = false; var hashOk = false; var compOk = false
    var more = true
    while (more) r.field() match {
      case Some((1, 5)) => numBytes = r.zigzag().toInt
      case Some((fid, 12)) if fid >= 2 && fid <= 4 =>
        // a thrift UNION: exactly one field, whose id names the arm
        r.structBegin()
        var armId = -1
        var m2 = true
        while (m2) r.field() match {
          case Some((aid, t)) =>
            if (armId != -1) fail() // a union with two arms is damage
            armId = aid
            r.skip(t)
          case None => m2 = false
        }
        r.structEnd()
        if (armId == 1) fid match {
          case 2 => algOk = true
          case 3 => hashOk = true
          case 4 => compOk = true
        }
      case Some((_, t)) => r.skip(t)
      case None => more = false
    }
    r.structEnd()
    if (numBytes <= 0 || numBytes % 32 != 0) fail()
    if (!algOk || !hashOk || !compOk) return None // foreign arms: no bloom view
    if (numBytes > bytes.length - r.pos) fail()
    val words = new Array[Int](numBytes / 4)
    var i = 0
    while (i < words.length) {
      val p = r.pos + 4 * i
      words(i) = (bytes(p) & 0xff) | ((bytes(p + 1) & 0xff) << 8) |
        ((bytes(p + 2) & 0xff) << 16) | ((bytes(p + 3) & 0xff) << 24)
      i += 1
    }
    Some((numBytes, words))
  }

  // ---- bloom fixture: flat (id INT64, title UTF8), one SBBF per chunk

  private def nibB(id: Long, i: Int): Int = {
    val m = md5Hex(s"pqb:$id")
    Integer.parseInt(m.substring(i - 1, i), 16)
  }

  private[ext] def nRowsB(id: Long): Int = 3 + nibB(id, 1) % 4
  private[ext] def idValB(id: Long, k: Int): Long = id * 1000 + 7L * k
  private[ext] def titleValB(id: Long, k: Int): String =
    s"${words(nibB(id, 2 + k) % 8)}-${(id + k) % 10}"
  private[ext] val BloomBytesB = 256 // 8 blocks — FPP far below fixture scale

  private[ext] def renderBloomParquet(id: Long): Array[Byte] = {
    val n = nRowsB(id)
    val groups = (0 until n).grouped(RowsPerGroup).toSeq
    val out = new java.io.ByteArrayOutputStream()
    out.write("PAR1".getBytes("ISO-8859-1"))
    final case class Chunk(typ: Int, path: String, numValues: Long,
      offset: Long, size: Long, uncompressed: Long, bloomOffset: Long, bloomLength: Int)
    val rowGroups = groups.map { ks =>
      val cols = Seq(
        (2, "id", ks.map(k => leI64(idValB(id, k))),
          ks.map(k => bloomHashLong(idValB(id, k)))),
        (6, "title", ks.map(k => plainString(titleValB(id, k))),
          ks.map(k => bloomHashBytes(titleValB(id, k).getBytes("UTF-8")))))
      cols.map { case (typ, path, values, hashes) =>
        val off = out.size.toLong
        val (page, pgUncomp) = dataPage(ks.length, 0, values.flatten.toArray, snappy = false)
        out.write(page, 0, page.length)
        val size = out.size.toLong - off
        val words = new Array[Int](BloomBytesB / 4)
        hashes.foreach(h => bloomInsert(words, BloomBytesB / 32, h))
        val bloom = renderBloom(words)
        val bloomOff = out.size.toLong
        out.write(bloom, 0, bloom.length)
        Chunk(typ, path, ks.length.toLong, off, size, pgUncomp, bloomOff, bloom.length)
      }
    }
    val w = new TWriter
    w.i32(1, 1)
    w.listBegin(2, 3, 12)
    w.structElemBegin() // root
    w.str(4, "schema")
    w.i32(5, 2)
    w.structEnd()
    def prim(typ: Int, name: String, converted: Option[Int]): Unit =
      writePrim(w, typ, name, 0, converted) // REQUIRED
    prim(2, "id", None)
    prim(6, "title", Some(0))
    w.i64(3, n.toLong)
    w.listBegin(4, rowGroups.length, 12)
    rowGroups.zipWithIndex.foreach { case (chunks, g) =>
      w.structElemBegin()
      w.listBegin(1, chunks.length, 12)
      chunks.foreach { c =>
        w.structElemBegin()
        w.i64(2, c.offset)
        w.structBegin(3)
        w.i32(1, c.typ)
        w.listBegin(2, 2, 5)
        w.varint(0L << 1); w.varint(3L << 1)
        w.listBegin(3, 1, 8)
        val pb = c.path.getBytes("UTF-8")
        w.varint(pb.length.toLong); w.out.write(pb)
        w.i32(4, 0) // UNCOMPRESSED
        w.i64(5, c.numValues)
        w.i64(6, c.uncompressed)
        w.i64(7, c.size)
        w.i64(9, c.offset)
        w.i64(14, c.bloomOffset)
        w.i32(15, c.bloomLength)
        w.structEnd()
        w.structEnd()
      }
      w.i64(2, chunks.map(_.size).sum)
      w.i64(3, groups(g).length.toLong)
      w.structEnd()
    }
    w.str(6, "graft bloom parquet writer")
    w.out.write(0)
    finishFile(out, w.bytes)
  }

  /** Fixture writer: one bloom-carrying parquet file per document row. */
  def encodeBloomParquet(docs: DataFrame, idCol: String = "doc_id"): DataFrame =
    Stage.render(docs, idCol, "pq")(renderBloomParquet)

  final case class ParquetBloomStat(
    doc_id: Long, row_group: Long, col_idx: Long, path: String,
    bloom_bytes: Long, n_planted: Long, planted_hits: Long)

  /** Probe every chunk's bloom with the fixture's closed-form values:
    * a misread header, bitset, block routing, or hash convention loses
    * hits and fails the oracle's planted_hits == n_planted row.
    */
  private[ext] def parseBloomParquet(id: Long, bytes: Array[Byte]): Seq[ParquetBloomStat] = {
    val f = parseFooter(Option(bytes).getOrElse(fail()))
    if (f.rowGroups.map(_.numRows).sum != f.numRows) fail()
    var rowBase = 0
    f.rowGroups.zipWithIndex.flatMap { case (rg, g) =>
      val ks = rowBase until (rowBase + rg.numRows.toInt)
      rowBase += rg.numRows.toInt
      rg.columns.zipWithIndex.map { case (c, ci) =>
        val (numBytes, words) = readBloom(bytes, c).getOrElse(fail()) // fixture contract
        val numBlocks = numBytes / 32
        val hits = ks.count { k =>
          val h = c.path match {
            case "id" => bloomHashLong(idValB(id, k))
            case "title" => bloomHashBytes(titleValB(id, k).getBytes("UTF-8"))
            case _ => fail()
          }
          bloomContains(words, numBlocks, h)
        }
        ParquetBloomStat(id, g.toLong, ci.toLong, c.path,
          numBytes.toLong, ks.length.toLong, hits.toLong)
      }
    }
  }

  private[ext] def parseBloomParquetSafe(id: Long, bytes: Array[Byte]): Seq[ParquetBloomStat] =
    try parseBloomParquet(id, bytes)
    catch { case scala.util.control.NonFatal(_) => Seq.empty }

  /** `parquet_bloom`: SBBF membership of every chunk's planted values.
    * Map-only — at 100 TB the bloom read is a tiny range read beside
    * the footer, the point of the structure.
    */
  def parquetBloom(docs: DataFrame, idCol: String = "doc_id",
                   binCol: String = "pq"): Dataset[ParquetBloomStat] = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs
      .filter(col(idCol).isNotNull)
      .select(col(idCol).cast("long"), col(binCol))
      .as[(Long, Array[Byte])]
      .flatMap { case (id, b) => if (b == null) Nil else parseBloomParquetSafe(id, b) }
  }

  /** Decode + reassemble a classic Delta checkpoint parquet into its
    * action rows; strict — structural damage or a row that is not
    * exactly one action kind quarantines (the caller's `fail()`).
    */
  private[ext] def parseDeltaCheckpoint(bytes: Array[Byte]): Seq[CkptAction] = {
    val f = parseFooter(Option(bytes).getOrElse(fail()))
    val expected = Seq("protocol.minReaderVersion", "metaData.id", "add.path",
      "add.partitionValues.key_value.key", "add.partitionValues.key_value.value",
      "add.size", "remove.path")
    if (f.schema.length != expected.length) fail()
    if (f.rowGroups.map(_.numRows).sum != f.numRows) fail()
    val out = Vector.newBuilder[CkptAction]
    f.rowGroups.foreach { rg =>
      if (rg.columns.length != expected.length) fail()
      val recs = rg.columns.zipWithIndex.map { case (c, ci) =>
        if (c.path != expected(ci)) fail()
        val leaf = f.schema(ci)
        recordsOf(leaf.maxDef, decodeChunkLevels(bytes, c, leaf.maxDef, leaf.maxRep)
          .getOrElse(fail()))
      }
      val m = rg.numRows.toInt
      if (recs.exists(_.length != m)) fail()
      val (prot, meta, apath, pkey, pval, asize, rpath) =
        (recs(0), recs(1), recs(2), recs(3), recs(4), recs(5), recs(6))
      var i = 0
      while (i < m) {
        val protP = prot(i).head._1 >= 1
        val metaP = meta(i).head._1 >= 1
        val addP = apath(i).head._1 >= 1
        val remP = rpath(i).head._1 >= 1
        if (Seq(protP, metaP, addP, remP).count(identity) != 1) fail()
        if (protP) {
          val v = prot(i).head._2.getOrElse(fail()).asInstanceOf[Long]
          out += CkptProtocol(v)
        } else if (metaP) {
          out += CkptMeta(meta(i).head._2.getOrElse(fail()).asInstanceOf[String])
        } else if (addP) {
          val p = apath(i).head._2.getOrElse(fail()).asInstanceOf[String]
          val sz = asize(i).head._2.getOrElse(fail()).asInstanceOf[Long]
          // the partitionValues MAP: keys at maxDef when entries exist,
          // one def=2 entry when the map is empty; key/value streams ride
          // the same repeated group, so their shapes must agree
          if (pkey(i).length != pval(i).length) fail()
          val lang =
            if (pkey(i).length == 1 && pkey(i).head._1 < 3) "" // empty map
            else {
              val kvs = pkey(i).zip(pval(i)).map { case ((kd, kv), (vd, vv)) =>
                if (kd != 3 || kv.isEmpty || vd < 3 || (vd == 4) != vv.nonEmpty) fail()
                kv.get.asInstanceOf[String] -> vv.map(_.asInstanceOf[String])
              }
              kvs.collectFirst { case ("lang", v) => v.getOrElse("") }.getOrElse("")
            }
          out += CkptAdd(p, lang, sz)
        } else {
          out += CkptRemove(rpath(i).head._2.getOrElse(fail()).asInstanceOf[String])
        }
        i += 1
      }
    }
    out.result()
  }
}

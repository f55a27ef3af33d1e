package graft.ext

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** LevelDB/RocksDB SSTable ingestion, from scratch — embedded KV
  * stores are everywhere in crawled data (browser profiles, app state,
  * blockchain nodes), and their on-disk unit is the block-based table
  * file. Implemented per the published LevelDB `doc/table_format.md`
  * and the block format in `table/block_builder.cc` commentary:
  *
  *  - footer: metaindex + index BlockHandles (varint64 offset/size
  *    pairs), zero-padded to 40 bytes, then the 8-byte little-endian
  *    magic `0xdb4775248b80fb57` — wrong magic or non-zero padding is
  *    damage;
  *  - every block carries a 5-byte trailer: 1-byte compression type
  *    (0 none, 1 snappy — decoded through the repo's own
  *    [[graft.ext.Snappy]] coder) + 4-byte MASKED crc32c over
  *    block-data+type (mask = rotr15 + 0xa282ead8), VERIFIED;
  *  - block body: prefix-compressed entries (varint32 shared /
  *    unshared / value_len, key delta, value) with a fixed32 restart
  *    array + count at the end — restart offsets must be in-range and
  *    ascending, restart entries must have shared == 0, and the first
  *    entry must restart;
  *  - keys are INTERNAL keys: user_key + 8-byte little-endian
  *    `(sequence << 8) | type` with type 1 = value, 0 = deletion
  *    (both surfaced — a table scan that drops tombstones corrupts
  *    compaction semantics); user keys must ascend strictly;
  *  - the index block maps separator keys to data-block handles;
  *    handles must land in-bounds and in file order.
  *
  * Scale shape: map-only per table file, zero shuffles.
  */
object Sst {

  private def md5Hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString

  private val words = Array("anchor", "bloom", "cedar", "dune", "ember", "flint", "grove", "harbor")

  private def nib(id: Long, i: Int): Int = {
    val m = md5Hex(s"sst:$id")
    Integer.parseInt(m.substring(i - 1, i), 16)
  }

  // ------------------------------------------------------------- fixture

  private[ext] def nKeysOf(id: Long): Int = 6 + nib(id, 1) % 6
  private[ext] def userKeyOf(id: Long, k: Int): String = f"key:$id:$k%03d"
  private[ext] def seqOf(id: Long, k: Int): Long = 1000L + id * 50 + k
  private[ext] def isDel(k: Int): Boolean = k % 5 == 0
  private[ext] def valueOf(id: Long, k: Int): String =
    if (isDel(k)) "" else s"val ${words(nib(id, 2 + k % 12) % 8)} $k"
  private val KeysPerBlock = 3
  private val RestartInterval = 4 // > KeysPerBlock would hide restarts; the
  // index block (one entry per data block, often > 4) exercises them

  private def utf8(s: String): Array[Byte] = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)

  private final class W {
    val out = new java.io.ByteArrayOutputStream()
    def varint(v: Long): Unit = Bits.writeUvarint(out, v)
    def fixed32(v: Long): Unit =
      (0 until 4).foreach(i => out.write(((v >>> (8 * i)) & 0xff).toInt))
    def fixed64(v: Long): Unit =
      (0 until 8).foreach(i => out.write(((v >>> (8 * i)) & 0xff).toInt))
    def raw(b: Array[Byte]): Unit = out.write(b, 0, b.length)
  }

  private[ext] def internalKey(userKey: Array[Byte], seq: Long, typ: Int): Array[Byte] = {
    val w = new W
    w.raw(userKey)
    w.fixed64((seq << 8) | typ)
    w.out.toByteArray
  }

  /** Build one block body (entries + restart array). */
  private def blockBody(entries: Seq[(Array[Byte], Array[Byte])]): Array[Byte] = {
    val w = new W
    val restarts = scala.collection.mutable.ArrayBuffer.empty[Int]
    var prev: Array[Byte] = Array.emptyByteArray
    entries.zipWithIndex.foreach { case ((k, v), i) =>
      val restart = i % RestartInterval == 0
      if (restart) restarts += w.out.size()
      val shared =
        if (restart) 0
        else {
          var s = 0
          val n = math.min(prev.length, k.length)
          while (s < n && prev(s) == k(s)) s += 1
          s
        }
      w.varint(shared)
      w.varint(k.length - shared)
      w.varint(v.length)
      w.raw(java.util.Arrays.copyOfRange(k, shared, k.length))
      w.raw(v)
      prev = k
    }
    if (entries.isEmpty) restarts += 0
    restarts.foreach(r => w.fixed32(r.toLong))
    w.fixed32(restarts.length.toLong)
    w.out.toByteArray
  }

  /** Masked crc32c over `data(from until until)` then the type byte.
    * TFRecord and LevelDB share the identical masking scheme (rotr15 +
    * 0xa282ead8), so this applies [[graft.ext.TfRecord]]'s mask instead
    * of duplicating the formula.
    */
  private def maskedCrc(data: Array[Byte], from: Int, until: Int, typ: Byte): Long = {
    val c = new java.util.zip.CRC32C
    c.update(data, from, until - from)
    c.update(typ)
    TfRecord.mask(c.getValue.toInt) & 0xffffffffL
  }

  /** Emit a block (with optional snappy) + trailer; returns its handle. */
  private def writeBlock(out: W, body: Array[Byte], snappy: Boolean): (Long, Long) = {
    val (data, typ) =
      if (snappy) (Snappy.compress(body), 1.toByte)
      else (body, 0.toByte)
    val off = out.out.size().toLong
    out.raw(data)
    out.out.write(typ.toInt)
    out.fixed32(maskedCrc(data, 0, data.length, typ))
    (off, data.length.toLong)
  }

  private def handleBytes(off: Long, size: Long): Array[Byte] = {
    val w = new W
    w.varint(off)
    w.varint(size)
    w.out.toByteArray
  }

  private[ext] def renderSst(id: Long): Array[Byte] = {
    val n = nKeysOf(id)
    val all = (0 until n).map { k =>
      (internalKey(utf8(userKeyOf(id, k)), seqOf(id, k), if (isDel(k)) 0 else 1),
        utf8(valueOf(id, k)))
    }
    val out = new W
    val blocks = all.grouped(KeysPerBlock).toSeq
    val handles = blocks.zipWithIndex.map { case (es, b) =>
      writeBlock(out, blockBody(es), snappy = (id + b) % 2 == 1)
    }
    // metaindex: an empty block
    val metaHandle = writeBlock(out, blockBody(Nil), snappy = false)
    // index block: separator key per data block (the block's own last
    // key — a valid separator; LevelDB only shortens when it can)
    val indexEntries = blocks.zip(handles).map { case (es, (off, sz)) =>
      (es.last._1, handleBytes(off, sz))
    }
    val indexHandle = writeBlock(out, blockBody(indexEntries), snappy = false)
    // footer: 40 bytes of handles + zero pad, then the magic
    val f = new W
    f.raw(handleBytes(metaHandle._1, metaHandle._2))
    f.raw(handleBytes(indexHandle._1, indexHandle._2))
    while (f.out.size() < 40) f.out.write(0)
    f.fixed64(0xdb4775248b80fb57L)
    out.raw(f.out.toByteArray)
    out.out.toByteArray
  }

  /** Fixture writer: one SSTable per document row. */
  def encodeSst(docs: DataFrame, idCol: String = "doc_id"): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs
      .filter(col(idCol).isNotNull && col(idCol) >= 0)
      .select(col(idCol).cast("long"))
      // staging exchange (optimization guide §2.5): the per-doc kernel must
      // not inherit the scan's split count — one round-robin exchange of the
      // narrow pre-kernel rows spreads it across every core
      .repartition(docs.sparkSession.sparkContext.defaultParallelism)
      .as[Long]
      .map(id => (id, renderSst(id)))
      .toDF("doc_id", "sst")
  }

  // --------------------------------------------------------------- reader

  private final class MalformedSst
      extends RuntimeException("malformed sst", null, false, false)
  private def fail(): Nothing = throw new MalformedSst

  private val MaxLen = 1 << 26

  /** A reader over `b(from until until)`: varint32 and varint64 fields
    * alike are read with the 64-bit 10-byte bound.
    */
  private final class Reader(b: Array[Byte], from: Int, until: Int)
      extends Bits.Cursor(b, from, until) {
    def fail(): Nothing = Sst.fail()
    def varint(): Long = uvarint(10)
  }

  private def fixed32At(b: Array[Byte], p: Int): Long =
    (b(p) & 0xffL) | ((b(p + 1) & 0xffL) << 8) | ((b(p + 2) & 0xffL) << 16) |
      ((b(p + 3) & 0xffL) << 24)

  private def fixed64At(b: Array[Byte], p: Int): Long = {
    var v = 0L
    var i = 7
    while (i >= 0) { v = (v << 8) | (b(p + i) & 0xffL); i -= 1 }
    v
  }

  /** Read a block via its handle: verify the masked crc32c, decompress. */
  private def readBlock(b: Array[Byte], off: Long, size: Long): Array[Byte] = {
    // each term capped before the sum (the Orc stripe-bounds convention) —
    // a near-Long.MAX offset must not wrap the check
    if (off < 0 || size < 0 || off > b.length || size > MaxLen ||
      off + size + 5 > b.length) fail()
    val o = off.toInt
    val n = size.toInt
    val typ = b(o + n)
    val stored = fixed32At(b, o + n + 1)
    if (maskedCrc(b, o, o + n, typ) != stored) fail()
    val data = java.util.Arrays.copyOfRange(b, o, o + n)
    typ match {
      case 0 => data
      case 1 => Snappy.decompress(data, MaxLen)
      case _ => fail()
    }
  }

  /** Walk a block's prefix-compressed entries. */
  private[ext] def blockEntries(body: Array[Byte]): Seq[(Array[Byte], Array[Byte])] = {
    if (body.length < 8) fail()
    val nRestarts = fixed32At(body, body.length - 4)
    if (nRestarts < 1 || nRestarts > (body.length - 4) / 4) fail()
    val restartsStart = body.length - 4 - 4 * nRestarts.toInt
    val restarts = (0 until nRestarts.toInt).map(i => fixed32At(body, restartsStart + 4 * i))
    restarts.sliding(2).foreach { w => if (w.length == 2 && w(0) >= w(1)) fail() }
    // every offset in range; the first entry must restart
    restarts.foreach(r => if (r > 0 && r >= restartsStart) fail())
    if (restarts.head != 0 && restartsStart > 0) fail()
    val restartSet = restarts.map(_.toInt).toSet
    val out = Vector.newBuilder[(Array[Byte], Array[Byte])]
    val r = new Reader(body, 0, restartsStart)
    var prev = Array.emptyByteArray: Array[Byte]
    while (r.pos < restartsStart) {
      val entryStart = r.pos
      val shared = r.varint()
      val unshared = r.varint()
      val vlen = r.varint()
      val p3 = r.pos
      // each term capped before the sum: two 2^62 varints would wrap
      // `p3 + unshared + vlen` past Long.MAX and truncate to bogus Ints
      if (shared < 0 || unshared < 0 || vlen < 0 ||
        shared > MaxLen || unshared > MaxLen || vlen > MaxLen) fail()
      if (shared > prev.length) fail()
      if (restartSet.contains(entryStart) && shared != 0) fail() // restart entries restart
      if (p3 + unshared + vlen > restartsStart) fail()
      val key = new Array[Byte](shared.toInt + unshared.toInt)
      System.arraycopy(prev, 0, key, 0, shared.toInt)
      System.arraycopy(body, p3, key, shared.toInt, unshared.toInt)
      val value = java.util.Arrays.copyOfRange(body, p3 + unshared.toInt,
        p3 + unshared.toInt + vlen.toInt)
      out += ((key, value))
      prev = key
      r.pos = p3 + unshared.toInt + vlen.toInt
    }
    if (r.pos != restartsStart) fail()
    out.result()
  }

  final case class SstRec(
    doc_id: Long, block_idx: Long, entry_idx: Long, user_key: String,
    seq: Long, kind: String, compressed: Boolean, value: String)

  private def byteCompare(a: Array[Byte], b: Array[Byte]): Int = {
    var i = 0
    val n = math.min(a.length, b.length)
    while (i < n) {
      val d = (a(i) & 0xff) - (b(i) & 0xff)
      if (d != 0) return d
      i += 1
    }
    a.length - b.length
  }

  private[ext] def parseSst(id: Long, b: Array[Byte]): Seq[SstRec] = {
    if (b == null || b.length < 48 || b.length > MaxLen) fail()
    if (fixed64At(b, b.length - 8) != 0xdb4775248b80fb57L) fail()
    val footer = b.length - 48
    val f = new Reader(b, footer, footer + 40)
    val mOff = f.varint()
    val mSz = f.varint()
    val iOff = f.varint()
    val iSz = f.varint()
    (f.pos until footer + 40).foreach(i => if (b(i) != 0) fail()) // zero padding
    readBlock(b, mOff, mSz) // metaindex: crc-verified even when unused
    val index = blockEntries(readBlock(b, iOff, iSz))
    if (index.isEmpty) fail()
    val out = Vector.newBuilder[SstRec]
    var prevUser: Array[Byte] = null
    var prevEnd = -1L
    index.zipWithIndex.foreach { case ((_, hv), bi) =>
      val h = new Reader(hv, 0, hv.length)
      val off = h.varint()
      val sz = h.varint()
      if (h.pos != hv.length) fail()
      if (off <= prevEnd) fail() // blocks in file order, no overlap
      prevEnd = off + sz + 4
      // bounds before the type-byte peek (readBlock re-checks); each term
      // capped before the sum so a near-Long.MAX offset can't wrap
      if (off < 0 || sz < 0 || off > b.length || sz > MaxLen ||
        off + sz + 5 > b.length) fail()
      val snappy = (b(off.toInt + sz.toInt) & 0xff) == 1
      blockEntries(readBlock(b, off, sz)).zipWithIndex.foreach { case ((ik, v), ei) =>
        if (ik.length < 8) fail()
        val user = java.util.Arrays.copyOfRange(ik, 0, ik.length - 8)
        val tail = fixed64At(ik, ik.length - 8)
        val seq = tail >>> 8
        val typ = (tail & 0xff).toInt
        val kind = typ match { case 1 => "put"; case 0 => "del"; case _ => fail() }
        if (typ == 0 && v.nonEmpty) fail() // tombstones carry no value
        if (prevUser != null && byteCompare(prevUser, user) >= 0) fail() // strict user-key order
        prevUser = user
        out += SstRec(id, bi.toLong, ei.toLong,
          new String(user, java.nio.charset.StandardCharsets.UTF_8), seq, kind,
          snappy, new String(v, java.nio.charset.StandardCharsets.UTF_8))
      }
    }
    out.result()
  }

  private[ext] def parseSstSafe(id: Long, b: Array[Byte]): Seq[SstRec] =
    try parseSst(id, b)
    catch { case scala.util.control.NonFatal(_) => Seq.empty }

  /** `sst_entries`: the table-file inventory, tombstones included.
    * Map-only.
    */
  def sstEntries(docs: DataFrame, idCol: String = "doc_id",
                 binCol: String = "sst"): Dataset[SstRec] = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs
      .filter(col(idCol).isNotNull)
      .select(col(idCol).cast("long"), col(binCol))
      .as[(Long, Array[Byte])]
      .flatMap { case (id, b) => if (b == null) Nil else parseSstSafe(id, b) }
  }
}
